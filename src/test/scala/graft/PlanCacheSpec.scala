package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.search.Searcher

/** Compiled-plan cache: a Searcher is pinned to one immutable snapshot, so
  * repeated queries must return the SAME Dataset instance (plan reuse — no
  * re-analysis, no repeated stats job) while distinct shapes stay distinct,
  * results stay correct across repeats, and concurrent clients race safely.
  */
class PlanCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val idxDir = {
    val docs = (0 until 500).map { i =>
      val extra = if (i % 5 == 0) " merge partition" else " sort"
      (i.toLong, s"alpha tok${i % 7}$extra", i.toLong * 3)
    }.toDF("doc_id", "text", "d")
    val dir = java.nio.file.Files.createTempDirectory("plancache").toString
    IndexBuilder.build(spark, docs, "doc_id", "text", dir,
      IndexBuilder.Params(nShards = 4, attach = Some("d"), altOrder = true))
    dir
  }

  test("repeated queries reuse the identical Dataset instance") {
    val s = new Searcher(spark, idxDir)
    assert(s.matchingDocs("merge & partition") eq s.matchingDocs("merge & partition"))
    assert(s.topKBm25(Seq("merge", "sort"), 5) eq s.topKBm25(Seq("merge", "sort"), 5))
    assert(s.topKCover("alpha & merge", 3) eq s.topKCover("alpha & merge", 3))
    assert(s.topKAddon("merge", 600L, "both", 4) eq s.topKAddon("merge", 600L, "both", 4))
    // distinct shapes must NOT collide
    assert(!(s.topKCover("alpha & merge", 3) eq s.topKCover("alpha & merge", 4)))
    assert(!(s.matchingDocs("merge") eq s.matchingDocs("partition")))
  }

  test("cache-key args cannot collide across concatenation boundaries") {
    val s = new Searcher(spark, idxDir)
    // ("ab","c") vs ("a","bc") — same chars, different splits
    assert(!(s.topKBm25(Seq("ab", "c"), 5) eq s.topKBm25(Seq("a", "bc"), 5)))
    // a term may hold any character, the multi-column separator included:
    // ("alpha\u0001merge") vs ("alpha", "merge") must not share a slot
    val joined = s.topKBm25(Seq("alpha\u0001merge"), 5)
    val split = s.topKBm25(Seq("alpha", "merge"), 5)
    assert(!(joined eq split))
    assert(joined.count() === 0L)
    assert(split.count() === 5L)
    import Searcher.MsearchSpec.Bm25
    assert(!(s.msearch(Seq(Bm25(Seq("alpha\u0001merge"), 5))) eq
      s.msearch(Seq(Bm25(Seq("alpha", "merge"), 5)))))
  }

  test("repeat executions of a cached plan return correct, stable results") {
    val s = new Searcher(spark, idxDir)
    val expect = (0 until 500).count(_ % 5 == 0).toLong
    assert(s.count("merge & partition") === expect)
    assert(s.count("merge & partition") === expect) // second hit: cached agg plan
    val top1 = s.topKBm25(Seq("merge"), 7).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val top2 = s.topKBm25(Seq("merge"), 7).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top1.sameElements(top2))
  }

  test("countBatch: one msearch job, per-query-correct counts") {
    val s = new Searcher(spark, idxDir)
    val qs = Seq("merge & partition", "sort", "alpha & merge", "nosuchterm")
    val batch = s.countBatch(qs)
    assert(batch.keySet === qs.toSet)
    qs.foreach(q => assert(batch(q) === s.count(q), q))
    assert(batch("nosuchterm") === 0L)
    assert(s.countBatch(qs) === batch) // cached union plan, same answers
  }

  test("topKBm25Batch: tagged union matches per-query results") {
    val s = new Searcher(spark, idxDir)
    val batch = Seq((Seq("merge", "sort"), 5), (Seq("alpha"), 3))
    val got = s.topKBm25Batch(batch).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    batch.zipWithIndex.foreach { case ((ts, k), i) =>
      val solo = s.topKBm25(ts, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(got(i).toSeq === solo.toSeq, s"query $i")
    }
  }

  test("msearch Cover specs: tagged union matches per-query results") {
    val s = new Searcher(spark, idxDir)
    val batch = Seq(("alpha & merge", 4), ("sort | merge", 3))
    val got = s.msearch(batch.map { case (q, k) => Searcher.MsearchSpec.Cover(q, k) }).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    batch.zipWithIndex.foreach { case ((q, k), i) =>
      val solo = s.topKCover(q, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(got(i).toSeq === solo.toSeq, s"query $i")
    }
    assert(s.msearch(Seq.empty).collect().isEmpty)
  }

  test("empty msearch batches return empty results, not a crash") {
    val s = new Searcher(spark, idxDir)
    assert(s.countBatch(Seq.empty) === Map.empty)
    assert(s.topKBm25Batch(Seq.empty).collect().isEmpty)
    assert(s.topKBm25Batch(Seq.empty).columns.toSeq === Seq("qi", "docId", "score"))
  }

  test("LRU: hot shapes survive shape churn past the cap") {
    val s = new Searcher(spark, idxDir, maxCachedPlans = 4)
    val hot = s.matchingDocs("merge & partition")
    for (i <- 0 until 12) {
      s.matchingDocs(s"tok${i % 7} & alpha${i / 7}") // churn distinct shapes
      // re-access between churn keeps the hot shape most-recently-used
      assert(s.matchingDocs("merge & partition") eq hot, s"churn step $i")
    }
    // an evicted shape rebuilds into a fresh, still-correct plan
    val rebuilt = s.matchingDocs("tok0 & alpha0")
    assert(rebuilt.collect().length >= 0)
    val expect = (0 until 500).count(_ % 5 == 0)
    assert(s.matchingDocs("merge & partition").collect().length === expect)
  }

  test("msearch cache keys are structural, not toString") {
    val s = new Searcher(spark, idxDir)
    import Searcher.MsearchSpec._
    // Seq("merge, sort") and Seq("merge", "sort") render identically via
    // toString — structural keys must keep them distinct
    val a = s.msearch(Seq(Bm25(Seq("merge, sort"), 5)))
    val b = s.msearch(Seq(Bm25(Seq("merge", "sort"), 5)))
    assert(!(a eq b))
    assert(a.collect().isEmpty) // "merge, sort" is not a real term
    val soloTop = s.topKBm25(Seq("merge", "sort"), 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(b.collect().map(r => (r.getLong(1), r.getDouble(2))).toSet == soloTop)
  }

  test("concurrent clients race on the cache safely and correctly") {
    val s = new Searcher(spark, idxDir)
    val expect = (0 until 500).count(_ % 5 == 0).toLong
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { c =>
      val th = new Thread(() => {
        try {
          for (_ <- 1 to 3) {
            assert(s.count("merge & partition") === expect)
            assert(s.topKBm25(Seq("merge", "sort"), 5).collect().length === 5)
          }
        } catch { case t: Throwable => errs.add(t) }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent failures: ${errs}")
  }
}
