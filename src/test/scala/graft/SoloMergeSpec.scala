package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, countDistinct, expr, lit, pmod, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{AddonUnits, IndexBuilder}
import graft.query.{Bm25 => Bm25Score, CompiledQuery, CoverRank, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.tokenize.Tokenizer

/** Solo counts and solo top-k queries end in their one-slot scan: the
  * tasks ship per-shard count partials or top-k heaps and the driver
  * merges them, in one job of one stage. Every answer is checked against
  * brute force over the generated corpus, the job and stage counts with a
  * listener, and the shapes the merge does not take must still plan
  * Spark's own operators and answer the same.
  */
class SoloMergeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 700
  private val nShards = 4
  // many docs share one cover distance; every 50th doc is empty
  private def text(i: Int): String =
    if (i % 50 == 49) ""
    else {
      val sb = new StringBuilder
      for (j <- 0 until i % 3) sb.append(s"pad$j ")
      if (i % 2 == 0) sb.append("alpha ")
      for (_ <- 0 until i % 4) sb.append("gap ")
      if (i % 3 == 0) sb.append("beta ")
      if (i % 5 == 0) sb.append("gamma alpha ")
      sb.append(s"tail${i % 7}")
      sb.toString
    }
  private def addon(i: Int): Long = ((i * 37) % 41 - 20).toLong * 1000L
  private def value(i: Int): Double = ((i * 7919) % 60 / 3).toDouble * 1.25 - 10.0

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("solomerge").toString
    val docs = (0 until nDocs).map(i => (i.toLong, text(i), addon(i))).toDF("doc_id", "text", "d")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = nShards, blockSize = 32, attach = Some("d"), altOrder = true))
    d
  }
  private lazy val searcher: Searcher = new Searcher(spark, dir)

  private lazy val floatSearcher: Searcher = {
    val d = java.nio.file.Files.createTempDirectory("solomergeflt").toString
    val docs = (0 until nDocs).map(i => (i.toLong, text(i), value(i))).toDF("doc_id", "text", "f")
      .withColumn("fbits", AddonUnits.floatOrderedBits(col("f"))).drop("f")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = nShards, blockSize = 32, attach = Some("fbits"),
        altOrder = true))
    new Searcher(spark, d)
  }

  private def title(i: Int): String = if (i % 3 == 0) "alpha doc" else "doc"
  private lazy val multiSearcher: Searcher = {
    val d = java.nio.file.Files.createTempDirectory("solomergemulti").toString
    val docs = (0 until nDocs).map(i => (i.toLong, title(i), text(i)))
      .toDF("doc_id", "title", "body")
    IndexBuilder.buildFields(spark, docs, "doc_id", Seq("title" -> "title", "body" -> "body"),
      d, IndexBuilder.Params(nShards = nShards, blockSize = 32))
    new Searcher(spark, d)
  }

  private def cq(q: String) = CompiledQuery.compile(TsQueryParser.parse(q))

  private def provider(c: CompiledQuery, doc: String): TsEval.Provider = {
    val occs = Tokenizer.simple(doc).map(o => o.term -> o).toMap
    val kp = c.keys.map(key => occs.get(key.term).map(_.positions).orNull)
    val kw = c.keys.map(key => occs.get(key.term).map(_.wclasses).orNull)
    new TsEval.Provider {
      def positions(k: Int): Array[Int] = kp(k)
      def wclasses(k: Int): Array[Byte] = kw(k)
    }
  }

  private def bruteMatches(q: String): Seq[Int] = {
    val c = cq(q)
    (0 until nDocs).filter(i => TsEval.matches(c, provider(c, text(i))))
  }

  private def bruteDistance(c: CompiledQuery, i: Int, method: Int): Double = {
    val p = provider(c, text(i))
    CoverRank.distance(c, c.keys.indices.map(p.positions).toArray,
      c.keys.indices.map(p.wclasses).toArray, method,
      docLen = Tokenizer.simpleTokens(text(i)).length,
      nUniq = Tokenizer.simple(text(i)).length).toDouble
  }

  /** cover top-k as (docId, distance); `matchOnly = false` ranks every
    * doc, non-matching ones last
    */
  private def bruteCover(q: String, k: Int, matchOnly: Boolean = true): Seq[(Long, Double)] = {
    val c = cq(q)
    val matches = bruteMatches(q).toSet
    (if (matchOnly) matches.toSeq else 0 until nDocs).map { i =>
      (i.toLong, if (matches(i)) bruteDistance(c, i, 0) else Double.PositiveInfinity)
    }.sortBy { case (id, d) => (d, id) }.take(k)
  }

  private def bruteBm25(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val meta = searcher.meta
    val tfs = (0 until nDocs).map(i => Tokenizer.simple(text(i)).map(o => o.term -> o.tf).toMap)
    val df = terms.map(t => t -> tfs.count(_.contains(t)).toLong).toMap
    (0 until nDocs).map { i =>
      val len = Tokenizer.simpleTokens(text(i)).length.toLong
      (i.toLong, terms.distinct.sorted.map(t =>
        Bm25Score.termScore(tfs(i).getOrElse(t, 0), df(t), len, meta.avgLen, meta.numDocs)).sum)
    }.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** `ORDER BY t <=> q, addon <-> c, docId LIMIT k` as (docId, rank) */
  private def bruteOrder2(q: String, c: Long, k: Int): Seq[(Long, Double)] = {
    val compiled = cq(q)
    bruteMatches(q).map(i => (bruteDistance(compiled, i, 0), math.abs(addon(i) - c), i.toLong))
      .sorted.take(k).map { case (d, _, id) => (id, d) }
  }

  private def bruteAddon(q: String, c: Long, k: Int): Seq[(Long, Long, Double)] =
    bruteMatches(q).map(i => (i.toLong, addon(i), math.abs(addon(i) - c).toDouble))
      .sortBy { case (id, _, d) => (d, id) }.take(k)

  private def bruteAddonFloat(q: String, c: Double, k: Int): Seq[(Long, Double, Double)] =
    bruteMatches(q).map(i => (i.toLong, value(i), math.abs(value(i) - c)))
      .sortBy { case (id, _, d) => (d, id) }.take(k)

  /** Stage counts of the jobs `body` starts, one entry per job: the
    * listener bus delivers in order, so every job before a marker job has
    * been seen once the marker has.
    */
  private def jobsOf[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.LinkedBlockingQueue[(String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("") -> e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("merge-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val stages = Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && e._1 != "merge-marker").map(_._2).toList
      (out, stages)
    } finally sc.removeSparkListener(listener)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private val notMerged = Seq("Exchange", "HashAggregate", "TakeOrderedAndProject",
    "AdaptiveSparkPlan", "Window")

  /** Runs `df` in one job of one stage through a merged scan whose plan
    * holds no Spark operator above it; returns its rows.
    */
  private def merged(df: DataFrame, merge: String): Array[org.apache.spark.sql.Row] = {
    val p = plan(df)
    assert(p.contains(s"Merge: $merge") && p.startsWith("ShardScan "), p)
    notMerged.foreach(op => assert(!p.contains(op), p))
    val (rows, jobs) = jobsOf(df.collect())
    assert(jobs == Seq(1), p)
    rows
  }

  private def warm(s: Searcher): Unit = s.topKBm25(Seq("alpha", "tail1"), 1).collect()

  test("solo counts equal brute force, each in one job of one stage") {
    warm(searcher)
    for (q <- Seq("alpha & beta", "gamma | tail3", "!alpha", "")) {
      val want = bruteMatches(q).size.toLong
      val counts = Seq(
        "agg(count(lit(1)))" ->
          (() => searcher.matchingDocs(q).agg(count(lit(1))).collect().head.getLong(0)),
        "agg(count(lit(1))).head" ->
          (() => searcher.matchingDocs(q).agg(count(lit(1))).head().getLong(0)),
        "Dataset.count" -> (() => searcher.matchingDocs(q).count()),
        "Searcher.count" -> (() => searcher.count(q)))
      for ((what, run) <- counts) {
        val (got, jobs) = jobsOf(run())
        assert(got == want, s"$what '$q'")
        // a void query plans no scan at all
        if (q.nonEmpty) assert(jobs == Seq(1), s"$what '$q'")
      }
      if (q.nonEmpty) merged(searcher.matchingDocs(q).agg(count(lit(1)).as("n")), "count")
    }
    val (empty, emptyJobs) = jobsOf(searcher.countEmpty())
    assert(empty == (0 until nDocs).count(i => text(i).isEmpty) && emptyJobs == Seq(1))

    multiSearcher.countMulti(Seq("title" -> "doc"))
    for ((fq, want) <- Seq(
        Seq("title" -> "alpha", "body" -> "beta") -> (0 until nDocs).count(i =>
          i % 3 == 0 && bruteMatches("beta").contains(i)),
        Seq("title" -> "!alpha") -> (0 until nDocs).count(_ % 3 != 0),
        Seq("title" -> "") -> 0)) {
      val (got, jobs) = jobsOf(multiSearcher.countMulti(fq))
      assert(got == want, fq)
      if (fq.head._2.nonEmpty) assert(jobs == Seq(1), fq)
    }
    assert(multiSearcher.countEmpty(Some("body")) == (0 until nDocs).count(i => text(i).isEmpty))
  }

  test("solo top-k is rank-identical to brute force, each in one job of one stage") {
    import Searcher.MsearchSpec._
    warm(searcher)
    warm(floatSearcher)
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val nMatch = bruteMatches("alpha & (beta | gap)").size
    for (k <- Seq(1, 7, 10 * nDocs)) {
      val terms = Seq("beta", "gamma", "tail2")
      assert(pairs(merged(searcher.topKBm25(terms, k), s"top $k")) == bruteBm25(terms, k), k)
      // cover distances tie in groups: the docId order inside a group decides the cut
      assert(bruteCover("alpha & (beta | gap)", nMatch).map(_._2).distinct.size < nMatch / 4)
      assert(pairs(merged(searcher.topKCover("alpha & (beta | gap)", k), s"top $k")) ==
        bruteCover("alpha & (beta | gap)", k), k)
      assert(pairs(merged(searcher.topKCover("beta & gamma", k, matchOnly = false),
        s"top $k")) == bruteCover("beta & gamma", k, matchOnly = false), k)
      val o2 = merged(searcher.msearch(Seq(Order2("alpha | beta", -3000L, "both", k))), s"top $k")
      assert(o2.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
        bruteOrder2("alpha | beta", -3000L, k), k)
      // topKMulti is a one-slot composite top-k: its scan merges the
      // per-shard composite heaps and re-ranks them by the same keys
      val multi = merged(searcher.topKMulti("alpha | beta",
        Seq(Searcher.OrderKey.Rank(), Searcher.OrderKey.Addon(-3000L, "both")), k), s"top $k")
      assert(multi.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        bruteOrder2("alpha | beta", -3000L, k), k)
      val a = merged(searcher.topKAddon("alpha & tail3", 4000L, "both", k), s"top $k")
      assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
        bruteAddon("alpha & tail3", 4000L, k), k)
      val f = merged(floatSearcher.topKAddonFloat("alpha | beta", 2.5, "both", k), s"top $k")
      assert(f.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq ==
        bruteAddonFloat("alpha | beta", 2.5, k), k)
    }
    assert(bruteCover("alpha & (beta | gap)", 10 * nDocs).size == nMatch)
  }

  test("shapes the merge does not take keep Spark's operators and answer the same") {
    import Searcher.MsearchSpec._
    val q = "alpha | beta"
    val m = searcher.matchingDocs(q)
    val ids = bruteMatches(q).map(_.toLong)
    def unmerged(df: DataFrame): Array[org.apache.spark.sql.Row] = {
      val p = plan(df)
      assert(!p.contains("Merge:"), p)
      df.collect()
    }
    val grouped = unmerged(m.groupBy(pmod(col("docId"), lit(3L)).as("b")).count())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped == ids.groupBy(id => Math.floorMod(id, 3L)).map { case (b, s) => b -> s.size })
    assert(unmerged(m.agg(countDistinct("docId"))).head.getLong(0) == ids.size)
    assert(unmerged(m.agg(expr("count(1) FILTER (WHERE docId > 100)"))).head.getLong(0) ==
      ids.count(_ > 100))
    assert(unmerged(m.agg(count(when(col("docId") > 100, col("docId"))))).head.getLong(0) ==
      ids.count(_ > 100))
    assert(unmerged(m.where(col("docId") > 100).agg(count(lit(1)))).head.getLong(0) ==
      ids.count(_ > 100))
    assert(unmerged(m.select((col("docId") + 1).as("x")).orderBy("x").limit(5))
      .map(_.getLong(0)).toSeq == ids.sorted.take(5).map(_ + 1))
    // a sampled match filters its rows; a count over it is Spark's
    val sampled = searcher.matchingDocsSampled(q, 20L)
    assert(unmerged(sampled.agg(count(lit(1)))).head.getLong(0) == sampled.collect().length)
    assert(sampled.collect().length < ids.size)
    // batches: a window per bounded slot, a spine and an Exchange per count batch
    val batch = searcher.msearchPlan(Seq(Bm25(Seq("beta"), 3), Cover("alpha & beta", 4)))
    assert(plan(batch).contains("Window") && !plan(batch).contains("Merge:"), plan(batch))
    val counts = unmerged(searcher.msearchCounts(Seq(q)))
    assert(counts.map(_.getLong(1)).toSeq == Seq(ids.size.toLong))
    assert(plan(searcher.msearchCounts(Seq(q))).contains("Exchange"))
  }

  test("a merged frame under another operator gives the rows it collects") {
    val q = "gamma | tail3"
    val n = bruteMatches(q).size.toLong
    val cnt = searcher.matchingDocs(q).agg(count(lit(1)).as("n"))
    val crossed = cnt.crossJoin(spark.range(3).toDF("i"))
    assert(plan(crossed).contains("Merge: count"), plan(crossed))
    assert(crossed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2) ==
      (0L until 3L).map(n -> _))
    assert(cnt.rdd.collect().map(_.getLong(0)).toSeq == Seq(n))
    val top = searcher.topKCover("alpha & (beta | gap)", 9)
    val want = top.collect().toSeq
    assert(top.rdd.collect().toSeq == want)
    val joined = top.crossJoin(spark.range(1).toDF("i")).select("docId", "distance")
    assert(plan(joined).contains("Merge: top 9"), plan(joined))
    assert(joined.collect().toSeq.sortBy(_.getLong(0)) == want.sortBy(_.getLong(0)))
    assert(top.head(4).toSeq == want.take(4))
  }

  test("a merged scan still counts shards and posting rows") {
    val postings = IndexBuilder.readDataset(spark, dir, searcher.meta, "postings")
    def metrics(df: DataFrame): Map[String, Long] = {
      df.collect()
      val Seq(m) = df.queryExecution.executedPlan.collect {
        case p if p.nodeName == "ShardScan" => p.metrics.map { case (k, v) => k -> v.value }
      }
      m
    }
    // a count ships one partial per shard, a top-3 at most 3 rows per shard
    val counted = metrics(searcher.matchingDocs("beta").agg(count(lit(1))))
    val top = metrics(searcher.topKCover("beta", 3))
    for (m <- Seq(counted, top)) {
      assert(m("postingRows") == postings.where(col("term") === "beta").count(), m)
      assert(m("shards") == nShards, m)
    }
    assert(counted("numOutputRows") == nShards, counted)
    assert(top("numOutputRows") >= 3 && top("numOutputRows") <= 3 * nShards, top)
  }
}
