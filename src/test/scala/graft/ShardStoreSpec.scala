package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, SegmentCatalog}
import graft.query.{CompiledQuery, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.search.Searcher.MsearchSpec._
import graft.tokenize.Tokenizer

/** The per-Searcher shard store: the first query that reads a layout
  * decodes its shards once, later queries look their terms up in the
  * cached records and open no file. Answers are checked against brute
  * force over the generated corpus: after the store is dropped, under
  * concurrent first loads, and across appends and deletes that a Searcher
  * opened earlier must not see.
  */
class ShardStoreSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 800
  private val nShards = 4
  // about 250 terms: a one-term query needs a small share of each shard
  private def text(i: Int): String =
    s"v${i % 97} w${i % 89} x${i % 61}" + (if (i % 2 == 0) " alpha" else "") +
      (if (i % 7 == 0) " beta" else "")
  private def addon(i: Int): Long = ((i * 37) % 101 - 50).toLong

  private def corpus(ids: Range) =
    ids.map(i => (i.toLong, text(i), addon(i))).toDF("doc_id", "text", "d")

  private def build(ids: Range): String = {
    val d = java.nio.file.Files.createTempDirectory("shardstore").toString
    IndexBuilder.build(spark, corpus(ids), "doc_id", "text", d,
      IndexBuilder.Params(nShards = nShards, blockSize = 16, attach = Some("d"), altOrder = true))
    d
  }

  private lazy val dir = build(0 until nDocs)

  /** Docs of `ids` matching `q`; a prefix key matches the positions of
    * every term that starts with it.
    */
  private def bruteMatches(q: String, ids: Seq[Int]): Seq[Long] = {
    val c = CompiledQuery.compile(TsQueryParser.parse(q))
    ids.filter { i =>
      val occs = Tokenizer.simple(text(i))
      val pw = c.keys.map { k =>
        val hits = occs.filter(o => if (k.prefix) o.term.startsWith(k.term) else o.term == k.term)
          .flatMap(o => o.positions.zip(o.wclasses)).sortBy(_._1)
        if (hits.isEmpty) null else (hits.map(_._1).toArray, hits.map(_._2).toArray)
      }
      TsEval.matches(c, new TsEval.Provider {
        def positions(k: Int): Array[Int] = Option(pw(k)).map(_._1).orNull
        def wclasses(k: Int): Array[Byte] = Option(pw(k)).map(_._2).orNull
      })
    }.map(_.toLong)
  }

  private def bruteAddon(q: String, c: Long, k: Int, ids: Seq[Int]): Seq[Long] =
    bruteMatches(q, ids).sortBy(id => (math.abs(addon(id.toInt) - c), id)).take(k)

  private val queries = Seq("alpha & beta", "v3 | w5", "x7 & !alpha", "v1:* & beta", "!beta")

  /** Every query of the fixture, answered by `s`: matches and counts on
    * the primary layout, addon top-k on the alt layout.
    */
  private def answers(s: Searcher): Map[String, Seq[Long]] =
    queries.flatMap { q =>
      Seq(s"match $q" -> s.msearchPlan(Seq(Match(q))).collect().map(_.getLong(1)).toSeq.sorted,
        s"count $q" -> Seq(s.msearchCountsPlan(Seq(q)).collect()(0).getLong(1)),
        s"addon $q" -> s.msearchPlan(Seq(Addon(q, 7L, "both", 9))).collect()
          .map(r => (r.getDouble(2), r.getLong(1))).toSeq.sorted.map(_._2))
    }.toMap

  private def brute(ids: Seq[Int]): Map[String, Seq[Long]] =
    queries.flatMap { q =>
      val m = bruteMatches(q, ids)
      Seq(s"match $q" -> m.sorted, s"count $q" -> Seq(m.size.toLong),
        s"addon $q" -> bruteAddon(q, 7L, 9, ids))
    }.toMap

  /** Bytes read through every local-scheme Hadoop file system in this
    * JVM, which parquet reads go through.
    */
  @annotation.nowarn("cat=deprecation")
  private def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** The stores Spark holds for the index at `d`, one per layout read. */
  private def stores(d: String) =
    spark.sparkContext.getPersistentRDDs.values.filter(r => Option(r.name).exists(n =>
      n.startsWith(s"ShardStore $d/") || n.startsWith(s"ShardStore file:$d/")))

  /** ShardScan metric values of an executed plan, one map per scan. */
  private def scanMetrics(df: DataFrame): Seq[Map[String, Long]] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case p if p.nodeName == "ShardScan" => p.metrics.map { case (k, m) => k -> m.value }
      }

  test("a one-term query hands the kernel exactly that term's chunk rows in every shard") {
    val s = new Searcher(spark, dir)
    val postings = IndexBuilder.readDataset(spark, dir, s.meta, "postings")
    val all = postings.count()
    for (t <- Seq("alpha", "beta", "v5", "nowhere")) {
      val df = s.msearchPlan(Seq(Match(t)))
      assert(df.collect().map(_.getLong(1)).toSeq.sorted == bruteMatches(t, 0 until nDocs), t)
      val Seq(m) = scanMetrics(df)
      val rows = postings.where(col("term") === t).count()
      assert(m("postingRows") == rows, s"$t: $m")
      assert(m("shards") == nShards, s"$t: $m")
    }
    assert(postings.select("term").distinct().count() > 200 && all > 600, all)
  }

  test("after the first query, a Searcher opens no file") {
    val s = new Searcher(spark, dir)
    // the first query reads both layouts and the term stats
    s.msearchPlan(Seq(Match("alpha"), Bm25(Seq("alpha", "v3"), 5), Addon("beta", 0L, "both", 3)))
      .collect()
    val before = localBytesRead()
    val got = answers(s)
    s.msearchPlan(Seq(Bm25(Seq("w9", "x2", "beta"), 7), Cover("v4 | alpha", 6))).collect()
    s.topKAddon("x3 | v3", -20L, "left", 5).collect()
    s.rangeAddon("alpha & w1:*", -10L, 10L).collect()
    s.countByAddonBucket("beta", 10L, -50L, 50L).collect()
    assert(localBytesRead() == before)
    assert(got == brute(0 until nDocs))
    // one store per layout, held in memory
    val held = stores(dir).toSeq
    assert(held.size >= 2, held)
    val info = spark.sparkContext.getRDDStorageInfo.filter(i => held.exists(_.id == i.id))
    assert(info.map(_.memSize).sum > 0L && info.forall(_.numCachedPartitions > 0))
  }

  test("answers do not depend on the cache: a dropped store is read again from the files") {
    val s = new Searcher(spark, dir)
    val want = brute(0 until nDocs)
    assert(answers(s) == want)
    stores(dir).foreach(_.unpersist(blocking = true))
    assert(answers(s) == want)
  }

  test("4 threads querying one Searcher at once get the sequential answers") {
    val want = answers(new Searcher(spark, dir))
    assert(want == brute(0 until nDocs))
    val s = new Searcher(spark, dir) // every thread races the first load
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Map[String, Seq[Long]]] { def call() = answers(s) }))
      futures.foreach(f => assert(f.get() == want))
    } finally pool.shutdown()
  }

  test("a Searcher keeps its snapshot across append and delete; a new one sees the change") {
    val d = build(0 until 500)
    val old = new Searcher(spark, d)
    assert(answers(old) == brute(0 until 500))
    IndexBuilder.append(spark, corpus(500 until nDocs), "doc_id", "text", d, autoCompactRuns = 0)
    assert(answers(old) == brute(0 until 500))
    val appended = new Searcher(spark, d)
    assert(answers(appended) == brute(0 until nDocs))
    // a delete compacts; the old files stay for the readers pinned to them
    val gone = (0 until nDocs by 3)
    IndexBuilder.compact(spark, d, Some(gone.map(_.toLong).toDF("id")), retainOld = true)
    assert(SegmentCatalog.load(d).get.numDocs == nDocs - gone.size)
    assert(answers(appended) == brute(0 until nDocs))
    assert(answers(old) == brute(0 until 500))
    assert(answers(new Searcher(spark, d)) == brute((0 until nDocs).filterNot(_ % 3 == 0)))
  }
}
