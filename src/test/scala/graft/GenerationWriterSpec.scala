package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexMeta, SegmentCatalog}

/** Build, resume, append and compact all write an index generation through
  * one writer; each keeps only its own commit rule. These cases pin what
  * each caller must still produce: a resumed build equals the
  * uninterrupted one row for row, an append leaves the docs table a build
  * of the union would, and a failed compact leaves no cache and no commit
  * behind.
  */
class GenerationWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val words = Array("alpha", "beta", "gamma", "parseHTTPResponse", "getFooBar",
    "def", "class", "x1", "merge", "sortKey", "w0rd", "delta")

  /** Seeded corpus (id, text, addon): camelCase, definition keywords and
    * repeats, so every tokenizer sees distinct token and distinct-key
    * counts.
    */
  private def corpus(ids: Range, seed: Int): Seq[(Long, String, Long)] = {
    val rnd = new scala.util.Random(seed)
    ids.map { i =>
      val text = Seq.fill(1 + rnd.nextInt(14))(words(rnd.nextInt(words.length)))
        .mkString(if (i % 3 == 0) ", " else " ")
      (i.toLong, text, (i * 37L) % 101 - 50)
    }
  }

  private def tmp(): String = java.nio.file.Files.createTempDirectory("genwriter").toString

  private def docsRows(dir: String): Seq[(Int, Long, Int, Long, Int)] = {
    val meta = SegmentCatalog.load(dir).get
    IndexBuilder.readDataset(spark, dir, meta, "docs")
      .select("shard", "docId", "len", "addon", "uniq")
      .as[(Int, Long, Int, Long, Int)].collect().toSeq.sorted
  }

  private def postingRows(dir: String, kind: String) = {
    val meta = SegmentCatalog.load(dir).get
    IndexBuilder.readDataset(spark, dir, meta, kind).as[graft.build.PostingRow].collect()
      .map(r => (r.shard, r.term, r.chunk, r.ndocs, r.maxTf,
        r.blocks.toSeq.map(b => (b.firstDoc, b.lastDoc, b.n, b.maxTf,
          Seq(b.docs, b.tfs, b.lens, b.addons, b.poss).map(_.toSeq)))))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }

  test("resume after an interrupted build equals the uninterrupted build (attach + altOrder)") {
    val dir = tmp()
    val df = corpus(0 until 600, seed = 3).toDF("doc_id", "text", "d")
    val params = IndexBuilder.Params(nShards = 8, blockSize = 16, maxPostingsPerChunk = 64,
      tokenizer = "code", attach = Some("d"), altOrder = true)
    val full = IndexBuilder.build(spark, df, "doc_id", "text", dir, params)
    val want = (postingRows(dir, "postings"), postingRows(dir, "alt"), docsRows(dir))

    // interrupt: three shards leave the manifest and lose their data files
    val dropped = Set(1, 4, 6)
    SegmentCatalog.save(dir, full.copy(shards = full.shards.filterNot(s => dropped(s.shard))))
    for (d <- Seq(SegmentCatalog.postingsDir(dir), SegmentCatalog.altDir(dir),
                  SegmentCatalog.docsDir(dir)); s <- dropped)
      rmTree(new java.io.File(s"$d/shard=$s"))

    val resumed = IndexBuilder.build(spark, df, "doc_id", "text", dir, params, resume = true)
    assert(resumed.isComplete)
    assert(resumed.numDocs == full.numDocs)
    assert(resumed.totalTokens == full.totalTokens)
    assert(postingRows(dir, "postings") == want._1)
    assert(postingRows(dir, "alt") == want._2)
    assert(docsRows(dir) == want._3)
    assert(IndexBuilder.validate(spark, dir).isEmpty)

    intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, df, "doc_id", "text", dir,
        params.copy(blockSize = 32), resume = true)
    }
  }

  test("append leaves the docs table and totals a build of the union would") {
    val a = corpus(0 until 300, seed = 5)
    // B carries token-less values: NULL, empty and punctuation-only text
    val b = corpus(300 until 360, seed = 6) ++ Seq(
      (360L, null, 7L), (361L, "", -7L), (362L, " -- !! ", 0L))
    val configs = Seq(
      IndexBuilder.Params(nShards = 4, tokenizer = "simple"),
      IndexBuilder.Params(nShards = 4, tokenizer = "code", attach = Some("d")),
      IndexBuilder.Params(nShards = 4, tokenizer = "simple_title8"),
      IndexBuilder.Params(nShards = 4, keyKind = "hash"))
    for (p <- configs) {
      val appended = tmp()
      IndexBuilder.build(spark, a.toDF("doc_id", "text", "d"), "doc_id", "text", appended, p)
      val m = IndexBuilder.append(spark, b.toDF("doc_id", "text", "d"), "doc_id", "text",
        appended, autoCompactRuns = 0)
      val rebuilt = tmp()
      val u = IndexBuilder.build(spark, (a ++ b).toDF("doc_id", "text", "d"), "doc_id", "text",
        rebuilt, p)
      assert(docsRows(appended) == docsRows(rebuilt), p)
      assert((m.numDocs, m.totalTokens) == ((u.numDocs, u.totalTokens)), p)
      assert(IndexBuilder.validate(spark, appended).isEmpty, p)
    }
  }

  test("appendFields leaves the docs table and totals a buildFields of the union would") {
    def rows(ids: Range, seed: Int) = corpus(ids, seed).map { case (id, t, _) =>
      (id, t.split(" ").take(3).mkString(" "), t)
    }
    val a = rows(0 until 200, 8)
    val b = rows(200 until 240, 9) ++ Seq((240L, null, "alpha beta"), (241L, "gamma", ""))
    val fields = Seq("title" -> "title", "body" -> "body")
    val p = IndexBuilder.Params(nShards = 4, tokenizer = "code")
    val appended = tmp()
    IndexBuilder.buildFields(spark, a.toDF("doc_id", "title", "body"), "doc_id", fields,
      appended, p)
    val m = IndexBuilder.appendFields(spark, b.toDF("doc_id", "title", "body"), "doc_id",
      fields, appended, autoCompactRuns = 0)
    val rebuilt = tmp()
    val u = IndexBuilder.buildFields(spark, (a ++ b).toDF("doc_id", "title", "body"),
      "doc_id", fields, rebuilt, p)
    assert(docsRows(appended) == docsRows(rebuilt))
    assert((m.numDocs, m.totalTokens) == ((u.numDocs, u.totalTokens)))
  }

  test("a failed compact rethrows, leaks no cache and leaves the manifest as it was") {
    val dir = tmp()
    IndexBuilder.build(spark, corpus(0 until 300, seed = 10).toDF("doc_id", "text", "d"),
      "doc_id", "text", dir,
      IndexBuilder.Params(nShards = 4, attach = Some("d"), altOrder = true))
    val before: IndexMeta = SegmentCatalog.load(dir).get
    def failsCleanly(run: => IndexMeta): Unit = {
      val cached = spark.sparkContext.getPersistentRDDs.size
      intercept[Exception](run)
      assert(spark.sparkContext.getPersistentRDDs.size == cached)
      assert(SegmentCatalog.load(dir).get == before)
    }

    // the exclusion ids fail while the old generation is being decoded
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("exclusion id source failed")
      id
    }
    failsCleanly(IndexBuilder.compact(spark, dir,
      exclude = Some(spark.range(0, 40).select(boom(col("id")).as("doc_id")))))

    // a corrupt docs part fails the docs write in its tasks, after the
    // decoded postings and the kept docs are cached
    val docsPart = java.nio.file.Paths.get(SegmentCatalog.docsDir(dir),
      before.dataFiles("docs").head)
    val bytes = java.nio.file.Files.readAllBytes(docsPart)
    java.nio.file.Files.write(docsPart, "not a parquet file".getBytes("UTF-8"))
    try failsCleanly(IndexBuilder.compact(spark, dir))
    finally java.nio.file.Files.write(docsPart, bytes)

    assert(IndexBuilder.validate(spark, dir).isEmpty)
  }
}
