package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, PostingRow, SegmentCatalog}
import graft.search.Searcher

/** On-disk format discipline: down-versioned manifests are refused with a
  * clean "rebuild required" error everywhere an index is opened for read or
  * incremental write (instead of a raw AnalysisException mid-query on the
  * missing `uniq` column), and empty data-file listings round-trip through
  * the manifest (a buildempty index keeps its empty listing; readers refuse
  * a missing one rather than scan the directory and see orphan files).
  */
class FormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def buildSmall(): String = {
    val dir = java.nio.file.Files.createTempDirectory("fmt").toString
    val docs = Seq((1L, "alpha beta", 10L), (2L, "beta gamma", 20L))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    dir
  }

  test("current builds stamp the current format version") {
    val dir = buildSmall()
    assert(SegmentCatalog.load(dir).get.formatVersion == IndexBuilder.CurrentFormat)
  }

  test("per-shard buildMs is measured, not the job wall stamped everywhere") {
    val dir = java.nio.file.Files.createTempDirectory("fmtms").toString
    val docs = (0 until 200).map(i => (i.toLong, s"alpha beta doc$i word${i % 9}", i.toLong))
    val t0 = System.currentTimeMillis()
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 4, attach = Some("w")))
    val jobWall = System.currentTimeMillis() - t0
    val shards = SegmentCatalog.load(dir).get.shards
    assert(shards.nonEmpty)
    // every committed shard carries a real positive measurement strictly
    // under the whole job wall (the old code stamped jobWall on each);
    // shards pack in parallel, so per-shard < wall is the sound check —
    // NOT sum < wall, which parallel tasks can legitimately exceed
    shards.foreach(s => assert(s.buildMs >= 1 && s.buildMs < jobWall,
      s"shard ${s.shard}: ${s.buildMs}ms vs wall ${jobWall}ms"))
  }

  test("down-versioned manifest: searcher, append, compact refuse cleanly") {
    val dir = buildSmall()
    val meta = SegmentCatalog.load(dir).get
    def parquetFiles(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val files = parquetFiles()
    assert(files.nonEmpty)
    // an older format, from before manifests listed their files
    SegmentCatalog.save(dir, meta.copy(formatVersion = 3, dataFiles = Map.empty))

    val e1 = intercept[IllegalArgumentException](new Searcher(spark, dir))
    assert(e1.getMessage.contains("rebuild required"))
    val e2 = intercept[IllegalArgumentException](
      IndexBuilder.append(spark, Seq((3L, "delta", 30L)).toDF("id", "t", "w"), "id", "t", dir))
    assert(e2.getMessage.contains("rebuild required"))
    val e3 = intercept[IllegalArgumentException](IndexBuilder.compact(spark, dir))
    assert(e3.getMessage.contains("rebuild required"))
    // with no listing every file would look orphaned: gc refuses, deleting none
    val e4 = intercept[IllegalArgumentException](IndexBuilder.gcOrphans(dir))
    assert(e4.getMessage.contains("rebuild required"))
    assert(parquetFiles() == files)
    // validate reports instead of throwing
    assert(IndexBuilder.validate(spark, dir).exists(_.contains("rebuild required")))

    // restore and confirm the index still opens
    SegmentCatalog.save(dir, meta)
    assert(new Searcher(spark, dir).count("beta") == 2)
  }

  test("empty tsquery is void: zero rows with NO index scan (isVoidRes)") {
    val dir = buildSmall()
    val s = new Searcher(spark, dir)
    val df = s.matchingDocs("")
    assert(df.count() == 0)
    // the plan must not touch the index — void result short-circuits
    // before any scan is declared (RUM initScanKey isVoidRes)
    assert(!df.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(s.topKCover("   ", 5).count() == 0)
    assert(s.topKAddon("", 10L, "both", 5).count() == 0)
  }

  test("empty data-file listings round-trip distinct from legacy manifests") {
    val dir = buildSmall()
    val meta = SegmentCatalog.load(dir).get
    val withEmpty = meta.copy(dataFiles = meta.dataFiles + ("alt" -> Nil))
    SegmentCatalog.save(dir, withEmpty)
    val loaded = SegmentCatalog.load(dir).get
    assert(loaded.dataFiles.get("alt").contains(Nil)) // Some(Nil), NOT None
    assert(loaded.dataFiles("postings") == meta.dataFiles("postings"))
  }

  test("addon distances stay exact past 2^53 (alt path and fallback)") {
    // at 2^55 double spacing is 4: double arithmetic would collapse
    // distances 0,1,2,3 into ties and return the wrong top-k; the exact
    // Long/decimal distances must not (nanosecond-timestamp addon regime)
    val base = 1L << 55
    val docs = (0 until 21).map(i => (i.toLong, "alpha common", base + i))
    val c = base + 20
    def check(dir: String): Unit = {
      val s = new Searcher(spark, dir)
      val got = s.topKAddon("common", c, "left", 3)
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(20L, 19L, 18L), s"got $got")
      val both = s.topKAddon("common", base, "both", 3)
        .collect().map(_.getLong(0)).toSeq
      assert(both == Seq(0L, 1L, 2L), s"got $both")
    }
    val dAlt = java.nio.file.Files.createTempDirectory("fmtexa").toString
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dAlt,
      IndexBuilder.Params(nShards = 2, attach = Some("w"), altOrder = true))
    check(dAlt)
    val dPlain = java.nio.file.Files.createTempDirectory("fmtexp").toString
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dPlain,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    check(dPlain)
  }

  test("validate covers the alt layout: clean build passes, dirty dup-docId input is flagged") {
    val clean = java.nio.file.Files.createTempDirectory("fmtaltv").toString
    val docs = (0 until 50).map(i => (i.toLong, s"alpha beta word${i % 5}", i.toLong))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", clean,
      IndexBuilder.Params(nShards = 2, attach = Some("w"), altOrder = true))
    assert(IndexBuilder.validate(spark, clean).isEmpty)

    // duplicate docId with two addons: primary keep-first drops one entry,
    // the (addon, docId)-ordered copy keeps both — a real layout divergence
    // validate must surface
    val dirty = java.nio.file.Files.createTempDirectory("fmtaltd").toString
    val dup = Seq((1L, "alpha", 10L), (1L, "alpha", 99L), (2L, "alpha beta", 20L))
    IndexBuilder.build(spark, dup.toDF("id", "t", "w").repartition(1), "id", "t", dirty,
      IndexBuilder.Params(nShards = 2, attach = Some("w"), altOrder = true))
    assert(IndexBuilder.validate(spark, dirty)
      .exists(_.contains("alt/primary posting count mismatch")))
  }

  test("validate checks block headers: alt ties pass, reordered blocks are flagged") {
    val dir = java.nio.file.Files.createTempDirectory("fmthdr").toString
    // addon i / 25 under 8-posting blocks: inside a tie group an alt block
    // starts at its predecessor's last addon, which is legal there only
    val docs = (0 until 200).map(i => (i.toLong, s"common w${i % 3}", (i / 25).toLong))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, blockSize = 8, attach = Some("w"), altOrder = true))
    assert(IndexBuilder.validate(spark, dir) === Nil)

    // rewrite the first listed file of a layout with `fix` applied per row
    val meta = SegmentCatalog.load(dir).get
    def rewrite(kind: String, base: String)(fix: PostingRow => PostingRow): Unit = {
      val file = java.nio.file.Paths.get(base, meta.dataFiles(kind).head)
      val onDisk = spark.read.parquet(file.toString).columns
      val rows = spark.read.option("basePath", base)
        .schema(org.apache.spark.sql.Encoders.product[PostingRow].schema)
        .parquet(file.toString).as[PostingRow].collect().map(fix)
      val tmp = java.nio.file.Files.createTempDirectory("fmthdrw").resolve("out").toString
      rows.toSeq.toDS().select(onDisk.toSeq.map(org.apache.spark.sql.functions.col): _*)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the old checksum no longer matches: drop it so the read skips it
      java.nio.file.Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    }
    def reversed(r: PostingRow): PostingRow =
      if (r.term == "common") r.copy(blocks = r.blocks.reverse) else r
    rewrite("postings", SegmentCatalog.postingsDir(dir)) { r =>
      // w0's second block starts at the first one's last docId: a tie the
      // primary layout must flag
      if (r.term == "w0")
        r.copy(blocks = r.blocks.updated(1, r.blocks(1).copy(firstDoc = r.blocks(0).lastDoc)))
      else reversed(r)
    }
    rewrite("alt", SegmentCatalog.altDir(dir))(reversed)

    val issues = IndexBuilder.validate(spark, dir)
    assert(issues.contains("term w0: non-ascending blocks at 1"), issues)
    assert(issues.exists(_.startsWith("term common: non-ascending blocks at ")), issues)
    assert(issues.exists(_.startsWith("alt common: decreasing blocks at ")), issues)
    assert(issues.forall(i => i.contains("non-ascending blocks") || i.contains("decreasing blocks")),
      issues)
  }

  test("duplicate docId with differing addon in one partition: keep-first, no crash") {
    // stage-A pack must dedup the primary layout on docId alone (matching
    // mergeCells keep-first); a composite-only dedup would pass the second
    // row into the builder's strictly-increasing key check and crash
    val dir = java.nio.file.Files.createTempDirectory("fmtdup").toString
    val docs = Seq((1L, "alpha beta", 10L), (1L, "alpha beta", 99L), (2L, "beta", 20L))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w").repartition(1), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    val s = new Searcher(spark, dir)
    assert(s.matchingDocs("alpha").collect().map(_.getLong(0)).toSet == Set(1L))
    val addons = s.matchingWithAddon("beta").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(addons(1L) == 10L) // first wins
  }
}
