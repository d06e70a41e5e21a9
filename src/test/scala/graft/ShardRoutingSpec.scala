package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.build.{IndexBuilder, PostingRow, SegmentCatalog}

/** Build task width follows the shuffle width, not the shard count: stage B
  * and the docs write route each (shard, term-bucket) slice into exactly
  * one of `min(p, nShards·sub)` tasks, so the on-disk layout (one file per
  * slice) and the packed rows do not depend on `p`. The test session runs
  * 4 shuffle partitions.
  */
class ShardRoutingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus(s: SparkSession) = {
    import s.implicits._
    (0 until 600).map { i =>
      (i.toLong, s"alpha tok${i % 13} word${i % 41} " +
        (if (i % 3 == 0) "merge partition" else "sort"), i.toLong % 17)
    }.toDF("doc_id", "text", "d")
  }

  // small blocks and chunks so head terms span several blocks and chunks
  private def params(nShards: Int) = IndexBuilder.Params(nShards = nShards,
    blockSize = 16, maxPostingsPerChunk = 64, attach = Some("d"), altOrder = true)

  private def build(s: SparkSession, nShards: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("routingspec").toString
    IndexBuilder.build(s, corpus(s), "doc_id", "text", dir, params(nShards))
    dir
  }

  /** parquet files per shard directory of one dataset */
  private def filesPerShard(dir: String): Map[Int, Int] = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet"))
      .groupBy(_.getParent.getFileName.toString.stripPrefix("shard=").toInt)
      .map { case (sh, fs) => sh -> fs.length }
    finally st.close()
  }

  private def rows(s: SparkSession, dir: String, kind: String) = {
    import s.implicits._
    val meta = SegmentCatalog.load(dir).get
    IndexBuilder.readDataset(s, dir, meta, kind).as[PostingRow].collect()
      .map(r => (r.shard, r.term, r.chunk, r.ndocs, r.maxTf,
        r.blocks.toSeq.map(b => (b.firstDoc, b.lastDoc, b.n, b.maxTf,
          Seq(b.docs, b.tfs, b.lens, b.addons, b.poss).map(_.toSeq)))))
      .sortBy(r => (r._1, r._2, r._3))
      .toSeq
  }

  private def taskWidths(nShards: Int): (Int, Int) = {
    val p = params(nShards)
    val exploded = IndexBuilder.explodedOf(
      IndexBuilder.normalize(corpus(spark), "doc_id", "text", p), p)
    (IndexBuilder.packDataset(spark, exploded, p).rdd.getNumPartitions,
      IndexBuilder.docsFromExploded(exploded, p).rdd.getNumPartitions)
  }

  test("nShards > shuffle partitions: one task per partition, one file per shard") {
    assert(spark.sessionState.conf.numShufflePartitions == 4)
    assert(taskWidths(8) == ((4, 4)))
    val dir = build(spark, 8)
    val all = (0 until 8).map(_ -> 1).toMap
    assert(filesPerShard(SegmentCatalog.postingsDir(dir)) == all)
    assert(filesPerShard(SegmentCatalog.altDir(dir)) == all)
    assert(filesPerShard(SegmentCatalog.docsDir(dir)) == all)
    assert(IndexBuilder.validate(spark, dir).isEmpty)
  }

  test("nShards < shuffle partitions: term sub-buckets keep the task width") {
    assert(taskWidths(2)._1 == 4)
    val dir = build(spark, 2)
    assert(filesPerShard(SegmentCatalog.postingsDir(dir)) == Map(0 -> 2, 1 -> 2))
    assert(filesPerShard(SegmentCatalog.docsDir(dir)) == Map(0 -> 1, 1 -> 1))
  }

  test("packed rows are canonical: the same build at 16 shuffle partitions") {
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    val narrowDir = build(spark, 8)
    val wideDir = build(wide, 8)
    // 16 partitions over 8 shards: two term-bucket files per shard
    assert(filesPerShard(SegmentCatalog.postingsDir(wideDir)).values.forall(_ == 2))
    for (kind <- Seq("postings", "alt")) {
      val a = rows(spark, narrowDir, kind)
      assert(a.map(_._3).max > 0, "expected multi-chunk terms")
      assert(a == rows(spark, wideDir, kind), s"$kind rows differ")
    }
  }

  test("runConcurrently: first failure cancels sibling jobs before it is rethrown") {
    ShardRoutingSpec.started.set(new java.util.concurrent.CountDownLatch(1))
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      IndexBuilder.runConcurrently(spark, Seq(
        () => sc.parallelize(1 to 4, 4).foreach { _ =>
          ShardRoutingSpec.started.get.countDown()
          Thread.sleep(120000)
        },
        () => {
          assert(ShardRoutingSpec.started.get.await(60, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("boom")
        }))
    }
    assert(err.getMessage == "boom")
    assert((System.nanoTime() - t0) / 1e9 < 60, "sibling job was not cancelled")
    // the status store is fed by the asynchronous listener bus
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}

object ShardRoutingSpec {
  // tasks run in this JVM (local mode): the sibling job signals it is running
  val started = new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CountDownLatch]()
}
