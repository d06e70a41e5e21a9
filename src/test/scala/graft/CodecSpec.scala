package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.build.{IndexBuilder, SegmentCatalog}
import graft.core.{PositionCodec, PostingBlock, PostingCursor, PostingListBuilder, VarByte}

import scala.util.Random

class CodecSpec extends AnyFunSuite {

  test("varint round-trip (seeded property)") {
    val rnd = new Random(42)
    for (_ <- 1 to 200) {
      val vs = Seq.fill(rnd.nextInt(50))(rnd.nextLong().abs)
      val out = new java.io.ByteArrayOutputStream()
      vs.foreach(VarByte.writeUInt(out, _))
      val bytes = out.toByteArray
      var p = 0
      vs.foreach { v =>
        val (got, np) = VarByte.readUInt(bytes, p)
        assert(got == v)
        p = np
      }
      assert(p == bytes.length)
    }
  }

  test("delta round-trip on strictly increasing ids (seeded property)") {
    val rnd = new Random(7)
    for (_ <- 1 to 200) {
      val ids = Seq.fill(1 + rnd.nextInt(100))(rnd.nextLong(1L << 40) + 1)
        .distinct.sorted.toArray
      val enc = VarByte.encodeDeltas(ids)
      assert(VarByte.decodeDeltas(enc, ids.length).sameElements(ids))
    }
  }

  test("delta round-trip on full signed-long ids (xxhash64 domain)") {
    val rnd = new Random(21)
    for (_ <- 1 to 200) {
      val ids = Seq.fill(2 + rnd.nextInt(100))(rnd.nextLong())
        .distinct.sorted.toArray
      val enc = VarByte.encodeDeltas(ids)
      assert(VarByte.decodeDeltas(enc, ids.length).sameElements(ids))
    }
    // extreme wrap: MinValue → MaxValue gap
    val ext = Array(Long.MinValue, -1L, 0L, Long.MaxValue)
    assert(VarByte.decodeDeltas(VarByte.encodeDeltas(ext), 4).sameElements(ext))
  }

  test("position codec round-trip with weights (seeded property)") {
    val rnd = new Random(13)
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(50)
      val gaps = Array.fill(n)(1 + rnd.nextInt(100))
      val pos = gaps.scanLeft(0)(_ + _).tail
      val ws = Array.fill(n)(rnd.nextInt(4).toByte)
      val enc = PositionCodec.encode(pos, ws)
      assert(PositionCodec.count(enc) == pos.length)
      val (p2, w2) = PositionCodec.decode(enc)
      assert(p2.sameElements(pos))
      assert(w2.sameElements(ws))
    }
  }

  test("position cap keeps monotonicity and limits") {
    val pos = (1 to 400).map(_ * 50).toArray // exceeds MaxPos from i=328
    val ws = Array.fill[Byte](400)(0)
    val (cp, cw) = PositionCodec.cap(pos, ws)
    assert(cp.length <= PositionCodec.MaxNumPos)
    assert(cp.forall(_ <= PositionCodec.MaxPos))
    assert(cp.zip(cp.tail).forall { case (a, b) => a < b })
    assert(cw.length == cp.length)
  }

  test("position cap is the identity (no copy) when nothing exceeds the caps") {
    val pos = (1 to 200).map(_ * 3).toArray // max 600 << MaxPos, 200 < MaxNumPos
    val ws = Array.tabulate[Byte](200)(i => (i % 4).toByte)
    val (cp, cw) = PositionCodec.cap(pos, ws)
    assert(cp eq pos) // fast path must not allocate
    assert(cw eq ws)
    // boundary: exactly MaxNumPos entries, last exactly MaxPos — still identity
    val pb = (1 to PositionCodec.MaxNumPos)
      .map(i => PositionCodec.MaxPos - PositionCodec.MaxNumPos + i).toArray
    val wb = new Array[Byte](PositionCodec.MaxNumPos)
    val (cpb, _) = PositionCodec.cap(pb, wb)
    assert(cpb eq pb)
    // one past either limit takes the copying path with the old semantics
    val over = pos :+ (PositionCodec.MaxPos + 5)
    val (co, _) = PositionCodec.cap(over, new Array[Byte](over.length))
    assert(!(co eq over) && co.last == PositionCodec.MaxPos)
  }

  test("zero block size fails with IllegalArgumentException before any job runs") {
    intercept[IllegalArgumentException](new PostingListBuilder(0))
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("codecspec").toString
    // a fresh build wipes the postings directory before its first job, so
    // this file survives only if validation ran first
    val marker = java.nio.file.Paths.get(SegmentCatalog.postingsDir(dir), "marker")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.createFile(marker)
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    for (bad <- Seq(IndexBuilder.Params(blockSize = 0), IndexBuilder.Params(nShards = 0),
                    IndexBuilder.Params(maxPostingsPerChunk = 0))) {
      intercept[IllegalArgumentException](
        IndexBuilder.build(spark, corpus, "doc_id", "text", dir, bad))
      intercept[IllegalArgumentException](
        IndexBuilder.buildFields(spark, corpus, "doc_id", Seq("t" -> "text"), dir, bad))
    }
    assert(java.nio.file.Files.exists(marker))
    assert(SegmentCatalog.load(dir).isEmpty)
  }

  test("posting builder + cursor round-trip with seek") {
    val n = 5000
    val docs = (1 to n).map(i => i.toLong * 7).toArray
    val b = new PostingListBuilder(blockSize = 64)
    docs.zipWithIndex.foreach { case (d, i) =>
      val pos = Array(1 + (i % 5), 10 + (i % 5))
      val enc = PositionCodec.encode(pos, Array[Byte](0, 1))
      b.add(d, i % 9 + 1, 20, enc)
    }
    val blocks = b.result()
    assert(blocks.map(_.n).sum == n)
    assert(b.totalDocs == n)
    // full scan
    var cur = new PostingCursor(Iterator(blocks))
    var i = 0
    while (!cur.done) {
      assert(cur.docId == docs(i))
      assert(cur.tf == i % 9 + 1)
      val (ps, ws) = cur.positions
      assert(ps.sameElements(Array(1 + (i % 5), 10 + (i % 5))))
      assert(ws.sameElements(Array[Byte](0, 1)))
      cur.next(); i += 1
    }
    assert(i == n)
    // seeks
    cur = new PostingCursor(Iterator(blocks))
    cur.seek(7 * 1000)
    assert(cur.docId == 7000)
    cur.seek(7 * 1000) // no-op
    assert(cur.docId == 7000)
    cur.seek(7 * 1001 - 3) // between postings → next one
    assert(cur.docId == 7 * 1001)
    cur.seek(7L * n + 1) // past end
    assert(cur.done)
  }

  test("random seek pattern matches linear scan (seeded property)") {
    val rnd = new Random(99)
    val ids = (1 to 2000).map(_ => rnd.nextLong(1L << 30).abs + 1).distinct.sorted.toArray
    val b = new PostingListBuilder(blockSize = 32)
    ids.foreach(d => b.add(d, 1, 5, Array.emptyByteArray))
    val blocks = b.result()
    for (_ <- 1 to 100) {
      val target = rnd.nextLong(1L << 30) + 1
      val cur = new PostingCursor(Iterator(blocks))
      cur.seek(target)
      val expected = ids.find(_ >= target)
      if (expected.isEmpty) assert(cur.done)
      else assert(cur.docId == expected.get)
    }
  }

  test("cursor spans multiple chunk arrays") {
    def mk(ids: Array[Long]): Array[PostingBlock] = {
      val b = new PostingListBuilder(blockSize = 4)
      ids.foreach(d => b.add(d, 1, 5, Array.emptyByteArray))
      b.result()
    }
    val cur = new PostingCursor(Iterator(mk(Array(1L, 5L, 9L)), mk(Array(12L, 20L))))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (!cur.done) { seen += cur.docId; cur.next() }
    assert(seen.toSeq == Seq(1L, 5L, 9L, 12L, 20L))
    val c2 = new PostingCursor(Iterator(mk(Array(1L, 5L, 9L)), mk(Array(12L, 20L))))
    c2.seek(10)
    assert(c2.docId == 12L)
  }
}
