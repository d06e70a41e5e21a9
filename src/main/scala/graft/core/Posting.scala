package graft.core

import scala.collection.mutable.ArrayBuffer

/** One compressed run of ≤ [[PostingBlock.DefaultSize]] postings of a term.
  *
  * This is the Spark-native analogue of a RUM posting-list page: docIds are
  * stored as varbyte gaps (reference: src/rumdatapage.c:169-222), payloads
  * (position+weight streams) ride along like RUM's addInfo
  * (src/rum.h:167-172 RumItem), and the block header carries the skip/
  * block-max metadata RUM keeps as intra-page item indexes
  * (src/rum.h:289-303, src/rumdatapage.c:1321-1371): first/last docId for
  * seeking past whole blocks, and maxTf for block-max WAND score bounds.
  *
  * Per-posting doc length rides along too — the analogue of RUM's *addon
  * column* payload (reference: src/ruminsert.c:505-515 stamps an attached
  * column's value into every posting) — so BM25 needs no docId join at
  * query time.
  *
  * @param firstDoc  smallest docId in the block
  * @param lastDoc   largest docId in the block
  * @param n         number of postings
  * @param maxTf     max true term frequency in the block (WAND upper bound)
  * @param docs      varbyte delta-encoded docIds
  * @param tfs       varbyte true term frequencies (may exceed stored #pos)
  * @param lens      varbyte doc token counts (BM25 length norm)
  * @param addons    varbyte attached-column value per posting (RUM addon
  *                  reloption `attach=..., to=...`; 0 when none configured)
  * @param poss      per-doc payload: varint byteLen + PositionCodec bytes
  */
case class PostingBlock(
    firstDoc: Long,
    lastDoc: Long,
    n: Int,
    maxTf: Int,
    docs: Array[Byte],
    tfs: Array[Byte],
    lens: Array[Byte],
    addons: Array[Byte],
    poss: Array[Byte])

object PostingBlock {
  val DefaultSize = 256
}

/** Accumulates (docId, tf, docLen, encodedPositions) in strictly increasing
  * docId order and packs [[PostingBlock]]s. Mirrors RUM's build-time list
  * packing (src/ruminsert.c:112-239 RumFormTuple) with a fixed posting
  * budget per block instead of a page-byte budget.
  *
  * With `allowTies=true` the key slot may repeat — used by the
  * alternative-order layout (reference: order_by_attach posting order
  * (addInfo, docId), src/rumdatapage.c:327-360), where the key slot holds
  * the addon value (ties = equal addons) and the addon slot holds docIds.
  */
final class PostingListBuilder(blockSize: Int = PostingBlock.DefaultSize,
                               allowTies: Boolean = false) {
  require(blockSize > 0, s"blockSize must be positive, got $blockSize")
  private val blocks = ArrayBuffer.empty[PostingBlock]
  // primitive hot-path buffers — add() runs once per posting across every
  // build/merge/repack, so the per-add boxing of generic ArrayBuffers is
  // measurable GC/CPU. Capacity is exactly blockSize: add() flushes at
  // blockSize, so the arrays never need to grow.
  private val docIds = new Array[Long](blockSize)
  private val tfs = new Array[Int](blockSize)
  private val lens = new Array[Int](blockSize)
  private val addons = new Array[Long](blockSize)
  private var n = 0
  private val posBuf = new java.io.ByteArrayOutputStream()
  private var maxTf = 0
  var totalDocs: Long = 0L

  def add(docId: Long, tf: Int, docLen: Int, positions: Array[Byte], addon: Long = 0L): Unit = {
    require(n == 0 || (if (allowTies) docId >= docIds(n - 1) else docId > docIds(n - 1)),
      s"keys must be ${if (allowTies) "non-decreasing" else "strictly increasing"}: " +
        s"$docId after ${docIds(n - 1)}")
    docIds(n) = docId
    tfs(n) = tf
    lens(n) = docLen
    addons(n) = addon
    n += 1
    if (tf > maxTf) maxTf = tf
    VarByte.writeUInt(posBuf, positions.length.toLong)
    posBuf.write(positions, 0, positions.length)
    totalDocs += 1
    if (n >= blockSize) flush()
  }

  private def flush(): Unit = {
    if (n > 0) {
      blocks += PostingBlock(
        firstDoc = docIds(0),
        lastDoc = docIds(n - 1),
        n = n,
        maxTf = maxTf,
        docs = VarByte.encodeDeltas(java.util.Arrays.copyOf(docIds, n), allowTies = allowTies),
        tfs = VarByte.encodeUInts(java.util.Arrays.copyOf(tfs, n)),
        lens = VarByte.encodeUInts(java.util.Arrays.copyOf(lens, n)),
        addons = { val o = new java.io.ByteArrayOutputStream()
          var i = 0
          while (i < n) { VarByte.writeUInt(o, addons(i)); i += 1 }
          o.toByteArray },
        poss = posBuf.toByteArray)
      n = 0
      posBuf.reset()
      maxTf = 0
    }
  }

  def result(): Array[PostingBlock] = { flush(); blocks.toArray }
}

/** Streaming cursor over an ordered sequence of posting blocks with
  * block-skipping seek — the analogue of RUM's entryFindItem page hops
  * (src/rumget.c:1700-1794 seek via the intra-page skip index).
  *
  * Usage: while (!done) { docId/tf/positions; next() } ; seek(d) advances
  * to the first posting with docId >= d, skipping whole blocks via lastDoc.
  */
final class PostingCursor(blockArrays: Iterator[Array[PostingBlock]]) {
  private var blocks: Array[PostingBlock] = Array.empty
  private var bi = 0                    // block index within current array
  private var curDocs: Array[Long] = _
  private var curTfs: Array[Int] = _
  private var curLens: Array[Int] = _
  private var curAddons: Array[Long] = _
  private var curPossOff: Array[Int] = _ // offset of each doc's payload
  private var curPossLen: Array[Int] = _
  private var curPoss: Array[Byte] = _
  private var i = 0                     // posting index within block
  var done: Boolean = false

  advanceBlockArray()
  if (!done) loadBlock()

  private def advanceBlockArray(): Unit = {
    while (bi >= blocks.length && blockArrays.hasNext) {
      blocks = blockArrays.next(); bi = 0
    }
    if (bi >= blocks.length) done = true
  }

  private def loadBlock(): Unit = {
    val b = blocks(bi)
    curDocs = VarByte.decodeDeltas(b.docs, b.n)
    curTfs = VarByte.decodeUInts(b.tfs, b.n)
    curLens = VarByte.decodeUInts(b.lens, b.n)
    curAddons = { val a = new Array[Long](b.n); var p = 0; var j = 0
      while (j < b.n) { val (v, np) = VarByte.readUInt(b.addons, p); a(j) = v; p = np; j += 1 }
      a }
    curPoss = b.poss
    curPossOff = new Array[Int](b.n)
    curPossLen = new Array[Int](b.n)
    var p = 0
    var j = 0
    while (j < b.n) {
      val (len, np) = VarByte.readUInt(curPoss, p)
      curPossOff(j) = np
      curPossLen(j) = len.toInt
      p = np + len.toInt
      j += 1
    }
    i = 0
  }

  def docId: Long = curDocs(i)
  def tf: Int = curTfs(i)
  def docLen: Int = curLens(i)
  def addon: Long = curAddons(i)
  def maxTfCurBlock: Int = blocks(bi).maxTf

  /** The current posting's encoded position payload, as stored (for
    * repacking during compaction without a decode/encode round-trip).
    */
  def rawPositions: Array[Byte] = {
    val len = curPossLen(i)
    if (len == 0) Array.emptyByteArray
    else java.util.Arrays.copyOfRange(curPoss, curPossOff(i), curPossOff(i) + len)
  }

  /** Decode the current posting's (positions, wclasses) payload. */
  def positions: (Array[Int], Array[Byte]) = {
    val len = curPossLen(i)
    if (len == 0) (Array.emptyIntArray, Array.emptyByteArray)
    else {
      val slice = java.util.Arrays.copyOfRange(curPoss, curPossOff(i), curPossOff(i) + len)
      PositionCodec.decode(slice)
    }
  }

  def next(): Unit = {
    i += 1
    if (i >= curDocs.length) {
      bi += 1
      if (bi >= blocks.length) advanceBlockArray()
      if (!done) loadBlock()
    }
  }

  /** Advance to first posting with docId >= target (no-op if already). */
  def seek(target: Long): Unit = {
    if (done || curDocs(i) >= target) return
    // skip whole blocks WITHOUT decoding them — only headers are read
    if (blocks(bi).lastDoc < target) {
      while (!done && blocks(bi).lastDoc < target) {
        bi += 1
        if (bi >= blocks.length) advanceBlockArray()
      }
      if (done) return
      loadBlock()
    }
    // binary search within block
    var lo = i
    var hi = curDocs.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (curDocs(mid) < target) lo = mid + 1 else hi = mid
    }
    i = lo
    if (curDocs(i) < target) { i = curDocs.length - 1; next() }
  }

  /** Upper bound on the docId of the last posting in the current block —
    * lets WAND skip scoring an entire block.
    */
  def curBlockLastDoc: Long = blocks(bi).lastDoc

  /** Header-only peek at the block that would contain the first posting
    * with docId >= target: returns (maxTf, lastDoc) WITHOUT decoding or
    * moving the cursor — the block-max WAND probe (the reference reads the
    * same bound from its intra-page item indexes, src/rumget.c:1574-1694
    * scanPage). Returns null when the answer lies beyond the current block
    * array (caller falls back to the term-level upper bound).
    */
  def peekBlock(target: Long): PostingCursor.BlockInfo = {
    if (done) return null
    var b = bi
    while (b < blocks.length && blocks(b).lastDoc < target) b += 1
    if (b >= blocks.length) null
    else PostingCursor.BlockInfo(blocks(b).maxTf, blocks(b).lastDoc)
  }
}

object PostingCursor {
  /** Header fields of one posting block (see [[PostingCursor.peekBlock]]). */
  final case class BlockInfo(maxTf: Int, lastDoc: Long)
}

/** Whole-block decode for the alternative-order query path (forward AND
  * backward iteration need random access within a block; the primary path
  * keeps streaming via [[PostingCursor]]).
  */
object PostingBlocks {
  final case class Decoded(
      keys: Array[Long],    // the block's sort-key slot (docId, or addon in alt layout)
      subs: Array[Long],    // the addon slot (addon, or docId in alt layout)
      tfs: Array[Int],
      lens: Array[Int],
      possOff: Array[Int],
      possLen: Array[Int],
      poss: Array[Byte]) {
    def n: Int = keys.length
    def positionsAt(i: Int): (Array[Int], Array[Byte]) = {
      val len = possLen(i)
      if (len == 0) (Array.emptyIntArray, Array.emptyByteArray)
      else PositionCodec.decode(
        java.util.Arrays.copyOfRange(poss, possOff(i), possOff(i) + len))
    }
    def rawPositionsAt(i: Int): Array[Byte] = {
      val len = possLen(i)
      if (len == 0) Array.emptyByteArray
      else java.util.Arrays.copyOfRange(poss, possOff(i), possOff(i) + len)
    }
  }

  def decode(b: PostingBlock): Decoded = {
    val keys = VarByte.decodeDeltas(b.docs, b.n)
    val subs = { val a = new Array[Long](b.n); var p = 0; var j = 0
      while (j < b.n) { val (v, np) = VarByte.readUInt(b.addons, p); a(j) = v; p = np; j += 1 }
      a }
    val tfs = VarByte.decodeUInts(b.tfs, b.n)
    val lens = VarByte.decodeUInts(b.lens, b.n)
    val possOff = new Array[Int](b.n)
    val possLen = new Array[Int](b.n)
    var p = 0
    var j = 0
    while (j < b.n) {
      val (len, np) = VarByte.readUInt(b.poss, p)
      possOff(j) = np
      possLen(j) = len.toInt
      p = np + len.toInt
      j += 1
    }
    Decoded(keys, subs, tfs, lens, possOff, possLen, b.poss)
  }
}
