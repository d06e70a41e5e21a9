package graft.search

import scala.collection.mutable

import graft.build.{DocRow, PostingRow}
import graft.core.{PostingBlock, PostingCursor}
import graft.query._

/** Per-shard merge/score kernels. Pure Scala over compressed posting
  * blocks; runs in the task that holds the shard's cached record
  * ([[ShardScan]]).
  */
object SearchKernel extends Serializable {

  final case class KeySpec(keyIdx: Int, term: String, prefix: Boolean)

  def keySpecs(cq: CompiledQuery): Array[KeySpec] =
    cq.keys.zipWithIndex.map { case (l, i) => KeySpec(i, l.term, l.prefix) }

  /** Key indexes with at least one positive-polarity occurrence — these
    * streams can generate candidates; a doc matching the query must contain
    * one of them unless the query matches the empty doc (then only a full
    * scan is complete — RUM's EVERYTHING search mode, src/rumscan.c:144).
    */
  def positiveKeys(cq: CompiledQuery): Array[Int] = {
    import CompiledQuery._
    val pos = mutable.Set.empty[Int]
    def go(n: CNode, neg: Boolean): Unit = n match {
      case CEmpty => ()
      case CLeaf(_, k, _, _) => if (!neg) pos += k
      case CAnd(a, b) => go(a, neg); go(b, neg)
      case COr(a, b) => go(a, neg); go(b, neg)
      case CNot(x) => go(x, !neg)
      case CPhrase(_, a, b) => go(a, neg); go(b, neg)
    }
    go(cq.root, neg = false)
    pos.toArray.sorted
  }

  /** Key indexes that must be present in every matching doc — the
    * preConsistent analogue (reference: src/rum_ts_utils.c:165-197
    * rum_tsquery_pre_consistent; fast-scan driver src/rumget.c:1900-2017):
    * AND/phrase require both sides, OR requires the keys common to both
    * sides, NOT-subtrees require nothing. Weight masks don't narrow
    * requiredness (a masked leaf still needs its term present). Candidates
    * can then be driven from the seek-join intersection of these streams
    * instead of the union of all positive keys.
    */
  def requiredKeys(cq: CompiledQuery): Array[Int] = {
    import CompiledQuery._
    def go(n: CNode): Set[Int] = n match {
      case CEmpty => Set.empty
      case CLeaf(_, k, _, _) => Set(k)
      case CAnd(a, b) => go(a) ++ go(b)
      case CPhrase(_, a, b) => go(a) ++ go(b)
      case COr(a, b) => go(a).intersect(go(b))
      case CNot(_) => Set.empty
    }
    go(cq.root).toArray.sorted
  }

  private val emptyProvider = new TsEval.Provider {
    def positions(k: Int): Array[Int] = null
    def wclasses(k: Int): Array[Byte] = null
  }

  def matchesEmptyDoc(cq: CompiledQuery): Boolean = TsEval.matches(cq, emptyProvider)

  /** Unsatisfiable without scanning — RUM's isVoidRes (initScanKey,
    * src/rumscan.c:365-458): a query with no keys at all that doesn't match
    * the empty document (the empty tsquery) can return nothing; callers
    * short-circuit to an empty result before planning any scan.
    */
  def isVoid(cq: CompiledQuery): Boolean =
    cq.numKeys == 0 && !matchesEmptyDoc(cq)

  def needsFullScan(cq: CompiledQuery): Boolean =
    positiveKeys(cq).isEmpty || matchesEmptyDoc(cq)

  // ------------------------------------------------------------------
  // cursors
  // ------------------------------------------------------------------

  /** Uniform view of one query key's posting stream in a shard. */
  sealed trait KeyCursor {
    def done: Boolean
    def docId: Long
    def next(): Unit
    def seek(target: Long): Unit
    def tf: Int
    def docLen: Int
    def addonVal: Long
    def positions: (Array[Int], Array[Byte])

    /** Header-only block-max probe at `target`: (tf upper bound, block end)
      * for docIds in [target, blockEnd], or null when unknown (caller uses
      * the term-level bound). Never decodes or moves the stream.
      */
    def peekBlock(target: Long): PostingCursor.BlockInfo
  }

  object EmptyCursor extends KeyCursor {
    def done = true
    def docId = Long.MaxValue
    def next(): Unit = ()
    def seek(target: Long): Unit = ()
    def tf = 0
    def docLen = 0
    def addonVal = 0L
    def positions: (Array[Int], Array[Byte]) = (Array.emptyIntArray, Array.emptyByteArray)
    def peekBlock(target: Long): PostingCursor.BlockInfo = null
  }

  final class SingleCursor(val cur: PostingCursor) extends KeyCursor {
    def done: Boolean = cur.done
    def docId: Long = cur.docId
    def next(): Unit = cur.next()
    def seek(target: Long): Unit = cur.seek(target)
    def tf: Int = cur.tf
    def docLen: Int = cur.docLen
    def addonVal: Long = cur.addon
    def positions: (Array[Int], Array[Byte]) = cur.positions
    def peekBlock(target: Long): PostingCursor.BlockInfo = cur.peekBlock(target)
  }

  /** Positional union over the expansion of a prefix key — the partial-
    * match union with payload join (reference: src/rumget.c:292-481
    * collectMatchBitmap + src/rum_ts_utils.c:1564-1645 rum_ts_join_pos:
    * duplicate docIds merge their position lists).
    */
  final class UnionCursor(members: Array[PostingCursor]) extends KeyCursor {
    private var minDoc = Long.MaxValue
    recomputeMin()

    private def recomputeMin(): Unit = {
      minDoc = Long.MaxValue
      var i = 0
      while (i < members.length) {
        if (!members(i).done && members(i).docId < minDoc) minDoc = members(i).docId
        i += 1
      }
    }

    def done: Boolean = minDoc == Long.MaxValue
    def docId: Long = minDoc

    def next(): Unit = {
      var i = 0
      while (i < members.length) {
        if (!members(i).done && members(i).docId == minDoc) members(i).next()
        i += 1
      }
      recomputeMin()
    }

    def seek(target: Long): Unit = {
      if (minDoc >= target) return
      var i = 0
      while (i < members.length) {
        if (!members(i).done) members(i).seek(target)
        i += 1
      }
      recomputeMin()
    }

    def tf: Int = {
      var s = 0
      var i = 0
      while (i < members.length) {
        if (!members(i).done && members(i).docId == minDoc) s += members(i).tf
        i += 1
      }
      s
    }

    def docLen: Int = {
      var i = 0
      while (i < members.length) {
        if (!members(i).done && members(i).docId == minDoc) return members(i).docLen
        i += 1
      }
      0
    }

    def addonVal: Long = {
      var i = 0
      while (i < members.length) {
        if (!members(i).done && members(i).docId == minDoc) return members(i).addon
        i += 1
      }
      0L
    }

    def positions: (Array[Int], Array[Byte]) = {
      val ps = mutable.ArrayBuffer.empty[(Int, Byte)]
      var i = 0
      while (i < members.length) {
        if (!members(i).done && members(i).docId == minDoc) {
          val (p, w) = members(i).positions
          var j = 0
          while (j < p.length) { ps += ((p(j), w(j))); j += 1 }
        }
        i += 1
      }
      val sorted = ps.sortBy(_._1)
      (sorted.map(_._1).toArray, sorted.map(_._2).toArray)
    }

    /** Conservative union bound: sum member block maxes (a doc normally
      * lives in one run; duplicates sum their tfs, so sum stays an upper
      * bound), block end = min member block end. Unknown member → null.
      */
    def peekBlock(target: Long): PostingCursor.BlockInfo = {
      var sumTf = 0
      var end = Long.MaxValue
      var i = 0
      while (i < members.length) {
        if (!members(i).done) {
          val b = members(i).peekBlock(target)
          if (b == null) return null
          sumTf += b.maxTf
          if (b.lastDoc < end) end = b.lastDoc
        }
        i += 1
      }
      if (end == Long.MaxValue) null else PostingCursor.BlockInfo(sumTf, end)
    }
  }

  /** Positional union over MANY members — a k-way min-heap (loser-tree
    * analogue) replacing [[UnionCursor]]'s linear member scan once the
    * prefix expansion is wide: advance/seek cost is O(active·log m) instead
    * of O(m) per call, so a one-letter prefix over a large dictionary stays
    * sub-linear in expansion width (the reference unions its partial-match
    * expansion once into a sorted stream, src/rumget.c:292-481; this is the
    * lazy-streaming equivalent). Heap entries are immutable while enqueued:
    * only popped cursors advance, then reinsert.
    *
    * `peekBlock` returns null (unknown): the block-max bound over hundreds
    * of members is both expensive and uselessly loose, and the WAND path
    * never sees prefix keys (callers fall back to the term-level bound).
    */
  final class HeapUnionCursor(members: Array[PostingCursor]) extends KeyCursor {
    private val heap = new java.util.PriorityQueue[PostingCursor](
      math.max(members.length, 1),
      (a: PostingCursor, b: PostingCursor) => java.lang.Long.compare(a.docId, b.docId))
    members.foreach(m => if (!m.done) heap.add(m))
    /** members positioned exactly at the current min doc (popped) */
    private val atMin = mutable.ArrayBuffer.empty[PostingCursor]
    private var curDoc = Long.MaxValue

    private def fill(): Unit = {
      if (atMin.isEmpty) {
        if (heap.isEmpty) curDoc = Long.MaxValue
        else {
          curDoc = heap.peek().docId
          while (!heap.isEmpty && heap.peek().docId == curDoc) atMin += heap.poll()
        }
      }
    }

    def done: Boolean = { fill(); atMin.isEmpty }
    def docId: Long = { fill(); curDoc }

    def next(): Unit = {
      fill()
      var i = 0
      while (i < atMin.length) {
        val c = atMin(i)
        c.next()
        if (!c.done) heap.add(c)
        i += 1
      }
      atMin.clear()
    }

    def seek(target: Long): Unit = {
      fill()
      if (atMin.nonEmpty && curDoc >= target) return
      // current members are below target: seek them individually, reinsert
      var i = 0
      while (i < atMin.length) {
        val c = atMin(i)
        c.seek(target)
        if (!c.done) heap.add(c)
        i += 1
      }
      atMin.clear()
      // only cursors actually below target are touched — O(touched·log m)
      while (!heap.isEmpty && heap.peek().docId < target) {
        val c = heap.poll()
        c.seek(target)
        if (!c.done) heap.add(c)
      }
    }

    def tf: Int = {
      fill()
      var s = 0
      var i = 0
      while (i < atMin.length) { s += atMin(i).tf; i += 1 }
      s
    }

    def docLen: Int = {
      fill()
      if (atMin.isEmpty) 0 else atMin(0).docLen
    }

    def addonVal: Long = {
      fill()
      if (atMin.isEmpty) 0L else atMin(0).addon
    }

    def positions: (Array[Int], Array[Byte]) = {
      fill()
      val ps = mutable.ArrayBuffer.empty[(Int, Byte)]
      var i = 0
      while (i < atMin.length) {
        val (p, w) = atMin(i).positions
        var j = 0
        while (j < p.length) { ps += ((p(j), w(j))); j += 1 }
        i += 1
      }
      val sorted = ps.sortBy(_._1)
      (sorted.map(_._1).toArray, sorted.map(_._2).toArray)
    }

    def peekBlock(target: Long): PostingCursor.BlockInfo = null
  }

  /** member count above which prefix unions use the heap cursor */
  val HeapUnionThreshold = 64

  /** One task's view of one cached shard record: each term's run
    * partition is memoized for the batch, so a fused msearch batch that
    * evaluates MANY specs over the same shard builds each spec's cursors
    * from O(|spec's terms|) binary searches. Cursors built from the view
    * are always FRESH; the record is shared and immutable, the memo
    * belongs to this task. Not thread-safe (one task owns it).
    */
  final class ShardView(record: ShardRecord, handed: Long => Unit) {
    // runs × chunk-rows-in-run, as block arrays (see [[termCursors]])
    private val runs = new TermMemo(record, handed)(ShardView.runsOf)

    def termsOf(k: KeySpec): Range = record.termsOf(k)

    /** fresh streaming cursors over term `i`'s runs (one per run) */
    def termCursors(i: Int): Array[PostingCursor] =
      runs(i).map(run => new PostingCursor(run.iterator))
  }

  object ShardView {
    // One term's chunk rows normally have disjoint ascending docId ranges
    // (single-build layout) → one streaming cursor. After incremental
    // appends (micro-segments, the ruminsert path: src/ruminsert.c:799-837)
    // ranges overlap → k-way merge of the non-ascending runs
    // (rumMergeRumItems semantics, src/rumdatapage.c:367-408).
    private def runsOf(rows: Array[PostingRow]): Array[Array[Array[PostingBlock]]] = {
      val sorted = rows.sortBy(_.blocks.head.firstDoc)
      val runs = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[PostingRow]]
      sorted.foreach { r =>
        if (runs.nonEmpty && r.blocks.head.firstDoc > runs.last.last.blocks.last.lastDoc)
          runs.last += r // extends the run: still strictly ascending
        else runs += mutable.ArrayBuffer(r) // overlap → separate run to merge
      }
      runs.map(_.map(_.blocks).toArray).toArray
    }
  }

  /** Build one cursor per query key over a [[ShardView]] — the
    * fused-msearch path shares one view across every spec in the batch.
    * Chunk rows of one term are ordered by their first docId (disjoint
    * ranges by construction — the builder splits long terms by docId range).
    */
  def buildCursors(keys: Array[KeySpec], view: ShardView): Array[KeyCursor] =
    keys.map { k =>
      val terms = view.termsOf(k)
      if (terms.isEmpty) EmptyCursor
      else if (!k.prefix) {
        val cs = view.termCursors(terms.head)
        if (cs.length == 1) new SingleCursor(cs(0)) else new UnionCursor(cs)
      } else {
        val cs = terms.toArray.flatMap(view.termCursors)
        if (cs.length > HeapUnionThreshold) new HeapUnionCursor(cs)
        else new UnionCursor(cs)
      }
    }

  /** Provider over the current candidate: positions decoded lazily, cached
    * per key per candidate.
    */
  private final class CursorProvider(cursors: Array[KeyCursor]) extends TsEval.Provider {
    private val cachePos = new Array[Array[Int]](cursors.length)
    private val cacheW = new Array[Array[Byte]](cursors.length)
    private val cached = new Array[Boolean](cursors.length)
    var cand: Long = -1L

    def reset(c: Long): Unit = {
      cand = c
      java.util.Arrays.fill(cached, false)
    }

    private def load(k: Int): Unit = {
      if (!cached(k)) {
        val cur = cursors(k)
        if (!cur.done && cur.docId == cand) {
          val (p, w) = cur.positions
          // empty payload (no positions stored) still means "present":
          // represent as a single sentinel position so boolean eval works
          if (p.length == 0) { cachePos(k) = Array(1); cacheW(k) = Array(0.toByte) }
          else { cachePos(k) = p; cacheW(k) = w }
        } else { cachePos(k) = null; cacheW(k) = null }
        cached(k) = true
      }
    }

    def positions(k: Int): Array[Int] = { load(k); cachePos(k) }
    def wclasses(k: Int): Array[Byte] = { load(k); cacheW(k) }
  }

  // ------------------------------------------------------------------
  // match / rank drivers
  // ------------------------------------------------------------------

  /** Bounded best-k collector: keeps k smallest (distance, docId). */
  private final class TopKHeap(k: Int) {
    // max-heap on (distance, docId): head = current worst
    private val pq = mutable.PriorityQueue.empty[(Double, Long, Long)](
      Ordering.by { case (d, id, _) => (d, id) })
    def offer(dist: Double, docId: Long, addon: Long): Unit = {
      if (pq.size < k) pq.enqueue((dist, docId, addon))
      else {
        val (wd, wid, _) = pq.head
        if (dist < wd || (dist == wd && docId < wid)) {
          pq.dequeue(); pq.enqueue((dist, docId, addon))
        }
      }
    }
    def drain(): Iterator[(Long, Double, Long)] =
      pq.iterator.map { case (d, id, a) => (id, d, a) }.toArray.iterator
  }

  /** Regular scan driver (scanGetItemRegular, src/rumget.c:1426-1568):
    * candidates = min over positive-key streams; all key cursors seek to
    * the candidate; full consistency + optional cover-density scoring.
    * Reads a [[ShardView]] shared by every slot of the batch. Returns
    * (docId, distance, addon) — distance 0.0 when score=false; k > 0 with
    * score keeps the shard's k best, else every match streams out.
    */
  def matchShard(cq: CompiledQuery, keys: Array[KeySpec], view: ShardView,
                 score: Boolean, k: Int,
                 method: Int = 0, scoreCq: CompiledQuery = null,
                 scoreMap: Array[Int] = null): Iterator[(Long, Double, Long)] = {
    val cursors = buildCursors(keys, view)
    // fast scan: when some keys are required in every match, candidates
    // come from their seek-join intersection (far fewer consistency checks
    // than the union — and a required term absent from the shard yields
    // zero candidates without touching the other streams); pure-OR queries
    // fall back to the positive-key union
    val reqIdx = requiredKeys(cq)
    val cands =
      if (reqIdx.nonEmpty) intersectionStream(cursors, reqIdx)
      else candidateStream(cursors, positiveKeys(cq))
    driver(cq, cursors, cands, score, matchOnly = true, k, method = method,
      scoreCq = scoreCq, scoreMap = scoreMap)
  }

  /** Per-shard composite top-k: `WHERE q ORDER BY key1, key2, ..., docId
    * LIMIT k` lexicographic (the reference sorts the whole
    * distances[norderbys] vector then TID, src/rumget.c:2218-2301
    * insertScanItem / src/rumsort.c:3977-4022) — the Order2, addon top-k
    * and [[Searcher.topKMulti]] slots of the primary layout. `matches` is
    * the slot's unbounded match stream ([[matchShard]] or [[fullScanShard]]
    * with k = 0, ranked when a key is the rank): their own heaps order by
    * (rank, docId) alone — NOT a prefix of the composite key when an addon
    * key comes first or follows — so pruning happens here on the FULL
    * composite: no shard can drop a row a later tie-break would promote.
    * One-sided addon misses are excluded (the engine's finite-only
    * contract). Emits the ≤ k survivors as (docId, rank, addon), unordered;
    * the global step re-ranks them by the same keys.
    */
  def compositeShard(matches: Iterator[(Long, Double, Long)], keys: Array[Searcher.SortKey],
                     k: Int): Iterator[(Long, Double, Long)] = {
    val n = keys.length
    // a composite: each key's value — a rank as its order-preserving bit
    // image, an addon distance by AltKernel.satDist — then docId
    val ord: Ordering[Array[Long]] = (x, y) => {
      var c = 0
      var i = 0
      while (c == 0 && i <= n) { c = java.lang.Long.compare(x(i), y(i)); i += 1 }
      c
    }
    // max-heap on the composite: head = current worst of the k best
    val pq = mutable.PriorityQueue.empty[(Array[Long], (Long, Double, Long))](
      Ordering.by[(Array[Long], (Long, Double, Long)), Array[Long]](_._1)(ord))
    while (matches.hasNext) {
      val m = matches.next()
      val comp = new Array[Long](n + 1)
      var miss = false
      var i = 0
      while (i < n && !miss) {
        val key = keys(i)
        if (key.rank) comp(i) = graft.build.AddonUnits.floatOrderedBits(m._2)
        else {
          comp(i) = key.dist(m._3)
          miss = comp(i) < 0L
        }
        i += 1
      }
      comp(n) = m._1
      if (!miss) {
        if (pq.size < k) pq.enqueue((comp, m))
        else if (ord.lt(comp, pq.head._1)) { pq.dequeue(); pq.enqueue((comp, m)) }
      }
    }
    pq.iterator.map(_._2)
  }

  /** Per-shard facet partials: (bucket, count) over `addons`, bucket =
    * `bucket(addon)` ([[facetBucket]]) — at most one row per non-empty
    * bucket leaves the shard. Order-independent, so the alt layout's
    * addon-ordered range stream and the primary layout's docId-ordered
    * match stream count alike.
    */
  def bucketCounts(addons: Iterator[Long], bucket: Long => Long): Iterator[(Long, Long)] = {
    val counts = mutable.LongMap.empty[Long]
    addons.foreach { a =>
      val b = bucket(a)
      counts(b) = counts.getOrElse(b, 0L) + 1L
    }
    counts.iterator
  }

  /** A facet slot's bucket start for an addon in its range: lo +
    * floor((addon-lo)/width)·width in exact Long math (addon-lo ≥ 0 in
    * range, so truncating division IS floor). `floatUnits`: `width` and
    * `lo` are [[graft.build.AddonUnits.floatOrderedBits]] images and the
    * bucket is computed in IEEE double arithmetic over the decoded value,
    * emitted as the start's RAW IEEE bits; a -0.0 start normalizes to +0.0.
    */
  def facetBucket(width: Long, lo: Long, floatUnits: Boolean): Long => Long =
    if (!floatUnits) a => lo + (a - lo) / width * width
    else {
      import graft.build.AddonUnits.floatFromOrderedBits
      val w = floatFromOrderedBits(width)
      val l = floatFromOrderedBits(lo)
      a => java.lang.Double.doubleToRawLongBits(
        l + math.floor((floatFromOrderedBits(a) - l) / w) * w + 0.0)
    }

  /** Full-corpus scan driver (scanGetItemFull, src/rumget.c:2024-2083):
    * candidates = every doc of the shard (`docs`, ascending docId), with
    * the query keys' cursors over the batch's shared [[ShardView]] pulled
    * along. The doc row supplies the addon, length and distinct-lexeme
    * count; `matchOnly = false` also emits non-matching docs (order-only
    * scans).
    */
  def fullScanShard(cq: CompiledQuery, keys: Array[KeySpec],
                    docs: Array[DocRow], view: ShardView,
                    score: Boolean, matchOnly: Boolean, k: Int, method: Int = 0,
                    scoreCq: CompiledQuery = null,
                    scoreMap: Array[Int] = null): Iterator[(Long, Double, Long)] = {
    // the driver evaluates each candidate as soon as it is drawn, so the
    // doc lookups below always ask for the current row
    var cur: DocRow = null
    driver(cq, buildCursors(keys, view),
      docs.iterator.map { d => cur = d; d.docId },
      score, matchOnly, k, addonOf = _ => cur.addon, lenOf = _ => cur.len,
      uniqOf = _ => cur.uniq, method = method, scoreCq = scoreCq, scoreMap = scoreMap)
  }

  /** Candidate docIds = ascending union of the given key streams.
    * NOTE: consumes the cursors' position by peeking mins; the driver
    * re-seeks all cursors per candidate, which is safe because candidates
    * ascend monotonically.
    */
  private def candidateStream(cursors: Array[KeyCursor], candIdx: Array[Int]): Iterator[Long] =
    new Iterator[Long] {
      private var nextCand = Long.MaxValue
      private var last = Long.MinValue
      private def advance(): Unit = {
        nextCand = Long.MaxValue
        var i = 0
        while (i < candIdx.length) {
          val c = cursors(candIdx(i))
          if (!c.done && c.docId <= last) c.seek(last + 1)
          if (!c.done && c.docId < nextCand) nextCand = c.docId
          i += 1
        }
      }
      def hasNext: Boolean = { advance(); nextCand != Long.MaxValue }
      def next(): Long = { advance(); last = nextCand; nextCand }
    }

  /** Candidate docIds = seek-join (leapfrog) intersection of the required
    * key streams: repeatedly seek every required cursor to the current
    * maximum until they agree. Like [[candidateStream]], emitted candidates
    * ascend and each cursor is left positioned AT the candidate, so the
    * driver's per-candidate re-seek of all cursors stays a no-op for these.
    */
  private def intersectionStream(cursors: Array[KeyCursor], reqIdx: Array[Int]): Iterator[Long] =
    new Iterator[Long] {
      private var nextCand = Long.MaxValue
      private var last = Long.MinValue
      private def advance(): Unit = {
        var target = if (last == Long.MinValue) Long.MinValue else last + 1
        var settled = false
        while (!settled) {
          settled = true
          var i = 0
          while (i < reqIdx.length) {
            val c = cursors(reqIdx(i))
            if (!c.done && c.docId < target) c.seek(target)
            if (c.done) { nextCand = Long.MaxValue; return }
            if (c.docId > target) { target = c.docId; settled = false }
            i += 1
          }
        }
        nextCand = target
      }
      def hasNext: Boolean = { advance(); nextCand != Long.MaxValue }
      def next(): Long = { advance(); last = nextCand; nextCand }
    }

  /** `scoreCq`/`scoreMap`: when set, matching runs over `cq` but the
    * cover-density score is computed over `scoreCq` only, whose key j reads
    * positions from full-query key scoreMap(j) — the multicolumn ranked
    * scan, where `ORDER BY t <=> q` ranks one field's tsquery while other
    * fields contribute boolean predicates (reference: multicolumn ordered
    * scans, sql/orderby.sql:89-106 — rank inputs and filter columns are
    * separate keys of one index).
    */
  private def driver(cq: CompiledQuery, cursors: Array[KeyCursor], cands: Iterator[Long],
                     score: Boolean, matchOnly: Boolean, k: Int,
                     addonOf: Long => Long = null, lenOf: Long => Int = null,
                     uniqOf: Long => Int = null,
                     method: Int = 0, scoreCq: CompiledQuery = null,
                     scoreMap: Array[Int] = null): Iterator[(Long, Double, Long)] = {
    val provider = new CursorProvider(cursors)
    val heap = if (k > 0 && score) new TopKHeap(k) else null
    // evaluate one candidate in stream order; null = rejected
    def eval(cand: Long): (Long, Double, Long) = {
      var i = 0
      while (i < cursors.length) {
        val c = cursors(i)
        if (!c.done && c.docId < cand) c.seek(cand)
        i += 1
      }
      provider.reset(cand)
      val isMatch = TsEval.matches(cq, provider)
      // addon: from the docs stream if present, else any cursor at cand
      var addon = if (addonOf != null) addonOf(cand) else 0L
      if (addonOf == null) {
        var j = 0
        var found = false
        while (j < cursors.length && !found) {
          val c = cursors(j)
          if (!c.done && c.docId == cand) { addon = c.addonVal; found = true }
          j += 1
        }
      }
      if (!(isMatch || !matchOnly)) return null
      val d =
        if (!score) 0.0
        else {
          val sCq = if (scoreCq != null) scoreCq else cq
          val kp = new Array[Array[Int]](sCq.numKeys)
          val kw = new Array[Array[Byte]](sCq.numKeys)
          var j = 0
          while (j < sCq.numKeys) {
            val src = if (scoreMap != null) scoreMap(j) else j
            kp(j) = provider.positions(src); kw(j) = provider.wclasses(src)
            j += 1
          }
          // doc length for length norms: docs stream if present, else
          // any posting cursor at the candidate carries it
          var dlen = if (lenOf != null) lenOf(cand) else 0
          if (dlen == 0) {
            var m = 0
            while (m < cursors.length && dlen == 0) {
              val c = cursors(m)
              if (!c.done && c.docId == cand) dlen = c.docLen
              m += 1
            }
          }
          val nUniq = if (uniqOf != null) uniqOf(cand) else 0
          CoverRank.distance(sCq, kp, kw, method, dlen, nUniq).toDouble
        }
      (cand, d, addon)
    }
    if (heap != null) {
      // bounded top-k: consume fully, emit the k survivors
      while (cands.hasNext) {
        val r = eval(cands.next())
        if (r != null) heap.offer(r._2, r._1, r._3)
      }
      heap.drain()
    } else new Iterator[(Long, Double, Long)] {
      // LAZY: match rows stream straight out of the candidate walk — a
      // match-heavy query never materializes its per-shard match set on
      // the task heap (evaluation order is unchanged, so cursor/provider
      // state advances exactly as the strict loop did)
      private var nextRow: (Long, Double, Long) = null
      private def fill(): Unit = {
        while (nextRow == null && cands.hasNext) nextRow = eval(cands.next())
      }
      def hasNext: Boolean = { fill(); nextRow != null }
      def next(): (Long, Double, Long) = {
        fill(); val r = nextRow; nextRow = null; r
      }
    }
  }

  // ------------------------------------------------------------------
  // BM25 WAND
  // ------------------------------------------------------------------

  /** WAND top-k over a bag of terms (fast scan, src/rumget.c:1900-2017:
    * frontier sorted by current docId, advance only when the upper-bound
    * sum can beat the threshold). Upper bounds from per-term maxTf; block
    * seeks skip compressed blocks via first/last metadata.
    * Emits the shard-local top-k from a [[ShardView]] shared by every
    * slot of the batch.
    */
  def wandShard(terms: Array[String], dfs: Array[Long], ubs: Array[Double],
                numDocs: Long, avgLen: Double, k: Int,
                view: ShardView): Iterator[(Long, Double)] = {
    val specs = terms.zipWithIndex.map { case (t, i) => KeySpec(i, t, prefix = false) }
    val cursors = buildCursors(specs, view)
    val nT = terms.length
    // heap keeps k best: evict smallest score (ties: evict larger docId)
    val pq = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    def theta: Double = if (pq.size < k) -1.0 else pq.head._1
    def offer(s: Double, id: Long): Unit = {
      if (pq.size < k) pq.enqueue((s, id))
      else {
        val (ws, wid) = pq.head
        if (s > ws || (s == ws && id < wid)) { pq.dequeue(); pq.enqueue((s, id)) }
      }
    }

    val order = (0 until nT).toArray // indexes sorted by cursor docId
    var running = true
    while (running) {
      // sort frontier by docId, done cursors sink to the end (insertion
      // sort: the frontier is nearly sorted between rounds)
      var a = 1
      while (a < nT) {
        val v = order(a)
        val vd = if (cursors(v).done) Long.MaxValue else cursors(v).docId
        var b = a - 1
        while (b >= 0 && (if (cursors(order(b)).done) Long.MaxValue else cursors(order(b)).docId) > vd) {
          order(b + 1) = order(b); b -= 1
        }
        order(b + 1) = v
        a += 1
      }
      if (cursors(order(0)).done) running = false
      else {
        // find pivot: first frontier index where cumulative UB beats theta
        val th = theta
        var cum = 0.0
        var pivot = -1
        var i = 0
        while (i < nT && pivot < 0) {
          val c = cursors(order(i))
          if (!c.done) {
            cum += ubs(order(i))
            if (cum > th) pivot = i
          }
          i += 1
        }
        if (pivot < 0) running = false
        else {
          val pivotDoc = cursors(order(pivot)).docId
          if (cursors(order(0)).docId == pivotDoc) {
            // block-max refinement (the BMW step): header-only bound over
            // the frontier's current blocks; when even the block maxes
            // cannot beat θ, jump past the tightest block end instead of
            // scoring every doc in it (the reference reads this bound from
            // its intra-page item indexes, src/rumget.c:1574-1694)
            var skipTo = -1L
            if (th > 0) {
              var bub = 0.0
              var blockEnd = Long.MaxValue
              var known = true
              var j = 0
              while (j <= pivot && known) {
                val c = cursors(order(j))
                if (!c.done) {
                  val b = c.peekBlock(pivotDoc)
                  if (b == null) known = false
                  else {
                    bub += Bm25.maxTermScore(b.maxTf, dfs(order(j)), avgLen, numDocs)
                    if (b.lastDoc < blockEnd) blockEnd = b.lastDoc
                  }
                }
                j += 1
              }
              if (known && bub < th && blockEnd != Long.MaxValue) {
                // safe range end: also capped by the next frontier docId so
                // the contributing-cursor set stays fixed over the range
                val dCap =
                  if (pivot + 1 < nT && !cursors(order(pivot + 1)).done)
                    cursors(order(pivot + 1)).docId
                  else Long.MaxValue
                val d = math.min(blockEnd + 1, dCap)
                if (d > pivotDoc) skipTo = d
              }
            }
            if (skipTo > 0) {
              var j = 0
              while (j <= pivot) {
                val c = cursors(order(j))
                if (!c.done && c.docId < skipTo) c.seek(skipTo)
                j += 1
              }
            } else {
              // fully evaluate pivotDoc
              var s = 0.0
              var j = 0
              while (j < nT) {
                val c = cursors(order(j))
                if (!c.done) {
                  if (c.docId < pivotDoc) c.seek(pivotDoc)
                  if (!c.done && c.docId == pivotDoc)
                    s += Bm25.termScore(c.tf, dfs(order(j)), c.docLen.toLong, avgLen, numDocs)
                }
                j += 1
              }
              offer(s, pivotDoc)
              j = 0
              while (j < nT) {
                val c = cursors(order(j))
                if (!c.done && c.docId == pivotDoc) c.next()
                j += 1
              }
            }
          } else {
            // advance laggards up to pivotDoc
            var j = 0
            while (j < pivot) {
              val c = cursors(order(j))
              if (!c.done && c.docId < pivotDoc) c.seek(pivotDoc)
              j += 1
            }
          }
        }
      }
    }
    pq.iterator.map { case (s, id) => (id, s) }.toArray.iterator
  }
}
