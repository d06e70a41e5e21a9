package graft.search

import scala.collection.mutable

import graft.build.PostingRow
import graft.core.{PostingBlock, PostingBlocks, PostingListBuilder}
import graft.query.{CompiledQuery, TsEval}

/** Alternative-order scan kernel — RUM's order_by_attach layout where each
  * posting list is ordered by (addInfo, docId) instead of docId
  * (reference: src/rumdatapage.c:327-360 compareRumItem on addInfo first;
  * scan direction handling src/rumscan.c:461-554; ordered gettuple
  * src/rumget.c:2303-2327), so `WHERE t @@ q ORDER BY d <=> c LIMIT k`
  * streams matches outward from c and stops after k consistency checks —
  * cost tracks k, not the match count.
  *
  * Block reinterpretation (see [[graft.core.PostingListBuilder]] allowTies):
  * the key slot holds the addon (ascending, ties = equal addons, docId
  * ascending within a tie run), the addon slot holds the docId.
  * Addons may be ANY signed long (negative scalars, epoch-spanning
  * timestamps — reference sql/int4.sql:7-19 orders (-2..3) by `<=> 0`):
  * the key-slot codec delta-encodes the SIGNED ascending sequence with
  * wrap-safe gaps ([[graft.core.VarByte.encodeDeltas]]) and every
  * comparison in this kernel is signed. Distances saturate at
  * Long.MaxValue ([[satDist]]); the primary kernel ranks its addon top-k
  * by the same function, so both layouts tie-break identically beyond the
  * representable range.
  */
object AltKernel extends Serializable {

  /** Direction-agnostic cursor over one key's merged alt-order blocks. */
  private final class AltCur(blocks: Array[PostingBlock], forward: Boolean) {
    private var bi = if (forward) 0 else blocks.length - 1
    private var dec: PostingBlocks.Decoded = _
    private var i = 0
    var done: Boolean = blocks.isEmpty
    if (!done) { load(); i = if (forward) 0 else dec.n - 1 }

    private def load(): Unit = dec = PostingBlocks.decode(blocks(bi))

    def key: Long = dec.keys(i)  // addon
    def sub: Long = dec.subs(i)  // docId
    def positions: (Array[Int], Array[Byte]) = dec.positionsAt(i)

    def step(): Unit = {
      if (forward) {
        i += 1
        if (i >= dec.n) {
          bi += 1
          if (bi >= blocks.length) done = true else { load(); i = 0 }
        }
      } else {
        i -= 1
        if (i < 0) {
          bi -= 1
          if (bi < 0) done = true else { load(); i = dec.n - 1 }
        }
      }
    }

    /** current composite strictly precedes (k, s) in scan direction */
    def before(k: Long, s: Long): Boolean =
      if (forward) key < k || (key == k && sub < s)
      else key > k || (key == k && sub > s)

    def at(k: Long, s: Long): Boolean = !done && key == k && sub == s

    /** advance in scan direction to the first composite >= (k,s)
      * [forward] / <= (k,s) [backward]; whole blocks skipped via headers.
      */
    def stepToward(k: Long, s: Long): Unit = {
      if (done || !before(k, s)) return
      if (forward) {
        if (blocks(bi).lastDoc < k) {
          while (!done && blocks(bi).lastDoc < k) {
            bi += 1
            if (bi >= blocks.length) done = true
          }
          if (done) return
          load(); i = 0
        }
        if (dec.keys(i) < k) {
          var lo = i
          var hi = dec.n - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (dec.keys(mid) < k) lo = mid + 1 else hi = mid
          }
          i = lo
        }
        while (!done && before(k, s)) step()
      } else {
        if (blocks(bi).firstDoc > k) {
          while (bi >= 0 && blocks(bi).firstDoc > k) bi -= 1
          if (bi < 0) { done = true; return }
          load(); i = dec.n - 1
        }
        if (dec.keys(i) > k) {
          var lo = 0
          var hi = i
          while (lo < hi) {
            val mid = (lo + hi + 1) >>> 1
            if (dec.keys(mid) > k) hi = mid - 1 else lo = mid
          }
          i = lo
        }
        while (!done && before(k, s)) step()
      }
    }
  }

  /** One task's alt-layout cell table over one cached shard record: each
    * query key's merged/unioned block array is memoized — a fused batch of
    * ordered-scan specs shares one instance per shard, so a term or prefix
    * expansion appearing in several specs is merged once (the alt twin of
    * [[SearchKernel.ShardView]]). Cell arrays are immutable; the
    * direction-stateful cursors are built fresh per spec. The record is
    * shared; this table is not thread-safe (one task owns it).
    *
    * Micro-segment runs from incremental appends overlap in addon range;
    * they are merge-sorted and repacked once per (query key, shard) — the
    * query-time analogue of the primary path's UnionCursor.
    */
  final class ShardCells(record: ShardRecord, handed: Long => Unit) {
    private val termRuns = new TermMemo(record, handed)(runsOf)
    private val cellCache = mutable.HashMap.empty[(String, Boolean), Array[PostingBlock]]

    def cellFor(k: SearchKernel.KeySpec): Array[PostingBlock] =
      cellCache.getOrElseUpdate((k.term, k.prefix), {
        val terms = record.termsOf(k)
        if (terms.isEmpty) Array.empty[PostingBlock] else mergedUnion(terms.map(termRuns(_)))
      })

    /** Group chunk rows into maximal strictly-ascending runs in
      * (firstDoc, chunk) order — each run is an internally (addon, docId)-
      * sorted stream; overlapping micro-segments land in separate runs.
      * Run index order = arrival order, which keep-first dedup relies on.
      */
    private def runsOf(rs: Array[PostingRow]): Array[Array[PostingRow]] = {
      val sorted = rs.sortBy(r => (r.blocks.head.firstDoc, r.chunk))
      val runs = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[PostingRow]]
      sorted.foreach { r =>
        if (runs.nonEmpty &&
            r.blocks.head.firstDoc > runs.last.last.blocks.last.lastDoc)
          runs.last += r
        else runs += mutable.ArrayBuffer(r)
      }
      runs.map(_.toArray).toArray
    }

    /** One key's cell: the union of ALL its terms' entries (one term for
      * an exact key, every expansion for a prefix); equal (addon, docId)
      * composites merge their payloads — tf sums, position lists
      * interleave — exactly the primary path's UnionCursor semantics
      * (rum_ts_join_pos, src/rum_ts_utils.c:1564-1645).
      *
      * A single ascending run (the compacted/bulk-built layout of one term)
      * is its blocks concatenated. Otherwise: STREAMING k-way merge over
      * per-(term, run) cursors ordered by (term, run) into the repack
      * builder — O(runs) decoded blocks live at a time, so a skewed hot
      * term between compactions never materializes all its postings on one
      * task. At a tie composite the first cursor of each term wins (keep-
      * first per term: overlapping micro-segments re-ship the same entry
      * and must not inflate tf; run order is (firstDoc, chunk) arrival
      * order), and terms contribute in ascending-term order.
      */
    private def mergedUnion(runs: Seq[Array[Array[PostingRow]]]): Array[PostingBlock] = {
      if (runs.length == 1 && runs(0).length == 1) return runs(0)(0).flatMap(_.blocks)
      val cursors = mutable.ArrayBuffer.empty[RunCur]
      val termIdx = mutable.ArrayBuffer.empty[Int]
      runs.zipWithIndex.foreach { case (termRuns, ti) =>
        termRuns.foreach { run =>
          cursors += new RunCur(run)
          termIdx += ti
        }
      }
      val builder = new PostingListBuilder(allowTies = true)
      val at = mutable.ArrayBuffer.empty[Int]
      var live = cursors.count(!_.done)
      while (live > 0) {
        var k = 0L
        var s = 0L
        var first = true
        var i = 0
        while (i < cursors.length) {
          val c = cursors(i)
          if (!c.done && (first || c.key < k || (c.key == k && c.sub < s))) {
            k = c.key; s = c.sub; first = false
          }
          i += 1
        }
        at.clear()
        i = 0
        while (i < cursors.length) {
          if (!cursors(i).done && cursors(i).key == k && cursors(i).sub == s)
            at += i
          i += 1
        }
        if (termIdx(at.head) == termIdx(at.last)) {
          // one term at this composite: its first run's entry, as stored
          val c = cursors(at.head)
          builder.add(k, c.tf, c.len, c.rawPos, s)
        } else {
          // union the tie composite: sum tf over DISTINCT terms (first run
          // of each term wins), merge their (pos, wclass) streams
          var tf = 0
          var len = 0
          var haveLen = false
          val mergedPos = mutable.ArrayBuffer.empty[(Int, Byte)]
          var lastTi = -1
          at.foreach { ci =>
            val ti = termIdx(ci)
            if (ti != lastTi) {
              lastTi = ti
              val c = cursors(ci)
              if (!haveLen) { len = c.len; haveLen = true }
              tf += c.tf
              val (ps, ws) = graft.core.PositionCodec.decode(c.rawPos)
              var x = 0
              while (x < ps.length) { mergedPos += ((ps(x), ws(x))); x += 1 }
            }
          }
          val byPos = mergedPos.sortBy(_._1)
          // dedup equal positions (same term re-inserted across runs)
          val dp = mutable.ArrayBuffer.empty[(Int, Byte)]
          byPos.foreach { pw => if (dp.isEmpty || dp.last._1 != pw._1) dp += pw }
          builder.add(k, tf, len,
            graft.core.PositionCodec.encode(dp.map(_._1).toArray, dp.map(_._2).toArray),
            s)
        }
        at.foreach { ci =>
          val c = cursors(ci)
          c.step()
          if (c.done) live -= 1
        }
      }
      builder.result()
    }

  }

  /** Forward-only streaming cursor over one ascending run's chunk rows —
    * decodes ONE block at a time (the bounded-memory unit of the ShardCells
    * repack merge).
    */
  private final class RunCur(rows: Array[PostingRow]) {
    private val blocks: Array[PostingBlock] = rows.flatMap(_.blocks)
    private var bi = 0
    private var dec: PostingBlocks.Decoded = _
    private var i = 0
    var done: Boolean = blocks.isEmpty
    if (!done) load()
    private def load(): Unit = { dec = PostingBlocks.decode(blocks(bi)); i = 0 }
    def key: Long = dec.keys(i)
    def sub: Long = dec.subs(i)
    def tf: Int = dec.tfs(i)
    def len: Int = dec.lens(i)
    def rawPos: Array[Byte] = dec.rawPositionsAt(i)
    def step(): Unit = {
      i += 1
      if (i >= dec.n) {
        bi += 1
        if (bi >= blocks.length) done = true else load()
      }
    }
  }

  private def buildCells(keys: Array[SearchKernel.KeySpec],
                         cells: ShardCells): Array[Array[PostingBlock]] =
    keys.map(cells.cellFor)

  /** Provider over one candidate composite; non-required cursors advance
    * monotonically in scan direction (candidates are monotone too).
    */
  private final class AltProvider(cursors: Array[AltCur]) extends TsEval.Provider {
    private val cachePos = new Array[Array[Int]](cursors.length)
    private val cacheW = new Array[Array[Byte]](cursors.length)
    private val cached = new Array[Boolean](cursors.length)
    private var a = -1L
    private var d = -1L
    def reset(addon: Long, docId: Long): Unit = {
      a = addon; d = docId
      java.util.Arrays.fill(cached, false)
    }
    private def load(k: Int): Unit = {
      if (!cached(k)) {
        val c = cursors(k)
        c.stepToward(a, d)
        if (c.at(a, d)) {
          val (p, w) = c.positions
          if (p.length == 0) { cachePos(k) = Array(1); cacheW(k) = Array(0.toByte) }
          else { cachePos(k) = p; cacheW(k) = w }
        } else { cachePos(k) = null; cacheW(k) = null }
        cached(k) = true
      }
    }
    def positions(k: Int): Array[Int] = { load(k); cachePos(k) }
    def wclasses(k: Int): Array[Byte] = { load(k); cacheW(k) }
  }

  /** Candidate driver over the alt-order streams, in scan-direction
    * (addon, docId) composite order. Two strategies, chosen once per scan:
    *
    *  - conjunctive queries (`requiredKeys` non-empty): leapfrog seek-join
    *    of the required streams — candidates are their intersection;
    *  - disjunctive queries (no key required in every match): sorted UNION
    *    of all positive-polarity streams ([[SearchKernel.positiveKeys]] —
    *    complete because a match must contain one of them unless the query
    *    matches the empty doc, which the caller gates via `needsFullScan`).
    *    This is RUM's shape: the ordered gettuple merges every scan key's
    *    entry stream by addInfo and lets the consistent fn decide
    *    (src/rumget.c:1272-1369 entryGetItem merge, :2303-2327 ordered
    *    scan) — an `ORDER BY d <=> c` with an OR tsquery early-terminates
    *    exactly like the AND shape.
    *
    * Either way candidates arrive in scan order, so distance monotonicity
    * (what early termination needs) is preserved.
    */
  private final class Driver(drv: Array[AltCur], leapfrog: Boolean) {
    var key: Long = 0L
    var sub: Long = 0L

    /** position on the next candidate; false when exhausted */
    def advanceToCandidate(): Boolean = {
      if (leapfrog) {
        if (!nextAgreed(drv)) return false
        key = drv(0).key
        sub = drv(0).sub
        true
      } else {
        var best = -1
        var i = 0
        while (i < drv.length) {
          if (!drv(i).done &&
              (best < 0 || drv(i).before(drv(best).key, drv(best).sub)))
            best = i
          i += 1
        }
        if (best < 0) false
        else {
          key = drv(best).key
          sub = drv(best).sub
          true
        }
      }
    }

    /** step past the current candidate (all streams sitting on it) */
    def step(): Unit =
      if (leapfrog) drv(0).step()
      else {
        var i = 0
        while (i < drv.length) {
          if (drv(i).at(key, sub)) drv(i).step()
          i += 1
        }
      }
  }

  private def driveIdx(cq: CompiledQuery): (Array[Int], Boolean) = {
    val req = SearchKernel.requiredKeys(cq)
    if (req.nonEmpty) (req, true)
    else (SearchKernel.positiveKeys(cq), false)
  }

  /** Leapfrog the required cursors to their next agreed composite.
    * Returns false when any stream is exhausted.
    */
  private def nextAgreed(req: Array[AltCur]): Boolean = {
    var settled = false
    while (!settled) {
      var i = 0
      while (i < req.length) { if (req(i).done) return false; i += 1 }
      val k = req(0).key
      val s = req(0).sub
      settled = true
      i = 1
      while (i < req.length && settled) {
        val c = req(i)
        c.stepToward(k, s)
        if (c.done) return false
        if (!(c.key == k && c.sub == s)) {
          req(0).stepToward(c.key, c.sub)
          settled = false
        }
        i += 1
      }
    }
    true
  }

  /** Bounded best-k on (distance, docId) — smaller is better. Distances
    * are exact Longs (saturating subtraction): double arithmetic loses
    * sub-256 resolution past 2^53, which would misorder e.g. nanosecond-
    * timestamp addons near the k boundary.
    */
  private final class Heap(k: Int) {
    private val pq = mutable.PriorityQueue.empty[(Long, Long, Long)](
      Ordering.by { case (d, id, _) => (d, id) })
    def full: Boolean = pq.size >= k
    def worstDist: Long = if (pq.isEmpty) Long.MaxValue else pq.head._1
    def offer(dist: Long, docId: Long, addon: Long): Unit = {
      if (pq.size < k) pq.enqueue((dist, docId, addon))
      else {
        val (wd, wid, _) = pq.head
        if (dist < wd || (dist == wd && docId < wid)) {
          pq.dequeue(); pq.enqueue((dist, docId, addon))
        }
      }
    }
    def drain(): Array[(Long, Long, Long)] =
      pq.toArray.map { case (d, id, a) => (id, d, a) }
  }

  /** rows = (docId, distance, addon); distance is an exact Long. */
  final case class AltResult(rows: Array[(Long, Long, Long)], visited: Int)

  /** |a - b| that saturates at Long.MaxValue instead of overflowing (an
    * extreme constant c near Long.MinValue would otherwise wrap negative
    * and corrupt heap order / early termination).
    */
  private def satSub(a: Long, b: Long): Long =
    try Math.subtractExact(a, b)
    catch { case _: ArithmeticException => Long.MaxValue }

  /** Finite-only addon distance `a <op> c` of every addon order key, on
    * both layouts: "both" = |a-c|, "left"/"right" the one-sided operators,
    * in exact Long arithmetic saturated at Long.MaxValue. Returns -1 for a
    * one-sided miss — the caller excludes the row (the engine's
    * finite-only contract). `floatUnits`: `a` and `c` are
    * [[graft.build.AddonUnits.floatOrderedBits]] images; one-sided
    * membership compares the bits (NaN > +Inf > finite) and the distance is
    * the bit image of the VALUE-space double |a-c| — order-preserving for
    * a non-negative double, with NaN above +Inf.
    */
  private[search] def satDist(a: Long, c: Long, op: String, floatUnits: Boolean = false): Long =
    op match {
      case "left" if a > c => -1L
      case "right" if a < c => -1L
      case "both" | "left" | "right" =>
        if (floatUnits)
          java.lang.Double.doubleToLongBits(Math.abs(
            graft.build.AddonUnits.floatFromOrderedBits(a) -
              graft.build.AddonUnits.floatFromOrderedBits(c)))
        else if (a >= c) satSub(a, c) else satSub(c, a)
      case other => throw new IllegalArgumentException(s"op: $other")
    }

  /** `WHERE t @@ q ORDER BY addon <op> c LIMIT k` from the alt-order
    * layout: ordered stream(s) from c with early termination once the
    * next candidate's distance can no longer improve the k best.
    * Only finite-distance matches are emitted. `visited` counts candidate
    * consistency checks — the early-termination evidence. Reads the
    * [[ShardCells]] shared by every slot of the batch.
    *
    * `floatUnits = true` serves VALUE-space float distance over addons
    * encoded with [[graft.build.AddonUnits.floatOrderedBits]]: the
    * distance closure becomes `doubleToLongBits(|decode(a) - decode(c)|)`
    * — the bit image of a non-negative double is order-preserving, so the
    * heap, cross-side merge and early termination are untouched, and the
    * emitted long distance decodes back to the exact double via
    * `longBitsToDouble`. Per-side monotonicity (what early termination
    * needs) holds because bit order = value order on each side of c.
    * NaN addons map above +Inf in both key and distance space (sort last,
    * one equivalence class — the documented AddonUnits policy).
    */
  def topKAddonShard(cq: CompiledQuery, keys: Array[SearchKernel.KeySpec],
                     shardCells: ShardCells, c: Long, op: String,
                     k: Int, floatUnits: Boolean): AltResult = {
    val cells = buildCells(keys, shardCells)
    val (drvKeys, leapfrog) = driveIdx(cq)
    require(drvKeys.nonEmpty,
      "alt scan needs candidate-driving keys (caller gates via needsFullScan)")
    val heap = new Heap(k)
    var visited = 0

    def run(forward: Boolean, startKey: Long, startSub: Long,
            dist: Long => Long): Unit = {
      val cursors = cells.map(b => new AltCur(b, forward))
      val drv = drvKeys.map(cursors)
      val provider = new AltProvider(cursors)
      drv.foreach(_.stepToward(startKey, startSub))
      val driver = new Driver(drv, leapfrog)
      var going = true
      while (going && driver.advanceToCandidate()) {
        val a = driver.key
        val d = driver.sub
        val dd = dist(a)
        if (heap.full && dd > heap.worstDist) going = false
        else {
          visited += 1
          provider.reset(a, d)
          if (TsEval.matches(cq, provider)) heap.offer(dd, d, a)
          driver.step()
        }
      }
    }

    // exact saturating Long distances: overflow-safe AND bit-exact at any
    // magnitude (double would lose sub-256 resolution past 2^53); float
    // units swap in the double-distance bit image (same ordering algebra).
    // The scan direction already keeps one-sided misses out.
    val dist = (a: Long) => satDist(a, c, "both", floatUnits)
    op match {
      case "right" => run(forward = true, c, Long.MinValue, dist)
      case "left" => run(forward = false, c, Long.MaxValue, dist)
      case "both" =>
        run(forward = true, c, Long.MinValue, dist)
        if (c != Long.MinValue)
          run(forward = false, c - 1, Long.MaxValue, dist)
      case other => throw new IllegalArgumentException(s"op: $other")
    }
    AltResult(heap.drain(), visited)
  }

  /** match AND lo <= addon <= hi, streamed from lo and stopped at hi —
    * cost tracks the in-range match count, not the total match count.
    * Emits (docId, addon) from the [[ShardCells]] shared by every slot of
    * the batch. LAZY: in-range matches stream straight off the bounded ordered scan —
    * a wide range never materializes its per-shard match set on the task
    * heap (the facet counter consumes this stream).
    */
  def rangeAddonShard(cq: CompiledQuery, keys: Array[SearchKernel.KeySpec],
                      shardCells: ShardCells, lo: Long,
                      hi: Long): Iterator[(Long, Long)] = {
    val cells = buildCells(keys, shardCells)
    val (drvKeys, leapfrog) = driveIdx(cq)
    require(drvKeys.nonEmpty,
      "alt scan needs candidate-driving keys (caller gates via needsFullScan)")
    val cursors = cells.map(b => new AltCur(b, forward = true))
    val drv = drvKeys.map(cursors)
    val provider = new AltProvider(cursors)
    drv.foreach(_.stepToward(lo, Long.MinValue))
    val driver = new Driver(drv, leapfrog)
    new Iterator[(Long, Long)] {
      private var going = true
      private var nextRow: (Long, Long) = null
      private def fill(): Unit = {
        while (nextRow == null && going && driver.advanceToCandidate()) {
          val a = driver.key
          val d = driver.sub
          if (a > hi) going = false
          else {
            provider.reset(a, d)
            if (TsEval.matches(cq, provider)) nextRow = ((d, a))
            driver.step()
          }
        }
      }
      def hasNext: Boolean = { fill(); nextRow != null }
      def next(): (Long, Long) = { fill(); val r = nextRow; nextRow = null; r }
    }
  }
}
