package graft.core

import java.io.ByteArrayOutputStream

/** Weighted-position payload codec.
  *
  * RUM stores, per (lexeme, doc) posting, a bytea of delta-compressed
  * positions where each position carries a 2-bit weight class
  * (reference: src/rum_ts_utils.c:351-423 compress_pos/decompress_pos —
  * 6-bit delta chunks with the 2-bit weight class folded into the final
  * byte). We keep the identical *information content* — (position, wclass)
  * pairs, delta on position — encoded as a varint of (delta << 2 | wclass).
  *
  * Weight classes follow PostgreSQL tsvector: 0=D (default), 1=C, 2=B, 3=A.
  * Positions are 1-based; like tsvector we cap stored positions at
  * [[PositionCodec.MaxPos]] and store at most [[PositionCodec.MaxNumPos]]
  * per (term, doc) — the true term frequency is stored separately in the
  * posting block, so ranking stats never lose counts.
  */
object PositionCodec {
  val MaxPos: Int = 16383    // tsvector position cap (14 bits), parity w/ PG
  val MaxNumPos: Int = 256   // tsvector MAXNUMPOS parity

  /** Encode parallel arrays of positions (strictly increasing) + weight
    * classes (0..3). Caller is responsible for capping (see [[cap]]).
    */
  def encode(positions: Array[Int], wclasses: Array[Byte]): Array[Byte] = {
    require(positions.length == wclasses.length)
    val out = new ByteArrayOutputStream(positions.length * 2)
    var prev = 0
    var i = 0
    while (i < positions.length) {
      val pos = positions(i)
      require(pos > prev, s"positions must be strictly increasing: $pos after $prev")
      val w = wclasses(i) & 0x3
      VarByte.writeUInt(out, ((pos - prev).toLong << 2) | w)
      prev = pos
      i += 1
    }
    out.toByteArray
  }

  /** Count encoded positions without materializing them. */
  def count(bytes: Array[Byte]): Int = {
    var p = 0
    var n = 0
    while (p < bytes.length) {
      while ((bytes(p) & 0x80) != 0) p += 1
      p += 1
      n += 1
    }
    n
  }

  /** Decode to (positions, wclasses). */
  def decode(bytes: Array[Byte]): (Array[Int], Array[Byte]) = {
    val n = count(bytes)
    val pos = new Array[Int](n)
    val wcl = new Array[Byte](n)
    var p = 0
    var prev = 0
    var i = 0
    while (i < n) {
      val (v, np) = VarByte.readUInt(bytes, p)
      prev += (v >>> 2).toInt
      pos(i) = prev
      wcl(i) = (v & 0x3).toByte
      p = np
      i += 1
    }
    (pos, wcl)
  }

  /** Apply tsvector-parity caps: drop positions beyond MaxPos is NOT what
    * PG does — it clamps to MaxPos; we clamp likewise but must keep strict
    * monotonicity for the delta codec, so clamped tails collapse to a
    * single occurrence at MaxPos. Truncate to MaxNumPos entries.
    *
    * Contract:
    *  - `positions` must be strictly increasing (tokenizer output is). The
    *    fast path checks only the last entry against the caps.
    *  - When nothing exceeds the caps the inputs are returned as-is
    *    (aliased, no copy), so callers must not mutate the returned arrays
    *    or the inputs afterwards.
    *  - Out-of-contract (non-increasing) input under the caps is not
    *    repaired here: it fails in [[encode]]'s strictly-increasing
    *    `require`.
    */
  def cap(positions: Array[Int], wclasses: Array[Byte]): (Array[Int], Array[Byte]) = {
    // fast path — nothing to cap (positions are strictly increasing, so
    // checking the last suffices): return the inputs as-is. This is every
    // (term, doc) of every document shorter than MaxPos tokens, so the
    // copy below is the rare case, not the common one.
    if (positions.length <= MaxNumPos &&
        (positions.length == 0 || positions(positions.length - 1) <= MaxPos))
      return (positions, wclasses)
    var n = math.min(positions.length, MaxNumPos)
    // find how many stay strictly under/equal the cap with monotonicity
    val ps = new scala.collection.mutable.ArrayBuffer[Int](n)
    val ws = new scala.collection.mutable.ArrayBuffer[Byte](n)
    var prev = 0
    var i = 0
    while (i < n) {
      val p = math.min(positions(i), MaxPos)
      if (p > prev) { ps += p; ws += wclasses(i); prev = p }
      i += 1
    }
    (ps.toArray, ws.toArray)
  }
}
