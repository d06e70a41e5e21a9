package graft.tokenize

import scala.collection.mutable

/** Deterministic tokenizers — the engine's analogue of RUM's
  * extractValue support procs (reference: src/rumutil.c:707-861
  * rumExtractEntries sorts + dedups keys keeping per-key payloads;
  * src/rum_ts_utils.c:523-624 rum_extract_tsvector emits one entry per
  * lexeme with compressed positions).
  *
  * Two specs, both stemmer-free and fully reproducible in SQL oracles:
  *
  *  - [[Tokenizer.simple]]: lowercase, tokens = maximal `[a-z0-9]+` runs;
  *    positions are 1-based token ordinals. Matches DuckDB
  *    `regexp_extract_all(lower(text), '[a-z0-9]+')`.
  *
  *  - [[Tokenizer.code]]: same runs but camelCase humps are split before
  *    lowercasing (`getFooBar` → get, foo, bar), giving code-corpus recall;
  *    the token immediately following a definition keyword gets weight
  *    class A (3) — the setweight('A') pattern applied at definition sites
  *    (reference exercises weighted lexemes in expected/rum.out:363-367 and
  *    weights[] src/rum_ts_utils.c:128).
  *
  * A third variant, [[Tokenizer.simpleTitle]], is [[Tokenizer.simple]]
  * with the leading tokens classed A — the classic
  * `setweight(to_tsvector(title),'A') || to_tsvector(body)` layout,
  * SQL-reproducible as `pos <= titleLen`.
  */
object Tokenizer {

  /** Definition keywords across common languages; the next token is the
    * defined identifier and gets weight class A.
    */
  val DefKeywords: Set[String] = Set(
    "def", "fn", "func", "function", "class", "struct", "object",
    "val", "var", "let", "const", "type", "trait", "interface", "enum")

  final case class TermOccs(term: String, positions: Array[Int], wclasses: Array[Byte]) {
    def tf: Int = positions.length
  }

  /** Lowercase alnum-run tokens, in order. */
  def simpleTokens(text: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      val lc = Character.toLowerCase(c)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) sb.append(lc)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** camelCase-splitting token stream for source code. Splits on
    * lower→Upper boundaries and ALLCAPS→Capitalized word boundaries
    * (`parseHTTPResponse` → parse, http, response), then lowercases.
    */
  def codeTokens(text: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    def flush(): Unit = if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
    var i = 0
    val n = text.length
    var prevLower = false
    var prevUpper = false
    while (i < n) {
      val c = text.charAt(i)
      val isLower = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      val isUpper = c >= 'A' && c <= 'Z'
      if (isLower || isUpper) {
        if (isUpper && prevLower) flush() // fooBar → foo|Bar
        else if (isUpper && prevUpper && i + 1 < n) {
          val next = text.charAt(i + 1)
          if (next >= 'a' && next <= 'z') flush() // HTTPResponse → HTTP|Response
        }
        sb.append(Character.toLowerCase(c))
      } else flush()
      prevLower = isLower
      prevUpper = isUpper
      i += 1
    }
    flush()
    out.toArray
  }

  /** Growable primitive (positions, wclasses) pair — the per-term payload
    * accumulator. occurrences() runs once per document across every build
    * and text-profile pass, so the per-token boxing of generic ArrayBuffers
    * is measurable GC/CPU at corpus scale.
    */
  private final class Occ {
    var ps: Array[Int] = new Array[Int](4)
    var ws: Array[Byte] = new Array[Byte](4)
    var n = 0
    def add(pos: Int, w: Byte): Unit = {
      if (n == ps.length) {
        ps = java.util.Arrays.copyOf(ps, n * 2)
        ws = java.util.Arrays.copyOf(ws, n * 2)
      }
      ps(n) = pos; ws(n) = w; n += 1
    }
  }

  /** Group a token stream into per-term sorted positions (1-based), the
    * (key, payload) shape of rumExtractEntries output. Weight class fixed
    * at D (0) unless `wclassOf` overrides per token.
    */
  def occurrences(tokens: Array[String],
                  wclassOf: (String, Int) => Byte = (_, _) => 0.toByte): Array[TermOccs] = {
    val m = new java.util.HashMap[String, Occ]()
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      var e = m.get(t)
      if (e == null) { e = new Occ; m.put(t, e) }
      e.add(i + 1, wclassOf(t, i + 1))
      i += 1
    }
    val out = new Array[TermOccs](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      val o = e.getValue
      out(j) = TermOccs(e.getKey,
        java.util.Arrays.copyOf(o.ps, o.n), java.util.Arrays.copyOf(o.ws, o.n))
      j += 1
    }
    java.util.Arrays.sort(out, Ordering.by((t: TermOccs) => t.term))
    out
  }

  def simple(text: String): Array[TermOccs] = occurrences(simpleTokens(text))

  /** Code tokens with def-site weighting: class A for the token following
    * a [[DefKeywords]] member, class D otherwise.
    */
  def code(text: String): Array[TermOccs] = {
    val toks = codeTokens(text)
    val w = new Array[Byte](toks.length)
    var i = 1
    while (i < toks.length) {
      if (DefKeywords.contains(toks(i - 1))) w(i) = 3
      i += 1
    }
    occurrences(toks, (_, pos) => w(pos - 1))
  }

  /** Simple tokens with title weighting: positions 1..titleLen are class A,
    * the rest class D.
    */
  def simpleTitle(text: String, titleLen: Int): Array[TermOccs] =
    occurrences(simpleTokens(text), (_, pos) => if (pos <= titleLen) 3 else 0)
}
