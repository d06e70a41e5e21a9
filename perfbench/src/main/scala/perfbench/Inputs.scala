package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.PositionCodec
import graft.sources.CorpusGen
import graft.tokenize.Tokenizer

/** One document as the brute-force checks see it: each term's positions,
  * capped the way the index caps them.
  */
final class DocTerms(val docId: Long, occs: Array[Tokenizer.TermOccs]) {
  private val terms = new java.util.HashMap[String, Array[Int]](occs.length * 2)
  occs.foreach(o => terms.put(o.term, PositionCodec.cap(o.positions, o.wclasses)._1))
  val tokens: Long = occs.map(_.tf.toLong).sum

  def termSet: java.util.Set[String] = terms.keySet
  def has(t: String): Boolean = terms.containsKey(t)
  def hasPrefix(p: String): Boolean = terms.keySet.stream.anyMatch(_.startsWith(p))
  def phrase(a: String, b: String): Boolean = {
    val pa = terms.get(a)
    val pb = terms.get(b)
    pa != null && pb != null && pa.exists(p => java.util.Arrays.binarySearch(pb, p + 1) >= 0)
  }
}

/** A tsquery the benchmark both sends to the engine (rendered) and
  * evaluates itself over [[DocTerms]].
  */
sealed trait Expr {
  def render: String
  def eval(d: DocTerms): Boolean
}

object Expr {
  final case class Lex(t: String) extends Expr {
    def render: String = t
    def eval(d: DocTerms): Boolean = d.has(t)
  }
  final case class Prefix(p: String) extends Expr {
    def render: String = s"$p:*"
    def eval(d: DocTerms): Boolean = d.hasPrefix(p)
  }
  final case class Phrase(a: String, b: String) extends Expr {
    def render: String = s"$a <-> $b"
    def eval(d: DocTerms): Boolean = d.phrase(a, b)
  }
  final case class Not(t: String) extends Expr {
    def render: String = s"!$t"
    def eval(d: DocTerms): Boolean = !d.has(t)
  }
  final case class And(l: Expr, r: Expr) extends Expr {
    def render: String = s"${wrap(l)} & ${wrap(r)}"
    def eval(d: DocTerms): Boolean = l.eval(d) && r.eval(d)
  }
  final case class Or(l: Expr, r: Expr) extends Expr {
    def render: String = s"${wrap(l)} | ${wrap(r)}"
    def eval(d: DocTerms): Boolean = l.eval(d) || r.eval(d)
  }
  private def wrap(e: Expr): String = e match {
    case _: And | _: Or | _: Phrase => s"(${e.render})"
    case _ => e.render
  }
}

/** Terms ranked by document frequency (most frequent first), so queries
  * can be drawn by rank and reach both head and tail posting lists.
  */
final class Vocab(docs: Seq[DocTerms]) {
  val ranked: Array[String] = {
    val df = new java.util.HashMap[String, Integer]()
    docs.foreach(_.termSet.forEach(t => df.merge(t, 1, (a: Integer, b: Integer) => a + b)))
    val es = df.entrySet.toArray(Array.empty[java.util.Map.Entry[String, Integer]])
    es.sortBy(e => (-e.getValue.intValue, e.getKey)).map(_.getKey)
  }

  /** A term at a log-uniform rank: every decade of ranks is drawn equally
    * often, so head terms recur and the tail is still reached.
    */
  def draw(rng: SplittableRandom): String = {
    val r = math.exp(rng.nextDouble() * math.log(ranked.length.toDouble)).toInt - 1
    ranked(math.max(0, math.min(r, ranked.length - 1)))
  }
}

object Inputs {

  /** `n` files of the synthetic code corpus: rows [seed*n, (seed+1)*n). */
  def codeCorpus(spark: SparkSession, seed: Long, n: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    CorpusGen.withDocId(
      spark.range(seed * n, (seed + 1) * n, 1, partitions)
        .map(i => CorpusGen.genRow(i))
        .toDF("repo", "path", "commit", "lang", "content"))
  }

  /** Words of the prose corpus: a small vocabulary of equally likely words
    * and one rare word, the shape of short analytics notes.
    */
  val ProseWords: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")
  val RareWord = "dup"

  /** `n` prose documents of 10 to 100 words; ids ascend in commit order. */
  def prose(seed: Long, n: Int): Array[(Long, String)] = {
    val rng = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val len = 10 + rng.nextInt(91)
      val words = Array.fill(len)(ProseWords(rng.nextInt(ProseWords.length)))
      if (rng.nextInt(20) == 0) words(rng.nextInt(len)) = RareWord
      (seed * 1000000L + i, words.mkString(" "))
    }
  }
}
