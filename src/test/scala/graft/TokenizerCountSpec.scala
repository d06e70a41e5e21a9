package graft
import org.scalatest.funsuite.AnyFunSuite
import graft.tokenize.Tokenizer
import scala.util.Random
class TokenizerCountSpec extends AnyFunSuite {
  test("occurrences groups per term, term-sorted, positions ascending (seeded property)") {
    // pins the primitive-array grouper's contract: output sorted by term,
    // positions 1-based ascending per term, weight classes aligned, and
    // the multiset of (term, pos) pairs exactly the input token stream
    val rnd = new Random(11)
    val vocab = Array("a", "bb", "ccc", "d0", "e", "ff", "zz")
    for (_ <- 1 to 200) {
      val toks = Array.fill(rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length)))
      val occs = Tokenizer.occurrences(toks, (_, pos) => (pos % 4).toByte)
      assert(occs.map(_.term).toSeq == occs.map(_.term).toSeq.sorted)
      assert(occs.map(_.term).distinct.length == occs.length)
      occs.foreach { o =>
        assert(o.positions.toSeq == o.positions.toSeq.sorted)
        assert(o.positions.length == o.wclasses.length)
        o.positions.zip(o.wclasses).foreach { case (p, w) =>
          assert(toks(p - 1) == o.term)
          assert(w == (p % 4).toByte)
        }
      }
      val pairs = occs.flatMap(o => o.positions.map(p => (o.term, p))).sortBy(_._2)
      assert(pairs.toSeq == toks.zipWithIndex.map { case (t, i) => (t, i + 1) }.toSeq)
    }
  }
}
