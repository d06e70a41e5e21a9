package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.query.{CompiledQuery, CoverRank, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.tokenize.Tokenizer

/** Cover-density top-k against a brute-force reference: every doc of a
  * generated corpus is tokenized here, matched with [[TsEval]] and ranked
  * with [[CoverRank]] over its tokenizer positions, then sorted by
  * (distance, docId). The solo `topKCover` and a `Cover` slot inside a
  * mixed batch must both return exactly that prefix — the check that does
  * not lean on another serving path of the engine.
  */
class CoverTopKSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 1200
  // the cover shape depends on i % 3 (alpha..beta gap) and a few extras;
  // every other token is filler, so many docs share one distance
  private def text(i: Int): String = {
    val sb = new StringBuilder
    for (j <- 0 until i % 4) sb.append(s"pad$j ")
    sb.append("alpha ")
    for (_ <- 0 until i % 3) sb.append("gap ")
    sb.append("beta ")
    if (i % 5 == 0) sb.append("alpha gamma ")
    if (i % 7 == 0) sb.append("beta ")
    for (j <- 0 until i % 6) sb.append(s"tail$j ")
    sb.toString
  }

  private lazy val searcher: Searcher = {
    val d = java.nio.file.Files.createTempDirectory("covertopk").toString
    val docs = (0 until nDocs).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    new Searcher(spark, d)
  }

  /** Every matching doc as (docId, distance), in (distance, docId) order. */
  private def bruteRanking(q: String, method: Int): Seq[(Long, Double)] = {
    val cq = CompiledQuery.compile(TsQueryParser.parse(q))
    (0 until nDocs).flatMap { i =>
      val occs = Tokenizer.simple(text(i)).map(o => o.term -> o).toMap
      val kp = cq.keys.map(key => occs.get(key.term).map(_.positions).orNull)
      val kw = cq.keys.map(key => occs.get(key.term).map(_.wclasses).orNull)
      val provider = new TsEval.Provider {
        def positions(k: Int): Array[Int] = kp(k)
        def wclasses(k: Int): Array[Byte] = kw(k)
      }
      if (!TsEval.matches(cq, provider)) None
      else Some(i.toLong -> CoverRank.distance(cq, kp, kw, method,
        docLen = Tokenizer.simpleTokens(text(i)).length).toDouble)
    }.sortBy { case (id, d) => (d, id) }
  }

  private val queries = Seq("alpha & beta", "alpha & (beta | gamma)",
    "beta | gamma", "alpha & !gamma")
  private val methods = Seq(0, CoverRank.NormLength)

  test("topKCover equals the brute-force ranking (method 0 and NormLength)") {
    for (q <- queries; m <- methods; k <- Seq(1, 10, 37)) {
      val want = bruteRanking(q, m).take(k)
      val got = searcher.topKCover(q, k, method = m).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"'$q' method=$m k=$k")
    }
  }

  test("a Cover slot in a mixed batch equals the brute-force ranking") {
    import Searcher.MsearchSpec._
    for (m <- methods) {
      val specs = Seq(
        Match("alpha & gamma"),
        Cover("alpha & beta", 12, m),
        Bm25(Seq("beta", "gamma"), 5),
        Count("beta"),
        Cover("alpha & (beta | gamma)", 20, m))
      val got = searcher.msearchPlan(specs).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).groupBy(_._1)
      def slot(qi: Int): Seq[(Long, Double)] =
        got(qi).map(_._2).toSeq.sortBy { case (id, d) => (d, id) }
      assert(slot(1) == bruteRanking("alpha & beta", m).take(12), s"method=$m")
      assert(slot(4) == bruteRanking("alpha & (beta | gamma)", m).take(20),
        s"method=$m")
    }
  }

  test("distance ties are ordered by docId, also across the k boundary") {
    val q = "alpha & beta"
    val k = 10
    val ranking = bruteRanking(q, 0)
    // the fixture must put a tie group across the cut
    assert(ranking(k - 1)._2 == ranking(k)._2, "no tie at the k boundary")
    val got = searcher.topKCover(q, k).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == ranking.take(k))
    val tied = got.filter(_._2 == ranking(k)._2).map(_._1)
    assert(tied.nonEmpty && tied.toSeq == tied.sorted.toSeq)
  }
}
