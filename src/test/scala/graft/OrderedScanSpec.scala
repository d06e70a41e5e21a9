package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.query.{CompiledQuery, CoverRank, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.search.Searcher.OrderKey
import graft.tokenize.Tokenizer

/** Addon ordered scans against a brute-force reference on a generated
  * corpus: every doc is tokenized here, matched with [[TsEval]], ranked
  * with [[CoverRank]] over its tokenizer positions, and its signed addon
  * distance computed in exact saturating arithmetic. `matchingWithAddon`,
  * `topKMulti`, `topKAddon` and `rangeAddon` must return exactly that on
  * an `altOrder` index and on a plain one. The addons repeat (many docs
  * share one distance) and a few sit at the ends of the Long range, where
  * the distance saturates.
  */
class OrderedScanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 1500
  private def text(i: Int): String = {
    val sb = new StringBuilder
    for (j <- 0 until i % 3) sb.append(s"pad$j ")
    if (i % 2 == 0) sb.append("alpha ")
    for (_ <- 0 until i % 4) sb.append("gap ")
    if (i % 3 == 0) sb.append("beta ")
    if (i % 5 == 0) sb.append("gamma alpha ")
    sb.append(s"tail${i % 7}")
    sb.toString
  }
  private def addon(i: Int): Long =
    if (i % 250 == 7) Long.MaxValue - i
    else if (i % 250 == 11) Long.MinValue + i
    else ((i * 37) % 41 - 20).toLong * 1000L

  private def index(altOrder: Boolean): Searcher = {
    val d = java.nio.file.Files.createTempDirectory("orderedscan").toString
    val docs = (0 until nDocs).map(i => (i.toLong, text(i), addon(i)))
      .toDF("doc_id", "text", "d")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d"),
        altOrder = altOrder))
    new Searcher(spark, d)
  }
  private lazy val layouts: Seq[(String, Searcher)] =
    Seq("altOrder" -> index(altOrder = true), "plain" -> index(altOrder = false))

  /** Matching docIds of `q`, ascending. */
  private def bruteMatches(q: String): Seq[Int] = {
    val cq = CompiledQuery.compile(TsQueryParser.parse(q))
    (0 until nDocs).filter(i => TsEval.matches(cq, provider(cq, i)))
  }

  private def provider(cq: CompiledQuery, i: Int): TsEval.Provider = {
    val occs = Tokenizer.simple(text(i)).map(o => o.term -> o).toMap
    val kp = cq.keys.map(key => occs.get(key.term).map(_.positions).orNull)
    val kw = cq.keys.map(key => occs.get(key.term).map(_.wclasses).orNull)
    new TsEval.Provider {
      def positions(k: Int): Array[Int] = kp(k)
      def wclasses(k: Int): Array[Byte] = kw(k)
    }
  }

  private def rank(q: String, i: Int, method: Int): Double = {
    val cq = CompiledQuery.compile(TsQueryParser.parse(q))
    val p = provider(cq, i)
    CoverRank.distance(cq, cq.keys.indices.map(p.positions).toArray,
      cq.keys.indices.map(p.wclasses).toArray, method,
      docLen = Tokenizer.simpleTokens(text(i)).length,
      nUniq = Tokenizer.simple(text(i)).length).toDouble
  }

  /** Exact addon distance saturated at Long.MaxValue; None = one-sided miss. */
  private def addonDist(a: Long, c: Long, op: String): Option[BigInt] = {
    val d = op match {
      case "both" => Some((BigInt(a) - c).abs)
      case "left" => if (a <= c) Some(BigInt(c) - a) else None
      case "right" => if (a >= c) Some(BigInt(a) - c) else None
    }
    d.map(_.min(BigInt(Long.MaxValue)))
  }

  /** Every finite row of `ORDER BY keys, docId` as (docId, distances). */
  private def bruteMulti(q: String, keys: Seq[OrderKey]): Seq[(Long, Seq[Double])] = {
    val rows = bruteMatches(q).flatMap { i =>
      val ds = keys.map {
        case OrderKey.Rank(m) => Some(BigDecimal(rank(q, i, m)))
        case OrderKey.Addon(c, op) => addonDist(addon(i), c, op).map(BigDecimal(_))
      }
      if (ds.forall(_.isDefined)) Some((i.toLong, ds.map(_.get))) else None
    }
    val ord = Ordering.Implicits.seqOrdering[Seq, BigDecimal]
    rows.sortWith { case ((ia, da), (ib, db)) =>
      ord.lt(da, db) || (da == db && ia < ib)
    }.map { case (id, ds) => (id, ds.map(_.toDouble)) }
  }

  private val C = -3000L

  test("matchingWithAddon equals brute-force (docId, addon): AND, OR, pure negation") {
    for ((name, s) <- layouts; q <- Seq("alpha & beta", "beta | gamma", "!alpha")) {
      val want = bruteMatches(q).map(i => (i.toLong, addon(i)))
      val got = s.matchingWithAddon(q).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(want.nonEmpty && got == want, s"$name '$q'")
    }
  }

  test("topKMulti equals the brute-force composite ranking") {
    val cases = Seq(
      "alpha & beta" -> Seq(OrderKey.Rank(), OrderKey.Addon(C, "both")),
      "alpha & (beta | gamma)" ->
        Seq(OrderKey.Rank(CoverRank.NormLength), OrderKey.Addon(C, "left")),
      "alpha & beta" -> Seq(OrderKey.Addon(C, "both"), OrderKey.Rank()),
      "beta | gamma" -> Seq(OrderKey.Addon(C, "right")),
      "alpha & beta" -> Seq(OrderKey.Rank(CoverRank.NormUniq), OrderKey.Addon(C, "both")),
      "!alpha" -> Seq(OrderKey.Addon(C, "both")), // pure negation: full scan
      "!alpha" -> Seq(OrderKey.Addon(C, "right"), OrderKey.Addon(0L, "left")))
    for ((name, s) <- layouts; (q, keys) <- cases; k <- Seq(1, 10, 37)) {
      val want = bruteMulti(q, keys).take(k)
      val got = s.topKMulti(q, keys, k).collect()
        .map(r => (r.getLong(0), keys.indices.map(j => r.getDouble(j + 1)))).toSeq
      assert(want.size == k && got == want, s"$name '$q' $keys k=$k")
    }
  }

  test("topKAddon and rangeAddon equal brute force, saturated distances included") {
    for ((name, s) <- layouts; q <- Seq("alpha & beta", "beta | gamma");
         (c, op) <- Seq(C -> "both", C -> "left", C -> "right", Long.MinValue -> "both");
         k <- Seq(1, 10, 37)) {
      val want = bruteMulti(q, Seq(OrderKey.Addon(c, op))).take(k)
        .map { case (id, ds) => (id, addon(id.toInt), ds.head) }
      val got = s.topKAddon(q, c, op, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == want, s"$name '$q' c=$c $op k=$k")
    }
    for ((name, s) <- layouts; q <- Seq("alpha & beta", "beta | gamma")) {
      val want = bruteMatches(q).map(i => (i.toLong, addon(i)))
        .filter { case (_, a) => a >= -5000L && a <= 4000L }
      val got = s.rangeAddon(q, -5000L, 4000L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(want.nonEmpty && got == want, s"$name '$q'")
    }
  }

  test("an addon tie group straddles k and comes back in docId order") {
    val q = "alpha & beta"
    val keys = Seq(OrderKey.Addon(C, "both"))
    val k = 10
    val ranking = bruteMulti(q, keys)
    // the fixture must put a tie group across the cut
    assert(ranking(k - 1)._2 == ranking(k)._2, "no tie at the k boundary")
    for ((name, s) <- layouts) {
      val got = s.topKMulti(q, keys, k).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == ranking.take(k).map { case (id, ds) => (id, ds.head) }, name)
      val solo = s.topKAddon(q, C, "both", k).collect().map(_.getLong(0)).toSeq
      assert(solo == got.map(_._1).toSeq, name)
      val tied = got.filter(_._2 == ranking(k)._2.head).map(_._1)
      assert(tied.nonEmpty && tied.toSeq == tied.sorted.toSeq, name)
    }
  }
}
