package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.query.{CompiledQuery, TsQueryParser}
import graft.search.{AltKernel, SearchKernel, Searcher, ShardRecord}

/** Alternative-order layout (order_by_attach, reference
  * src/rumdatapage.c:327-360 + src/rumscan.c:461-554): the alt scan must
  * return exactly what the sort-all fallback returns, and its per-shard
  * work must track k, not the match count (early termination).
  */
class AltOrderSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 4000
  private def text(i: Int): String = {
    val sb = new StringBuilder
    sb.append("every ")
    if (i % 2 == 0) sb.append("half ")
    if (i % 50 == 0) sb.append("sparse ")
    if (i % 4 == 0) sb.append("px1 px2 ") // two same-prefix terms, one doc
    if (i % 6 == 0) sb.append("px3 ")
    sb.append(s"tail${i % 5}")
    sb.toString
  }
  // addon deliberately uncorrelated with docId (scrambled) so docId-ordered
  // block stats could NOT prune an addon range; integer-divided by 3 to
  // force TIES (equal addons are legal and must pack/scan correctly)
  private def addonOf(i: Int): Long = (((i * 7919) % nDocs) / 3).toLong * 10L

  private lazy val (altIdx, plainIdx, altDirPath) = {
    val docs = (0 until nDocs).map(i => (i.toLong, text(i), addonOf(i)))
      .toDF("doc_id", "text", "d")
    val dA = java.nio.file.Files.createTempDirectory("altidx").toString
    val dP = java.nio.file.Files.createTempDirectory("plainidx").toString
    IndexBuilder.build(spark, docs, "doc_id", "text", dA,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d"), altOrder = true))
    IndexBuilder.build(spark, docs, "doc_id", "text", dP,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d")))
    (new Searcher(spark, dA), new Searcher(spark, dP), dA)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("alt top-k equals sort-all fallback for both/left/right") {
    val c = 17770L
    for (op <- Seq("both", "left", "right"); q <- Seq("every & half", "!half & every")) {
      val a = rows(altIdx.topKAddon(q, c, op, 9))
      val p = rows(plainIdx.topKAddon(q, c, op, 9))
      assert(a == p, s"op=$op q='$q': alt=$a plain=$p")
    }
  }

  test("prefix keys through the alt path: expansion position-union parity") {
    val c = 17770L
    for (op <- Seq("both", "left", "right"); q <- Seq("px:* & half", "px:* & !half & every")) {
      val a = rows(altIdx.topKAddon(q, c, op, 7))
      val p = rows(plainIdx.topKAddon(q, c, op, 7))
      assert(a == p, s"op=$op q='$q': alt=$a plain=$p")
    }
    // phrase over the expansion needs the merged positions: px1@k px2@k+1
    val a2 = rows(altIdx.topKAddon("px:* <-> px2", c, "both", 6))
    val p2 = rows(plainIdx.topKAddon("px:* <-> px2", c, "both", 6))
    assert(a2 == p2 && a2.nonEmpty)
  }

  test("disjunctive queries ride the alt path: union driver equals fallback") {
    // no required key → candidates come from the sorted union of the
    // positive keys' streams (RUM's entry merge, src/rumget.c:1272-1369);
    // the plain-layout twin pins the sort-all fallback's answer
    // (c inside the addon range [0, 13330] so every op has finite matches)
    val c = 6660L
    for (op <- Seq("both", "left", "right");
         q <- Seq("sparse | half", "tail1 | tail2 | sparse", "px:* | sparse",
                  "sparse | (half & every)", "(half & !sparse) | tail1")) {
      val a = rows(altIdx.topKAddon(q, c, op, 9))
      val p = rows(plainIdx.topKAddon(q, c, op, 9))
      assert(a == p, s"op=$op q='$q': alt=$a plain=$p")
      assert(a.nonEmpty, s"op=$op q='$q' should match")
    }
    val ra = altIdx.rangeAddon("sparse | half", 5000L, 9000L)
      .orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rp = plainIdx.rangeAddon("sparse | half", 5000L, 9000L)
      .orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ra == rp && ra.nonEmpty)
  }

  test("disjunctive early termination: union driver visits ~k, not matches") {
    // 'half' matches ~half the corpus; the OR's top-5 from c must still
    // visit ~5 candidates per direction off the merged stream
    val cq = CompiledQuery.compile(TsQueryParser.parse("sparse | half"))
    val keys = SearchKernel.keySpecs(cq)
    val altRows = spark.read
      .parquet(graft.build.SegmentCatalog.altDir(altDirPath))
      .as[graft.build.PostingRow].collect()
    val oneShard = altRows.filter(_.shard == 0)
    val res = AltKernel.topKAddonShard(cq, keys,
      new AltKernel.ShardCells(ShardRecord(0, oneShard.iterator, Iterator.empty), _ => ()),
      17770L, "both", 5, floatUnits = false)
    assert(res.rows.length == 5)
    assert(res.visited <= 30, s"visited=${res.visited} for k=5")
  }

  test("facet buckets: alt bounded scan == fallback == brute force") {
    // unaligned lo (505) and a width that doesn't divide the span: the
    // bucket math must floor from lo, not from zero
    for (q <- Seq("every & half", "sparse | half", "px:* & every")) {
      def get(ix: Searcher): Seq[(Long, Long)] =
        ix.countByAddonBucket(q, 700L, 505L, 9005L)
          .orderBy("bucket").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val a = get(altIdx)
      val p = get(plainIdx)
      val brute = plainIdx.rangeAddon(q, 505L, 9005L).collect()
        .map(_.getLong(1))
        .groupBy(v => 505L + (v - 505L) / 700L * 700L)
        .map { case (b, xs) => (b, xs.length.toLong) }.toSeq.sortBy(_._1)
      assert(a == p, s"q='$q': alt=$a plain=$p")
      assert(a == brute, s"q='$q': alt=$a brute=$brute")
      assert(a.nonEmpty, s"q='$q' should have buckets")
    }
    // range that intersects no matches: zero buckets (GROUP BY semantics)
    assert(altIdx.countByAddonBucket("sparse", 10L, 99991L, 99999L).count() == 0)
    // plan shape: term predicate pushed to the alt postings scan, no docs
    // corpus scan anywhere — the facet is index-served
    val facetDf = altIdx.countByAddonBucket("every & half", 700L, 505L, 9005L)
    facetDf.collect()
    val plan = facetDf.queryExecution.executedPlan.toString
    assert(plan.contains("postings_alt"), plan.take(2000))
    assert(!plan.contains("/docs"), plan.take(2000))
    // invalid facet params fail fast
    intercept[IllegalArgumentException] {
      altIdx.countByAddonBucket("sparse", 0L, 0L, 100L)
    }
    intercept[IllegalArgumentException] {
      altIdx.countByAddonBucket("sparse", 10L, 100L, 0L)
    }
  }

  test("facet bucket sweep: widths from 1 to beyond-span agree with brute force") {
    // sweep bucket geometries (width 1 = per-value counts; width beyond
    // the span = one bucket; unaligned lo; huge lo near the data's edge)
    val q = "every"
    val all = plainIdx.rangeAddon(q, Long.MinValue + 1, Long.MaxValue)
      .collect().map(_.getLong(1))
    for ((w, lo, hi) <- Seq(
        (1L, 0L, 13330L), (3L, 17L, 9999L), (10000L, 0L, 20000L),
        (1000000L, 0L, 1000000L), (7L, 13000L, 13330L))) {
      val brute = all.filter(a => a >= lo && a <= hi)
        .groupBy(a => lo + (a - lo) / w * w)
        .map { case (b, xs) => (b, xs.length.toLong) }.toSeq.sortBy(_._1)
      def got(ix: Searcher) = ix.countByAddonBucket(q, w, lo, hi)
        .orderBy("bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got(altIdx) == brute, s"w=$w lo=$lo hi=$hi (alt)")
      assert(got(plainIdx) == brute, s"w=$w lo=$lo hi=$hi (plain)")
    }
  }

  test("alt range scan equals filter over all matches") {
    val a = altIdx.rangeAddon("every & half", 5000L, 9000L)
      .orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val p = plainIdx.rangeAddon("every & half", 5000L, 9000L)
      .orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == p && a.nonEmpty)
  }

  test("early termination: consistency checks track k, not match count") {
    // single shard's rows fed straight to the kernel: 'every & half'
    // matches ~half the corpus, but top-5 from c must visit ~5 candidates
    // per direction, not ~matches
    val cq = CompiledQuery.compile(TsQueryParser.parse("every & half"))
    val keys = SearchKernel.keySpecs(cq)
    val altRows = spark.read
      .parquet(graft.build.SegmentCatalog.altDir(altDirPath))
      .as[graft.build.PostingRow].collect()
    val oneShard = altRows.filter(_.shard == 0)
    val matchesInShard = plainIdx.matchingDocs("every & half")
      .as[Long].collect().count(_ % 4 == 0) // shard = hash(docId) % 4 — approx
    val res = AltKernel.topKAddonShard(cq, keys,
      new AltKernel.ShardCells(ShardRecord(0, oneShard.iterator, Iterator.empty), _ => ()),
      17770L, "both", 5, floatUnits = false)
    assert(res.rows.length == 5)
    assert(res.visited <= 30, s"visited=${res.visited} for k=5 (matches in shard ≈ $matchesInShard)")
  }

  // ---- signed addons (reference sql/int4.sql:7-19 orders (-2..3) by
  // `<=> 0`; timestamp distances span the epoch, src/btree_rum.c:513-517) ----

  /** signed addon: scrambled, tied (÷3), centered so ~half are negative */
  private def signedAddonOf(i: Int): Long =
    (((i * 7919) % 1200) / 3).toLong * 10L - 2000L

  private lazy val (signedAlt, signedPlain) = {
    val docs = (0 until 1200).map(i => (i.toLong, text(i), signedAddonOf(i)))
      .toDF("doc_id", "text", "d")
    val dA = java.nio.file.Files.createTempDirectory("sgnalt").toString
    val dP = java.nio.file.Files.createTempDirectory("sgnplain").toString
    IndexBuilder.build(spark, docs, "doc_id", "text", dA,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d"), altOrder = true))
    IndexBuilder.build(spark, docs, "doc_id", "text", dP,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d")))
    (new Searcher(spark, dA), new Searcher(spark, dP))
  }

  test("signed addons: alt path equals fallback across ops and constants") {
    for (op <- Seq("both", "left", "right");
         c <- Seq(0L, -2000L, -1L, 1234L, -1995L);
         q <- Seq("every & half", "px:* & half")) {
      val a = rows(signedAlt.topKAddon(q, c, op, 9))
      val p = rows(signedPlain.topKAddon(q, c, op, 9))
      assert(a == p, s"op=$op c=$c q='$q': alt=$a plain=$p")
      assert(a.nonEmpty, s"op=$op c=$c q='$q' should match")
    }
    // negative-range scan parity
    val ra = signedAlt.rangeAddon("every & half", -1500L, -200L)
      .orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rp = signedPlain.rangeAddon("every & half", -1500L, -200L)
      .orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ra == rp && ra.nonEmpty)
    assert(ra.forall(t => t._2 >= -1500L && t._2 <= -200L))
  }

  test("signed addons vs brute force (golden, incl. negative constant)") {
    val all = (0 until 1200).map(i => (i.toLong, text(i), signedAddonOf(i)))
    def brute(c: Long, k: Int): Seq[(Long, Long, Double)] =
      all.filter(_._2.split(" ").toSet.contains("half"))
        .map(t => (t._1, t._3, math.abs(t._3 - c).toDouble))
        .sortBy(t => (t._3, t._1)).take(k)
    assert(rows(signedAlt.topKAddon("half", -700L, "both", 8)) == brute(-700L, 8))
    assert(rows(signedPlain.topKAddon("half", -700L, "both", 8)) == brute(-700L, 8))
  }

  test("extreme addons/constants: saturating distances agree on both paths") {
    // addons at the long extremes; constants likewise — |a-c| overflows the
    // long range, both paths must saturate at Long.MaxValue and tie-break
    // on docId identically
    val ext = Seq(
      (0L, "every half", Long.MinValue + 7),
      (1L, "every half", Long.MaxValue - 3),
      (2L, "every half", -5L),
      (3L, "every half", 5L),
      (4L, "every half", 0L),
      (5L, "every", 99L)).toDF("doc_id", "text", "d")
    val dA = java.nio.file.Files.createTempDirectory("extalt").toString
    val dP = java.nio.file.Files.createTempDirectory("extplain").toString
    IndexBuilder.build(spark, ext, "doc_id", "text", dA,
      IndexBuilder.Params(nShards = 2, attach = Some("d"), altOrder = true))
    IndexBuilder.build(spark, ext, "doc_id", "text", dP,
      IndexBuilder.Params(nShards = 2, attach = Some("d")))
    val sA = new Searcher(spark, dA)
    val sP = new Searcher(spark, dP)
    // both layouts rank by one distance function, so the reference is
    // brute force: exact BigInt distances saturated at Long.MaxValue,
    // one-sided misses dropped, ties by docId
    val matches = ext.collect().filter(_.getString(1) == "every half")
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    for (op <- Seq("both", "left", "right");
         c <- Seq(Long.MinValue, Long.MinValue + 1, -3L, 0L, 4L,
           Long.MaxValue - 1, Long.MaxValue)) {
      val brute = matches.flatMap { case (id, a) =>
        val d = BigInt(a) - BigInt(c)
        val dist = op match {
          case "both" => Some(d.abs)
          case "left" => if (d <= 0) Some(-d) else None
          case "right" => if (d >= 0) Some(d) else None
        }
        dist.map(x => (id, a, x.min(BigInt(Long.MaxValue))))
      }.sortBy { case (id, _, d) => (d, id) }.take(5)
        .map { case (id, a, d) => (id, a, d.toLong.toDouble) }
      val a = rows(sA.topKAddon("every & half", c, op, 5))
      val p = rows(sP.topKAddon("every & half", c, op, 5))
      assert(a == brute, s"op=$op c=$c: alt=$a brute=$brute")
      assert(p == brute, s"op=$op c=$c: plain=$p brute=$brute")
    }
  }

  test("many overlapping appends on a hot term: streaming run-merge parity") {
    // 6 micro-segment appends (auto-compaction DISABLED) whose addon ranges
    // all overlap on the same hot terms — every (key, shard) cell holds 7
    // overlapping runs, so the ShardCells streaming k-way repack (exact
    // term AND prefix union) is what serves the queries. Results must equal
    // the plain-layout sort-all fallback built over the identical corpus.
    // Memory bound is structural: the merge holds one decoded block per
    // run (≤ runs × blockSize postings), never the cell's full posting set.
    def t(i: Int): String = {
      val sb = new StringBuilder("hot ")
      if (i % 3 == 0) sb.append("qx1 ")
      if (i % 4 == 0) sb.append("qx2 ")
      sb.append(s"tl${i % 3}")
      sb.toString
    }
    // every batch's addons interleave over the same [0, 1000) range
    def ad(i: Int): Long = ((i * 7919) % 1000).toLong
    val batches = (0 until 7).map { b =>
      (b * 200 until (b + 1) * 200).map(i => (i.toLong, t(i), ad(i)))
        .toDF("doc_id", "text", "d")
    }
    val dA = java.nio.file.Files.createTempDirectory("altoverlap").toString
    val dP = java.nio.file.Files.createTempDirectory("plainoverlap").toString
    IndexBuilder.build(spark, batches.head, "doc_id", "text", dA,
      IndexBuilder.Params(nShards = 2, blockSize = 32, attach = Some("d"),
        altOrder = true))
    batches.tail.foreach(b =>
      IndexBuilder.append(spark, b, "doc_id", "text", dA, autoCompactRuns = 0))
    val all = (0 until 1400).map(i => (i.toLong, t(i), ad(i)))
    IndexBuilder.build(spark, all.toDF("doc_id", "text", "d"), "doc_id", "text",
      dP, IndexBuilder.Params(nShards = 2, blockSize = 32, attach = Some("d")))
    val sA = new Searcher(spark, dA)
    val sP = new Searcher(spark, dP)
    // exact-term multi-run merge, prefix multi-run union, disjunctive union
    for (op <- Seq("both", "left", "right");
         q <- Seq("hot & qx1", "qx:* & hot", "qx1 | qx2", "qx:* <-> tl0")) {
      val a = rows(sA.topKAddon(q, 500L, op, 9))
      val p = rows(sP.topKAddon(q, 500L, op, 9))
      assert(a == p, s"op=$op q='$q': alt=$a plain=$p")
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy("docId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs(sA.rangeAddon("hot & qx1", 100L, 600L)) ==
      pairs(sP.rangeAddon("hot & qx1", 100L, 600L)))
    val fA = sA.countByAddonBucket("qx:* & hot", 100L, 0L, 999L)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fP = sP.countByAddonBucket("qx:* & hot", 100L, 0L, 999L)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fA == fP && fA.nonEmpty)
  }

  test("alt layout maintained through append and compact") {
    val docs = (0 until 600).map(i => (i.toLong, text(i), addonOf(i))).toDF("doc_id", "text", "d")
    val more = (600 until 900).map(i => (i.toLong, text(i), addonOf(i % 600) + 5L)).toDF("doc_id", "text", "d")
    val d = java.nio.file.Files.createTempDirectory("altappend").toString
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d"), altOrder = true))
    IndexBuilder.append(spark, more, "doc_id", "text", d)
    val s = new Searcher(spark, d)
    // brute force over the union corpus
    val all = (0 until 600).map(i => (i.toLong, text(i), addonOf(i))) ++
      (600 until 900).map(i => (i.toLong, text(i), addonOf(i % 600) + 5L))
    def brute(c: Long, k: Int): Seq[(Long, Long, Double)] =
      all.filter(t => { val ts = t._2.split(" ").toSet; ts.contains("every") && ts.contains("half") })
        .map(t => (t._1, t._3, math.abs(t._3 - c).toDouble))
        .sortBy(t => (t._3, t._1)).take(k)
    assert(rows(s.topKAddon("every & half", 300L, "both", 8)) == brute(300L, 8))
    IndexBuilder.compact(spark, d)
    val s2 = new Searcher(spark, d) // fresh file listing after the swap
    assert(rows(s2.topKAddon("every & half", 300L, "both", 8)) == brute(300L, 8))
  }
}
