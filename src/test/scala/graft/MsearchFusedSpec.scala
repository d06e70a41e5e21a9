package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{AddonUnits, IndexBuilder}
import graft.query.{Bm25 => Bm25Score, CompiledQuery, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.tokenize.Tokenizer

/** Fused multi-search (one shard-local read per layout for a
  * heterogeneous query batch): every slot must return exactly its solo
  * query's rows/scores, including prefix expansion, void slots, and
  * full-scan slots riding the same read; the kernel read must execute
  * once (one shared exchange of kernel output), not once per output
  * branch, and no Exchange may sit below a kernel. Solo match, BM25, cover and
  * facet queries are themselves one-slot batches, so for those shapes the
  * "slot equals its solo query" checks prove only that sibling slots do
  * not interfere; the independent references are brute force in
  * FastScanSpec (match), Bm25WandSpec (BM25) and CoverTopKSpec (cover).
  */
class MsearchFusedSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 2500
  private def text(i: Int): String = {
    val sb = new StringBuilder
    sb.append("common ")
    if (i % 2 == 0) sb.append("even ")
    if (i % 3 == 0) sb.append("triple word ")
    if (i % 7 == 0) sb.append("rare7 ")
    if (i % 97 == 0) sb.append("veryrare mid veryrare ")
    if (i % 5 == 0) sb.append("prefixed" + (i % 4) + " ")
    sb.append(s"tail${i % 13}")
    sb.toString
  }

  /** The executed plan of a collected frame: AQE's final plan, without
    * the initial plan it prints below it.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  /** Kernel reads of one layout directory ("postings", "postings_alt") in
    * a plan string.
    */
  private def kernelReads(plan: String, layout: String): Int =
    s"ShardScan \\S+/$layout \\[".r.findAllIn(plan).size
  /** Postings reads with a full-scan slot, which walks the docs rows. */
  private def fullScanReads(plan: String): Int =
    "ShardScan \\S+/postings \\[[^\\]]*\\(fullscan\\)".r.findAllIn(plan).size
  /** The terms every kernel read of a plan string looks up. */
  private def scanTerms(plan: String): Seq[Set[String]] =
    "Terms: \\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .map(_.group(1).split(", ").toSet).toSeq

  /** Brute-force matches of a tsquery (exact terms only) among the first
    * `n` generated docs.
    */
  private def bruteIds(q: String, n: Int): Seq[Long] = {
    val cq = CompiledQuery.compile(TsQueryParser.parse(q))
    (0 until n).filter { i =>
      val occs = Tokenizer.simple(text(i)).map(o => o.term -> o).toMap
      TsEval.matches(cq, new TsEval.Provider {
        def positions(k: Int): Array[Int] = occs.get(cq.keys(k).term).map(_.positions).orNull
        def wclasses(k: Int): Array[Byte] = occs.get(cq.keys(k).term).map(_.wclasses).orNull
      })
    }.map(_.toLong)
  }

  /** `ORDER BY addon <op> c, docId LIMIT k` over (docId, addon) pairs in
    * exact BigInt arithmetic saturated at Long.MaxValue, one-sided misses
    * dropped: (docId, distance).
    */
  private def bruteAddon(rows: Seq[(Long, Long)], c: Long, op: String,
                         k: Int): Seq[(Long, Double)] =
    rows.flatMap { case (id, a) =>
      val d = BigInt(a) - BigInt(c)
      (op match {
        case "both" => Some(d.abs)
        case "left" => if (d <= 0) Some(-d) else None
        case "right" => if (d >= 0) Some(d) else None
      }).map(x => (id, x.min(BigInt(Long.MaxValue))))
    }.sortBy { case (id, d) => (d, id) }.take(k).map { case (id, d) => (id, d.toLong.toDouble) }

  /** Facet buckets lo + floor((a-lo)/w)·w of the addons in [lo, hi]. */
  private def bruteFacet(addons: Seq[Long], w: Long, lo: Long, hi: Long): Set[(Long, Double)] =
    addons.filter(a => a >= lo && a <= hi).groupBy(a => lo + (a - lo) / w * w)
      .map { case (b, xs) => (b, xs.size.toDouble) }.toSet

  /** Spark jobs started while `body` ran: the listener bus delivers in
    * order, so every job before a marker job has been seen once the marker
    * has.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("jobs-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      var n = 0
      var g = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != null && g != "jobs-marker") {
        n += 1; g = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(g == "jobs-marker", "marker job not seen")
      n
    } finally sc.removeSparkListener(listener)
  }

  private lazy val searcher: Searcher = {
    val d = java.nio.file.Files.createTempDirectory("msearchidx").toString
    val docs = (0 until nDocs).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    new Searcher(spark, d)
  }

  test("every fused slot equals its solo query") {
    import Searcher.MsearchSpec._
    val specs = Seq(
      Match("even & triple"),
      Bm25(Seq("rare7", "veryrare", "tail3"), 7),
      Cover("common & rare7", 5),
      Match("prefixed:* & even"),
      Match("!rare7"), // pure negation: a full-scan slot of the same read
      Match(""))       // void slot: contributes nothing
    val got = searcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)

    def soloIds(q: String): Set[Long] =
      searcher.matchingDocs(q).collect().map(_.getLong(0)).toSet
    assert(got(0).map(_._2).toSet == soloIds("even & triple"))
    assert(got(0).forall(_._3 == 0.0))
    assert(got(3).map(_._2).toSet == soloIds("prefixed:* & even"))
    assert(got(4).map(_._2).toSet == soloIds("!rare7"))
    assert(!got.contains(5))

    val soloBm25 = searcher.topKBm25(Seq("rare7", "veryrare", "tail3"), 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(1).map(t => (t._2, t._3)).toSet == soloBm25)

    val soloCover = searcher.topKCover("common & rare7", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(2).map(t => (t._2, t._3)).toSet == soloCover)
  }

  test("Cover slot with normalization flags equals the solo normalized query") {
    import Searcher.MsearchSpec._
    import graft.query.CoverRank
    for (m <- Seq(CoverRank.NormLogLength, CoverRank.NormUniq)) {
      val got = searcher.msearch(Seq(Cover("common & rare7", 6, method = m)))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      val solo = searcher.topKCover("common & rare7", 6, method = m)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == solo, s"method=$m")
    }
  }

  test("msearchCounts equals solo counts; zero, prefix and full-scan slots") {
    val qs = Seq("even & triple", "prefixed:* & even", "zzzabsent",
      "!rare7", "common", "")
    val got = searcher.msearchCounts(qs).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    qs.zipWithIndex.foreach { case (q, qi) =>
      assert(got(qi) == searcher.count(q), s"slot $qi '$q'")
    }
    assert(got(2) == 0L) // the spine surfaces empty slots
    assert(got.size == qs.size)
  }

  test("Count slots: mixed match+count batch shares one scan; spine covers voids") {
    import Searcher.MsearchSpec._
    val specs = Seq(
      Count("even & triple"),
      Match("even & rare7"),
      Count("prefixed:* & even"),   // prefix expansion inside a count slot
      Count("zzzabsent"),           // zero matches: spine row with cnt 0
      Count(""),                    // void: spine row with cnt 0
      Count("!rare7"),              // full-scan slot: counted in the kernel
      Bm25(Seq("rare7", "veryrare"), 4))
    val df = searcher.msearchPlan(specs)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    // count slots: exactly one row, docId carries the count
    def cntOf(qi: Int): Long = {
      val rows = got(qi); assert(rows.size == 1, s"slot $qi rows=${rows.size}")
      rows.head._2
    }
    assert(cntOf(0) == searcher.count("even & triple"))
    assert(cntOf(2) == searcher.count("prefixed:* & even"))
    assert(cntOf(3) == 0L)
    assert(cntOf(4) == 0L)
    assert(cntOf(5) == searcher.count("!rare7"))
    val soloMatch = searcher.matchingDocs("even & rare7").collect()
      .map(_.getLong(0)).toSet
    assert(got(1).map(_._2).toSet == soloMatch)
    val soloBm25 = searcher.topKBm25(Seq("rare7", "veryrare"), 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(6).map(t => (t._2, t._3)).toSet == soloBm25)
    // the count branch must REUSE the match/bm25 branches' exchange of
    // kernel output, not rescan: one postings read for the whole mixed
    // batch, full-scan slot included, and that read also reads docs
    val plan = finalPlan(df)
    assert(plan.contains("Reused"), plan.take(3000))
    assert(kernelReads(plan, "postings") == 1 && fullScanReads(plan) == 1, plan.take(3000))
  }

  test("CountFields: field-scoped count slots over a multicolumn index") {
    import Searcher.MsearchSpec._
    val d = java.nio.file.Files.createTempDirectory("msearchcf").toString
    val docs = (0 until 600).map { i =>
      (i.toLong, text(i), s"lang${i % 3}")
    }.toDF("doc_id", "body", "lang")
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("body" -> "body", "lang" -> "lang"), d,
      IndexBuilder.Params(nShards = 2))
    val s = new Searcher(spark, d)
    val fq = Seq("body" -> "even", "lang" -> "lang1")
    val got = s.msearch(Seq(CountFields(fq), MatchFields(fq))).collect()
      .map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
    val soloIds = s.matchingDocsMulti(fq).collect().map(_.getLong(0)).toSet
    assert(got(0).map(_._2).toList == List(soloIds.size.toLong))
    assert(got(1).map(_._2).toSet == soloIds && soloIds.nonEmpty)
  }

  test("24-spec heterogeneous batch: every slot equals its solo query") {
    import Searcher.MsearchSpec._
    // serving-tier batch size: 8 boolean, 8 BM25, 6 cover, a prefix and a
    // full-scan slot — exercises the shared per-shard ShardView across a
    // batch where specs' term sets overlap heavily (common/rare7 appear in
    // many specs) and partially (each tailN in only a few)
    val matches = (0 until 8).map(i => Match(s"tail$i & even"))
    val bm25s = (0 until 8).map(i => Bm25(Seq(s"tail$i", "common", "rare7"), 5 + i))
    val covers = (0 until 6).map(i => Cover(s"common & tail${i + 2}", 4 + i))
    val specs: Seq[Searcher.MsearchSpec] =
      matches ++ bm25s ++ covers ++ Seq(Match("prefixed:*"), Match("!even"))
    assert(specs.length == 24)
    val got = searcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    specs.zipWithIndex.foreach {
      case (Match(q), qi) =>
        val solo = searcher.matchingDocs(q).collect().map(_.getLong(0)).toSet
        assert(got.get(qi).map(_.map(_._2).toSet).getOrElse(Set.empty) == solo,
          s"slot $qi Match($q)")
      case (Bm25(ts, k), qi) =>
        val solo = searcher.topKBm25(ts, k).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(got(qi).map(t => (t._2, t._3)).toSet == solo, s"slot $qi Bm25($ts,$k)")
      case (Cover(q, k, _), qi) =>
        val solo = searcher.topKCover(q, k).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(got(qi).map(t => (t._2, t._3)).toSet == solo, s"slot $qi Cover($q,$k)")
      case (sp, qi) => fail(s"unexpected spec $sp at $qi")
    }
  }

  // ---- ordered-scan slots (alt-order layout) in the fused batch ----

  private lazy val altDir: String = {
    val d = java.nio.file.Files.createTempDirectory("msearchalt").toString
    // signed addons, scrambled + tied like AltOrderSpec's fixture
    val docs = (0 until 2000).map(i =>
      (i.toLong, text(i), (((i * 7919) % 2000) / 3).toLong * 10L - 3000L))
      .toDF("doc_id", "text", "d")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("d"),
        altOrder = true))
    d
  }
  private lazy val altSearcher: Searcher = new Searcher(spark, altDir)

  test("Addon and AddonRange slots equal their solo queries (incl. fallback)") {
    import Searcher.MsearchSpec._
    val specs = Seq(
      Addon("even & triple", -700L, "both", 7),
      Addon("common & rare7", 500L, "left", 5),
      AddonRange("even & triple", -1500L, -100L),
      Addon("even | rare7", 0L, "right", 6), // OR: union-driven alt slot
      Match("even & rare7"))                 // primary-layout slot in the same batch
    val got = altSearcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)

    def soloAddon(q: String, c: Long, op: String, k: Int): Set[(Long, Double)] =
      altSearcher.topKAddon(q, c, op, k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got(0).map(t => (t._2, t._3)).toSet == soloAddon("even & triple", -700L, "both", 7))
    assert(got(1).map(t => (t._2, t._3)).toSet == soloAddon("common & rare7", 500L, "left", 5))
    assert(got(3).map(t => (t._2, t._3)).toSet == soloAddon("even | rare7", 0L, "right", 6))
    val soloRange = altSearcher.rangeAddon("even & triple", -1500L, -100L)
      .collect().map(_.getLong(0)).toSet
    assert(got(2).map(_._2).toSet == soloRange && soloRange.nonEmpty)
    assert(got(2).forall(_._3 == 0.0))
    val soloMatch = altSearcher.matchingDocs("even & rare7").collect()
      .map(_.getLong(0)).toSet
    assert(got(4).map(_._2).toSet == soloMatch)
  }

  test("alt branches share one exchange; prefix slots ride too") {
    import Searcher.MsearchSpec._
    val df = altSearcher.msearchPlan(Seq(
      Addon("prefixed:* & even", -200L, "both", 6),
      AddonRange("prefixed:* & even", -2000L, 2000L)))
    df.collect()
    val plan = finalPlan(df)
    assert(plan.contains("Reused"), plan.take(3000))
    assert(kernelReads(plan, "postings_alt") == 1, plan.take(3000))
    // slot correctness under prefix expansion
    val got = altSearcher.msearch(Seq(
      Addon("prefixed:* & even", -200L, "both", 6),
      AddonRange("prefixed:* & even", -2000L, 2000L))).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    val solo = altSearcher.topKAddon("prefixed:* & even", -200L, "both", 6)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got(0).map(t => (t._2, t._3)).toSet == solo && solo.nonEmpty)
    val soloR = altSearcher.rangeAddon("prefixed:* & even", -2000L, 2000L)
      .collect().map(_.getLong(0)).toSet
    assert(got(1).map(_._2).toSet == soloR)
  }

  test("Facet slots: per-shard bucket partials equal solo facets (signed addons)") {
    import Searcher.MsearchSpec._
    val specs = Seq(
      Facet("even & triple", 500L, -3000L, 3000L),
      Count("even & triple"),
      Facet("even | rare7", 1000L, -2500L, 2500L), // OR: union-driven alt slot
      Facet("!rare7", 1000L, -3000L, 3000L),       // full-scan: a primary-pass slot
      Facet("zzzabsent", 100L, 0L, 1000L))         // zero matches: no buckets
    val got = altSearcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    def solo(q: String, w: Long, lo: Long, hi: Long): Set[(Long, Double)] =
      altSearcher.countByAddonBucket(q, w, lo, hi).collect()
        .map(r => (r.getLong(0), r.getLong(1).toDouble)).toSet
    assert(got(0).map(t => (t._2, t._3)).toSet ==
      solo("even & triple", 500L, -3000L, 3000L))
    assert(got(2).map(t => (t._2, t._3)).toSet ==
      solo("even | rare7", 1000L, -2500L, 2500L))
    assert(got(3).map(t => (t._2, t._3)).toSet ==
      solo("!rare7", 1000L, -3000L, 3000L))
    assert(!got.contains(4))
    // bucket totals reconcile with the in-range match count
    val inRange = altSearcher.rangeAddon("even & triple", -3000L, 3000L).count()
    assert(got(0).map(_._3.toLong).sum == inRange && inRange > 0)
    // facet slots share the batch's alt scan with ordered slots
    val df = altSearcher.msearchPlan(Seq(
      Addon("even & triple", 0L, "both", 5),
      Facet("even & triple", 500L, -3000L, 3000L)))
    df.collect()
    val plan = finalPlan(df)
    assert(plan.contains("Reused"), plan.take(3000))
    assert(kernelReads(plan, "postings_alt") == 1, plan.take(3000))
  }

  // signed float values with ties, ±0.0 and a NaN island
  private val floatDocs: Seq[(Long, String, Double)] = (0 until 2000).map { i =>
    val v =
      if (i % 501 == 0) Double.NaN
      else (((i * 7919) % 2000) / 3).toDouble * 1.25 - 400.0
    (i.toLong, text(i), v)
  }

  private lazy val floatSearcher: Searcher = {
    val d = java.nio.file.Files.createTempDirectory("msearchflt").toString
    // signed float values with ties, ±0.0 and a NaN island, indexed as
    // order-preserving IEEE bits
    val docs = floatDocs.toDF("doc_id", "text", "f")
      .withColumn("fbits", graft.build.AddonUnits.floatOrderedBits(
        org.apache.spark.sql.functions.col("f")))
      .drop("f")
    IndexBuilder.build(spark, docs, "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("fbits"),
        altOrder = true))
    new Searcher(spark, d)
  }

  test("AddonFloat/AddonRangeFloat slots equal their solo float queries") {
    import Searcher.MsearchSpec._
    val cBits = graft.build.AddonUnits.floatOrderedBits(-12.5)
    val specs = Seq(
      AddonFloat("even & triple", 3.75, "both", 7),
      AddonRangeFloat("even & triple", -100.0, 150.0),
      AddonFloat("even | rare7", -1.0, "right", 6), // OR: union-driven alt slot
      // bits-space long slot on the SAME index: exercises the mixed
      // float/non-float score decode in one bounded window
      Addon("even & triple", cBits, "both", 5),
      Match("even & rare7"))
    val got = floatSearcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)

    def soloFloat(q: String, c: Double, op: String, k: Int): Set[(Long, Double)] =
      floatSearcher.topKAddonFloat(q, c, op, k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got(0).map(t => (t._2, t._3)).toSet ==
      soloFloat("even & triple", 3.75, "both", 7))
    assert(got(2).map(t => (t._2, t._3)).toSet ==
      soloFloat("even | rare7", -1.0, "right", 6))
    val soloRange = floatSearcher.rangeAddonFloat("even & triple", -100.0, 150.0)
      .collect().map(_.getLong(0)).toSet
    assert(got(1).map(_._2).toSet == soloRange && soloRange.nonEmpty)
    assert(got(1).forall(_._3 == 0.0))
    val soloBits = floatSearcher.topKAddon("even & triple", cBits, "both", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got(3).map(t => (t._2, t._3)).toSet == soloBits)
    val soloMatch = floatSearcher.matchingDocs("even & rare7").collect()
      .map(_.getLong(0)).toSet
    assert(got(4).map(_._2).toSet == soloMatch)
    // float distances are exact value-units doubles (sanity: a known one)
    assert(got(0).forall(t => t._3 >= 0.0 && !t._3.isNaN))
  }

  test("FacetFloat slots: value-space bucket partials equal solo float facets") {
    import Searcher.MsearchSpec._
    val specs = Seq(
      FacetFloat("even & triple", 62.5, -300.0, 300.0),
      AddonFloat("even & triple", 3.75, "both", 5),   // shares the alt scan
      FacetFloat("even | rare7", 125.0, -400.0, 0.0), // OR: union-driven slot
      FacetFloat("!even", 100.0, -400.0, 400.0))      // full-scan: a primary-pass slot
    val got = floatSearcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    def solo(q: String, w: Double, lo: Double, hi: Double): Set[(Double, Double)] =
      floatSearcher.countByAddonBucketFloat(q, w, lo, hi).collect()
        .map(r => (r.getDouble(0), r.getLong(1).toDouble)).toSet
    def decoded(qi: Int): Set[(Double, Double)] =
      got(qi).map(t => (java.lang.Double.longBitsToDouble(t._2), t._3)).toSet
    assert(decoded(0) == solo("even & triple", 62.5, -300.0, 300.0))
    assert(decoded(0).nonEmpty)
    assert(decoded(2) == solo("even | rare7", 125.0, -400.0, 0.0))
    assert(decoded(3) == solo("!even", 100.0, -400.0, 400.0))
    assert(decoded(3).nonEmpty)
    // NaN docs (i % 501 == 0) never count: totals reconcile with the
    // finite in-range match count (sum over the row SEQ — a set would
    // collapse equal-count buckets)
    val inRange = floatSearcher.rangeAddonFloat("even & triple", -300.0, 300.0)
      .count()
    assert(got(0).map(_._3.toLong).sum == inRange)
  }

  private lazy val plainFloatSearcher: Searcher = {
    val d = java.nio.file.Files.createTempDirectory("msearchpf").toString
    IndexBuilder.build(spark, floatDocs.toDF("doc_id", "text", "f")
        .withColumn("fbits", AddonUnits.floatOrderedBits(org.apache.spark.sql.functions.col("f")))
        .drop("f"), "doc_id", "text", d,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("fbits")))
    new Searcher(spark, d)
  }

  test("every ordered-scan slot on a non-alt index rides the one postings read") {
    import Searcher.MsearchSpec._
    val s = plainFloatSearcher
    val q = "even & triple"
    def bits(v: Double): Long = AddonUnits.floatOrderedBits(v)
    val (rLo, rHi, fHi) = (-100.0, 150.0, 300.0)
    val fW = bits(fHi) / 5 + 1
    val specs = Seq(
      Match("even & rare7"),
      Bm25(Seq("rare7", "veryrare", "tail3"), 7),
      Addon(q, bits(-12.5), "both", 6),              // bits-space long distance
      AddonFloat(q, 3.75, "both", 7),
      AddonFloat("common & rare7", -1.0, "right", 5),
      AddonRange(q, bits(rLo), bits(rHi)),
      AddonRangeFloat("common & rare7", rLo, rHi),
      Facet(q, fW, 0L, bits(fHi)),
      FacetFloat(q, 62.5, -300.0, 300.0))
    val df = s.msearchPlan(specs)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
      .map { case (qi, rs) => qi -> rs.map(t => (t._2, t._3)).toSeq }.withDefaultValue(Nil)
    // one kernel read for the whole batch, over the primary layout
    val plan = finalPlan(df)
    assert("ShardScan ".r.findAllIn(plan).size == 1, plan)
    assert(kernelReads(plan, "postings") == 1, plan)

    val values = floatDocs.map { case (i, _, v) => i.toLong -> v }.toMap
    def pairs(q: String) = bruteIds(q, floatDocs.size).map(i => (i, bits(values(i))))
    // Match
    assert(got(0).map(_._1).toSet == bruteIds("even & rare7", floatDocs.size).toSet)
    assert(got(0).map(_._1).toSet == s.matchingDocs("even & rare7").collect().map(_.getLong(0)).toSet)
    // Bm25: exact against solo, ids and scores (1e-9) against brute force
    val soloBm25 = s.topKBm25(Seq("rare7", "veryrare", "tail3"), 7).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
    assert(got(1).sortBy(_._1) == soloBm25)
    val tfs = floatDocs.map { case (i, t, _) => i -> Tokenizer.simple(t).map(o => o.term -> o.tf).toMap }
    val terms = Seq("rare7", "veryrare", "tail3")
    val bruteBm25 = tfs.map { case (i, tf) =>
      val len = Tokenizer.simpleTokens(text(i.toInt)).length.toLong
      (i.toLong, terms.map(t => Bm25Score.termScore(tf.getOrElse(t, 0),
        tfs.count(_._2.contains(t)).toLong, len, s.meta.avgLen, s.meta.numDocs)).sum)
    }.filter(_._2 > 0).sortBy { case (id, sc) => (-sc, id) }.take(7)
    assert(soloBm25.map(_._1).toSet == bruteBm25.map(_._1).toSet)
    assert(bruteBm25.forall { case (id, sc) =>
      math.abs(soloBm25.find(_._1 == id).get._2 - sc) < 1e-9 })
    // Addon in bits space
    val addon = bruteAddon(pairs(q), bits(-12.5), "both", 6)
    assert(got(2).toSet == addon.toSet)
    assert(s.topKAddon(q, bits(-12.5), "both", 6).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == addon)
    // AddonFloat: VALUE-space distances, one-sided by bit order, ties by docId
    def bruteFloat(q: String, c: Double, op: String, k: Int): Seq[(Long, Double)] =
      bruteIds(q, floatDocs.size).map(i => (i, values(i)))
        .filter { case (_, v) =>
          op == "both" || (if (op == "left") bits(v) <= bits(c) else bits(v) >= bits(c)) }
        .map { case (i, v) => (i, math.abs(v - c)) }
        .sortBy { case (i, d) => (d.isNaN, if (d.isNaN) 0.0 else d, i) }.take(k)
    for ((qi, fq, c, op, k) <- Seq((3, q, 3.75, "both", 7), (4, "common & rare7", -1.0, "right", 5))) {
      val want = bruteFloat(fq, c, op, k)
      assert(want.nonEmpty && want.forall(!_._2.isNaN))
      assert(got(qi).toSet == want.toSet, s"slot $qi")
      assert(s.topKAddonFloat(fq, c, op, k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq == want, s"solo $qi")
    }
    // AddonRange over bits, AddonRangeFloat over values
    val range = pairs(q).filter { case (_, b) => b >= bits(rLo) && b <= bits(rHi) }.map(_._1)
    assert(range.nonEmpty && got(5).map(_._1).toSet == range.toSet && got(5).forall(_._2 == 0.0))
    assert(s.rangeAddon(q, bits(rLo), bits(rHi)).collect().map(_.getLong(0)).toSet == range.toSet)
    val rangeF = pairs("common & rare7")
      .filter { case (_, b) => b >= bits(rLo) && b <= bits(rHi) }.map(_._1)
    assert(rangeF.nonEmpty && got(6).map(_._1).toSet == rangeF.toSet)
    assert(s.rangeAddonFloat("common & rare7", rLo, rHi).collect().map(_.getLong(0)).toSet ==
      rangeF.toSet)
    // Facet over bits, FacetFloat over values (bucket starts as raw bits)
    val facet = bruteFacet(pairs(q).map(_._2), fW, 0L, bits(fHi))
    assert(facet.nonEmpty && got(7).toSet == facet)
    assert(s.countByAddonBucket(q, fW, 0L, bits(fHi)).collect()
      .map(r => (r.getLong(0), r.getLong(1).toDouble)).toSet == facet)
    val facetF = pairs(q).map(p => values(p._1))
      .filter(v => bits(v) >= bits(-300.0) && bits(v) <= bits(300.0))
      .groupBy(v => -300.0 + math.floor((v + 300.0) / 62.5) * 62.5 + 0.0)
      .map { case (b, xs) => (b, xs.size.toDouble) }.toSet
    assert(facetF.nonEmpty &&
      got(8).map(t => (java.lang.Double.longBitsToDouble(t._1), t._2)).toSet == facetF)
    assert(s.countByAddonBucketFloat(q, 62.5, -300.0, 300.0).collect()
      .map(r => (r.getDouble(0), r.getLong(1).toDouble)).toSet == facetF)
  }

  test("full-scan ordered slots on an alt index ride the primary read") {
    import Searcher.MsearchSpec._
    val specs = Seq(
      Match("even & rare7"),
      Addon("!even", 0L, "both", 6),              // full scan: primary pass
      Facet("!rare7", 1000L, -3000L, 3000L),      // full scan: primary pass
      AddonRange("!triple", -500L, 500L),         // full scan: primary pass
      Addon("even & triple", -700L, "both", 7))   // the alt layout's own read
    val df = altSearcher.msearchPlan(specs)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
      .map { case (qi, rs) => qi -> rs.map(t => (t._2, t._3)).toSeq }
    val plan = finalPlan(df)
    assert(kernelReads(plan, "postings") == 1, plan)
    assert(kernelReads(plan, "postings_alt") == 1, plan)
    assert("ShardScan ".r.findAllIn(plan).size == 2, plan)
    // brute force over the alt fixture's signed addons
    def addonOf(i: Long): Long = (((i * 7919) % 2000) / 3) * 10L - 3000L
    def pairs(q: String) = bruteIds(q, 2000).map(i => (i, addonOf(i)))
    assert(got(0).map(_._1).toSet == bruteIds("even & rare7", 2000).toSet)
    for ((qi, q, c, k) <- Seq((1, "!even", 0L, 6), (4, "even & triple", -700L, 7))) {
      val want = bruteAddon(pairs(q), c, "both", k)
      assert(got(qi).toSet == want.toSet, s"slot $qi")
      assert(altSearcher.topKAddon(q, c, "both", k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq == want, s"solo $qi")
    }
    val facet = bruteFacet(pairs("!rare7").map(_._2), 1000L, -3000L, 3000L)
    assert(got(2).toSet == facet)
    assert(altSearcher.countByAddonBucket("!rare7", 1000L, -3000L, 3000L).collect()
      .map(r => (r.getLong(0), r.getLong(1).toDouble)).toSet == facet)
    val range = pairs("!triple").filter { case (_, a) => a >= -500L && a <= 500L }.map(_._1)
    assert(range.nonEmpty && got(3).map(_._1).toSet == range.toSet)
    assert(altSearcher.rangeAddon("!triple", -500L, 500L).collect().map(_.getLong(0)).toSet ==
      range.toSet)
  }

  test("Order2 slots (rank, addon, docId composite) equal solo topKMulti") {
    import Searcher.{MsearchSpec, OrderKey}
    import MsearchSpec._
    // templated texts make rank-distance ties common, so the addon second
    // key genuinely decides membership at the k boundary; signed addons
    val specs = Seq(
      Order2("even & triple", -700L, "both", 7),
      Order2("common & rare7", 500L, "left", 5),   // one-sided: misses drop
      Order2("!even", 0L, "both", 5),              // full-scan slot rides
      Match("even & rare7"),                       // plain slot in same batch
      Order2("common & triple", 0L, "both", 9,
        method = graft.query.CoverRank.NormUniq))  // UNIQ: full-scan slot rides
    val got = altSearcher.msearch(specs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    def solo(q: String, c: Long, op: String, k: Int, m: Int = 0): Set[(Long, Double)] =
      altSearcher.topKMulti(q, Seq(OrderKey.Rank(m), OrderKey.Addon(c, op)), k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(0).map(t => (t._2, t._3)).toSet == solo("even & triple", -700L, "both", 7))
    assert(got(0).size == 7)
    assert(got(1).map(t => (t._2, t._3)).toSet == solo("common & rare7", 500L, "left", 5))
    assert(got(2).map(t => (t._2, t._3)).toSet == solo("!even", 0L, "both", 5))
    assert(got(4).map(t => (t._2, t._3)).toSet ==
      solo("common & triple", 0L, "both", 9, m = graft.query.CoverRank.NormUniq))
    val soloMatch = altSearcher.matchingDocs("even & rare7").collect()
      .map(_.getLong(0)).toSet
    assert(got(3).map(_._2).toSet == soloMatch)
  }

  test("Order2 addon tie-break decides the k boundary (not rank+docId alone)") {
    import Searcher.{MsearchSpec, OrderKey}
    // adversarial check: if the fused path ordered by (rank, docId) and
    // ignored the addon key, the boundary membership would differ from the
    // composite order whenever rank ties straddle the cutoff
    val q = "even & triple"; val k = 7
    val byRankDoc = altSearcher.topKMulti(q, Seq(OrderKey.Rank()), k)
      .collect().map(_.getLong(0)).toSet
    val composite = altSearcher.topKMulti(q,
      Seq(OrderKey.Rank(), OrderKey.Addon(-700L, "both")), k)
      .collect().map(_.getLong(0)).toSet
    assert(byRankDoc != composite,
      "fixture no longer exercises the addon tie-break; change q/c/k")
    val fused = altSearcher.msearch(Seq(MsearchSpec.Order2(q, -700L, "both", k)))
      .collect().map(_.getLong(1)).toSet
    assert(fused == composite)
  }

  test("multicolumn ordered-scan slots (AddonFields/AddonRangeFields)") {
    import Searcher.MsearchSpec._
    val d = java.nio.file.Files.createTempDirectory("msearchaltm").toString
    val docs = (0 until 800).map { i =>
      (i.toLong, text(i), s"lang${i % 3}", (((i * 31) % 800)).toLong - 400L)
    }.toDF("doc_id", "body", "lang", "d")
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("body" -> "body", "lang" -> "lang"), d,
      IndexBuilder.Params(nShards = 2, attach = Some("d"), altOrder = true))
    val s = new Searcher(spark, d)
    val fq = Seq("body" -> "even", "lang" -> "lang1")
    val got = s.msearch(Seq(
      AddonFields(fq, -100L, "both", 5),
      AddonRangeFields(fq, -300L, 0L))).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    val solo = s.topKAddonMulti(fq, -100L, "both", 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got(0).map(t => (t._2, t._3)).toSet == solo && solo.nonEmpty)
    val soloR = s.rangeAddonMulti(fq, -300L, 0L).collect().map(_.getLong(0)).toSet
    assert(got(1).map(_._2).toSet == soloR && soloR.nonEmpty)
  }

  test("one bounded slot ends in its scan's top-k merge; several share a window") {
    import Searcher.MsearchSpec._
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // the whole plan is one scan that merges its shards' heaps on the driver
    def mergedTopK(p: String, k: Int): Unit = {
      assert("ShardScan ".r.findAllIn(p).size == 1 && p.startsWith("ShardScan "), p)
      assert(p.contains(s"Merge: top $k"), p)
      for (op <- Seq("TakeOrderedAndProject", "Window", "Exchange")) assert(!p.contains(op), p)
    }
    val bm25 = plan(searcher.topKBm25(Seq("rare7", "veryrare", "tail3"), 7))
    val cover = plan(searcher.topKCover("common & rare7", 5))
    mergedTopK(bm25, 7)
    mergedTopK(cover, 5)
    assert(scanTerms(bm25) == Seq(Set("rare7", "veryrare", "tail3")), bm25)
    val batch = plan(searcher.msearchPlan(Seq(
      Bm25(Seq("rare7", "veryrare"), 3), Cover("common & rare7", 4))))
    assert(batch.contains("Window"), batch)
    // the alt layout's ordered scans merge the same way
    val addon = plan(altSearcher.topKAddon("even & triple", -700L, "both", 7))
    val addonF = plan(floatSearcher.topKAddonFloat("even & triple", 3.75, "both", 7))
    for (p <- Seq(addon, addonF)) {
      mergedTopK(p, 7)
      assert(scanTerms(p) == Seq(Set("even", "triple")), p)
    }
    val altBatch = plan(altSearcher.msearchPlan(Seq(
      Addon("even & triple", -700L, "both", 7), Addon("common & rare7", 500L, "left", 5))))
    assert("Window \\[".r.findAllIn(altBatch).size == 1, altBatch)
    assert(!altBatch.contains("TakeOrderedAndProject"), altBatch)
  }

  test("no Exchange below the kernel: each task reads its shards and runs the kernel") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    def exchanges(p: String): Int = p.linesIterator.count(_.contains("Exchange "))
    val bm25 = plan(searcher.topKBm25(Seq("rare7", "veryrare", "tail3"), 7))
    val cover = plan(searcher.topKCover("common & rare7", 5))
    val matches = plan(searcher.matchingDocs("even & rare7"))
    val count = plan(searcher.msearchCounts(Seq("even & triple")))
    val addon = plan(altSearcher.topKAddon("even & triple", -700L, "both", 7))
    for ((p, layout, terms) <- Seq(
         (bm25, "postings", Set("rare7", "veryrare", "tail3")),
         (cover, "postings", Set("common", "rare7")),
         (matches, "postings", Set("even", "rare7")),
         (count, "postings", Set("even", "triple")),
         (addon, "postings_alt", Set("even", "triple")))) {
      // the read and the kernel are one node: no parquet scan, shuffle or
      // grouping operator feeds a kernel, which looks up only its terms
      assert(kernelReads(p, layout) == 1, p)
      assert(!Seq("Scan parquet", "MapGroups", "CoGroup", "AppendColumns").exists(p.contains), p)
      assert(scanTerms(p) == Seq(terms), p)
    }
    // one-slot top-k and match plans move nothing; a count ships only the
    // per-task partial aggregate of its per-shard partials
    for (p <- Seq(bm25, cover, matches, addon)) assert(exchanges(p) == 0, p)
    assert(exchanges(count) == 1, count)
    val below = count.linesIterator.dropWhile(!_.contains("Exchange ")).drop(1).next()
    assert(below.contains("HashAggregate") && below.contains("partial_sum"), count)
    // the order-only cover full scan walks docs and postings in the same task
    val full = plan(searcher.topKCover("common & rare7", 5, matchOnly = false))
    assert(kernelReads(full, "postings") == 1 && fullScanReads(full) == 1, full)
    assert(exchanges(full) == 0, full)
  }

  test("k <= 0 is rejected at plan time on both layouts, before any job runs") {
    import Searcher.MsearchSpec._
    import Searcher.OrderKey
    val layouts = Seq("plain" -> searcher, "altOrder" -> altSearcher)
    layouts.foreach(_._2.meta)
    for ((name, s) <- layouts; k <- Seq(0, -1)) {
      val calls: Seq[(String, () => Any)] = Seq(
        "topKAddon" -> (() => s.topKAddon("even & triple", -700L, "both", k)),
        "topKAddonFloat" -> (() => s.topKAddonFloat("even & triple", 1.5, "left", k)),
        "topKMulti" -> (() => s.topKMulti("even & triple",
          Seq(OrderKey.Rank(), OrderKey.Addon(0L, "both")), k)),
        "topKBm25" -> (() => s.topKBm25(Seq("rare7", "veryrare"), k)),
        "topKCover" -> (() => s.topKCover("common & rare7", k)),
        "topKCover order-only" ->
          (() => s.topKCover("common & rare7", k, matchOnly = false)),
        "msearch" -> (() => s.msearch(Seq(Match("even"), Bm25(Seq("rare7"), 3),
          Cover("common & rare7", k)))),
        "Addon slot" -> (() => s.msearch(Seq(Addon("even", 0L, "right", k)))),
        "AddonFloat slot" -> (() => s.msearch(Seq(AddonFloat("even", 0.5, "both", k)))),
        "Order2 slot" -> (() => s.msearch(Seq(Order2("even & triple", 0L, "both", k)))),
        "Bm25 slot" -> (() => s.msearch(Seq(Bm25(Seq("rare7", "tail3"), k)))),
        "void Cover slot" -> (() => s.msearch(Seq(Cover("", k)))))
      for ((what, call) <- calls) {
        val jobs = jobsDuring(intercept[IllegalArgumentException](call()))
        assert(jobs == 0, s"$name $what k=$k")
      }
    }
  }

  test("a rejected batch runs no job, even when an earlier slot would start one") {
    import Searcher.MsearchSpec._
    // a fresh Searcher's first BM25 slot collects the term stats in a job;
    // each batch fails on a later slot's op or facet parameters
    val batches = Seq(
      Seq(Bm25(Seq("rare7"), 3), Facet("rare7", 0L, 0L, 10L)),
      Seq(Bm25(Seq("rare7"), 3), FacetFields(Seq("f" -> "rare7"), 10L, 10L, 0L)),
      Seq(Bm25(Seq("rare7"), 3), FacetFloat("rare7", 1.0, 0.0, Double.NaN)),
      Seq(Bm25(Seq("rare7"), 3), Addon("rare7", 0L, "sideways", 3)),
      Seq(Bm25(Seq("rare7"), 3), AddonFloat("rare7", 0.0, "up", 3)),
      Seq(Bm25(Seq("rare7"), 3), Order2("rare7", 0L, "near", 3)))
    for (batch <- batches) {
      val fresh = new Searcher(spark, altDir)
      assert(jobsDuring(intercept[IllegalArgumentException](fresh.msearch(batch))) == 0, batch)
    }
  }

  test("fused kernel executes once: shared exchange reused across branches") {
    import Searcher.MsearchSpec._
    val df = searcher.msearchPlan(Seq(
      Match("even & triple"), Bm25(Seq("rare7", "veryrare"), 3),
      Cover("common & rare7", 4)))
    df.collect()
    val plan = finalPlan(df)
    assert(plan.contains("Reused"), plan.take(4000))
    assert(kernelReads(plan, "postings") == 1, plan.take(4000))
  }

  test("a known batch shape with its slots in new places compiles no new code") {
    import Searcher.MsearchSpec._
    // both batches: two top-k slots and two count slots, in other places
    val a = Seq(Bm25(Seq("rare7", "veryrare"), 3), Count("even & triple"),
      Cover("common & rare7", 4), Count("tail3 | rare7"))
    val b = Seq(Count("even & triple"), Bm25(Seq("rare7", "veryrare"), 3),
      Count("tail3 | rare7"), Cover("common & rare7", 4))
    val first = searcher.msearchPlan(a).collect()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val second = searcher.msearchPlan(b).collect()
    assert(compiles.getCount == before)
    // the same answers, slot for slot
    def bySlot(rows: Array[org.apache.spark.sql.Row], qis: Seq[Int]) =
      qis.map(qi => rows.filter(_.getInt(0) == qi).map(r => (r.getLong(1), r.getDouble(2))).toSet)
    assert(bySlot(first, Seq(0, 1, 2, 3)) == bySlot(second, Seq(1, 0, 3, 2)))
  }
}
