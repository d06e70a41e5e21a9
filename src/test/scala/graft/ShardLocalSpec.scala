package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexMeta, SegmentCatalog}
import graft.query.{Bm25, CompiledQuery, CoverRank, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.tokenize.Tokenizer

/** Shard-local serving on the layouts a fresh one-file-per-shard build
  * never shows: several generations' files per shard (appends not yet
  * compacted), a zero-file index, one shard, fewer shards than tasks and
  * more shards than tasks, and a term present in only one shard. Every
  * query family runs on each layout and must equal brute force over the
  * generated corpus and its compacted twin: primary match, count, BM25 and
  * cover, the alt layout's addon top-k and range, full scans (`!t`, a
  * UNIQ-normalized cover and Order2, an order-only cover), and one fused
  * batch that mixes regular and full-scan slots over one postings read.
  */
class ShardLocalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val nDocs = 600
  private val generations = 3
  private def text(i: Int): String = {
    val sb = new StringBuilder
    for (j <- 0 until i % 3) sb.append(s"pad$j ")
    if (i % 2 == 0) sb.append("alpha ")
    for (_ <- 0 until i % 4) sb.append("gap ")
    if (i % 3 == 0) sb.append("beta ")
    if (i % 5 == 0) sb.append("gamma alpha ")
    if (i == 5) sb.append("solo ") // one doc, so one shard
    sb.append(s"tail${i % 7}")
    sb.toString
  }
  private def addon(i: Int): Long = ((i * 37) % 41 - 20).toLong * 1000L

  private def corpus(ids: Range) =
    ids.map(i => (i.toLong, text(i), addon(i))).toDF("doc_id", "text", "d")

  private def params(nShards: Int) =
    IndexBuilder.Params(nShards = nShards, blockSize = 32, attach = Some("d"), altOrder = true)

  /** Built in `generations` commits: one build, then uncompacted appends. */
  private def multiGen(nShards: Int): String = {
    val d = java.nio.file.Files.createTempDirectory(s"shardlocal$nShards").toString
    val step = nDocs / generations
    IndexBuilder.build(spark, corpus(0 until step), "doc_id", "text", d, params(nShards))
    for (g <- 1 until generations)
      IndexBuilder.append(spark, corpus(g * step until (g + 1) * step), "doc_id", "text", d,
        autoCompactRuns = 0)
    d
  }

  private def copyDir(src: String): String = {
    val dst = java.nio.file.Files.createTempDirectory("shardlocaltwin")
    val from = java.nio.file.Paths.get(src)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val t = dst.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    dst.toString
  }

  private def filesPerShard(meta: IndexMeta, kind: String): Map[Int, Int] =
    meta.dataFiles.getOrElse(kind, Nil)
      .map(f => "shard=(\\d+)/".r.findFirstMatchIn(f).get.group(1).toInt)
      .groupBy(identity).map { case (s, fs) => s -> fs.size }

  /** (name, index dir) per layout: each shard count as several
    * generations and as its compacted twin.
    */
  private lazy val layouts: Seq[(String, String)] = Seq(1, 3, 9).flatMap { n =>
    val multi = multiGen(n)
    val twin = copyDir(multi)
    IndexBuilder.compact(spark, twin)
    Seq(s"nShards=$n multi-generation" -> multi, s"nShards=$n compacted" -> twin)
  }

  private def cq(q: String) = CompiledQuery.compile(TsQueryParser.parse(q))

  private def provider(c: CompiledQuery, i: Int): TsEval.Provider = {
    val occs = Tokenizer.simple(text(i)).map(o => o.term -> o).toMap
    val kp = c.keys.map(key => occs.get(key.term).map(_.positions).orNull)
    val kw = c.keys.map(key => occs.get(key.term).map(_.wclasses).orNull)
    new TsEval.Provider {
      def positions(k: Int): Array[Int] = kp(k)
      def wclasses(k: Int): Array[Byte] = kw(k)
    }
  }

  private def bruteMatches(q: String): Seq[Int] = {
    val c = cq(q)
    (0 until nDocs).filter(i => TsEval.matches(c, provider(c, i)))
  }

  private def bruteDistance(c: CompiledQuery, i: Int, method: Int): Double = {
    val p = provider(c, i)
    CoverRank.distance(c, c.keys.indices.map(p.positions).toArray,
      c.keys.indices.map(p.wclasses).toArray, method,
      docLen = Tokenizer.simpleTokens(text(i)).length,
      nUniq = Tokenizer.simple(text(i)).length).toDouble
  }

  /** Cover top-k; `matchOnly = false` ranks every doc, non-matching docs
    * last (infinite distance, then docId).
    */
  private def bruteCover(q: String, k: Int, method: Int,
                         matchOnly: Boolean = true): Seq[(Long, Double)] = {
    val c = cq(q)
    val matches = bruteMatches(q).toSet
    val cands = if (matchOnly) matches.toSeq else 0 until nDocs
    cands.map { i =>
      (i.toLong, if (matches(i)) bruteDistance(c, i, method) else Double.PositiveInfinity)
    }.sortBy { case (id, d) => (d, id) }.take(k)
  }

  /** `ORDER BY t <=> q (method), addon <-> c, docId LIMIT k` as (docId,
    * rank distance), sorted by docId.
    */
  private def bruteOrder2(q: String, c: Long, k: Int, method: Int): Seq[(Long, Double)] = {
    val compiled = cq(q)
    bruteMatches(q).map(i => (bruteDistance(compiled, i, method), math.abs(addon(i) - c), i.toLong))
      .sorted.take(k).map { case (d, _, id) => (id, d) }.sorted
  }

  private def bruteBm25(terms: Seq[String], k: Int, meta: IndexMeta): Seq[(Long, Double)] = {
    val tfs = (0 until nDocs).map(i => Tokenizer.simple(text(i)).map(o => o.term -> o.tf).toMap)
    val df = terms.map(t => t -> tfs.count(_.contains(t)).toLong).toMap
    (0 until nDocs).map { i =>
      val len = Tokenizer.simpleTokens(text(i)).length.toLong
      (i.toLong, terms.distinct.sorted.map(t =>
        Bm25.termScore(tfs(i).getOrElse(t, 0), df(t), len, meta.avgLen, meta.numDocs)).sum)
    }.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def bruteAddon(q: String, c: Long, op: String, k: Int): Seq[(Long, Long, Double)] =
    bruteMatches(q).flatMap { i =>
      val a = addon(i)
      val d = op match {
        case "both" => Some(math.abs(a - c))
        case "left" => if (a <= c) Some(c - a) else None
        case "right" => if (a >= c) Some(a - c) else None
      }
      d.map(x => (i.toLong, a, x.toDouble))
    }.sortBy { case (id, _, d) => (d, id) }.take(k)

  private val matchQueries = Seq("alpha & beta", "solo | gamma", "alpha & solo",
    "gap & !alpha", "tail3 <-> nowhere", "nowhere")
  private val fullScanQueries = Seq("!alpha", "!solo")

  /** One batch of regular and full-scan slots, keyed by the name of its
    * solo answer: regular Match/Count/Cover, a pure negation's Match and
    * Count, a UNIQ cover and a UNIQ Order2.
    */
  private val batch: Seq[(String, Searcher.MsearchSpec)] = {
    import Searcher.MsearchSpec._
    Seq("match alpha & beta" -> Match("alpha & beta"),
      "count alpha & beta" -> Count("alpha & beta"),
      "cover" -> Cover("alpha & (beta | solo)", 9),
      "match !alpha" -> Match("!alpha"),
      "count !alpha" -> Count("!alpha"),
      "cover uniq" -> Cover("gamma | solo", 9, CoverRank.NormUniq),
      "order2 uniq" -> Order2("alpha | solo", -3000L, "both", 8, CoverRank.NormUniq))
  }

  /** The batch's answers, keyed "batch <solo name>"; its plan reads the
    * postings exactly once.
    */
  private def batchAnswers(s: Searcher): Map[String, Any] = {
    val df = s.msearchPlan(batch.map(_._2))
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
      .withDefaultValue(Array.empty)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("ShardScan \\S+/postings \\[".r.findAllIn(plan).size == 1, plan)
    assert("Terms: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1).split(", ").toSet)
      .toSeq == Seq(Set("alpha", "beta", "gamma", "solo")), plan)
    batch.zipWithIndex.map { case ((name, spec), qi) =>
      val slot = rows(qi)
      s"batch $name" -> (spec match {
        case _: Searcher.MsearchSpec.Match => slot.map(_._2).toSeq.sorted
        case _: Searcher.MsearchSpec.Count => slot.map(_._2).sum
        case _: Searcher.MsearchSpec.Cover =>
          slot.map(t => (t._2, t._3)).toSeq.sortBy { case (id, d) => (d, id) }
        case _ => slot.map(t => (t._2, t._3)).toSeq.sorted
      })
    }.toMap
  }

  /** Every query family on `s`, as comparable values keyed by query. */
  private def answers(s: Searcher): Map[String, Any] = {
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSeq.sorted
    (matchQueries ++ fullScanQueries).flatMap { q =>
      Seq(s"match $q" -> ids(s.matchingDocs(q)), s"count $q" -> s.count(q))
    }.toMap ++ Map(
      "bm25" -> s.topKBm25(Seq("alpha", "solo", "tail3", "nowhere"), 12).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "cover" -> s.topKCover("alpha & (beta | solo)", 9).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "cover uniq" -> s.topKCover("gamma | solo", 9, method = CoverRank.NormUniq).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "cover every doc" -> s.topKCover("alpha & solo", 6, matchOnly = false).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "order2 uniq" -> s.topKMulti("alpha | solo", Seq(Searcher.OrderKey.Rank(CoverRank.NormUniq),
          Searcher.OrderKey.Addon(-3000L, "both")), 8).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted,
      "addon" -> s.topKAddon("alpha & beta", -3000L, "both", 11).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      "addon left" -> s.topKAddon("solo | gamma", 0L, "left", 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      // the alt layout cannot drive a pure negation: its fallback full-scans
      // and reads each addon from the doc row
      "addon !alpha" -> s.topKAddon("!alpha", 2000L, "both", 7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      "range" -> s.rangeAddon("beta | solo", -5000L, 4000L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted) ++ batchAnswers(s)
  }

  private def brute(meta: IndexMeta): Map[String, Any] = {
    val solo = (matchQueries ++ fullScanQueries).flatMap { q =>
      val m = bruteMatches(q).map(_.toLong)
      Seq(s"match $q" -> m, s"count $q" -> m.size.toLong)
    }.toMap ++ Map(
      "bm25" -> bruteBm25(Seq("alpha", "solo", "tail3", "nowhere"), 12, meta),
      "cover" -> bruteCover("alpha & (beta | solo)", 9, 0),
      "cover uniq" -> bruteCover("gamma | solo", 9, CoverRank.NormUniq),
      "cover every doc" -> bruteCover("alpha & solo", 6, 0, matchOnly = false),
      "order2 uniq" -> bruteOrder2("alpha | solo", -3000L, 8, CoverRank.NormUniq),
      "addon" -> bruteAddon("alpha & beta", -3000L, "both", 11),
      "addon left" -> bruteAddon("solo | gamma", 0L, "left", 7),
      "addon !alpha" -> bruteAddon("!alpha", 2000L, "both", 7),
      "range" -> bruteMatches("beta | solo").map(i => (i.toLong, addon(i)))
        .filter { case (_, a) => a >= -5000L && a <= 4000L })
    solo ++ batch.map { case (name, _) => s"batch $name" -> solo(name) }
  }

  private def assertSame(got: Map[String, Any], want: Map[String, Any], what: String): Unit = {
    assert(got.keySet == want.keySet)
    for (k <- want.keys) (got(k), want(k)) match {
      case (g: Seq[_], w: Seq[_]) if k == "bm25" =>
        val gs = g.asInstanceOf[Seq[(Long, Double)]]
        val ws = w.asInstanceOf[Seq[(Long, Double)]]
        assert(gs.map(_._1) == ws.map(_._1), s"$what $k")
        gs.zip(ws).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, s"$what $k") }
      case (g, w) => assert(g == w, s"$what $k")
    }
  }

  test("layouts: every generation's files per shard before compaction, fewer after") {
    assert(spark.sessionState.conf.numShufflePartitions == 4) // 1, 3 < p < 9
    for (Seq((name, multi), (_, twin)) <- layouts.grouped(2)) {
      val (m, t) = (SegmentCatalog.load(multi).get, SegmentCatalog.load(twin).get)
      assert(m.appendRuns == generations - 1 && t.appendRuns == 0, name)
      for (kind <- Seq("postings", "alt", "docs")) {
        val (mf, tf) = (filesPerShard(m, kind), filesPerShard(t, kind))
        assert(mf.keySet == (0 until m.nShards).toSet && tf.keySet == mf.keySet, s"$name $kind")
        assert(mf.values.forall(_ >= generations), s"$name $kind: $mf")
        assert(tf.values.sum < mf.values.sum, s"$name $kind: $tf vs $mf")
      }
    }
  }

  test("every query family equals brute force and the compacted twin on every layout") {
    val byName = layouts.map { case (name, dir) =>
      val s = new Searcher(spark, dir)
      val got = answers(s)
      assertSame(got, brute(s.meta), name)
      name -> got
    }.toMap
    for (n <- Seq(1, 3, 9))
      assertSame(byName(s"nShards=$n multi-generation"), byName(s"nShards=$n compacted"),
        s"nShards=$n twin")
    // each batch slot equals its solo query
    for ((name, got) <- byName; (slot, _) <- batch)
      assert(got(s"batch $slot") == got(slot), s"$name batch $slot")
    // the fixture reaches every branch: non-empty answers where expected
    val one = byName("nShards=9 multi-generation")
    for (k <- Seq("match alpha & beta", "match solo | gamma", "match !alpha", "bm25", "cover",
                  "cover uniq", "cover every doc", "order2 uniq", "addon", "addon left",
                  "addon !alpha", "range"))
      assert(one(k).asInstanceOf[Seq[_]].nonEmpty, k)
    // the order-only cover reaches past its one match into the
    // non-matching docs
    assert(one("cover every doc").asInstanceOf[Seq[(Long, Double)]].map(_._2)
      .count(_.isPosInfinity) == 5)
    assert(one("count alpha & solo") == 1L && one("count !solo") == nDocs - 1L)
    assert(one("count nowhere") == 0L && one("count tail3 <-> nowhere") == 0L)
  }

  test("a zero-file index answers every family with nothing") {
    val d = java.nio.file.Files.createTempDirectory("shardlocalempty").toString
    IndexBuilder.build(spark, corpus(0 until 0), "doc_id", "text", d, params(4))
    val meta = SegmentCatalog.load(d).get
    assert(Seq("postings", "alt", "docs").forall(k => meta.dataFiles(k).isEmpty))
    val got = answers(new Searcher(spark, d))
    for ((k, v) <- got) v match {
      case n: Long => assert(n == 0L, k)
      case rows: Seq[_] => assert(rows.isEmpty, k)
    }
  }
}
