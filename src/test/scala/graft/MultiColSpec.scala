package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.search.Searcher

/** Multi-column index (field-prefixed keys — the attnum entry prefix of
  * the reference's multicolumn support, src/rumutil.c:266-288; regression
  * sql/orderby.sql:89-106): cross-field AND in one kernel pass, field
  * scoping of terms and prefixes, single-column API guarded.
  */
class MultiColSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val n = 800
  private def title(i: Int): String =
    (if (i % 3 == 0) "alpha " else "beta ") + s"doc$i"
  private def body(i: Int): String = {
    val sb = new StringBuilder("common ")
    if (i % 2 == 0) sb.append("alpha ") // same term, different field!
    if (i % 5 == 0) sb.append("gamma special ")
    sb.append(s"word${i % 7}")
    sb.toString
  }

  private lazy val searcher: Searcher = {
    val docs = (0 until n).map(i => (i.toLong, title(i), body(i))).toDF("doc_id", "title", "body")
    val d = java.nio.file.Files.createTempDirectory("multicol").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    new Searcher(spark, d)
  }

  test("cross-field AND equals brute force; terms are field-scoped") {
    // 'alpha' in title (i%3==0) vs in body (i%2==0) are DIFFERENT keys
    val titleAlpha = searcher.countMulti(Seq("title" -> "alpha"))
    val bodyAlpha = searcher.countMulti(Seq("body" -> "alpha"))
    assert(titleAlpha == (0 until n).count(_ % 3 == 0))
    assert(bodyAlpha == (0 until n).count(_ % 2 == 0))
    val both = searcher.countMulti(Seq("title" -> "alpha", "body" -> "alpha & gamma"))
    assert(both == (0 until n).count(i => i % 3 == 0 && i % 2 == 0 && i % 5 == 0))
  }

  test("prefix search stays inside its field") {
    // word* only exists in body; doc* only in title
    assert(searcher.countMulti(Seq("title" -> "doc:*")) == n)
    assert(searcher.countMulti(Seq("title" -> "word:*")) == 0)
    assert(searcher.countMulti(Seq("body" -> "word:*")) == n)
  }

  test("phrase works within a field") {
    assert(searcher.countMulti(Seq("body" -> "gamma <-> special")) ==
      (0 until n).count(_ % 5 == 0))
  }

  test("fused msearch over field-scoped specs equals solo multicolumn queries") {
    import Searcher.MsearchSpec._
    val filters = Seq("body" -> "gamma")
    val got = searcher.msearch(Seq(
        MatchFields(Seq("title" -> "alpha", "body" -> "alpha & gamma")),
        CoverFields("body", "common & gamma", Seq("title" -> "alpha"), 7),
        Bm25Fields("body", Seq("gamma", "special"), 5)))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val m0 = searcher.matchingDocsMulti(
        Seq("title" -> "alpha", "body" -> "alpha & gamma"))
      .collect().map(_.getLong(0)).toSet
    assert(got(0).map(_._2).toSet == m0)
    val c1 = searcher.topKCoverMulti("body", "common & gamma",
        Seq("title" -> "alpha"), 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(1).map(t => (t._2, t._3)).toSet == c1)
    val b2 = searcher.topKBm25Fields("body", Seq("gamma", "special"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(2).map(t => (t._2, t._3)).toSet == b2)
  }

  test("single-column API rejected on a multi-column index; unknown field rejected") {
    assert(intercept[IllegalArgumentException](searcher.count("alpha"))
      .getMessage.contains("multi-column"))
    assert(intercept[IllegalArgumentException](
      searcher.countMulti(Seq("nope" -> "alpha"))).getMessage.contains("unknown field"))
    // bare terms on the term-based APIs would silently miss prefixed keys
    assert(intercept[IllegalArgumentException](
      searcher.topKBm25(Seq("alpha"), 3).collect()).getMessage.contains("fieldKey"))
    // fieldKey joins field and term on \u0001: a cached field-scoped plan
    // must not answer for its split parts, which stay bare terms
    searcher.topKBm25(Seq(IndexBuilder.fieldKey("body", "alpha")), 3)
    assert(intercept[IllegalArgumentException](
      searcher.topKBm25(Seq("body", "alpha"), 3).collect()).getMessage.contains("fieldKey"))
  }

  /** multicol index with attach + alt-order layout for ordered scans, and
    * a single-column twin over body for cover-rank equivalence.
    */
  private lazy val (searcherO, searcherBody): (Searcher, Searcher) = {
    val docs = (0 until n).map(i => (i.toLong, title(i), body(i), i.toLong * 10))
      .toDF("doc_id", "title", "body", "w")
    val d1 = java.nio.file.Files.createTempDirectory("multicolO").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d1,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("w"),
        altOrder = true))
    val d2 = java.nio.file.Files.createTempDirectory("bodyonly").toString
    IndexBuilder.build(spark, docs, "doc_id", "body", d2,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    (new Searcher(spark, d1), new Searcher(spark, d2))
  }

  test("topKCoverMulti: ranks by the rank field only, matches the full tree") {
    // expected = single-column cover rank over body, narrowed to docs whose
    // title matches the filter — distances must be IDENTICAL (the filter
    // field contributes matching, never rank input)
    val single = searcherBody.topKCover("common & gamma", n)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = single.filter { case (id, _) => id % 3 == 0 } // title alpha
      .sortBy { case (id, dist) => (dist, id) }.take(10).toSeq
    val got = searcherO.topKCoverMulti("body", "common & gamma",
        Seq("title" -> "alpha"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
    // sanity: the filter actually narrowed the set
    val unfiltered = single.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    assert(unfiltered != expected.map(_._1).toSet)
  }

  test("topKAddonMulti: multicolumn ordered-by-addon scan equals brute force") {
    val matches = (0 until n).filter(i => i % 3 == 0) // title alpha; body common = all
    def brute(c: Long, op: String, k: Int): Seq[(Long, Long)] = {
      val withDist = matches.flatMap { i =>
        val a = i.toLong * 10
        op match {
          case "both" => Some((i.toLong, a, math.abs(a - c)))
          case "left" => if (a <= c) Some((i.toLong, a, c - a)) else None
          case "right" => if (a >= c) Some((i.toLong, a, a - c)) else None
        }
      }
      withDist.sortBy { case (id, _, d) => (d, id) }.take(k)
        .map { case (id, a, _) => (id, a) }
    }
    val fq = Seq("title" -> "alpha", "body" -> "common")
    for (op <- Seq("both", "left", "right")) {
      val got = searcherO.topKAddonMulti(fq, 3000L, op, 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == brute(3000L, op, 7), s"op=$op")
    }
    // range over the same composite query
    val gotRange = searcherO.rangeAddonMulti(fq, 1000L, 1500L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotRange == matches.filter(i => i * 10 >= 1000 && i * 10 <= 1500).map(_.toLong))
  }

  test("countByAddonBucketMulti and FacetFields slots equal brute-force buckets") {
    // (field queries, matching docs): index-served AND and OR, and a query
    // only a full scan can answer (its facet falls back to the match plan)
    val cases = Seq(
      Seq("title" -> "alpha", "body" -> "common") -> ((i: Int) => i % 3 == 0),
      Seq("title" -> "beta", "body" -> "gamma | word3") ->
        ((i: Int) => i % 3 != 0 && (i % 5 == 0 || i % 7 == 3)),
      Seq("title" -> "!alpha") -> ((i: Int) => i % 3 != 0))
    def brute(m: Int => Boolean, w: Long, lo: Long, hi: Long): Set[(Long, Long)] =
      (0 until n).filter(m).map(_.toLong * 10).filter(a => a >= lo && a <= hi)
        .groupBy(a => lo + (a - lo) / w * w).map { case (b, as) => (b, as.size.toLong) }.toSet
    for (((fq, m), ci) <- cases.zipWithIndex; (w, lo, hi) <- Seq((500L, 0L, 7990L),
         (1000L, -2500L, 3333L), (1L, 700L, 760L))) {
      val want = brute(m, w, lo, hi)
      assert(want.nonEmpty, s"case $ci [$lo, $hi] / $w")
      val solo = searcherO.countByAddonBucketMulti(fq, w, lo, hi).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(solo == want, s"case $ci [$lo, $hi] / $w")
      // the same facet as a FacetFields slot beside an ordered-scan slot
      val got = searcherO.msearch(Seq(
          Searcher.MsearchSpec.AddonFields(fq, 0L, "right", 3),
          Searcher.MsearchSpec.FacetFields(fq, w, lo, hi)))
        .collect().filter(_.getInt(0) == 1).map(r => (r.getLong(1), r.getDouble(2).toLong)).toSet
      assert(got == want, s"slot, case $ci [$lo, $hi] / $w")
    }
  }

  test("topKBm25Fields: field-scoped stats match a brute-force BM25") {
    import graft.query.Bm25
    val meta = searcherO.meta
    val terms = Seq("common", "gamma")
    def toks(s: String): Seq[String] =
      graft.tokenize.Tokenizer.simpleTokens(s).toSeq
    val bodies = (0 until n).map(i => i.toLong -> toks(body(i)))
    val dfs = terms.map(t => t -> bodies.count(_._2.contains(t)).toLong).toMap
    val expected = bodies.flatMap { case (id, ts) =>
      val score = terms.map { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) 0.0
        else Bm25.termScore(tf, dfs(t), ts.length.toLong, meta.avgLen, meta.numDocs)
      }.sum
      if (score > 0) Some((id, score)) else None
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = searcherO.topKBm25Fields("body", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) => assert(math.abs(g - e) < 1e-9) }
  }

  test("multicol ranked plan: field-prefixed term predicate pushed to the scan") {
    val df = searcherO.topKCoverMulti("body", "common & gamma", Seq("title" -> "alpha"), 5)
    val plan = df.queryExecution.executedPlan.toString
    // the scan's kernel looks up exactly the three field-prefixed keys —
    // the multicolumn entry-tree descent analogue
    val terms = "Terms: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    val keys = Seq(IndexBuilder.fieldKey("body", "common"), IndexBuilder.fieldKey("body", "gamma"),
      IndexBuilder.fieldKey("title", "alpha"))
    assert(terms.map(_.split(", ").toSet) == Seq(keys.toSet),
      plan.take(2000).replace(IndexBuilder.FieldSep, "|"))
  }

  test("appendFields: incremental insert into a multi-column index") {
    val docs = (0 until 200).map(i => (i.toLong, title(i), body(i))).toDF("doc_id", "title", "body")
    val more = (200 until 300).map(i => (i.toLong, title(i), body(i))).toDF("doc_id", "title", "body")
    val d = java.nio.file.Files.createTempDirectory("mcappend").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    // field names must match
    assert(intercept[IllegalArgumentException](IndexBuilder.appendFields(
      spark, more, "doc_id", Seq("title" -> "title"), d)).getMessage.contains("field mismatch"))
    IndexBuilder.appendFields(spark, more, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d)
    val s = new Searcher(spark, d)
    assert(s.countMulti(Seq("title" -> "alpha")) == (0 until 300).count(_ % 3 == 0))
    assert(s.countMulti(Seq("title" -> "alpha", "body" -> "gamma")) ==
      (0 until 300).count(i => i % 3 == 0 && i % 5 == 0))
  }
}
