package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

import graft.build.{IndexBuilder, IndexMeta}
import graft.search.Searcher
import graft.search.Searcher.MsearchSpec
import graft.tokenize.Tokenizer

/** `prose_append` (run by hand; one run takes several minutes, longer than
  * a benchmark run may): short prose documents committed in small
  * `IndexBuilder.append` batches over whole cycles of the engine's default
  * auto-compaction, with a fresh `Searcher` querying each new snapshot.
  * Small commits are dominated by driver-side listing, refresh, manifest
  * commit and periodic compaction rather than pack throughput, and the
  * queries read a multi-segment alt-order snapshot.
  */
object ProseAppend {

  val Docs = 5000
  val BatchDocs = 100
  val Cycles = 2
  val K = 10
  /** Two cycles of eight commits with eight queries each leave twelve
    * samples beyond the 90th percentile.
    */
  val QueriesPerCommit = 8
  /** Bucket width of the facet queries, in doc ids. */
  val FacetWidth = 250L

  def appendsPerCycle: Int = IndexBuilder.AutoCompactRuns
  def baseDocs: Int = Docs - Cycles * appendsPerCycle * BatchDocs

  val params = IndexBuilder.Params(tokenizer = "simple", attach = Some("doc_id"), altOrder = true)

  def frame(ctx: Ctx, rows: Seq[(Long, String)]): DataFrame =
    ctx.spark.createDataFrame(rows).toDF("doc_id", "text")

  /** One fresh-snapshot query. The answer is compared as a sorted list of
    * (key, value) pairs: (docId, distance) for newest-k, (docId, addon) for
    * ranges, (bucket, count) for facets and (0, count) for counts.
    */
  final case class Query(family: String, e: Expr, lo: Long = 0L, hi: Long = 0L) {
    def plan(s: Searcher, top: Long): DataFrame = family match {
      case "addon" => s.topKAddon(e.render, top, "left", K).select("docId", "distance")
      case "range" => s.rangeAddon(e.render, lo, hi).select("docId", "addon")
      case "facet" => s.countByAddonBucket(e.render, FacetWidth, lo, hi)
      case _ => s.matchingDocs(e.render).agg(count(lit(1)))
    }

    def answer(rows: Array[Row]): Seq[(Long, Double)] = family match {
      case "addon" => rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      case "range" | "facet" =>
        rows.map(r => (r.getLong(0), r.getLong(1).toDouble)).toSeq.sorted
      case _ => Seq((0L, rows.head.getLong(0).toDouble))
    }

    def spec(top: Long): MsearchSpec = family match {
      case "addon" => MsearchSpec.Addon(e.render, top, "left", K)
      case "range" => MsearchSpec.AddonRange(e.render, lo, hi)
      case "facet" => MsearchSpec.Facet(e.render, FacetWidth, lo, hi)
      case _ => MsearchSpec.Count(e.render)
    }

    /** The same answer by brute force over the committed docs. */
    def expected(docs: Seq[DocTerms], top: Long): Seq[(Long, Double)] = {
      val hits = docs.filter(e.eval)
      family match {
        case "addon" => hits.map(_.docId).sorted.reverse.take(K).map(d => (d, (top - d).toDouble))
        case "range" => hits.map(_.docId).filter(d => d >= lo && d <= hi).sorted.map(d => (d, d.toDouble))
        case "facet" => hits.map(_.docId).filter(d => d >= lo && d <= hi)
          .groupBy(d => lo + (d - lo) / FacetWidth * FacetWidth)
          .map { case (b, ds) => (b, ds.length.toDouble) }.toSeq.sorted
        case _ => Seq((0L, hits.length.toDouble))
      }
    }
  }

  val Families: Seq[String] = Seq("addon", "range", "facet", "count", "phrase")

  /** The seeded query set run against the snapshot holding `ids`. */
  def queries(rng: SplittableRandom, ids: Seq[Long]): Seq[Query] = {
    import Expr._
    def word() =
      if (rng.nextInt(10) == 0) Inputs.RareWord
      else Inputs.ProseWords(rng.nextInt(Inputs.ProseWords.length))
    def conj() = if (rng.nextBoolean()) Lex(word()) else And(Lex(word()), Lex(word()))
    val (first, last) = (ids.head, ids.last)
    (0 until QueriesPerCommit).map { i =>
      Families(i % Families.length) match {
        case "addon" => Query("addon", conj())
        case "range" =>
          val lo = first + rng.nextInt((last - first).toInt + 1)
          Query("range", conj(), lo, lo + 4 * BatchDocs)
        case "facet" => Query("facet", conj(), first, last)
        case "count" => Query("count", rng.nextInt(3) match {
          case 0 => And(Lex(word()), Lex(word()))
          case 1 => Or(Lex(word()), Lex(word()))
          case _ => And(Lex(word()), Not(word()))
        })
        case _ => Query("phrase", Phrase(word(), word()))
      }
    }
  }

  def checkManifest(ctx: Ctx, id: Long, meta: IndexMeta, docs: Seq[DocTerms]): Unit =
    ctx.check(id, meta.numDocs == docs.length && meta.totalTokens == docs.map(_.tokens).sum,
      s"manifest numDocs/totalTokens ${meta.numDocs}/${meta.totalTokens}, expected " +
        s"${docs.length}/${docs.map(_.tokens).sum}")

  def snapshotFiles(meta: IndexMeta): Int = meta.dataFiles.values.map(_.length).sum

  def run(ctx: Ctx): Seq[Metric] = {
    import ctx._
    val all = Inputs.prose(seed, Docs)
    val docs = all.map { case (id, text) => new DocTerms(id, Tokenizer.simple(text)) }
    val top = all.last._1 + 1 // above every id: newest-k is `addon <=| top`

    var dir: String = null
    val bases = ArrayBuffer.empty[(Long, Int)]
    val setups = (1 to CodeIngest.SetupReps).map { i =>
      if (dir != null) Util.deleteTree(dir)
      dir = ctx.dir(s"prose-$i")
      val (_, s) = Main.timed {
        val (id, meta) = op("build")(tracer.span("build")(IndexBuilder.build(
          spark, frame(ctx, all.take(baseDocs).toSeq), "doc_id", "text", dir, params)))
        meta.foreach(m => checkManifest(ctx, id, m, docs.take(baseDocs).toSeq))
      }
      log(f"base build $i: $s%.3f s")
      bases += Util.diskUsage(dir)
      s
    }

    val appendS = ArrayBuffer.empty[Double]
    val cycleS = ArrayBuffer.empty[Double]
    val freshS = ArrayBuffer.empty[Double]
    val compacting = ArrayBuffer.empty[Boolean]
    val filesAdded = ArrayBuffer.empty[Double]
    val snapshot = ArrayBuffer.empty[Double]
    val compactBytes = ArrayBuffer.empty[Double]
    val rng = new SplittableRandom(seed)
    var committed = baseDocs
    var files = -1
    var lastQueries: Seq[(Long, Query, Seq[(Long, Double)])] = Nil
    var searcher: Searcher = null
    var resultRows = 0L
    for (_ <- 1 to Cycles) {
      var cycle = 0.0
      for (_ <- 1 to appendsPerCycle) {
        val batch = all.slice(committed, committed + BatchDocs).toSeq
        val (id, res) = op("append")(Main.timed(tracer.span("append")(
          IndexBuilder.append(spark, frame(ctx, batch), "doc_id", "text", dir))))
        committed += BatchDocs
        val visible = docs.take(committed).toSeq
        res.foreach { case (meta, s) =>
          appendS += s
          cycle += s
          checkManifest(ctx, id, meta, visible)
          compacting += (meta.appendRuns == 0)
          val now = snapshotFiles(meta)
          if (files >= 0 && meta.appendRuns > 0) filesAdded += (now - files).toDouble
          if (meta.appendRuns == 0 && trace) compactBytes += Util.diskUsage(dir)._1.toDouble
          files = now
          snapshot += now.toDouble
          log(f"append to $committed docs: $s%.3f s, ${meta.appendRuns} runs, $now files")
        }
        searcher = tracer.span("open")(new Searcher(spark, dir))
        lastQueries = queries(rng, visible.map(_.docId)).map { q =>
          val (qid, ans) = op(s"${q.family} ${q.e.render}")(Main.timed(
            q.answer(Report.query(ctx, searcher, q.family, Some(q.e.render))(q.plan(searcher, top)))))
          ans.foreach { case (got, s) =>
            freshS += s
            resultRows += got.length
            val want = q.expected(visible, top)
            check(qid, got == want, s"${q.family} ${q.e.render}: $got, brute force $want")
          }
          ans.foreach { case (_, s) => log(f"query ${q.family}: $s%.3f s") }
          (qid, q, ans.map(_._1).getOrElse(Nil))
        }
      }
      cycleS += cycle
    }
    CodeIngest.validate(ctx, dir)
    // the last snapshot's queries fused into one batch must answer as solo
    val (bid, fused) = op("msearch")(searcher.msearch(lastQueries.map(_._2.spec(top))).collect())
    fused.foreach { rows =>
      val byQi = rows.groupBy(_.getInt(0))
      lastQueries.zipWithIndex.foreach { case ((_, q, solo), i) =>
        val rs = byQi.getOrElse(i, Array.empty[Row])
        val got = q.family match {
          case "addon" => rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq.sortBy(p => (p._2, p._1))
          case "range" => rs.map(r => (r.getLong(1), r.getLong(1).toDouble)).toSeq.sorted
          case "facet" => rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq.sorted
          case _ => Seq((0L, rs.head.getLong(1).toDouble))
        }
        check(bid, got == solo, s"msearch ${q.family} ${q.e.render}: $got, solo $solo")
      }
    }

    val contentBytes = Util.content(all.take(committed).map(_._2).toSeq)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("index_bytes_per_content_byte", Util.diskUsage(dir)._1.toDouble / contentBytes, "ratio"),
      Metric("append_p50_s", Stats.percentile(appendS.toSeq, 50), "s"),
      Metric("append_cycle_s", Stats.median(cycleS.toSeq), "s"),
      Metric("fresh_search_p50_s", Stats.percentile(freshS.toSeq, 50), "s"),
      Metric("fresh_search_p90_s", Stats.percentile(freshS.toSeq, 90), "s"),
      Metric("op_success_share", 1.0 - failed.toDouble / attempted, "ratio"))
    if (!trace) e2e
    else {
      val appends = tracer.costs("append").zip(compacting)
      val plain = appends.filterNot(_._2).map(_._1)
      val compacts = appends.filter(_._2).map(_._1)
      def med(xs: Seq[Double]) = Stats.median(xs)
      Report.build(tracer.costs("build").tail, bases.tail.toSeq) ++
        Seq(
          Metric("build.append_s", med(plain.map(_.wallS)), "s"),
          Metric("build.append_driver_only_s", med(plain.map(_.driverOnlyS)), "s"),
          Metric("build.append_tasks", med(plain.map(_.tasks.toDouble)), "count"),
          Metric("build.append_input_rows", med(plain.map(_.inputRecords.toDouble)), "count"),
          Metric("build.append_files_added", med(filesAdded.toSeq), "count"),
          Metric("build.compact_s", med(compacts.map(_.wallS)), "s"),
          Metric("build.compact_output_bytes", med(compactBytes.toSeq), "B"),
          Metric("build.snapshot_files", med(snapshot.toSeq), "count")) ++
        Report.search(ctx, Families, resultRows) ++
        Layers.tokenize(all.map(_._2).toSeq, Tokenizer.simple) ++
        Layers.core(spark, all.map { case (id, t) => (id, Tokenizer.simple(t)) }.toSeq, dir) ++
        Seq(Metric("trace.append_p50_s", Stats.percentile(appendS.toSeq, 50), "s"))
    }
  }
}
