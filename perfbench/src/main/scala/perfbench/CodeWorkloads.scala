package perfbench

import graft.tokenize.Tokenizer

/** The two code workloads. Both generate the seeded code corpus, build its
  * index once cold and then warm, and query the last index, so each reports
  * every end-to-end metric. They differ in corpus size and in which phase
  * the measuring window (`--seconds`) goes to:
  *
  *  - `code_ingest`: 4,000 files. Warm builds fill the window, two clean
  *    ones at least; a probe of 20 clean queries and their batches
  *    follows.
  *  - `code_search`: 1,000 files and one clean warm build. Queries fill the
  *    window, 20 clean ones at least, replayed in batches of 10.
  *
  * Every time is a median over clean samples (see [[Ctx.sample]]).
  */
object CodeWorkloads {

  /** `files`: corpus size. `minWarm`: clean warm builds at least.
    * `warmup`: untimed queries. `minQueries`: clean measured queries at
    * least, replayed in fused batches of `batch`. The window goes to the
    * builds when `buildWindow`, else to the queries.
    */
  final case class Plan(files: Int, minWarm: Int, warmup: Int, minQueries: Int, batch: Int,
                        buildWindow: Boolean)

  val Ingest = Plan(files = 4000, minWarm = 2, warmup = 3, minQueries = 20, batch = 10,
    buildWindow = true)
  val Search = Plan(files = 1000, minWarm = 1, warmup = 3, minQueries = 20, batch = 10,
    buildWindow = false)

  def run(plan: Plan)(ctx: Ctx): Seq[Metric] = {
    import ctx._
    val (df, setupS) = CodeIngest.corpus(ctx, plan.files)
    log(f"setup: $setupS%.3f s")
    val docsAndTexts = CodeIngest.docTerms(df)
    log(s"tokenized ${docsAndTexts.length} docs")
    val texts = docsAndTexts.map(_._2)
    val b = CodeIngest.builds(ctx, df, docsAndTexts.map(_._1), plan.minWarm,
      if (plan.buildWindow) seconds else 0)
    df.unpersist(blocking = true)
    val q = CodeSearch.searches(ctx, b.dir, docsAndTexts, plan.warmup, plan.minQueries, plan.batch,
      if (plan.buildWindow) 0 else seconds)

    val warm = Stats.median(Stats.clean(b.warm, plan.minWarm))
    val lat = Stats.clean(q.latencies, plan.minQueries)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("build_warm_s", warm, "s"),
      Metric("index_bytes_per_content_byte", b.outputs.last._1.toDouble / Util.content(texts), "ratio"),
      Metric("search_p50_s", Stats.percentile(lat, 50), "s"),
      Metric("search_p80_s", Stats.percentile(lat, 80), "s"),
      Metric("batch_qps", q.batchQps, "1/s"),
      Metric("op_success_share", 1.0 - failed.toDouble / attempted, "ratio"))
    if (!trace) e2e
    else {
      def med(name: String) = Stats.median(tracer.costs(name).map(_.wallS))
      // warm builds only: the cold one also pays class loading and JIT
      Report.build(tracer.costs("build").tail, b.outputs.tail) ++
        Seq(Metric("build.cold_wall_s", b.cold.seconds, "s")) ++
        Report.search(ctx, CodeSearch.Families, q.results) ++
        Seq(
          Metric("search.msearch_plan_s", med("msearch.plan"), "s"),
          Metric("search.msearch_exec_s", med("msearch.exec"), "s"),
          Metric("search.msearch_rows_scanned_per_query",
            tracer.costs("msearch").map(_.inputRecords).sum.toDouble / q.queries, "count")) ++
        Layers.tokenize(texts, Tokenizer.code) ++
        Layers.core(spark, docsAndTexts.map { case (d, t) => (d.docId, Tokenizer.code(t)) }, b.dir) ++
        Seq(
          Metric("trace.build_warm_s", warm, "s"),
          Metric("trace.search_p50_s", Stats.percentile(lat, 50), "s"))
    }
  }
}
