package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.search.Searcher

/** Runs queries the same way in both modes and turns traced spans into the
  * per-layer metrics of the `build` and `search` modules.
  */
object Report {

  /** Builds the query's DataFrame, plans it and runs it. Traced, the three
    * steps are spans under a span named `query.<family>`, preceded by a
    * separate compile of `tsquery` (the one step the untraced run skips).
    */
  def query(ctx: Ctx, searcher: Searcher, family: String, tsquery: Option[String])(
      plan: => DataFrame): Array[Row] = {
    val t = ctx.tracer
    t.span(s"query.$family") {
      if (ctx.trace) tsquery.foreach(q => t.span("compile")(searcher.compile(q)))
      val df = t.span("plan") { val d = plan; d.queryExecution.executedPlan; d }
      t.span("exec")(df.collect())
    }
  }

  /** Median build-layer costs over the given build spans. */
  def build(costs: Seq[SpanCost], output: Seq[(Long, Int)]): Seq[Metric] = {
    def med(f: SpanCost => Double) = Stats.median(costs.map(f))
    Seq(
      Metric("build.wall_s", med(_.wallS), "s"),
      Metric("build.executor_cpu_s", med(_.cpuS), "s"),
      Metric("build.executor_run_s", med(_.runS), "s"),
      Metric("build.gc_s", med(_.gcS), "s"),
      Metric("build.slot_util", med(_.slotUtil), "ratio"),
      Metric("build.driver_only_s", med(_.driverOnlyS), "s"),
      Metric("build.map_stage_run_s", med(_.mapRunS), "s"),
      Metric("build.result_stage_run_s", med(_.resultRunS), "s"),
      Metric("build.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "B"),
      Metric("build.output_bytes", Stats.median(output.map(_._1.toDouble)), "B"),
      Metric("build.output_files", Stats.median(output.map(_._2.toDouble)), "count"),
      Metric("build.tasks", med(_.tasks.toDouble), "count"),
      Metric("build.peak_task_mem_mb", med(_.peakTaskMemMb), "MB"))
  }

  /** Search-layer metrics over the traced `query.<family>` spans, the
    * searcher opens and their compile/plan/exec children. `results` is the
    * number of rows the queries returned.
    */
  def search(ctx: Ctx, families: Seq[String], results: Long): Seq[Metric] = {
    val t = ctx.tracer
    val byFamily = families.map(f => f -> t.costs(s"query.$f"))
    val all = byFamily.flatMap(_._2)
    val n = all.length.toDouble
    def med(name: String) = Stats.median(t.costs(name).map(_.wallS))
    Seq(
      Metric("search.open_s", med("open"), "s"),
      Metric("search.compile_s", med("compile"), "s"),
      Metric("search.plan_s", med("plan"), "s"),
      Metric("search.exec_s", med("exec"), "s"),
      Metric("search.driver_only_share", all.map(_.driverOnlyS).sum / all.map(_.wallS).sum, "ratio"),
      Metric("search.tasks_per_query", all.map(_.tasks).sum / n, "count"),
      Metric("search.cpu_s_per_query", all.map(_.cpuS).sum / n, "s"),
      Metric("search.rows_scanned_per_query", all.map(_.inputRecords).sum / n, "count"),
      Metric("search.rows_scanned_per_result", all.map(_.inputRecords).sum.toDouble / results, "ratio"),
      Metric("search.shuffle_bytes_per_query", all.map(_.shuffleWriteBytes).sum / n, "B")) ++
      byFamily.map { case (f, cs) => Metric(s"search.${f}_p50_s", Stats.median(cs.map(_.wallS)), "s") }
  }
}
