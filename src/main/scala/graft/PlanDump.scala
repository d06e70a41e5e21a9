package graft

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for every declared query into a directory
  * (one .txt per query) — the plan-evidence artifact for optimization
  * rounds. A failed prewarm aborts the run; a query that fails to plan is
  * skipped, the rest are still dumped, and the run then fails naming every
  * skipped query, so the exit code tells a scripted plan diff whether the
  * dump is whole. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> [suffix]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    val suffix = if (args.length > 2) args(2) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val failed = try {
      SparkEntry.prewarm(spark, sfDir)
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            plan.getBytes("UTF-8"))
          None
        } catch { case scala.util.control.NonFatal(t) => Some(name -> t) }
      }
    } finally spark.stop()
    if (failed.nonEmpty) {
      val e = new IllegalStateException(
        s"${failed.size} queries failed to plan: ${failed.map(_._1).mkString(", ")}",
        failed.head._2)
      failed.tail.foreach(f => e.addSuppressed(f._2))
      throw e
    }
  }
}
