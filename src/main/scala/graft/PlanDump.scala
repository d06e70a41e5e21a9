package graft

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for every declared query into a directory
  * (one .txt per query) — the plan-evidence artifact for optimization
  * rounds. A failed prewarm aborts the run; a query that fails to plan is
  * skipped, the rest are still dumped, and the run then fails naming every
  * skipped query, so the exit code tells a scripted plan diff whether the
  * dump is whole. Every tree is [[normalize]]d, so `diff -r` of two dumps
  * of one checkout is empty and a diff of two checkouts' dumps lists only
  * the trees whose shape changed. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> [suffix]"
  */
object PlanDump {
  private val tmpDir = java.util.regex.Pattern.quote(
    new java.io.File(System.getProperty("java.io.tmpdir")).getAbsolutePath)

  /** Run-specific tokens of a plan string and their fixed placeholders:
    * expression ids, exchange plan ids, RDD ids, query stage numbers, the
    * numbered suffix of a temp directory, part-file UUIDs and lambda class
    * names with their identity hashes.
    */
  private val volatile: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#\\d+".r -> "#N",
    "plan_id=\\d+".r -> "plan_id=N",
    "(\\w*RDD)\\[\\d+\\]".r -> "$1[N]",
    "(QueryStage) \\d+".r -> "$1 N",
    s"($tmpDir/[A-Za-z_.-]*?)\\d+(?=[/\\s,\\]]|$$)".r -> "$1N",
    "part-(\\d+)-\\p{XDigit}{8}(-\\p{XDigit}{4}){3}-\\p{XDigit}{12}".r -> "part-$1-UUID",
    "\\$\\$Lambda(\\$\\d+)?/0x\\p{XDigit}+@\\p{XDigit}+".r -> "\\$\\$Lambda")

  /** `plan` with every run-specific token replaced by its placeholder. */
  def normalize(plan: String): String =
    volatile.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

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
          val plan = normalize(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
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
