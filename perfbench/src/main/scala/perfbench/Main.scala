package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** State shared by a workload run: the session, the seed, the tracer and
  * the tally of operations attempted and failed. An operation fails when it
  * throws or when its answer check fails; both count in the result.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Tracer, val workDir: String, val slots: Int, val nproc: Int) {
  var attempted = 0L
  private val failedOps = scala.collection.mutable.LinkedHashMap.empty[Long, String]
  def failed: Long = failedOps.size.toLong
  def failures: Seq[String] = failedOps.values.toSeq

  /** Runs one operation; returns its id and result (None if it threw). */
  def op[T](what: String)(body: => T): (Long, Option[T]) = {
    attempted += 1
    val id = attempted
    try (id, Some(body))
    catch {
      case NonFatal(e) =>
        failedOps(id) = s"$what: $e"
        (id, None)
    }
  }

  /** Marks operation `id` failed when its answer is wrong. */
  def check(id: Long, ok: Boolean, what: => String): Unit =
    if (!ok && !failedOps.contains(id)) failedOps(id) = what

  def trace: Boolean = tracer.enabled

  /** Per phase: (samples taken, samples disturbed by steal). */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int)]

  /** Times `body` as one sample of `phase`, with the share of the
    * machine's CPU time the hypervisor stole meanwhile. On a shared host
    * steal comes in episodes of tens of seconds and slows every operation
    * in them for reasons outside the program.
    */
  def sample[T](phase: String)(body: => T): (T, Sample) = {
    val s0 = Host.stealTicks()
    val (v, s) = Main.timed(body)
    val smp = Sample(s, if (s0 < 0) 0.0 else Stats.stealShare(Host.stealTicks() - s0, s, nproc))
    val (n, d) = phases.getOrElse(phase, (0, 0))
    phases(phase) = (n + 1, if (smp.clean) d else d + 1)
    (v, smp)
  }

  private val t0 = System.nanoTime()

  /** Disturbed samples are made up for only this early in the run, so a
    * run in a long steal episode still ends in time.
    */
  val retryUntil: Long = t0 + (Ctx.RetryS * 1e9).toLong

  /** Progress on stderr, stamped with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def dir(name: String): String = s"$workDir/$name"
}

object Ctx {
  /** Seconds into a run after which disturbed samples are not made up for. */
  val RetryS = 50
}

object Main {

  /** Seconds an expression takes, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload code_ingest|code_search|prose_append " +
      "--seed N --seconds S --trace 0|1 --work-dir DIR [--info FILE] [--commit SHA] [--source-digest HEX]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val run: Ctx => Seq[Metric] = workload match {
      case "code_ingest" => CodeWorkloads.run(CodeWorkloads.Ingest)
      case "code_search" => CodeWorkloads.run(CodeWorkloads.Search)
      case "prose_append" => ProseAppend.run
      case other => usage(s"unknown workload $other")
    }
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, not $other")
    }
    val workDir = arg("work-dir")
    val host0 = Host.snapshot()
    val nproc = Runtime.getRuntime.availableProcessors()
    // one core is left to the driver thread, the JIT and the GC: with a task
    // on every core, time the hypervisor steals from any core stalls a task
    val slots = math.max(1, nproc - 1)

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ctx = new Ctx(spark, seed, seconds, new Tracer(spark, trace, slots), workDir, slots, nproc)
    val metrics = try run(ctx) finally spark.stop()

    val host1 = Host.snapshot()
    val metricsJson = Json.obj(metrics.map(m =>
      m.name -> Json.obj("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))): _*)
    val info = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed),
      "seconds" -> Json.num(seconds),
      "trace" -> Json.num(if (trace) 1L else 0L),
      "nproc" -> Json.num(nproc.toLong),
      "slots" -> Json.num(slots.toLong),
      "mem_total_kb" -> Json.num(host0.memTotalKb),
      "loadavg_start" -> Json.str(host0.loadAvg),
      "loadavg_end" -> Json.str(host1.loadAvg),
      "steal_ticks" -> Json.num(host1.stealTicks - host0.stealTicks),
      "max_steal_share" -> Json.num(Stats.MaxStealShare),
      "samples_disturbed" -> Json.obj(ctx.phases.toSeq.map { case (p, (n, d)) =>
        p -> Json.str(s"$d/$n") }: _*),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576),
      "spark" -> Json.str(spark.version),
      "git_commit" -> Json.str(kv.getOrElse("commit", "unknown")),
      "source_digest" -> Json.str(kv.getOrElse("source-digest", "unknown")),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "failures" -> Json.arr(ctx.failures.take(20).map(Json.str)),
      "metrics" -> metricsJson)
    kv.get("info").foreach { f =>
      val trace = if (ctx.trace) ctx.tracer.spansJson else Nil
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (Json.obj("info" -> info, "spans" -> Json.arr(trace)) + "\n").getBytes("UTF-8"))
    }
    ctx.failures.foreach(f => System.err.println(s"perfbench: failed operation: $f"))
    println(Json.obj("perfbench_info" -> info))
    println(Json.obj(
      "correct" -> (if (ctx.failed == 0) "true" else "false"),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> metricsJson))
  }
}

/** Host facts recorded with every run. `stealTicks` is the CPU time the
  * hypervisor gave to other guests (clock ticks, all CPUs): on a shared
  * virtual machine it explains runs that are slow for no reason of their own.
  */
final case class Host(memTotalKb: Long, loadAvg: String, stealTicks: Long)

object Host {
  def snapshot(): Host = {
    val mem = read("/proc/meminfo").linesIterator.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    Host(mem, read("/proc/loadavg").split(" ").take(3).mkString(" "), stealTicks())
  }

  private def read(p: String) =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case NonFatal(_) => "" }

  /** Clock ticks the hypervisor has stolen from all CPUs so far, or -1
    * where /proc/stat does not say.
    */
  def stealTicks(): Long =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(_.split("\\s+").lift(8)).map(_.toLong).getOrElse(-1L)
}

/** Shared helpers for the workloads. */
object Util {
  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  /** (bytes, files) of the regular files under `path`. */
  def diskUsage(path: String): (Long, Int) = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val files = s.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.map(java.nio.file.Files.size).sum, files.length)
    } finally s.close()
  }

  def content(docs: Seq[String]): Long = docs.map(_.getBytes("UTF-8").length.toLong).sum

  /** Bytes allocated so far by the calling thread. */
  def allocated(): Long = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getCurrentThreadAllocatedBytes
}
