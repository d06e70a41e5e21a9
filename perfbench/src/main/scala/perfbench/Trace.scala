package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed call into the engine. `startMs`/`endMs` are wall-clock
  * milliseconds, the clock Spark stamps task launch and finish with, so
  * tasks can be matched to spans; `durNs` is the precise duration.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
                      durNs: Long) {
  def wallS: Double = durNs / 1e9
}

/** The task metrics the benchmark reads from one finished Spark task. */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleMap: Boolean, shuffleWriteBytes: Long,
                         spillBytes: Long, peakMemBytes: Long, inputRecords: Long)

/** What one span cost: its wall time plus the tasks attributed to it or to
  * any span nested in it.
  */
final case class SpanCost(wallS: Double, tasks: Int, runS: Double,
                          cpuS: Double, gcS: Double, mapRunS: Double,
                          resultRunS: Double, shuffleWriteBytes: Long,
                          spillBytes: Long, peakTaskMemMb: Double,
                          inputRecords: Long, driverOnlyS: Double, slotUtil: Double)

/** Span arithmetic, kept free of Spark so it can be tested on synthetic
  * spans and tasks.
  */
object TraceMath {

  /** Milliseconds of [lo, hi) covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = s
        runEnd = e
      } else runEnd = math.max(runEnd, e)
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(span: Span, children: Seq[Span]): Long =
    (span.endMs - span.startMs) -
      covered(children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  /** The innermost span open at `t`. Spans nest and only one operation runs
    * at a time, so among the spans whose window holds `t` the one that
    * started last is the innermost; at a shared boundary millisecond the
    * span that is starting wins over the one that is ending.
    */
  def owner(spans: Seq[Span], t: Long): Option[Span] = {
    val open = spans.filter(s => s.startMs <= t && t <= s.endMs)
    if (open.isEmpty) None else Some(open.maxBy(s => (s.startMs, s.id)))
  }

  /** Tasks keyed by the span open when they launched. Tasks launched while
    * no span was open are left out.
    */
  def attribute(spans: Seq[Span], tasks: Seq[TaskRec]): Map[Int, Seq[TaskRec]] =
    tasks.flatMap(t => owner(spans, t.launchMs).map(_.id -> t))
      .groupBy(_._1).map { case (id, ts) => id -> ts.map(_._2) }

  /** `span` and every span nested in it. */
  def subtree(span: Span, spans: Seq[Span]): Seq[Span] = {
    val kids = spans.filter(_.parent == span.id)
    span +: kids.flatMap(subtree(_, spans))
  }

  /** Share of the task slots busy over the span: run time / (wall x slots). */
  def slotUtil(runS: Double, wallS: Double, slots: Int): Double =
    if (wallS <= 0) 0.0 else runS / (wallS * slots)

  def cost(span: Span, spans: Seq[Span], byOwner: Map[Int, Seq[TaskRec]],
           slots: Int): SpanCost = {
    val tasks = subtree(span, spans).flatMap(s => byOwner.getOrElse(s.id, Nil))
    val runS = tasks.map(_.runMs).sum / 1e3
    val busyMs = covered(tasks.map(t => (t.launchMs, t.finishMs)), span.startMs, span.endMs)
    SpanCost(
      wallS = span.wallS,
      tasks = tasks.length,
      runS = runS,
      cpuS = tasks.map(_.cpuNs).sum / 1e9,
      gcS = tasks.map(_.gcMs).sum / 1e3,
      mapRunS = tasks.filter(_.shuffleMap).map(_.runMs).sum / 1e3,
      resultRunS = tasks.filterNot(_.shuffleMap).map(_.runMs).sum / 1e3,
      shuffleWriteBytes = tasks.map(_.shuffleWriteBytes).sum,
      spillBytes = tasks.map(_.spillBytes).sum,
      peakTaskMemMb = if (tasks.isEmpty) 0.0 else tasks.map(_.peakMemBytes).max / 1048576.0,
      inputRecords = tasks.map(_.inputRecords).sum,
      driverOnlyS = ((span.endMs - span.startMs) - busyMs) / 1e3,
      slotUtil = slotUtil(runS, span.wallS, slots))
  }
}

/** Records spans around the benchmark's calls into the engine and, through
  * a SparkListener of its own, the metrics of every task. Disabled, `span`
  * only runs its body: end-to-end runs carry no tracing cost.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, slots: Int) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  /** (spans, tasks, attribution) as of the last [[costs]] call. */
  private var attributed = (-1, -1, Map.empty[Int, Seq[TaskRec]])

  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        launchMs = e.taskInfo.launchTime,
        finishMs = e.taskInfo.finishTime,
        runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        shuffleMap = e.taskType == "ShuffleMapTask",
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        peakMemBytes = m.peakExecutionMemory,
        inputRecords = m.inputMetrics.recordsRead))
    }
  })

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += null
      open = id :: open
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        spans(id) = Span(id, name, parent, startMs, System.currentTimeMillis(), dur)
        open = open.tail
      }
    }

  /** Closed spans named `name` with their costs, in the order they ran.
    * Waits for the listener bus to deliver every finished task first.
    */
  def costs(name: String): Seq[SpanCost] = {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    val closed = spans.toSeq.filter(_ != null)
    val done = tasks.toArray(Array.empty[TaskRec]).toSeq
    if (attributed._1 != closed.length || attributed._2 != done.length)
      attributed = (closed.length, done.length, TraceMath.attribute(closed, done))
    closed.filter(_.name == name).map(TraceMath.cost(_, closed, attributed._3, slots))
  }

  /** Every closed span with its self time, as JSON (the run's trace file). */
  def spansJson: Seq[String] = {
    val closed = spans.toSeq.filter(_ != null)
    closed.map { s =>
      Json.obj("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs), "dur_s" -> Json.num(s.wallS),
        "self_s" -> Json.num(TraceMath.selfMs(s, closed.filter(_.parent == s.id)) / 1e3))
    }
  }
}
