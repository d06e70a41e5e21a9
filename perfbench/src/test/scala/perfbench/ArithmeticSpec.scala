package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic on synthetic inputs (no Spark). */
class ArithmeticSpec extends AnyFunSuite {

  test("nearest-rank percentile and the samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.beyond(20, 80) == 4)
    assert(Stats.beyond(10, 80) == 2)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("steal share is stolen ticks over the machine's ticks") {
    assert(Stats.stealShare(40, 1.0, 4) == 0.1) // 40 of 400 ticks
    assert(Stats.stealShare(0, 2.0, 4) == 0.0)
    assert(Stats.stealShare(5, 0.0, 4) == 0.0)
  }

  test("clean samples when there are enough, else the least stolen ones") {
    val mixed = Seq(Sample(1.0, 0.0), Sample(9.0, 0.3), Sample(2.0, 0.05), Sample(7.0, 0.2))
    assert(Stats.clean(mixed, 2) == Seq(1.0, 2.0))
    assert(Stats.clean(mixed, 1) == Seq(1.0, 2.0))
    assert(Stats.clean(mixed, 3) == Seq(1.0, 2.0, 7.0))
    assert(Stats.clean(mixed, 9) == Seq(1.0, 2.0, 7.0, 9.0))
  }

  /** Runs Stats.repeat over scripted samples; returns the tries it made. */
  private def tries(need: Int, max: Int, script: Seq[Option[Boolean]],
                    retryUntil: Long = Long.MaxValue): Int = {
    val it = script.iterator ++ Iterator.continually(Some(true))
    var n = 0
    Stats.repeat(need, 0, max, retryUntil) { n += 1; it.next().map(ok => Sample(1.0, if (ok) 0.0 else 0.5)) }
    n
  }

  test("repeat makes up for disturbed samples, at most `need` more tries") {
    assert(tries(3, 100, Nil) == 3)
    assert(tries(3, 100, Seq(Some(true), Some(false), Some(false))) == 5)
    assert(tries(3, 100, Seq.fill(10)(Some(false))) == 6)
    assert(tries(3, 100, Seq(None, Some(true))) == 4) // a failed operation is a try
    assert(tries(3, 4, Seq.fill(10)(Some(false))) == 4)
    assert(tries(3, 100, Seq.fill(10)(Some(false)), retryUntil = 0L) == 3) // too late to retry
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, start, end, (end - start) * 1000000L)

  private def task(launch: Long, finish: Long, runMs: Long = 0L, map: Boolean = false) =
    TaskRec(launch, finish, runMs, cpuNs = runMs * 1000000L, gcMs = 0L, shuffleMap = map,
      shuffleWriteBytes = if (map) 100L else 0L, spillBytes = 0L, peakMemBytes = 0L,
      inputRecords = 1L)

  test("interval union clips to the window and merges overlaps") {
    assert(TraceMath.covered(Nil, 0, 100) == 0)
    assert(TraceMath.covered(Seq((10L, 30L), (20L, 50L), (60L, 70L)), 0, 100) == 50)
    assert(TraceMath.covered(Seq((-20L, 10L), (90L, 130L)), 0, 100) == 20)
    assert(TraceMath.covered(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
  }

  test("span self time is its duration minus what its children cover") {
    val root = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 0, 60, 70))
    assert(TraceMath.selfMs(root, kids) == 50)
    assert(TraceMath.selfMs(root, Nil) == 100)
    assert(TraceMath.selfMs(kids.head, Nil) == 20)
  }

  test("tasks go to the innermost span open at launch") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 40, 80),
      span(3, 2, 50, 60))
    def ownerOf(t: Long) = TraceMath.owner(spans, t).map(_.id)
    assert(ownerOf(5) == Some(0))
    assert(ownerOf(10) == Some(1))
    assert(ownerOf(40) == Some(2)) // shared boundary: the starting span wins
    assert(ownerOf(55) == Some(3))
    assert(ownerOf(90) == Some(0))
    assert(ownerOf(150) == None)
    val by = TraceMath.attribute(spans, Seq(task(5, 8), task(55, 58), task(56, 59), task(150, 160)))
    assert(by.map { case (k, v) => k -> v.length } == Map(0 -> 1, 3 -> 2))
    // a parent's cost includes its descendants' tasks
    val c = TraceMath.cost(spans.head, spans, by, slots = 4)
    assert(c.tasks == 3)
    assert(TraceMath.cost(spans(2), spans, by, slots = 4).tasks == 2)
  }

  test("slot utilisation and driver-only time") {
    assert(TraceMath.slotUtil(runS = 8.0, wallS = 4.0, slots = 4) == 0.5)
    assert(TraceMath.slotUtil(runS = 1.0, wallS = 0.0, slots = 4) == 0.0)
    // 1 s span, 4 slots; two map tasks over [100, 600) and one result task
    // over [500, 900): tasks run for 500 + 500 + 400 ms
    val s = span(0, -1, 0, 1000)
    val tasks = Seq(task(100, 600, 500, map = true), task(100, 600, 500, map = true),
      task(500, 900, 400))
    val c = TraceMath.cost(s, Seq(s), TraceMath.attribute(Seq(s), tasks), slots = 4)
    assert(c.runS == 1.4)
    assert(c.mapRunS == 1.0)
    assert(math.abs(c.resultRunS - 0.4) < 1e-12)
    assert(math.abs(c.slotUtil - 0.35) < 1e-12)
    assert(c.driverOnlyS == 0.2) // [0, 100) and [900, 1000) have no task running
    assert(c.shuffleWriteBytes == 200L)
  }
}
