package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  test("requests are timed from when they were due") {
    val s = new Schedule(startNs = 1000, periodNs = 100)
    assert(s.due(0) == 1000 && s.due(3) == 1300)
    // request 2 sent late at 1450 and answered at 1470: its latency
    // includes the 250 it waited behind the stall
    assert(s.latencyNs(2, 1470) == 270)
    assert(s.latenessNs(2, 1450) == 250)
    // sending early never counts as negative lateness
    assert(s.latenessNs(2, 1150) == 0)
  }

  test("a generator is behind once it misses a slot by a whole period") {
    val s = new Schedule(startNs = 0, periodNs = 100)
    assert(!s.behind(1, 150))
    assert(!s.behind(1, 200))
    assert(s.behind(1, 201))
  }

  test("a stall charges every request queued behind it") {
    val period = 5000000L // 5 ms
    val sched = new Schedule(System.nanoTime() + 50000000L, period)
    val late = new Samples
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var behind = false
    val unsent = Loops.openLoop(sched, sched.due(10), Long.MaxValue, late,
      () => behind = true) { (i, due) =>
      if (i == 2) Thread.sleep(40) // one slow request: 8 periods
      lat += (System.nanoTime() - due) / 1e6
    }
    assert(unsent == 0)
    assert(lat.size == 10 && late.size == 10)
    assert(behind)
    // request 3 was due 5 ms after request 2 but could only leave once
    // request 2 returned, 40 ms after it was due
    val lateness = late.values
    assert(lateness(3) >= 35.0)
    assert(lat(3) >= 35.0)
    assert(lat(2) >= 40.0)
    assert(lateness.take(2).forall(_ < 30.0))
  }

  test("a generator still behind at the stop time gives up and counts the rest") {
    val start = System.nanoTime()
    val sched = new Schedule(start, 1000000L) // 1 ms
    val late = new Samples
    var sent = 0
    val unsent = Loops.openLoop(sched, sched.due(50), start + 5000000L, late,
      () => ()) { (_, _) => sent += 1; Thread.sleep(3) }
    assert(sent + unsent == 50)
    assert(unsent > 0)
  }
}
