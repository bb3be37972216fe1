package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("tail percentile: p99 from 1000 samples on") {
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tailPercentile(50000) == 99)
  }

  test("tail percentile below 1000 samples leaves at least 10 beyond it") {
    for (n <- 11 to 999) {
      val p = Stats.tailPercentile(n)
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      // and it is the highest whole percentile that does
      if (p < 99) assert(Stats.beyond(n, p + 1) < 10, s"n=$n p=$p")
    }
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(200) == 95)
    assert(Stats.tailPercentile(10) == 0)
  }

  test("tail percentile over shapes counts the samples beyond it in all of them") {
    // 5 shapes of 6 samples: p66 leaves 2 beyond in each, 10 in all;
    // p67 leaves only 1 in each
    assert(Stats.tailPercentile(Seq.fill(5)(6): _*) == 66)
    assert(Stats.beyond(6, 67) == 1)
    assert(Stats.tailPercentile(40) == Stats.tailPercentile(Seq(40): _*))
    assert(Stats.tailPercentile(1000, 5000) == 99)
  }

  test("per-shape statistics weigh every shape the same") {
    // a client alternating a fast and a slow shape: the pooled median
    // sits on the edge between the two groups and ignores the slow one
    val fast = Seq.fill(10)(1.0)
    val slow = (1 to 10).map(_ * 100.0)
    val slower = slow.map(_ * 2)
    assert(Stats.median(fast ++ slow) == Stats.median(fast ++ slower))
    assert(math.abs(Stats.perShape(Seq(fast, slow), 50) - math.sqrt(500.0)) < 1e-9)
    assert(math.abs(Stats.perShape(Seq(fast, slower), 50) /
      Stats.perShape(Seq(fast, slow), 50) - math.sqrt(2.0)) < 1e-9)
    assert(Stats.perShape(Seq(fast, Nil), 50) == 1.0)
  }

  test("samples beyond a percentile") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(100, 99) == 1)
    assert(Stats.beyond(36, 70) == 10)
  }
}

class SelfTimeSpec extends AnyFunSuite {

  test("no children: self time is the whole span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
  }

  test("disjoint children are subtracted") {
    assert(Stats.selfTime(0, 100, Seq((10, 20), (50, 80))) == 60)
  }

  test("overlapping children are counted once") {
    // [10, 40) and [30, 60) cover [10, 60): 50 units
    assert(Stats.selfTime(0, 100, Seq((10, 40), (30, 60))) == 50)
    // a child inside another child adds nothing
    assert(Stats.selfTime(0, 100, Seq((10, 90), (20, 30))) == 20)
    // order of the children does not matter
    assert(Stats.selfTime(0, 100, Seq((30, 60), (10, 40), (55, 70))) == 40)
  }

  test("children sticking out of the parent are clipped to it") {
    assert(Stats.selfTime(10, 20, Seq((0, 15))) == 5)
    assert(Stats.selfTime(10, 20, Seq((0, 30))) == 0)
    assert(Stats.selfTime(10, 20, Seq((25, 30))) == 10)
  }

  test("tracer self time by span name") {
    val t = new Tracer(enabled = true)
    t.span(1, "probe.query") {
      t.span(1, "engine.plan") { Thread.sleep(5) }
    }
    val self = t.selfNsByName
    val spans = t.all
    val root = spans.find(_.name == "probe.query").get
    val child = spans.find(_.name == "engine.plan").get
    assert(child.parent == root.id && root.parent == 0 && child.op == 1)
    assert(self("probe.query") == root.durNs - child.durNs)
    assert(self("engine.plan") == child.durNs)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span(1, "x") { 42 } == 42)
    t.record(1, "y", 0, 10)
    assert(t.all.isEmpty)
  }
}
