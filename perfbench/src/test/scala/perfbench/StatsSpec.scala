package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats._

class StatsSpec extends AnyFunSuite {

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // values printed by Python 3 for the same inputs
    assert(quartiles(Seq(1.0, 2.0)) == ((0.75, 2.25)))
    assert(quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 3.0)))
    assert(quartiles(Seq(1.0, 2.0, 3.0, 4.0)) == ((1.25, 3.75)))
    assert(quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 4.5)))
    assert(quartiles(Seq(1.5, 2.5, 10, 11, 12, 13, 100)) == ((2.5, 13.0)))
  }

  test("tail takes p99 when at least ten samples lie beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    val t = tail(xs)
    assert(t.value == 990.0 && t.pct == 99.0 && t.n == 1000)
    assert(xs.count(_ > t.value) == 10)
  }

  test("tail falls back to the highest percentile with ten samples beyond") {
    val xs = scala.util.Random.shuffle((1 to 200).map(_.toDouble))
    val t = tail(xs)
    assert(t.value == 190.0 && t.pct == 95.0 && t.n == 200)
    assert(xs.count(_ > t.value) == 10)
    // a lower percentile asked for is honoured as is
    assert(tail(xs, p = 0.5).value == 100.0)
  }

  test("tail of ten or fewer samples is the maximum, stated as p100") {
    val t = tail(Seq(3.0, 1.0, 2.0))
    assert(t.value == 3.0 && t.pct == 100.0 && t.n == 3)
  }

  /** A rung whose batches take `batchMs` and whose backlog grows by
    * `growth` rows/s, observed for five 1 s batches. */
  private def rung(rate: Double, batchMs: Double, growth: Double) =
    Rung(rate, (0 until 5).map(i => (i.toDouble, 1000.0 + growth * i)),
      Seq.fill(5)(batchMs), Seq.fill(500)(batchMs + 5))

  test("a rung with a flat backlog and batches inside the trigger is sustained") {
    assert(sustained(rung(1e6, 400, 0), 1000, 1000, 0.05))
    assert(sustained(rung(1e6, 400, 0.04e6), 1000, 1000, 0.05))
  }

  test("a growing backlog or a missed latency limit is not sustained") {
    assert(!sustained(rung(1e6, 400, 0.2e6), 1000, 1000, 0.05))
    assert(!sustained(rung(1e6, 1200, 0), 1000, 1000, 0.05))
    assert(!sustained(rung(1e6, 400, 0), 1000, 300, 0.05))
    assert(!sustained(Rung(1e6, Nil, Nil, Nil), 1000, 1000, 0.05))
  }

  test("sustainable rate interpolates between the last sustained and first failed rung") {
    val rungs = Seq(rung(1e6, 200, 0), rung(2e6, 500, 0), rung(3e6, 1500, 0.5e6), rung(4e6, 3000, 2e6))
    // load 0.505 at 2e6 and 1.505 at 3e6 (tail latency over the 1000 ms
    // limit), so the load reaches 1 at 0.495 of the way
    val r = sustainableRate(rungs, 1000, 1000, 0.05)
    assert(math.abs(r - (2e6 + 1e6 * 0.495)) < 1)
  }

  test("sustainable rate stops at the first failure even if a later rung passes") {
    val rungs = Seq(rung(1e6, 200, 0), rung(2e6, 2000, 1e6), rung(3e6, 200, 0))
    val r = sustainableRate(rungs, 1000, 1000, 0.05)
    assert(r > 1e6 && r < 2e6)
  }

  test("sustainable rate is the top rung when nothing fails, scaled down when the first fails") {
    assert(sustainableRate(Seq(rung(1e6, 200, 0), rung(2e6, 300, 0)), 1000, 1000, 0.05) == 2e6)
    val r = sustainableRate(Seq(rung(1e6, 1995, 1e6)), 1000, 1000, 0.05)
    assert(math.abs(r - 1e6 / 2.0) < 1)
  }

  test("sustainable rate ignores a failed rung's backlog when its load is under 1") {
    // fails on growth alone: no interpolation, the last sustained rate stands
    val rungs = Seq(rung(1e6, 200, 0), rung(2e6, 300, 1e6))
    assert(sustainableRate(rungs, 1000, 1000, 0.05) == 1e6)
  }

  test("self time is duration minus the union of children") {
    val spans = Seq(
      Span("root", "", "harness", 0, 100),
      Span("a", "root", "driver", 10, 60),
      Span("b", "root", "driver", 70, 90),
      Span("j1", "a", "scheduler", 20, 40),
      Span("j2", "a", "scheduler", 30, 50), // overlaps j1: union 20..50
      Span("t", "j1", "executor", 25, 35))
    val self = selfTimes(spans)
    assert(self("root") == 30) // 100 - 50 - 20
    assert(self("a") == 20) // 50 - 30
    assert(self("b") == 20)
    assert(self("j1") == 10 && self("j2") == 20 && self("t") == 10)
  }

  test("children are clipped to their parent") {
    val spans = Seq(Span("p", "", "harness", 0, 10), Span("c", "p", "driver", 5, 20))
    assert(selfTimes(spans)("p") == 5)
  }

  test("layer self times of non-overlapping siblings add up to the root") {
    val spans = Seq(
      Span("root", "", "harness", 0, 1000),
      Span("u1", "root", "driver", 0, 400),
      Span("u2", "root", "driver", 450, 1000),
      Span("b", "u2", "streaming", 500, 900),
      Span("j", "b", "scheduler", 600, 800),
      Span("e", "j", "executor", 610, 790))
    val layers = layerSelfTimes(spans)
    assert(layers.values.sum == 1000)
    assert(layers("harness") == 50 && layers("driver") == 550 && layers("streaming") == 200)
    assert(layers("scheduler") == 20 && layers("executor") == 180)
  }

  test("coveredMs merges overlapping and touching intervals") {
    assert(coveredMs(Seq((0.0, 5.0), (5.0, 8.0), (2.0, 3.0), (10.0, 12.0)), 0, 100) == 10)
    assert(coveredMs(Seq((-5.0, 5.0)), 0, 3) == 3)
    assert(coveredMs(Nil, 0, 3) == 0)
  }
}
