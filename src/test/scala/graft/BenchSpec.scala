package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's contamination rules, each pinned on both sides of its
  * threshold, and the per-query run reduction they read. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  test("run stats: median over >= 3 successful runs, min over any; failures (-1) ignored") {
    assert(runStats(Seq(-1.0, 3.0, 1.0, 2.0)) == RunStats(median = 2.0, min = 1.0))
    assert(runStats(Seq(5.0, 4.0, 3.0, 2.0, 1.0)) == RunStats(3.0, 1.0))
    assert(runStats(Seq(1.0, -1.0, 2.0)) == RunStats(-1.0, 1.0))
    assert(runStats(Seq(-1.0, -1.0)) == RunStats(-1.0, -1.0))
  }

  test("inflation trips above 1.4") {
    assert(!inflationTrip(1.4))
    assert(inflationTrip(1.41))
    assert(!inflationTrip(-1.0))
  }

  test("spread trips above 3.0 under a sub-second sentinel median, above 1.5 otherwise") {
    // Uncorroborated is fine here: no inflation ratios at all.
    for (med <- Seq(0.05, 0.5, 0.99)) {
      assert(!spreadTrip(3.0, med, inflation = -1.0, hasRatios = false))
      assert(spreadTrip(3.01, med, inflation = -1.0, hasRatios = false))
    }
    for (med <- Seq(1.0, 2.5, -1.0)) {
      assert(!spreadTrip(1.5, med, inflation = -1.0, hasRatios = false))
      assert(spreadTrip(1.51, med, inflation = -1.0, hasRatios = false))
    }
  }

  test("spread trips only when corroborated by inflation above 1.15 or when no ratios exist") {
    assert(!spreadTrip(4.0, 0.5, inflation = 1.15, hasRatios = true))
    assert(spreadTrip(4.0, 0.5, inflation = 1.16, hasRatios = true))
    assert(!spreadTrip(2.0, 2.0, inflation = 1.08, hasRatios = true))
    assert(spreadTrip(2.0, 2.0, inflation = 1.2, hasRatios = true))
    assert(spreadTrip(2.0, 2.0, inflation = -1.0, hasRatios = false))
    // No spread excess, no trip, whatever the corroboration.
    assert(!spreadTrip(1.2, 2.0, inflation = 1.39, hasRatios = true))
  }

  test("early load trips with a shared-27 median sum >= 2 s and a retime ratio in (0, 0.7)") {
    assert(earlyLoadTrip(2.0, 0.69))
    assert(earlyLoadTrip(2.0, 0.01))
    assert(earlyLoadTrip(10.0, 0.5))
    assert(!earlyLoadTrip(1.99, 0.5))
    assert(!earlyLoadTrip(2.0, 0.7))
    assert(!earlyLoadTrip(2.0, 0.0))
    assert(!earlyLoadTrip(2.0, -1.0))
    assert(!earlyLoadTrip(2.0, 0.95))
  }
}
