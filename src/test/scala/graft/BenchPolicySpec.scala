package graft

import graft.Bench.{GateTarget, MaxPairs, PairAttempt, PlausibleEffCap, evalGate,
  levels, nextPairFits}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's scaling policy (pure parts): the pooled min-wall gate
  * with its plausibility cap, the fixed sampling plan's independence from
  * measured values (the sample count must not depend on the verdict),
  * host-derived levels and the truncation marker. */
class BenchPolicySpec extends AnyFunSuite {

  /** A pair whose within-window efficiency is `eff` (4N level at 10 s). */
  private def pair(eff: Double): PairAttempt = PairAttempt(40.0 * eff, 10.0)

  test("only a PLAUSIBLE pair may carry the gate: super-linear ratios are " +
       "one-sided interference, not scaling") {
    assert(PlausibleEffCap == 1.15)
    // 'efficiency' 1.4: the N-core half absorbed a spike — noise can only
    // slow a level, so it only ever FAKES high efficiency; such a run is
    // unmeasurable, which is a fail, not a pass
    assert(!evalGate(Seq(pair(1.4))).passed)
    assert(evalGate(Seq(pair(1.1))).passed)  // jitter around 1.0 is real
    assert(evalGate(Seq(pair(0.9))).passed)
    assert(!evalGate(Seq(pair(0.79))).passed)
  }

  test("pooled estimators: min wall per level across all windows") {
    // each level's fastest run may come from a different window:
    // min(32, 40) / (4 * min(16, 10)) = 0.8, though neither pair reads 0.8
    val g = evalGate(Seq(PairAttempt(32.0, 16.0), PairAttempt(40.0, 10.0)))
    assert(math.abs(g.eff - 0.8) < 1e-12)
    assert(g.passed)
    assert(math.abs(PairAttempt(32.0, 10.0).eff - 0.8) < 1e-12)
  }

  test("sampling plan depends only on time budget, never on the verdict") {
    // fits: below MaxPairs and predicted wall inside budget
    assert(nextPairFits(1, elapsedSec = 100, pairWallsSec = Seq(100), budgetSec = 500))
    // budget cut: prediction (elapsed + midpoint*1.1) crosses the budget
    assert(!nextPairFits(1, elapsedSec = 395, pairWallsSec = Seq(100), budgetSec = 500))
    // the predictor is the min/max midpoint, not the worst pair: one
    // interference-slowed pair must not block a second pair the budget
    // allows
    assert(nextPairFits(2, elapsedSec = 900,
      pairWallsSec = Seq(660, 300), budgetSec = 1500)) // predict 528
    // hard cap at MaxPairs
    assert(!nextPairFits(MaxPairs, elapsedSec = 0, pairWallsSec = Seq(1), budgetSec = 1e9))
    // no efficiency/verdict parameter exists in the signature at all —
    // the plan CANNOT stop early on a pass or extend on a fail
  }

  test("GateTarget is the documented 0.8") {
    assert(GateTarget == 0.8)
  }

  test("scaling levels derive from the host's core count") {
    assert(levels(4) == ((1, 4)))
    assert(levels(16) == ((4, 16)))
    assert(levels(8) == ((2, 8)))
    assert(levels(1) == ((1, 4))) // below 4 cores the 4N level oversubscribes
  }

  test("markTruncated flips exactly the truncated field (idempotent)") {
    val j = """{"value":1.0,"truncated":false,"scaling":{"gate_passed":true}}"""
    val t = Bench.markTruncated(j)
    assert(t.contains("\"truncated\":true") && !t.contains("\"truncated\":false"))
    assert(Bench.markTruncated(t) == t)
    assert(t.replace("\"truncated\":true", "\"truncated\":false") == j)
  }
}
