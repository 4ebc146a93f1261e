package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench instrument's sampling policy, pinned with SYNTHETIC
  * timings (no Spark): the r10 driver artifact passed the steal rule
  * yet carried 2–10×-inflated medians with per-query spreads to 6.4
  * that nothing acted on — the policy must escalate reps on its own
  * spread signal and the artifact must flag what never settles. */
class BenchSpec extends AnyFunSuite {

  /** Deterministic thunk replaying a scripted timing sequence; repeats
    * the last value if called past the script's end. */
  private def scripted(seq: Double*): () => Double = {
    var i = -1
    () => { i += 1; seq(math.min(i, seq.size - 1)) }
  }

  private def run(isStream: Boolean, seq: Double*): Vector[Double] =
    Bench.collectTimes(scripted(seq: _*), isStream,
      nReps = 5, nMax = 9, minSecs = 1.5, maxSpread = 1.0)

  test("a stable multi-second query stops at the minimum rep count") {
    val t = run(isStream = false, 2.0)
    assert(t.size === 5)
  }

  test("sub-second queries keep sampling until ~minSecs accumulates (capped)") {
    // 0.25 s/rep: 5 reps = 1.25 s < 1.5 s -> one more rep tips it over
    assert(run(isStream = false, 0.25).size === 6)
    // 0.1 s/rep can never reach 1.5 s in 9 reps -> the cap holds
    assert(run(isStream = false, 0.1).size === 9)
  }

  test("a contaminated rep (spread > limit) escalates to maxReps to out-vote it") {
    // one 10 s spike among 2 s reps: after 5 reps spread = 8/2 = 4 > 1,
    // so sampling continues to the cap — the median out-votes the spike
    val t = run(isStream = false, 2.0, 2.0, 10.0, 2.0, 2.0)
    assert(t.size === 9)
    assert(t.sorted.apply(t.size / 2) === 2.0, "median not recovered")
    // the spike stays in the sample, so the spread STILL exceeds the
    // bar — this is the case the artifact must stamp valid: false
    assert(Bench.relSpread(t) > 1.0)
  }

  test("jitter that settles under the bar stops before the cap") {
    // mild jitter: spread (2.4-2.0)/2.2 ~ 0.18 <= 1.0, spent > 1.5 at 5
    val t = run(isStream = false, 2.0, 2.2, 2.4, 2.2, 2.0)
    assert(t.size === 5)
    assert(Bench.relSpread(t) <= 1.0)
  }

  test("streaming queries run exactly once regardless of jitter or duration") {
    // fixed trigger/drain machinery: a median of constants is
    // meaningless, and at r10 cost (e13+e17 = 29 s/run at 3 reps) the
    // extra reps were 40% of bench wall time for zero information
    assert(run(isStream = true, 12.0, 99.0).size === 1)
    assert(run(isStream = true, 0.02).size === 1)
  }

  test("relSpread is (max-min)/median, zero-guarded") {
    assert(Bench.relSpread(Vector(2.0, 2.0, 2.0)) === 0.0)
    assert(Bench.relSpread(Vector(1.0, 2.0, 5.0)) === 2.0)
    assert(Bench.relSpread(Vector(0.0)) === 0.0) // median 0 -> guarded
  }

  test("budgetOk: calibration-relative verdicts for the pinned environment-sensitive queries") {
    // c4's pinned budget is 12 × calib (clean ~8×, widened for the
    // measured multi-core-steal skew): at calib 0.80, 6.32 s = 7.9× passes
    assert(Bench.budgetOk("c4_curation_funnel", 6.32, 0.80) === Some(true))
    // the SAME wall seconds on a 2×-slower host (calib 1.60) still pass —
    // that is the whole point: the ratio survives host inflation
    assert(Bench.budgetOk("c4_curation_funnel", 12.64, 1.60) === Some(true))
    // a 22.6%-steal run's measured skew (10.3×) stays INSIDE the bar —
    // clean and contended runs must agree for the stamp to be a signal
    assert(Bench.budgetOk("c4_curation_funnel", 9.14, 0.885) === Some(true))
    // a structural regression (~2× = 16×+ calib) is flagged
    assert(Bench.budgetOk("c4_curation_funnel", 13.0, 0.80) === Some(false))
    // a failed median (-1) is a violation, never a vacuous pass
    assert(Bench.budgetOk("t19_bigram_lm", -1.0, 0.80) === Some(false))
    // a garbage calibration cannot fake a pass
    assert(Bench.budgetOk("t19_bigram_lm", 1.0, 0.0) === Some(false))
    // non-budgeted queries carry no stamp
    assert(Bench.budgetOk("q1_agg", 1.0, 0.80) === None)
    // the streaming watch items' bars were re-tightened in r14 after
    // the drain-cost rework removed the IO-sensitive machinery that
    // forced r13's 40x: clean reads are now e13 ~4.3x / e17 ~2.6x
    // (r14 mid-round bench), so 15x / 6x catch a structural
    // regression while leaving ~3.5x of clean-host drain swing
    assert(Bench.budgetOk("e13_stream_outer_join", 9.0, 0.80) === Some(true))
    assert(Bench.budgetOk("e13_stream_outer_join", 26.3, 0.874) === Some(false))
    assert(Bench.budgetOk("e17_stream_sliding", 4.0, 0.80) === Some(true))
    assert(Bench.budgetOk("e17_stream_sliding", 5.2, 0.80) === Some(false))
  }

  test("shouldRetry: unsettled-under-steal gets one re-sample; clean failures and settled medians do not") {
    assert(Bench.shouldRetry(valid = false, queryStealPct = 8.0, stealLimit = 5.0))
    assert(!Bench.shouldRetry(valid = false, queryStealPct = 0.4, stealLimit = 5.0),
      "an unsettled median under a QUIET hypervisor failed on merit - no retry")
    assert(!Bench.shouldRetry(valid = true, queryStealPct = 50.0, stealLimit = 5.0),
      "a settled median needs no retry regardless of steal")
  }

  test("causeJson: a failed query records its exception class and the first line of its message") {
    val cause = new IllegalStateException("star fixpoint not reached in \"2\" rounds\tat cap\nplan:\n+- Scan")
    assert(Bench.causeJson(cause) ===
      """{"class":"java.lang.IllegalStateException",""" +
        """"message":"star fixpoint not reached in \"2\" rounds\tat cap"}""")
    assert(Bench.causeJson(new RuntimeException()) ===
      """{"class":"java.lang.RuntimeException","message":""}""")
    val long = Bench.causeJson(new RuntimeException("x" * 1000))
    assert(long.contains("\"" + "x" * 300 + "\"}"))
  }
}
