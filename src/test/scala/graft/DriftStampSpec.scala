package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the batch-bench drift adjudication (r15 verdict task 3): the
  * retry-before-recording policy and the stamp-only-between-two-
  * confirmed-drifted-boundaries rule that replaced r15's one-blip-
  * condemns-40-queries max semantics. */
class DriftStampSpec extends AnyFunSuite {

  private val Th = Bench.DriftSuspect // 1.5

  // ------------------------------------------------------------ retry policy

  test("in-band reading records without a retry") {
    val (rec, retried) = DriftStamp.adjudicate(0.9,
      fail("re-measure must not be taken"), bestSoFar = 0.8, Th)
    assert(rec == 0.9 && !retried)
  }

  test("blip recovers: out-of-band first reading, in-band re-measure") {
    // the r15 judge-run case: one 1.55x control blip; the re-measure
    // reads nominal, so the RECORDED tick is clean and stamps nothing
    val (rec, retried) = DriftStamp.adjudicate(1.24, 0.82, bestSoFar = 0.8, Th)
    assert(rec == 0.82 && retried)
  }

  test("drift persists: the re-measure is recorded, still out of band") {
    val (rec, retried) = DriftStamp.adjudicate(2.6, 2.5, bestSoFar = 0.8, Th)
    assert(rec == 2.5 && retried)
  }

  test("failed reading always retries, even with no in-band reference") {
    assert(DriftStamp.needsRetry(-1.0, bestSoFar = -1.0, Th))
    // a high reading with no reference yet is warm-up, not drift
    assert(!DriftStamp.needsRetry(3.0, bestSoFar = -1.0, Th))
  }

  // ----------------------------------------------------- segment stamping

  // ticks: (nth measured run when taken, recorded seconds); baseline is
  // the median positive reading. Runs at 0.8 ≈ drift 1.0.
  private def runsAt(ns: Int*): Seq[(String, Int, Double)] =
    ns.map(n => (s"q$n", n, 0.5))

  test("a single drifted tick between clean neighbors stamps nothing") {
    val ticks = IndexedSeq((0, 1.3), (20, 0.8), (40, 1.6), (60, 0.8))
    // segment (20,40] has boundaries drift(1.0, 2.0) -> min 1.0: clean;
    // segment (40,60] has (2.0, 1.0) -> min 1.0: clean
    assert(DriftStamp.suspects(ticks, runsAt(25, 45), Th).isEmpty)
  }

  test("runs between two confirmed-drifted ticks are stamped") {
    val ticks = IndexedSeq((0, 0.9), (20, 0.8), (40, 0.8), (60, 2.0), (80, 2.1))
    // baseline = median = 0.9. (40,60]: boundaries (1.0, 2.5) -> clean
    // (the degradation started mid-segment; only its confirmed extent
    // stamps). (60,80]: (2.5, 2.6) -> BOTH drifted -> q65, q75 stamped.
    assert(DriftStamp.suspects(ticks, runsAt(45, 65, 75), Th) ==
      Seq("q65", "q75"))
  }

  test("a failed tick reads as infinite drift but needs a drifted partner") {
    val ticks = IndexedSeq((0, 0.8), (20, 0.8), (40, -1.0), (60, 0.8))
    assert(DriftStamp.suspects(ticks, runsAt(25, 45), Th).isEmpty)
    val ticks2 = IndexedSeq((0, 0.8), (20, 0.8), (40, -1.0), (60, 1.9))
    assert(DriftStamp.suspects(ticks2, runsAt(45), Th) == Seq("q45"))
  }

  test("tick-0 warm-up reading is clamped and never confirms a segment") {
    val ticks = IndexedSeq((0, 2.5), (20, 0.8), (40, 0.8), (60, 0.8))
    // segment (0,20]: boundaries (tick0 clamped to 1.0, 1.0) -> clean
    // even though the raw tick-0 reading is ~3x the 0.8 baseline
    assert(DriftStamp.suspects(ticks, runsAt(5, 15), Th).isEmpty)
    assert(DriftStamp.driftSeries(ticks)(0) == 1.0)
  }

  test("a spike its retry confirmed stamps both adjacent segments") {
    // BENCH_r17: control 6.42 s, retried at 6.77 s, yet `suspect: []`
    val ticks = IndexedSeq((0, 0.8), (20, 0.8), (40, 0.8), (60, 6.77),
      (80, 0.8), (100, 0.8))
    val runs = runsAt(45, 65, 85)
    assert(DriftStamp.suspects(ticks, runs, Th, retried = Set(60)) ==
      Seq("q45", "q65"))
    // never retried: the both-boundaries rule still applies
    assert(DriftStamp.suspects(ticks, runs, Th).isEmpty)
    // a retried tick that recovered in band confirms nothing
    assert(DriftStamp.suspects(ticks, runs, Th, retried = Set(40)).isEmpty)
  }

  test("failed runs are never stamped (they are in `failed` already)") {
    val ticks = IndexedSeq((0, 0.8), (20, 0.8), (40, 2.0), (60, 2.0))
    assert(DriftStamp.suspects(ticks, Seq(("qf", 45, -1.0)), Th).isEmpty)
  }
}
