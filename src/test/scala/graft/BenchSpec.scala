package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-attribution layer is what keeps a load-inflated
  * artifact from reading as a code regression (the r5/r6 adjudication
  * lesson) — so its envelope scaling and suspect bounding are pinned
  * here as pure functions, no SparkSession needed. */
class BenchSpec extends AnyFunSuite {

  test("envelopeFor scales by 32/cpus below 32 and clamps at the 32-thread envelope above") {
    assert(Bench.envelopeFor(32) == Bench.CalibEnvelopeSec)
    assert(Bench.envelopeFor(64) == Bench.CalibEnvelopeSec) // never tighter
    assert(Bench.envelopeFor(4) == Bench.CalibEnvelopeSec * 8)
    assert(Bench.envelopeFor(0) == Bench.CalibEnvelopeSec * 32) // guard
  }

  test("envelopeFor(cpus, warmFloor): 2x the measured floor when it exceeds the static envelope, static otherwise") {
    // sf0.1-like floor: static 0.30 dominates — semantics unchanged
    assert(Bench.envelopeFor(32, 0.12) == Bench.CalibEnvelopeSec)
    // sf1-like floor: the relative floor takes over (0.303 no longer
    // flaps a 0.20-floor run)
    assert(Bench.envelopeFor(32, 0.20) == 0.40)
    // the relative floor is CAPPED at 4x static: a warm floor measured
    // under load the 1-minute loadavg hadn't caught yet must not widen
    // the envelope past the bound that catches 3-6x interference
    assert(Bench.envelopeFor(32, 1.0) == 4.0 * Bench.CalibEnvelopeSec)
    assert(Bench.envelopeFor(32, 100.0) == 4.0 * Bench.CalibEnvelopeSec)
    // both scalings compose: the larger wins
    assert(Bench.envelopeFor(4, 0.20) == Bench.CalibEnvelopeSec * 8)
  }

  test("suspectNames: only queries bounded by an over-envelope checkpoint are flagged") {
    val names = (0 until 30).map(i => f"q$i%02d")
    // checkpoints before q0, before q10, before q20, after q29;
    // the q10 reading is hot — exactly the segments it bounds
    // (q00..q09 from the right, q10..q19 from the left) are suspect
    val series = Seq((0, 0.1), (10, 0.5), (20, 0.1), (30, 0.1))
    val flagged = Bench.suspectNames(names, series, envelope = 0.3)
    assert(flagged == (0 until 20).map(i => f"q$i%02d"))
  }

  test("suspectNames: clean series flags nothing; hot endpoints flag only their own segment") {
    val names = (0 until 25).map(i => f"q$i%02d")
    val clean = Seq((0, 0.2), (10, 0.15), (20, 0.25), (25, 0.1))
    assert(Bench.suspectNames(names, clean, 0.3).isEmpty)
    // hot FIRST checkpoint: only q00..q09 (bounded by it on the left)
    val hotStart = Seq((0, 0.9), (10, 0.1), (20, 0.1), (25, 0.1))
    assert(Bench.suspectNames(names, hotStart, 0.3) ==
      (0 until 10).map(i => f"q$i%02d"))
    // hot LAST checkpoint: only the tail segment q20..q24
    val hotEnd = Seq((0, 0.1), (10, 0.1), (20, 0.1), (25, 0.9))
    assert(Bench.suspectNames(names, hotEnd, 0.3) ==
      (20 until 25).map(i => f"q$i%02d"))
  }

  test("suspectNames: a query with no checkpoint on one side takes the verdict of the side it has") {
    val names = Seq("a", "b", "c")
    // no trailing checkpoint: b and c are bounded only on the left
    assert(Bench.suspectNames(names, Seq((0, 0.1), (1, 0.9)), 0.3) ==
      Seq("a", "b", "c"))
    // ...and a clean left bound alone flags nothing
    assert(Bench.suspectNames(names, Seq((0, 0.1)), 0.3).isEmpty)
  }

  test("loadFlagged: fires only on a loaded start AND p50 far above the run minimum") {
    // idle start: never flags, whatever the dispersion (structural 0
    // on an idle sweep — the r13 contract)
    assert(!Bench.loadFlagged(loadStart = 0.5, p50 = 5.0, minRun = 1.0))
    // loaded start + the r12 g3 shape (p50 5.01 vs ~1 s clean runs)
    assert(Bench.loadFlagged(loadStart = 4.36, p50 = 5.0, minRun = 1.0))
    // loaded start but tight runs: the median is trustworthy
    assert(!Bench.loadFlagged(loadStart = 4.36, p50 = 1.1, minRun = 1.0))
    // ratio met but absolute delta under the slack (sub-second query
    // scheduling noise): no flag
    assert(!Bench.loadFlagged(loadStart = 4.36, p50 = 0.4, minRun = 0.1))
    // boundary: exactly 2x and exactly 0.5 s delta flags
    assert(Bench.loadFlagged(loadStart = 1.0, p50 = 1.0, minRun = 0.5))
    // the driver's r13 tx28 as the detail file recorded it: p50 1.184
    // = 2.000x min 0.592 at load 1.43 flags...
    assert(Bench.loadFlagged(loadStart = 1.43, p50 = 1.184, minRun = 0.592))
    // ...and so do unrounded runs that the detail file rounds to those
    // values, though 1.18351 < 2 x 0.59249 in unrounded seconds
    assert(Bench.loadFlagged(loadStart = 1.43, p50 = 1.18351, minRun = 0.59249))
  }
}
