package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression tripwire must separate "the HOST slowed down"
  * (uniform contention — everything including the CPU probe moves
  * together; BASELINE.md documents identical code swinging 111→186 s
  * across a day) from "QUERY X slowed down" (a real plan regression —
  * the query moves, the probe doesn't). */
class BenchCalibrationSpec extends AnyFunSuite {

  private val ref = Map(
    "__calib__" -> 0.5,
    "q_fast" -> 0.2,
    "q_mid" -> 1.0,
    "q_heavy" -> 6.0)

  test("a deliberate 2x single-query slowdown trips the flag") {
    val cur = Seq("q_fast" -> 0.2, "q_mid" -> 2.1, "q_heavy" -> 6.0)
    val flags = Bench.flaggedRegressions(cur, calib = 0.5, ref = ref)
    assert(flags.map(_._1) === Seq("q_mid"))
    assert(flags.head._2 >= 2.0)
  }

  test("uniform 2x host contention (probe doubles too) does NOT trip") {
    val cur = Seq("q_fast" -> 0.4, "q_mid" -> 2.0, "q_heavy" -> 12.0)
    assert(Bench.flaggedRegressions(cur, calib = 1.0, ref = ref) === Nil)
  }

  test("sub-noise-floor queries never flag, however large the ratio") {
    // 0.2 s -> 0.45 s is a 2.25x ratio but below the 0.5 s floor
    val cur = Seq("q_fast" -> 0.45)
    assert(Bench.flaggedRegressions(cur, calib = 0.5, ref = ref) === Nil)
  }

  test("missing reference map (first round) degrades to no flags") {
    assert(Bench.flaggedRegressions(Seq("q_mid" -> 9.0), 0.5, Map.empty) === Nil)
    assert(Bench.loadReference("tools/__no_such_file__.txt") === Map.empty)
  }

  test("flags rank worst-first and round to 2dp") {
    val cur = Seq("q_mid" -> 2.0, "q_heavy" -> 30.0)
    val flags = Bench.flaggedRegressions(cur, calib = 0.5, ref = ref)
    assert(flags.map(_._1) === Seq("q_heavy", "q_mid"))
    assert(flags === flags.map { case (k, v) => k -> (math.rint(v * 100) / 100) })
  }
}
