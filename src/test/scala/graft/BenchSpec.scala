package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s contention re-run merge rule. */
class BenchSpec extends AnyFunSuite {
  test("a failed extra rep is dropped; successful ones join the main pass, sorted") {
    assert(Bench.withExtraReps(Seq(1.0, 2.0, 4.0), Seq(-1.0, -1.0)) == Seq(1.0, 2.0, 4.0))
    assert(Bench.withExtraReps(Seq(2.0, 3.0, 9.0), Seq(-1.0, 2.5, 1.0)) ==
      Seq(1.0, 2.0, 2.5, 3.0, 9.0))
  }
}
