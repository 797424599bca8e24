package graft

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** Pins the interleaved A/B core in [[Bench]]: a field called median
  * holds the median, and no arm always runs first. */
class BenchSpec extends AnyFunSuite {

  test("median of an even count is the mean of the two middle readings") {
    val s = Bench.summarize(Seq(4.0, 1.0, 3.0, 2.0))
    assert(s == Bench.Summary(min = 1.0, median = 2.5, all = Seq(4.0, 1.0, 3.0, 2.0)))
    assert(Bench.summarize(Seq(3.0, 1.0, 2.0)).median == 2.0)
  }

  test("interleave warms each arm once, then alternates arm order from rep to rep") {
    val calls = mutable.ArrayBuffer.empty[String]
    val last = mutable.Map("a" -> 0.0, "b" -> 10.0)
    def arm(n: String) = n -> (() => { calls += n; last(n) += 1; last(n) })
    val out = Bench.interleave(Seq(arm("a"), arm("b")), reps = 4).toMap
    assert(calls == Seq("a", "b", "a", "b", "b", "a", "a", "b", "b", "a"))
    // the warm-up readings (1.0 and 11.0) are not summarized
    assert(out("a") == Bench.Summary(2.0, 3.5, Seq(2.0, 3.0, 4.0, 5.0)))
    assert(out("b") == Bench.Summary(12.0, 13.5, Seq(12.0, 13.0, 14.0, 15.0)))
  }
}
