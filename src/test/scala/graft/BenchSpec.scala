package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's warm-up list must name real queries: an unknown name throws at
  * warm-up time and leaves the rest of the list cold. No session needed. */
class BenchSpec extends AnyFunSuite {
  test("every query Bench warms up is a SparkEntry query") {
    val names = SparkEntry.queries.keySet
    val missing = ("q1_agg" +: Bench.Headline).filterNot(names.contains)
    assert(missing.isEmpty, s"not in SparkEntry.queries: $missing")
  }
}
