package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's failure accounting: a query that throws is reported
  * failed, never recorded as a timing. No Spark session. */
class BenchTimingSpec extends AnyFunSuite {

  test("a builder that throws is reported failed and is not timed") {
    val boom = new IllegalStateException("boom")
    assert(Bench.timeRuns(2)(throw boom) == Left(boom))
    // a failure on a later run fails the query too: no partial timing
    var n = 0
    assert(Bench.timeRuns(2) { n += 1; if (n == 2) throw boom }.isLeft)
  }

  test("a query that returns is timed once per run") {
    var n = 0
    val t = Bench.timeRuns(3)(n += 1)
    assert(n == 3 && t.exists(ts => ts.size == 3 && ts.forall(_ >= 0.0)))
  }

  test("fatal errors propagate") {
    intercept[OutOfMemoryError](Bench.timeRuns(1)(throw new OutOfMemoryError("fatal")))
  }
}
