package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("timed: a query that throws gets no time, a query that returns does") {
    assert(Bench.timed("boom")(throw new IllegalStateException("query crashed")).isEmpty)
    val ok = Bench.timed("fine")(Thread.sleep(20))
    assert(ok.exists(_ >= 0.02), s"elapsed seconds of a completed query: $ok")
  }
}
