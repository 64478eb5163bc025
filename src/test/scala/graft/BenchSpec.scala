package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("a gate that throws comes back failed, not timed") {
    assert(Bench.timeGate("boom")(throw new IllegalStateException("boom")).isEmpty)
    assert(Bench.timeGate("sleep")(Thread.sleep(5)).exists(_ >= 0.005))
  }
}
