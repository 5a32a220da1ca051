package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's headline sums: a failing query is counted and named,
  * never summed as a (faster) time.
  */
class BenchSpec extends AnyFunSuite {
  test("a throwing query raises n_failed and does not lower total") {
    val ok = Bench.timed(Thread.sleep(5))
    val bad = Bench.timed {
      Thread.sleep(5)
      throw new IllegalStateException("query failed")
    }
    assert(ok > 0)
    assert(bad < 0, "a failure carries the negative sentinel")
    val clean = Bench.summarise(Seq("q_ok" -> ok))
    val failing = Bench.summarise(Seq("q_ok" -> ok, "q_bad" -> bad))
    assert(clean.nFailed === 0 && clean.failed.isEmpty)
    assert(failing.nFailed === 1)
    assert(failing.failed === Seq("q_bad"))
    assert(failing.total === clean.total)
    assert(failing.failedJson === "\"n_failed\":1,\"failed\":[\"q_bad\"]")
  }
}
