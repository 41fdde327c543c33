package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness counts a throwing query as a failure: it is listed
  * in the `"failed"` member and yields no timing sample.
  */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is recorded as failed, never as a sample") {
    val failed = scala.collection.mutable.Set.empty[String]
    assert(Bench.timeRun("q_boom", failed) {
      throw new IllegalStateException("boom")
    }.isEmpty)
    val ok = Bench.timeRun("q_ok", failed)(Thread.sleep(5))
    assert(ok.exists(_ >= 0.005))
    assert(failed.toSet === Set("q_boom"))
    assert(Bench.failedJson(failed) === "\"failed\":[\"q_boom\"]")
    assert(Bench.failedJson(Nil) === "\"failed\":[]")
  }
}
