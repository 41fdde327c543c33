package graft

import graft.obs.SparkWork

/** The bench harness counts a throwing query as a failure: it is listed
  * in the `"failed"` member and yields no timing sample and no profile
  * row.
  */
class BenchSpec extends SparkSpec {

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

  test("a throwing query yields no profile row; a query's row is its fastest sample") {
    val failed = scala.collection.mutable.Set.empty[String]
    val fastest = scala.collection.mutable.Map.empty[String, (Double, SparkWork)]
    assert(Bench.sample(spark, "q_boom", failed, fastest) {
      throw new IllegalStateException("boom")
    }.isEmpty)
    val walls = Seq(20, 5, 40).flatMap { ms =>
      Bench.sample(spark, "q_ok", failed, fastest) {
        Thread.sleep(ms)
        spark.range(0, 10, 1, 2).collect()
      }
    }
    assert(failed.toSet === Set("q_boom"))
    assert(fastest.keySet === Set("q_ok"))
    val (wall, work) = fastest("q_ok")
    assert(wall === walls.min)
    assert((work.jobs, work.tasks, work.sqlExecutions) === ((1L, 2L, 1L)))
    val json = Bench.profileJson(fastest)
    assert(json.startsWith("{\"q_ok\":{\"wall_s\":"))
    assert(!json.contains("q_boom"))
  }
}
