package graft

import graft.obs.{Signals, SparkWork}

/** The measurement core: exact Spark work counts without sleeping, and
  * the store-signal registry's counts, notes and JSON rendering.
  */
class ObsSpec extends SparkSpec {

  test("SparkWork.during counts exactly the jobs and tasks of its body, 20 runs in a row") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    df.collect() // warm
    (1 to 20).foreach { i =>
      val (rows, work) = SparkWork.during(spark) { df.collect(); df.collect() }
      assert(rows.length === 100)
      assert((work.jobs, work.tasks) === ((2L, 8L)), s"run $i: $work")
    }
  }

  test("SparkWork.during counts one SQL execution per noop save") {
    val (_, work) = SparkWork.during(spark) {
      (1 to 3).foreach(_ =>
        spark.range(10).write.mode("overwrite").format("noop").save())
    }
    assert(work.sqlExecutions === 3)
  }

  test("SparkWork.during counts the classes a new plan shape compiles, and none on an identical re-run") {
    // a literal no earlier plan carried makes the generated code new
    val k = 1000003L + scala.util.Random.nextInt(1 << 30)
    val df = spark.range(0, 100, 1, 2).selectExpr(s"id * $k + 7 AS x")
      .filter(s"x % $k = 7")
    val (_, first) = SparkWork.during(spark)(df.collect())
    assert(first.compiles >= 1L, first)
    assert(first.compileS > 0.0, first)
    val (_, again) = SparkWork.during(spark)(df.collect())
    assert(again.compiles === 0L, again)
    assert(again.json(0.1).endsWith(""""compiles":0,"compile_s":0.000}"""))
  }

  test("SparkWork.during propagates a throwing body") {
    val e = intercept[IllegalStateException](
      SparkWork.during(spark)(throw new IllegalStateException("boom")))
    assert(e.getMessage === "boom")
  }

  test("Signals count per key, and the last note wins") {
    val sig = "obs_spec_counts"
    assert(Signals.count(sig, "a") === 1L)
    assert(Signals.count(sig, "a") === 2L)
    assert(Signals.count(sig, "b") === 1L)
    Signals.note(sig, "a", "first")
    Signals.note(sig, "a", "second")
    Signals.note(sig, "c", "only")
    assert(Signals.counts(sig) === Map("a" -> 2L, "b" -> 1L))
    assert(Signals.notes(sig) === Map("a" -> "second", "c" -> "only"))
    assert(Signals.signals.contains(sig))
    assert(Signals.json.contains(
      "\"obs_spec_counts\": {\"a\": {\"count\": 2, \"note\": \"second\"}, " +
        "\"b\": {\"count\": 1}, \"c\": {\"note\": \"only\"}}"))
  }

  test("Signals.json renders every declared signal, recorded or not") {
    Seq(Signals.SwallowedAdvances, Signals.GovernProbes,
      Signals.GovernProbeFailures, Signals.FamilyCuts,
      Signals.OrphanSuffixViolations).foreach { s =>
      assert(Signals.json.contains(s"\"$s\": {"), s)
    }
  }

  test("two 250-char keys sharing a 200-char prefix render as two JSON members") {
    val sig = "obs_spec_long_keys"
    val prefix = "r" * 200
    Signals.count(sig, prefix + "a" * 50)
    Signals.count(sig, prefix + "b" * 50)
    val line = Signals.json.linesIterator.find(_.contains(s"\"$sig\"")).get
    val members = (prefix + "#[0-9a-f]{8}").r.findAllIn(line).toSeq
    assert(members.size === 2, line)
    assert(members.distinct.size === 2, line)
  }
}
