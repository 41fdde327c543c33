package graft
import org.apache.spark.sql.SparkSession
import graft.obs.{Signals, SparkWork}

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, ONE JSON line on stdout.
  *
  * Self-diagnosing: the build box is multi-tenant (observed 3× swings
  * run-to-run for identical code), so the artifact records the 1-minute
  * load average at start/end and EVERY raw sample per query — a reader can
  * spot external-load noise without re-running. Each query is timed
  * best-of-2 with the SQL cache cleared between runs — the two samples
  * come from two INTERLEAVED full passes over the suite, so a load spike
  * shorter than a pass can dirty at most one of them; a query whose best
  * is still > 1 s gets a THIRD sample (slow samples are exactly the ones
  * that need de-noising — round 8's artifact carried a 16.6 s t05 that
  * re-measured at 1.1 s on a quiet box, and round 9's carried three
  * phantom regressions in the 1–3 s band (q39 3.5 s vs 1.1 s quiet-box)
  * because the old 3 s absolute bar left that band with only two
  * correlated samples and the 2×-spread tell alone didn't fire).
  *
  * Self-ACTING (round 14): recording the tells wasn't enough — round
  * 13's driver artifact shipped 33% inflated through a contaminated
  * window and only forensics caught it. When the box is busy (load avg
  * > 1.5 at start or after sampling) or any query's two BEST samples
  * still disagree > 2× after its third, the run adds ONE more full
  * interleaved pass and stamps `"contaminated": true` plus the trigger
  * in the contract line and both side files — a dirty headline number
  * now declares itself instead of waiting to be adjudicated.
  *
  * A query that throws is a FAILURE, never a sample: it is listed under
  * `"failed"` in the contract line and the side files, and only its
  * successful runs (if any) are timed — a query that never succeeds
  * contributes no time to the total.
  *
  * Every sample also counts its Spark work ([[graft.obs.SparkWork]]):
  * `BENCH_PROFILE.json` holds each query's fastest sample as
  * `{wall_s, jobs, tasks, task_s, sql_executions, compiles, compile_s}`,
  * plus the store signals under `"store"`. Job and task counts do not
  * depend on box load, so they compare across runs that walls cannot.
  *
  * `runMain graft.Bench [query…]`: trailing query names (or ids: `q58`)
  * run only those queries; such a run prints the contract line and one
  * `PROF,<query>,<wall_s>,<jobs>,<tasks>,<task_s>,<compiles>,<compile_s>`
  * line per query, and writes no side file (those describe full-suite
  * runs), so its contract line's `"queries_file"` is `null`.
  */
object Bench {

  /** Time one run of `body`; a throw records `name` in `failed` and
    * yields no sample.
    */
  private[graft] def timeRun(name: String,
                             failed: scala.collection.mutable.Set[String])(
                             body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case t: Throwable =>
      System.err.println(s"bench: $name failed: $t")
      failed += name
      None
    }
  }

  /** One timed run of `body` under [[SparkWork.during]] (the clock stops
    * before the listener bus is drained), kept in `fastest` when it is
    * `name`'s fastest so far. A throw yields no sample and no profile
    * row.
    */
  private[graft] def sample(spark: SparkSession, name: String,
                            failed: scala.collection.mutable.Set[String],
                            fastest: scala.collection.mutable.Map[String, (Double, SparkWork)])(
                            body: => Unit): Option[Double] = {
    val (wall, work) = SparkWork.during(spark)(timeRun(name, failed)(body))
    wall.foreach(w => if (fastest.get(name).forall(_._1 > w)) fastest(name) = (w, work))
    wall
  }

  /** The `"queries"` member of `BENCH_PROFILE.json`, names sorted. */
  private[graft] def profileJson(
      fastest: collection.Map[String, (Double, SparkWork)]): String =
    fastest.toSeq.sortBy(_._1)
      .map { case (k, (wall, work)) => s"\"$k\":${work.json(wall)}" }
      .mkString("{", ",", "}")

  /** The `"failed":[…]` member, names sorted. */
  private[graft] def failedJson(failed: Iterable[String]): String =
    failed.toSeq.sorted.map(n => s"\"$n\"").mkString("\"failed\":[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSet
    // a trailing arg selects the query it names or whose id it is
    // (`q58` selects `q58_tick_reports`)
    def names(arg: String, query: String): Boolean =
      query == arg || query.startsWith(arg + "_")
    def selected(query: String): Boolean =
      only.isEmpty || only.exists(names(_, query))
    val unknown = only.filterNot(a => SparkEntry.queries.keys.exists(names(a, _)))
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(" ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: repeated session-level WARNs (function re-register,
    // nanos-timestamp notes) land on stdout and compete with the contract
    // line for the consumer's bounded tail window
    spark.sparkContext.setLogLevel("ERROR")
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg
    // Warm up the JVM/codegen/parquet-footer paths so the first measured
    // query isn't charged session startup.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      graft.Lake.tableNames.foreach(t =>
        graft.Lake.table(spark, sfDir, t).limit(1).count())
    } catch { case _: Throwable => () }
    val failed = scala.collection.mutable.Set.empty[String]
    val fastest = scala.collection.mutable.Map.empty[String, (Double, SparkWork)]
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      // noop sink: fully evaluates every output column. A bare count()
      // would let Catalyst PRUNE the computed projections of narrow
      // row-local queries and time little more than the scan.
      val t = sample(spark, name, failed, fastest) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      spark.sharedState.cacheManager.clearCache() // keep every run cold
      t
    }
    def fmt(d: Double): String = f"$d%.3f"
    // INTERLEAVED sampling: one full pass over every query, then a
    // second full pass — back-to-back samples of the same query are
    // CORRELATED under a minutes-long external load spike on this
    // multi-tenant box (observed repeatedly: a spike spanning an
    // alphabetical window inflates BOTH adjacent samples 10–100×, e.g. a
    // t01 that measured [82 s, 125 s] back-to-back vs 1.0 s quiet-box),
    // while two passes separated by the whole suite give every query one
    // sample outside any sub-suite-length spike.
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => selected(name) }.sortBy(_._1)
    val pass1 = ordered.map { case (name, fn) => once(name, fn) }
    val pass2 = ordered.map { case (name, fn) => once(name, fn) }
    val sampled = ordered.zipWithIndex.flatMap { case ((name, fn), i) =>
      val two = Seq(pass1(i), pass2(i)).flatten
      // third sample when the best is slow in absolute terms OR the two
      // samples disagree strongly (>2× spread = at least one is dirty).
      // The absolute bar is 1 s (lowered from 3 s after round 9 shipped
      // three phantom regressions in the 1–3 s band); round 8's 16.6 s
      // t05 (quiet-box truth: 1.1 s) passed the even older 20 s bar with
      // two equally-dirty samples.
      val noisy = two.nonEmpty && (two.min > 1.0 ||
        (two.min > 0.3 && two.max / two.min > 2.0))
      val samples = if (noisy) two ++ once(name, fn) else two
      // a query with no successful run has no time to report
      if (samples.isEmpty) None else Some((name, samples.min, samples))
    }
    // Contamination protocol (round 14): the harness previously RECORDED
    // the external-load tells (raw samples + load averages) but nothing
    // acted on them — round 13's driver artifact shipped 33% inflated
    // (sum-of-first-samples 802 s vs 125 s for an identical suite) and
    // only post-hoc forensics caught it. Now the tells trigger ONE more
    // full interleaved pass (every query gets a sample outside the
    // contaminated window) and the artifact self-declares. Tells:
    //  - box busy BEFORE we start (1-min load average > 1.5 at launch —
    //    mid-run load measures our OWN local[32] work, observed 1.8–2.9
    //    on an otherwise-idle box, so it cannot distinguish external
    //    contamination and is recorded but never triggers); or
    //  - some query's two BEST samples still disagree > 2× after the
    //    third sample with the smaller one above 1 s — meaning at most
    //    one clean sample exists and even the best-of is untrustworthy.
    //    (Floor 1.0 s: sub-second queries jitter 2–3× on JVM/GC noise
    //    alone — observed q06/q08/s09 tripping a 0.3 s floor on a quiet
    //    box — while the real r13 contamination was 40–60 s spikes.)
    def twoBestDisagree(s: Seq[Double]): Boolean = {
      val b = s.sorted.take(2)
      b.size == 2 && b.head > 1.0 && b(1) / b.head > 2.0
    }
    // loadMid is RECORDED (load_avg_mid in every artifact — forensics
    // for external load arriving mid-run, which otherwise shows up only
    // as sample spread) but never triggers: mid-run load measures our
    // OWN local[32] work (observed 1.8–2.9 on an idle box).
    val loadMid = loadAvg
    val spreadSuspects =
      sampled.collect { case (k, _, s) if twoBestDisagree(s) => k }
    val loadBar = 1.5
    val loadDirty = loadStart > loadBar
    val trigger: Option[String] =
      if (loadDirty && spreadSuspects.nonEmpty)
        Some(f"load_avg_start>$loadBar%.1f ($loadStart%.2f) + " +
          s"two-best spread>2x: ${spreadSuspects.take(5).mkString(" ")}")
      else if (loadDirty)
        Some(f"load_avg_start>$loadBar%.1f ($loadStart%.2f)")
      else if (spreadSuspects.nonEmpty)
        Some("two-best spread>2x after 3rd sample: " +
          spreadSuspects.take(5).mkString(" "))
      else None
    val results = trigger match {
      case None => sampled
      case Some(_) =>
        val fns = ordered.toMap
        sampled.map { case (k, _, s) =>
          val all = s ++ once(k, fns(k))
          (k, all.min, all)
        }
    }
    val contaminated = trigger.isDefined
    val statusJson =
      s""""contaminated":$contaminated""" + trigger
        .map(t => s""","contamination_trigger":"$t"""").getOrElse("") +
        "," + failedJson(failed)
    val samplesJson = results
      .map { case (k, _, s) => s"\"$k\":[${s.map(fmt).mkString(",")}]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = loadAvg
    // The driver captures only the LAST ~2000 chars of sbt stdout and
    // json-parses the contract line out of that tail. With 80+ queries a
    // full per-query map is ~2.4 KB — the line's HEAD scrolls out of the
    // window and the driver parses nothing (observed rounds 1–4). So the
    // stdout line carries the total plus per-query times for as many of
    // the SLOWEST queries as fit a hard 1700-char budget (sbt appends a
    // ~75-char "[success]" trailer inside the same window); the complete
    // per-query map and raw samples go to side files at ABSOLUTE paths
    // under the repo root, referenced from the line itself.
    val repoRoot: java.nio.file.Path = {
      var p = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
      while (p.getParent != null && !java.nio.file.Files.exists(p.resolve("build.sbt")))
        p = p.getParent
      if (java.nio.file.Files.exists(p.resolve("build.sbt"))) p
      else java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    }
    val fullPath = repoRoot.resolve("BENCH_FULL.json")
    // a subset run writes no BENCH_FULL.json: the last full run's file
    // would describe other numbers
    val queriesFile = if (only.nonEmpty) "null" else "\"" + fullPath + "\""
    val samplesPath = repoRoot.resolve("BENCH_SAMPLES.json")
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","load_avg_start":${fmt(loadStart)},"load_avg_mid":${fmt(loadMid)},"load_avg_end":${fmt(loadEnd)},$statusJson,"n_queries":${results.size},"queries_file":$queriesFile,"queries":{"""
    val tail = "}}"
    val budget = 1700 - head.length - tail.length
    val bySlowest = results.sortBy(-_._2).map { case (k, v, _) => s"\"$k\":${fmt(v)}" }
    val picked = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    for (e <- bySlowest if used + e.length + 1 <= budget) { picked += e; used += e.length + 1 }
    val line = head + picked.mkString(",") + tail
    // Contract line prints FIRST: a failed side-file write must never cost
    // the contract line a full bench run already paid for.
    println(line)
    def writeJson(p: java.nio.file.Path, body: String): Unit =
      try java.nio.file.Files.write(p, body.getBytes("UTF-8"))
      catch { case e: java.io.IOException => System.err.println(s"$p write failed: $e") }
    if (only.nonEmpty) results.foreach { case (k, _, _) =>
      val (wall, w) = fastest(k)
      println(f"PROF,$k,$wall%.3f,${w.jobs},${w.tasks},${w.taskS}%.2f," +
        f"${w.compiles},${w.compileS}%.3f")
    } else {
      val qsFull = results.map { case (k, v, _) => s"\"$k\":${fmt(v)}" }
        .mkString("{", ",", "}")
      writeJson(fullPath,
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","load_avg_start":${fmt(loadStart)},"load_avg_mid":${fmt(loadMid)},"load_avg_end":${fmt(loadEnd)},$statusJson,"queries":$qsFull}""")
      writeJson(samplesPath,
        s"""{"sf":"$sfDir","load_avg_start":${fmt(loadStart)},"load_avg_mid":${fmt(loadMid)},"load_avg_end":${fmt(loadEnd)},$statusJson,"samples":$samplesJson}""")
      writeJson(repoRoot.resolve("BENCH_PROFILE.json"),
        s"""{"sf":"$sfDir",$statusJson,"queries":${profileJson(fastest)},"store":${Signals.json}}""")
    }
    spark.stop()
  }
}
