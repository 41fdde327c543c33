package graft.tools

import java.nio.file.{Files, Path, Paths}

/** One committed artifact per round for the failure-injection and
  * streaming-scale gates. [[CcFailover]] and [[IngestFailover]] are
  * real-process executor-kill gates and [[StreamingScale]] is the
  * volume gate for the six streaming forms — until round 14 they were
  * manual, fire-and-remember invocations whose evidence lived in
  * SCALING.md prose, so a silently-skipped kill gate was invisible.
  * This runner executes all of them and writes a single
  * `GATES_r<N>.json` at the repo root: a regression (or a skipped run)
  * now shows up as a committed diff, the BENCH/CORRECTNESS discipline
  * applied to the failure gates.
  *
  * Each gate runs in a FORKED JVM: the kill gates need
  * `local-cluster` masters and `System.exit(137)` executors, the
  * streaming gate a `local[32]` session, and none of them may share a
  * JVM with the runner (or each other — one SparkSession per process).
  * The fork replicates the sbt harness's JDK17 module opens and passes
  * SPARK_HOME/SPARK_SCALA_VERSION through (defaulting to /opt/spark and
  * 2.13 — the standalone worker builds executor launch commands from
  * them).
  *
  * {{{
  * sbt -batch "runMain graft.tools.RoundGates 14"
  * }}}
  *
  * args: [roundN] [sfDir]
  */
object RoundGates {

  private case class Gate(name: String, cls: String, gateArgs: Seq[String])

  def main(args: Array[String]): Unit = {
    val round = args.headOption.getOrElse("0")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val gates = Seq(
      Gate("streaming_scale", "graft.tools.StreamingScale", Seq(sfDir)),
      Gate("cc_failover", "graft.tools.CcFailover", Seq.empty),
      // default regime: task retries absorb the kill inside the wave job.
      // killAfterJobs=5 (not the tool's 8): a fast box can finish all six
      // waves before a late kill lands, which the gate rightly fails
      Gate("ingest_failover", "graft.tools.IngestFailover",
        Seq("40000", "6", "5")),
      // replay regime: taskMaxFailures=1 forces the kill to abort a wave
      // job so the driver-level checkpoint-replay path must carry it
      Gate("ingest_failover_replay", "graft.tools.IngestFailover",
        Seq("40000", "6", "8", "1")),
      // ANN store refresh-vs-append race under object-store latency:
      // waves retry through the refresh lease, a fenced straggler is
      // repaired, loaded store must equal a clean rebuild (see
      // AnnStoreScale.raceRegime)
      Gate("ann_refresh_race", "graft.tools.AnnStoreScale",
        Seq(sfDir, "6", "150", "1", "5", "race")),
      // same race at the 200 ms/op rung of the latency ladder — the
      // deployment SCALING.md's compaction knob text promises behavior
      // at ("per-call for 200 ms+ deployments"); fewer waves keep the
      // gate bounded while every protocol op still pays the full rung
      Gate("ann_refresh_race_200ms", "graft.tools.AnnStoreScale",
        Seq(sfDir, "4", "150", "1", "200", "race")),
      // mid-swap CRASH under latency (round 17, the store-cut gate): a
      // refresh killed after all eight table commits but before its
      // single cut publish — the old cut must serve bit-identically,
      // appends must refuse the orphan snapshots, and the re-run must
      // repair to the clean rebuild (see AnnStoreScale.crashRegime)
      Gate("ann_swap_crash", "graft.tools.AnnStoreScale",
        Seq(sfDir, "4", "150", "1", "50", "crash")),
      // tag-FAMILY mid-job crash under latency (round 18, the family
      // cut): jobs killed after the tag commit and after the history
      // commit — both tables must serve the pre-job state, re-runs land
      // exactly once, the final store equals a crash-free replay, and a
      // pinned cut time-travels across the fold (see TagFamilyCrash)
      Gate("tag_family_crash", "graft.tools.TagFamilyCrash",
        Seq(sfDir, "6", "50")),
      // whole-TICK crash before the cut publish under latency: a tick
      // of 4 configs killed after its tags publish and after its
      // history publish — the WHOLE tick (published batches included)
      // must stay invisible, re-runs land every config exactly once,
      // final == crash-free replay, pinned cut survives the fold (see
      // TagTickScale)
      Gate("tag_tick_crash", "graft.tools.TagTickScale",
        Seq(sfDir, "4", "4", "50", "crash")),
      // lease-protocol edges isolated under SlowFs: the two-breaker
      // barrier and a contention soak, where the list→create→verify
      // windows widen ~3 orders of magnitude over the instant local FS
      // the spec suite runs on (see LeaseSlowRace)
      Gate("lease_slowfs", "graft.tools.LeaseSlowRace",
        Seq("25", "25", "4", "6")))

    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val cp = System.getProperty("java.class.path")
    // the sbt harness's JDK17 opens (build.sbt jdk17AddOpens): forked
    // drivers create SparkSession outside spark-submit, which would
    // otherwise inject these
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

    // (ok, wall, verdict line, log path, kill-landed-too-late tell)
    def runGate(g: Gate): (Boolean, Double, String, Path, Boolean) = {
      val log = Files.createTempFile(s"graft_gate_${g.name}_", ".log")
      val cmd = (Seq(javaBin) ++ opens ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Xmx12g", "-cp", cp, g.cls) ++ g.gateArgs)
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_HOME",
        sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
      pb.environment().put("SPARK_SCALA_VERSION",
        sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))
      pb.redirectErrorStream(true)
      pb.redirectOutput(log.toFile)
      val t0 = System.nanoTime()
      val p = pb.start()
      val finished = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) p.destroyForcibly().waitFor()
      val wall = (System.nanoTime() - t0) / 1e9
      val ok = finished && p.exitValue() == 0
      val lines = scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(log)).asScala.toVector
      // the gate's own verdict line, in priority order: the PASS stamp /
      // JSON summary / main-thread assertion — NOT the executor-shutdown
      // exception noise that follows a failed local-cluster run
      def lastMatching(p: String => Boolean): Option[String] =
        lines.reverseIterator.find(p)
      val detail =
        if (!finished) s"TIMEOUT after ${wall.toInt}s (log: $log)"
        else lastMatching(l => l.contains("PASS") || l.startsWith("{"))
          .orElse(lastMatching(l =>
            l.contains("AssertionError") || l.contains("FAIL")))
          .orElse(lastMatching(_.contains("Exception")))
          .orElse(lines.lastOption.map(_.trim))
          .getOrElse("")
      val killTooLate =
        !ok && lines.exists(_.contains("no executor was removed"))
      (ok, wall, detail, log, killTooLate)
    }

    def jesc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").take(400)

    val results = gates.map { g =>
      println(s"[gates] running ${g.name} ...")
      var (ok, wall, detail, log, killTooLate) = runGate(g)
      // one retry on the kill gates' documented timing race ONLY: "no
      // executor was removed" means the kill landed after the loop
      // finished — not a code failure, the gate's own remedy is a rerun.
      // Anything else fails visibly on the first attempt.
      var retried = false
      if (killTooLate) {
        println(s"[gates] ${g.name}: kill landed too late — one retry")
        retried = true
        val r = runGate(g)
        ok = r._1; wall = r._2; detail = r._3; log = r._4
      }
      println(f"[gates] ${g.name}%-24s ${if (ok) "ok" else "FAIL"} " +
        f"$wall%7.1fs  $detail")
      if (!ok) println(s"[gates] ${g.name} full log: $log")
      (g.name, ok, wall, if (retried) s"[retried] $detail" else detail)
    }
    val allOk = results.forall(_._2)

    val repoRoot: Path = {
      var p = Paths.get(sys.props("user.dir")).toAbsolutePath
      while (p.getParent != null && !Files.exists(p.resolve("build.sbt")))
        p = p.getParent
      if (Files.exists(p.resolve("build.sbt"))) p
      else Paths.get(sys.props("user.dir")).toAbsolutePath
    }
    val body = results.map { case (n, ok, wall, detail) =>
      f"""    "$n": {"ok": $ok, "wall_sec": ${math.round(wall * 10) / 10.0}, "detail": "${jesc(detail)}"}"""
    }.mkString(",\n")
    // stamp the tree the gates actually ran against: Verify's freshness
    // check diffs this hash vs HEAD over src/ — a gate artifact carried
    // forward across code changes (or simply not re-run) becomes a loud,
    // visible failure instead of silently-stale evidence
    val gitHead = {
      val pb = new ProcessBuilder("git", "rev-parse", "HEAD")
      pb.directory(repoRoot.toFile)
      try {
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "unknown"
      } catch { case scala.util.control.NonFatal(_) => "unknown" }
    }
    val json =
      s"""{
         |  "round": $round,
         |  "sf": "$sfDir",
         |  "git_head": "$gitHead",
         |  "ok": $allOk,
         |  "gates": {
         |$body
         |  }
         |}
         |""".stripMargin
    val out = repoRoot.resolve(s"GATES_r$round.json")
    Files.write(out, json.getBytes("UTF-8"))
    println(s"[gates] wrote $out ok=$allOk")
    if (!allOk) sys.exit(1)
  }
}
