package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.obs.{Json, Signals}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: only dump these queries (fast iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    gatesFreshnessCheck(outDir)
    storeCutHealth(outDir)
    spark.stop()
  }

  /** The store layer's signals (`graft.obs.Signals`) as
    * `storecut_health.json`, one line per non-empty signal. The verify
    * run is the one always-executed porcelain, so a store that lags its
    * cut, a degraded governance guard or an orphan-suffix leak shows up
    * here. A dump error is printed, never fatal; an orphan-suffix
    * violation fails the run: a family store served more crash residue
    * than its recovery contract allows.
    */
  private def storeCutHealth(outDir: String): Unit = {
    try {
      Files.writeString(Paths.get(s"$outDir/storecut_health.json"),
        Signals.json + "\n")
      Signals.signals.foreach { s =>
        val counts = Signals.counts(s)
        val keys = counts.keySet ++ Signals.notes(s).keySet
        if (keys.nonEmpty)
          println(s"[verify] storecut: $s at ${keys.size} key(s)" +
            (if (counts.nonEmpty) s", count ${counts.values.sum}" else "") +
            " (see storecut_health.json)")
      }
    } catch { case scala.util.control.NonFatal(e) =>
      println(s"[verify] storecut: health dump errored: $e")
    }
    val violations = Signals.notes(Signals.OrphanSuffixViolations)
    if (violations.nonEmpty)
      throw new IllegalStateException(
        s"[verify] ORPHAN-SUFFIX BOUND VIOLATED at " +
          s"${violations.keys.toSeq.sorted.mkString(", ")} — a " +
          "family store served more crash residue than its recovery " +
          "contract allows (see storecut_health.json)")
  }

  /** Failure-injection gate freshness (runs every Verify, i.e. every
    * round): the latest committed `GATES_r<N>.json` must (a) exist,
    * (b) report ok, and (c) have run against a tree whose src/ +
    * build.sbt match HEAD (`git diff --name-only <gates.git_head>..HEAD`
    * empty over those paths). A gate artifact that was simply not
    * re-run after code changes — previously an invisible absence — now
    * prints a loud GATES_STALE/GATES_MISSING verdict in the round's
    * verify log AND writes it machine-readably as
    * `<outDir>/gates_freshness.json` next to oracle_sql.json, so
    * anything consuming the verify output (not just a log grep) sees
    * it. Diagnostic, not fatal: correctness dumping must not be held
    * hostage by gate housekeeping, the judge reads the verdict.
    */
  private def gatesFreshnessCheck(outDir: String): Unit = try {
    // truncate BEFORE escaping: a cut landing inside an escape pair
    // would leave a trailing lone backslash that swallows the closing
    // quote and makes the whole file unparseable
    def jq(s: String): String = Json.quote(s.take(400))
    def emit(verdict: String, gatesFile: String, gitHead: String,
             detail: String): Unit = {
      println(s"[verify] gates: $verdict — " +
        Seq(gatesFile, detail).filter(_.nonEmpty).mkString(": "))
      try Files.writeString(Paths.get(s"$outDir/gates_freshness.json"),
        s"""{
           |  "verdict": ${jq(verdict)},
           |  "gates_file": ${jq(gatesFile)},
           |  "git_head": ${jq(gitHead)},
           |  "detail": ${jq(detail)}
           |}
           |""".stripMargin)
      catch { case scala.util.control.NonFatal(e) =>
        println(s"[verify] gates: could not write gates_freshness.json: $e")
      }
    }
    var p = Paths.get(sys.props("user.dir")).toAbsolutePath
    while (p.getParent != null && !Files.exists(p.resolve("build.sbt")))
      p = p.getParent
    val gates = Option(p.toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap { f =>
        val m = "GATES_r(\\d+)\\.json".r.findFirstMatchIn(f.getName)
        m.map(_.group(1).toInt -> f)
      }.sortBy(_._1).lastOption
    gates match {
      case None =>
        emit("GATES_MISSING", "", "",
          s"no GATES_r<N>.json at $p; run `sbt \"runMain " +
            "graft.tools.RoundGates <N>\"`")
      case Some((n, f)) =>
        val body = Files.readString(f.toPath)
        val ok = "\"ok\"\\s*:\\s*(true|false)".r.findFirstMatchIn(body)
          .exists(_.group(1) == "true")
        val head = "\"git_head\"\\s*:\\s*\"([0-9a-f]{40})\"".r
          .findFirstMatchIn(body).map(_.group(1))
        def git(args: String*): Option[String] = try {
          val pb = new ProcessBuilder(("git" +: args): _*)
          pb.directory(p.toFile)
          val pr = pb.start()
          val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
          if (pr.waitFor() == 0) Some(out.trim) else None
        } catch { case scala.util.control.NonFatal(_) => None }
        val staleFiles = head match {
          case None => Some("artifact predates git_head stamping")
          case Some(h) =>
            git("diff", "--name-only", s"$h..HEAD",
                "--", "src/main", "build.sbt") match {
              case None => Some(s"cannot diff $h..HEAD (unknown commit?)")
              case Some("") =>
                // committed tree matches — but UNCOMMITTED src edits are
                // invisible to a commit-range diff, and gates run against
                // the working tree's compiled classes. A dirty src/ means
                // the evidence may describe code that no longer exists.
                // NUL-terminated porcelain (-z): entries are "XY path",
                // renames carry the origin path as a SECOND NUL field and
                // paths are never quoted — so rename entries and paths
                // with spaces list exactly, instead of the "R  old ->
                // new" / quoted forms a line split renders oddly
                git("status", "--porcelain", "-z", "--",
                    "src/main", "build.sbt")
                  .filter(_.nonEmpty)
                  .map { dirty =>
                    val fields = dirty.split('\u0000').filter(_.nonEmpty)
                    val paths = scala.collection.mutable.ArrayBuffer[String]()
                    var i = 0
                    while (i < fields.length) {
                      val f = fields(i)
                      // an entry field is "XY path" (2 status chars + a
                      // space) — except the FIRST one, whose leading
                      // space status char (" M") the process helper's
                      // trim may have eaten; a rename/copy's origin
                      // path arrives as the NEXT bare field — list it
                      // as "old -> new"
                      val trimmedFirst =
                        i == 0 && !(f.length > 2 && f.charAt(2) == ' ')
                      val status =
                        if (trimmedFirst) " " + f.take(1) else f.take(2)
                      val path = if (trimmedFirst) f.drop(2) else f.drop(3)
                      // renames/copies on EITHER side of the XY token
                      // carry an origin-path field: staged is "R "/"C ",
                      // worktree-side is " R"/" C" — a startsWith check
                      // missed the latter and mis-parsed the origin path
                      // as a fresh entry with 3 chars eaten
                      if ((status.contains("R") || status.contains("C"))
                          && i + 1 < fields.length) {
                        paths += s"${fields(i + 1)} -> $path"
                        i += 2
                      } else { paths += path; i += 1 }
                    }
                    "uncommitted src changes since gates ran: " +
                      paths.take(5).mkString(", ")
                  }
              case Some(files) =>
                Some(s"src changed since gates ran: " +
                  files.linesIterator.take(5).mkString(", "))
            }
        }
        (ok, staleFiles) match {
          case (false, _) =>
            emit("GATES_FAILING", f.getName, head.getOrElse(""), "ok=false")
          case (true, Some(why)) =>
            emit("GATES_STALE", f.getName, head.getOrElse(""),
              s"$why; re-run `sbt \"runMain graft.tools.RoundGates $n\"`")
          case (true, None) =>
            emit("fresh", f.getName, head.getOrElse(""),
              "ok=true, fresh vs HEAD")
        }
    }
  } catch { case scala.util.control.NonFatal(e) =>
    println(s"[verify] gates: freshness check errored: $e")
  }
}
