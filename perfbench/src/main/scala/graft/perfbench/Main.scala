package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      tmp: String, lake: String, cores: Int, traceOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("tmp"), req("lake"), req("cores").toInt, req("trace-out"))
  }
}

/** What every workload shares: the session, the operation recorder, the
  * optional tracer, and the list of failed correctness checks.
  */
final class Ctx(val args: Args, val rec: Recorder, val tracer: Option[Tracer]) {
  val checkFailures = mutable.ArrayBuffer.empty[String]
  private val layerSums = mutable.LinkedHashMap.empty[String, Double]

  def traced: Boolean = tracer.isDefined

  /** Records a failed check unless `ok`. */
  def expect(ok: Boolean, msg: => String): Unit =
    if (!ok && checkFailures.size < 50) checkFailures += msg

  /** One end-to-end operation. Traced, it is a span, and the layer values
    * its parts accumulated become one sample each.
    */
  def op[T](kind: String)(body: => T): Option[T] = tracer match {
    case None => rec.op(kind)(body)
    case Some(t) =>
      layerSums.clear()
      rec.op(kind) {
        val (out, s) = t.span(kind)(body)
        rec.add("spark.jobs", s.delta.jobs.toDouble)
        rec.add("spark.tasks", s.delta.tasks.toDouble)
        rec.add("spark.task_s", s.delta.taskS)
        rec.add("spark.gc_s", s.delta.gcS)
        layerSums.foreach { case (k, v) => rec.add(k, v) }
        out
      }
  }

  /** A call into one layer of the engine. Untraced it only runs `body`. */
  def layer[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val (out, s) = t.span(name)(body)
      val secs = t.seconds(s)
      name match {
        case "expand" => acc("expand.s", secs)
        case "operators" =>
          acc("operators.eval_s", secs)
          acc("operators.eval_jobs", s.delta.jobs.toDouble)
          acc("operators.eval_task_s", s.delta.taskS)
          acc("operators.shuffle_bytes", s.delta.shuffleBytes.toDouble)
        case "sched" => acc("sched.s", secs)
        case "commit" =>
          acc("sources.commit_s", secs)
          acc("sources.commit_jobs", s.delta.jobs.toDouble)
        case "resolve" => acc("sources.resolve_s", secs)
        case "scan" => acc("sources.scan_s", secs)
        case other => throw new IllegalArgumentException(s"unknown layer $other")
      }
      out
  }

  /** Adds a count measured inside the current traced operation. */
  def acc(metric: String, v: Double): Unit =
    if (traced) layerSums(metric) = layerSums.getOrElse(metric, 0.0) + v
}

trait Workload {
  /** One set-up repetition on a fresh session: lake views, catalog,
    * configs and any store seeding. The last repetition's state is used.
    */
  def setup(spark: SparkSession): Unit
  def setupReps: Int = 3
  /** One whole round of operations. */
  def round(r: Int): Unit
  /** The end-of-run checks; inline checks go to [[Ctx.expect]]. */
  def finalCheck(): Unit
}

object Main {
  val E2E = Seq("write_s", "tags_per_s", "read_s", "asof_read_s", "history_read_s",
    "store_bytes_per_tag")
  val Units = Map("write_s" -> "s", "tags_per_s" -> "tags/s", "read_s" -> "s",
    "asof_read_s" -> "s", "history_read_s" -> "s", "store_bytes_per_tag" -> "bytes")
  /** Per-layer metrics: per-write medians, per-read medians, per-round
    * medians, per-operation means and the run's heap peak.
    */
  val PerWrite = Seq(
    "expand.s" -> "s", "expand.assets" -> "count",
    "operators.eval_s" -> "s", "operators.eval_jobs" -> "count",
    "operators.eval_task_s" -> "s", "operators.shuffle_bytes" -> "bytes",
    "sched.s" -> "s", "sched.due" -> "count",
    "sources.commit_s" -> "s", "sources.commit_jobs" -> "count",
    "sources.bytes_written" -> "bytes", "sources.files_written" -> "count")
  val PerRead = Seq("sources.resolve_s" -> "s", "sources.scan_s" -> "s")
  val PerOp = Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.tmp}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("PERFBENCH_READY")
    Console.out.flush()
    val exit =
      try run(spark, args)
      finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: SparkSession, args: Args): Int = {
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    // the first write and read of each kind pay the JVM's and Spark's
    // cold start (class loading, JIT, plan codegen): run, checked, untimed
    val rec = new Recorder(warmKinds = Set("write_s", "read_s", "asof_read_s", "history_read_s"))
    val ctx = new Ctx(args, rec, tracer)
    val wl: Workload = args.workload match {
      case "bulk_retag" => new BulkRetag(ctx)
      case "auto_tick" => new AutoTick(ctx)
      case "tag_reads" => new TagReads(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupReps = (0 until wl.setupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup(spark.newSession())
      (System.nanoTime() - t0) / 1e9
    }
    val gc0 = tracer.map(_.gcSeconds)
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      wl.round(rounds)
      rounds += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val tCheck = System.nanoTime()
    wl.finalCheck()
    val checkS = (System.nanoTime() - tCheck) / 1e9

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    Seq("write_s", "read_s", "asof_read_s", "history_read_s", "store_bytes_per_tag")
      .foreach(k => rec.median(k).foreach(e2e(k) = _))
    if (rec.sum("write_s") > 0) e2e("tags_per_s") = rec.sum("tags_written") / rec.sum("write_s")
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) E2E.flatMap(k => e2e.get(k).map(v => (k, v, Units(k))))
      else {
        val t = tracer.get
        val ops = rec.values("spark.jobs").size.max(1)
        PerWrite.flatMap { case (k, u) => rec.median(k).map((k, _, u)) } ++
          PerRead.flatMap { case (k, u) => rec.median(k).map((k, _, u)) } ++
          Seq(("sources.log_batches", rec.median("log_batches").getOrElse(0.0), "count"),
            ("sources.compact_s", rec.median("compact").getOrElse(0.0), "s")) ++
          PerOp.map { case (k, u) => (k, rec.sum(k) / ops, u) } ++
          Seq(("jvm.heap_peak_mb", t.heapPeakMb, "MB"))
      }
    tracer.foreach { t =>
      val summary = e2e.toMap ++ metrics.map(m => m._1 -> m._2) ++ Map(
        "rounds" -> rounds.toDouble, "measured_s" -> measuredS,
        "run_gc_s" -> (t.gcSeconds - gc0.get), "attempted" -> rec.attempted.toDouble,
        "failed" -> rec.failed.toDouble)
      val out = new java.io.File(args.traceOut)
      java.nio.file.Files.writeString(out.toPath, t.json(summary))
    }
    val missing = (if (args.trace) Nil else E2E.filterNot(e2e.contains))
    missing.foreach(k => ctx.expect(false, s"no successful sample for $k"))
    val correct = ctx.checkFailures.isEmpty
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    val metricJson = metrics.map { case (k, v, u) =>
      s"${q(k)}: {\"value\": $v, \"unit\": ${q(u)}}" }.mkString(", ")
    val e2eJson = e2e.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")
    println("PERFBENCH_RESULT {" +
      s"\"correct\": $correct, \"attempted\": ${rec.attempted}, \"failed\": ${rec.failed}, " +
      s"\"rounds\": $rounds, \"setup_reps_s\": [${setupReps.mkString(", ")}], " +
      f"\"phases\": \"measured=$measuredS%.1fs checks=$checkS%.1fs\", " +
      s"\"metrics\": {$metricJson}, \"end_to_end\": {$e2eJson}, " +
      s"\"failures\": [${rec.failures.map(q).mkString(", ")}], " +
      s"\"check_failures\": [${ctx.checkFailures.map(q).mkString(", ")}], " +
      "\"samples\": {" + Seq("write_s", "read_s", "asof_read_s", "history_read_s").map(k =>
        s"${q(k)}: [${rec.values(k).map(v => f"$v%.3f").mkString(", ")}]").mkString(", ") + "}}")
    Console.out.flush()
    0
  }
}
