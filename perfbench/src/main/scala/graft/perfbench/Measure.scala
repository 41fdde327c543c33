package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Operation accounting. Every operation is attempted through [[op]]: a
  * success adds one timing sample under its kind, an exception adds one
  * failure (with its message) and no sample, so a throwing operation can
  * never pass for a fast one.
  *
  * The first operation of each kind in `warmKinds` runs cold (class
  * loading, JIT, codegen of its plans): it counts as attempted or failed
  * but records no sample, nor anything added while it runs.
  */
final class Recorder(warmKinds: Set[String] = Set.empty) {
  private var measuring = true
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val seen = mutable.Set.empty[String]

  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val outer = measuring
    measuring = outer && (seen(kind) || !warmKinds(kind))
    seen += kind
    val t0 = System.nanoTime()
    try {
      val out = body
      add(kind, (System.nanoTime() - t0) / 1e9)
      Some(out)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(400)
        System.err.println(s"perfbench: operation $kind failed")
        e.printStackTrace()
        None
    } finally measuring = outer
  }

  def add(metric: String, value: Double): Unit =
    if (measuring) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += value

  def values(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  def median(metric: String): Option[Double] = Stats.median(values(metric))

  def sum(metric: String): Double = values(metric).sum
}

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.length
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }
}

/** Spark and JVM counters for traced runs: a SparkListener installed by
  * the benchmark (jobs, tasks, task run time, GC time inside tasks,
  * shuffle bytes written) plus heap and GC MXBeans.
  */
final class SparkCounters extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

final case class Snap(jobs: Long, tasks: Long, taskS: Double, shuffleBytes: Long,
                      gcS: Double) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, taskS - o.taskS,
    shuffleBytes - o.shuffleBytes, gcS - o.gcS)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      delta: Snap)

/** Spans for traced runs: name, start, end and the span that caused it.
  * Each span also carries the Spark counter deltas over its interval.
  * Spans are kept in memory and written as one JSON side file at the end.
  */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  import scala.jdk.CollectionConverters._

  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak of the old generation: with -Xms = -Xmx the young generation
    * fills the whole heap between collections, so only the tenured pool's
    * peak says how much the run kept alive.
    */
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old"))
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def snap(): Snap = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    counters.synchronized {
      Snap(counters.jobs, counters.tasks, counters.taskMs / 1e3,
        counters.shuffleBytes, gcSeconds)
    }
  }

  /** Runs `body` as a span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val before = snap()
    val start = System.nanoTime()
    try {
      val out = body
      val end = System.nanoTime()
      val s = Span(id, parent, name, start, end, snap() - before)
      spans += s
      (out, s)
    } finally stack = stack.tail
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  def json(extra: Map[String, Double]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val spanJson = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${num((s.startNs - t0) / 1e6)}, "end_ms": ${num((s.endNs - t0) / 1e6)}, """ +
        s""""jobs": ${s.delta.jobs}, "tasks": ${s.delta.tasks}, "task_s": ${num(s.delta.taskS)}, """ +
        s""""shuffle_bytes": ${s.delta.shuffleBytes}, "gc_s": ${num(s.delta.gcS)}}"""
    }.mkString(",\n  ")
    val ex = extra.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    s"""{"summary": {$ex},\n "spans": [\n  $spanJson\n]}\n"""
  }
}
