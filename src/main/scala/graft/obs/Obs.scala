package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge

/** The Spark work one piece of driver code caused: jobs, tasks, summed
  * executor run time of those tasks, and SQL executions. Counts are
  * SparkContext-wide: work another thread submits meanwhile is counted
  * too.
  */
final case class SparkWork(jobs: Long, tasks: Long, taskS: Double,
                           sqlExecutions: Long) {
  def json(wallS: Double): String =
    f"""{"wall_s":$wallS%.3f,"jobs":$jobs,"tasks":$tasks,""" +
      f""""task_s":$taskS%.2f,"sql_executions":$sqlExecutions}"""
}

object SparkWork {

  private final class Counter extends SparkListener {
    val jobs, tasks, taskMs, sqlExecutions = new AtomicLong(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
      case _ => ()
    }
    def work: SparkWork =
      SparkWork(jobs.get, tasks.get, taskMs.get / 1e3, sqlExecutions.get)
  }

  /** Runs `body` and counts the Spark work posted while it ran. The
    * listener bus delivers events asynchronously, so the bus is drained
    * before the listener is installed (earlier work's late events stay
    * out) and again after `body` returns (every event `body` posted is
    * in). An action posts all of its events before it returns, so the
    * count is exact, with no sleep or polling. A throwing `body`
    * propagates and counts nothing.
    */
  def during[T](spark: SparkSession)(body: => T): (T, SparkWork) = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      val out = body
      Bridge.drainListenerBus(sc)
      (out, counter.work)
    } finally sc.removeSparkListener(counter)
  }
}

/** One JVM-wide registry of the store layer's signals. A signal is a
  * named map from a key (a store root or table path) to a count, a note
  * (the last one wins), or both. Signals are appended and never reset:
  * a reader compares before and after. `graft.Verify` writes [[json]]
  * as `storecut_health.json` and `graft.Bench` embeds it in
  * `BENCH_PROFILE.json`. The store layer records:
  *
  *  - [[SwallowedAdvances]], per store root: a best-effort cut advance
  *    or post-commit fold given up after a durable commit (count; last
  *    error as the note).
  *  - [[GovernProbes]] / [[GovernProbeFailures]], per table: governance
  *    probes `AtomicStore.compact`'s guard paid (a warm guard pays none)
  *    / that failed twice, so the guard failed open for that call.
  *  - [[FamilyCuts]], per store root: where the family's last cut landed.
  *  - [[OrphanSuffixViolations]], per family part: more versions above
  *    the pin than crashed attempts in this process committed.
  *    `graft.Verify` fails a run that records one.
  */
object Signals {
  val SwallowedAdvances = "swallowed_advances"
  val GovernProbes = "govern_probes"
  val GovernProbeFailures = "govern_probe_failures"
  val FamilyCuts = "family_cuts"
  val OrphanSuffixViolations = "orphan_suffix_violations"

  private val declared = Seq(SwallowedAdvances, GovernProbes,
    GovernProbeFailures, FamilyCuts, OrphanSuffixViolations)

  private final class Entry {
    val n = new AtomicLong(0L)
    @volatile var note: Option[String] = None
  }

  private val entries =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, Entry]]()

  private def entry(signal: String, key: String): Entry =
    entries.computeIfAbsent(signal, _ => new ConcurrentHashMap[String, Entry]())
      .computeIfAbsent(key, _ => new Entry)

  private def entriesOf(signal: String): Map[String, Entry] =
    Option(entries.get(signal)).map(_.asScala.toMap).getOrElse(Map.empty)

  /** Adds one to `signal` at `key`; returns the key's new count. */
  def count(signal: String, key: String): Long =
    entry(signal, key).n.incrementAndGet()

  /** Records `detail` as `signal`'s note at `key`, replacing the last. */
  def note(signal: String, key: String, detail: String): Unit =
    entry(signal, key).note = Some(detail)

  def counts(signal: String): Map[String, Long] =
    entriesOf(signal).map { case (k, e) => k -> e.n.get }.filter(_._2 > 0)

  def notes(signal: String): Map[String, String] =
    entriesOf(signal).flatMap { case (k, e) => e.note.map(k -> _) }

  /** Every declared signal plus any other one recorded, sorted. */
  def signals: Seq[String] =
    (declared ++ entries.keySet.asScala).distinct.sorted

  /** `{"<signal>": {"<key>": {"count": n, "note": "…"}}}` over
    * [[signals]]; a key without a count or note omits that member.
    * A key over 200 chars is cut there and suffixed with its hash, so
    * two roots sharing a 200-char prefix stay two members.
    */
  def json: String = {
    def key(s: String): String =
      Json.quote(if (s.length <= 200) s else s.take(200) + f"#${s.hashCode}%08x")
    signals.map { signal =>
      val members = entriesOf(signal).toSeq.sortBy(_._1).map { case (k, e) =>
        val fields = Seq(
          Some(e.n.get).filter(_ > 0).map(n => s""""count": $n"""),
          e.note.map(d => s""""note": ${Json.quote(d.take(300))}""")).flatten
        s"${key(k)}: ${fields.mkString("{", ", ", "}")}"
      }
      s"  ${Json.quote(signal)}: ${members.mkString("{", ", ", "}")}"
    }.mkString("{\n", ",\n", "\n}")
  }
}

object Json {

  /** JSON string literal (with the quotes): backslash, quote and every
    * control char (< 0x20) escaped — a tab or CR in an oracle SQL text
    * would otherwise make a consumer's `json.load` fail. Truncate before
    * quoting, never after: a cut inside an escape pair leaves a lone
    * backslash that swallows the closing quote.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
