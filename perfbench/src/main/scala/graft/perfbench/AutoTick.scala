package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expand.Expander
import graft.model.{FieldSpec, TagConfig}
import graft.operators.{TagEngine, TagFamilyStore, TagStore}
import graft.sched.Scheduler
import graft.streaming.Streams
import Common._

/** auto_tick: many small writes. Ticks of Streams.schedulerTickCommit over
  * a snapshot of eight AUTO configs on the lake's ten tables, with export
  * on, so tags, history and reports land under one cut. Refresh periods
  * (10 or 20 minutes) and first due times are a seed permutation of
  * [[AutoTick.Slots]] and ticks fall every 5 minutes, so every tick finds
  * three of the eight configs due, for every seed. The benchmark merges
  * each tick's advanced next_run and version back into its snapshot. A
  * round is a fresh store and snapshot, [[AutoTick.Ticks]] ticks with
  * reads after each, and a compaction.
  */
final class AutoTick(ctx: Ctx) extends Workload {
  import AutoTick._
  private val args = ctx.args
  private val rng = new scala.util.Random(args.seed)
  // each template's four configs tag distinct tables, so the live
  // tag count (and with it store_bytes_per_tag) is the same for every seed
  private val tablesOf: Map[String, Seq[String]] =
    Seq("gov", "ops").map(t => t -> rng.shuffle(Tables)).toMap
  private val initial: Seq[SchedRow] = rng.shuffle(Slots).zipWithIndex.map {
    case ((period, start), i) =>
      val template = if (i % 2 == 0) "gov" else "ops"
      val tables = tablesOf(template).slice(i / 2 * TablesPerConfig, (i / 2 + 1) * TablesPerConfig)
      SchedRow(f"cfg$i%02d", template, tables.sorted.map(uri).mkString(","),
        period, at(start), 1L, export = true)
  }
  private val plan: Seq[TickModel] = AutoTick.model(initial, Ticks)
  private val targets = IndexedSeq.fill(16)(rng.nextInt(1 << 20))

  private var spark: SparkSession = _
  private var catalog: DataFrame = _
  private var lastRoot: Option[String] = None
  private var lastDue: Seq[Seq[String]] = Nil
  private var lastAdvanced: Seq[Map[String, (java.sql.Timestamp, Long)]] = Nil

  def setup(s: SparkSession): Unit = {
    spark = s
    registerLake(spark, args.lake)
    Views.foreach { case (name, sql) => spark.sql(sql).createOrReplaceTempView(name) }
    catalog = catalogOf(spark, Tables).localCheckpoint()
  }

  /** Row counts of the ten tables from plain parquet reads. */
  private lazy val tableCounts: Map[String, Long] = {
    def read(t: String) = spark.read.parquet(s"${args.lake}/$t.parquet")
    LakeTables.map(t => t -> read(t).count()).toMap ++ Map(
      "li_returned" -> read("lineitem").filter(col("l_returnflag") === "R").count(),
      "orders_open" -> read("orders").filter(col("o_orderstatus") === "O").count(),
      "cust_building" -> read("customer").filter(col("c_mktsegment") === "BUILDING").count())
  }

  private def expectedTags(ticks: Seq[TickModel]): Map[Checks.TagKey, String] =
    AutoTick.expectedTags(ticks, initial, tableCounts)

  private def fieldsOf(id: String): Seq[FieldSpec] = Fields

  /** The composed tick of traced runs: the same public parts
    * schedulerTickCommit calls, each as its own span.
    */
  private def tracedTick(root: String, snap: DataFrame, now: java.sql.Timestamp)
      : Seq[(String, java.sql.Timestamp, Long)] = {
    val due = ctx.layer("sched") {
      Scheduler.readReadyConfigs(snap, lit(now))
        .select("config_uuid", "template_id", "included_uris", "version").collect()
        .sortBy(_.getString(0)).toSeq
    }
    ctx.acc("sched.due", due.size.toDouble)
    val cfgs = due.map { r =>
      r.getString(0) -> TagConfig("DYNAMIC_TAG_TABLE", r.getString(1), Fields,
        includedUris = r.getString(2).split(",").toSeq, exportTags = true)
    }
    val n = ctx.layer("expand") {
      cfgs.map { case (_, c) => Expander.expand(catalog, c.includedUris, c.excludedUris).count() }.sum
    }
    ctx.acc("expand.assets", n.toDouble)
    val existing = ctx.layer("commit") {
      TagFamilyStore.readTagsOr(spark, root, emptyTags(spark))
    }
    val produced = ctx.layer("operators") {
      TagEngine.runJobsProduced(spark, cfgs, catalog, existing).localCheckpoint()
    }
    val batches = ctx.layer("operators") {
      due.map { r =>
        val id = r.getString(0)
        val cfg = cfgs.find(_._1 == id).get._2
        val incoming = produced.filter(col("config_uuid") === id).drop("config_uuid")
        val written = TagStore.dropAllEmptyTags(incoming)
        TagFamilyStore.JobBatch(id, incoming,
          TagEngine.historyRows(written, cfg, lit(now),
            lit(md5hex(s"$id|${r.getLong(3)}"))).localCheckpoint(),
          Some(TagEngine.reportRowsFor(written, lit(now)).localCheckpoint()))
      }
    }
    val (b0, f0) = dirStats(root)
    ctx.layer("commit")(TagFamilyStore.commitTick(spark, root, batches))
    val (b1, f1) = dirStats(root)
    ctx.acc("sources.bytes_written", (b1 - b0).toDouble)
    ctx.acc("sources.files_written", (f1 - f0).toDouble)
    ctx.layer("sched") {
      Scheduler.advanceNextRun(snap, Scheduler.readReadyConfigs(snap, lit(now)), lit(now))
        .filter(col("config_uuid").isin(due.map(_.getString(0)): _*))
        .select("config_uuid", "next_run", "version").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSeq
    }
  }

  def round(r: Int): Unit = {
    val root = s"${args.tmp}/stores/tick-$r"
    var snapshot = initial
    val ticks = plan
    val dueSeen = Seq.newBuilder[Seq[String]]
    val advSeen = Seq.newBuilder[Map[String, (java.sql.Timestamp, Long)]]
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
    for ((tick, k) <- ticks.zipWithIndex) {
      val now = tick.now
      ctx.op("write_s") {
        val snap = snapshotDF(spark, snapshot)
        val adv: Seq[(String, java.sql.Timestamp, Long)] =
          if (!ctx.traced)
            Streams.schedulerTickCommit(spark, snap, lit(now), catalog, root, fieldsOf,
                eventTime = lit(now))
              .select("config_uuid", "next_run", "version").collect()
              .map(x => (x.getString(0), x.getTimestamp(1), x.getLong(2))).toSeq
          else tracedTick(root, snap, now)
        val byId = adv.map(a => a._1 -> (a._2, a._3)).toMap
        snapshot = snapshot.map(c => byId.get(c.uuid)
          .map { case (next, v) => c.copy(nextRun = next, version = v) }.getOrElse(c))
        dueSeen += adv.map(_._1).sorted
        advSeen += byId
        ctx.rec.add("tags_written", tick.tagRows.toDouble)
      }
      cuts += TagFamilyStore.currentCutVersion(spark, root).getOrElse(-1L)
      val exp = expectedTags(ticks.take(k + 1))
      val pinned = cuts(math.max(0, cuts.size - 2))
      val expAt = expectedTags(ticks.take(math.max(1, cuts.size - 1)))
      val expHist = AutoTick.expectedHistory(ticks.take(k + 1), initial)
        .groupBy(_._1._1).map { case (j, xs) => j -> xs.values.sum }
      def pick(m: Map[Checks.TagKey, String], salt: Int): (String, String) = {
        val keys = m.keys.map(x => (x._1, x._2)).toSeq.distinct.sorted
        keys(targets((r * 31 + k * 7 + salt) % targets.size) % keys.size)
      }
      for (i <- 0 until ReadsPerKind) {
        val (a, t) = pick(exp, i)
        currentRead(ctx, spark, root, instance(a, t)).foreach(got =>
          Checks.tagState(s"auto_tick read $a/$t", expectedInstance(exp, a, t), got)
            .foreach(ctx.expect(false, _)))
        val (a2, t2) = pick(expAt, i + 11)
        asOfRead(ctx, spark, root, pinned, instance(a2, t2)).foreach(got =>
          Checks.tagState(s"auto_tick as-of read $a2/$t2 at cut $pinned",
            expectedInstance(expAt, a2, t2), got).foreach(ctx.expect(false, _)))
        historyRead(ctx, spark, root).foreach(got =>
          Checks.counts("auto_tick history rows per job", expHist, got)
            .foreach(ctx.expect(false, _)))
      }
    }
    ctx.rec.add("log_batches", logDepth(spark, root).toDouble)
    val live = TagFamilyStore.readTags(spark, root).count()
    ctx.rec.add("store_bytes_per_tag", dirStats(root)._1.toDouble / live.max(1L))
    ctx.expect(live == expectedTags(ticks).size,
      s"auto_tick: $live live tag rows, expected ${expectedTags(ticks).size}")
    Checks.same("auto_tick cut after each tick", ticks.indices.map(_.toLong), cuts.toSeq)
      .foreach(ctx.expect(false, _))
    ctx.op("compact")(TagFamilyStore.compact(spark, root))
    lastRoot.foreach(deleteRec)
    lastRoot = Some(root)
    lastDue = dueSeen.result()
    lastAdvanced = advSeen.result()
  }

  def finalCheck(): Unit = lastRoot.foreach { root =>
    Checks.same("auto_tick due sets", plan.map(_.due), lastDue).foreach(ctx.expect(false, _))
    Checks.same("auto_tick next_run/version", plan.map(_.advanced), lastAdvanced)
      .foreach(ctx.expect(false, _))
    Checks.tagState("auto_tick final tags", expectedTags(plan),
      tagRows(TagFamilyStore.readTags(spark, root))).foreach(ctx.expect(false, _))
    val hist = TagFamilyStore.readHistory(spark, root)
      .groupBy("job_uuid", "asset_name").count().collect()
      .map(x => s"${x.getString(0)}|${x.getString(1)}" -> x.getLong(2)).toMap
    val expHist = AutoTick.expectedHistory(plan, initial).map { case ((j, a), n) => s"$j|$a" -> n }
    Checks.counts("auto_tick history rows per (job, asset)", expHist, hist)
      .foreach(ctx.expect(false, _))
    val reports = TagFamilyStore.readReports(spark, root, spark.emptyDataFrame).count()
    Checks.same("auto_tick report rows", plan.map(_.tagRows).sum, reports)
      .foreach(ctx.expect(false, _))
  }
}

object AutoTick {
  val Views: Seq[(String, String)] = Seq(
    "li_returned" -> "select * from lineitem where l_returnflag = 'R'",
    "orders_open" -> "select * from orders where o_orderstatus = 'O'",
    "cust_building" -> "select * from customer where c_mktsegment = 'BUILDING'")
  val Tables: Seq[String] = Common.LakeTables ++ Views.map(_._1)
  /** (refresh period, first next_run) in minutes of the eight configs:
    * ticks every 5 minutes then find three configs due on each tick.
    */
  val Slots: Seq[(Long, Long)] = Seq((10L, 0L), (10L, 0L), (10L, 5L), (10L, 5L),
    (20L, 0L), (20L, 5L), (20L, 10L), (20L, 15L))
  val Ticks = 5
  val TickMinutes = 5L
  val TablesPerConfig = 1
  val Cap = 1000L

  val Fields: Seq[FieldSpec] = Seq(
    FieldSpec("n_rows", "double", Some("select count(*) from $table")),
    FieldSpec("n_capped", "double",
      Some(s"select count(*) from (select * from $$table limit $Cap)")),
    FieldSpec("label", "string", Some("select concat('$dataset', '.', '$table')")))

  /** One tick of the schedule model: who is due, each due config's
    * (version at launch), and its advanced (next_run, version).
    */
  final case class TickModel(now: java.sql.Timestamp, due: Seq[String],
                             launchedVersion: Map[String, Long],
                             advanced: Map[String, (java.sql.Timestamp, Long)],
                             tagRows: Long)

  /** The benchmark's own scheduler model: due iff next_run <= now; a
    * launch sets next_run = now + period and version += 1.
    */
  def model(initial: Seq[Common.SchedRow], ticks: Int): Seq[TickModel] = {
    var state = initial
    (0 until ticks).map { k =>
      val now = Common.at(k * TickMinutes)
      val due = state.filter(!_.nextRun.after(now)).sortBy(_.uuid)
      val adv = due.map(c => c.uuid ->
        (new java.sql.Timestamp(now.getTime + c.freqMin * 60000L), c.version + 1)).toMap
      state = state.map(c => adv.get(c.uuid)
        .map { case (n, v) => c.copy(nextRun = n, version = v) }.getOrElse(c))
      TickModel(now, due.map(_.uuid), due.map(c => c.uuid -> c.version).toMap, adv,
        due.map(c => c.uris.split(",").length.toLong * Fields.size).sum)
    }
  }

  private def tablesOf(c: Common.SchedRow): Seq[String] =
    c.uris.split(",").toSeq.map(_.split("/").last)

  /** History rows per (job_uuid, asset_name): one per asset of each due config. */
  def expectedHistory(ticks: Seq[TickModel], initial: Seq[Common.SchedRow])
      : Map[(String, String), Long] = {
    val byId = initial.map(c => c.uuid -> c).toMap
    ticks.flatMap(t => t.due.flatMap { id =>
      val job = Common.md5hex(s"$id|${t.launchedVersion(id)}")
      tablesOf(byId(id)).map(tb => (job, Common.historyName(tb)))
    }).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  /** Latest-wins tag state after `ticks`: every value depends only on the
    * table, so the order of configs within a tick does not matter.
    */
  def expectedTags(ticks: Seq[TickModel], initial: Seq[Common.SchedRow],
                   counts: Map[String, Long]): Map[Checks.TagKey, String] = {
    val byId = initial.map(c => c.uuid -> c).toMap
    ticks.flatMap(_.due).distinct.flatMap { id =>
      val c = byId(id)
      tablesOf(c).flatMap { tb =>
        Seq("n_rows" -> counts(tb).toString, "n_capped" -> math.min(counts(tb), Cap).toString,
          "label" -> s"${Common.Dataset}.$tb")
          .map { case (f, v) => (Common.uri(tb), c.template, f) -> v }
      }
    }.toMap
  }
}
