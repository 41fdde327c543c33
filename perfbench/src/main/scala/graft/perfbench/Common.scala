package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Helpers shared by the workloads. */
object Common {
  val Project = "p"
  val Dataset = "lake"
  val LakeTables = Seq("region", "nation", "supplier", "customer", "part", "orders", "lineitem")

  /** Simulated clock of every workload: minute 0 of the run. */
  val Epoch: Long = Timestamp.valueOf("2026-01-05 00:00:00").getTime

  def at(minute: Long): Timestamp = new Timestamp(Epoch + minute * 60000L)

  def uri(table: String): String = s"bigquery/project/$Project/dataset/$Dataset/$table"

  /** History's asset name for a table-level tag (TagEngine.historyRows). */
  def historyName(table: String): String = s"$Project/dataset/$Dataset/table/$table"

  def registerLake(spark: SparkSession, lakeDir: String): Unit =
    LakeTables.foreach(t => graft.Lake.table(spark, lakeDir, t).createOrReplaceTempView(t))

  val TagSchema: StructType = StructType(Seq("asset_uri", "column", "template_id", "field_id",
    "field_type", "field_value").map(StructField(_, StringType)))

  def emptyTags(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], TagSchema)

  def catalogOf(spark: SparkSession, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    tables.map(t => (Project, Dataset, t)).toDF("project", "dataset", "table")
  }

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Bytes and regular files under `dir`. */
  def dirStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }

  def deleteRec(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def copyRec(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val to = Paths.get(dst).resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Batches in the tags log at the current cut: the depth a read replays. */
  def logDepth(spark: SparkSession, root: String): Int =
    graft.sources.StoreCut.cut(spark, root).flatMap(_.get("tags"))
      .map(v => graft.sources.AtomicStore.filesAt(spark, s"$root/tags", v).size)
      .getOrElse(0)

  /** One row of a scheduler config snapshot (graft.sched.Scheduler's shape). */
  final case class SchedRow(uuid: String, template: String, uris: String, freqMin: Long,
                            nextRun: Timestamp, version: Long, export: Boolean = false)

  val SchedSchema: StructType = StructType(Seq(
    StructField("config_uuid", StringType), StructField("template_id", StringType),
    StructField("included_uris", StringType), StructField("refresh_frequency_minutes", LongType),
    StructField("next_run", TimestampType), StructField("version", LongType),
    StructField("config_type", StringType), StructField("config_status", StringType),
    StructField("refresh_mode", StringType), StructField("scheduling_status", StringType),
    StructField("export_tags", BooleanType)))

  def snapshotDF(spark: SparkSession, rows: Seq[SchedRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.uuid, r.template, r.uris, r.freqMin, r.nextRun,
      r.version, "DYNAMIC_TAG_TABLE", "ACTIVE", "AUTO", "READY", r.export)).asJava, SchedSchema)

  /** The scheduler's launch of a one-config snapshot at `now`: selects the
    * due row (which must be the config), runs `job` with its version and
    * returns the advanced row as [[graft.sched.Scheduler.advanceNextRun]]
    * computes it.
    */
  def scheduled(ctx: Ctx, spark: SparkSession, row: SchedRow, now: Timestamp)
               (job: Long => Unit): SchedRow = {
    val snap = snapshotDF(spark, Seq(row))
    val due = ctx.layer("sched") {
      graft.sched.Scheduler.readReadyConfigs(snap, lit(now))
        .select("config_uuid", "version").collect()
    }
    ctx.acc("sched.due", due.length.toDouble)
    require(due.map(_.getString(0)).toSeq == Seq(row.uuid),
      s"scheduler selected ${due.mkString(",")} at $now, expected ${row.uuid}")
    job(due.head.getLong(1))
    val adv = ctx.layer("sched") {
      graft.sched.Scheduler.advanceNextRun(snap,
          graft.sched.Scheduler.readReadyConfigs(snap, lit(now)), lit(now))
        .select("next_run", "version").collect()
    }
    row.copy(nextRun = adv.head.getTimestamp(0), version = adv.head.getLong(1))
  }

  /** Reads of each kind after every write. The first read after a write
    * resolves new batch files and runs slower than the ones that follow;
    * with three, the median is a read of settled state, for every write.
    */
  val ReadsPerKind = 3

  /** One config's job, committed with its history under one cut; returns
    * the cut. Untraced it is the engine's own terminal
    * (`ConfigDispatch.applyConfig` into `TagFamilyStore.commitComputed`);
    * traced it is composed from the same public parts, one span each.
    */
  def job(ctx: Ctx, spark: SparkSession, root: String, config: graft.model.TagConfig,
          inputs: graft.operators.EngineInputs, now: Timestamp, jobUuid: String): Long = {
    import graft.operators.{ConfigDispatch, TagEngine, TagFamilyStore, TagStore}
    if (!ctx.traced)
      TagFamilyStore.commitComputed(spark, root, config,
        ConfigDispatch.applyConfig(spark, config, inputs), lit(now), lit(jobUuid))("manifest")
    else {
      val n = ctx.layer("expand") {
        graft.expand.Expander.expand(inputs.catalog, config.includedUris, config.excludedUris)
          .count()
      }
      ctx.acc("expand.assets", n.toDouble)
      val incoming = ctx.layer("operators") {
        ConfigDispatch.applyConfig(spark, config, inputs).localCheckpoint()
      }
      val history = ctx.layer("operators") {
        TagEngine.historyRows(TagStore.dropAllEmptyTags(incoming), config, lit(now),
          lit(jobUuid)).localCheckpoint()
      }
      val (b0, f0) = dirStats(root)
      val cut = ctx.layer("commit")(TagFamilyStore.commitJob(spark, root, incoming, history))
      val (b1, f1) = dirStats(root)
      ctx.acc("sources.bytes_written", (b1 - b0).toDouble)
      ctx.acc("sources.files_written", (f1 - f0).toDouble)
      cut("manifest")
    }
  }

  /** Collects tag rows as ((asset, template, field), value). */
  def tagRows(df: DataFrame): Seq[(Checks.TagKey, String)] =
    df.select("asset_uri", "template_id", "field_id", "field_value").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3))

  /** Current-state read, filtered and collected; `resolve` builds the
    * frame (cut, manifests, listing, schema), `scan` runs it.
    */
  def currentRead(ctx: Ctx, spark: SparkSession, root: String, filter: Column)
      : Option[Seq[(Checks.TagKey, String)]] =
    ctx.op("read_s") {
      val df = ctx.layer("resolve")(graft.operators.TagFamilyStore.readTags(spark, root).filter(filter))
      ctx.layer("scan")(tagRows(df))
    }

  /** The same read pinned at cut `cut` (time travel). */
  def asOfRead(ctx: Ctx, spark: SparkSession, root: String, cut: Long, filter: Column)
      : Option[Seq[(Checks.TagKey, String)]] =
    ctx.op("asof_read_s") {
      val df = ctx.layer("resolve") {
        graft.operators.TagFamilyStore.readTagsAt(spark, root, cut).filter(filter)
      }
      ctx.layer("scan")(tagRows(df))
    }

  /** History rows per job: the report-export read. */
  def historyRead(ctx: Ctx, spark: SparkSession, root: String): Option[Map[String, Long]] =
    ctx.op("history_read_s") {
      val df = ctx.layer("resolve") {
        graft.operators.TagFamilyStore.readHistory(spark, root).groupBy("job_uuid").agg(count(lit(1)))
      }
      ctx.layer("scan")(df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap)
    }

  /** The filter of a read of one (asset, template) tag instance. */
  def instance(asset: String, template: String): Column =
    col("asset_uri") === asset && col("template_id") === template

  def expectedInstance(m: Map[Checks.TagKey, String], asset: String, template: String)
      : Map[Checks.TagKey, String] =
    m.filter(x => x._1._1 == asset && x._1._2 == template)
}
