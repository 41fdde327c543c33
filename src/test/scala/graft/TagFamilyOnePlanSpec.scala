package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{CollapseCodegenStages,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.model.{FieldSpec, TagConfig}
import graft.operators.{TagEngine, TagFamilyStore, TagStore}
import graft.operators.TagFamilyStore.JobBatch
import graft.sources.PlanProbe

/** One plan per family part per commit: a tick's tags, history and
  * reports derive from its one job-tagged frame, equal to the per-job
  * derivation, at a commit cost that does not grow with its job count.
  */
class TagFamilyOnePlanSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_oneplan").toString

  private def uri(t: String) = s"bigquery/project/p/dataset/lake/$t"

  private def catalog: DataFrame = {
    Lake.registerAll(spark, sf)
    Lake.tableNames.map(t => ("p", "lake", t))
      .toDF("project", "dataset", "table")
  }

  private val ev = to_timestamp(lit("2026-01-05 00:00:00"))

  /** Rows as sorted strings over `cols` (sorted by name). */
  private def rowSet(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.sorted.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def tagRows(rows: (String, String, String, String, String)*)
      : DataFrame =
    rows.toDF("asset_uri", "template_id", "field_id", "field_type",
        "field_value")
      .select(col("asset_uri"), lit("").as("column"), col("template_id"),
        col("field_id"), col("field_type"), col("field_value"))

  test("an all-empty instance with a NULL column is deleted alike by commitJob and a 2-job commitTick") {
    val cfg = TagConfig("DYNAMIC_TAG_TABLE", "gov",
      Seq(FieldSpec("f1"), FieldSpec("f2")))
    def inst(a: String, vals: (String, String)*): DataFrame =
      vals.toDF("field_id", "field_value")
        .select(lit(a).as("asset_uri"), lit(null).cast("string").as("column"),
          lit("gov").as("template_id"), col("field_id"),
          lit("string").as("field_type"), col("field_value"))
    def hist(inc: DataFrame, job: String): DataFrame =
      TagEngine.historyRows(TagStore.dropAllEmptyTags(inc), cfg, ev, lit(job))
    val seed = inst("a/x", "f1" -> "old1", "f2" -> "old2")
    val clear = inst("a/x", "f1" -> "", "f2" -> null) // all empty
    val other = inst("a/y", "f1" -> "new")
    def seeded(): String = {
      val root = freshRoot()
      TagFamilyStore.commitJob(spark, root, seed, hist(seed, "seed"))
      root
    }
    val oneByOne = seeded()
    TagFamilyStore.commitJob(spark, oneByOne, clear, hist(clear, "clear"))
    TagFamilyStore.commitJob(spark, oneByOne, other, hist(other, "other"))
    val ticked = seeded()
    TagFamilyStore.commitTick(spark, ticked, Seq(
      JobBatch("clear", clear, hist(clear, "clear")),
      JobBatch("other", other, hist(other, "other"))))
    val cols = Seq("asset_uri", "column", "template_id", "field_id",
      "field_value")
    for (root <- Seq(oneByOne, ticked)) {
      val tags = TagFamilyStore.readTags(spark, root)
      assert(tags.filter(col("asset_uri") === "a/x").count() === 0L, root)
      assert(rowSet(tags, cols) === Seq("a/y|null|f1|new|gov"), root)
      assert(TagFamilyStore.readHistory(spark, root)
        .filter(col("job_uuid") === "clear").count() === 0L, root)
    }
    assert(rowSet(TagFamilyStore.readTags(spark, oneByOne), cols) ===
      rowSet(TagFamilyStore.readTags(spark, ticked), cols))
  }

  test("a mixed tick's tags, history and reports equal the per-job derivation") {
    val cat = catalog
    val govFields = Seq(
      FieldSpec("n_rows", "double", Some("select count(*) from $table")),
      FieldSpec("owner", "string", fieldValue = Some("data-eng")),
      // NULL on every asset: a NULL field value beside written ones
      FieldSpec("max_key", "double",
        Some("select max(1) from $table where 1 = 0")))
    val opsFields = Seq(FieldSpec("size_class", "string",
      // region (5 rows) evaluates to '': an all-empty instance
      Some("select case when count(*) < 10 then '' else 'big' end from $table")))
    val configs = Seq(
      "cA" -> TagConfig("DYNAMIC_TAG_TABLE", "gov", govFields,
        includedUris = Seq(uri("region"), uri("nation")), exportTags = true),
      "cB" -> TagConfig("DYNAMIC_TAG_TABLE", "ops", opsFields,
        includedUris = Seq(uri("region"), uri("nation"))),
      // overwrite=false over pre-tick state: region is already gov-tagged;
      // nation is cA's too, in the same history pivot
      "cC" -> TagConfig("DYNAMIC_TAG_TABLE", "gov", govFields,
        includedUris = Seq(uri("region"), uri("nation"), uri("supplier")),
        overwrite = false))
    val uuidOf: String => Column = id => md5(lit(id))
    val root = freshRoot()
    val pre = tagRows((uri("region"), "gov", "n_rows", "double", "1"),
      (uri("region"), "gov", "owner", "string", "old"),
      (uri("region"), "ops", "size_class", "string", "small"))
    TagFamilyStore.commitJob(spark, root, pre,
      TagEngine.historyRows(pre.filter(col("template_id") === "gov"),
        configs.head._2, ev, lit("pre")))
    val existing = TagFamilyStore.readTags(spark, root).localCheckpoint()

    // the per-job derivation, from the same pre-tick state
    val produced = TagEngine.runJobsProduced(spark, configs, cat, existing)
      .localCheckpoint()
    val incs = configs.map { case (id, _) =>
      produced.filter(col("config_uuid") === id).drop("config_uuid")
    }
    val expTags = incs.foldLeft(existing: DataFrame)(TagStore.applyWithDeletes)
    val expHist = configs.zip(incs).map { case ((id, cfg), inc) =>
      TagEngine.historyRows(TagStore.dropAllEmptyTags(inc), cfg, ev, uuidOf(id))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val expReports = configs.zip(incs).collect {
      case ((_, cfg), inc) if cfg.exportTags =>
        TagEngine.reportRowsFor(TagStore.dropAllEmptyTags(inc), ev)
    }.reduce(_.unionByName(_))

    val (_, batches) =
      TagFamilyStore.runTick(spark, configs, cat, root, ev, uuidOf)
    val tagCols = Seq("asset_uri", "column", "template_id", "field_id",
      "field_type", "field_value")
    val gotTags = TagFamilyStore.readTags(spark, root)
    assert(rowSet(gotTags, tagCols) === rowSet(expTags, tagCols))
    // the spec has teeth: the all-empty instance deleted the pre-tick ops
    // tag, and the overwrite=false config skipped the gov-tagged region
    assert(gotTags.filter(col("asset_uri") === uri("region") &&
      col("template_id") === "ops").count() === 0L)
    assert(gotTags.filter(col("asset_uri") === uri("supplier")).count() === 3L)

    val gotHist = TagFamilyStore.readHistory(spark, root)
      .filter(col("job_uuid") =!= "pre").drop("event_date")
    assert(gotHist.columns.toSet === expHist.columns.toSet)
    assert(rowSet(gotHist, expHist.columns.toSeq) ===
      rowSet(expHist, expHist.columns.toSeq))
    // cA: region + nation; cB: nation only (region is all-empty); cC:
    // nation + supplier — and the NULL field value lands as a NULL cell
    assert(expHist.count() === 5L)
    assert(expHist.filter(col("max_key").isNull &&
      col("n_rows").isNotNull).count() === 4L)

    val gotReports = TagFamilyStore.readReports(spark, root, expReports)
      .drop("export_date")
    assert(gotReports.columns.toSet === expReports.columns.toSet)
    assert(rowSet(gotReports, expReports.columns.toSeq) ===
      rowSet(expReports, expReports.columns.toSeq))
    assert(expReports.count() === 6L) // cA's 2 assets × 3 fields

    // each returned batch is its config's share of the committed parts
    assert(batches.map(_.jobId) === configs.map(_._1))
    for (((id, cfg), inc, b) <- configs.lazyZip(incs).lazyZip(batches)) {
      assert(rowSet(b.incoming, tagCols) === rowSet(inc, tagCols), id)
      val hist = TagEngine.historyRows(TagStore.dropAllEmptyTags(inc), cfg, ev,
        uuidOf(id))
      assert(rowSet(b.history, hist.columns.toSeq) ===
        rowSet(hist, hist.columns.toSeq), id)
      assert(b.history.count() === hist.count(), id)
      assert(b.reports.map(r => rowSet(r, expReports.columns.toSeq)) ===
        Option.when(cfg.exportTags)(rowSet(expReports, expReports.columns.toSeq)),
        id)
    }
  }

  /** (exchanges, whole-stage codegen subtrees) of the initial plan. */
  private def shape(df: DataFrame): (Int, Int) = {
    val plan = PlanProbe.initialPlan(df)
    val staged =
      if (plan.exists(_.isInstanceOf[WholeStageCodegenExec])) plan
      else CollapseCodegenStages()(plan)
    (plan.collect { case s: ShuffleExchangeLike => s }.size,
      staged.collect { case w: WholeStageCodegenExec => w }.size)
  }

  test("a tick's commit plans, jobs and files do not grow with its due configs") {
    val cat = catalog
    val tables = Seq("region", "nation", "supplier", "customer", "part",
      "partsupp")
    def cfg(t: String) = TagConfig("DYNAMIC_TAG_TABLE", "gov",
      Seq(FieldSpec("n_rows", "double", Some("select count(*) from $table"))),
      includedUris = Seq(uri(t)), exportTags = true)
    val sc = spark.sparkContext
    def commit(n: Int): (Map[String, (Int, Int)], Long, Map[String, Int]) = {
      val root = freshRoot()
      val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      def jobsNow(): Long = {
        org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
        jobs.get
      }
      var plans = Map.empty[String, (Int, Int)]
      var (start, end) = (-1L, -1L)
      // the commit section: from the first part frame handed to its write
      // to the last part's publish
      TagFamilyStore.setTestPartHook(root, (part, df) => {
        if (plans.isEmpty) start = jobsNow()
        plans += part -> shape(df)
      })
      TagFamilyStore.setTestMidJobHook(root, s =>
        if (s == "reports") end = jobsNow())
      sc.addSparkListener(counter)
      try TagFamilyStore.runTick(spark, tables.take(n).map(t => t -> cfg(t)),
        cat, root, ev)
      finally {
        sc.removeSparkListener(counter)
        TagFamilyStore.clearTestPartHook(root)
        TagFamilyStore.clearTestMidJobHook(root)
      }
      val files = Seq("tags", "history", "reports").map { p =>
        val walk =
          java.nio.file.Files.walk(java.nio.file.Paths.get(root, p, "data"))
        try p -> walk.filter(_.toString.endsWith(".parquet")).count().toInt
        finally walk.close()
      }.toMap
      (plans, end - start, files)
    }
    val (plans2, jobs2, files2) = commit(2)
    val (plans6, jobs6, files6) = commit(6)
    assert(plans2.keySet === Set("tags", "history", "reports"))
    assert(plans6 === plans2)
    assert(jobs2 > 0L && jobs6 === jobs2, s"2 configs: $jobs2, 6: $jobs6")
    assert(files2 === Map("tags" -> 1, "history" -> 1, "reports" -> 1))
    assert(files6 === files2)
  }
}
