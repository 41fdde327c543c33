package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{FieldSpec, TagConfig}
import graft.obs.Signals
import graft.operators.TagFamilyStore
import graft.operators.TagFamilyStore.JobBatch
import graft.sources.StoreCut

/** The ATOMIC WHOLE-TICK family commit (round 19): N configs' batches
  * chained under ONE cut publish — a crash at any inter-commit point,
  * including BETWEEN configs, must leave the pre-tick state serving in
  * every table (configs that already committed inside the crashed tick
  * included), and the re-run must land every config exactly once.
  */
class TagFamilyTickSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_tagtick").toString

  private def mkIncoming(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("asset_uri", "field_id", "field_value")
      .select(col("asset_uri"), lit("").as("column"),
        lit("gov").as("template_id"), col("field_id"),
        lit("string").as("field_type"), col("field_value"))

  private def mkHistory(jobUuid: String, assets: Seq[String]): DataFrame =
    assets.toDF("asset_name")
      .select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
        col("asset_name"), lit(jobUuid).as("job_uuid"))

  private def tagSet(df: DataFrame): Set[String] =
    df.select("asset_uri", "field_id", "field_value")
      .collect().map(_.mkString("|")).toSet

  private def histUuids(df: DataFrame): Map[String, Long] =
    df.groupBy("job_uuid").count().as[(String, Long)].collect().toMap

  // a 3-config tick: cfg1 and cfg2 both write a/shared (latest-wins
  // teeth — cfg2, later in the tick, must win), cfg2 deletes a/old
  private def tick2(suffix: String = ""): Seq[JobBatch] = Seq(
    JobBatch("cfg0", mkIncoming(Seq(("a/t0", "env", s"T0$suffix"))),
      mkHistory(s"t2-cfg0", Seq("a/t0"))),
    JobBatch("cfg1", mkIncoming(Seq(("a/t1", "env", s"T1$suffix"),
        ("a/shared", "who", "cfg1"))),
      mkHistory(s"t2-cfg1", Seq("a/t1", "a/shared"))),
    JobBatch("cfg2", mkIncoming(Seq(("a/shared", "who", "cfg2"),
        ("a/old", "env", ""))), // all-empty instance → delete trigger
      mkHistory(s"t2-cfg2", Seq("a/shared"))))

  private def seedTick(root: String): Unit =
    TagFamilyStore.commitTick(spark, root, Seq(
      JobBatch("seed0", mkIncoming(Seq(("a/old", "env", "OLD"))),
        mkHistory("t1-seed0", Seq("a/old"))),
      JobBatch("seed1", mkIncoming(Seq(("a/base", "env", "BASE"))),
        mkHistory("t1-seed1", Seq("a/base")))))

  private val afterSeedTags =
    Set("a/old|env|OLD", "a/base|env|BASE")
  private val afterSeedHist = Map("t1-seed0" -> 1L, "t1-seed1" -> 1L)
  private val afterTick2Tags = Set(
    "a/base|env|BASE", "a/t0|env|T0", "a/t1|env|T1",
    "a/shared|who|cfg2") // cfg2 (later in tick) wins; a/old deleted
  private val afterTick2Hist = afterSeedHist ++
    Map("t2-cfg0" -> 1L, "t2-cfg1" -> 2L, "t2-cfg2" -> 1L)

  test("commitTick: N configs, ONE cut; later configs win intra-tick conflicts; per-config history attribution") {
    val root = freshRoot()
    seedTick(root)
    val c1 = TagFamilyStore.currentCutVersion(spark, root).get
    val v = TagFamilyStore.commitTick(spark, root, tick2())
    // one cut publish for the whole tick
    assert(TagFamilyStore.currentCutVersion(spark, root) === Some(c1 + 1))
    assert(v.keySet === Set("tags", "history", "manifest"))
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === afterTick2Tags)
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      afterTick2Hist)
  }

  test("a crash at EVERY inter-commit point — including BETWEEN configs — hides the WHOLE tick; re-run lands once") {
    for (crashAt <- Seq("tags@0", "history@0", "job@0", "tags@1",
        "history@1", "job@1", "tags@2", "history@2")) {
      val root = freshRoot()
      seedTick(root)
      val cutBefore = TagFamilyStore.currentCutVersion(spark, root)

      TagFamilyStore.setTestMidJobHook(root, s =>
        if (s == crashAt) throw new RuntimeException("injected tick crash"))
      val crashed =
        try { TagFamilyStore.commitTick(spark, root, tick2()); false }
        catch { case e: RuntimeException
            if e.getMessage == "injected tick crash" => true }
        finally TagFamilyStore.clearTestMidJobHook(root)
      assert(crashed, s"the $crashAt injection must fire")

      // tick atomicity: even configs that fully committed inside the
      // crashed tick (crash at job@1 = cfg0 AND cfg1 landed) are
      // invisible — the cut never advanced
      assert(TagFamilyStore.currentCutVersion(spark, root) === cutBefore,
        s"crash at $crashAt must not advance the cut")
      assert(tagSet(TagFamilyStore.readTags(spark, root)) === afterSeedTags,
        s"crash at $crashAt must hide the whole tick's tags")
      assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
        afterSeedHist,
        s"crash at $crashAt must hide the whole tick's history")

      // recovery: the re-run truncates the orphan suffix and lands the
      // whole tick exactly once
      TagFamilyStore.commitTick(spark, root, tick2())
      assert(tagSet(TagFamilyStore.readTags(spark, root)) === afterTick2Tags,
        s"re-run after $crashAt must apply the tick once")
      assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
        afterTick2Hist,
        s"re-run after $crashAt must record every job exactly once")
    }
  }

  test("a zombie tick (cut moves under a broken lease mid-tick) aborts on its CAS'd publish") {
    val root = freshRoot()
    seedTick(root)
    TagFamilyStore.setTestMidJobHook(root, s =>
      if (s == "job@1") StoreCut.advance(spark, root, Map("zz" -> 0L)))
    try intercept[java.util.ConcurrentModificationException](
      TagFamilyStore.commitTick(spark, root, tick2()))
    finally TagFamilyStore.clearTestMidJobHook(root)
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === afterSeedTags)
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      afterSeedHist)
  }

  test("porcelain: orphan suffixes are counted after a crash, clear after the truncating re-run") {
    val root = freshRoot()
    seedTick(root)
    val healthy = TagFamilyStore.porcelain(spark, root)
    assert(healthy.orphanSuffix === Map.empty)
    assert(healthy.pins.keySet === Set("tags", "history"))
    assert(healthy.cutVersion === Some(0L))
    assert(healthy.retainedCuts === Seq(0L))

    // crash after BOTH tables of tick-2's first config committed
    TagFamilyStore.setTestMidJobHook(root, s =>
      if (s == "job@0") throw new RuntimeException("injected tick crash"))
    try intercept[RuntimeException](
      TagFamilyStore.commitTick(spark, root, tick2()))
    finally TagFamilyStore.clearTestMidJobHook(root)
    val torn = TagFamilyStore.porcelain(spark, root)
    // exactly the crashed config's two commits sit above the pins
    assert(torn.orphanSuffix === Map("tags" -> 1L, "history" -> 1L))
    assert(torn.cutVersion === healthy.cutVersion, "cut unmoved")

    // the re-run truncates the suffix and the porcelain reads clean
    TagFamilyStore.commitTick(spark, root, tick2())
    val healed = TagFamilyStore.porcelain(spark, root)
    assert(healed.orphanSuffix === Map.empty)
    assert(healed.cutVersion === Some(1L))
    assert(healed.retainedCuts === Seq(0L, 1L))
    // and the family_cuts signal carries the last cut's summary
    assert(Signals.notes(Signals.FamilyCuts).get(root)
      .exists(s => s.contains("cut=v1") && s.contains("jobs=3")))
  }

  test("commitTick == the same jobs as sequential commitJobs (chained latest-wins == serialized merges)") {
    val rootTick = freshRoot()
    val rootSeq = freshRoot()
    seedTick(rootTick)
    // the sequential root replays the seed as two separate jobs too
    TagFamilyStore.commitJob(spark, rootSeq,
      mkIncoming(Seq(("a/old", "env", "OLD"))),
      mkHistory("t1-seed0", Seq("a/old")))
    TagFamilyStore.commitJob(spark, rootSeq,
      mkIncoming(Seq(("a/base", "env", "BASE"))),
      mkHistory("t1-seed1", Seq("a/base")))
    TagFamilyStore.commitTick(spark, rootTick, tick2())
    tick2().foreach(b =>
      TagFamilyStore.commitJob(spark, rootSeq, b.incoming, b.history))
    // same final tags (conflicts resolved identically: later wins) and
    // identical history — the tick changes VISIBILITY grain, never
    // merge semantics
    assert(tagSet(TagFamilyStore.readTags(spark, rootTick)) ===
      tagSet(TagFamilyStore.readTags(spark, rootSeq)))
    assert(histUuids(TagFamilyStore.readHistory(spark, rootTick)) ===
      histUuids(TagFamilyStore.readHistory(spark, rootSeq)))
    // but the tick minted ONE cut where the sequential form minted three
    assert(TagFamilyStore.currentCutVersion(spark, rootTick) === Some(1L))
    assert(TagFamilyStore.currentCutVersion(spark, rootSeq) === Some(4L))
  }

  test("an empty tick is a no-op (no lease, no cut mint)") {
    val root = freshRoot()
    assert(TagFamilyStore.commitTick(spark, root, Seq.empty) === Map.empty)
    assert(TagFamilyStore.currentCutVersion(spark, root).isEmpty)
  }

  test("schedulerTickCommit == schedulerTick rollup, with tags+history landed under ONE cut") {
    import graft.streaming.Streams
    Lake.registerAll(spark, sf)
    val catalog = Lake.tableNames.map(t => ("p", "lake", t))
      .toDF("project", "dataset", "table")
    val configs = Seq(
      ("cA", "gov", "bigquery/project/p/dataset/lake/region, " +
        "bigquery/project/p/dataset/lake/nation", 60L,
        "2024-03-01 10:00:00", 1L),
      ("cB", "ops", "bigquery/project/p/dataset/lake/supplier", 30L,
        "2024-03-01 11:00:00", 3L),
      ("cC", "gov", "bigquery/project/p/dataset/lake/orders", 60L,
        "2024-03-01 14:00:00", 1L)) // not due
      .toDF("config_uuid", "template_id", "included_uris",
        "refresh_frequency_minutes", "next_run_s", "version")
      .withColumn("next_run", to_timestamp(col("next_run_s")))
      .drop("next_run_s")
      .withColumn("config_type", lit("DYNAMIC_TAG_TABLE"))
      .withColumn("config_status", lit("ACTIVE"))
      .withColumn("refresh_mode", lit("AUTO"))
      .withColumn("scheduling_status", lit("READY"))
    val fieldsOf = (_: String) => Seq(graft.model.FieldSpec("n_rows",
      "double", Some("select count(*) from $table")))
    val now = to_timestamp(lit("2024-03-01 12:00:00"))
    val emptyTags = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "asset_uri string, column string, template_id string, " +
          "field_id string, field_value string"))
    def rows(df: DataFrame): Seq[String] =
      df.orderBy("config_uuid").collect().map(_.mkString("|")).toSeq

    val pure = Streams.schedulerTick(spark, configs, now, catalog,
      emptyTags, fieldsOf)
    val root = freshRoot()
    val committed = Streams.schedulerTickCommit(spark, configs, now,
      catalog, root, fieldsOf,
      eventTime = to_timestamp(lit("2026-01-05 00:00:00")))
    // the durable terminal reports EXACTLY the pure transform's rollup
    assert(rows(committed) === rows(pure))

    // ...and the tick landed under ONE cut, history keyed by the same
    // md5(config_uuid|version) the rollup reports
    assert(TagFamilyStore.currentCutVersion(spark, root) === Some(0L))
    val fam = TagFamilyStore.readFamily(spark, root)
    val histKeys = fam.history.select("job_uuid").distinct()
      .as[String].collect().toSet
    val rollupKeys = committed.select("job_uuid").as[String].collect().toSet
    assert(histKeys === rollupKeys)
    // cA tagged region+nation, cB supplier — 3 tag rows, cC untouched
    assert(fam.tags.count() === 3L)
  }

  test("runTick lands every due config's evaluated rows and history under one cut") {
    Lake.registerAll(spark, sf)
    val catalog = Lake.tableNames.map(t => ("p", "lake", t))
      .toDF("project", "dataset", "table")
    val cfgA = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(FieldSpec("n_rows", "double",
        Some("select count(*) from $table"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/region",
        "bigquery/project/p/dataset/lake/nation"))
    val cfgB = cfgA.copy(templateId = "ops",
      includedUris = Seq("bigquery/project/p/dataset/lake/region"))
    val root = freshRoot()
    val v = TagFamilyStore.runTick(spark, Seq("cA" -> cfgA, "cB" -> cfgB),
      catalog, root,
      eventTime = to_timestamp(lit("2026-01-05 00:00:00")))._1
    assert(v.contains("manifest"))
    val tags = TagFamilyStore.readTags(spark, root)
    // both configs' rows landed under one cut, template-separated
    val byTemplate = tags.groupBy("template_id").count()
      .as[(String, Long)].collect().toMap
    assert(byTemplate === Map("gov" -> 2L, "ops" -> 1L))
    // and the values are the evaluated counts (region=5, nation=25)
    val vals = tags.select("asset_uri", "template_id", "field_value")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap
    assert(vals(("bigquery/project/p/dataset/lake/region", "gov")) === "5")
    assert(vals(("bigquery/project/p/dataset/lake/nation", "gov")) === "25")
    assert(vals(("bigquery/project/p/dataset/lake/region", "ops")) === "5")
    // history: one job per config, attributed by the jobUuidOf default
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("cA" -> 2L, "cB" -> 1L))
    // a second tick with overwrite=false skips the already-tagged
    // assets READ THROUGH THE CUT (the pre-tick snapshot rule)
    val v2 = TagFamilyStore.runTick(spark,
      Seq("cA2" -> cfgA.copy(overwrite = false)), catalog, root,
      eventTime = to_timestamp(lit("2026-01-06 00:00:00")))._1
    assert(v2.contains("manifest"))
    // both assets were already tagged → the no-op job writes no history
    assert(!histUuids(TagFamilyStore.readHistory(spark, root))
      .contains("cA2"))
    assert(TagFamilyStore.readTags(spark, root).count() === 3L)
  }

  test("runTick idempotency pin: a replayed tick skips; a higher pin commits; reserved keys rejected") {
    Lake.registerAll(spark, sf)
    val catalog = Lake.tableNames.map(t => ("p", "lake", t))
      .toDF("project", "dataset", "table")
    val cfg = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(FieldSpec("n_rows", "double",
        Some("select count(*) from $table"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/region"),
      exportTags = true)
    val root = freshRoot()
    val ev = to_timestamp(lit("2026-01-05 00:00:00"))
    val v1 = TagFamilyStore.runTick(spark, Seq("cA" -> cfg), catalog, root,
      eventTime = ev, idempotencyPin = Some("tick" -> 1L))._1
    assert(v1.contains("manifest"))
    // the export config's report rows landed as the batch's third part,
    // under the same cut (round-19 verdict #1)
    val reports = TagFamilyStore.readReports(spark, root,
      graft.operators.TagEngine.reportRowsFor(mkIncoming(Seq.empty), ev))
    assert(reports.select("table", "tag_field", "tag_value")
      .collect().map(_.mkString("|")).toSet === Set("region|n_rows|5"))
    val hist1 = histUuids(TagFamilyStore.readHistory(spark, root))
    // replay (same pin): nothing lands, batches still evaluated/returned
    val (v2, b2) = TagFamilyStore.runTick(spark, Seq("cA" -> cfg),
      catalog, root, eventTime = ev, idempotencyPin = Some("tick" -> 1L))
    assert(v2 === Map.empty && b2.nonEmpty)
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) === hist1)
    assert(reports.count() === 1L)
    // a genuinely newer tick commits (the pin gates replays, not progress)
    val v3 = TagFamilyStore.runTick(spark, Seq("cA" -> cfg), catalog, root,
      eventTime = ev, jobUuidOf = id => lit(s"$id-2"),
      idempotencyPin = Some("tick" -> 2L))._1
    assert(v3.contains("manifest"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      hist1 + ("cA-2" -> 1L))
    // a pin key shadowing a part/manifest name is rejected loudly
    val e = intercept[IllegalArgumentException] {
      TagFamilyStore.runTick(spark, Seq("cA" -> cfg), catalog, root,
        eventTime = ev, idempotencyPin = Some("tags" -> 3L))
    }
    assert(e.getMessage.contains("collides"))
  }
}
