package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TagFamilyStore
import graft.queries.CoreQueries.Q

/** Tag-engine-parity queries, part 6 (rounds 18–19): the tag-engine
  * FAMILY cut — tags + history (+ reports) published under ONE atomic
  * manifest ([[graft.operators.TagFamilyStore]], the StoreCut shape
  * extended to the engine's busiest write family) under the oracle
  * gate, at both the JOB grain (q53/q54/q56) and the whole-TICK grain
  * (q55 — N configs, one cut).
  *
  * q53 is q48's shape for the family: committed jobs interleaved with
  * jobs CRASHED at every inter-commit point (via the same injection
  * seam the crash specs and the `tag_family_crash` gate use), read back
  * through the cut — the crashed jobs' commits must be invisible in
  * BOTH tables, and the re-run must land exactly once (reference
  * analogue: the create/update RPC then the history insert,
  * DataCatalogController.py:1608–1652 → BigQueryUtils.py:391–440, which
  * simply tears there).
  *
  * q54 is s19's shape for tags: pin a cut at a job boundary, mutate and
  * FOLD the store, and the pinned read must still serve the original
  * state bit-identically — adversarial by construction, because the
  * fold rewrites the tag log to the CURRENT latest-wins state, so a
  * pin that leaked to current files would read PROD where the oracle
  * says DEV.
  */
object CoreQueries6 {

  /** One job's tag rows in the unified shape (q48's mk, family-sized). */
  private def mkIncoming(spark: SparkSession,
                         rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("asset_uri", "field_id", "field_value")
      .select(col("asset_uri"), lit("").as("column"),
        lit("gov").as("template_id"), col("field_id"),
        lit("string").as("field_type"), col("field_value"))
  }

  private def mkHistory(spark: SparkSession, jobUuid: String,
                        assets: Seq[String]): DataFrame = {
    import spark.implicits._
    assets.toDF("asset_name")
      .select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
        col("asset_name"), lit(jobUuid).as("job_uuid"))
  }

  /** (phase, k, v) projections of the two family tables — the labeled
    * union both queries dump for the oracle compare.
    */
  private def tagRows(tags: DataFrame, phase: String): DataFrame =
    tags.select(lit(phase).as("phase"),
      concat(col("asset_uri"), lit("|"), col("field_id")).as("k"),
      col("field_value").as("v"))

  private def histRows(hist: DataFrame, phase: String): DataFrame =
    hist.groupBy("job_uuid").count()
      .select(lit(phase).as("phase"), col("job_uuid").as("k"),
        col("count").cast("string").as("v"))

  // --------------- family-cut job atomicity (q53)

  /** Four jobs against one family store: J1 commits; J2 crashes after
    * its TAG commit (history never landed, cut never advanced); J3
    * crashes after its HISTORY commit (both tables committed, the single
    * cut publish never reached — the widest tear window); J4 commits,
    * truncating the orphan suffixes. The dump captures the served state
    * after the crashes (must equal J1 exactly — no phantom tags, no
    * phantom history) and after J4 (J1+J4 merged, exactly once).
    */
  def q53JobAtomicity(spark: SparkSession, dir: String): DataFrame =
    CoreQueries.withTempDir(spark, "graft_q53") { rootPath =>
      val root = rootPath.toString
      def crashJob(stage: String, tags: Seq[(String, String, String)],
                   uuid: String): Unit = {
        TagFamilyStore.setTestMidJobHook(root, s =>
          if (s == stage) throw new RuntimeException("injected job crash"))
        try {
          TagFamilyStore.commitJob(spark, root, mkIncoming(spark, tags),
            mkHistory(spark, uuid, tags.map(_._1)))
          throw new IllegalStateException("q53: the injection must fire")
        } catch {
          case e: RuntimeException
              if e.getMessage == "injected job crash" => ()
        } finally TagFamilyStore.clearTestMidJobHook(root)
      }
      TagFamilyStore.commitJob(spark, root, mkIncoming(spark, Seq(
          ("a/orders", "env", "DEV"), ("a/orders", "n_rows", "100"),
          ("a/region", "n_rows", "5"))),
        mkHistory(spark, "job-1", Seq("a/orders", "a/region")))
      crashJob("tags", Seq(("a/orders", "env", "GONE")), "job-2x")
      crashJob("history", Seq(("a/orders", "env", "GONE2")), "job-3x")
      val afterCrash =
        tagRows(TagFamilyStore.readTags(spark, root), "after_crash_tags")
          .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
            "after_crash_hist"))
      TagFamilyStore.commitJob(spark, root, mkIncoming(spark, Seq(
          ("a/orders", "env", "PROD"),
          ("a/region", "n_rows", ""))), // all-empty instance → delete
        mkHistory(spark, "job-4", Seq("a/orders")))
      afterCrash
        .unionByName(tagRows(TagFamilyStore.readTags(spark, root),
          "final_tags"))
        .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
          "final_hist"))
        .orderBy("phase", "k")
    }

  val q53Oracle: String =
    """SELECT * FROM (VALUES
      |  ('after_crash_hist', 'job-1', '2'),
      |  ('after_crash_tags', 'a/orders|env', 'DEV'),
      |  ('after_crash_tags', 'a/orders|n_rows', '100'),
      |  ('after_crash_tags', 'a/region|n_rows', '5'),
      |  ('final_hist', 'job-1', '2'),
      |  ('final_hist', 'job-4', '1'),
      |  ('final_tags', 'a/orders|env', 'PROD'),
      |  ('final_tags', 'a/orders|n_rows', '100'))
      |  t(phase, k, v)
      |ORDER BY phase, k""".stripMargin

  // --------------- tag-store time travel (q54)

  /** Pin the cut at the first job's boundary, mutate (update + delete)
    * with a second job, FOLD the whole store (the tag log squashes to
    * the current latest-wins state; the pinned read must resolve the
    * PRE-fold chain through the retained cut manifest), then dump the
    * pinned state next to the current one.
    */
  def q54TagTimeTravel(spark: SparkSession, dir: String): DataFrame =
    CoreQueries.withTempDir(spark, "graft_q54") { rootPath =>
      val root = rootPath.toString
      TagFamilyStore.commitJob(spark, root, mkIncoming(spark, Seq(
          ("a/orders", "env", "DEV"), ("a/orders", "n_rows", "100"),
          ("a/region", "n_rows", "5"))),
        mkHistory(spark, "job-1", Seq("a/orders", "a/region")))
      val c1 = TagFamilyStore.currentCutVersion(spark, root).get
      TagFamilyStore.commitJob(spark, root, mkIncoming(spark, Seq(
          ("a/orders", "env", "PROD"),
          ("a/region", "n_rows", ""))),
        mkHistory(spark, "job-2", Seq("a/orders")))
      // grace 0: reclamation is immediate — ONLY the retained-cut floor
      // keeps the pinned chain readable, which is exactly the claim
      TagFamilyStore.compact(spark, root, graceMs = 0L)
      tagRows(TagFamilyStore.readTagsAt(spark, root, c1), "pinned")
        .unionByName(tagRows(TagFamilyStore.readTags(spark, root),
          "current"))
        .orderBy("phase", "k")
    }

  val q54Oracle: String =
    """SELECT * FROM (VALUES
      |  ('current', 'a/orders|env', 'PROD'),
      |  ('current', 'a/orders|n_rows', '100'),
      |  ('pinned', 'a/orders|env', 'DEV'),
      |  ('pinned', 'a/orders|n_rows', '100'),
      |  ('pinned', 'a/region|n_rows', '5'))
      |  t(phase, k, v)
      |ORDER BY phase, k""".stripMargin

  // --------------- whole-tick atomicity (q55, round 19)

  /** The scheduler-tick grain of q53: tick 1 (TWO configs) commits
    * under ONE cut; tick 2 (two configs) crashes after its tags AND
    * history tables published, before its cut publish. In the
    * reference a tick is N independent tasks with no tick boundary
    * (`/scheduled_auto_updates`, main.py:3075–3110), so a crash there
    * leaves the finished configs applied. The served state after the
    * crash must equal tick 1 EXACTLY (tick atomicity, not job
    * atomicity), and the re-run must land BOTH configs exactly once.
    */
  def q55TickAtomicity(spark: SparkSession, dir: String): DataFrame =
    CoreQueries.withTempDir(spark, "graft_q55") { rootPath =>
      import TagFamilyStore.JobBatch
      val root = rootPath.toString
      def tick2: Seq[JobBatch] = Seq(
        JobBatch("c0", mkIncoming(spark, Seq(("a/orders", "env", "PROD"))),
          mkHistory(spark, "t2-c0", Seq("a/orders"))),
        JobBatch("c1", mkIncoming(spark, Seq(("a/part", "env", "NEW"),
            ("a/region", "n_rows", ""))), // all-empty → delete trigger
          mkHistory(spark, "t2-c1", Seq("a/part"))))
      TagFamilyStore.commitTick(spark, root, Seq(
        JobBatch("s0", mkIncoming(spark, Seq(
            ("a/orders", "env", "DEV"), ("a/orders", "n_rows", "100"))),
          mkHistory(spark, "t1-s0", Seq("a/orders"))),
        JobBatch("s1", mkIncoming(spark, Seq(("a/region", "n_rows", "5"))),
          mkHistory(spark, "t1-s1", Seq("a/region")))))
      // the crash: both configs' tags and history published, no cut
      TagFamilyStore.setTestMidJobHook(root, s =>
        if (s == "history") throw new RuntimeException("injected tick crash"))
      try {
        TagFamilyStore.commitTick(spark, root, tick2)
        throw new IllegalStateException("q55: the injection must fire")
      } catch {
        case e: RuntimeException
            if e.getMessage == "injected tick crash" => ()
      } finally TagFamilyStore.clearTestMidJobHook(root)
      val afterCrash =
        tagRows(TagFamilyStore.readTags(spark, root), "after_crash_tags")
          .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
            "after_crash_hist"))
      TagFamilyStore.commitTick(spark, root, tick2)
      afterCrash
        .unionByName(tagRows(TagFamilyStore.readTags(spark, root),
          "final_tags"))
        .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
          "final_hist"))
        .orderBy("phase", "k")
    }

  val q55Oracle: String =
    """SELECT * FROM (VALUES
      |  ('after_crash_hist', 't1-s0', '1'),
      |  ('after_crash_hist', 't1-s1', '1'),
      |  ('after_crash_tags', 'a/orders|env', 'DEV'),
      |  ('after_crash_tags', 'a/orders|n_rows', '100'),
      |  ('after_crash_tags', 'a/region|n_rows', '5'),
      |  ('final_hist', 't1-s0', '1'),
      |  ('final_hist', 't1-s1', '1'),
      |  ('final_hist', 't2-c0', '1'),
      |  ('final_hist', 't2-c1', '1'),
      |  ('final_tags', 'a/orders|env', 'PROD'),
      |  ('final_tags', 'a/orders|n_rows', '100'),
      |  ('final_tags', 'a/part|env', 'NEW'))
      |  t(phase, k, v)
      |ORDER BY phase, k""".stripMargin

  // --------------- the reports part under the oracle (q56, round 19)

  private def mkReports(spark: SparkSession, ts: String,
                        rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("asset", "template")
      .select(col("asset"), col("template"),
        to_timestamp(lit(ts)).as("export_time"))
  }

  private def reportRows(reports: DataFrame, phase: String): DataFrame =
    reports.select(lit(phase).as("phase"), col("asset").as("k"),
      col("template").as("v"))

  /** q53 extended to the THIRD family part: J1 commits tags + history +
    * REPORTS under one cut; J2 (also carrying reports) crashes at the
    * WIDEST window — all three tables committed, the single cut publish
    * never reached. All three parts must serve J1's state after the
    * crash, and the re-run must land J2's reports exactly once.
    */
  def q56FamilyReports(spark: SparkSession, dir: String): DataFrame =
    CoreQueries.withTempDir(spark, "graft_q56") { rootPath =>
      val root = rootPath.toString
      def j2(): Map[String, Long] = TagFamilyStore.commitJob(spark, root,
        mkIncoming(spark, Seq(("a/orders", "env", "PROD"))),
        mkHistory(spark, "job-2", Seq("a/orders")),
        reports = Some(mkReports(spark, "2026-01-06 00:00:00",
          Seq(("a/orders", "gov")))))
      TagFamilyStore.commitJob(spark, root,
        mkIncoming(spark, Seq(
          ("a/orders", "env", "DEV"), ("a/region", "n_rows", "5"))),
        mkHistory(spark, "job-1", Seq("a/orders", "a/region")),
        reports = Some(mkReports(spark, "2026-01-05 00:00:00",
          Seq(("a/orders", "gov"), ("a/region", "gov")))))
      TagFamilyStore.setTestMidJobHook(root, s =>
        if (s == "reports") throw new RuntimeException("injected job crash"))
      try {
        j2()
        throw new IllegalStateException("q56: the injection must fire")
      } catch {
        case e: RuntimeException
            if e.getMessage == "injected job crash" => ()
      } finally TagFamilyStore.clearTestMidJobHook(root)
      def reports() = TagFamilyStore.readReports(spark, root,
        mkReports(spark, "2026-01-05 00:00:00", Seq.empty))
      val afterCrash =
        tagRows(TagFamilyStore.readTags(spark, root), "after_crash_tags")
          .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
            "after_crash_hist"))
          .unionByName(reportRows(reports(), "after_crash_reports"))
      j2()
      afterCrash
        .unionByName(tagRows(TagFamilyStore.readTags(spark, root),
          "final_tags"))
        .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
          "final_hist"))
        .unionByName(reportRows(reports(), "final_reports"))
        .orderBy("phase", "k")
    }

  val q56Oracle: String =
    """SELECT * FROM (VALUES
      |  ('after_crash_hist', 'job-1', '2'),
      |  ('after_crash_reports', 'a/orders', 'gov'),
      |  ('after_crash_reports', 'a/region', 'gov'),
      |  ('after_crash_tags', 'a/orders|env', 'DEV'),
      |  ('after_crash_tags', 'a/region|n_rows', '5'),
      |  ('final_hist', 'job-1', '2'),
      |  ('final_hist', 'job-2', '1'),
      |  ('final_reports', 'a/orders', 'gov'),
      |  ('final_reports', 'a/orders', 'gov'),
      |  ('final_reports', 'a/region', 'gov'),
      |  ('final_tags', 'a/orders|env', 'PROD'),
      |  ('final_tags', 'a/region|n_rows', '5'))
      |  t(phase, k, v)
      |ORDER BY phase, k""".stripMargin

  // --------------- scheduler tick on the family terminal (q57, round 19)

  /** q40's whole `/scheduled_auto_updates` tick — H1 due-config
    * selection, batched evaluation, per-job rollup, H2 next_run advance
    * — run through the DURABLE family terminal
    * ([[graft.streaming.Streams.schedulerTickCommit]]): the rollup must
    * equal the pure-transform tick's EXACTLY (q40's oracle, verbatim)
    * while the tags+history land under ONE cut. Adversarial by
    * construction: the FIRST attempt is crashed before its cut publish
    * (the q55 injection through the real scheduler path), so the
    * emitted rollup comes from the RE-RUN — wrong truncation would
    * double cA's history/tags and a leaked first attempt would shift
    * the served state the re-run's overwrite filter reads.
    */
  def q57SchedulerTickCommit(spark: SparkSession, dir: String): DataFrame = {
    graft.Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      graft.Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    CoreQueries.withTempDir(spark, "graft_q57") { rootPath =>
      val root = rootPath.toString
      def tick(): DataFrame = graft.streaming.Streams.schedulerTickCommit(
        spark, CoreQueries5.tickConfigsDf(spark),
        to_timestamp(lit(CoreQueries5.tickNow)), catalog, root,
        CoreQueries5.tickFields,
        eventTime = to_timestamp(lit("2026-01-05 00:00:00")))
      TagFamilyStore.setTestMidJobHook(root, s =>
        if (s == "history") throw new RuntimeException("injected tick crash"))
      try {
        // the commit section runs eagerly inside schedulerTickCommit,
        // so the injection fires during tick() itself — no action needed
        tick()
        throw new IllegalStateException("q57: the injection must fire")
      } catch {
        // the commit section is driver-side, so the injection surfaces
        // as the raw RuntimeException, not a task failure
        case e: RuntimeException
            if e.getMessage == "injected tick crash" => ()
      } finally TagFamilyStore.clearTestMidJobHook(root)
      tick().orderBy("config_uuid")
    }
  }

  // --------------- reports under the evaluated tick (q58, round 20)

  /** Merge a tick's returned (next_run, version) advance back into the
    * config snapshot — the config-store side of the tick the oracle
    * queries must model to make a SECOND tick due (left join: configs
    * the tick did not launch keep their state).
    */
  private def mergeAdvance(configs: DataFrame, tickOut: DataFrame): DataFrame = {
    val adv = tickOut.select(col("config_uuid"),
      col("next_run").as("__nr"), col("version").as("__v"))
    configs.join(adv, Seq("config_uuid"), "left")
      .withColumn("next_run", coalesce(col("__nr"), col("next_run")))
      .withColumn("version", coalesce(col("__v"), col("version")))
      .drop("__nr", "__v")
  }

  /** Leaf table segment of a slashed bigquery URI — the compact key the
    * q58 dumps use.
    */
  private def uriTable(c: org.apache.spark.sql.Column) =
    element_at(split(c, "/"), 6)

  /** q56's crash pattern at TICK grain through the EVALUATED scheduler
    * path (round-19 verdict #1): the q40 fixture configs marked
    * `export_tags=true` run through
    * [[graft.streaming.Streams.schedulerTickCommit]], so each due
    * config's A12 report rows ([[graft.operators.TagEngine.reportRowsFor]],
    * apply_export_config's shape, DataCatalogController.py:1139–1196)
    * land in the tick's reports part under the tick's ONE cut. Tick 1
    * commits; tick 2 (due again after the advance merges back) is
    * crash-injected TWICE — first at `history` (tags and history
    * published, reports not) then at `reports` (all three parts
    * published, the cut publish never reached, the widest window) — and
    * all THREE tables must serve tick 1's state exactly; the third
    * attempt lands every config's three parts exactly once.
    */
  def q58TickReports(spark: SparkSession, dir: String): DataFrame = {
    graft.Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      graft.Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    CoreQueries.withTempDir(spark, "graft_q58") { rootPath =>
      val root = rootPath.toString
      val configs0 = CoreQueries5.tickConfigsDf(spark)
        .withColumn("export_tags", lit(true))
      def tick(configs: DataFrame, now: String, ev: String): DataFrame =
        graft.streaming.Streams.schedulerTickCommit(spark, configs,
          to_timestamp(lit(now)), catalog, root, CoreQueries5.tickFields,
          eventTime = to_timestamp(lit(ev)))
      val t1 = tick(configs0, CoreQueries5.tickNow, "2026-01-05 00:00:00")
      val configs1 = mergeAdvance(configs0, t1)
      def crashedTick(stage: String): Unit = {
        TagFamilyStore.setTestMidJobHook(root, s =>
          if (s == stage) throw new RuntimeException("injected tick crash"))
        try {
          tick(configs1, "2024-03-01 13:30:00", "2026-01-06 00:00:00")
          throw new IllegalStateException("q58: the injection must fire")
        } catch {
          case e: RuntimeException
              if e.getMessage == "injected tick crash" => ()
        } finally TagFamilyStore.clearTestMidJobHook(root)
      }
      crashedTick("history") // tags + history published, reports not
      crashedTick("reports") // every part published, cut never published
      def reports() = TagFamilyStore.readReports(spark, root,
        graft.operators.TagEngine.reportRowsFor(
          mkIncoming(spark, Seq.empty),
          to_timestamp(lit("2026-01-05 00:00:00"))))
      def tagDump(phase: String) =
        TagFamilyStore.readTags(spark, root).select(lit(phase).as("phase"),
          concat(uriTable(col("asset_uri")), lit("|"), col("field_id")).as("k"),
          col("field_value").as("v"))
      def reportDump(phase: String) =
        reports().select(lit(phase).as("phase"),
          concat(col("table"), lit("|"), col("tag_field")).as("k"),
          col("tag_value").as("v"))
      val afterCrash = tagDump("after_crash_tags")
        .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
          "after_crash_hist"))
        .unionByName(reportDump("after_crash_reports"))
      tick(configs1, "2024-03-01 13:30:00", "2026-01-06 00:00:00")
      afterCrash
        .unionByName(tagDump("final_tags"))
        .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
          "final_hist"))
        .unionByName(reportDump("final_reports"))
        .orderBy("phase", "k", "v")
    }
  }

  val q58Oracle: String =
    """WITH vals(k, v) AS (
      |  SELECT 'region|n_rows', CAST((SELECT count(*) FROM region) AS VARCHAR)
      |  UNION ALL SELECT 'region|env', 'PROD'
      |  UNION ALL SELECT 'nation|n_rows',
      |    CAST((SELECT count(*) FROM nation) AS VARCHAR)
      |  UNION ALL SELECT 'nation|env', 'PROD'
      |  UNION ALL SELECT 'supplier|n_rows',
      |    CAST((SELECT count(*) FROM supplier) AS VARCHAR)
      |  UNION ALL SELECT 'part|n_rows',
      |    CAST((SELECT count(*) FROM part) AS VARCHAR)),
      |hist1(k, v) AS (
      |  SELECT md5('cA|1'), '2' UNION ALL SELECT md5('cB|3'), '2'),
      |hist2(k, v) AS (
      |  SELECT md5('cA|2'), '2' UNION ALL SELECT md5('cB|4'), '2')
      |SELECT phase, k, v FROM (
      |  SELECT 'after_crash_tags' AS phase, k, v FROM vals
      |  UNION ALL SELECT 'after_crash_reports', k, v FROM vals
      |  UNION ALL SELECT 'after_crash_hist', k, v FROM hist1
      |  UNION ALL SELECT 'final_tags', k, v FROM vals
      |  UNION ALL SELECT 'final_reports', k, v FROM vals
      |  UNION ALL SELECT 'final_reports', k, v FROM vals
      |  UNION ALL SELECT 'final_hist', k, v FROM hist1
      |  UNION ALL SELECT 'final_hist', k, v FROM hist2)
      |ORDER BY phase, k, v""".stripMargin

  // --------------- sched_tick replay pin (q59, round 20)

  /** The tick ↔ config-store tear closed (round-19 verdict #2): tick 1
    * commits with `tickId=1` (the `sched_tick` cut pin); the caller's
    * config-store advance is LOST (we keep the pre-tick snapshot), so
    * the re-run presents the SAME due configs at the SAME versions —
    * without the pin it would re-commit every job under the same
    * `md5(uuid|version)` job_uuid, doubling history. With the pin the
    * replay skips the family commit (history unchanged — the oracle's
    * central claim) while still emitting the rollup + advance, so the
    * lost config-store merge completes from the REPLAY's output; a
    * genuine tick 2 (`tickId=2`, merged snapshot) then commits
    * normally, proving the pin gates replays, not progress.
    */
  def q59SchedTickReplay(spark: SparkSession, dir: String): DataFrame = {
    graft.Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      graft.Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    CoreQueries.withTempDir(spark, "graft_q59") { rootPath =>
      val root = rootPath.toString
      val configs0 = CoreQueries5.tickConfigsDf(spark)
      def tick(configs: DataFrame, now: String, id: Long): DataFrame =
        graft.streaming.Streams.schedulerTickCommit(spark, configs,
          to_timestamp(lit(now)), catalog, root, CoreQueries5.tickFields,
          eventTime = to_timestamp(lit("2026-01-05 00:00:00")),
          tickId = Some(id))
      tick(configs0, CoreQueries5.tickNow, 1L)
      val h1 = histRows(TagFamilyStore.readHistory(spark, root),
        "after_tick1_hist")
      // the lost-advance window: same snapshot, same now, same tick id
      val replay = tick(configs0, CoreQueries5.tickNow, 1L)
      val h2 = histRows(TagFamilyStore.readHistory(spark, root),
        "after_replay_hist")
      val replayRollup = replay.select(lit("replay_rollup").as("phase"),
        col("config_uuid").as("k"), col("job_uuid").as("v"))
      // the lost config-store merge completes from the replay's output
      tick(mergeAdvance(configs0, replay), "2024-03-01 13:30:00", 2L)
      h1.unionByName(h2).unionByName(replayRollup)
        .unionByName(histRows(TagFamilyStore.readHistory(spark, root),
          "final_hist"))
        .orderBy("phase", "k")
    }
  }

  val q59Oracle: String =
    """WITH h1(k, v) AS (
      |  SELECT md5('cA|1'), '2' UNION ALL SELECT md5('cB|3'), '2'),
      |h2(k, v) AS (
      |  SELECT md5('cA|2'), '2' UNION ALL SELECT md5('cB|4'), '2')
      |SELECT phase, k, v FROM (
      |  SELECT 'after_tick1_hist' AS phase, k, v FROM h1
      |  UNION ALL SELECT 'after_replay_hist', k, v FROM h1
      |  UNION ALL SELECT 'replay_rollup', 'cA', md5('cA|1')
      |  UNION ALL SELECT 'replay_rollup', 'cB', md5('cB|3')
      |  UNION ALL SELECT 'final_hist', k, v FROM h1
      |  UNION ALL SELECT 'final_hist', k, v FROM h2)
      |ORDER BY phase, k""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q53_job_atomicity", q53JobAtomicity _, Some(q53Oracle)),
    ("q54_tag_time_travel", q54TagTimeTravel _, Some(q54Oracle)),
    ("q55_tick_atomicity", q55TickAtomicity _, Some(q55Oracle)),
    ("q56_family_reports", q56FamilyReports _, Some(q56Oracle)),
    ("q57_scheduler_tick_commit", q57SchedulerTickCommit _,
      Some(CoreQueries5.q40Oracle)),
    ("q58_tick_reports", q58TickReports _, Some(q58Oracle)),
    ("q59_sched_tick_replay", q59SchedTickReplay _, Some(q59Oracle)))
}
