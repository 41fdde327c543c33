package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{FieldSpec, TagConfig}
import graft.operators.{TagEngine, TagFamilyStore}
import graft.obs.Signals
import graft.sources.{AtomicStore, StoreCut}

/** The tag-engine FAMILY cut (round 18): tags + history (+ reports)
  * published under one atomic manifest — crash injection at every
  * inter-commit point must leave readers on the pre-job state for ALL
  * tables, recovery must land the re-run exactly once (orphan suffixes
  * truncated, never adopted), and pinned cuts must time-travel.
  */
class TagFamilyStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_tagfam").toString

  private def mkIncoming(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("asset_uri", "field_id", "field_value")
      .select(col("asset_uri"), lit("").as("column"),
        lit("gov").as("template_id"), col("field_id"),
        lit("string").as("field_type"), col("field_value"))

  private def mkHistory(jobUuid: String,
                        rows: Seq[(String, String)]): DataFrame =
    rows.toDF("asset_name", "n_rows")
      .select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
        col("asset_name"), lit(jobUuid).as("job_uuid"), col("n_rows"))

  private def tagSet(df: DataFrame): Set[String] =
    df.select("asset_uri", "field_id", "field_value")
      .collect().map(_.mkString("|")).toSet

  private def histUuids(df: DataFrame): Map[String, Long] =
    df.groupBy("job_uuid").count()
      .as[(String, Long)].collect().toMap

  private val j1Tags = Seq(
    ("a/orders", "env", "DEV"), ("a/orders", "n_rows", "100"),
    ("a/region", "n_rows", "5"))
  private val j2Tags = Seq(
    ("a/orders", "env", "PROD"), // update
    ("a/region", "n_rows", ""))  // all-empty instance → delete trigger

  test("commitJob publishes tags+history atomically and reads replay the merge semantics") {
    val root = freshRoot()
    val v1 = TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"), ("a/region", "5"))))
    assert(v1.keySet === Set("tags", "history", "manifest"))
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|DEV", "a/orders|n_rows|100", "a/region|n_rows|5"))

    TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
      mkHistory("job-2", Seq(("a/orders", "100"))))
    // update applied, delete-when-all-empty applied, untouched survives
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|PROD", "a/orders|n_rows|100"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L, "job-2" -> 1L))
    // the history day-partition column rides along, sink-identical
    assert(TagFamilyStore.readHistory(spark, root).columns
      .contains("event_date"))
  }

  test("a crash at EVERY inter-commit point leaves readers on the pre-job state for ALL tables") {
    for (crashAt <- Seq("tags", "history", "reports")) {
      val root = freshRoot()
      TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
        mkHistory("job-1", Seq(("a/orders", "100"), ("a/region", "5"))),
        reports = Some(Seq(("a/orders", "gov"))
          .toDF("asset", "template")
          .withColumn("export_time", to_timestamp(lit("2026-01-05 00:00:00")))))
      val cutBefore = TagFamilyStore.currentCutVersion(spark, root)
      val tagsBefore = tagSet(TagFamilyStore.readTags(spark, root))
      val histBefore = histUuids(TagFamilyStore.readHistory(spark, root))

      TagFamilyStore.setTestMidJobHook(root, stage =>
        if (stage == crashAt) throw new RuntimeException("injected job crash"))
      val crashed =
        try {
          TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
            mkHistory("job-2", Seq(("a/orders", "100"))),
            reports = Some(Seq(("a/orders", "gov"))
              .toDF("asset", "template")
              .withColumn("export_time",
                to_timestamp(lit("2026-01-06 00:00:00")))))
          false
        } catch {
          case e: RuntimeException
              if e.getMessage == "injected job crash" => true
        } finally TagFamilyStore.clearTestMidJobHook(root)
      assert(crashed, s"the $crashAt injection must fire")

      // the cut never advanced; tags AND history AND reports serve the
      // pre-job state — none of the crashed job's commits visible
      assert(TagFamilyStore.currentCutVersion(spark, root) === cutBefore,
        s"crash at $crashAt must not advance the cut")
      assert(tagSet(TagFamilyStore.readTags(spark, root)) === tagsBefore,
        s"crash at $crashAt must not change served tags")
      assert(histUuids(TagFamilyStore.readHistory(spark, root)) === histBefore,
        s"crash at $crashAt must not change served history")
      assert(TagFamilyStore.readReports(spark, root,
        TagFamilyStore.readHistory(spark, root)).count() === 1L,
        s"crash at $crashAt must not change served reports")

      // recovery: the re-run lands EXACTLY ONCE — the crashed attempt's
      // orphan suffix is truncated, never adopted (no doubled history,
      // no phantom rows)
      TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
        mkHistory("job-2", Seq(("a/orders", "100"))))
      assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
        "a/orders|env|PROD", "a/orders|n_rows|100"),
        s"re-run after $crashAt crash must apply the merge once")
      assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
        Map("job-1" -> 2L, "job-2" -> 1L),
        s"re-run after $crashAt crash must record job-2 exactly once")
    }
  }

  test("a crashed FIRST job on a fresh store leaves it unreadable-as-uncommitted, and the re-run repairs") {
    val root = freshRoot()
    TagFamilyStore.setTestMidJobHook(root, stage =>
      if (stage == "history") throw new RuntimeException("injected job crash"))
    try intercept[RuntimeException](
      TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
        mkHistory("job-1", Seq(("a/orders", "100")))))
    finally TagFamilyStore.clearTestMidJobHook(root)
    // no cut: the tag table's crash residue is deliberately unreadable
    assert(TagFamilyStore.currentCutVersion(spark, root).isEmpty)
    intercept[IllegalStateException](TagFamilyStore.readTags(spark, root))
    assert(TagFamilyStore.readTagsOr(spark, root,
      mkIncoming(j1Tags)).count() === 0L)
    // re-run: exactly once, orphan truncated
    TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"))))
    assert(tagSet(TagFamilyStore.readTags(spark, root)).size === 3)
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 1L))
  }

  test("time travel: a pinned cut re-reads the job-boundary state bit-identically past later merges AND a fold") {
    val root = freshRoot()
    TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"), ("a/region", "5"))))
    val c1 = TagFamilyStore.currentCutVersion(spark, root).get
    val pinnedTags = tagSet(TagFamilyStore.readTags(spark, root))
    val pinnedHist = histUuids(TagFamilyStore.readHistory(spark, root))

    TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
      mkHistory("job-2", Seq(("a/orders", "100"))))
    // the fold REWRITES the tag log (latest-wins squash) and the history
    // chain — the adversarial part: if the pin leaked to current files,
    // the pinned read would see job-2's state
    val folded = TagFamilyStore.compact(spark, root, graceMs = 0L)
    assert(folded("tags").isDefined && folded("history").isDefined)

    assert(tagSet(TagFamilyStore.readTagsAt(spark, root, c1)) === pinnedTags)
    assert(histUuids(TagFamilyStore.readHistoryAt(spark, root, c1)) ===
      pinnedHist)
    // and current still serves the post-job-2 state, fold-invisibly
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|PROD", "a/orders|n_rows|100"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L, "job-2" -> 1L))
    // the fold actually collapsed the served chains to one dir each
    val pins = StoreCut.cut(spark, root).get
    assert(AtomicStore.filesAt(spark, s"$root/tags", pins("tags")).size === 1)
    assert(AtomicStore.filesAt(spark, s"$root/history",
      pins("history")).size === 1)
  }

  test("the job lease serializes commits: a held lease refuses a second job loudly") {
    val root = freshRoot()
    val lease = AtomicStore.claimLease(spark, s"$root/_job_lease",
      AtomicStore.DefaultLeaseTtlMs, "spec holder")
    try intercept[java.util.ConcurrentModificationException](
      TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
        mkHistory("job-1", Seq(("a/orders", "100")))))
    finally AtomicStore.releaseLease(spark, lease)
    // released → the commit proceeds
    TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"))))
    assert(tagSet(TagFamilyStore.readTags(spark, root)).size === 3)
  }

  test("commitComputed: an evaluated config lands tags+history atomically") {
    Lake.registerAll(spark, sf)
    val catalog = Lake.tableNames.map(t => ("p", "lake", t))
      .toDF("project", "dataset", "table")
    val config = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(FieldSpec("n_rows", "double",
        Some("select count(*) from $table"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/region",
        "bigquery/project/p/dataset/lake/nation"))
    val root = freshRoot()
    TagFamilyStore.commitComputed(spark, root, config,
      TagEngine.applyDynamicTableConfig(spark, config, catalog),
      eventTime = to_timestamp(lit("2026-01-05 00:00:00")),
      jobUuid = lit("job-1"))
    val tags = TagFamilyStore.readTags(spark, root)
    val got = tags.select("asset_uri", "field_value")
      .as[(String, String)].collect().toMap
    assert(got("bigquery/project/p/dataset/lake/region") === "5")
    assert(got("bigquery/project/p/dataset/lake/nation") === "25")
    // history: one row per written tag instance, template fields pivoted
    val hist = TagFamilyStore.readHistory(spark, root)
    assert(histUuids(hist) === Map("job-1" -> 2L))
    assert(hist.columns.contains("n_rows"))

    // a second overwrite=false run skips the already-tagged assets: the
    // job still commits (cut advances — the reference's SUCCEEDED no-op
    // job) but produces zero new tag rows and zero history rows
    val cutBefore = TagFamilyStore.currentCutVersion(spark, root).get
    val noOverwrite = config.copy(overwrite = false)
    TagFamilyStore.commitComputed(spark, root, noOverwrite,
      TagEngine.applyDynamicTableConfig(spark, noOverwrite, catalog),
      eventTime = to_timestamp(lit("2026-01-06 00:00:00")),
      jobUuid = lit("job-2"))
    assert(TagFamilyStore.currentCutVersion(spark, root).get > cutBefore)
    assert(tagSet(TagFamilyStore.readTags(spark, root)) ===
      tagSet(tags))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L))
  }

  test("a zombie job (lease broken mid-commit) aborts on its CAS'd cut publish instead of tearing the cut") {
    val root = freshRoot()
    TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"), ("a/region", "5"))))
    // the zombie: job-2's tables commit, then — before its single cut
    // publish — the cut MOVES (a successor legally broke the stalled
    // lease and published). A blind max-merge would adopt the zombie's
    // stale-parented table versions; the CAS must abort loudly instead.
    TagFamilyStore.setTestMidJobHook(root, stage =>
      if (stage == "history")
        StoreCut.advance(spark, root, Map("zz_breaker" -> 0L)))
    try intercept[java.util.ConcurrentModificationException](
      TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
        mkHistory("job-2", Seq(("a/orders", "100")))))
    finally TagFamilyStore.clearTestMidJobHook(root)
    // the zombie's commits are invisible — job-1 still serves
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|DEV", "a/orders|n_rows|100", "a/region|n_rows|5"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L))
    // and the re-run truncates the zombie's orphans and lands once
    TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
      mkHistory("job-2", Seq(("a/orders", "100"))))
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|PROD", "a/orders|n_rows|100"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L, "job-2" -> 1L))
  }

  test("commitJob auto-folds the tags log past the batch threshold") {
    // the write path's own maintenance: a long-lived store must not
    // depend on an operator scheduling compact — the job commit folds
    // any part whose pinned chain outgrew compactAboveBatches, and the
    // served state is invariant
    val root = freshRoot()
    (0 until 8).foreach { i =>
      TagFamilyStore.commitJob(spark, root,
        mkIncoming(Seq((s"a$i", "n_rows", s"$i"))),
        mkHistory(s"job-$i", Seq((s"a$i", s"$i"))), compactAboveBatches = 3)
    }
    val pin = StoreCut.cut(spark, root).get(TagFamilyStore.TagsPart)
    val nDirs = AtomicStore.filesAt(spark, s"$root/tags", pin).size
    // without the fold the pinned chain would list 8 batch dirs; the
    // threshold guarantees no job can leave more than 4 behind
    assert(nDirs <= 4, s"tags chain lists $nDirs dirs — auto-fold not firing")
    assert(tagSet(TagFamilyStore.readTags(spark, root)) ===
      (0 until 8).map(i => s"a$i|n_rows|$i").toSet)
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      (0 until 8).map(i => s"job-$i" -> 1L).toMap)
    // the folded log keeps merging, including the delete path
    TagFamilyStore.commitJob(spark, root, mkIncoming(Seq(("a0", "n_rows", ""))),
      mkHistory("job-del", Seq(("a0", ""))), compactAboveBatches = 3)
    assert(TagFamilyStore.readTags(spark, root).select("asset_uri")
      .as[String].collect().toSet === (1 until 8).map(i => s"a$i").toSet)
  }

  test("a post-publish fold that fails is swallowed but counted; the commit returns") {
    val root = freshRoot()
    TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"), ("a/region", "5"))),
      compactAboveBatches = 1)
    // the second commit leaves two dirs per part, forcing the fold; its
    // fold publish fails
    AtomicStore.testPrePublishHook = () =>
      throw new java.io.IOException("injected fold failure")
    val v =
      try TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
        mkHistory("job-2", Seq(("a/orders", "100"))),
        compactAboveBatches = 1)
      finally AtomicStore.testPrePublishHook = () => ()
    assert(v.contains("manifest"))
    assert(Signals.counts(Signals.SwallowedAdvances).get(root) === Some(1L))
    assert(Signals.notes(Signals.SwallowedAdvances).get(root)
      .exists(_.contains("injected fold failure")))
    // the commit itself is served
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L, "job-2" -> 1L))
  }

  test("an out-of-protocol commit during a job aborts it; the re-run lands once") {
    val root = freshRoot()
    TagFamilyStore.commitJob(spark, root, mkIncoming(j1Tags),
      mkHistory("job-1", Seq(("a/orders", "100"), ("a/region", "5"))))
    val cutBefore = TagFamilyStore.currentCutVersion(spark, root)
    // after the job's tags publish, a writer that bypasses the job lease
    // commits to the history table: the version the job took at entry
    // for its history batch is gone, so the job must fail rather than
    // publish a second way
    TagFamilyStore.setTestMidJobHook(root, stage =>
      if (stage == "tags")
        AtomicStore.commitAppend(mkHistory("intruder", Seq(("a/x", "1"))),
          s"$root/history"))
    try intercept[java.util.ConcurrentModificationException](
      TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
        mkHistory("job-2", Seq(("a/orders", "100")))))
    finally TagFamilyStore.clearTestMidJobHook(root)
    // the pre-job cut still serves in both tables
    assert(TagFamilyStore.currentCutVersion(spark, root) === cutBefore)
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|DEV", "a/orders|n_rows|100", "a/region|n_rows|5"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L))
    // the re-run's entry check flags the intruder's version (the aborted
    // job's own tags commit is accounted residue) and the job lands once
    TagFamilyStore.commitJob(spark, root, mkIncoming(j2Tags),
      mkHistory("job-2", Seq(("a/orders", "100"))))
    val violations = Signals.notes(Signals.OrphanSuffixViolations)
    assert(violations.contains(s"$root/history"))
    assert(!violations.contains(s"$root/tags"))
    assert(tagSet(TagFamilyStore.readTags(spark, root)) === Set(
      "a/orders|env|PROD", "a/orders|n_rows|100"))
    assert(histUuids(TagFamilyStore.readHistory(spark, root)) ===
      Map("job-1" -> 2L, "job-2" -> 1L))
  }
}
