package graft

import org.apache.spark.sql.functions._
import graft.operators.{TagFamilyStore, TagStore}
import graft.sources.{AtomicStore, StoreCut}

/** Commit-log protocol contract: readers never observe partial commits,
  * appends never rewrite published files, concurrent publishes serialize
  * on the manifest rename, vacuum keeps live versions readable.
  */
class AtomicStoreSpec extends SparkSpec {
  import spark.implicits._

  private def root(): String =
    java.nio.file.Files.createTempDirectory("graft_atomic").toString

  private def tags(rows: (String, String)*) =
    rows.toSeq.toDF("asset_uri", "field_value")
      .withColumn("column", lit("")).withColumn("template_id", lit("gov"))
      .withColumn("field_id", lit("n_rows"))
      .select("asset_uri", "column", "template_id", "field_id", "field_value")

  /** One history row per tagged asset — the family store's job commit
    * needs a history batch beside every tag batch.
    */
  private def hist(tagRows: org.apache.spark.sql.DataFrame) =
    tagRows.select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
      col("asset_uri").as("asset_name"))

  private def state(df: org.apache.spark.sql.DataFrame) =
    df.select("asset_uri", "field_value").as[(String, String)].collect().toSet

  test("snapshot commits version and round-trips; next snapshot replaces") {
    val r = root()
    assert(AtomicStore.currentVersion(spark, r).isEmpty)
    assert(AtomicStore.commitSnapshot(tags("a" -> "1"), r) === 0L)
    assert(AtomicStore.commitSnapshot(tags("a" -> "2", "b" -> "3"), r) === 1L)
    assert(AtomicStore.currentVersion(spark, r) === Some(1L))
    val got = AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
    assert(got === Set("a" -> "2", "b" -> "3"))
  }

  test("a crash between data write and publish is invisible to readers") {
    val r = root()
    AtomicStore.commitSnapshot(tags("a" -> "1"), r)
    // simulate the crash: the data lands, the manifest never publishes
    AtomicStore.writeData(tags("a" -> "999", "z" -> "0"), r)
    assert(AtomicStore.currentVersion(spark, r) === Some(0L))
    assert(AtomicStore.read(spark, r)
      .select("field_value").as[String].collect().toSeq === Seq("1"))
    // the store stays writable afterwards, and the orphan stays dead
    AtomicStore.commitSnapshot(tags("a" -> "2"), r)
    assert(AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
      === Set("a" -> "2"))
  }

  test("append extends the visible set without touching published files") {
    val r = root()
    AtomicStore.commitAppend(tags("a" -> "1"), r)
    def files: Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(r, "data"), true)
      var m = Map.empty[String, (Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          m += s.getPath.toString -> ((s.getLen, s.getModificationTime))
      }
      m
    }
    val before = files
    AtomicStore.commitAppend(tags("b" -> "2"), r)
    val after = files
    before.foreach { case (name, sig) => assert(after(name) === sig) }
    assert(after.size > before.size)
    assert(AtomicStore.read(spark, r)
      .select("asset_uri").as[String].collect().sorted === Seq("a", "b"))
  }

  test("publish race: same version can be taken exactly once") {
    val r = root()
    val d1 = AtomicStore.writeData(tags("a" -> "1"), r)
    val d2 = AtomicStore.writeData(tags("b" -> "2"), r)
    assert(AtomicStore.publish(spark, r, Seq(d1), 0L))
    assert(!AtomicStore.publish(spark, r, Seq(d2), 0L),
      "second publish at the same version must fail")
    // the loser retries at the next version, as commit() does
    assert(AtomicStore.publish(spark, r, Seq(d1, d2), 1L))
    assert(AtomicStore.read(spark, r).count() === 2)
  }

  test("vacuum drops orphans and old versions, keeps latest readable") {
    val r = root()
    AtomicStore.commitSnapshot(tags("a" -> "1"), r)
    AtomicStore.writeData(tags("x" -> "9"), r) // orphan (crashed commit)
    AtomicStore.commitSnapshot(tags("a" -> "2"), r)
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // within the grace window the orphan (which could be a concurrent
    // writer's not-yet-published commit) must SURVIVE a vacuum
    AtomicStore.vacuum(spark, r, keepVersions = 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(r, "data")).length === 3)
    // past the grace window it is garbage and goes
    AtomicStore.vacuum(spark, r, keepVersions = 1, graceMs = 0L)
    // one live data dir (latest manifest's), one live manifest
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(r, "data")).length === 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(r, "_commits")).length === 1)
    assert(AtomicStore.read(spark, r)
      .select("field_value").as[String].collect().toSeq === Seq("2"))
  }

  test("CAS append: stale base refused with the loser's data reclaimed") {
    // the derived-batch contract (Ingest's commit path): publish at
    // expectedBase+1 or return None so the caller recomputes against the
    // winner's rows — a blind retry would land rows probed against a
    // stale base (e.g. a doc the winner just committed, twice)
    val r = root()
    // None base on an empty store seeds version 0
    assert(AtomicStore.commitAppendIfUnchanged(tags("a" -> "1"), r, None)
      === Some(0L))
    // correct base appends and bumps
    assert(AtomicStore.commitAppendIfUnchanged(tags("b" -> "2"), r, Some(0L))
      === Some(1L))
    assert(AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
      === Set("a" -> "1", "b" -> "2"))
    def dataDirs(): Int =
      new java.io.File(r, "data").listFiles().count(_.isDirectory)
    val before = dataDirs()
    // stale base (the early-out) → None, table and data dir census intact
    assert(AtomicStore.commitAppendIfUnchanged(tags("c" -> "3"), r, Some(0L))
      .isEmpty)
    assert(dataDirs() === before)
    // and the refused call left the committed state readable and intact
    assert(AtomicStore.currentVersion(spark, r) === Some(1L))
    assert(AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
      === Set("a" -> "1", "b" -> "2"))
    // The OTHER loser branch — version moves between the early-out check
    // and the publish rename — cannot be sequenced deterministically from
    // outside (the early-out always fires once the version is visible);
    // IngestRaceSpec's two racing writers exercise it for real and the
    // dense-version + one-row-per-fingerprint asserts prove both the CAS
    // refusal and the loser's recompute happened.
  }

  test("CAS snapshot commit refuses a stale base; merge retry converges") {
    val r = root()
    AtomicStore.commitSnapshot(tags("a" -> "1"), r)             // v0
    val base = AtomicStore.currentVersion(spark, r)              // Some(0)
    // a racing writer lands first
    AtomicStore.commitSnapshot(tags("a" -> "1", "b" -> "2"), r)  // v1
    // publishing state computed against the stale base must FAIL —
    // the blind version-bump would have dropped b's row
    assert(AtomicStore.commitSnapshotIfUnchanged(
      tags("a" -> "99"), r, base).isEmpty)
    // the supported retry — re-read the winner's state, re-merge, CAS
    // at the new base — keeps every concurrent update
    val now = AtomicStore.currentVersion(spark, r)
    assert(AtomicStore.commitSnapshotIfUnchanged(
      TagStore.applyWithDeletes(AtomicStore.read(spark, r), tags("a" -> "99")),
      r, now) === Some(2L))
    assert(state(AtomicStore.read(spark, r)) === Set("a" -> "99", "b" -> "2"))
  }

  test("crash-mid-MERGE: tag store stays at the pre-merge state") {
    val r = root()
    val seed = tags("a" -> "1", "b" -> "2")
    TagFamilyStore.commitJob(spark, r, seed, hist(seed))
    // the merge's tag batch publishes, then the writer dies before the
    // cut publish
    val next = tags("a" -> "99")
    TagFamilyStore.setTestMidJobHook(r, stage =>
      if (stage == "tags") throw new RuntimeException("injected crash"))
    try intercept[RuntimeException](
      TagFamilyStore.commitJob(spark, r, next, hist(next)))
    finally TagFamilyStore.clearTestMidJobHook(r)
    assert(state(TagFamilyStore.readTags(spark, r)) ===
      Set("a" -> "1", "b" -> "2"))
    // rerunning the merge (the reference's retry story) converges
    TagFamilyStore.commitJob(spark, r, next, hist(next))
    assert(state(TagFamilyStore.readTags(spark, r)) ===
      Set("a" -> "99", "b" -> "2"))
  }

  test("delta-log merge == snapshot merge replay; bytes scale with batch") {
    val r = root()
    // a merge sequence exercising upsert, field-partial update, delete,
    // and post-delete resurrection
    val batches = Seq(
      tags("a" -> "1", "b" -> "2"),
      tags("a" -> "9"),            // update a, b untouched
      tags("b" -> ""),             // all-empty instance → delete b
      tags("b" -> "back", "c" -> "3")) // resurrect b, insert c
    batches.foreach(b => TagFamilyStore.commitJob(spark, r, b, hist(b)))
    // the snapshot replay: applyWithDeletes folded in memory, in order
    val snap = state(batches.foldLeft(tags())(TagStore.applyWithDeletes))
    assert(snap === Set("a" -> "9", "b" -> "back", "c" -> "3"))
    assert(state(TagFamilyStore.readTags(spark, r)) === snap)
    // append path: one batch dir per job, every prior batch in place
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$r/tags", "data")).length === 4)
    // compaction folds the served log to one batch, state unchanged
    TagFamilyStore.compact(spark, r, graceMs = 0L)
    val tagsPin = StoreCut.cut(spark, r).get(TagFamilyStore.TagsPart)
    assert(AtomicStore.filesAt(spark, s"$r/tags", tagsPin).size === 1)
    assert(state(TagFamilyStore.readTags(spark, r)) === snap)
    // idempotent: an already-folded store skips the full-table rewrite —
    // no cut advanced on a quiet maintenance tick
    val cutBefore = TagFamilyStore.currentCutVersion(spark, r)
    TagFamilyStore.compact(spark, r, graceMs = 0L)
    assert(TagFamilyStore.currentCutVersion(spark, r) === cutBefore)
    assert(state(TagFamilyStore.readTags(spark, r)) === snap)
  }

  test("read merges schemas across append batches (columns never vanish)") {
    // commitAppend imposes no schema check, so later waves may carry
    // columns earlier batches lack; a sampled-footer read would drop
    // them nondeterministically (and results would FLIP after compact,
    // whose fold merges schemas)
    import spark.implicits._
    val r = root()
    AtomicStore.commitAppend(Seq((1L, "a")).toDF("id", "x"), r)
    AtomicStore.commitAppend(Seq((2L, "b", "new")).toDF("id", "x", "y"), r)
    val got = AtomicStore.read(spark, r)
    assert(got.columns.toSet === Set("id", "x", "y"))
    assert(got.filter(col("y").isNotNull).count() === 1)
    // and the fold sees the same merged schema (the documented parity)
    AtomicStore.compact(spark, r, keepVersions = 1, graceMs = 0L)
    assert(AtomicStore.read(spark, r).columns.toSet === Set("id", "x", "y"))
  }

  test("same-schema chain reads skip the schema-merge job, schema/rows exact") {
    import spark.implicits._
    val r = root()
    AtomicStore.commitAppend(Seq((1L, "a")).toDF("id", "x"), r)
    AtomicStore.commitAppend(Seq((2L, "b")).toDF("id", "x"), r)
    val v = AtomicStore.currentVersion(spark, r).get
    val files = AtomicStore.filesAt(spark, r, v)
    val reference = spark.read.option("mergeSchema", "true")
      .parquet(files: _*)
    val got = AtomicStore.read(spark, r)
    // explicit-schema path must be invisible: same schema (nullability
    // included), same rows as the stock mergeSchema read
    assert(got.schema === reference.schema)
    assert(got.as[(Long, String)].collect().sorted ===
      reference.as[(Long, String)].collect().sorted)
    // and resolving the frame costs NO Spark job (the whole point):
    // schema comes from the driver-side footer cache, not a
    // mergeSchemasInParallel job
    val (_, work) = graft.obs.SparkWork.during(spark) {
      AtomicStore.read(spark, r).schema // resolve only, no action
    }
    assert(work.jobs === 0,
      "resolving a same-schema chain must not launch a schema-merge job")
  }

  test("vacuum keeps superseded manifest NAMES claimed for the grace window") {
    // the manifest name is the CAS claim publish() checks: if vacuum
    // freed it immediately on supersession, a writer that resolved its
    // base before the vacuum could re-publish the freed version name,
    // win the fail-if-exists race, and report a commit that sits
    // invisibly below latest — silent loss. Within the grace window the
    // stale publish must LOSE.
    val r = root()
    AtomicStore.commitAppend(tags("a" -> "1"), r) // v0
    // a zombie writer resolves base = v0 HERE, then stalls
    AtomicStore.commitAppend(tags("b" -> "2"), r) // v1
    AtomicStore.commitAppend(tags("c" -> "3"), r) // v2
    AtomicStore.vacuum(spark, r, keepVersions = 1) // default grace
    // the zombie wakes and publishes base+1 = v1: the name must still be
    // claimed (superseded < grace ago), so the CAS correctly loses
    assert(!AtomicStore.publish(spark, r, Seq("zombie"), 1L),
      "superseded manifest name must stay claimed within the grace window")
    assert(AtomicStore.currentVersion(spark, r) === Some(2L))
    assert(AtomicStore.read(spark, r).count() === 3)
    // past the grace window the name is reclaimable — a writer stalled
    // that long is outside the store's staleness contract (same bound as
    // the data-dir grace imposes on readers)
    AtomicStore.vacuum(spark, r, keepVersions = 1, graceMs = 0L)
    assert(AtomicStore.publish(spark, r, Seq("zombie"), 1L),
      "past the grace window the name is free again")
    assert(AtomicStore.currentVersion(spark, r) === Some(2L))
  }

  test("compact folds an append-only store to one data dir, rows exact") {
    // the steady-state maintenance of the persisted index/ingest stores:
    // every wave leaves one manifest + one small batch dir, compact folds
    // them back so probe cost stays flat in wave count
    val r = root()
    (0 until 5).foreach(i => AtomicStore.commitAppend(tags(s"a$i" -> s"$i"), r))
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(r, "data")).length
    def manifests = fs.listStatus(new org.apache.hadoop.fs.Path(r, "_commits")).length
    assert(dataDirs === 5 && manifests === 5)
    def state() = AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
    val before = state()
    assert(AtomicStore.compact(spark, r, keepVersions = 1, graceMs = 0L)
      === Some(5L))
    assert(state() === before) // fold is exactly row-preserving
    assert(dataDirs === 1 && manifests === 1)
    // idempotent: one data dir means nothing to fold — no version burned
    assert(AtomicStore.compact(spark, r, keepVersions = 1, graceMs = 0L).isEmpty)
    assert(AtomicStore.currentVersion(spark, r) === Some(5L))
    // the folded store keeps appending normally
    AtomicStore.commitAppend(tags("z" -> "9"), r)
    assert(state() === before + ("z" -> "9"))
  }

  test("compact preserves columns only some appended batches carry (mergeSchema fold)") {
    // commitAppend imposes no schema check, so a later wave may add a
    // column; a sampled-file fold schema would rewrite the store WITHOUT
    // it — silent, irreversible loss the fold must be immune to
    val r = root()
    AtomicStore.commitAppend(Seq(("a", "1")).toDF("k", "v"), r)
    AtomicStore.commitAppend(
      Seq(("b", "2", "fr")).toDF("k", "v", "lang"), r) // evolved wave
    assert(AtomicStore.compact(spark, r, keepVersions = 1, graceMs = 0L)
      .isDefined)
    val got = AtomicStore.read(spark, r)
    assert(got.columns.sorted.toSeq === Seq("k", "lang", "v"))
    assert(got.select("k", "v", "lang").as[(String, String, Option[String])]
      .collect().toSet === Set(("a", "1", None), ("b", "2", Some("fr"))))
  }

  test("deterministic publish-race: the CAS append loser returns None, reclaims its dir, winner intact") {
    // IngestRaceSpec reaches this branch stochastically; the pre-publish
    // hook sequences it exactly — a winner commits between the loser's
    // base check and its manifest rename
    val r = root()
    assert(AtomicStore.commitAppendIfUnchanged(tags("a" -> "1"), r, None)
      === Some(0L))
    val base = AtomicStore.currentVersion(spark, r) // Some(0)
    def dataDirs(): Int =
      new java.io.File(r, "data").listFiles().count(_.isDirectory)
    var fired = false
    AtomicStore.testPrePublishHook = () => if (!fired) {
      fired = true
      AtomicStore.commitAppend(tags("w" -> "win"), r) // the racing winner
    }
    val res =
      try AtomicStore.commitAppendIfUnchanged(tags("l" -> "lose"), r, base)
      finally AtomicStore.testPrePublishHook = () => ()
    assert(fired, "hook must have fired past the early-out base check")
    assert(res.isEmpty, "loser must refuse, not blind-bump")
    // winner's state intact at v1; loser's rows absent; loser's
    // materialized batch dir reclaimed (v0 batch + winner batch only)
    assert(AtomicStore.currentVersion(spark, r) === Some(1L))
    assert(AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
      === Set("a" -> "1", "w" -> "win"))
    assert(dataDirs() === 2)
    // the loser's recompute-against-new-state retry (the ingest
    // discipline) lands cleanly
    assert(AtomicStore.commitAppendIfUnchanged(tags("l" -> "lose"), r,
      Some(1L)) === Some(2L))
    assert(AtomicStore.read(spark, r).count() === 3)
  }

  test("deterministic publish-race: the CAS snapshot loser reclaims and leaves the winner's merge intact") {
    val r = root()
    AtomicStore.commitSnapshot(tags("a" -> "1"), r) // v0
    val base = AtomicStore.currentVersion(spark, r)
    def dataDirs(): Int =
      new java.io.File(r, "data").listFiles().count(_.isDirectory)
    var fired = false
    AtomicStore.testPrePublishHook = () => if (!fired) {
      fired = true
      AtomicStore.commitSnapshot(tags("a" -> "1", "b" -> "2"), r)
    }
    val res =
      try AtomicStore.commitSnapshotIfUnchanged(tags("a" -> "99"), r, base)
      finally AtomicStore.testPrePublishHook = () => ()
    assert(fired && res.isEmpty)
    assert(dataDirs() === 2) // v0 + winner; the loser's snapshot reclaimed
    assert(AtomicStore.read(spark, r)
      .select("asset_uri", "field_value").as[(String, String)].collect().toSet
      === Set("a" -> "1", "b" -> "2"))
  }

  test("compact under sustained append pressure gives up without corrupting") {
    // opportunistic-maintenance contract: a co-writer winning every CAS
    // round must starve the compactor into None — never livelock, never
    // lose a row, never burn a version on a stale fold
    val r = root()
    (0 until 3).foreach(i => AtomicStore.commitAppend(tags(s"a$i" -> s"$i"), r))
    var appended = 0
    AtomicStore.testPrePublishHook = () => {
      // fires inside the compactor's CAS commit only (blind appends skip
      // the hook), so every fold attempt loses to a fresh append
      appended += 1
      AtomicStore.commitAppend(tags(s"p$appended" -> "x"), r)
    }
    val res =
      try AtomicStore.compact(spark, r, graceMs = 0L, maxAttempts = 3)
      finally AtomicStore.testPrePublishHook = () => ()
    assert(res.isEmpty, "starved compactor must give up, not loop")
    assert(appended === 3)
    // every append — original and racing — survived
    assert(AtomicStore.read(spark, r).count() === 6)
    // with the pressure gone the fold lands
    assert(AtomicStore.compact(spark, r, keepVersions = 1, graceMs = 0L)
      .isDefined)
    assert(AtomicStore.read(spark, r).count() === 6)
    assert(new java.io.File(r, "data").listFiles().count(_.isDirectory) === 1)
  }

  test("atomic history append accumulates batches") {
    val r = root()
    val rows = Seq(("2024-03-01 10:00:00", "p/dataset/lake/table/t1", "j1"))
      .toDF("event_time_s", "asset_name", "job_uuid")
      .select(to_timestamp(col("event_time_s")).as("event_time"),
        col("asset_name"), col("job_uuid"))
    TagFamilyStore.commitJob(spark, r, tags("t1" -> "1"), rows)
    TagFamilyStore.commitJob(spark, r, tags("t1" -> "2"),
      rows.withColumn("job_uuid", lit("j2")))
    val got = TagFamilyStore.readHistory(spark, r)
    assert(got.count() === 2)
    assert(got.columns.contains("event_date"))
  }

  // -------------------------------------------------------------- leases

  private def leaseFs(p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private type Busy = java.util.ConcurrentModificationException

  test("lease lifecycle: live blocks, release frees, a crashed holder breaks after TTL") {
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    val l1 = AtomicStore.claimLease(spark, lp, ttlMs = 60000L, "t")
    assert(AtomicStore.leaseHeld(spark, lp))
    intercept[Busy] { AtomicStore.claimLease(spark, lp, 60000L, "t") }
    AtomicStore.releaseLease(spark, l1)
    assert(!AtomicStore.leaseHeld(spark, lp))
    // re-claim after release works; the crashed-holder path breaks
    val l2 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    fs.setTimes(l2, System.currentTimeMillis() - 120000L, -1L)
    assert(!AtomicStore.leaseHeld(spark, lp))
    val l3 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    assert(fs.exists(l3))
    assert(!fs.exists(l2), "superseded crashed epoch must be GC'd")
    assert(AtomicStore.leaseHeld(spark, lp))
    AtomicStore.releaseLease(spark, l3)
  }

  test("lease: two coincident claimants breaking the same stale lease — exactly one wins") {
    // the round-14 delete-then-create hole: both claimants stat the same
    // crashed lease, interleave so the second breaker's delete removes
    // the first's FRESH lease, and both proceed. Force the coincidence
    // through a barrier, many rounds; the epoch-CAS protocol must pick
    // exactly one winner every time.
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    (1 to 25).foreach { round =>
      val crashed =
        AtomicStore.claimLease(spark, lp, ttlMs = 1000L, s"crashed $round")
      fs.setTimes(crashed, System.currentTimeMillis() - 600000L, -1L)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.hadoop.fs.Path]()
      val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map { t =>
        new Thread(() => {
          barrier.await()
          try wins.add(
            AtomicStore.claimLease(spark, lp, ttlMs = 60000L, s"claimant $t"))
          catch {
            case _: Busy => ()
            case other: Throwable => unexpected.add(other)
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(unexpected.isEmpty, s"round $round: ${Option(unexpected.peek())}")
      assert(wins.size === 1, s"round $round: exactly one claimant must win")
      assert(AtomicStore.leaseHeld(spark, lp), s"round $round: winner live")
      AtomicStore.releaseLease(spark, wins.poll())
    }
  }

  test("lease: claim/release soak under contention never overlaps two holders") {
    val lp = s"${root()}/.lease"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { t =>
      new Thread(() => {
        (1 to 30).foreach { _ =>
          try {
            val l = AtomicStore.claimLease(spark, lp, 60000L, s"soak $t")
            if (inside.incrementAndGet() > 1) overlaps.incrementAndGet()
            acquired.incrementAndGet()
            Thread.sleep(1)
            inside.decrementAndGet()
            AtomicStore.releaseLease(spark, l)
          } catch {
            case _: Busy => Thread.sleep(1)
            case other: Throwable => unexpected.add(other)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(unexpected.isEmpty, s"claimant failed: ${Option(unexpected.peek())}")
    assert(overlaps.get === 0, "two holders overlapped inside the lease")
    assert(acquired.get >= 20,
      s"soak only acquired ${acquired.get} times — not enough contention proof")
  }

  test("lease: staleness honors the HOLDER's persisted TTL, not the checker's") {
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    // a long retrain claims with a 60-minute TTL…
    val l = AtomicStore.claimLease(spark, lp,
      ttlMs = 60 * 60 * 1000L, "long retrain")
    // …and at +20 minutes (past every DEFAULT deadline) it still holds:
    // checkers must read the TTL out of the lease file, not assume one
    fs.setTimes(l, System.currentTimeMillis() - 20 * 60 * 1000L, -1L)
    assert(AtomicStore.leaseHeld(spark, lp),
      "default-TTL checker must honor the holder's persisted 60-min TTL")
    intercept[Busy] {
      AtomicStore.claimLease(spark, lp, ttlMs = 1000L, "impatient claimant")
    }
    // past the holder's OWN deadline it is crash residue for everyone
    fs.setTimes(l, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1L)
    assert(!AtomicStore.leaseHeld(spark, lp))
    val l2 = AtomicStore.claimLease(spark, lp, ttlMs = 1000L, "breaker")
    AtomicStore.releaseLease(spark, l2)
  }

  test("lease: crash-mix stress — abandoned holders break by TTL, never two inside") {
    // the soak covers claim/release; this mixes CRASHES in: a holder
    // sometimes abandons without releasing, and later claimants must
    // break it by TTL — the break path under live contention. Holders
    // finish in ≤5 ms against a 500 ms TTL, so any overlap is a protocol
    // bug, never an expired-but-running holder (the excluded contract
    // violation).
    val lp = s"${root()}/.lease"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
    val crashed = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(100L + t)
        try (1 to 8).foreach { _ =>
          // retry-until-acquired: a crashed predecessor blocks everyone
          // for its 500 ms TTL, which must stall throughput, never
          // correctness
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          var l: org.apache.hadoop.fs.Path = null
          while (l == null) {
            try l = AtomicStore.claimLease(spark, lp, ttlMs = 500L, s"crash $t")
            catch {
              case _: java.util.ConcurrentModificationException
                  if System.nanoTime() < deadline => Thread.sleep(25)
            }
          }
          if (inside.incrementAndGet() > 1) overlaps.incrementAndGet()
          acquired.incrementAndGet()
          Thread.sleep(1 + rnd.nextInt(4))
          inside.decrementAndGet()
          if (rnd.nextInt(10) == 0) crashed.incrementAndGet() // abandon
          else AtomicStore.releaseLease(spark, l)
        } catch { case other: Throwable => unexpected.add(other) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(unexpected.isEmpty, s"claimant failed: ${Option(unexpected.peek())}")
    assert(overlaps.get === 0, "two holders overlapped inside the lease")
    assert(acquired.get === 32, s"every op must eventually acquire " +
      s"(got ${acquired.get}, crashes=${crashed.get})")
  }

  test("lease: crash-residue states resolve safely") {
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    // 1) marker-only residue: a GC that deleted the epoch file and
    // crashed before its marker leaves {r<n>} — a pure number witness,
    // never a holder
    val l1 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    AtomicStore.releaseLease(spark, l1)
    fs.delete(l1, false) // surgically simulate the GC's first delete
    assert(!AtomicStore.leaseHeld(spark, lp), "marker-only is not held")
    val l2 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    assert(l2.getName === "e2", s"witness must keep numbers monotone: $l2")
    // 2) a FRESH unmarked epoch file BELOW a released higher claim — a
    // claimant that crashed between its create and its verify back-out.
    // It never held (its verify would busy), so claims proceed past it.
    val low = new org.apache.hadoop.fs.Path(l2.getParent, "e1")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      fs.makeQualified(low).toUri))
    assert(AtomicStore.leaseHeld(spark, lp), "l2 still holds")
    AtomicStore.releaseLease(spark, l2)
    assert(!AtomicStore.leaseHeld(spark, lp),
      "a stale-numbered crash residue below the released top is not a holder")
    val l3 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    assert(l3.getName === "e3")
    assert(!fs.exists(low), "the residue is GC'd by the next claim")
    AtomicStore.releaseLease(spark, l3)
  }

  test("lease: an epoch file without a ttl_ms line counts with the default TTL on both sides; release takes only epoch paths") {
    // claimLease always persists its TTL; a stub epoch file (crash
    // residue, never a claimLease product) carries none. Checker and
    // claimant must agree on its deadline: the protocol default, never
    // the claimant's own (shorter) TTL.
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    val stub = new org.apache.hadoop.fs.Path(s"$lp.d", "e1")
    fs.create(stub, false).close()
    fs.setTimes(stub, System.currentTimeMillis() - 10 * 60 * 1000L, -1L)
    assert(AtomicStore.leaseHeld(spark, lp))
    intercept[Busy] {
      AtomicStore.claimLease(spark, lp, ttlMs = 1000L, "impatient claimant")
    }
    fs.setTimes(stub, System.currentTimeMillis() -
      AtomicStore.DefaultLeaseTtlMs - 60000L, -1L)
    assert(!AtomicStore.leaseHeld(spark, lp))
    val l = AtomicStore.claimLease(spark, lp, ttlMs = 60000L, "t")
    assert(l.getName === "e2")
    assert(!fs.exists(stub), "the superseded stub is GC'd")
    // nothing at the logical path itself is a lease: release refuses it
    intercept[IllegalArgumentException] {
      AtomicStore.releaseLease(spark, new org.apache.hadoop.fs.Path(lp))
    }
    assert(AtomicStore.leaseHeld(spark, lp))
    AtomicStore.releaseLease(spark, l)
    assert(!AtomicStore.leaseHeld(spark, lp))
  }

  test("lease GC sweeps aged .tmp_ orphans, never a fresh mid-flight tmp") {
    // a claimant crashing between its temp create and the link leaves
    // `.tmp_<uuid>` in lease.d/ — invisible to the protocol (leaseFiles
    // ignores it) but eroding the bounded-listing cost forever. The next
    // successful claim's GC must sweep it, age-gated so a CONCURRENT
    // claimant's seconds-old tmp is never stolen out of its create→link
    // window.
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    val l1 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    AtomicStore.releaseLease(spark, l1)
    val dir = l1.getParent
    val aged = new org.apache.hadoop.fs.Path(dir, ".tmp_aged_crash_residue")
    val fresh = new org.apache.hadoop.fs.Path(dir, ".tmp_midflight_claimant")
    Seq(aged, fresh).foreach(p => fs.create(p, false).close())
    fs.setTimes(aged, System.currentTimeMillis() - 20 * 60 * 1000L, -1L)
    val l2 = AtomicStore.claimLease(spark, lp, 60000L, "t")
    assert(!fs.exists(aged), "aged tmp residue must be swept by the claim GC")
    assert(fs.exists(fresh), "a fresh tmp must NEVER be swept — it may be " +
      "a live claimant mid create→link")
    // residue never affects protocol semantics either way
    assert(AtomicStore.leaseHeld(spark, lp))
    AtomicStore.releaseLease(spark, l2)
    fs.delete(fresh, false)
  }

  test("vacuum sweeps aged .tmp_ manifest orphans, never a fresh in-flight one") {
    // a publisher crashing between its tmp create and the rename/link
    // leaves .tmp_<uuid> in _commits/ — versionOf ignores it, so without
    // the sweep it grows every currentVersion listing forever
    val r = root()
    AtomicStore.commitSnapshot(tags("a" -> "1"), r)
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(r, "_commits")
    val aged = new org.apache.hadoop.fs.Path(commits, ".tmp_aged_publish")
    val fresh = new org.apache.hadoop.fs.Path(commits, ".tmp_inflight_publish")
    Seq(aged, fresh).foreach(p => fs.create(p, false).close())
    fs.setTimes(aged, System.currentTimeMillis() - 20 * 60 * 1000L, -1L)
    AtomicStore.vacuum(spark, r) // default 15-min grace
    assert(!fs.exists(aged), "aged publish tmp must be swept")
    assert(fs.exists(fresh), "a fresh tmp may be a publish in flight")
    // protocol state untouched
    assert(AtomicStore.currentVersion(spark, r) === Some(0L))
    fs.delete(fresh, false)
  }

  test("a claimant whose tmp was swept mid-claim gets the busy signal, not a raw IO error") {
    // the stalled-claimant state: a VM pause longer than the staleness
    // contract between tmp create and link lets a later claim's GC sweep
    // the tmp. The resumed claimant holds nothing — it must surface the
    // protocol's retryable ConcurrentModificationException (what every
    // caller's retry loop handles), never a NoSuchFileException.
    val lp = s"${root()}/.lease"
    val fs = leaseFs(lp)
    AtomicStore.testPreClaimLinkHook = tmp => {
      AtomicStore.testPreClaimLinkHook = _ => ()
      fs.delete(tmp, false) // the sweep, surgically
    }
    try intercept[Busy] { AtomicStore.claimLease(spark, lp, 60000L, "t") }
    finally AtomicStore.testPreClaimLinkHook = _ => ()
    // the lease is unheld and the next claim proceeds normally
    assert(!AtomicStore.leaseHeld(spark, lp))
    val l = AtomicStore.claimLease(spark, lp, 60000L, "t")
    AtomicStore.releaseLease(spark, l)
  }

  // ---- KV-cut flavor (the store-level manifest primitive, round 17)

  test("kv cut: advance max-merges per key, reads round-trip, and old cuts stay readable") {
    val r = s"${root()}/manifest"
    assert(AtomicStore.readKv(spark, r).isEmpty)
    val v0 = AtomicStore.advanceKv(spark, r, Map("a" -> 3L, "b" -> 1L))
    assert(v0 === 0L)
    assert(AtomicStore.readKv(spark, r) === Some((0L, Map("a" -> 3L, "b" -> 1L))))
    // monotone: a lower pin never regresses a key; a fresh key merges in
    val v1 = AtomicStore.advanceKv(spark, r, Map("a" -> 2L, "c" -> 7L))
    assert(v1 === 1L)
    assert(AtomicStore.readKv(spark, r) ===
      Some((1L, Map("a" -> 3L, "b" -> 1L, "c" -> 7L))))
    // a fully-subsumed advance is a no-op returning the current cut
    assert(AtomicStore.advanceKv(spark, r, Map("a" -> 1L)) === 1L)
    assert(AtomicStore.readKv(spark, r).map(_._1) === Some(1L))
    // time travel: the superseded cut is still resolvable by version
    assert(AtomicStore.readKvAt(spark, r, 0L) === Map("a" -> 3L, "b" -> 1L))
    // malformed keys refuse loudly instead of corrupting the line format
    intercept[IllegalArgumentException] {
      AtomicStore.advanceKv(spark, r, Map("x=y" -> 1L))
    }
  }

  test("kv cut: concurrent advancers never lose a key (CAS merge loop)") {
    val r = s"${root()}/manifest_race"
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        try (0 until 6).foreach { i =>
          AtomicStore.advanceKv(spark, r, Map(s"k$t" -> i.toLong))
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"advancer failed: ${Option(failures.peek())}")
    // every thread's final pin survives whatever interleaving happened
    assert(AtomicStore.readKv(spark, r).map(_._2) ===
      Some((0 until 4).map(t => s"k$t" -> 5L).toMap))
    // and vacuum prunes old cut files without touching the current one
    AtomicStore.vacuum(spark, r, keepVersions = 2, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(r, "_commits"))
      .map(_.getPath.getName).filter(_.startsWith("v"))
    assert(left.length === 2, s"cut manifests not pruned: ${left.toSeq}")
    assert(AtomicStore.readKv(spark, r).map(_._2) ===
      Some((0 until 4).map(t => s"k$t" -> 5L).toMap))
  }

  test("kv cut: a malformed cut line fails loudly — never parses to 'key absent'") {
    // a dropped key would make pinned readers silently fall back to the
    // table's current version: exactly the mixed-cut read the manifest
    // exists to make unrepresentable. Corrupt line → loud, named error.
    val r = s"${root()}/manifest_corrupt"
    AtomicStore.advanceKv(spark, r, Map("a" -> 1L))
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a torn write / bit rot lands a half-line in the NEXT cut version
    val bad = new org.apache.hadoop.fs.Path(s"$r/_commits",
      "v" + "0" * 19 + "1")
    val out = fs.create(bad, false)
    try out.write("a=2\nb=notanumber\n".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      AtomicStore.readKvAt(spark, r, 1L)
    }
    assert(e.getMessage.contains("malformed cut line"), e.getMessage)
    // the intact older cut stays readable
    assert(AtomicStore.readKvAt(spark, r, 0L) === Map("a" -> 1L))
  }

  test("vacuum keepFloor is an ABSOLUTE retention floor, immune to where the window lands") {
    // the fold-retention race: a cut-governed fold computes its keep
    // budget from the version it resolved, but its CAS can retry past
    // racing appenders and land higher — a keep-N window counted from
    // the fold then excludes the still-pinned version. The floor is
    // absolute: version >= floor stays readable no matter what
    // keepVersions says.
    val r = root()
    (0 to 5).foreach(i => AtomicStore.commitAppend(tags(s"a$i" -> "1"), r))
    AtomicStore.vacuum(spark, r, keepVersions = 1, graceMs = 0L,
      keepFloor = Some(2L))
    // v2..v5 stay readable; v0/v1 are reclaimed
    assert(AtomicStore.readAt(spark, r, 2L).count() === 3L)
    assert(AtomicStore.readAt(spark, r, 5L).count() === 6L)
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(r, "_commits"))
      .map(_.getPath.getName).filter(_.startsWith("v")).sorted
    assert(manifests.length === 4, manifests.toSeq)
  }

  test("vacuum anchors a dir's grace at the death of its LAST reference, not its write time") {
    // a dir written hours ago whose last referencing manifest dies NOW
    // must get a fresh grace window — a reader that resolved that
    // manifest moments before its deletion is still mid-scan. The
    // manifest pass touches newly-unreferenced dirs before deleting the
    // manifest; the dir pass then sees a fresh mtime. (graceMs == 0
    // remains the explicit immediate-reclaim mode.)
    val r = root()
    AtomicStore.commitSnapshot(tags("a" -> "1"), r)   // v0 → dir A
    AtomicStore.commitSnapshot(tags("b" -> "2"), r)   // v1 → dir B
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataDirs = fs.listStatus(
      new org.apache.hadoop.fs.Path(r, "data")).map(_.getPath)
    // age EVERYTHING (dirs + manifests) far past any grace window —
    // the write-time-anchored rule would now reclaim dir A instantly
    dataDirs.foreach(p => fs.setTimes(p, 1000L, -1L))
    fs.listStatus(new org.apache.hadoop.fs.Path(r, "_commits"))
      .foreach(s => fs.setTimes(s.getPath, 1000L, -1L))
    AtomicStore.vacuum(spark, r, keepVersions = 1, graceMs = 60000L)
    // v0's manifest died (superseded long ago), but dir A survives on a
    // FRESH grace clock
    assert(!fs.exists(new org.apache.hadoop.fs.Path(r,
      "_commits/v" + "0" * 20)), "v0 manifest should be reclaimed")
    assert(dataDirs.length === 2,
      "the just-unreferenced dir must get a fresh grace window")
    // once that window passes (simulated), the next vacuum reclaims it
    dataDirs.foreach(p => fs.setTimes(p, 1000L, -1L))
    AtomicStore.vacuum(spark, r, keepVersions = 1, graceMs = 60000L)
    assert(dataDirs.length === 1, "aged-out unreferenced dir reclaimed")
    assert(AtomicStore.read(spark, r)
      .select("field_value").as[String].collect().toSeq === Seq("2"))
  }

  test("vacuum sweeps aged publish tmps even on a store with ZERO committed versions") {
    // a store whose publishes all crashed before their CAS is tmp
    // residue with no committed version — exactly the store that needs
    // the sweep, and the one a latest-version-gated sweep never reaches
    val r = root()
    val fs = new org.apache.hadoop.fs.Path(r).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(r, "_commits")
    fs.mkdirs(commits)
    val orphan = new org.apache.hadoop.fs.Path(commits, ".tmp_crashed")
    fs.create(orphan, false).close()
    assert(AtomicStore.currentVersion(spark, r).isEmpty)
    AtomicStore.vacuum(spark, r, keepVersions = 1, graceMs = 0L)
    assert(!fs.exists(orphan), "aged tmp orphan must be swept")
  }

  test("lease: one property iteration under SlowFs object-store latency") {
    // the randomized claim/release/crash/age property above runs on the
    // instant local FS; LeaseSlowRace runs FIXED scenarios under
    // latency. This merges the two strongest tools: one randomized
    // iteration where every list/stat/open pays 25 ms, widening the
    // claim protocol's list→create→verify windows ~3 orders of
    // magnitude. Engaged by swapping the `file` scheme implementation
    // for the suite-shared session (restored in finally; suites run
    // sequentially in the forked test JVM).
    val conf = spark.sparkContext.hadoopConfiguration
    val prevImpl = conf.get("fs.file.impl", "")
    val lp = s"${root()}/.lease_slowfs_prop"
    try {
      conf.set("fs.file.impl", classOf[graft.tools.SlowFs].getName)
      org.apache.hadoop.fs.FileSystem.closeAll()
      val fs = new org.apache.hadoop.fs.Path(lp).getFileSystem(conf)
      assert(fs.isInstanceOf[graft.tools.SlowFs],
        s"SlowFs not engaged: ${fs.getClass}")
      graft.tools.SlowFs.opLatencyMs = 25L
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
      val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
      val unexpected =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val seed = 31L
      val threads = (1 to 4).map { t =>
        new Thread(() => {
          val rnd = new scala.util.Random(seed * 100 + t)
          try (1 to 2).foreach { _ =>
            val ttl = 2000L + rnd.nextInt(3) * 1000L
            val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
            var l: org.apache.hadoop.fs.Path = null
            while (l == null) {
              try l = AtomicStore.claimLease(spark, lp, ttl, s"slow $t")
              catch {
                case _: Busy if System.nanoTime() < deadline =>
                  Thread.sleep(25 + rnd.nextInt(50))
              }
            }
            if (inside.incrementAndGet() > 1) overlaps.incrementAndGet()
            acquired.incrementAndGet()
            Thread.sleep(rnd.nextInt(10))
            inside.decrementAndGet()
            rnd.nextInt(6) match {
              case 0 => () // crash: abandon — later claimants break by TTL
              case 1 =>    // crash LONG ago: age own file past its TTL
                fs.setTimes(l, System.currentTimeMillis() - 600000L, -1L)
              case _ => AtomicStore.releaseLease(spark, l)
            }
          } catch { case other: Throwable => unexpected.add(other) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      assert(unexpected.isEmpty,
        s"claimant failed under SlowFs: ${Option(unexpected.peek())}")
      assert(overlaps.get === 0, "two holders overlapped under SlowFs")
      assert(acquired.get === 8,
        s"every op must eventually acquire under SlowFs (got ${acquired.get})")
    } finally {
      graft.tools.SlowFs.opLatencyMs = 0L
      if (prevImpl.isEmpty) conf.unset("fs.file.impl")
      else conf.set("fs.file.impl", prevImpl)
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
  }

  test("lease: randomized claim/release/crash/age traces never overlap holders (property)") {
    // the hand-picked crash states each have a spec; this searches for
    // states nobody thought of: 4 threads each run a random program of
    // {claim, hold, release | abandon | abandon-and-age} with randomized
    // hold times and backoffs, across fixed seeds. Invariants: never two
    // holders inside, and the protocol always recovers (every op
    // eventually acquires — an abandoned holder blocks for its TTL at
    // most, an aged one not at all).
    Seq(11L, 29L, 47L).foreach { seed =>
      val lp = s"${root()}/.lease_fuzz_$seed"
      val fs = leaseFs(lp)
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
      val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
      val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 4).map { t =>
        new Thread(() => {
          val rnd = new scala.util.Random(seed * 100 + t)
          try (1 to 6).foreach { _ =>
            val ttl = 500L + rnd.nextInt(3) * 250L
            val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
            var l: org.apache.hadoop.fs.Path = null
            while (l == null) {
              try l = AtomicStore.claimLease(spark, lp, ttl, s"fuzz $t")
              catch {
                case _: Busy if System.nanoTime() < deadline =>
                  Thread.sleep(1 + rnd.nextInt(10))
              }
            }
            if (inside.incrementAndGet() > 1) overlaps.incrementAndGet()
            acquired.incrementAndGet()
            if (rnd.nextBoolean()) Thread.sleep(rnd.nextInt(3))
            inside.decrementAndGet()
            rnd.nextInt(6) match {
              case 0 => () // crash: abandon — later claimants break by TTL
              case 1 =>    // crash LONG ago: age own file past its TTL
                fs.setTimes(l, System.currentTimeMillis() - 600000L, -1L)
              case _ => AtomicStore.releaseLease(spark, l)
            }
          } catch { case other: Throwable => unexpected.add(other) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      assert(unexpected.isEmpty,
        s"seed $seed: claimant failed: ${Option(unexpected.peek())}")
      assert(overlaps.get === 0, s"seed $seed: two holders overlapped")
      assert(acquired.get === 24,
        s"seed $seed: every op must eventually acquire (got ${acquired.get})")
    }
  }
}
