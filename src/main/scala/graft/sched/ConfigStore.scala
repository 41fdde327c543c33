package graft.sched

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent config store (SURVEY.md §2 A14;
  * TagEngineStoreHandler.py:366–1131): create / list / delete / purge over
  * a configs LAKE TABLE, with md5 content identity.
  *
  * The reference keeps configs as Firestore documents and, on every write,
  * queries for an existing doc with the same md5(uris)+template to mark it
  * INACTIVE (:366–392 `_check_config_type`/dedupe path). Here the store is
  * a DataFrame (backing table: parquet/Delta `configs`), identity is a
  * `content_md5` column computed from the semantic content, and the
  * supersede step flips every pre-existing same-identity row INACTIVE
  * (see [[create]] — the incoming re-create wins regardless of the old
  * row's run-count version, exactly the reference's explicit flip). All
  * operations are set-based transforms producing the NEXT state, so they
  * batch (1 config or 10⁶) and MERGE onto any ACID table format.
  */
object ConfigStore {

  /** Semantic identity (TagEngineStoreHandler.py:366–392: md5 over the
    * config's included uris + template): one deterministic hash column —
    * duplicate configs collide, re-creates of the same config supersede.
    * NULL-SAFE: `concat_ws` silently SKIPS null columns, so a bare form
    * would hash (NULL, "x", u) and ("x", NULL, u) to the same identity —
    * and deactivateSuperseded would then flip an unrelated ACTIVE config
    * INACTIVE, silently unscheduling it. Each component carries an
    * explicit null marker instead (mirrored in the q33 oracle).
    */
  def contentMd5: Column =
    md5(concat_ws("|",
      coalesce(col("template_id"), lit("<null>")),
      coalesce(col("config_type"), lit("<null>")),
      coalesce(col("included_uris"), lit("<null>"))))

  def withIdentity(configs: DataFrame): DataFrame =
    configs.withColumn("content_md5", contentMd5)

  /** Create (append) configs: incoming rows get their identity hash and
    * start at VERSION 1 — the reference re-creates at `'version': 1`
    * (TagEngineStoreHandler.py:420, 508) because version counts RUNS of one
    * config document (`increment_version_next_run`), not re-creations —
    * and every pre-existing same-identity row is flipped INACTIVE
    * explicitly (:382–391), NOT by version comparison: a long-running old
    * config (version N from N launches) must still lose to its version-1
    * re-create. Two same-identity rows WITHIN one incoming batch resolve
    * by [[Scheduler.deactivateSuperseded]]'s deterministic tie-break (the
    * reference writes sequentially so last-write-wins; a batch has no
    * order, so lowest config_uuid stays ACTIVE). Returns the next store
    * state (INACTIVE history rows retained, like the reference's
    * Firestore docs).
    */
  def create(store: DataFrame, incoming: DataFrame): DataFrame = {
    val cur = withIdentity(store)
    val incV = Scheduler.deactivateSuperseded(
      withIdentity(incoming).withColumn("version", lit(1L)))
    val hit = incV.select("content_md5").distinct()
      .withColumn("__superseded", lit(true))
    val deact = cur.join(hit, Seq("content_md5"), "left_outer")
      .withColumn("config_status",
        when(col("__superseded"), lit("INACTIVE"))
          .otherwise(col("config_status")))
      .drop("__superseded")
    deact.unionByName(incV.select(cur.columns.toIndexedSeq.map(col): _*))
  }

  /** List configs, optionally filtered by type and/or status
    * (TagEngineStoreHandler.py:1180–1201).
    */
  def listConfigs(store: DataFrame, configType: Option[String] = None,
                  status: Option[String] = None): DataFrame = {
    val byType = configType.map(t => store.filter(col("config_type") === t))
      .getOrElse(store)
    status.map(s => byType.filter(col("config_status") === s)).getOrElse(byType)
  }

  /** Delete one config document (TagEngineStoreHandler.py:  delete path).
    * Null-safe like [[purge]]: a row with NULL config_uuid (malformed
    * import/backup row) is NOT the deleted config — a bare =!= would
    * evaluate NULL and silently drop it alongside the target.
    */
  def deleteConfig(store: DataFrame, configUuid: String): DataFrame =
    store.filter(!(col("config_uuid") <=> configUuid))

  /** Purge the INACTIVE configs of a type — `"ALL"` spans every type
    * (TagEngineStoreHandler.py:1317–1342 deletes only documents whose
    * `config_status == 'INACTIVE'`; active configs of the type survive).
    */
  def purge(store: DataFrame, configType: String): DataFrame = {
    // null-safe on BOTH columns: a row with NULL config_type is in no
    // type (a plain === would make !inType NULL and `NULL || false`
    // drop the row from every type-scoped purge), and a NULL status is
    // not INACTIVE
    val inType =
      if (configType == "ALL") lit(true)
      else col("config_type") <=> configType
    store.filter(!inType ||
      coalesce(col("config_status") =!= "INACTIVE", lit(true)))
  }

  /** Persist / recover the store as a full SNAPSHOT (the compaction form —
    * see [[appendDelta]] for the incremental path; this snapshot is what
    * [[compact]] periodically folds the delta log back into). Snapshots
    * go through [[graft.sources.AtomicStore]]'s manifest commit — a
    * plain `mode("overwrite")` deletes the old files BEFORE the new ones
    * land, so a crashed writer destroys the only copy of the store; the
    * commit-log swap never exposes a partial state.
    */
  def write(store: DataFrame, path: String): Unit = {
    graft.sources.AtomicStore.commitSnapshot(store, path)
    // bound long-run growth: a periodic compact loop calls this every
    // cycle, and each snapshot is a full copy of the store — retain the
    // previous version for in-flight readers, vacuum the rest (the grace
    // window protects concurrent not-yet-published commits)
    graft.sources.AtomicStore.vacuum(store.sparkSession, path,
      keepVersions = 2)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    graft.sources.AtomicStore.read(spark, path)

  // ------------------------------------------------ append-log persistence

  /** APPEND-LOG persistence — the scale path for config/tag state: each
    * write APPENDS only the DELTA batch (stamped with a caller-supplied
    * monotonic `batchId`); the current state is the latest-wins compaction
    * view of [[readLatest]]. Persisted bytes scale with the change set,
    * not the table — a whole-table overwrite rewrites the full state per
    * job, which at 100 TB of tag state is the write amplification that
    * kills the job cadence. On a real lake the identical contract is a
    * Delta/Iceberg `MERGE INTO` (the log here is exactly a manual delta
    * log); [[compact]] is the checkpoint analogue. Deletes are full-schema
    * TOMBSTONE rows (`config_status = 'DELETED'`, [[tombstone]]), so the
    * log keeps ONE schema and the reference's hard-delete
    * (TagEngineStoreHandler.py delete path) becomes latest-wins filtering.
    */
  def appendDelta(delta: DataFrame, path: String, batchId: Long): Unit =
    delta.withColumn("__batch", lit(batchId))
      .write.mode("append").parquet(path)

  /** Tombstone rows for a config — appended, never rewritten. */
  def tombstone(current: DataFrame, configUuid: String): DataFrame =
    current.filter(col("config_uuid") === configUuid)
      .withColumn("config_status", lit("DELETED"))

  /** Latest-wins compaction view: newest batch (ties: highest version) per
    * config_uuid; tombstones dropped. One window over the log — and the
    * log is the store's CHANGE VOLUME, periodically folded into a snapshot
    * by [[compact]], so the window never scans unbounded history.
    */
  def readLatest(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("config_uuid")
      .orderBy(col("__batch").desc, col("version").desc)
    spark.read.parquet(readablePath(spark, path))
      .withColumn("__rn", row_number().over(w))
      // null-safe tombstone test: a NULL config_status is NOT a delete —
      // same rule as purge()'s keep side
      .filter(col("__rn") === 1 &&
        coalesce(col("config_status") =!= "DELETED", lit(true)))
      .drop("__rn", "__batch")
  }

  /** If a previous [[compact]] crashed between its two renames (live
    * moved to trash, temp not yet promoted), promote the intact trash
    * copy back to the live path. WRITE-side recovery only — called at
    * [[compact]] start (compaction is single-writer by contract); a
    * READER that renamed could race an in-flight compact and move the
    * trash copy INTO the freshly promoted live dir, so [[readLatest]]
    * instead just READS the trash path when the live one is missing.
    */
  private def recoverCompact(spark: SparkSession, logPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(logPath)
    val trash = new Path(logPath + ".__compact_old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(trash)) fs.rename(trash, live)
  }

  /** The path [[readLatest]] should read: the live log, or — mid-crash /
    * mid-swap — the intact trash copy. Pure read-side resolution, no
    * mutation (see [[recoverCompact]] for why readers must not rename).
    */
  private def readablePath(spark: SparkSession, logPath: String): String = {
    import org.apache.hadoop.fs.Path
    val live = new Path(logPath)
    val trash = new Path(logPath + ".__compact_old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(trash)) trash.toString else logPath
  }

  // the exclusive compaction lease lives at `logPath.__compact_lease` —
  // claimed through the shared AtomicStore CAS primitive (fail-if-exists
  // create; a crashed holder's lease is TTL-broken; a live one throws
  // ConcurrentModificationException)

  /** Fold the delta log into a fresh snapshot + empty log (checkpoint):
    * after compaction the log restarts from the snapshot as batch 0.
    *
    * Atomicity: the re-seeded batch-0 log is fully WRITTEN to a sibling
    * temp dir first, then swapped in with two filesystem renames (old →
    * trash, temp → live) — a crash anywhere leaves a complete copy of
    * the log on disk, and the brief live-path gap between the renames
    * self-heals: [[recoverCompact]] promotes the trash copy back when a
    * crash (or an unluckily timed reader) finds the live path missing.
    * The pre-fix delete-then-rewrite instead destroyed the only copy.
    *
    * Single-writer ENFORCED, not assumed: the rename-swap recovery is
    * only safe with one compactor (two concurrent swaps can promote a
    * stale trash copy over the winner's fresh log), so the whole fold
    * runs under a CAS-claimed lease ([[claimLease]]) — a second
    * concurrent compactor fails loudly instead of corrupting recovery; a
    * crashed holder's lease is broken after `leaseTtlMs`.
    */
  def compact(spark: SparkSession, logPath: String,
              snapshotPath: String,
              leaseTtlMs: Long =
                graft.sources.AtomicStore.DefaultLeaseTtlMs): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(logPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicStore.withLease(spark,
        logPath + ".__compact_lease", leaseTtlMs,
        "ConfigStore.compact (single-writer rename-swap recovery)") {
      recoverCompact(spark, logPath)
      // nothing ever appended (and no crashed swap to recover) -> nothing
      // to fold: a maintenance tick on a never-seeded store is a quiet
      // no-op, not an AnalysisException from reading a nonexistent path
      val live = new Path(logPath)
      if (fs.exists(live)) {
        write(readLatest(spark, logPath), snapshotPath)
        val tmp = new Path(logPath + ".__compact_tmp")
        val trash = new Path(logPath + ".__compact_old")
        fs.delete(tmp, true); fs.delete(trash, true)
        appendDelta(read(spark, snapshotPath), tmp.toString, batchId = 0L)
        if (fs.exists(live) && !fs.rename(live, trash))
          throw new java.io.IOException(s"compact: cannot move $live aside")
        if (!fs.rename(tmp, live)) {
          fs.rename(trash, live) // roll back: old log restored intact
          throw new java.io.IOException(s"compact: cannot publish $tmp")
        }
        // The trash copy is deliberately NOT deleted here: a reader that
        // [[readablePath]] routed to the trash path during the swap may
        // still be mid-scan. It is reclaimed by the NEXT compact's delete
        // above — the same bounded-grace discipline as AtomicStore.vacuum
        // (one stale copy on disk; a reader must stay in flight a full
        // compact cycle to race the reclaim).
      }
    }
  }
}
