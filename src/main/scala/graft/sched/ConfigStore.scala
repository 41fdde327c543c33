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

  // ------------------------------------------------ append-log persistence

  /** APPEND-LOG persistence — the scale path for config/tag state: each
    * write APPENDS only the DELTA batch (stamped with a caller-supplied
    * monotonic `batchId`); the current state is the latest-wins compaction
    * view of [[readLatest]]. Persisted bytes scale with the change set,
    * not the table — a whole-table overwrite rewrites the full state per
    * job, which at 100 TB of tag state is the write amplification that
    * kills the job cadence. On a real lake the identical contract is a
    * Delta/Iceberg `MERGE INTO`; here the log is an
    * [[graft.sources.AtomicStore]] table and [[compact]] is the checkpoint
    * analogue. Deletes are full-schema TOMBSTONE rows
    * (`config_status = 'DELETED'`, [[tombstone]]), so the log keeps ONE
    * schema and the reference's hard-delete (TagEngineStoreHandler.py
    * delete path) becomes latest-wins filtering.
    *
    * A blind [[graft.sources.AtomicStore.commitAppend]]: a delta never
    * derives from the log's state, so a lost publish race just
    * republishes the same batch; a crashed append is never published and
    * stays invisible.
    */
  def appendDelta(delta: DataFrame, path: String, batchId: Long): Unit =
    graft.sources.AtomicStore.commitAppend(
      delta.withColumn("__batch", lit(batchId)), path)

  /** Tombstone rows for a config — appended, never rewritten. */
  def tombstone(current: DataFrame, configUuid: String): DataFrame =
    current.filter(col("config_uuid") === configUuid)
      .withColumn("config_status", lit("DELETED"))

  /** Latest-wins view of a log: newest batch (ties: highest version) per
    * config_uuid; tombstones dropped. Keeps `__batch`, so a [[compact]]
    * fold of this view still loses to any later append.
    */
  private def latest(log: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("config_uuid")
      .orderBy(col("__batch").desc, col("version").desc)
    log.withColumn("__rn", row_number().over(w))
      // null-safe tombstone test: a NULL config_status is NOT a delete —
      // same rule as purge()'s keep side
      .filter(col("__rn") === 1 &&
        coalesce(col("config_status") =!= "DELETED", lit(true)))
      .drop("__rn")
  }

  /** The current configs: [[latest]] over the published log. One window
    * over the log — and the log is the store's CHANGE VOLUME,
    * periodically folded by [[compact]], so the window never scans
    * unbounded history.
    */
  def readLatest(spark: SparkSession, path: String): DataFrame =
    latest(graft.sources.AtomicStore.read(spark, path)).drop("__batch")

  /** Fold the log into one latest-wins snapshot (checkpoint) through
    * [[graft.sources.AtomicStore.compact]]: a CAS commit, so an append
    * racing the fold makes it re-read and re-fold instead of being lost,
    * and superseded batches are vacuumed past the grace window. A
    * never-appended log is a quiet no-op.
    */
  def compact(spark: SparkSession, logPath: String): Unit =
    graft.sources.AtomicStore.compact(spark, logPath, reduce = latest)
}
