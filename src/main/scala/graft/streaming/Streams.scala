package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming surface (SURVEY.md §2 H).
  *
  * The reference has no true streaming — its time-driven behavior is a
  * poll-based scheduler (main.py:3075–3110). Beyond parity, a training-data
  * pipeline needs incremental ingest: the transforms here are written once
  * against a DataFrame and run identically in batch (the DuckDB-checked
  * query) and under `readStream` with a watermark (covered by ScalaTest with
  * `Trigger.AvailableNow`). Tumbling windows align to the epoch, matching
  * DuckDB's `time_bucket`.
  */
object Streams {

  /** Tumbling 5-minute counts + exact-decimal value sums per event type.
    * Works for both batch and streaming inputs (same plan; streaming adds
    * the watermark before calling).
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    windowedAgg(events, "event_type")

  /** The shared tumbling-window aggregation shape (5-minute epoch-aligned
    * window, count, exact-decimal value sum): ONE definition for the
    * event-type and the enriched-segment forms, so the window width and
    * the decimal-sum convention cannot fork between their batch/stream
    * oracle pairs.
    */
  private def windowedAgg(events: DataFrame, keyCol: String): DataFrame =
    events.groupBy(window(col("ts"), "5 minutes"), col(keyCol))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
              col("n"), col("sum_value"))

  /** The streaming form: parquet source over `streamDir` → watermark →
    * windowed agg. Late data beyond 10 minutes is dropped once the
    * watermark passes. StreamingSpec drives this against an
    * incrementally-staged copy of the batch table and pins equality with
    * [[windowedEventCounts]] over the batch form.
    */
  def streamingEventCounts(spark: SparkSession, streamDir: String,
                           schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    windowedEventCounts(stream.withWatermark("ts", "10 minutes"))
  }

  /** Stream-static enrichment: events joined to a broadcast dimension
    * (re-read per micro-batch under streaming — the supported
    * stream-static join), then the shared windowed aggregation. One
    * definition serves the DuckDB-checked batch query (st07) and the
    * streaming form (StreamingSpec): at scale the dimension broadcast
    * means the stream partitioning is untouched — no shuffle added to
    * the hot path.
    */
  def enrichedWindowCounts(events: DataFrame, dim: DataFrame): DataFrame =
    windowedAgg(events.join(broadcast(dim), "user_id"), "segment")

  /** Stream-stream interval-join shape: for each purchase, the count of
    * views by the same user in the preceding `minutes`. Written once,
    * runs in batch (the DuckDB-checked query) and as a watermarked
    * stream-stream inner join (StreamingSpec): the equi user_id key routes
    * both sides to the same partition, the time bound lets the state store
    * evict rows once the watermark passes — state is O(events in window),
    * the scale-safe form of a stream-stream join.
    */
  def viewsBeforePurchases(views: DataFrame, purchases: DataFrame,
                           minutes: Int): DataFrame =
    purchases.as("p").join(views.as("v"),
        col("v.user_id") === col("p.user_id") &&
        col("v.ts") >= col("p.ts") - expr(s"INTERVAL $minutes MINUTES") &&
        col("v.ts") < col("p.ts"))
      .groupBy(col("p.event_id").as("event_id"),
        col("p.user_id").as("user_id"), col("p.ts").as("ts"))
      .agg(count(lit(1)).as("n_prior_views"))

  /** One closed session emitted by the stateful streaming sessionizer. */
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  /** Event shape for the stateful sessionizer. */
  final case class SessionEvent(user_id: Long, event_id: Long,
                                ts: java.sql.Timestamp)

  /** TRUE stateful streaming sessionization via `flatMapGroupsWithState`:
    * per-user state holds the open session; each micro-batch merges its
    * events (sorted — batch iterators are unordered), emits every session
    * CLOSED by a ≥gap silence observed in the data, and keeps the open
    * tail in state. An event-time timeout flushes the open session once
    * the watermark passes it. The batch equivalent (same session
    * boundaries) is [[sessionize]] — StreamingSpec checks they agree on
    * closed sessions.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[SessionEvent],
                       gapMinutes: Int): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, it: Iterator[SessionEvent],
           state: GroupState[Session]): Iterator[Session] = {
      if (it.isEmpty && state.hasTimedOut) {
        val out = state.getOption.iterator.toList
        state.remove()
        return out.iterator
      }
      val incoming = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      // Sweep-merge the open session and the batch's events as INTERVALS,
      // sorted by (start, end): neighbors separated by < gap fuse with
      // min/max bounds and added counts. This IS batch sessionize over
      // the observed data, so every within-invocation shape matches batch
      // exactly — including the two the old one-event-at-a-time fold got
      // wrong or only bounded: (a) two out-of-order events at the SAME ts
      // a full gap before the open start emitted two overlapping
      // singleton sessions where batch emits one 2-event session (a
      // disjointness violation); (b) a backward chain that grows to
      // within gap of the open start now fuses with it like batch,
      // instead of leaving a split. Min/max (not last-write) bounds stay
      // essential: a later micro-batch's event only has to clear the
      // watermark, which lags max event time by exactly gap, so it may
      // be out of order vs the open session's tail — an unconditional
      // overwrite would REGRESS session_end, emitting a corrupt session
      // AND shrinking the event-time timeout so the session flushes
      // early.
      //
      // The operator still emits on observed >= gap silence (eager), so
      // the residual divergence stands: a late event landing within gap
      // of an ALREADY-EMITTED session's end (reachable when the silence
      // that closed it was < 2×gap — the accepted-event window is
      // [wm, closed_end + gap), nonempty exactly then) starts or joins a
      // NEWER session here, where batch would have extended the closed
      // one. That is inherent to gap-width watermarks + Append emission
      // — [[sessionizeStreamExact]] is the opt-in alternative that holds
      // every session until the watermark passes session_end + gap (one
      // extra gap of latency) and matches batch EXACTLY;
      // SessionBoundarySpec pins its exact bound: divergent neighbors are
      // separated by < gap with the newer session starting inside
      // (prev_end, prev_end + gap), events are conserved, sessions stay
      // disjoint, and any user whose sessions all respect the gap
      // separation matches batch EXACTLY.
      val merged = SessionMerge.sweepMerge(
        state.getOption.toSeq ++
          incoming.map(e => Session(userId, e.ts, e.ts, 1L)), gapMs)
      // every merged session but the LAST is closed by an observed >= gap
      // silence in front of a later one; the last stays open in state
      merged.lastOption.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.session_end.getTime + gapMs)
      }
      merged.dropRight(1).iterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Interval sweep-merge shared by both sessionizer emission modes:
    * sessions sorted by (start, end); neighbors separated by < gap fuse
    * with min/max bounds and added counts. This IS batch [[sessionize]]
    * over the given intervals, so every within-invocation shape matches
    * batch exactly. Lives in its own Serializable module so the stateful
    * functions that call it don't drag the whole (non-serializable)
    * Streams object into their task closures.
    */
  private[streaming] object SessionMerge extends Serializable {
    def sweepMerge(intervals: Seq[Session], gapMs: Long): Seq[Session] = {
      val sorted = intervals
        .sortBy(s => (s.session_start.getTime, s.session_end.getTime))
      val merged = scala.collection.mutable.ListBuffer.empty[Session]
      sorted.foreach { iv =>
        merged.lastOption match {
          case Some(last) if iv.session_start.getTime -
              last.session_end.getTime < gapMs =>
            merged(merged.size - 1) = last.copy(
              session_end =
                if (iv.session_end.after(last.session_end)) iv.session_end
                else last.session_end,
              n_events = last.n_events + iv.n_events)
          case _ => merged += iv
        }
      }
      merged.toList
    }
  }

  /** State wrapper for [[sessionizeStreamExact]]: the held (not yet
    * emission-safe) sessions, pairwise ≥ gap apart by the sweep-merge
    * invariant.
    */
  final case class HeldSessions(sessions: Seq[Session])

  /** EXACT-parity sessionizer: the documented alternative to
    * [[sessionizeStream]]'s eager emission. The default mode emits a
    * session as soon as a ≥gap silence is OBSERVED in the data, which
    * leaves the pinned divergence window — a late event landing inside
    * (closed_end, closed_end + gap) can no longer extend the emitted
    * session. This mode holds every merged session in state until the
    * WATERMARK passes `session_end + gap`: from then on no admissible
    * event can fuse with it (extending needs ts < end + gap ≤ wm, and
    * ts < wm is dropped by the watermark), so everything emitted equals
    * batch [[sessionize]] over the admitted event set EXACTLY — at the
    * price of one extra gap of emission latency per session and a
    * state entry that holds every not-yet-safe session instead of just
    * the open tail (still bounded: held sessions are pairwise ≥ gap
    * apart, so at most ~(wm lag)/gap + 1 per user). Consumers choose:
    * freshness (default) or batch-identical output (this).
    */
  def sessionizeStreamExact(events: org.apache.spark.sql.Dataset[SessionEvent],
                            gapMinutes: Int): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, it: Iterator[SessionEvent],
           state: GroupState[HeldSessions]): Iterator[Session] = {
      // unified data/timeout path: on a timeout invocation `incoming` is
      // empty and the advanced watermark releases what became safe
      val held = state.getOption.map(_.sessions).getOrElse(Seq.empty)
      val incoming = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val merged = SessionMerge.sweepMerge(
        held ++ incoming.map(e => Session(userId, e.ts, e.ts, 1L)), gapMs)
      val wm = state.getCurrentWatermarkMs()
      val (safe, unsafe) =
        merged.partition(_.session_end.getTime + gapMs <= wm)
      if (unsafe.isEmpty) state.remove()
      else {
        state.update(HeldSessions(unsafe))
        // wake when the OLDEST held session becomes safe (end+gap > wm
        // for every unsafe session, so the timeout is legally > wm)
        state.setTimeoutTimestamp(
          unsafe.map(_.session_end.getTime).min + gapMs)
      }
      safe.iterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Event-driven INCREMENTAL re-tag (the Spark form of the reference's
    * orchestration extension,
    * extensions/orchestration/dynamic_tag_update.py — an Airflow DAG that
    * re-triggers dynamic tag updates when upstream data changes): a batch
    * of change events naming the TOUCHED asset tables restricts the
    * config's catalog with a left-semi join, and ONLY the affected assets
    * re-evaluate through the set-based GroupedEval path — work scales with
    * the change set, not the catalog. Batch==stream by construction: st08
    * gates this batch form against the DuckDB oracle, and StreamingSpec
    * drives the SAME function from a `Trigger.AvailableNow` foreachBatch
    * over a change-event stream and proves output equality.
    */
  def retagTouched(spark: SparkSession, config: graft.model.TagConfig,
                   catalog: DataFrame, source: DataFrame,
                   shardExpr: org.apache.spark.sql.Column,
                   touched: DataFrame): DataFrame =
    graft.operators.GroupedEval.applyDynamicTableConfigSharded(spark, config,
      catalog.join(touched.select("table").distinct(), Seq("table"),
        "left_semi"),
      source, shardExpr)

  /** The DURABLE `foreachBatch` terminal for the event-driven re-tag —
    * [[retagTouched]]'s evaluation landed through
    * `TagFamilyStore.commitComputed`, so the streaming path cannot
    * tear tags/history (round-18 verdict #2: the stream previously
    * wrote through the standalone sinks): the touched shards
    * re-evaluate, and the batch's tag merge + its history rows become
    * visible via ONE CAS'd cut publish — or,
    * on a crash anywhere inside the commit, not at all, with the
    * checkpoint replaying the wave against the pre-batch cut.
    *
    * Replay is EXACTLY-ONCE, not merely idempotent-for-tags: the
    * micro-batch id rides the cut as the `retag_batch` pin (max-merged
    * — monotonic batch ids fit the cut contract), so a wave whose cut
    * already carries `retag_batch >= batchId` — the
    * crash-AFTER-publish-before-checkpoint window, where re-merging
    * would double the history rows — skips and returns Map.empty.
    * History identity: `job_uuid = retag-<batchId>`.
    *
    * Scale shape: evaluation cost is the TOUCHED shard set
    * ([[retagTouched]]'s left-semi restriction), the commit is 2 batch
    * writes + one metadata publish, and the idempotency check is one
    * cut read the commit pays anyway.
    */
  def retagCommitBatch(spark: SparkSession, config: graft.model.TagConfig,
                       catalog: DataFrame, source: DataFrame,
                       shardExpr: org.apache.spark.sql.Column,
                       touched: DataFrame, familyRoot: String,
                       batchId: Long,
                       eventTime: org.apache.spark.sql.Column =
                         current_timestamp()): Map[String, Long] =
    graft.operators.TagFamilyStore.commitComputed(spark, familyRoot, config,
      retagTouched(spark, config, catalog, source, shardExpr, touched),
      eventTime, jobUuid = lit(s"retag-$batchId"),
      idempotencyPin = Some("retag_batch" -> batchId))

  /** The WHOLE `/scheduled_auto_updates` tick as a REUSABLE transform
    * (main.py:3075–3110): H1 selects the due configs from the given
    * config snapshot, ALL due configs compile into ONE batched job pass
    * ([[graft.operators.TagEngine.runJobsProduced]]), and the output is
    * the q12-style per-job rollup JOINED to the advanced scheduler state
    * (H2). Due configs are catalog METADATA (the reference's own loop
    * bound), so the driver-side compile collect is bounded; the tick's
    * job count is invariant to how many configs are due.
    *
    * STREAMING form (the J2-style driver for H1): config rows landing as
    * files → `readStream` → `foreachBatch(schedulerTick(...))` under
    * `Trigger.AvailableNow`. Per-config tick outputs are independent
    * (rollup and advance both key on config_uuid), so the per-micro-batch
    * ticks union to exactly the one-shot batch tick — StreamingSpec pins
    * the equivalence on the q40 fixture.
    */
  def schedulerTick(spark: SparkSession, configs: DataFrame,
                    now: org.apache.spark.sql.Column, catalog: DataFrame,
                    existingTags: DataFrame,
                    fieldsOf: String => Seq[graft.model.FieldSpec]): DataFrame = {
    import graft.operators.TagEngine
    val due = graft.sched.Scheduler.readReadyConfigs(configs, now)
    compileDue(spark, due, fieldsOf) match {
      case None => emptyTick(spark) // idle tick: nothing due
      case Some((dueRows, cfgs)) =>
        // the rollup counts the rows each job PRODUCED, never post-merge
        // store state: on a nonempty store every untouched pre-existing
        // tag row would be counted into every due config's
        // n_tag_rows/sum_n_rows — a no-op job would "report" the whole
        // store instead of (SUCCEEDED, 0, 0)
        val tagRows =
          TagEngine.runJobsProduced(spark, cfgs, catalog, existingTags)
        tickRollup(spark, dueRows, tagRows)
          .join(graft.sched.Scheduler.advanceNextRun(configs, due, now)
            .select("config_uuid", "next_run", "version"), "config_uuid")
    }
  }

  /** [[schedulerTick]] with the FAMILY-CUT terminal — the whole
    * `/scheduled_auto_updates` path made durable AND atomic: the due
    * configs' evaluations land through `TagFamilyStore.runTick`
    * (every config's tags + history under ONE CAS'd cut publish — a
    * crash mid-tick leaves the pre-tick state serving everywhere and
    * the re-run lands every config exactly once, where the reference's
    * N independent tasks simply tear), and the returned rollup groups
    * the SAME checkpointed tick frame the commit landed by job, so it
    * reports exactly what was published. History identity matches
    * the rollup's `job_uuid = md5(config_uuid|version)`.
    *
    * `tickId` arms the exactly-once replay pin (round-19 verdict #2 /
    * advice): `Some(n)` publishes `sched_tick=n` into the tick's cut
    * (max-merged, so a monotonic tick id — a streaming micro-batch id,
    * or `unix_millis(now)` for a driver loop — fits the cut contract),
    * and a re-run whose cut already carries `sched_tick >= n` SKIPS the
    * family commit while still emitting the rollup + advanced scheduler
    * state. That closes the tick ↔ config-store tear: the family
    * publish and the caller's config-store merge are two stores with no
    * shared cut, so a crash between them leaves the configs still due
    * at the SAME version — without the pin the re-run would re-commit
    * the whole tick under the same `md5(uuid|version)` job_uuids,
    * doubling every history row (the reference tears identically:
    * Firestore next_run updates after job launch,
    * TagEngineStoreHandler.py:290–309). With it, the re-run's output
    * lets the caller complete the lost merge, and history stays
    * exactly-once.
    */
  def schedulerTickCommit(spark: SparkSession, configs: DataFrame,
                          now: org.apache.spark.sql.Column,
                          catalog: DataFrame, familyRoot: String,
                          fieldsOf: String => Seq[graft.model.FieldSpec],
                          eventTime: org.apache.spark.sql.Column =
                            current_timestamp(),
                          tickId: Option[Long] = None): DataFrame = {
    import graft.operators.TagFamilyStore
    val due = graft.sched.Scheduler.readReadyConfigs(configs, now)
    compileDue(spark, due, fieldsOf) match {
      case None => emptyTick(spark)
      case Some((dueRows, cfgs)) =>
        val versionOf = dueRows.map(r => r.getString(0) -> r.getLong(3)).toMap
        val (_, tagRows) = TagFamilyStore.runTickProduced(spark, cfgs,
          catalog, familyRoot, eventTime,
          jobUuidOf = id => md5(concat_ws("|", lit(id),
            lit(versionOf(id).toString))),
          idempotencyPin = tickId.map("sched_tick" -> _))
        tickRollup(spark, dueRows, tagRows)
          .join(graft.sched.Scheduler.advanceNextRun(configs, due, now)
            .select("config_uuid", "next_run", "version"), "config_uuid")
    }
  }

  /** The STREAMING form of the durable scheduler tick (round-19 verdict
    * #3): config rows landing as parquet files → `readStream` →
    * `foreachBatch` driving [[schedulerTickCommit]] per wave under
    * `Trigger.AvailableNow`, with the micro-batch id as each wave's
    * `sched_tick` pin — so a wave replayed from the checkpoint after a
    * crash-after-publish (the window where the family cut landed but the
    * checkpoint offset did not) skips its family commit instead of
    * doubling every config's history (the exactly-once shape
    * [[retagCommitBatch]] proved for the re-tag stream). `onTick`
    * receives each wave's rollup⨝advance output — the config-store merge
    * hook; a caller that needs nothing merges nothing. Per-config tick
    * outputs are independent (rollup and advance both key on
    * config_uuid), so the streamed waves converge to exactly the
    * one-shot batch tick — StreamingSpec pins the equivalence and the
    * crash-replay convergence.
    */
  def schedulerTickStream(spark: SparkSession, configStreamDir: String,
                          schema: org.apache.spark.sql.types.StructType,
                          checkpointDir: String,
                          now: org.apache.spark.sql.Column,
                          catalog: DataFrame, familyRoot: String,
                          fieldsOf: String => Seq[graft.model.FieldSpec],
                          eventTime: org.apache.spark.sql.Column =
                            current_timestamp(),
                          onTick: DataFrame => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(configStreamDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onTick(schedulerTickCommit(spark, batch, now, catalog, familyRoot,
          fieldsOf, eventTime, tickId = Some(batchId)))
      }
      .start()

  private def emptyTick(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "config_uuid string, job_uuid string, job_status string, " +
          "n_assets bigint, n_tag_rows bigint, sum_n_rows double, " +
          "next_run timestamp, version bigint"))

  /** Shared H1 compile step: collect + validate the due configs (rows
    * sorted by uuid) and build their TagConfigs. None = idle tick. Due
    * configs are catalog METADATA (the reference's own loop bound), so
    * the collect is bounded.
    */
  private def compileDue(spark: SparkSession, due: DataFrame,
                         fieldsOf: String => Seq[graft.model.FieldSpec])
      : Option[(Seq[org.apache.spark.sql.Row],
                Seq[(String, graft.model.TagConfig)])] = {
    import graft.model.TagConfig
    // optional export flag: a config snapshot carrying `export_tags=true`
    // asks the tick to land the A12 report rows as the third part of its
    // batch (TagFamilyStore.runTick) — absent column or NULL cell
    // both mean "no export", so pre-export snapshots keep working
    val exportCol =
      if (due.columns.contains("export_tags"))
        coalesce(col("export_tags").cast("boolean"), lit(false))
      else lit(false)
    val dueRows = due
      .select(col("config_uuid"), col("template_id"), col("included_uris"),
        col("version"), col("config_type"), exportCol.as("__export"))
      .collect().sortBy(_.getString(0)).toSeq
    if (dueRows.isEmpty) return None
    // the stored config_type is HONORED, not assumed: the tick batches
    // only the dynamic-table evaluation, so a due config of any other
    // type must fail the tick loudly (silently rebuilding it as a table
    // config would produce wrong tag rows or a broken field spec).
    // NULL-safe + Locale.ROOT: a NULL config_type must land in the same
    // loud require (not an NPE that skips its message), and a Turkish
    // default locale must not uppercase 'dynamic' to 'DYNAMİC' and fail
    // a valid config
    val offType = dueRows.filter(r =>
      Option(r.getString(4)).map(_.toUpperCase(java.util.Locale.ROOT))
        .orNull != "DYNAMIC_TAG_TABLE")
    require(offType.isEmpty,
      "schedulerTick batches DYNAMIC_TAG_TABLE configs only; due configs " +
        s"of other types: ${offType.map(r => s"${r.getString(0)}(" +
          s"${r.getString(4)})").mkString(", ")} — run them through " +
        "ConfigDispatch.applyConfig per config")
    val noVersion = dueRows.filter(_.isNullAt(3))
    require(noVersion.isEmpty,
      "schedulerTick: due configs with NULL version (job identity is " +
        s"md5(uuid|version)): ${noVersion.map(_.getString(0)).mkString(", ")}")
    val cfgs = dueRows.map { r =>
      // NULL included_uris = a config that matches nothing: expansion is
      // empty and the rollup's left join reports the no-op job, instead
      // of an NPE killing the whole tick
      val uris = Option(r.getString(2)).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      r.getString(0) -> TagConfig("DYNAMIC_TAG_TABLE", r.getString(1),
        fieldsOf(r.getString(0)), includedUris = uris,
        exportTags = r.getBoolean(5))
    }
    Some((dueRows, cfgs))
  }

  /** Shared per-job rollup over the tick's PRODUCED rows (left join
    * from the due list: a due config whose expansion matched nothing
    * still reports the reference's (SUCCEEDED, 0, 0) no-op job).
    */
  private def tickRollup(spark: SparkSession,
                         dueRows: Seq[org.apache.spark.sql.Row],
                         tagRows: DataFrame): DataFrame = {
    import spark.implicits._
    val versions = dueRows.map(r => (r.getString(0), r.getLong(3)))
      .toDF("config_uuid", "job_version")
    versions
      .join(tagRows.groupBy("config_uuid")
        .agg(count(lit(1)).as("n_tag_rows"),
          countDistinct(col("asset_uri")).as("n_assets"),
          sum(when(col("field_id") === "n_rows",
            col("field_value").cast("double"))).as("sum_n_rows")),
        Seq("config_uuid"), "left")
      .withColumn("n_tag_rows", coalesce(col("n_tag_rows"), lit(0L)))
      .withColumn("n_assets", coalesce(col("n_assets"), lit(0L)))
      .withColumn("sum_n_rows", coalesce(col("sum_n_rows"), lit(0.0d)))
      .select(col("config_uuid"),
        md5(concat_ws("|", col("config_uuid"), col("job_version")))
          .as("job_uuid"),
        lit("SUCCEEDED").as("job_status"),
        col("n_assets"), col("n_tag_rows"), col("sum_n_rows"))
  }

  /** Batch sessionization: a new session starts after a ≥ `gapMinutes`
    * silence per user (lag + running sum — the batch-equivalent of the
    * `flatMapGroupsWithState` session operator). Deterministic: events
    * tie-broken by event_id.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") >= gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"))
  }
}
