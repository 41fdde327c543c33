package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Tag-state maintenance (SURVEY.md §2 A9/A10, B5).
  *
  * Tags live in a table keyed `(asset_uri, column, template_id, field_id)`
  * with a string-typed `field_value` (the typed form is reconstructed via
  * Coerce at read time, mirroring the reference's protobuf field map,
  * DataCatalogController.py:133–150). The reference mutates the catalog one
  * RPC at a time with retry/backoff (:1608–1652); here every operation is a
  * set-based transform producing the next state — on a real lake this is a
  * Delta/Iceberg `MERGE` (ACID makes the 429-retry machinery moot); the
  * transforms below are exactly the MERGE semantics expressed as joins so
  * they run anywhere parquet does.
  *
  * Persisting tag state is [[TagFamilyStore]]'s job: it appends the
  * [[tickDelta]] change set of each commit (its jobs' merge change
  * sets, folded in job order) to a cut-pinned log and reads the state
  * back through [[latestStateOf]] — the log functions below are the
  * encoding that store shares with these transforms.
  *
  * Scale notes: both joins are equi-joins on the tag key; with the tags table
  * bucketed by `asset_uri` the shuffle on the existing side disappears, and
  * incoming batches are typically tiny relative to state → broadcast.
  */
object TagStore {

  val keyCols: Seq[String] = Seq("asset_uri", "column", "template_id", "field_id")

  /** Upsert (create-or-update, DataCatalogController.py:1608–1652): incoming
    * rows win over existing on the same key; existing rows without a match
    * survive. Equivalent MERGE: `whenMatched.update whenNotMatched.insert`.
    * "Win" is by ROW PRESENCE, not per-column coalesce: a matched incoming
    * row replaces the existing value even when the incoming value is NULL
    * (a value-level coalesce would silently keep stale data on a
    * legitimate NULL update — and diverge from the persisted log, whose
    * latest-wins replay lets the newest row win outright).
    */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val cols = existing.columns.toSeq
    val inc = incoming.withColumn("__inc", lit(true))
    val ex = cols.foldLeft(existing)((d, c) => d.withColumnRenamed(c, s"ex_$c"))
    val joinCond = keyCols.map(k => inc(k) <=> ex(s"ex_$k")).reduce(_ && _)
    inc.join(ex, joinCond, "full_outer")
      .select(cols.map { c =>
        if (keyCols.contains(c)) coalesce(inc(c), ex(s"ex_$c")).as(c)
        else when(inc("__inc"), inc(c)).otherwise(ex(s"ex_$c")).as(c)
      }: _*)
  }

  private val TagInstanceKey = Seq("asset_uri", "column", "template_id")

  /** An empty field value (NULL counts as empty). */
  private def emptyValue = coalesce(col("field_value"), lit("")) === ""

  /** The delete-when-all-empty TRIGGER (DataCatalogController.py:
    * 1581–1592), as one definition: true on every row of a tag instance
    * whose every field value in its job (`job` — none for a single
    * frame) is [[emptyValue]]. A window, so NULL key parts group
    * together exactly as [[upsert]]'s `<=>` match does — every consumer
    * ([[dropAllEmptyTags]], [[applyWithDeletes]], the delta log's
    * [[tickFrame]]) reads the same rule, with no equi-join that would
    * let a NULL-`column` instance escape its own trigger.
    */
  private def allEmpty(job: Column*): Column = {
    val w = Window.partitionBy(TagInstanceKey.map(col) ++ job: _*)
    count(lit(1)).over(w) === count(when(emptyValue, 1)).over(w)
  }

  /** Delete-when-all-empty (DataCatalogController.py:1581–1592): if every
    * field of an incoming tag instance is empty, the whole tag
    * `(asset_uri, column, template_id)` is deleted rather than written.
    * Returns incoming minus the all-empty tag instances.
    */
  def dropAllEmptyTags(incoming: DataFrame): DataFrame =
    incoming.withColumn("__del", allEmpty()).filter(!col("__del")).drop("__del")

  /** Full upsert-with-deletes lifecycle (`create_update_delete_tag`,
    * DataCatalogController.py:1468–1605): an incoming tag whose fields are
    * ALL empty deletes the existing tag on that key (:1584–1586); non-empty
    * incoming rows upsert over existing; untouched existing rows survive.
    */
  def applyWithDeletes(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val flagged = incoming.withColumn("__del", allEmpty())
    val emptyKeys = flagged.filter(col("__del"))
      .select(TagInstanceKey.map(c => col(c).as(s"__k_$c")): _*)
    // NULL-safe, like the trigger's window
    val kept = existing.join(emptyKeys, TagInstanceKey
      .map(c => existing(c) <=> emptyKeys(s"__k_$c")).reduce(_ && _), "left_anti")
    upsert(kept, flagged.filter(!col("__del")).drop("__del"))
  }

  /** Reconcile (`ReconcileTagsRequest`, DataCatalogController.py:455–473):
    * atomically replace the set of tags for the touched
    * `(asset_uri, template_id)` scopes with the incoming set — the MERGE
    * `whenNotMatchedBySource.delete` scoped to the assets present in
    * `incoming`. Existing tags on untouched assets survive.
    */
  def reconcile(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val scope = Seq("asset_uri", "template_id")
    val untouched = existing.join(
      incoming.select(scope.map(col): _*).distinct(), scope, "left_anti")
    untouched.unionByName(incoming)
  }

  /** A whole-partition window over a tag instance, sorted by the rest of
    * the per-key window that follows it (`keyOrder`: the key's remaining
    * parts, then its order), so that one sort serves both windows —
    * Spark keeps the instance window below the key window and sorts once
    * for the two. Each window's sort is generated code of its own, and
    * the family's commit and read paths stay within Spark's codegen
    * cache only when they compile few distinct classes.
    */
  private def sortedAsKeys(byInstance: WindowSpec,
                           keyOrder: Seq[Column]): WindowSpec =
    byInstance.orderBy(keyOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** The jobs' incoming sets of one commit as one frame, each row tagged
    * with its job ordinal `__job`: the input of [[tickFrame]].
    */
  private[operators] def jobTagged(incoming: Seq[DataFrame]): DataFrame =
    TagEngine.balancedUnion(incoming.zipWithIndex.map { case (inc, i) =>
      inc.withColumn("__job", lit(i))
    })

  /** The TICK FRAME over [[jobTagged]] rows: each row with the
    * [[allEmpty]] trigger of its (tag instance, job) as `__del`,
    * hash-partitioned by `(asset_uri, column)`. That one exchange
    * satisfies every per-part grouping downstream — [[tickDelta]]'s
    * windows and the history pivot's `(asset_uri, column, job_uuid)` —
    * so a checkpoint of this frame (it carries its partitioning) feeds
    * every part of the commit with no further shuffle, whatever the job
    * count.
    */
  private[operators] def tickFrame(tagged: DataFrame): DataFrame =
    tagged.repartition(col("asset_uri"), col("column"))
      .withColumn("__del", allEmpty(col("__job")))

  /** The ONE log batch a family commit appends, from its [[tickFrame]]:
    * the jobs' change sets — upserts plus one tombstone per all-empty
    * (`__del`) tag instance, the delete-when-all-empty trigger as log
    * rows — folded so that the batch reads as the jobs applied in
    * order. Per field key only the last job's upsert survives, and only
    * when no later job tombstones its instance; per instance only the
    * last tombstone survives. [[latestStateOf]] serves the upserts after
    * that tombstone over it. One job's batch is its merge change set: its
    * non-empty rows as upserts and one tombstone per all-empty instance.
    *
    * A tombstone's key is its instance's blank field key, so both rules
    * are one ordered window per key (kind apart) plus the instance's last
    * tombstone job, sharing one sort within the frame's `(asset_uri,
    * column)` partitioning: the batch costs no shuffle beyond the frame's
    * own and one write, whatever the job count. Persisted bytes scale
    * with the BATCH, never the tag lake.
    */
  private[operators] def tickDelta(tick: DataFrame): DataFrame = {
    val inst = TagInstanceKey.map(col)
    val job = col("__job")
    val del = col("__del")
    val blanked = Set("field_id", "field_type", "field_value")
    val fid = when(del, lit("")).otherwise(col("field_id"))
    tick
      .withColumn("__last_del", max(when(del, job)).over(
        sortedAsKeys(Window.partitionBy(inst: _*), Seq(fid, del, job.desc))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(inst :+ fid :+ del: _*).orderBy(job.desc)))
      .filter(col("__rn") === 1 &&
        (del || coalesce(col("__last_del") < job, lit(true))))
      .select(tick.columns.toIndexedSeq.filterNot(Set("__job", "__del"))
        .map(c =>
          if (blanked(c)) when(del, lit("")).otherwise(col(c)).as(c)
          else col(c)) :+
        when(del, lit("delete_tag")).otherwise(lit("upsert")).as("__op"): _*)
  }

  /** Latest-wins state over a [[tickDelta]] log, whichever resolved
    * view of it the caller pinned (the family store's current, time-travel
    * and fold reads): per field key the newest upsert wins; a tag
    * instance's newest tombstone hides every field row of an EARLIER
    * batch (upserts of its own or a later batch resurrect the tag —
    * exactly [[applyWithDeletes]] replayed in batch order, which
    * AtomicStoreSpec pins by equivalence). A [[tickDelta]] batch may carry
    * an instance's tombstone beside upserts a later job made to it.
    */
  private[operators] def latestStateOf(log: DataFrame): DataFrame = {
    val dataCols = log.columns.filterNot(c => c == "__op" || c == "__batch")
    val (op, batch) = (col("__op"), col("__batch"))
    // the tombstone rule is a window over the instance, so it groups NULL
    // key parts exactly as the trigger does
    log
      .withColumn("__del_b", max(when(op === "delete_tag", batch)).over(
        sortedAsKeys(Window.partitionBy(TagInstanceKey.map(col): _*),
          Seq(col("field_id"), op, batch.desc))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col) :+ op: _*).orderBy(batch.desc)))
      .filter(op === "upsert" && col("__rn") === 1 &&
        (col("__del_b").isNull || batch >= col("__del_b")))
      .select(dataCols.toIndexedSeq.map(col): _*)
  }
}
