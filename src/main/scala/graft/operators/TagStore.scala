package graft.operators

import org.apache.spark.sql.DataFrame
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
  * [[tickDelta]] change set of each commit (its jobs' [[mergeDelta]]
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
    * 1581–1592), as one definition: the tag-instance keys of `incoming`
    * whose every field value is [[emptyValue]]. Shared by
    * [[dropAllEmptyTags]], [[applyWithDeletes]] and the delta-log
    * [[mergeDelta]], so the reference-semantics rule cannot drift
    * between the in-memory transforms and the persisted log
    * ([[tickDelta]] evaluates the same predicate per job in a window).
    */
  private def allEmptyTagKeys(incoming: DataFrame): DataFrame =
    incoming
      .groupBy(TagInstanceKey.map(col): _*)
      .agg(count(lit(1)).as("__n"), count(when(emptyValue, 1)).as("__ne"))
      .filter(col("__n") === col("__ne"))
      .select(TagInstanceKey.map(col): _*)

  /** Delete-when-all-empty (DataCatalogController.py:1581–1592): if every
    * field of an incoming tag instance is empty, the whole tag
    * `(asset_uri, column, template_id)` is deleted rather than written.
    * Returns incoming minus the all-empty tag instances.
    */
  def dropAllEmptyTags(incoming: DataFrame): DataFrame =
    incoming.join(allEmptyTagKeys(incoming), TagInstanceKey, "left_anti")

  /** Full upsert-with-deletes lifecycle (`create_update_delete_tag`,
    * DataCatalogController.py:1468–1605): an incoming tag whose fields are
    * ALL empty deletes the existing tag on that key (:1584–1586); non-empty
    * incoming rows upsert over existing; untouched existing rows survive.
    */
  def applyWithDeletes(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val emptyKeys = allEmptyTagKeys(incoming)
    val nonEmpty = incoming.join(emptyKeys, TagInstanceKey, "left_anti")
    val kept = existing.join(emptyKeys, TagInstanceKey, "left_anti")
    upsert(kept, nonEmpty)
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

  /** The CHANGE SET one merge appends to the delta log: upsert rows
    * plus one tombstone per all-empty incoming tag instance — the
    * delete-when-all-empty trigger as log rows. The upserts and the
    * tombstones of one merge always touch disjoint tag instances.
    * Persisted bytes scale with the BATCH, never the tag lake.
    */
  private[operators] def mergeDelta(incoming: DataFrame): DataFrame = {
    val emptyKeys = allEmptyTagKeys(incoming)
    val upserts = incoming.join(emptyKeys, TagInstanceKey, "left_anti")
      .withColumn("__op", lit("upsert"))
    val deletes = emptyKeys
      .withColumn("field_id", lit("")).withColumn("field_type", lit(""))
      .withColumn("field_value", lit(""))
      .select(upserts.columns.filterNot(_ == "__op").toIndexedSeq.map(col): _*)
      .withColumn("__op", lit("delete_tag"))
    upserts.unionByName(deletes)
  }

  /** The ONE log batch a family commit of `incoming.size` jobs appends:
    * the jobs' [[mergeDelta]] change sets folded so that the batch reads
    * as the jobs applied in order. Per job ordinal, an upsert is dropped
    * when a later job upserts the same field key or tombstones its
    * instance, and a tombstone is dropped when a later job tombstones the
    * same instance. What survives is at most one tombstone per instance
    * (the last one) plus the upserts after it, which [[latestStateOf]]
    * serves over that tombstone. One job is exactly [[mergeDelta]].
    *
    * Several jobs take one shuffle: the union is hash-partitioned by tag
    * instance once, and every per-job and per-tick decision is a window
    * within that partitioning — [[mergeDelta]]'s trigger included (an
    * instance whose every field in a job is empty is that job's
    * tombstone), so the batch costs one shuffle stage and one write
    * whatever the job count.
    */
  private[operators] def tickDelta(incoming: Seq[DataFrame]): DataFrame =
    if (incoming.sizeIs == 1) mergeDelta(incoming.head)
    else {
      import org.apache.spark.sql.expressions.Window
      val inst = TagInstanceKey.map(col)
      val job = col("__job")
      val del = col("__del")
      val byJob = Window.partitionBy(inst :+ job: _*).orderBy("field_id")
      val wholeJob = byJob.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val blanked = Set("field_id", "field_type", "field_value")
      incoming.zipWithIndex
        .map { case (inc, i) => inc.withColumn("__job", lit(i)) }
        .reduce(_ unionByName _)
        .repartition(inst: _*)
        .withColumn("__del", count(lit(1)).over(wholeJob) ===
          count(when(emptyValue, 1)).over(wholeJob))
        .withColumn("__rn", row_number().over(byJob))
        .withColumn("__last_del",
          max(when(del, job)).over(Window.partitionBy(inst: _*)))
        .withColumn("__last_up",
          max(when(!del, job)).over(Window.partitionBy(keyCols.map(col): _*)))
        .filter(when(del, job === col("__last_del") && col("__rn") === 1)
          .otherwise(job === col("__last_up") &&
            coalesce(col("__last_del") < job, lit(true))))
        .select(incoming.head.columns.toIndexedSeq.map(c =>
          if (blanked(c)) when(del, lit("")).otherwise(col(c)).as(c)
          else col(c)) :+
          when(del, lit("delete_tag")).otherwise(lit("upsert")).as("__op"): _*)
    }

  /** Latest-wins state over a [[mergeDelta]] log, whichever resolved
    * view of it the caller pinned (the family store's current, time-travel
    * and fold reads): per field key the newest upsert wins; a tag
    * instance's newest tombstone hides every field row of an EARLIER
    * batch (upserts of its own or a later batch resurrect the tag —
    * exactly [[applyWithDeletes]] replayed in batch order, which
    * AtomicStoreSpec pins by equivalence). A [[tickDelta]] batch may carry
    * an instance's tombstone beside upserts a later job made to it.
    */
  private[operators] def latestStateOf(log: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dataCols = log.columns.filterNot(c => c == "__op" || c == "__batch")
    val delB = log.filter(col("__op") === "delete_tag")
      .groupBy(TagInstanceKey.map(col): _*)
      .agg(max(col("__batch")).as("__del_b"))
    val wk = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__batch").desc)
    log.filter(col("__op") === "upsert")
      .withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") === 1)
      .join(delB, TagInstanceKey, "left")
      .filter(col("__del_b").isNull || col("__batch") >= col("__del_b"))
      .select(dataCols.toIndexedSeq.map(col): _*)
  }
}
