package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeLike}

/** NON-EXECUTING partition probes over the INITIAL (pre-adaptive)
  * physical plan.
  *
  * Why they exist (round-20 verdict #1): with AQE enabled, `df.rdd`
  * forces `getFinalPhysicalPlan()`, which EXECUTES every upstream
  * shuffle stage of the frame — and a subsequent `df.write` is a fresh
  * QueryExecution with no exchange reuse, so the upstream computation
  * runs twice. `AtomicStore.writeData`'s `df.rdd.getNumPartitions`
  * guard did exactly that to every store commit whose frame carried a
  * join/aggregate (the tag-store family's ~1.5× round-20 regression; at
  * 100 TB it would double the compute of every MERGE/snapshot commit).
  * Everything here reads `queryExecution.sparkPlan` — planning only,
  * no job, no subquery, no broadcast is ever submitted.
  */
object PlanProbe {

  /** Would writing `df` as-is spray one small file per partition that
    * AQE, left alone, will NOT right-size? Decided structurally from
    * the first partitioning-determining node (preorder):
    *
    *  - topmost shuffle with origin ENSURE_REQUIREMENTS → NO: the
    *    write's final stage reads that exchange through AQE's partition
    *    coalescing, which already right-sizes it — a REBALANCE hint
    *    would only bolt a second exchange onto the commit;
    *  - topmost shuffle user-pinned (REPARTITION_BY_NUM — `Lake.spread`
    *    — or REPARTITION_BY_COL) → AQE must honor the pinned count, so
    *    spray iff it exceeds `maxGoodParts` (the spread×write
    *    interaction: a corpus spread to 32 partitions otherwise lands
    *    a model-sized batch as 32 near-empty files);
    *  - checkpointed / RDD-backed leaf → its RDD's partition count
    *    (reading it off LogicalRDD's materialized RDD is free);
    *  - parquet scan leaf → the planned file-split count (the listing
    *    was already done at planning time; building the FileScanRDD
    *    descriptor submits nothing);
    *  - anything else (local relation, empty frame) → NO.
    */
  def spraysSmallFiles(df: DataFrame, maxGoodParts: Int): Boolean =
    initialPlan(df).collectFirst {
      case s: ShuffleExchangeLike =>
        s.shuffleOrigin != ENSURE_REQUIREMENTS &&
          s.numPartitions > maxGoodParts
      case r: RDDScanExec => r.rdd.getNumPartitions > maxGoodParts
      case f: FileSourceScanExec => scanParts(f) > maxGoodParts
    }.getOrElse(false)

  /** The INITIAL physical plan WITH its requirement-inserted exchanges,
    * never executed. `queryExecution.sparkPlan` is the wrong probe
    * surface: EnsureRequirements runs in the preparation phase, so an
    * aggregation/join frame shows NO exchange there and the probe would
    * misread its leaf's partition count as the output count. Under AQE
    * the prepared plan is an [[AdaptiveSparkPlanExec]] wrapper whose
    * `initialPlan` (already computed at construction — building it runs
    * nothing) is exactly the pre-execution plan shape; without AQE the
    * prepared plan itself is. Only `.execute()`/`.rdd`/`finalPhysicalPlan`
    * start stages — never plan construction.
    */
  private[graft] def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** The SCAN partition count of a no-shuffle frame (a lake read plus
    * row-local projections), or None when the plan has an exchange
    * between the scan and the root (its output partitioning is no
    * longer the scan's) or no file scan at all. `Lake.spread`'s guard:
    * "does this scan carry fewer splits than the machine has cores?"
    * answered without building the full query RDD.
    */
  def scanPartitions(df: DataFrame): Option[Int] = {
    val plan = initialPlan(df)
    if (plan.exists(_.isInstanceOf[ShuffleExchangeLike])) None
    else plan.collectFirst {
      case f: FileSourceScanExec => scanParts(f)
      case r: RDDScanExec => r.rdd.getNumPartitions
    }
  }

  private def scanParts(f: FileSourceScanExec): Int =
    // inputRDDs() builds the FileScanRDD descriptor (file splits were
    // computed during planning); it never submits a job
    f.inputRDDs().headOption.map(_.getNumPartitions).getOrElse(0)
}
