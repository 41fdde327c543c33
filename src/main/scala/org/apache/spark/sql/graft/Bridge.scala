package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 moved `Column` to a backend-agnostic node model; the classic
  * converters (`ExpressionUtils.column/expression`) are `private[sql]`, so
  * third-party Catalyst expressions need a shim inside the
  * `org.apache.spark.sql` namespace — the standard extension technique
  * (connector libraries do the same). This is the ONLY file outside the
  * `graft` namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-root an already-ANALYZED plan in another session (Dataset.ofRows
    * is private[sql]). Used to run a query under a private session whose
    * SQLConf differs from the caller's — e.g. Bloom.build raising the
    * runtime-filter ceilings without mutating the shared session conf.
    * The plan must be resolved (pass `df.queryExecution.analyzed`): a raw
    * parsed plan could re-resolve differently against the new session's
    * empty temp-view catalog.
    */
  def ofRows(spark: org.apache.spark.sql.classic.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)

  /** `StructType.asNullable` is `private[spark]`; AtomicStore's
    * driver-side footer-schema reads need it to report exactly the
    * nullability a file-source relation reports for the same data
    * (DataSource.resolveRelation nullable-izes every inferred schema).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Blocks until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`); `graft.obs.SparkWork`
    * drains it so its counts are exact without sleeping. Throws
    * `TimeoutException` if the bus is still busy after 10 s.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
