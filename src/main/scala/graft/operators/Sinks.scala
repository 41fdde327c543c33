package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Coerce
import graft.sources.AtomicStore

/** History / report sinks (SURVEY.md §2 A11–A13).
  *
  * The reference lazily creates day-partitioned BigQuery tables and appends
  * JSON rows (BigQueryUtils.py:263–305, 344–474). Here the A11 history
  * sink is [[withHistoryPartition]]'s UTC `event_date` day column plus the
  * history part of the tag-family store ([[TagFamilyStore]]), appended
  * under the same cut as the job's tags. Reports have the same family
  * append and the standalone [[writeReport]], an [[AtomicStore]] table
  * (append, or a truncating snapshot). Both carry the `export_date` day
  * column; readers prune on it through parquet statistics.
  */
object Sinks {

  /** UTC epoch day of `ts` — THE one session-tz-independent day rule
    * (shared with UsageTracking's start_date window so the two cannot
    * drift; floor handles pre-1970 instants correctly).
    */
  private[operators] def utcEpochDay(ts: Column): Column =
    floor(unix_seconds(ts) / lit(86400L))

  /** UTC day of a timestamp, independent of `spark.sql.session.timeZone`
    * — epoch-floor arithmetic, not `to_date` (which renders in the
    * session zone: a Los-Angeles-configured writer would file a
    * 02:00 UTC event under the PREVIOUS day, splitting one UTC day's
    * rows across two partitions between differently-configured clusters
    * and diverging from the reference's UTC day-partitioned history
    * table, whose timestamps are UTC by construction).
    */
  private def utcDay(ts: Column): Column =
    date_add(lit("1970-01-01").cast("date"), utcEpochDay(ts).cast("int"))

  /** Tag-history rows (BigQueryUtils.py:344–440; FIXTURES.md §3.1): the
    * standard prefix columns + one column per template field, plus the
    * `event_date` UTC day-partition column derived from `event_time`.
    */
  def withHistoryPartition(rows: DataFrame): DataFrame =
    rows.withColumn("event_date", utcDay(col("event_time")))

  /** Flatten a tags table to the report shape (BigQueryUtils.py:263–305;
    * FIXTURES.md §3.2): everything stringified except `export_time`.
    * `tags` must carry (project, dataset, table, tag_template, tag_field,
    * tag_value); an optional `tag_type` column is consumed here —
    * richtext values leave the catalog in EXPORT form, `<br>` swapped for
    * `', '` (DataCatalogController.py:1177) — and is not exported. An
    * optional `column` column is PRESERVED (nullable): the reference
    * routes column-level tags to `catalog_report_column_tags`, whose
    * records carry the column (DataCatalogController.py:1189–1191); one
    * table with a nullable column is the Spark rendering of that split.
    */
  def reportRows(tags: DataFrame, exportTime: Column): DataFrame = {
    val value =
      if (tags.columns.contains("tag_type"))
        when(col("tag_type") === "richtext",
          Coerce.richtextExport(col("tag_value").cast("string")))
          .otherwise(col("tag_value").cast("string"))
      else col("tag_value").cast("string")
    val colCol =
      if (tags.columns.contains("column")) Seq(col("column")) else Seq.empty
    tags.select(
      Seq(col("project"), col("dataset"), col("table")) ++ colCol ++ Seq(
        col("tag_template"), col("tag_field"), value.as("tag_value"),
        exportTime.as("export_time")): _*)
  }

  /** The report sibling of [[withHistoryPartition]]: the `export_date`
    * UTC day column derived from `export_time` — one definition shared
    * by [[writeReport]] and the tag-family store's atomic report append
    * ([[TagFamilyStore]]), so the day rule cannot drift between sinks.
    */
  def withReportPartition(rows: DataFrame): DataFrame =
    rows.withColumn("export_date", utcDay(col("export_time")))

  /** Report write: `write_option` truncate vs append
    * (BigQueryUtils.py:35–50) → an [[AtomicStore]] snapshot vs append
    * commit. BigQuery WRITE_TRUNCATE replaces the WHOLE table, which a
    * snapshot commit does without ever deleting the previous copy before
    * the new one is published; the vacuum keeps one previous version for
    * in-flight readers.
    */
  def writeReport(rows: DataFrame, path: String, truncate: Boolean): Unit = {
    val out = withReportPartition(rows)
    if (truncate) {
      AtomicStore.commitSnapshot(out, path)
      AtomicStore.vacuum(rows.sparkSession, path, keepVersions = 2)
    } else AtomicStore.commitAppend(out, path)
  }
}
