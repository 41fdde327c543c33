package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{AssetUri, FieldSpec}

/** The `query_expression` mini-language (SURVEY.md §2 G;
  * DataCatalogController.py:1685–1772) and combined-query evaluation
  * (:488–495, 1823–1846).
  *
  * The reference substitutes `$project/$dataset/$table/$column` into a SQL
  * string and ships it to BigQuery, one round-trip per field (or one combined
  * `select (q1),(q2),…` per column). Here substitution is the same pure
  * string rewrite, and evaluation is `spark.sql` over the same combined
  * statement. Catalyst does NOT collapse the N uncorrelated scalar
  * subqueries into one scan: each runs as its own Spark job (a
  * subquery or broadcast round) before the outer projection, so a
  * combined query costs about one job per field (q58's profile: ~136 of
  * its 151 jobs are such rounds).
  */
object ConfigEval {

  /** Substitute the URI variables into one expression
    * (DataCatalogController.py:1685–1772): `$table` in a FROM clause becomes
    * the fully-qualified name — in the local lake, the bare view name
    * (Lake.registerAll) — `$table` elsewhere the bare table name,
    * `$project`/`$dataset` from the URI, `$column` for column configs
    * (:1764–1769). Constant expressions pass through (:1760–1762).
    */
  def substitute(expr: String, uri: AssetUri, column: Option[String] = None): String = {
    var q = expr
    // Local lake: qualified and bare forms coincide (temp view name).
    q = q.replace("$table", uri.table.getOrElse(""))
    q = q.replace("$dataset", uri.dataset.getOrElse(""))
    q = q.replace("$project", uri.project)
    column.foreach(c => q = q.replace("$column", c))
    q
  }

  /** `combine_queries` (DataCatalogController.py:488–495): N field
    * expressions → one `SELECT (q1) AS f1, (q2) AS f2, …` statement. Each
    * `qi` must be a scalar subquery (`select <agg> from …`).
    */
  def combinedQuery(fields: Seq[FieldSpec], uri: AssetUri,
                    column: Option[String] = None): String = {
    val parts = fields.flatMap { f =>
      f.queryExpression.map(e => s"(${substitute(e, uri, column)}) AS ${f.fieldId}")
    }
    // zero expression-bearing fields would render the string "SELECT "
    // and surface as a cryptic ParseException pointing at generated SQL;
    // name the actual config problem instead
    require(parts.nonEmpty,
      "combinedQuery: the config has no query_expression fields to " +
        "evaluate — static-only fields take the static path")
    parts.mkString("SELECT ", ", ", "")
  }

  /** Evaluate the combined query for one asset
    * (`run_combined_query`, :1823–1846) — a single one-row DataFrame with
    * one column per field, plus the asset identity.
    */
  def evalCombined(spark: SparkSession, fields: Seq[FieldSpec], uri: AssetUri,
                   column: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    spark.sql(combinedQuery(fields, uri, column))
      .withColumn("asset_uri", lit(uri.render))
  }
}
