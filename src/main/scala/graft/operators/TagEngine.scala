package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expand.Expander
import graft.functions.Coerce
import graft.model.{AssetUri, TagConfig}

/** The end-to-end config pipeline (SURVEY.md §3.1/§3.2): what the reference
  * runs as HTTP hops (`trigger_job` → `_split_work` → N×`_run_task`) is one
  * driver program here — expansion builds the asset work set, evaluation is
  * set-based, and the terminal MERGE + history append is the fan-in.
  *
  * Two evaluation strategies by catalog shape:
  *  - SHARDED family (the reference's 1M-asset load-test shape): all assets
  *    live in one physical source → [[GroupedEval]] compiles the whole
  *    config to ONE statement of correlated scalar subqueries; plan size is
  *    O(#fields), independent of asset count.
  *  - HETEROGENEOUS tables (each asset its own table/view, distinct
  *    schemas): per DISTINCT substituted statement — bounded by the number
  *    of physical tables, which is catalog METADATA (thousands), not asset
  *    cardinality — assembled with a BALANCED union (log-depth tree; the
  *    left-deep `reduce(_ union _)` chain makes Catalyst analysis quadratic
  *    in width).
  */
object TagEngine {

  /** The canonical unified tag-row column list — every tagging pipeline
    * lands in this shape (single definition so the empty frame and the
    * dispatch projections can't drift apart).
    */
  private[operators] val TagRowCols = Seq("asset_uri", "column",
    "template_id", "field_id", "field_type", "field_value")

  /** The unified tag-row shape, empty — what a config whose include −
    * exclude expansion matches NOTHING must produce (the reference's
    * no-op job), instead of `empty.reduce` / `balancedUnion of zero
    * frames` blowing up the whole run.
    */
  private[operators] def emptyTagRows(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(TagRowCols.map(StructField(_, StringType))))
  }

  /** Balanced unionByName: O(log n) tree depth instead of the O(n)
    * left-deep chain a `reduce` builds.
    */
  private[operators] def balancedUnion(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "balancedUnion of zero frames")
    var layer = dfs
    while (layer.length > 1)
      layer = layer.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a)    => a
      }.toSeq
    layer.head
  }

  /** Melt the 1-row-per-asset evaluated shape (`asset_uri` + one column
    * per field) into unified tag rows
    * `(asset_uri, column, template_id, field_id, field_type, field_value)`.
    */
  private[operators] def meltToTagRows(evaluated: DataFrame,
                                       config: TagConfig): DataFrame = {
    val fieldCols = config.fields.map { f =>
      struct(lit(f.fieldId).as("field_id"), lit(f.fieldType).as("field_type"),
        col(f.fieldId).cast("string").as("field_value"))
    }
    evaluated.select(col("asset_uri"), explode(array(fieldCols: _*)).as("f"))
      .select(col("asset_uri"), lit("").as("column"),
        lit(config.templateId).as("template_id"),
        col("f.field_id"), col("f.field_type"), col("f.field_value"))
  }

  /** Apply a dynamic-table config over a heterogeneous catalog: expand →
    * substitute+evaluate each field's query per asset TABLE (combined into
    * ONE statement per distinct table, DataCatalogController.py:488–495) →
    * melt to tag rows. Collecting the expanded asset list is deliberate:
    * it is catalog METADATA (distinct table names), and identical
    * substituted statements are evaluated once. For asset counts beyond
    * metadata scale use [[GroupedEval.applyDynamicTableConfigSharded]].
    * Asset type is hardwired `bigquery` by REFERENCE scope, not oversight:
    * dynamic/sensitive configs run their query_expression in BigQuery
    * only (apply_dynamic_table_config → BigQuery jobs); fileset/spanner
    * assets take the static/import/entry paths, which carry their own
    * typed URIs. A spanner-globbed dynamic config has no reference
    * semantics to match.
    */
  def applyDynamicTableConfig(spark: SparkSession, config: TagConfig,
                              catalog: DataFrame): DataFrame = {
    val assets = Expander
      .expand(catalog, config.includedUris, config.excludedUris)
      .select("project", "dataset", "table")
      .collect()
      .map(r => AssetUri("bigquery", r.getString(0), Some(r.getString(1)),
        Some(r.getString(2)), None))
      .toSeq
    applyOverAssets(spark, config, assets)
  }

  /** [[applyDynamicTableConfig]] after the expansion collect: evaluate a
    * config over an already-expanded asset list (callers that expand many
    * configs in one catalog pass — [[perConfigIncoming]] — land here).
    */
  private[operators] def applyOverAssets(spark: SparkSession,
                                         config: TagConfig,
                                         assets: Seq[AssetUri]): DataFrame = {
    if (assets.isEmpty) return emptyTagRows(spark)
    val (queryFields, staticFields) =
      config.fields.partition(_.queryExpression.isDefined)
    // Assets whose substituted statements coincide share one evaluation —
    // the per-asset work is keyed by the distinct statement, not the URI.
    val byStatement = assets.map { uri =>
      val key =
        if (queryFields.nonEmpty) ConfigEval.combinedQuery(queryFields, uri)
        else ""
      (key, uri)
    }.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val perStatement = byStatement.map { uris =>
      val head = uris.head
      val evaluatedOne =
        if (queryFields.nonEmpty) ConfigEval.evalCombined(spark, queryFields, head)
        else spark.range(1).select(lit(head.render).as("asset_uri"))
      // same statement → same values for every URI in the group
      val evaluated = balancedUnion(uris.toSeq.map(u =>
        evaluatedOne.withColumn("asset_uri", lit(u.render))))
      staticFields.foldLeft(evaluated) { (df, f) =>
        df.withColumn(f.fieldId, lit(f.fieldValue.getOrElse("")))
      }
    }
    meltToTagRows(balancedUnion(perStatement), config)
  }

  /** Resolve an `included_columns_query` to its column list. BOTH result
    * shapes are legal: one row with N columns (`select 'a', 'b'` — the
    * inline-enumeration shape) AND N rows of one column (`select
    * column_name from information_schema.columns where …` — the natural
    * SQL shape the reference iterates; truncating it to the first row
    * would silently leave every other column untagged). Tolerant of a
    * zero-row result and NULL values (both mean "this column slot
    * matches nothing", the same no-op contract as an empty expansion).
    * The result is catalog METADATA — schema-width-bounded — so the
    * collect is driver-safe by the same contract as the reference's own
    * column loop; a runaway query (a data table mistyped as the columns
    * query) fails loudly at the bound instead of OOMing the driver.
    * SHARED by the per-asset path below and ConfigDispatch's sharded
    * probe, so the two routes can never diverge on these edges (a config
    * that no-ops below the shard threshold must not crash above it).
    */
  private[operators] val MaxIncludedColumns = 10000
  private[operators] def resolveIncludedColumns(spark: SparkSession,
                                                sqlText: String): Seq[String] = {
    val df = spark.sql(sqlText)
    val rows = df.take(MaxIncludedColumns + 1).toSeq
    require(rows.lengthCompare(MaxIncludedColumns) <= 0,
      s"included_columns_query returned more than $MaxIncludedColumns rows " +
        "— that is a data table, not a column list")
    // only 1×N and N×1 shapes are column LISTS; an N×M result (e.g.
    // `select column_name, data_type from ...` — one stray SELECT item
    // away from the legal shape) would silently interleave data_type
    // cells into the column list and tag nonexistent columns named
    // "STRING"/"INT64" — fail loudly instead
    require(rows.lengthCompare(1) <= 0 || df.columns.length <= 1,
      s"included_columns_query returned ${rows.length} rows x " +
        s"${df.columns.length} columns — a column list must be one row " +
        "or one column")
    rows.flatMap(_.toSeq).flatMap(Option(_)).map(_.toString)
  }

  /** Apply a dynamic-column config (DataCatalogController.py:363–485):
    * `included_columns_query` yields the target columns (a 1-row query —
    * driver metadata), then ALL (column × field) cells evaluate in ONE
    * combined statement — each cell a scalar subquery with
    * `\$column`/`\$table` substituted — which Catalyst merges into shared
    * scans (MergeScalarSubqueries). Plan width is O(columns × fields),
    * bounded by the table's schema width; job count is O(1).
    */
  def applyDynamicColumnConfig(spark: SparkSession, config: TagConfig,
                               uri: AssetUri): DataFrame = {
    val colsQuery = ConfigEval.substitute(
      config.includedColumnsQuery.getOrElse(
        throw new IllegalArgumentException("included_columns_query required")),
      uri)
    // a zero-row columns query (or NULL column values in the row) is the
    // established match-nothing no-op ([[emptyTagRows]]), not a
    // NoSuchElementException from first() / an NPE mid-map
    val columns = resolveIncludedColumns(spark, colsQuery)
    if (columns.isEmpty || config.fields.isEmpty)
      return emptyTagRows(spark)
    val cells = for {
      (c, i) <- columns.zipWithIndex
      (f, j) <- config.fields.zipWithIndex
    } yield {
      // static values are ESCAPED into the literal (GroupedEval.sq — the
      // ONE escaper, which also doubles backslashes: under the default
      // parser a value ending in `\` would turn the closing quote into an
      // escaped quote): an apostrophe or backslash in field_value must
      // neither kill the statement with a ParseException nor inject into it
      val q = f.queryExpression.map(e =>
          s"(${ConfigEval.substitute(e, uri, Some(c))})")
        .getOrElse(GroupedEval.sq(f.fieldValue.getOrElse("")))
      s"CAST($q AS STRING) AS `__v_${i}_$j`"
    }
    val evaluated = spark.sql(cells.mkString("SELECT ", ", ", ""))
    val structs = for {
      (c, i) <- columns.zipWithIndex
      (f, j) <- config.fields.zipWithIndex
    } yield struct(lit(c).as("column"), lit(f.fieldId).as("field_id"),
      lit(f.fieldType).as("field_type"),
      col(s"__v_${i}_$j").as("field_value"))
    evaluated.select(explode(array(structs: _*)).as("f"))
      .select(lit(uri.render).as("asset_uri"), col("f.column"),
        lit(config.templateId).as("template_id"),
        col("f.field_id"), col("f.field_type"), col("f.field_value"))
  }

  /** The tag-history rows one job appends (DataCatalogController.py:324–327
    * → BigQueryUtils.py:391–440): one row per written tag instance with the
    * singular-segment asset name ([[AssetUri.historyAssetName]] expressed
    * set-based over the URI column), the template's fields PIVOTED to typed
    * columns (history tables are created from the template,
    * BigQueryUtils.py:344–387), plus the `event_date` day partition.
    *
    * Rows group per `(asset_uri, column, job_uuid)`, so several jobs
    * sharing `config`'s field list take ONE call: `jobUuid` may be an
    * expression naming each row's job (the family store's tick passes one
    * over its job ordinal), and with distinct uuids the result is exactly
    * the union of the per-job calls.
    */
  def historyRows(incoming: DataFrame, config: TagConfig, eventTime: Column,
                  jobUuid: Column): DataFrame = {
    val parts = split(col("asset_uri"), "/")
    // The reference derives asset_name by RENAMING segments of the tagged
    // asset's uri, never by reconstructing it (copy_tag,
    // BigQueryUtils.py:122–128: '/datasets/'→'/dataset/', '/tables/'→
    // '/table/', pass-through otherwise). Mirror that: bigquery URIs map
    // to P/dataset/D[/table/T] (concat_ws skips the null table segment of
    // a 5-part dataset-level tag, so no ANSI element_at throw); any other
    // asset type passes through VERBATIM — the reference's no-op rename.
    // Reconstructing through fixed element positions would mislabel
    // spanner instance/database segments as dataset/table and drop the
    // actual table.
    val tableName = when(element_at(parts, 1) === "bigquery",
      concat_ws("/",
        try_element_at(parts, lit(3)), lit("dataset"),
        try_element_at(parts, lit(5)),
        when(size(parts) >= 6, lit("table")),
        try_element_at(parts, lit(6))))
      .otherwise(col("asset_uri"))
    val assetName = when(col("column") =!= "",
      concat(tableName, lit("/column/"), col("column"))).otherwise(tableName)
    // pivot over the KNOWN field list (no extra distinct-values job); enum
    // and richtext store their string form in history, like the reference
    def typed(f: graft.model.FieldSpec, v: Column): Column = f.fieldType match {
      case "enum" | "richtext" => v.cast("string")
      case t                   => Coerce.coerce(t, v)
    }
    // the reference's history writer SKIPS each individually-EMPTY field
    // value (insert_history_row, BigQueryUtils.py:404–406: `if
    // tagged_value['field_value'] == '': continue`) — the history column
    // is NULL even though the TAG itself stores the empty string
    // (create_update_delete_tag attaches string_value='' to the tag; the
    // per-field history skip is its own rule, distinct from the
    // all-empty delete trigger). Dropping those rows before the pivot
    // makes the missing cell NULL, matching the omitted JSON key.
    val pivoted = incoming
      .filter(coalesce(col("field_value").cast("string"), lit("")) =!= "")
      .groupBy(col("asset_uri"), col("column"), jobUuid.as("job_uuid"))
      .pivot("field_id", config.fields.map(_.fieldId))
      .agg(first("field_value"))
    // no withHistoryPartition here: the family store's history commit
    // owns the event_date derivation — doing it twice invites the two
    // call sites drifting apart
    pivoted.select(
      Seq(eventTime.as("event_time"), assetName.as("asset_name"),
        col("job_uuid")) ++
        config.fields.map(f => typed(f, col(f.fieldId)).as(f.fieldId)): _*)
  }

  /** The A12 report rows one job's WRITTEN tag instances export
    * (apply_export_config, DataCatalogController.py:1139–1196 →
    * BigQueryUtils.py:67): the unified tag-row shape flattened to
    * (project, dataset, table, column, tag_template, tag_field,
    * tag_value, export_time) — asset coordinates parsed set-based from
    * the slashed URI (`bigquery/project/P/dataset/D/T`; dataset-level
    * tags leave table NULL, column-level tags carry the column, the
    * reference's three report tables rendered as one nullable-column
    * table), values stringified with the richtext export rule applied
    * via [[Sinks.reportRows]]'s `tag_type` channel. This is the
    * derivation the family/tick terminals use so a config with
    * [[graft.model.TagConfig.exportTags]] lands its report under the
    * SAME cut as the tags+history it describes.
    */
  def reportRowsFor(written: DataFrame, exportTime: Column): DataFrame = {
    val parts = split(col("asset_uri"), "/")
    Sinks.reportRows(
      written.select(
        try_element_at(parts, lit(3)).as("project"),
        try_element_at(parts, lit(5)).as("dataset"),
        try_element_at(parts, lit(6)).as("table"),
        when(col("column") =!= "", col("column")).as("column"),
        col("template_id").as("tag_template"),
        col("field_id").as("tag_field"),
        col("field_value").cast("string").as("tag_value"),
        col("field_type").as("tag_type")),
      exportTime)
  }

  /** The PRODUCED rows of each job in a batched tick — the incoming set
    * each config's MERGE applies (computed rows after the overwrite=false
    * restriction), tagged with config_uuid. This is what a job ROLLUP
    * must count: a post-merge state would repeat every untouched
    * pre-existing store row under each config's uuid, so aggregating THAT
    * reports store size, not job work — on a store with N tags, a due
    * config whose expansion matched nothing would "report" an N-row job
    * instead of the reference's (SUCCEEDED, 0 tasks) no-op. However many
    * configs are due, the tick costs one expansion job plus one
    * downstream action (TagEngineSpec pins the job-count invariance).
    */
  def runJobsProduced(spark: SparkSession, configs: Seq[(String, TagConfig)],
                      catalog: DataFrame, existingTags: DataFrame): DataFrame =
    balancedUnion(perConfigIncoming(spark, configs, catalog, existingTags)
      .map { case (id, incoming) => incoming.withColumn("config_uuid", lit(id)) })

  /** Shared tick pass: ONE catalog expansion for every config (one
    * balanced union of the per-config include−exclude expansions, ONE
    * collect of metadata-scale rows), then each config's incoming MERGE
    * set assembled lazily over its pre-expanded assets. Backbone of
    * [[runJobsProduced]] and the family store's tick terminal
    * (`TagFamilyStore.runTick`).
    *
    * Intra-tick isolation: every job's overwrite=false filter reads the
    * SAME pre-tick `existingTags` snapshot — sibling jobs' writes within
    * the tick are invisible to each other, so two due configs sharing a
    * template and an untagged asset can both emit it in one tick where
    * strictly serialized jobs would make the second skip. That is the
    * deterministic batch rendering of the reference's behavior (cloud
    * tasks run CONCURRENTLY against Firestore; their read/write
    * interleaving is unordered, so same-tick winners are arbitrary
    * there); a caller needing serialized semantics commits one job per
    * config, each reading the state the previous one published.
    */
  private[operators] def perConfigIncoming(spark: SparkSession,
                                configs: Seq[(String, TagConfig)],
                                catalog: DataFrame,
                                existingTags: DataFrame)
      : Seq[(String, DataFrame)] = {
    require(configs.nonEmpty, "perConfigIncoming: no configs to run")
    val expandFrames = configs.map { case (id, cfg) =>
      Expander.expand(catalog, cfg.includedUris, cfg.excludedUris)
        .select(lit(id).as("__cfg"), col("project"), col("dataset"),
          col("table"))
    }
    val expanded: Map[String, Seq[AssetUri]] =
      balancedUnion(expandFrames).collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.toSeq.map(r => AssetUri("bigquery", r.getString(1),
          Some(r.getString(2)), Some(r.getString(3)), None))).toMap
    configs.map { case (id, cfg) =>
      val computed = applyOverAssets(spark, cfg, expanded.getOrElse(id, Nil))
      id -> incomingFor(cfg, computed, existingTags)
    }
  }

  /** The incoming set a job MERGEs: computed rows, minus (when
    * `overwrite=false`) assets already tagged with this config's template
    * (DataCatalogController.py:230–243). ONE definition shared by the
    * single-job terminal (`TagFamilyStore.commitComputed`) and the batch
    * tick ([[perConfigIncoming]]) so the overwrite semantics cannot
    * diverge between them.
    */
  private[operators] def incomingFor(config: TagConfig, computed: DataFrame,
                                     existingTags: DataFrame): DataFrame =
    if (config.overwrite) computed
    else Expander.minusExisting(computed,
      existingTags.filter(col("template_id") === config.templateId)
        .select("asset_uri").distinct(),
      Seq("asset_uri"))
}
