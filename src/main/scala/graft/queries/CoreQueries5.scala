package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lake
import graft.model.{FieldSpec, TagConfig}
import graft.operators.{GroupedEval, TagEngine, UsageTracking}
import graft.sched.Scheduler
import graft.streaming.Streams
import graft.queries.CoreQueries.Q

/** Tag-engine-parity queries, part 5 (round 7): set-based dynamic-COLUMN
  * configs (q39), the composed scheduler-tick → job → rollup flow (q40),
  * usage-tracking extension parity (q41), and event-driven incremental
  * re-tag (st08).
  */
object CoreQueries5 {

  /** The sharded-events fixture shared by the bulk-config queries (q30,
    * q39, st08): an n-shard catalog of `events_NNNN` tables and the
    * expression assigning each event row to its shard.
    */
  private[queries] def eventsShardCatalog(spark: SparkSession, n: Int): DataFrame =
    spark.range(0, n)
      .select(lit("p").as("project"), lit("lake").as("dataset"),
        concat(lit("events_"), lpad(col("id").cast("string"), 4, "0"))
          .as("table"))

  private[queries] def eventsShardExpr(n: Int) =
    concat(lit("events_"),
      lpad((col("event_id") % n).cast("string"), 4, "0"))

  // --------------- set-based dynamic-COLUMN config (q39)

  /** DYNAMIC_TAG_COLUMN at load-test scale: 200 sharded assets × 2 columns
    * × 2 fields through [[GroupedEval.applyDynamicColumnConfigSharded]] —
    * the whole grid is ONE statement whose flat cells fuse into one
    * struct subquery (one source scan), with `\$column` bound per cell and
    * `from \$table` correlated per asset; Spark job count is O(1)
    * regardless of asset count (TagEngineSpec pins the invariance), where
    * the reference runs one job per asset (main.py:3597–3628) and
    * [[TagEngine.applyDynamicColumnConfig]] evaluates one asset per call.
    */
  def q39BulkDynamicColumn(spark: SparkSession, dir: String): DataFrame = {
    val config = TagConfig(
      configType = "DYNAMIC_TAG_COLUMN", templateId = "profile",
      fields = Seq(
        FieldSpec("ndv", "double",
          Some("select count(distinct $column) from $table")),
        FieldSpec("max_v", "string",
          Some("select cast(cast(max($column) as decimal(18,2)) as string) " +
            "from $table"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/events_*"),
      includedColumnsQuery = Some("select 'user_id', 'value'"))
    // the included-columns query is driver metadata (a 1-row statement),
    // exactly the reference's :374–377 contract
    val columns = spark.sql(config.includedColumnsQuery.get)
      .first().toSeq.map(_.toString)
    // shard-keyed spread (round-20 verdict #2): satisfies the per-shard
    // aggregation's required distribution — one exchange, not two
    GroupedEval.applyDynamicColumnConfigSharded(spark, config,
        eventsShardCatalog(spark, 200),
        Lake.spread(Lake.table(spark, dir, "events"), eventsShardExpr(200)),
        eventsShardExpr(200), columns)
      .orderBy("asset_uri", "column", "field_id")
  }

  val q39Oracle: String =
    """WITH shards AS (
      |  SELECT 'events_' || lpad(CAST(r.range AS VARCHAR), 4, '0') AS shard
      |  FROM range(0, 200) r),
      |agg AS (
      |  SELECT 'events_' || lpad(CAST(event_id % 200 AS VARCHAR), 4, '0') AS shard,
      |         count(DISTINCT user_id) AS ndv_user,
      |         CAST(CAST(max(user_id) AS DECIMAL(18,2)) AS VARCHAR) AS max_user,
      |         count(DISTINCT value) AS ndv_value,
      |         CAST(CAST(max(value) AS DECIMAL(18,2)) AS VARCHAR) AS max_value
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT 'bigquery/project/p/dataset/lake/' || s.shard AS asset_uri,
      |         coalesce(ndv_user, 0) AS ndv_user, max_user,
      |         coalesce(ndv_value, 0) AS ndv_value, max_value
      |  FROM shards s LEFT JOIN agg USING (shard))
      |SELECT asset_uri, "column", 'profile' AS template_id, field_id,
      |       field_type, field_value
      |FROM (
      |  SELECT asset_uri, 'user_id' AS "column", 'ndv' AS field_id,
      |         'double' AS field_type, CAST(ndv_user AS VARCHAR) AS field_value
      |  FROM a
      |  UNION ALL
      |  SELECT asset_uri, 'user_id', 'max_v', 'string', max_user FROM a
      |  UNION ALL
      |  SELECT asset_uri, 'value', 'ndv', 'double', CAST(ndv_value AS VARCHAR)
      |  FROM a
      |  UNION ALL
      |  SELECT asset_uri, 'value', 'max_v', 'string', max_value FROM a)
      |ORDER BY asset_uri, "column", field_id""".stripMargin

  // --------------- scheduler tick → job run → rollup (q40)

  /** Inline config fixture for the composed tick: cA and cB are due at
    * `tickNow`, cC is not. `included_uris` carries the comma-separated
    * reference syntax (FIXTURES.md §1.1).
    */
  private val tickRows = Seq(
    ("cA", "gov",
      "bigquery/project/p/dataset/lake/region, bigquery/project/p/dataset/lake/nation",
      60L, "2024-03-01 10:00:00", 1L),
    ("cB", "ops",
      "bigquery/project/p/dataset/lake/supplier, bigquery/project/p/dataset/lake/part",
      30L, "2024-03-01 11:00:00", 3L),
    ("cC", "gov", "bigquery/project/p/dataset/lake/orders",
      60L, "2024-03-01 14:00:00", 1L))

  private[queries] val tickNow = "2024-03-01 12:00:00"

  private[queries] val tickFields: Map[String, Seq[FieldSpec]] = Map(
    "cA" -> Seq(
      FieldSpec("n_rows", "double", Some("select count(*) from $table")),
      FieldSpec("env", "enum", None, Some("PROD"))),
    "cB" -> Seq(
      FieldSpec("n_rows", "double", Some("select count(*) from $table"))),
    "cC" -> Seq(
      FieldSpec("n_rows", "double", Some("select count(*) from $table"))))

  private[queries] def tickConfigsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tickRows.toDF("config_uuid", "template_id", "included_uris",
        "refresh_frequency_minutes", "next_run_s", "version")
      .withColumn("next_run", to_timestamp(col("next_run_s")))
      .drop("next_run_s")
      .withColumn("config_type", lit("DYNAMIC_TAG_TABLE"))
      .withColumn("config_status", lit("ACTIVE"))
      .withColumn("refresh_mode", lit("AUTO"))
      .withColumn("scheduling_status", lit("READY"))
  }

  /** The WHOLE `/scheduled_auto_updates` tick composed end-to-end
    * (main.py:3075–3110 → §3.1): H1 selects the due configs, ALL due
    * configs compile into ONE batched job pass
    * ([[TagEngine.runJobsProduced]] — one catalog expansion for every
    * config, lazy set-based evaluation of each job's produced rows, one
    * unioned result), and the output is the
    * q12-style per-job rollup JOINED to the advanced scheduler state
    * (H2) — job identity, terminal status, asset/tag-row counts, a
    * data-dependent field sum, and the post-tick next_run/version, all
    * from ONE tick. Due configs are catalog METADATA (the reference's own
    * loop bound), and the tick's job count is INVARIANT to how many are
    * due (TagEngineSpec pins it) — the round-7 per-config job
    * dispatch loop serialized a full driver round-trip per config.
    */
  def q40SchedulerTickJobs(spark: SparkSession, dir: String): DataFrame = {
    Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    val emptyTags = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "asset_uri string, column string, template_id string, " +
          "field_id string, field_value string"))
    // the tick itself is the reusable transform (Streams.schedulerTick) --
    // its streaming form runs the SAME code per micro-batch of configs
    graft.streaming.Streams.schedulerTick(spark, tickConfigsDf(spark),
        to_timestamp(lit(tickNow)), catalog, emptyTags, tickFields)
      .orderBy("config_uuid")
  }

  val q40Oracle: String =
    s"""SELECT 'cA' AS config_uuid, md5('cA|1') AS job_uuid,
       |  'SUCCEEDED' AS job_status,
       |  CAST(2 AS BIGINT) AS n_assets, CAST(4 AS BIGINT) AS n_tag_rows,
       |  CAST((SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
       |    AS DOUBLE) AS sum_n_rows,
       |  TIMESTAMP '2024-03-01 13:00:00' AS next_run, CAST(2 AS BIGINT) AS version
       |UNION ALL
       |SELECT 'cB', md5('cB|3'), 'SUCCEEDED',
       |  CAST(2 AS BIGINT), CAST(2 AS BIGINT),
       |  CAST((SELECT count(*) FROM supplier) + (SELECT count(*) FROM part)
       |    AS DOUBLE),
       |  TIMESTAMP '2024-03-01 12:30:00', CAST(4 AS BIGINT)
       |ORDER BY config_uuid""".stripMargin

  // --------------- usage-tracking extension parity (q41)

  /** Synthetic audit log derived from the events lake table — each event
    * becomes one Data Catalog audit entry; event_type maps onto the four
    * API methods the reference's functions filter on (plus an unmatched
    * noise type exercising the filter).
    */
  private def auditLog(spark: SparkSession, dir: String): DataFrame =
    // spread keyed on the DERIVED user_email (the q13 rule, aggregation
    // flavor): hashpartitioning(user_email) is a subset of the dedup
    // DISTINCT's clustering (all five audit columns) AND of the
    // usage rollup's first aggregate key (bq_resource, user_email), so
    // both reuse the spread's exchange — one shuffle of the audit rows
    // instead of three. Users are plentiful (tens of thousands), so the
    // hash spreads evenly; at lake scale the spread no-ops as always.
    Lake.spread(Lake.table(spark, dir, "events"),
        concat(lit("user_"), col("user_id"))).select(
      col("ts").as("event_time"),
      lit("p").as("project"),
      concat(lit("user_"), col("user_id")).as("user_email"),
      when(col("event_type") === "view", UsageTracking.MethodEntryClick)
        .when(col("event_type") === "signup", UsageTracking.MethodTagCreate)
        .when(col("event_type") === "click", UsageTracking.MethodTagUpdate)
        .when(col("event_type") === "purchase", UsageTracking.MethodTagDelete)
        .otherwise(lit("google.cloud.datacatalog.v1.DataCatalog.GetEntry"))
        .as("method"),
      concat(lit("projects/p/entries/e"), col("event_id") % 20).as("dc_entry"))

  private def entryLookup(spark: SparkSession): DataFrame =
    spark.range(0, 20).select(
      concat(lit("projects/p/entries/e"), col("id")).as("dc_entry"),
      concat(lit("p.lake.t"), col("id")).as("bq_resource"))

  /** Usage-tracking parity (extensions/usage_tracking/): the four audit
    * streams in one log pass, rolled up per BigQuery resource into a
    * `usage` tag — counts per kind, distinct users, last event — in the
    * unified tag-row shape (so the metrics MERGE into tag state like any
    * other config output).
    */
  def q41UsageTracking(spark: SparkSession, dir: String): DataFrame =
    UsageTracking.usageTagRows(auditLog(spark, dir), entryLookup(spark),
        templateId = "usage")
      .orderBy("asset_uri", "field_id")

  val q41Oracle: String = {
    val methodCase =
      """CASE event_type
        |    WHEN 'view' THEN 'entry_clicks' WHEN 'signup' THEN 'tag_creates'
        |    WHEN 'click' THEN 'tag_updates' WHEN 'purchase' THEN 'tag_deletes'
        |    END""".stripMargin
    s"""WITH ev AS (
       |  SELECT DISTINCT $methodCase AS kind,
       |    date_trunc('second', ts) AS event_time, 'p' AS project,
       |    'user_' || user_id AS user_email,
       |    'projects/p/entries/e' || (event_id % 20) AS dc_entry
       |  FROM events WHERE $methodCase IS NOT NULL),
       |lookup AS (
       |  SELECT 'projects/p/entries/e' || r.range AS dc_entry,
       |         'p.lake.t' || r.range AS bq_resource
       |  FROM range(0, 20) r),
       |s AS (
       |  SELECT l.bq_resource,
       |    count(CASE WHEN kind = 'entry_clicks' THEN 1 END) AS entry_clicks,
       |    count(CASE WHEN kind = 'tag_creates' THEN 1 END) AS tag_creates,
       |    count(CASE WHEN kind = 'tag_updates' THEN 1 END) AS tag_updates,
       |    count(CASE WHEN kind = 'tag_deletes' THEN 1 END) AS tag_deletes,
       |    count(DISTINCT user_email) AS n_users,
       |    max(event_time) AS last_event
       |  FROM ev JOIN lookup l USING (dc_entry) GROUP BY 1)
       |SELECT bq_resource AS asset_uri, '' AS "column", 'usage' AS template_id,
       |       field_id, field_type, field_value
       |FROM (
       |  SELECT bq_resource, 'entry_clicks' AS field_id, 'double' AS field_type,
       |         CAST(CAST(entry_clicks AS DOUBLE) AS VARCHAR) AS field_value FROM s
       |  UNION ALL
       |  SELECT bq_resource, 'tag_creates', 'double',
       |         CAST(CAST(tag_creates AS DOUBLE) AS VARCHAR) FROM s
       |  UNION ALL
       |  SELECT bq_resource, 'tag_updates', 'double',
       |         CAST(CAST(tag_updates AS DOUBLE) AS VARCHAR) FROM s
       |  UNION ALL
       |  SELECT bq_resource, 'tag_deletes', 'double',
       |         CAST(CAST(tag_deletes AS DOUBLE) AS VARCHAR) FROM s
       |  UNION ALL
       |  SELECT bq_resource, 'n_users', 'double',
       |         CAST(CAST(n_users AS DOUBLE) AS VARCHAR) FROM s
       |  UNION ALL
       |  SELECT bq_resource, 'last_event', 'datetime',
       |         CAST(last_event AS VARCHAR) FROM s)
       |ORDER BY asset_uri, field_id""".stripMargin
  }

  // --------------- event-driven incremental re-tag (st08)

  /** Event-driven incremental re-tag (orchestration extension parity —
    * extensions/orchestration/dynamic_tag_update.py as a Spark transform):
    * change events (here: high-value purchases) name the TOUCHED shard
    * assets; ONLY those re-evaluate through the set-based GroupedEval
    * path, so re-tag work scales with the change set, not the catalog.
    * This is the batch form under the oracle gate; StreamingSpec drives
    * [[Streams.retagTouched]] from a change-event STREAM
    * (Trigger.AvailableNow foreachBatch) and proves streaming == batch.
    */
  def st08ChangeRetag(spark: SparkSession, dir: String): DataFrame = {
    val events = Lake.table(spark, dir, "events")
    val config = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(
        FieldSpec("n_rows", "double", Some("select count(*) from $table")),
        FieldSpec("n_clicks", "double",
          Some("select count(*) from $table where event_type = 'click'"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/events_*"))
    val touched = events
      .filter(col("event_type") === "purchase" && col("value") >= 250)
      .select(eventsShardExpr(100).as("table"))
    Streams.retagTouched(spark, config, eventsShardCatalog(spark, 100),
        events, eventsShardExpr(100), touched)
      .orderBy("asset_uri", "field_id")
  }

  val st08Oracle: String =
    """WITH touched AS (
      |  SELECT DISTINCT 'events_' || lpad(CAST(event_id % 100 AS VARCHAR), 4, '0')
      |    AS shard
      |  FROM events WHERE event_type = 'purchase' AND value >= 250),
      |agg AS (
      |  SELECT 'events_' || lpad(CAST(event_id % 100 AS VARCHAR), 4, '0') AS shard,
      |         count(*) AS n_rows,
      |         count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT 'bigquery/project/p/dataset/lake/' || t.shard AS asset_uri,
      |         coalesce(n_rows, 0) AS n_rows, coalesce(n_clicks, 0) AS n_clicks
      |  FROM touched t LEFT JOIN agg USING (shard))
      |SELECT asset_uri, '' AS "column", 'gov' AS template_id, field_id,
      |       'double' AS field_type, field_value
      |FROM (
      |  SELECT asset_uri, 'n_rows' AS field_id,
      |         CAST(n_rows AS VARCHAR) AS field_value FROM a
      |  UNION ALL
      |  SELECT asset_uri, 'n_clicks', CAST(n_clicks AS VARCHAR) FROM a)
      |ORDER BY asset_uri, field_id""".stripMargin

  // --------------- query-cookbook extension parity (q42)

  /** Synthetic warehouse query log derived from events — one job row per
    * event with a deterministic SQL text, so the regex extraction stub
    * (the sandbox stand-in for the reference's temperature-0
    * ML.GENERATE_TEXT call) has real text to parse in BOTH engines.
    */
  private def jobsLog(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    Lake.spread(Lake.table(spark, dir, "events"), col("event_id")).select(
      concat(lit("lake.t"), col("event_id") % 8).as("asset"),
      concat(lit("user_"), col("user_id")).as("user_email"),
      concat(
        lit("SELECT "),
        when(col("event_type") === "click",
          concat(lit("sum(f"), k % 5, lit(")")))
          .when(col("event_type") === "purchase",
            concat(lit("avg(f"), k % 5, lit(")")))
          .otherwise(concat(lit("f"), k % 5)),
        lit(" FROM lake.t"), col("event_id") % 8,
        when(k % 4 === 1,
          concat(lit(" JOIN lake.t"), (col("event_id") + 1) % 8,
            lit(" ON f"), k % 3, lit(" = f"), k % 3)).otherwise(lit("")),
        when(k % 3 === 0, concat(lit(" WHERE f"), k % 4, lit(" > 10")))
          .otherwise(lit("")),
        when(col("event_type") === "signup",
          concat(lit(" GROUP BY f"), k % 2)).otherwise(lit("")))
        .as("query"))
  }

  /** Query-cookbook extension parity: per-asset access-pattern tags (all
    * six template fields — top users / fields / wheres / joins /
    * group-bys / functions, query_cookbook_config.json) from the query
    * log in ONE pass — see [[QueryCookbook]] for the plan shape and the
    * clearly-marked LLM-extraction stub.
    */
  def q42QueryCookbook(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QueryCookbook
      .cookbookTagRows(jobsLog(spark, dir), templateId = "query_cookbook")
      .orderBy("asset_uri", "field_id")

  val q42Oracle: String = {
    val jobsCte =
      """jobs AS (
        |  SELECT 'lake.t' || (event_id % 8) AS asset,
        |         'user_' || user_id AS user_email,
        |         'SELECT ' ||
        |         CASE WHEN event_type = 'click' THEN 'sum(f' || (k % 5) || ')'
        |              WHEN event_type = 'purchase' THEN 'avg(f' || (k % 5) || ')'
        |              ELSE 'f' || (k % 5) END ||
        |         ' FROM lake.t' || (event_id % 8) ||
        |         CASE WHEN k % 4 = 1 THEN ' JOIN lake.t' ||
        |              ((event_id + 1) % 8) || ' ON f' || (k % 3) ||
        |              ' = f' || (k % 3)
        |              ELSE '' END ||
        |         CASE WHEN k % 3 = 0 THEN ' WHERE f' || (k % 4) || ' > 10'
        |              ELSE '' END ||
        |         CASE WHEN event_type = 'signup' THEN ' GROUP BY f' || (k % 2)
        |              ELSE '' END AS query
        |  FROM (SELECT *, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |        FROM events))""".stripMargin
    s"""WITH $jobsCte,
       |dims AS (
       |  SELECT asset, 'top_users' AS dim, user_email AS value FROM jobs
       |  UNION ALL
       |  SELECT asset, 'top_fields',
       |         regexp_extract(query, '(?i)SELECT\\s+(?:\\w+\\()?(\\w+)', 1)
       |  FROM jobs
       |  UNION ALL
       |  SELECT asset, 'top_wheres',
       |         regexp_extract(query, '(?i)WHERE\\s+(\\w+\\s*[<>=]+\\s*\\w+)', 1)
       |  FROM jobs
       |  UNION ALL
       |  SELECT asset, 'top_joins',
       |         regexp_extract(query,
       |           '(?i)(FROM\\s+\\S+(?:\\s+(?:AS\\s+)?\\w+)?\\s+JOIN\\s+\\S+(?:\\s+(?:AS\\s+)?\\w+)?\\s+ON\\s+[\\w.]+\\s*=\\s*[\\w.]+)', 1)
       |  FROM jobs
       |  UNION ALL
       |  SELECT asset, 'top_groupbys',
       |         regexp_extract(query, '(?i)GROUP BY\\s+(\\w+)', 1) FROM jobs
       |  UNION ALL
       |  SELECT asset, 'top_functions',
       |         regexp_extract(query, '(?i)(\\w+)\\(', 1) FROM jobs),
       |c AS (SELECT asset, dim, value, count(*) AS cnt FROM dims
       |      WHERE value IS NOT NULL AND value <> '' GROUP BY 1, 2, 3),
       |r AS (SELECT *, row_number() OVER (PARTITION BY asset, dim
       |        ORDER BY cnt DESC, value) AS rn FROM c)
       |SELECT asset AS asset_uri, '' AS "column",
       |       'query_cookbook' AS template_id, dim AS field_id,
       |       'richtext' AS field_type,
       |       string_agg(value || ':' || cnt, '<br>'
       |         ORDER BY cnt DESC, value) AS field_value
       |FROM r WHERE rn <= 3 GROUP BY 1, 2, 3, 4, 5
       |ORDER BY asset_uri, field_id""".stripMargin
  }

  // --------------- product-registration workflow parity (q43)

  private val productRows = Seq(
    ("product/p1", "PENDING"), ("product/p2", "PENDING"),
    ("product/p3", "APPROVED"))

  private val mappingRows = Seq(
    ("product/p1", "region"), ("product/p1", "nation"),
    ("product/p2", "supplier"), ("product/p3", "orders"))

  /** The deterministic clock q43 passes as the flip's
    * `last_modified_date` value (the reference writes now().strftime —
    * injectable here so the oracle can pin it).
    */
  private val q43Now = "2024-03-01 12:00:00"

  /** Product-registration parity: pending products trigger resource-tag
    * generation over their assets + the PENDING→REVIEW flip of the
    * `data_product_status` field WITH its `last_modified_date` co-update
    * (the two changed_fields of the reference's update_tag_subset call —
    * extensions/product_registration_pipeline README:98 / main.py:139–141),
    * as one set-based sweep ([[graft.operators.Registration]]). The
    * n_rows resource field is data-dependent (per-asset counts), so the
    * oracle gates the generation path, not just the fixture.
    */
  def q43ProductRegistration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val statusRows = productRows.map { case (p, s) =>
      (p, "data_product_status", "enum", s)
    }
    // the product template carries last_modified_date alongside the
    // status (finwire_data_product.json fields list) — its rows must
    // restamp on the flip and pass through untouched otherwise
    val lmRows = productRows.map { case (p, _) =>
      (p, "last_modified_date", "timestamp", "2022-08-21")
    }
    val productTags = (statusRows ++ lmRows)
      .toDF("asset_uri", "field_id", "field_type", "field_value")
      .select(col("asset_uri"), lit("").as("column"),
        lit("data_product").as("template_id"), col("field_id"),
        col("field_type"), col("field_value"))
    val mapping = mappingRows.toDF("product_uri", "table")
      .select(col("product_uri"),
        concat(lit("bigquery/project/p/dataset/lake/"), col("table"))
          .as("asset_uri"))
    val facts = mappingRows.map(_._2).distinct.sorted.map { t =>
      Lake.table(spark, dir, t).agg(count(lit(1)).as("n_rows"))
        .select(lit(s"bigquery/project/p/dataset/lake/$t").as("asset_uri"),
          col("n_rows"))
    }.reduce(_ unionByName _)
    graft.operators.Registration
      .registerPending(productTags, mapping, facts, "data_resource",
        now = lit(q43Now))
      .orderBy("asset_uri", "template_id", "field_id")
  }

  val q43Oracle: String =
    s"""WITH prod(asset_uri, field_id, field_type, field_value) AS (VALUES
      |  ('product/p1', 'data_product_status', 'enum', 'PENDING'),
      |  ('product/p2', 'data_product_status', 'enum', 'PENDING'),
      |  ('product/p3', 'data_product_status', 'enum', 'APPROVED'),
      |  ('product/p1', 'last_modified_date', 'timestamp', '2022-08-21'),
      |  ('product/p2', 'last_modified_date', 'timestamp', '2022-08-21'),
      |  ('product/p3', 'last_modified_date', 'timestamp', '2022-08-21')),
      |pending AS (SELECT asset_uri FROM prod
      |            WHERE field_id = 'data_product_status'
      |              AND field_value = 'PENDING'),
      |assets(asset_uri, n_rows) AS (
      |  SELECT 'bigquery/project/p/dataset/lake/region',
      |         (SELECT count(*) FROM region)
      |  UNION ALL
      |  SELECT 'bigquery/project/p/dataset/lake/nation',
      |         (SELECT count(*) FROM nation)
      |  UNION ALL
      |  SELECT 'bigquery/project/p/dataset/lake/supplier',
      |         (SELECT count(*) FROM supplier))
      |SELECT asset_uri, '' AS "column", 'data_product' AS template_id,
      |       field_id, field_type,
      |       CASE WHEN asset_uri IN (SELECT asset_uri FROM pending)
      |              AND field_id = 'data_product_status' THEN 'REVIEW'
      |            WHEN asset_uri IN (SELECT asset_uri FROM pending)
      |              AND field_id = 'last_modified_date' THEN '$q43Now'
      |            ELSE field_value END AS field_value
      |FROM prod
      |UNION ALL
      |SELECT a.asset_uri, '', 'data_resource', f.field_id, f.field_type,
      |       CASE f.field_id WHEN 'steward' THEN 'governance'
      |            WHEN 'env' THEN 'PROD'
      |            ELSE CAST(n_rows AS VARCHAR) END
      |FROM assets a CROSS JOIN (VALUES
      |  ('steward', 'string'), ('env', 'enum'), ('n_rows', 'double'))
      |  f(field_id, field_type)
      |ORDER BY asset_uri, template_id, field_id""".stripMargin

  // --------------- PII classification pipeline parity (q44)

  /** The PII-classification DAG's data plane
    * (extensions/orchestration/pii_classification_dag.py): the DAG lists
    * a dataset's tables, runs a SAMPLED DLP inspection per table
    * (rows_limit + RANDOM_START, min_likelihood LIKELY), saves per-table
    * findings, and feeds them to the SENSITIVE tag path. Spark form, one
    * pass: the `source` column is the table axis, the sample is a
    * deterministic slice (the RANDOM_START stand-in both engines can
    * mirror), the DLP inspector is the [[graft.functions.Pii]] regex rule
    * set (the same stand-in t15 uses — the real DLP API isn't in the
    * sandbox), findings aggregate per (table, infotype), and the
    * smallest-superset classification ([[Classify.smallestSuperset]],
    * the reference's C2/C3 join) labels each table. Output is sensitive
    * tag rows, ready for the TagStore MERGE. PII spans are injected
    * deterministically into the sampled text (the raw synthetic corpus
    * contains none), mirrored exactly in the oracle.
    */
  def q44PiiPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Pii
    import graft.operators.Classify
    val sampled = Lake.table(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" reach me at user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" call 555-123-4567"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit(""))))
    val counts = Pii.findingCounts(col("text"))
    val perDoc = sampled.select(
      col("source") +: counts.map { case (n, c) => c.as(n) }: _*)
    val findings = perDoc.groupBy("source")
      .agg(sum(col(counts.head._1)).as(counts.head._1),
        counts.tail.map { case (n, _) => sum(col(n)).as(n) }: _*)
      .select(col("source"), explode(array(counts.map { case (n, _) =>
        struct(lit(n).as("infotype"), col(n).as("n"))
      }: _*)).as("e"))
      .select(col("source"), col("e.infotype"), col("e.n"))
      .filter(col("n") > 0)
    val obs = findings.groupBy("source")
      .agg(array_sort(collect_set(col("infotype"))).as("observed"),
        sum(col("n")).as("n_findings"))
    val sel = Seq(
      (Seq("EMAIL_ADDRESS"), "pii_email"),
      (Seq("EMAIL_ADDRESS", "PHONE_NUMBER"), "pii_contact"),
      (Seq("EMAIL_ADDRESS", "PHONE_NUMBER", "US_SSN"), "pii_sensitive"),
      (Seq("US_SSN"), "pii_government"))
      .toDF("field_infotypes", "notable_infotype")
    val classified = Classify.smallestSuperset(obs, sel,
      "source", "observed", "field_infotypes", "notable_infotype")
    val fields = Seq(
      struct(lit("classification_result").as("field_id"),
        lit("enum").as("field_type"),
        col("notable_infotype").as("field_value")),
      struct(lit("n_findings").as("field_id"), lit("double").as("field_type"),
        col("n_findings").cast("string").as("field_value")),
      struct(lit("infotypes").as("field_id"), lit("richtext").as("field_type"),
        array_join(col("observed"), "<br>").as("field_value")))
    classified.select(
        concat(lit("bigquery/project/p/dataset/lake/"), col("source"))
          .as("asset_uri"),
        lit("").as("column"), lit("pii_classification").as("template_id"),
        explode(array(fields: _*)).as("f"))
      .select(col("asset_uri"), col("column"), col("template_id"),
        col("f.field_id"), col("f.field_type"), col("f.field_value"))
      .orderBy("asset_uri", "field_id")
  }

  val q44Oracle: String = {
    import graft.functions.Pii
    val res = Pii.Rules.toMap
    def cnt(inf: String): String =
      s"sum(len(regexp_extract_all(text, '${res(inf)}')))"
    s"""WITH s AS (
       |  SELECT source, text ||
       |    CASE WHEN doc_id % 7 = 0
       |         THEN ' reach me at user' || doc_id || '@example.com'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END
       |      AS text
       |  FROM documents WHERE doc_id % 2 = 0),
       |f AS (
       |  SELECT source, 'EMAIL_ADDRESS' AS infotype,
       |         CAST(${cnt("EMAIL_ADDRESS")} AS BIGINT) AS n FROM s GROUP BY 1
       |  UNION ALL
       |  SELECT source, 'PHONE_NUMBER',
       |         CAST(${cnt("PHONE_NUMBER")} AS BIGINT) FROM s GROUP BY 1
       |  UNION ALL
       |  SELECT source, 'US_SSN',
       |         CAST(${cnt("US_SSN")} AS BIGINT) FROM s GROUP BY 1),
       |f2 AS (SELECT * FROM f WHERE n > 0),
       |obs AS (SELECT source, list_sort(list(infotype)) AS observed,
       |               sum(n) AS n_findings
       |        FROM f2 GROUP BY 1),
       |sel(field_infotypes, notable_infotype) AS (VALUES
       |  (['EMAIL_ADDRESS'], 'pii_email'),
       |  (['EMAIL_ADDRESS', 'PHONE_NUMBER'], 'pii_contact'),
       |  (['EMAIL_ADDRESS', 'PHONE_NUMBER', 'US_SSN'], 'pii_sensitive'),
       |  (['US_SSN'], 'pii_government')),
       |cl AS (
       |  SELECT o.source, o.observed, o.n_findings, s2.notable_infotype,
       |    row_number() OVER (PARTITION BY o.source
       |      ORDER BY len(s2.field_infotypes), s2.notable_infotype) AS rn
       |  FROM obs o JOIN sel s2
       |    ON len(list_filter(o.observed,
       |         x -> NOT list_contains(s2.field_infotypes, x))) = 0),
       |top AS (SELECT * FROM cl WHERE rn = 1)
       |SELECT 'bigquery/project/p/dataset/lake/' || source AS asset_uri,
       |       '' AS "column", 'pii_classification' AS template_id,
       |       field_id, field_type, field_value
       |FROM (
       |  SELECT source, 'classification_result' AS field_id,
       |         'enum' AS field_type, notable_infotype AS field_value FROM top
       |  UNION ALL
       |  SELECT source, 'n_findings', 'double',
       |         CAST(CAST(n_findings AS BIGINT) AS VARCHAR) FROM top
       |  UNION ALL
       |  SELECT source, 'infotypes', 'richtext',
       |         array_to_string(observed, '<br>') FROM top)
       |ORDER BY asset_uri, field_id""".stripMargin
  }

  // --------------- append-log persistence round trip (q45)

  /** A14's append-log persistence under the oracle gate (q31's pattern
    * for the history sink: what the SINK wrote is read BACK, so the
    * physical append + latest-wins compaction view are what the driver
    * compares): batch 0 seeds two configs, batch 1 appends an update, a
    * create and a tombstone — only delta rows ever written — and the
    * output is [[graft.sched.ConfigStore.readLatest]] over the log files.
    */
  def q45ConfigLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sched.ConfigStore
    def mk(rows: Seq[(String, String, String, String, Long)]): DataFrame =
      rows.toDF("config_uuid", "config_type", "included_uris",
        "config_status", "version")
    val batch0 = mk(Seq(
      ("c1", "DYNAMIC_TAG_TABLE", "u1", "ACTIVE", 1L),
      ("c2", "STATIC_TAG_ASSET", "u2", "ACTIVE", 1L)))
    val delta = mk(Seq(
      ("c1", "DYNAMIC_TAG_TABLE", "u1b", "ACTIVE", 2L),
      ("c3", "DYNAMIC_TAG_COLUMN", "u3", "ACTIVE", 1L)))
      .unionByName(ConfigStore.tombstone(batch0, "c2"))
    // unique dir per invocation: the log is append-mode by contract
    CoreQueries.withTempDir(spark, "graft_q45") { logPath =>
      val logDir = logPath.toString
      ConfigStore.appendDelta(batch0, logDir, batchId = 0L)
      ConfigStore.appendDelta(delta, logDir, batchId = 1L)
      ConfigStore.readLatest(spark, logDir)
        .select("config_uuid", "config_type", "included_uris",
          "config_status", "version")
        .orderBy("config_uuid")
    }
  }

  val q45Oracle: String =
    """SELECT * FROM (VALUES
      |  ('c1', 'DYNAMIC_TAG_TABLE', 'u1b', 'ACTIVE', CAST(2 AS BIGINT)),
      |  ('c3', 'DYNAMIC_TAG_COLUMN', 'u3', 'ACTIVE', CAST(1 AS BIGINT)))
      |  t(config_uuid, config_type, included_uris, config_status, version)
      |ORDER BY config_uuid""".stripMargin

  // --------------- ACID tag-store merge round trip (q48)

  /** The TRANSACTIONAL tag store under the oracle gate (q45's pattern for
    * the ACID layer): three committed jobs — seed, upsert-with-update,
    * all-empty delete — land through
    * [[graft.operators.TagFamilyStore.commitJob]] (data files first, one
    * cut published per job), plus one CRASHED job whose tag batch lands
    * but whose cut never publishes. The output is the committed state
    * read back through the cut — the crashed batch must be invisible,
    * the delete applied, the update visible
    * (DataCatalogController.py:1608–1652's idempotent upsert + :1581–1592
    * delete-when-all-empty).
    */
  def q48AtomicTagStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.TagFamilyStore
    def mk(rows: Seq[(String, String, String)]): DataFrame =
      rows.toDF("asset_uri", "field_id", "field_value")
        .select(col("asset_uri"), lit("").as("column"),
          lit("gov").as("template_id"), col("field_id"),
          lit("string").as("field_type"), col("field_value"))
    def hist(rows: Seq[(String, String, String)]): DataFrame =
      rows.map(_._1).distinct.toDF("asset_name")
        .select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
          col("asset_name"))
    CoreQueries.withTempDir(spark, "graft_q48") { storePath =>
      val root = storePath.toString
      def commit(rows: Seq[(String, String, String)]): Unit =
        TagFamilyStore.commitJob(spark, root, mk(rows), hist(rows))
      commit(Seq(
        ("bigquery/project/p/dataset/lake/orders", "n_rows", "100"),
        ("bigquery/project/p/dataset/lake/orders", "env", "DEV"),
        ("bigquery/project/p/dataset/lake/region", "n_rows", "5")))
      commit(Seq(
        ("bigquery/project/p/dataset/lake/orders", "env", "PROD"),
        ("bigquery/project/p/dataset/lake/nation", "n_rows", "25")))
      // crashed job: its tag batch lands, the cut never publishes
      TagFamilyStore.setTestMidJobHook(root, s =>
        if (s == "tags") throw new RuntimeException("injected job crash"))
      try {
        commit(Seq(("bigquery/project/p/dataset/lake/orders", "env", "GONE")))
        throw new IllegalStateException("q48: the injection must fire")
      } catch {
        case e: RuntimeException
            if e.getMessage == "injected job crash" => ()
      } finally TagFamilyStore.clearTestMidJobHook(root)
      // committed job: all-empty tag instance deletes the region tag
      commit(Seq(("bigquery/project/p/dataset/lake/region", "n_rows", "")))
      TagFamilyStore.readTags(spark, root)
        .select("asset_uri", "field_id", "field_value")
        .orderBy("asset_uri", "field_id")
    }
  }

  val q48Oracle: String =
    """SELECT * FROM (VALUES
      |  ('bigquery/project/p/dataset/lake/nation', 'n_rows', '25'),
      |  ('bigquery/project/p/dataset/lake/orders', 'env', 'PROD'),
      |  ('bigquery/project/p/dataset/lake/orders', 'n_rows', '100'))
      |  t(asset_uri, field_id, field_value)
      |ORDER BY asset_uri, field_id""".stripMargin

  // --------------- policy-tag workflow extension (q46)

  /** Policy-tag workflow parity (extensions/policy_tag_workflow/
    * tag_engine_config.json): the reference wraps a cloud function in a
    * BigQuery remote function and calls it per column —
    * `select remote_functions.policy_tag_reader(…, '\$column')` — to tag
    * each column with the policy tag attached to it. The Spark-native
    * form of that remote lookup is a broadcast taxonomy table: the same
    * `pii_template` column config runs through the (asset × column)
    * grid of [[GroupedEval.applyDynamicColumnConfigSharded]], with the
    * lookup expressed as a scalar subquery over the taxonomy view that
    * `\$column` binding turns into one constant-predicate probe per
    * DISTINCT column (schema-width many, not asset-many — Catalyst
    * evaluates each once and broadcasts the scalar).
    */
  def q46PolicyTagWorkflow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(("user_id", "pii/user_identifier"),
        ("value", "finance/transaction_amount"))
      .toDF("column_name", "policy_tag")
      .createOrReplaceTempView("graft_policy_taxonomy")
    val config = TagConfig(
      configType = "DYNAMIC_TAG_COLUMN", templateId = "pii_template",
      fields = Seq(
        FieldSpec("policy_tag", "string",
          Some("select max(policy_tag) from graft_policy_taxonomy " +
            "where column_name = '$column'")),
        FieldSpec("is_classified", "string",
          Some("select cast(count(*) > 0 as string) " +
            "from graft_policy_taxonomy where column_name = '$column'"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/events_*"),
      includedColumnsQuery = Some("select 'user_id', 'value', 'event_type'"))
    val columns = spark.sql(config.includedColumnsQuery.get)
      .first().toSeq.map(_.toString)
    GroupedEval.applyDynamicColumnConfigSharded(spark, config,
        eventsShardCatalog(spark, 100), Lake.table(spark, dir, "events"),
        eventsShardExpr(100), columns)
      .orderBy("asset_uri", "column", "field_id")
  }

  val q46Oracle: String =
    """WITH tax AS (SELECT * FROM (VALUES
      |    ('user_id', 'pii/user_identifier'),
      |    ('value', 'finance/transaction_amount'))
      |    t(column_name, policy_tag)),
      |shards AS (
      |  SELECT 'events_' || lpad(CAST(r.range AS VARCHAR), 4, '0') AS shard
      |  FROM range(0, 100) r),
      |cols AS (SELECT * FROM (VALUES ('user_id'), ('value'), ('event_type'))
      |         c(column_name)),
      |cells AS (
      |  SELECT 'bigquery/project/p/dataset/lake/' || s.shard AS asset_uri,
      |         c.column_name, t.policy_tag,
      |         CAST(t.policy_tag IS NOT NULL AS VARCHAR) AS is_classified
      |  FROM shards s CROSS JOIN cols c
      |  LEFT JOIN tax t USING (column_name))
      |SELECT asset_uri, column_name AS "column",
      |       'pii_template' AS template_id, field_id, field_type, field_value
      |FROM (
      |  SELECT asset_uri, column_name, 'policy_tag' AS field_id,
      |         'string' AS field_type, policy_tag AS field_value FROM cells
      |  UNION ALL
      |  SELECT asset_uri, column_name, 'is_classified', 'string',
      |         is_classified FROM cells)
      |ORDER BY asset_uri, "column", field_id""".stripMargin

  // --------------- finwire standardization-degree config (q47)

  /** Finwire data-standardization parity (extensions/finwire_tag_configs/
    * finwire_data_standardization.json): a DYNAMIC_TAG_TABLE whose
    * `query_expression` is a multi-CTE statement — unmatched count via
    * `NOT IN` against a reference dimension, total count, and a
    * percentage-of-standardized-rows scalar — fanned across the sharded
    * family by the same correlated rewrite as q30 (both `from \$table`
    * occurrences become shard slices; the reference dimension stays a
    * shared view probed once). `safe_divide` from the reference text maps
    * to `nullif`-guarded division under ANSI mode.
    */
  def q47FinwireStandardization(spark: SparkSession, dir: String): DataFrame = {
    Lake.table(spark, dir, "customer").select(col("c_custkey"))
      .createOrReplaceTempView("graft_ref_customer")
    val config = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "data_standardization",
      fields = Seq(FieldSpec("degree", "double", Some(
        "with finwire_unmatches as (select count(*) as umatched_counts " +
          "from $table where user_id not in " +
          "(select c_custkey from graft_ref_customer)), " +
        "finwire_total as (select count(*) as total_counts from $table) " +
        "select cast(round((total_counts - umatched_counts) * 100.0 / " +
          "nullif(total_counts, 0)) as bigint) as degree " +
        "from finwire_unmatches, finwire_total"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/events_*"))
    // shard-keyed spread (round-20 verdict #2): one exchange, not two
    GroupedEval.applyDynamicTableConfigSharded(spark, config,
        eventsShardCatalog(spark, 200),
        Lake.spread(Lake.table(spark, dir, "events"), eventsShardExpr(200)),
        eventsShardExpr(200))
      .orderBy("asset_uri", "field_id")
  }

  val q47Oracle: String =
    """WITH shards AS (
      |  SELECT 'events_' || lpad(CAST(r.range AS VARCHAR), 4, '0') AS shard
      |  FROM range(0, 200) r),
      |agg AS (
      |  SELECT 'events_' || lpad(CAST(event_id % 200 AS VARCHAR), 4, '0') AS shard,
      |         count(*) AS total_counts,
      |         count(*) FILTER (WHERE user_id NOT IN
      |           (SELECT c_custkey FROM customer)) AS umatched_counts
      |  FROM events GROUP BY 1)
      |SELECT 'bigquery/project/p/dataset/lake/' || s.shard AS asset_uri,
      |       '' AS "column",
      |       'data_standardization' AS template_id, 'degree' AS field_id,
      |       'double' AS field_type,
      |       CAST(CAST(round((total_counts - umatched_counts) * 100.0 /
      |         nullif(total_counts, 0)) AS BIGINT) AS VARCHAR) AS field_value
      |FROM shards s LEFT JOIN agg USING (shard)
      |ORDER BY asset_uri, field_id""".stripMargin

  /** ENTRY_CREATE over a MIXED-format fileset (q37's parquet path plus
    * the CSV branch, DataCatalogController.py:498–578's type sniff):
    * region/nation re-land as header CSVs (the import-shaped round trip
    * FormatsSpec pins), supplier stays parquet, and ONE config tags all
    * three — parquet metadata from driver-side footer reads, CSV
    * `num_cols` from the parsed header and `num_rows` as a distributed
    * count (CSV keeps no footer row count). `size`/timestamps are
    * restricted away: writer-dependent bytes an engine-independent
    * oracle cannot pin.
    */
  def q49EntryCsv(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{ConfigDispatch, EngineInputs}
    val conf = spark.sparkContext.hadoopConfiguration
    CoreQueries.withTempDir(spark, "graft_q49") { tmpPath =>
      val tmp = tmpPath.toString
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
      Seq("region", "nation").foreach { t =>
        val stage = new org.apache.hadoop.fs.Path(s"$tmp/_stage_$t")
        Lake.table(spark, dir, t).coalesce(1)
          .write.mode("overwrite").option("header", true).csv(stage.toString)
        val part = fs.listStatus(stage).map(_.getPath)
          .find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"q49: no csv part file under $stage"))
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$tmp/$t.csv"))
        fs.delete(stage, true)
      }
      val config = TagConfig(
        configType = "ENTRY_CREATE",
        templateId = "file_metadata",
        fields = Seq("name", "type", "num_rows", "num_cols")
          .map(f => FieldSpec(f)),
        includedUris = Seq(s"$tmp/*.csv", s"$dir/supplier.parquet"))
      val none = spark.emptyDataFrame
      ConfigDispatch.applyConfig(spark, config, EngineInputs(none, none))
        .orderBy("asset_uri", "field_id")
    }
  }

  val q49Oracle: String =
    """WITH f AS (
      |  SELECT 'fileset/region' AS asset_uri, 'region.csv' AS name,
      |         'CSV' AS ftype,
      |         (SELECT count(*) FROM region) AS num_rows, 2 AS num_cols
      |  UNION ALL
      |  SELECT 'fileset/nation', 'nation.csv', 'CSV',
      |         (SELECT count(*) FROM nation), 3
      |  UNION ALL
      |  SELECT 'fileset/supplier', 'supplier.parquet', 'PARQUET',
      |         (SELECT count(*) FROM supplier), 4),
      |m AS (
      |  SELECT asset_uri, 'name' AS field_id, 'string' AS field_type,
      |         name AS field_value FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'type', 'enum', ftype FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'num_rows', 'double',
      |         CAST(num_rows AS VARCHAR) FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'num_cols', 'double',
      |         CAST(num_cols AS VARCHAR) FROM f)
      |SELECT asset_uri, '' AS "column", 'file_metadata' AS template_id,
      |       field_id, field_type, field_value
      |FROM m ORDER BY asset_uri, field_id""".stripMargin

  /** ENTRY_CREATE over a JSONL fileset (the format of the reference's
    * catalog backups, BackupFileParser.py:54–126) mixed with parquet:
    * nation re-lands as a `.jsonl` dump, region stays parquet, one
    * config tags both — `num_cols` from the inferred object schema,
    * `num_rows` as a distributed count (JSONL keeps no footer row
    * count, same data-pass shape as q49's CSV branch).
    */
  def q51EntryJsonl(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{ConfigDispatch, EngineInputs}
    val conf = spark.sparkContext.hadoopConfiguration
    CoreQueries.withTempDir(spark, "graft_q51") { tmpPath =>
      val tmp = tmpPath.toString
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
      val stage = new org.apache.hadoop.fs.Path(s"$tmp/_stage_nation")
      Lake.table(spark, dir, "nation").coalesce(1)
        .write.mode("overwrite").json(stage.toString)
      val part = fs.listStatus(stage).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"q51: no json part file under $stage"))
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$tmp/nation.jsonl"))
      fs.delete(stage, true)
      val config = TagConfig(
        configType = "ENTRY_CREATE",
        templateId = "file_metadata",
        fields = Seq("name", "type", "num_rows", "num_cols")
          .map(f => FieldSpec(f)),
        includedUris = Seq(s"$tmp/*.jsonl", s"$dir/region.parquet"))
      val none = spark.emptyDataFrame
      ConfigDispatch.applyConfig(spark, config, EngineInputs(none, none))
        .orderBy("asset_uri", "field_id")
    }
  }

  val q51Oracle: String =
    """WITH f AS (
      |  SELECT 'fileset/nation' AS asset_uri, 'nation.jsonl' AS name,
      |         'JSONL' AS ftype,
      |         (SELECT count(*) FROM nation) AS num_rows, 3 AS num_cols
      |  UNION ALL
      |  SELECT 'fileset/region', 'region.parquet', 'PARQUET',
      |         (SELECT count(*) FROM region), 2),
      |m AS (
      |  SELECT asset_uri, 'name' AS field_id, 'string' AS field_type,
      |         name AS field_value FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'type', 'enum', ftype FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'num_rows', 'double',
      |         CAST(num_rows AS VARCHAR) FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'num_cols', 'double',
      |         CAST(num_cols AS VARCHAR) FROM f)
      |SELECT asset_uri, '' AS "column", 'file_metadata' AS template_id,
      |       field_id, field_type, field_value
      |FROM m ORDER BY asset_uri, field_id""".stripMargin

  /** ENTRY_CREATE over an Avro fileset mixed with parquet: nation
    * re-lands as an Avro container (avro-core writer — the 25-row fixed
    * TPC-H dimension, driver-staged like q49's CSV rename), region stays
    * parquet. Both formats tag from CONTAINER metadata alone: parquet
    * from the footer, Avro from the header schema + per-block record
    * counts — zero data decode either way.
    */
  def q52EntryAvro(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{ConfigDispatch, EngineInputs}
    CoreQueries.withTempDir(spark, "graft_q52") { tmpPath =>
      val tmp = tmpPath.toString
      val rows = Lake.table(spark, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name").cast("string"),
          col("n_regionkey").cast("long"))
        .collect()
      val schema = org.apache.avro.SchemaBuilder.record("nation").fields()
        .requiredLong("n_nationkey").requiredString("n_name")
        .requiredLong("n_regionkey").endRecord()
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](schema))
      try {
        w.create(schema, new java.io.File(s"$tmp/nation.avro"))
        rows.foreach(r => w.append(
          new org.apache.avro.generic.GenericRecordBuilder(schema)
            .set("n_nationkey", r.getLong(0)).set("n_name", r.getString(1))
            .set("n_regionkey", r.getLong(2)).build()))
      } finally w.close() // a failed append must not leak the file handle
      val config = TagConfig(
        configType = "ENTRY_CREATE",
        templateId = "file_metadata",
        fields = Seq("name", "type", "num_rows", "num_cols")
          .map(f => FieldSpec(f)),
        includedUris = Seq(s"$tmp/*.avro", s"$dir/region.parquet"))
      val none = spark.emptyDataFrame
      ConfigDispatch.applyConfig(spark, config, EngineInputs(none, none))
        .orderBy("asset_uri", "field_id")
    }
  }

  val q52Oracle: String =
    """WITH f AS (
      |  SELECT 'fileset/nation' AS asset_uri, 'nation.avro' AS name,
      |         'AVRO' AS ftype,
      |         (SELECT count(*) FROM nation) AS num_rows, 3 AS num_cols
      |  UNION ALL
      |  SELECT 'fileset/region', 'region.parquet', 'PARQUET',
      |         (SELECT count(*) FROM region), 2),
      |m AS (
      |  SELECT asset_uri, 'name' AS field_id, 'string' AS field_type,
      |         name AS field_value FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'type', 'enum', ftype FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'num_rows', 'double',
      |         CAST(num_rows AS VARCHAR) FROM f
      |  UNION ALL
      |  SELECT asset_uri, 'num_cols', 'double',
      |         CAST(num_cols AS VARCHAR) FROM f)
      |SELECT asset_uri, '' AS "column", 'file_metadata' AS template_id,
      |       field_id, field_type, field_value
      |FROM m ORDER BY asset_uri, field_id""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q49_entry_csv", q49EntryCsv _, Some(q49Oracle)),
    ("q51_entry_jsonl", q51EntryJsonl _, Some(q51Oracle)),
    ("q52_entry_avro", q52EntryAvro _, Some(q52Oracle)),
    ("q39_bulk_dynamic_column", q39BulkDynamicColumn _, Some(q39Oracle)),
    ("q40_scheduler_tick_jobs", q40SchedulerTickJobs _, Some(q40Oracle)),
    ("q41_usage_tracking", q41UsageTracking _, Some(q41Oracle)),
    ("q42_query_cookbook", q42QueryCookbook _, Some(q42Oracle)),
    ("q43_product_registration", q43ProductRegistration _, Some(q43Oracle)),
    ("q44_pii_pipeline", q44PiiPipeline _, Some(q44Oracle)),
    ("q45_config_log", q45ConfigLog _, Some(q45Oracle)),
    ("q46_policy_tag_workflow", q46PolicyTagWorkflow _, Some(q46Oracle)),
    ("q47_finwire_standardization", q47FinwireStandardization _, Some(q47Oracle)),
    ("q48_atomic_tag_store", q48AtomicTagStore _, Some(q48Oracle)),
    ("st08_change_retag", st08ChangeRetag _, Some(st08Oracle)))
}
