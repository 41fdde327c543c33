package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lake
import graft.operators.TagOps
import graft.sched.Scheduler
import graft.sources.FileScan
import graft.queries.CoreQueries.Q

/** Tag-engine-parity queries, part 3: scheduler/config store, tag copy,
  * policy tags, rollup, file scan (SURVEY.md §2 H1–H2, A14, C7, C8, D8,
  * A2).
  */
object CoreQueries3 {

  /** Inline config-store fixture (A14/B6 shapes), realized identically as
    * Scala rows and oracle VALUES.
    */
  private val configRows = Seq(
    ("c1", "DYNAMIC_TAG_TABLE", "ACTIVE", "AUTO", "READY", 5L, "2024-03-01 11:00:00", 3L),
    ("c2", "DYNAMIC_TAG_TABLE", "ACTIVE", "AUTO", "READY", 60L, "2024-03-01 13:00:00", 1L),
    ("c3", "STATIC_TAG_ASSET", "ACTIVE", "AUTO", "PAUSED", 5L, "2024-03-01 10:00:00", 7L),
    ("c4", "GLOSSARY_TAG_ASSET", "INACTIVE", "AUTO", "READY", 5L, "2024-03-01 10:00:00", 2L),
    ("c5", "DYNAMIC_TAG_COLUMN", "ACTIVE", "ON_DEMAND", "READY", 0L, "2024-03-01 09:00:00", 1L),
    ("c6", "EXPORT_TAGS", "ACTIVE", "AUTO", "READY", 1440L, "2024-03-01 12:00:00", 9L))

  private val nowLit = "2024-03-01 12:00:00"

  private def configsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    configRows.toDF("config_uuid", "config_type", "config_status",
        "refresh_mode", "scheduling_status", "refresh_frequency_minutes",
        "next_run_s", "version")
      .withColumn("next_run", to_timestamp(col("next_run_s")))
      .drop("next_run_s")
  }

  private val configsCte: String = {
    val values = configRows.map { case (u, t, s, m, ss, f, nr, v) =>
      s"('$u','$t','$s','$m','$ss',$f,TIMESTAMP '$nr',$v)"
    }.mkString(", ")
    s"""configs(config_uuid, config_type, config_status, refresh_mode,
       |        scheduling_status, refresh_frequency_minutes, next_run, version)
       |  AS (VALUES $values)""".stripMargin
  }

  /** H1: the AUTO scheduler's due-config selection. */
  def q19ReadyConfigs(spark: SparkSession, dir: String): DataFrame =
    Scheduler.readReadyConfigs(configsDf(spark),
        to_timestamp(lit(nowLit)))
      .select("config_uuid", "config_type", "next_run", "version")
      .orderBy("config_uuid")

  val q19Oracle: String =
    s"""WITH $configsCte
       |SELECT config_uuid, config_type, next_run, version FROM configs
       |WHERE refresh_mode = 'AUTO' AND config_status = 'ACTIVE'
       |  AND scheduling_status = 'READY' AND next_run <= TIMESTAMP '$nowLit'
       |ORDER BY config_uuid""".stripMargin

  /** H2: next_run = now + frequency, version += 1 for launched configs
    * only (the now-anchor is the reference's utcnow()+delta,
    * TagEngineStoreHandler.py:296–301).
    */
  def q20NextRunAdvance(spark: SparkSession, dir: String): DataFrame = {
    val configs = configsDf(spark)
    val launched = Scheduler.readReadyConfigs(configs, to_timestamp(lit(nowLit)))
    Scheduler.advanceNextRun(configs, launched, to_timestamp(lit(nowLit)))
      .select("config_uuid", "next_run", "version")
      .orderBy("config_uuid")
  }

  val q20Oracle: String =
    s"""WITH $configsCte
       |SELECT config_uuid,
       |  CASE WHEN refresh_mode = 'AUTO' AND config_status = 'ACTIVE'
       |            AND scheduling_status = 'READY'
       |            AND next_run <= TIMESTAMP '$nowLit'
       |       THEN TIMESTAMP '$nowLit'
       |            + refresh_frequency_minutes * INTERVAL 1 MINUTE
       |       ELSE next_run END AS next_run,
       |  CASE WHEN refresh_mode = 'AUTO' AND config_status = 'ACTIVE'
       |            AND scheduling_status = 'READY'
       |            AND next_run <= TIMESTAMP '$nowLit'
       |       THEN version + 1 ELSE version END AS version
       |FROM configs ORDER BY config_uuid""".stripMargin

  /** Derived tags fixture for the copy test: entry-level + column-level
    * tags over the first documents.
    */
  private def tagsDf(spark: SparkSession, dir: String): DataFrame = {
    val d = Lake.table(spark, dir, "documents").filter(col("doc_id") < 6)
    val entry = d.select(
      concat(lit("doc_"), col("doc_id")).as("asset_uri"),
      lit("").as("column"), lit("t").as("template_id"),
      lit("owner").as("field_id"), col("lang").as("field_value"))
    val column = d.select(
      concat(lit("doc_"), col("doc_id")).as("asset_uri"),
      concat(lit("c"), col("doc_id") % 3).as("column"),
      lit("t").as("template_id"),
      lit("pii").as("field_id"), col("source").as("field_value"))
    entry.unionByName(column)
  }

  private val tagsCte: String =
    """tags AS (
      |  SELECT 'doc_' || doc_id AS asset_uri, '' AS "column", 't' AS template_id,
      |         'owner' AS field_id, lang AS field_value
      |  FROM documents WHERE doc_id < 6
      |  UNION ALL
      |  SELECT 'doc_' || doc_id, 'c' || (doc_id % 3), 't', 'pii', source
      |  FROM documents WHERE doc_id < 6)""".stripMargin

  /** C7: copy doc_3's tags onto doc_1 — column-level tags only where the
    * target has the column; copied tags override same-key existing ones.
    */
  def q21TagCopy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tgtCols = Seq("c0", "c1").toDF("column_name")
    TagOps.copyTags(tagsDf(spark, dir), "doc_3", "doc_1", tgtCols)
      .filter(col("asset_uri").isin("doc_1", "doc_3"))
      .orderBy("asset_uri", "column", "field_id")
  }

  val q21Oracle: String =
    s"""WITH $tagsCte,
       |src AS (
       |  SELECT 'doc_1' AS asset_uri, "column", template_id, field_id, field_value
       |  FROM tags WHERE asset_uri = 'doc_3'
       |    AND ("column" = '' OR "column" IN ('c0', 'c1'))),
       |kept AS (
       |  SELECT t.* FROM tags t WHERE NOT EXISTS (
       |    SELECT 1 FROM src s WHERE s.asset_uri = t.asset_uri
       |      AND s."column" = t."column" AND s.template_id = t.template_id
       |      AND s.field_id = t.field_id))
       |SELECT * FROM (SELECT * FROM kept UNION ALL SELECT * FROM src)
       |WHERE asset_uri IN ('doc_1', 'doc_3')
       |ORDER BY asset_uri, "column", field_id""".stripMargin

  /** update_tag_subset (main.py:2868–2912 → DataCatalogController
    * `update_tag_subset`): overwrite ONLY the provided fields of one
    * existing tag — here doc_2's entry-level `owner` plus a new `status`
    * field — leaving every untouched field (doc_2's column-level `pii`,
    * every other asset's tags) exactly in place.
    */
  def q50UpdateTagSubset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Seq(("", "owner", "governance-team"), ("", "status", "VERIFIED"))
      .toDF("column", "field_id", "field_value")
    TagOps.updateTagSubset(tagsDf(spark, dir), "doc_2", "t", updates)
      .orderBy("asset_uri", "column", "field_id")
  }

  val q50Oracle: String =
    s"""WITH $tagsCte,
       |upd AS (
       |  SELECT 'doc_2' AS asset_uri, '' AS "column", 't' AS template_id,
       |         'owner' AS field_id, 'governance-team' AS field_value
       |  UNION ALL
       |  SELECT 'doc_2', '', 't', 'status', 'VERIFIED'),
       |kept AS (
       |  SELECT t.* FROM tags t WHERE NOT EXISTS (
       |    SELECT 1 FROM upd s WHERE s.asset_uri = t.asset_uri
       |      AND s."column" = t."column" AND s.template_id = t.template_id
       |      AND s.field_id = t.field_id))
       |SELECT * FROM (SELECT * FROM kept UNION ALL SELECT * FROM upd)
       |ORDER BY asset_uri, "column", field_id""".stripMargin

  /** C8: policy-tag schema annotation over the real lineitem schema
    * (schema from parquet footers; requests inline; unknown request
    * columns dropped by the existence check).
    */
  def q22PolicyTags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schemaCols = Lake.table(spark, dir, "lineitem").schema.fields
      .map(f => (f.name, f.dataType.simpleString)).toSeq
      .toDF("column_name", "data_type")
    val requests = Seq(
      ("l_extendedprice", "taxonomies/1/policyTags/financial"),
      ("l_discount", "taxonomies/1/policyTags/financial"),
      ("no_such_column", "taxonomies/1/policyTags/orphan"))
      .toDF("column_name", "policy_tag")
    TagOps.annotatePolicyTags(schemaCols, requests).orderBy("column_name")
  }

  val q22Oracle: String =
    """WITH sc(column_name, data_type) AS (VALUES
      |  ('l_orderkey','bigint'), ('l_partkey','bigint'), ('l_suppkey','bigint'),
      |  ('l_linenumber','int'), ('l_quantity','double'),
      |  ('l_extendedprice','double'), ('l_discount','double'), ('l_tax','double'),
      |  ('l_returnflag','string'), ('l_linestatus','string'),
      |  ('l_shipdate','timestamp_ntz')),
      |req(column_name, policy_tag) AS (VALUES
      |  ('l_extendedprice','taxonomies/1/policyTags/financial'),
      |  ('l_discount','taxonomies/1/policyTags/financial'),
      |  ('no_such_column','taxonomies/1/policyTags/orphan'))
      |SELECT sc.column_name, sc.data_type,
      |       coalesce(req.policy_tag, '') AS policy_tag
      |FROM sc LEFT OUTER JOIN req USING (column_name)
      |ORDER BY column_name""".stripMargin

  /** D8: rollup aggregation (permitted by the query_expression surface;
    * free via Catalyst).
    */
  def q23Rollup(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "orders")
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"))
      .orderBy("priority", "status")

  val q23Oracle: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n
      |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** D8 (cube): full grouping-set lattice over two dims with an exact
    * decimal measure — the other half of the grouping-sets surface next to
    * q23's rollup, equally free via Catalyst's Expand operator.
    */
  def q29Cube(spark: SparkSession, dir: String): DataFrame =
    Lake.table(spark, dir, "orders")
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("sum_price"))
      .orderBy("priority", "status")

  val q29Oracle: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** A2: filesystem glob scan — the lake manifest recovered from the store
    * itself (Hadoop FS; same path works against gs:// with the connector).
    */
  def q24FileScan(spark: SparkSession, dir: String): DataFrame =
    FileScan.listFiles(spark, s"$dir/*.parquet")
      .select("name").orderBy("name")

  val q24Oracle: String = {
    val values = Lake.tableNames.sorted.map(t => s"('$t.parquet')").mkString(", ")
    s"""SELECT name FROM (VALUES $values) AS t(name) ORDER BY name"""
  }

  /** §3.1/§3.2 end-to-end: dynamic-table config over TWO assets (orders,
    * lineitem) — expand → combined-query eval with `$table` substitution +
    * a static field → melt to tag rows.
    */
  def q25E2eDynamic(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.{FieldSpec, TagConfig}
    import graft.operators.TagEngine
    Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    val config = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(
        FieldSpec("n_rows", "double", Some("select count(*) from $table")),
        FieldSpec("env", "enum", None, Some("PROD")),
        FieldSpec("asset_label", "string",
          Some("select concat('$dataset', '.', '$table')"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/orders",
        "bigquery/project/p/dataset/lake/lineitem"))
    TagEngine.applyDynamicTableConfig(spark, config, catalog)
      .orderBy("asset_uri", "field_id")
  }

  val q25Oracle: String = {
    def asset(t: String): String =
      s"""SELECT 'bigquery/project/p/dataset/lake/$t' AS asset_uri, '' AS "column",
         |  'gov' AS template_id, 'n_rows' AS field_id, 'double' AS field_type,
         |  CAST((SELECT count(*) FROM $t) AS VARCHAR) AS field_value
         |UNION ALL
         |SELECT 'bigquery/project/p/dataset/lake/$t', '', 'gov', 'env', 'enum', 'PROD'
         |UNION ALL
         |SELECT 'bigquery/project/p/dataset/lake/$t', '', 'gov', 'asset_label',
         |  'string', 'lake.$t'""".stripMargin
    s"""${asset("orders")}
       |UNION ALL
       |${asset("lineitem")}
       |ORDER BY asset_uri, field_id""".stripMargin
  }

  /** Dynamic-column config: `included_columns_query` + `$column`
    * substitution (FIXTURES.md §1.2) over lineitem.
    */
  def q26DynamicColumn(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.{AssetUri, FieldSpec, TagConfig}
    import graft.operators.TagEngine
    Lake.registerAll(spark, dir)
    val config = TagConfig(
      configType = "DYNAMIC_TAG_COLUMN", templateId = "profile",
      fields = Seq(
        FieldSpec("ndv", "double",
          Some("select count(distinct $column) from $table")),
        FieldSpec("min_value", "string",
          Some("select cast(cast(min($column) as decimal(18,2)) as string) from $table"))),
      includedColumnsQuery = Some("select 'l_quantity', 'l_discount'"))
    val uri = AssetUri("bigquery", "p", Some("lake"), Some("lineitem"), None)
    TagEngine.applyDynamicColumnConfig(spark, config, uri)
      .orderBy("column", "field_id")
  }

  val q26Oracle: String = {
    def one(c: String): String =
      s"""SELECT 'bigquery/project/p/dataset/lake/lineitem' AS asset_uri,
         |  '$c' AS "column", 'profile' AS template_id, 'ndv' AS field_id,
         |  'double' AS field_type,
         |  CAST((SELECT count(DISTINCT $c) FROM lineitem) AS VARCHAR) AS field_value
         |UNION ALL
         |SELECT 'bigquery/project/p/dataset/lake/lineitem', '$c', 'profile',
         |  'min_value', 'string',
         |  CAST(CAST((SELECT min($c) FROM lineitem) AS DECIMAL(18,2)) AS VARCHAR)"""
        .stripMargin
    s"""${one("l_quantity")}
       |UNION ALL
       |${one("l_discount")}
       |ORDER BY "column", field_id""".stripMargin
  }

  /** Same pipeline as q25 but driven from a reference-shaped JSON config
    * document (FIXTURES.md §1.1) through ConfigIO — a user of the
    * reference can feed their config files unchanged.
    */
  def q27ConfigJson(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.ConfigIO
    import graft.operators.TagEngine
    Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    val config = ConfigIO.parse(
      """{
        | "config_type": "DYNAMIC_TAG_TABLE", "template_id": "gov",
        | "fields": [
        |   {"field_id": "n_rows", "field_type": "double",
        |    "query_expression": "select count(*) from $table"},
        |   {"field_id": "env", "field_type": "enum", "field_value": "PROD"},
        |   {"field_id": "asset_label", "field_type": "string",
        |    "query_expression": "select concat('$dataset', '.', '$table')"}
        | ],
        | "included_tables_uris": "bigquery/project/p/dataset/lake/orders, bigquery/project/p/dataset/lake/lineitem",
        | "refresh_mode": "ON_DEMAND"
        |}""".stripMargin)
    TagEngine.applyDynamicTableConfig(spark, config, catalog)
      .orderBy("asset_uri", "field_id")
  }

  /** Skew-salted join under the correctness gate: 90% of lineitem rows
    * share one hot key; the salted plan must produce EXACTLY the plain
    * join's result — the oracle is the plain join.
    */
  def q28SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Skew
    val big = Lake.table(spark, dir, "lineitem")
      .withColumn("k", when(col("l_orderkey") % 10 < 9, lit(1L))
        .otherwise(col("l_suppkey")))
      .select("k", "l_quantity")
    val dim = Seq((1L, "hot"), (2L, "cold"), (7L, "warm")).toDF("k", "v")
    Skew.saltedJoin(big, dim, Seq("k"), salts = 8,
        bigUnique = col("l_quantity") * 100)
      .groupBy("v")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy("v")
  }

  val q28Oracle: String =
    """WITH big AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 1 ELSE l_suppkey END AS k,
      |         l_quantity
      |  FROM lineitem),
      |dim(k, v) AS (VALUES (1, 'hot'), (2, 'cold'), (7, 'warm'))
      |SELECT v, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM big JOIN dim USING (k)
      |GROUP BY v ORDER BY v""".stripMargin

  /** H3 at load-test scale (examples/load/configs/static_asset_1m.json,
    * TaskManager.py:49 1000-task shards): a dynamic-table config over a
    * 1000-asset SHARDED family — the events table as 1000 BQ-style shard
    * assets `events_0000…events_0999` — evaluated set-based by
    * [[graft.operators.GroupedEval]]: ONE statement of correlated scalar
    * subqueries, O(#fields) Spark jobs regardless of asset count
    * (TagEngineSpec asserts the job-count invariance; the round-2 form
    * built 1000 driver-side plans).
    */
  def q30BulkDynamic(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.{FieldSpec, TagConfig}
    import graft.operators.GroupedEval
    import spark.implicits._
    val catalog = CoreQueries5.eventsShardCatalog(spark, 1000)
    val config = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(
        FieldSpec("n_rows", "double", Some("select count(*) from $table")),
        FieldSpec("n_users", "double",
          Some("select count(distinct user_id) from $table")),
        FieldSpec("total_value", "string",
          Some("select cast(sum(cast(value as decimal(18,2))) as string) " +
            "from $table")),
        FieldSpec("clicks", "double",
          Some("select count(*) from $table where event_type = 'click'")),
        FieldSpec("avg_daily", "string",
          Some("select cast(ifnull(round(avg(daily), 2), 0) as decimal(18,2)) " +
            "from (select cast(ts as date) as d, count(*) as daily " +
            "from $table group by d)")),
        FieldSpec("asset_label", "string",
          Some("select concat('$dataset', '.', '$table')")),
        FieldSpec("env", "enum", None, Some("PROD"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/events_*"))
    // spread keyed on the SHARD expression, not event_id (round-20
    // verdict #2): the sharded eval's per-shard aggregation requires a
    // hash distribution on __graft_shard (= this expression), and the
    // alias-aware partitioning of the projection above the spread
    // satisfies it — ONE exchange between scan and aggregate, where an
    // event_id spread inserted a shuffle the aggregation's own exchange
    // immediately superseded (two full-data shuffles)
    GroupedEval.applyDynamicTableConfigSharded(spark, config, catalog,
        Lake.spread(Lake.table(spark, dir, "events"),
          CoreQueries5.eventsShardExpr(1000)),
        CoreQueries5.eventsShardExpr(1000))
      .orderBy("asset_uri", "field_id")
  }

  val q30Oracle: String =
    """WITH shards AS (
      |  SELECT 'events_' || lpad(CAST(r.range AS VARCHAR), 4, '0') AS shard
      |  FROM range(0, 1000) r),
      |agg AS (
      |  SELECT 'events_' || lpad(CAST(event_id % 1000 AS VARCHAR), 4, '0') AS shard,
      |         count(*) AS n_rows,
      |         count(DISTINCT user_id) AS n_users,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total_value,
      |         count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks
      |  FROM events GROUP BY 1),
      |daily AS (
      |  SELECT shard, CAST(ifnull(round(avg(daily), 2), 0) AS DECIMAL(18,2)) AS avg_daily
      |  FROM (
      |    SELECT 'events_' || lpad(CAST(event_id % 1000 AS VARCHAR), 4, '0') AS shard,
      |           CAST(ts AS DATE) AS d, count(*) AS daily
      |    FROM events GROUP BY 1, 2)
      |  GROUP BY shard),
      |assets AS (
      |  SELECT 'bigquery/project/p/dataset/lake/' || s.shard AS asset_uri,
      |         coalesce(a.n_rows, 0) AS n_rows,
      |         coalesce(a.n_users, 0) AS n_users,
      |         a.total_value,
      |         coalesce(a.clicks, 0) AS clicks,
      |         coalesce(d.avg_daily, CAST(0 AS DECIMAL(18,2))) AS avg_daily,
      |         'lake.' || s.shard AS asset_label
      |  FROM shards s
      |  LEFT JOIN agg a USING (shard) LEFT JOIN daily d ON d.shard = s.shard)
      |SELECT asset_uri, '' AS "column", 'gov' AS template_id, field_id,
      |       field_type, field_value
      |FROM (
      |  SELECT asset_uri, 'n_rows' AS field_id, 'double' AS field_type,
      |         CAST(n_rows AS VARCHAR) AS field_value FROM assets
      |  UNION ALL
      |  SELECT asset_uri, 'n_users', 'double', CAST(n_users AS VARCHAR) FROM assets
      |  UNION ALL
      |  SELECT asset_uri, 'total_value', 'string', total_value FROM assets
      |  UNION ALL
      |  SELECT asset_uri, 'clicks', 'double', CAST(clicks AS VARCHAR) FROM assets
      |  UNION ALL
      |  SELECT asset_uri, 'avg_daily', 'string', CAST(avg_daily AS VARCHAR) FROM assets
      |  UNION ALL
      |  SELECT asset_uri, 'asset_label', 'string', asset_label FROM assets
      |  UNION ALL
      |  SELECT asset_uri, 'env', 'enum', 'PROD' FROM assets)
      |ORDER BY asset_uri, field_id""".stripMargin

  /** A11 wired through the job lifecycle (DataCatalogController.py:324–327
    * → BigQueryUtils.py:391–440): a tag_history=true dynamic config run
    * through the job terminal (`TagFamilyStore.commitComputed`) appends
    * its history rows to the family store's history part under the job's
    * cut — this query reads BACK what the commit published
    * (singular-segment asset name, typed field columns, the UTC
    * event_date day column), so the atomic history append itself is
    * under the oracle gate.
    */
  def q31JobHistory(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.{FieldSpec, TagConfig}
    import graft.operators.{TagEngine, TagFamilyStore}
    Lake.registerAll(spark, dir)
    val catalog = {
      import spark.implicits._
      Lake.tableNames.map(t => ("p", "lake", t))
        .toDF("project", "dataset", "table")
    }
    val config = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(
        FieldSpec("n_rows", "double", Some("select count(*) from $table")),
        FieldSpec("env", "enum", None, Some("PROD"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/region",
        "bigquery/project/p/dataset/lake/nation"),
      tagHistory = true)
    // unique root per invocation: every job appends to the store's history
    CoreQueries.withTempDir(spark, "graft_hist") { root =>
      TagFamilyStore.commitComputed(spark, root.toString, config,
        TagEngine.applyDynamicTableConfig(spark, config, catalog),
        lit("2024-03-01 12:00:00").cast("timestamp"), lit("job-1"))
      TagFamilyStore.readHistory(spark, root.toString)
        .select("event_time", "asset_name", "job_uuid", "n_rows", "env",
          "event_date")
        .orderBy("asset_name")
    }
  }

  val q31Oracle: String =
    """SELECT TIMESTAMP '2024-03-01 12:00:00' AS event_time,
      |       'p/dataset/lake/table/nation' AS asset_name,
      |       'job-1' AS job_uuid,
      |       CAST((SELECT count(*) FROM nation) AS DOUBLE) AS n_rows,
      |       'PROD' AS env, DATE '2024-03-01' AS event_date
      |UNION ALL
      |SELECT TIMESTAMP '2024-03-01 12:00:00', 'p/dataset/lake/table/region',
      |       'job-1', CAST((SELECT count(*) FROM region) AS DOUBLE), 'PROD',
      |       DATE '2024-03-01'
      |ORDER BY asset_name""".stripMargin

  /** Mixed-type catalog fixture shared by the Spark query and the oracle
    * VALUES (A1 extended to fileset/spanner entries, constants.py:17–23,
    * DataCatalogController.py:1240–1292).
    */
  private val mixedCatalogRows = Seq(
    ("bigquery", "p", "lake", "orders", ""),
    ("bigquery", "p", "lake", "lineitem", ""),
    ("fileset", "p", "sakila_eg", "staff", ""),
    ("fileset", "p", "sakila_eg", "film", ""),
    ("fileset", "p", "other_eg", "logs", ""),
    ("spanner", "p", "salesdb", "accounts", "prod"),
    ("spanner", "p", "salesdb", "orders_s", "prod"),
    ("spanner", "p", "testdb", "accounts", "dev"))

  /** Expansion over a TYPED catalog: bigquery + fileset + spanner URI
    * shapes (incl. a fileset wildcard and a spanner exclusion) resolved in
    * one narrow filter, URIs rendered set-based per type.
    */
  def q32MixedCatalog(spark: SparkSession, dir: String): DataFrame = {
    import graft.expand.Expander
    import spark.implicits._
    val cat = mixedCatalogRows
      .toDF("asset_type", "project", "dataset", "table", "instance")
    Expander.expand(cat,
        included = Seq(
          "bigquery/project/p/dataset/lake/orders",
          "fileset/project/p/entry_group/sakila_eg/*",
          "spanner/project/p/instance/prod/database/salesdb/*"),
        excluded = Seq(
          "spanner/project/p/instance/prod/database/salesdb/orders_s"))
      .select(Expander.renderUri(col("asset_type"), col("project"),
          col("dataset"), col("table"), col("instance")).as("asset_uri"),
        col("asset_type"))
      .orderBy("asset_uri")
  }

  val q32Oracle: String = {
    val values = mixedCatalogRows.map { case (ty, p, d, t, i) =>
      s"('$ty','$p','$d','$t','$i')"
    }.mkString(", ")
    s"""WITH cat(asset_type, project, dataset, "table", instance) AS (
       |  VALUES $values)
       |SELECT CASE asset_type
       |  WHEN 'bigquery' THEN 'bigquery/project/' || project || '/dataset/'
       |    || dataset || '/' || "table"
       |  WHEN 'fileset' THEN 'fileset/project/' || project || '/entry_group/'
       |    || dataset || '/' || "table"
       |  ELSE 'spanner/project/' || project || '/instance/' || instance
       |    || '/database/' || dataset || '/' || "table" END AS asset_uri,
       |  asset_type
       |FROM cat
       |WHERE ((asset_type = 'bigquery' AND project = 'p'
       |        AND dataset = 'lake' AND "table" = 'orders')
       |   OR (asset_type = 'fileset' AND project = 'p'
       |       AND dataset = 'sakila_eg')
       |   OR (asset_type = 'spanner' AND project = 'p'
       |       AND instance = 'prod' AND dataset = 'salesdb'))
       |  AND NOT (asset_type = 'spanner' AND project = 'p'
       |       AND instance = 'prod' AND dataset = 'salesdb'
       |       AND "table" = 'orders_s')
       |ORDER BY asset_uri""".stripMargin
  }

  /** A14 store round trip: write configs → md5-identity dedupe/supersede →
    * read_ready. Fixture shared with the oracle as VALUES; c3 re-creates
    * c1's content (same template+type+uris ⇒ same md5 ⇒ c1 flips INACTIVE,
    * c3 restarts at version 1 — TagEngineStoreHandler.py:420 re-creates at
    * `'version': 1`; version counts runs, not re-creations), c4 is novel
    * content.
    */
  private val storeRows = Seq(
    // uuid, type, template, uris, status, mode, sched, freq, next_run, ver
    ("c1", "DYNAMIC_TAG_TABLE", "gov", "bigquery/project/p/dataset/lake/orders",
      "ACTIVE", "AUTO", "READY", 60L, "2024-03-01 10:00:00", 1L),
    ("c2", "STATIC_TAG_ASSET", "ops", "bigquery/project/p/dataset/lake/*",
      "ACTIVE", "AUTO", "READY", 60L, "2024-03-01 13:00:00", 1L))

  private val incomingRows = Seq(
    ("c3", "DYNAMIC_TAG_TABLE", "gov", "bigquery/project/p/dataset/lake/orders",
      "ACTIVE", "AUTO", "READY", 60L, "2024-03-01 11:00:00", 0L),
    ("c4", "DYNAMIC_TAG_COLUMN", "profile", "bigquery/project/p/dataset/lake/lineitem",
      "ACTIVE", "ON_DEMAND", "READY", 0L, "2024-03-01 09:00:00", 0L))

  private val storeNow = "2024-03-01 12:00:00"

  private def storeDf(spark: SparkSession,
                      rows: Seq[(String, String, String, String, String,
                        String, String, Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("config_uuid", "config_type", "template_id", "included_uris",
        "config_status", "refresh_mode", "scheduling_status",
        "refresh_frequency_minutes", "next_run_s", "version")
      .withColumn("next_run", to_timestamp(col("next_run_s")))
      .drop("next_run_s")
  }

  def q33ConfigStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.sched.ConfigStore
    val created = ConfigStore.create(storeDf(spark, storeRows),
      storeDf(spark, incomingRows))
    val ready = Scheduler.readReadyConfigs(created,
        to_timestamp(lit(storeNow)))
      .select(col("config_uuid")).withColumn("is_ready", lit(true))
    created.join(ready, Seq("config_uuid"), "left_outer")
      .select(col("config_uuid"), col("config_type"), col("content_md5"),
        col("version"), col("config_status"),
        coalesce(col("is_ready"), lit(false)).as("is_ready"))
      .orderBy("config_uuid")
  }

  val q33Oracle: String = {
    def values(rows: Seq[(String, String, String, String, String, String,
        String, Long, String, Long)]): String =
      rows.map { case (u, t, tm, uri, s, m, ss, f, nr, v) =>
        s"('$u','$t','$tm','$uri','$s','$m','$ss',$f,TIMESTAMP '$nr',$v)"
      }.mkString(", ")
    s"""WITH store(config_uuid, config_type, template_id, included_uris,
       |           config_status, refresh_mode, scheduling_status,
       |           refresh_frequency_minutes, next_run, version) AS (
       |  VALUES ${values(storeRows)}),
       |inc(config_uuid, config_type, template_id, included_uris,
       |    config_status, refresh_mode, scheduling_status,
       |    refresh_frequency_minutes, next_run, version) AS (
       |  VALUES ${values(incomingRows)}),
       |store_m AS (SELECT *, md5(coalesce(template_id,'<null>') || '|'
       |  || coalesce(config_type,'<null>') || '|'
       |  || coalesce(included_uris,'<null>')) AS content_md5 FROM store),
       |inc_m AS (SELECT *, md5(coalesce(template_id,'<null>') || '|'
       |  || coalesce(config_type,'<null>') || '|'
       |  || coalesce(included_uris,'<null>')) AS content_md5 FROM inc),
       |inc_v AS (SELECT config_uuid, config_type, template_id,
       |    included_uris, config_status, refresh_mode,
       |    scheduling_status, refresh_frequency_minutes, next_run,
       |    1 AS version, content_md5
       |  FROM inc_m),
       |final AS (
       |  SELECT config_uuid, config_type, content_md5, version,
       |         CASE WHEN content_md5 IN (SELECT content_md5 FROM inc_v)
       |              THEN 'INACTIVE' ELSE config_status END AS config_status,
       |         refresh_mode, scheduling_status, next_run
       |  FROM store_m
       |  UNION ALL
       |  SELECT config_uuid, config_type, content_md5, version,
       |         config_status, refresh_mode, scheduling_status, next_run
       |  FROM inc_v)
       |SELECT config_uuid, config_type, content_md5, version, config_status,
       |  (refresh_mode = 'AUTO' AND config_status = 'ACTIVE'
       |   AND scheduling_status = 'READY'
       |   AND next_run <= TIMESTAMP '$storeNow') AS is_ready
       |FROM final ORDER BY config_uuid""".stripMargin
  }

  /** H1+H2+JobManager.create_job as ONE set-based statement — the whole
    * `/scheduled_auto_updates` tick (main.py:3075–3110): due configs each
    * produce a PENDING job row (deterministic job identity =
    * md5(config_uuid|version) — the md5-identity convention of
    * TaskManager.py:66–80) alongside the advanced next_run/version state
    * the MERGE writes back. One filter + one projection; no per-config
    * loop at any config-store size.
    */
  def q38SchedulerTick(spark: SparkSession, dir: String): DataFrame =
    Scheduler.readReadyConfigs(configsDf(spark), to_timestamp(lit(nowLit)))
      .select(col("config_uuid"), col("config_type"),
        md5(concat_ws("|", col("config_uuid"), col("version"))).as("job_uuid"),
        lit("PENDING").as("job_status"),
        timestamp_add("MINUTE", col("refresh_frequency_minutes"),
          to_timestamp(lit(nowLit))).as("next_run"),
        (col("version") + 1).as("version"))
      .orderBy("config_uuid")

  val q38Oracle: String =
    s"""WITH $configsCte
       |SELECT config_uuid, config_type,
       |  md5(config_uuid || '|' || CAST(version AS VARCHAR)) AS job_uuid,
       |  'PENDING' AS job_status,
       |  TIMESTAMP '$nowLit' + refresh_frequency_minutes * INTERVAL 1 MINUTE
       |    AS next_run,
       |  version + 1 AS version
       |FROM configs
       |WHERE refresh_mode = 'AUTO' AND config_status = 'ACTIVE'
       |  AND scheduling_status = 'READY'
       |  AND next_run <= TIMESTAMP '$nowLit'
       |ORDER BY config_uuid""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q30_bulk_dynamic", q30BulkDynamic _, Some(q30Oracle)),
    ("q38_scheduler_tick", q38SchedulerTick _, Some(q38Oracle)),
    ("q31_job_history", q31JobHistory _, Some(q31Oracle)),
    ("q32_mixed_catalog", q32MixedCatalog _, Some(q32Oracle)),
    ("q33_config_store", q33ConfigStore _, Some(q33Oracle)),
    ("q25_e2e_dynamic", q25E2eDynamic _, Some(q25Oracle)),
    ("q27_config_json", q27ConfigJson _, Some(q25Oracle)),
    ("q28_salted_join", q28SaltedJoin _, Some(q28Oracle)),
    ("q26_dynamic_column", q26DynamicColumn _, Some(q26Oracle)),
    ("q19_ready_configs", q19ReadyConfigs _, Some(q19Oracle)),
    ("q20_next_run_advance", q20NextRunAdvance _, Some(q20Oracle)),
    ("q21_tag_copy", q21TagCopy _, Some(q21Oracle)),
    ("q50_update_tag_subset", q50UpdateTagSubset _, Some(q50Oracle)),
    ("q22_policy_tags", q22PolicyTags _, Some(q22Oracle)),
    ("q23_rollup", q23Rollup _, Some(q23Oracle)),
    ("q29_cube", q29Cube _, Some(q29Oracle)),
    ("q24_file_scan", q24FileScan _, Some(q24Oracle)))
}
