package graft

import org.apache.spark.sql.functions._
import graft.model.{FieldSpec, TagConfig}
import graft.obs.SparkWork
import graft.operators.{ConfigDispatch, EngineInputs, GroupedEval, TagEngine,
  TagFamilyStore}

/** §3.1 end-to-end job semantics: overwrite gate + merge into state. */
class TagEngineSpec extends SparkSpec {
  import spark.implicits._

  private def catalog = Lake.tableNames.map(t => ("p", "lake", t))
    .toDF("project", "dataset", "table")

  private val config = TagConfig(
    configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
    fields = Seq(FieldSpec("n_rows", "double",
      Some("select count(*) from $table"))),
    includedUris = Seq("bigquery/project/p/dataset/lake/region",
      "bigquery/project/p/dataset/lake/nation"))

  test("empty include-exclude expansion yields an empty tag-row frame, not a crash") {
    Lake.registerAll(spark, sf)
    val noMatch = config.copy(
      includedUris = Seq("bigquery/project/p/dataset/lake/no_such_table"))
    val out = TagEngine.applyDynamicTableConfig(spark, noMatch, catalog)
    assert(out.columns.toSeq === Seq("asset_uri", "column", "template_id",
      "field_id", "field_type", "field_value"))
    assert(out.count() === 0)
  }

  /** One job of `cfg` through the family store's job terminal, on a
    * store seeded with region=999 under the config's template; returns
    * the resulting tag state as asset_uri -> field_value.
    */
  private def jobOnSeededStore(cfg: TagConfig): Map[String, String] = {
    val root = java.nio.file.Files.createTempDirectory("graft_tagjob").toString
    val seed = Seq(("bigquery/project/p/dataset/lake/region", "", "gov",
        "n_rows", "double", "999"))
      .toDF("asset_uri", "column", "template_id", "field_id", "field_type",
        "field_value")
    TagFamilyStore.commitJob(spark, root, seed,
      TagEngine.historyRows(seed, cfg, current_timestamp(), lit("seed")))
    TagFamilyStore.commitComputed(spark, root, cfg,
      TagEngine.applyDynamicTableConfig(spark, cfg, catalog))
    TagFamilyStore.readTags(spark, root)
      .select("asset_uri", "field_value").as[(String, String)].collect().toMap
  }

  test("a job with overwrite=false skips already-tagged assets") {
    Lake.registerAll(spark, sf)
    val out = jobOnSeededStore(config.copy(overwrite = false))
    // region keeps the old value (skip); nation gets computed count 25
    assert(out("bigquery/project/p/dataset/lake/region") === "999")
    assert(out("bigquery/project/p/dataset/lake/nation") === "25")
  }

  test("a job with overwrite=true recomputes tagged assets") {
    Lake.registerAll(spark, sf)
    val out = jobOnSeededStore(config)
    assert(out("bigquery/project/p/dataset/lake/region") === "5")
  }

  test("historyRows: column-level tags get the /column/ asset-name segment") {
    val cfg = TagConfig(configType = "DYNAMIC_TAG_COLUMN", templateId = "t",
      fields = Seq(FieldSpec("ndv", "double"), FieldSpec("note", "string")))
    val incoming = Seq(
      ("bigquery/project/p/dataset/lake/orders", "o_custkey", "t", "ndv", "42"),
      ("bigquery/project/p/dataset/lake/orders", "o_custkey", "t", "note", "x"),
      ("bigquery/project/p/dataset/lake/orders", "", "t", "ndv", "7"),
      ("bigquery/project/p/dataset/lake/orders", "", "t", "note", "y"))
      .toDF("asset_uri", "column", "template_id", "field_id", "field_value")
    val out = TagEngine.historyRows(incoming, cfg,
        lit("2024-03-01 00:00:00").cast("timestamp"), lit("j"))
      .select("asset_name", "ndv", "note").as[(String, Double, String)]
      .collect().toSet
    assert(out === Set(
      ("p/dataset/lake/table/orders/column/o_custkey", 42.0, "x"),
      ("p/dataset/lake/table/orders", 7.0, "y")))
  }

  test("historyRows: an individually-empty field value is NULL in history") {
    // insert_history_row skips each EMPTY field value
    // (BigQueryUtils.py:404–406) even though the tag itself stores the
    // empty string — the history column must be NULL, not ""
    val cfg = TagConfig(configType = "DYNAMIC_TAG_TABLE", templateId = "t",
      fields = Seq(FieldSpec("a", "string"), FieldSpec("b", "string")))
    val incoming = Seq(
      ("bigquery/project/p/dataset/lake/orders", "", "t", "a", "x"),
      ("bigquery/project/p/dataset/lake/orders", "", "t", "b", ""))
      .toDF("asset_uri", "column", "template_id", "field_id", "field_value")
    val out = TagEngine.historyRows(incoming, cfg,
        lit("2024-03-01 00:00:00").cast("timestamp"), lit("j"))
      .select("asset_name", "a", "b").collect()
    assert(out.length === 1)
    assert(out.head.getString(1) === "x")
    assert(out.head.isNullAt(2), "empty field value must be NULL in history")
  }

  test("runJobsProduced batched over all configs == per-config runJobsProduced") {
    Lake.registerAll(spark, sf)
    val cfgB = config.copy(templateId = "ops",
      includedUris = Seq("bigquery/project/p/dataset/lake/supplier",
        "bigquery/project/p/dataset/lake/part"))
    val existing = Seq(
      ("bigquery/project/p/dataset/lake/region", "", "gov", "n_rows", "999"))
      .toDF("asset_uri", "column", "template_id", "field_id", "field_value")
    val cfgs = Seq("cA" -> config.copy(overwrite = false), "cB" -> cfgB)
    def produced(cs: Seq[(String, TagConfig)]): Set[(String, String)] =
      TagEngine.runJobsProduced(spark, cs, catalog, existing)
        .select("config_uuid", "asset_uri").as[(String, String)].collect().toSet
    val batched = produced(cfgs)
    assert(batched === cfgs.flatMap(c => produced(Seq(c))).toSet)
    // cA's overwrite=false filter skips the already-tagged region
    assert(batched === Set("cA" -> "nation", "cB" -> "supplier",
      "cB" -> "part").map { case (c, t) =>
        c -> s"bigquery/project/p/dataset/lake/$t" })
  }

  test("scheduler-tick job count does NOT grow with #due configs") {
    Lake.registerAll(spark, sf)
    // N configs over the same heterogeneous tables — the q40 tick shape
    def cfgs(n: Int) = (0 until n).map(i => s"c$i" -> config)
    val emptyTags = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "asset_uri string, column string, template_id string, " +
          "field_id string, field_value string"))
    def jobsFor(n: Int): Long = SparkWork.during(spark) {
      TagEngine.runJobsProduced(spark, cfgs(n), catalog, emptyTags)
        .write.mode("overwrite").format("noop").save()
    }._2.jobs
    val j2 = jobsFor(2)
    val j8 = jobsFor(8)
    assert(j8 === j2,
      s"tick job count must be independent of #due configs ($j2 vs $j8)")
  }

  // ------------------------------------------------ sharded (set-based) eval

  private val shardedFields = Seq(
    FieldSpec("n_rows", "double", Some("select count(*) from $table")),
    FieldSpec("n_users", "double",
      Some("select count(distinct user_id) from $table")),
    FieldSpec("total_value", "string",
      Some("select cast(sum(cast(value as decimal(18,2))) as string) from $table")),
    FieldSpec("avg_daily", "string",
      Some("select cast(ifnull(round(avg(daily), 2), 0) as decimal(18,2)) " +
        "from (select cast(ts as date) as d, count(*) as daily " +
        "from $table group by d)")),
    FieldSpec("asset_label", "string",
      Some("select concat('$dataset', '.', '$table')")),
    FieldSpec("env", "enum", None, Some("PROD")))

  private def shardCatalog(n: Int) = spark.range(0, n)
    .select(lit("p").as("project"), lit("lake").as("dataset"),
      concat(lit("ev_"), col("id").cast("string")).as("table"))

  private def shardConfig(n: Int) = TagConfig(
    configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
    fields = shardedFields,
    includedUris = Seq("bigquery/project/p/dataset/lake/ev_*"))

  test("sharded grouped eval == per-asset loop eval") {
    // 7 shards of events, each ALSO registered as its own view so the
    // per-asset path can evaluate the identical semantics
    val ev = Lake.table(spark, sf, "events")
    val n = 7
    (0 until n).foreach(i => ev.filter(col("event_id") % n === i)
      .createOrReplaceTempView(s"ev_$i"))
    val catalog = shardCatalog(n)
    val perAsset = TagEngine.applyDynamicTableConfig(spark, shardConfig(n), catalog)
    val grouped = GroupedEval.applyDynamicTableConfigSharded(spark,
      shardConfig(n), catalog, ev,
      concat(lit("ev_"), (col("event_id") % n).cast("string")))
    assert(grouped.count() === n.toLong * shardedFields.length)
    assert(perAsset.exceptAll(grouped).count() === 0)
    assert(grouped.exceptAll(perAsset).count() === 0)
  }

  test("dispatch auto-routes dynamic-table configs set-based above the threshold") {
    // identical tag rows whichever side of the shard threshold the
    // expansion lands on — and above it, the route genuinely IS the
    // set-based evaluator (proven by dropping the per-shard views that
    // the per-asset loop needs: only the sharded path still evaluates)
    val ev = Lake.table(spark, sf, "events")
    val n = 7
    (0 until n).foreach(i => ev.filter(col("event_id") % n === i)
      .createOrReplaceTempView(s"ev_$i"))
    val noTags = Seq.empty[(String, String, String, String, String)]
      .toDF("asset_uri", "column", "template_id", "field_id", "field_value")
    val in = EngineInputs(shardCatalog(n), noTags,
      shardedSource = Some((ev,
        concat(lit("ev_"), (col("event_id") % n).cast("string")))),
      shardRouteThreshold = 3) // n=7 assets > 3 → sharded route
    val above = ConfigDispatch.applyConfig(spark, shardConfig(n), in)
    val below = ConfigDispatch.applyConfig(spark, shardConfig(n),
      in.copy(shardRouteThreshold = 1000)) // 7 <= 1000 → per-asset loop
    assert(above.exceptAll(below).count() === 0)
    assert(below.exceptAll(above).count() === 0)
    (0 until n).foreach(i => spark.catalog.dropTempView(s"ev_$i"))
    assert(ConfigDispatch.applyConfig(spark, shardConfig(n), in).count() ===
      n.toLong * shardedFields.length)
  }

  test("sharded eval keeps per-asset scalar semantics on EMPTY assets") {
    // shards 5..9 have no rows: count-style fields must still yield 0
    // (the scalar-subquery COUNT-bug case), sum null, ifnull-avg 0
    val ev = Lake.table(spark, sf, "events").filter(col("event_id") % 10 < 5)
    val out = GroupedEval.applyDynamicTableConfigSharded(spark,
        shardConfig(10), shardCatalog(10), ev,
        concat(lit("ev_"), (col("event_id") % 10).cast("string")))
      .filter(col("asset_uri") === "bigquery/project/p/dataset/lake/ev_7")
      .select("field_id", "field_value").as[(String, String)].collect().toMap
    assert(out("n_rows") === "0")
    assert(out("n_users") === "0")
    assert(out("total_value") === null)
    assert(out("avg_daily") === "0.00")
    assert(out("asset_label") === "lake.ev_7")
    assert(out("env") === "PROD")
  }

  test("sharded eval leaves user literals containing view names intact") {
    // the per-call view rename is applied only outside single-quoted
    // literals: a field value (or literal in a query expression) that
    // happens to contain the base view name must pass through verbatim
    val ev = Lake.table(spark, sf, "events")
    val cfg = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(
        FieldSpec("n_rows", "int", Some("select count(*) from $table")),
        FieldSpec("note", "string", None,
          Some("see __graft_src and __graft_assets docs")),
        FieldSpec("tag", "string",
          Some("select concat('__graft_src=', count(*)) from $table"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/ev_*"))
    val out = GroupedEval.applyDynamicTableConfigSharded(spark, cfg,
        shardCatalog(2), ev,
        concat(lit("ev_"), (col("event_id") % 2).cast("string")))
      .filter(col("field_id") =!= "n_rows")
      .select("field_id", "field_value").as[(String, String)].collect()
    assert(out.length === 4)
    out.foreach {
      case ("note", v) => assert(v === "see __graft_src and __graft_assets docs")
      case ("tag", v)  => assert(v.startsWith("__graft_src=") &&
        v.drop("__graft_src=".length).forall(_.isDigit))
      case other       => fail(s"unexpected row $other")
    }
  }

  test("sharded eval job count does NOT grow with asset count") {
    def jobsFor(n: Int): Long = SparkWork.during(spark) {
      GroupedEval.applyDynamicTableConfigSharded(spark, shardConfig(n),
          shardCatalog(n), Lake.table(spark, sf, "events"),
          concat(lit("ev_"), (col("event_id") % n).cast("string")))
        .write.mode("overwrite").format("noop").save()
    }._2.jobs
    val j100 = jobsFor(100)
    val j1000 = jobsFor(1000)
    assert(j1000 === j100,
      s"plan/job count must be independent of asset count ($j100 vs $j1000)")
  }

  // ---------------------------- sharded dynamic-COLUMN grid (q39 machinery)

  private val colGridConfig = TagConfig(
    configType = "DYNAMIC_TAG_COLUMN", templateId = "profile",
    fields = Seq(
      FieldSpec("ndv", "double",
        Some("select count(distinct $column) from $table")),
      FieldSpec("max_v", "string",
        Some("select cast(cast(max($column) as decimal(18,2)) as string) " +
          "from $table"))),
    includedUris = Seq("bigquery/project/p/dataset/lake/ev_*"))

  test("sharded dynamic-COLUMN grid == per-asset applyDynamicColumnConfig") {
    val ev = Lake.table(spark, sf, "events")
    val n = 5
    (0 until n).foreach(i => ev.filter(col("event_id") % n === i)
      .createOrReplaceTempView(s"ev_$i"))
    val cols = Seq("user_id", "value")
    val grid = GroupedEval.applyDynamicColumnConfigSharded(spark,
      colGridConfig, shardCatalog(n), ev,
      concat(lit("ev_"), (col("event_id") % n).cast("string")), cols)
    val perAsset = (0 until n).map { i =>
      TagEngine.applyDynamicColumnConfig(spark,
        colGridConfig.copy(
          includedColumnsQuery = Some("select 'user_id', 'value'")),
        graft.model.AssetUri("bigquery", "p", Some("lake"), Some(s"ev_$i"),
          None))
    }.reduce(_ unionByName _)
    assert(grid.count() === n.toLong * cols.length * colGridConfig.fields.length)
    assert(grid.exceptAll(perAsset).count() === 0)
    assert(perAsset.exceptAll(grid).count() === 0)
  }

  test("dynamic-COLUMN config: empty columns query no-ops; quoted static values escape") {
    import graft.model.{AssetUri, FieldSpec, TagConfig}
    val uri = AssetUri("bigquery", "p", Some("lake"), Some("orders"), None)
    // zero-row included_columns_query = the established match-nothing
    // no-op, not a NoSuchElementException from first(); a NULL column
    // value in the row is skipped the same way
    val cfgEmpty = TagConfig(configType = "DYNAMIC_TAG_COLUMN",
      templateId = "t", fields = Seq(FieldSpec("f", "string", None, Some("v"))),
      includedColumnsQuery = Some("select 'c' where 1 = 0"))
    assert(TagEngine.applyDynamicColumnConfig(spark, cfgEmpty, uri)
      .count() === 0)
    val cfgNull = cfgEmpty.copy(
      includedColumnsQuery = Some("select cast(null as string), 'real_col'"))
    val outNull = TagEngine.applyDynamicColumnConfig(spark, cfgNull, uri)
    assert(outNull.select("column").as[String].collect().toSeq
      === Seq("real_col"))
    // the reference's NATURAL shape — one column per ROW (an
    // information_schema query): truncating to the first row would
    // silently leave every other column untagged
    val cfgRows = cfgEmpty.copy(
      includedColumnsQuery = Some(
        "select c from values ('c1'), ('c2'), ('c3') t(c)"))
    assert(TagEngine.applyDynamicColumnConfig(spark, cfgRows, uri)
      .select("column").as[String].collect().toSeq.sorted
      === Seq("c1", "c2", "c3"))
    // an apostrophe in a STATIC field value must neither ParseException
    // the statement nor inject into it (the GroupedEval.sq '' rule)
    val cfgQuote = cfgEmpty.copy(
      includedColumnsQuery = Some("select 'c1'"),
      fields = Seq(FieldSpec("note", "string", None, Some("it's restricted"))))
    assert(TagEngine.applyDynamicColumnConfig(spark, cfgQuote, uri)
      .select("field_value").as[String].collect().toSeq
      === Seq("it's restricted"))
    // BACKSLASHES too: under the default parser \' is an escaped quote,
    // so a value ending in \ (or containing \') would turn the closing
    // quote into part of the literal — ParseException on benign values,
    // literal-escape injection on crafted ones. The value must round-trip
    // byte-exactly.
    Seq("C:\\tmp\\", "a\\'b", "x\\', junk ('").foreach { v =>
      val cfgBs = cfgQuote.copy(
        fields = Seq(FieldSpec("note", "string", None, Some(v))))
      assert(TagEngine.applyDynamicColumnConfig(spark, cfgBs, uri)
        .select("field_value").as[String].collect().toSeq === Seq(v),
        s"static value must round-trip: <$v>")
    }
  }

  test("dispatch auto-routes dynamic-COLUMN configs set-based above the threshold") {
    // same contract as the table route: identical tag rows on both sides
    // of the threshold, with the included-columns query resolved ONCE
    // against the first expanded asset on the sharded side
    val ev = Lake.table(spark, sf, "events")
    val n = 5
    (0 until n).foreach(i => ev.filter(col("event_id") % n === i)
      .createOrReplaceTempView(s"ev_$i"))
    val cfg = colGridConfig.copy(
      includedColumnsQuery = Some("select 'user_id', 'value'"))
    val noTags = Seq.empty[(String, String, String, String, String)]
      .toDF("asset_uri", "column", "template_id", "field_id", "field_value")
    val in = EngineInputs(shardCatalog(n), noTags,
      shardedSource = Some((ev,
        concat(lit("ev_"), (col("event_id") % n).cast("string")))),
      shardRouteThreshold = 3)
    val above = ConfigDispatch.applyConfig(spark, cfg, in)
    val below = ConfigDispatch.applyConfig(spark, cfg,
      in.copy(shardRouteThreshold = 1000))
    assert(above.count() ===
      n.toLong * 2 * colGridConfig.fields.length)
    assert(above.exceptAll(below).count() === 0)
    assert(below.exceptAll(above).count() === 0)
  }

  test("dynamic-COLUMN grid job count does NOT grow with asset count") {
    def jobsFor(n: Int): Long = SparkWork.during(spark) {
      GroupedEval.applyDynamicColumnConfigSharded(spark, colGridConfig,
          shardCatalog(n), Lake.table(spark, sf, "events"),
          concat(lit("ev_"), (col("event_id") % n).cast("string")),
          Seq("user_id", "value"))
        .write.mode("overwrite").format("noop").save()
    }._2.jobs
    val j100 = jobsFor(100)
    val j1000 = jobsFor(1000)
    assert(j1000 === j100,
      s"grid plan/job count must be independent of asset count ($j100 vs $j1000)")
  }

  test("concurrent sharded evals on one session do not clobber each other") {
    // per-call view names: config A must see ONLY source A even when B
    // registers its views between A's registration and A's analysis
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ev = Lake.table(spark, sf, "events")
    val srcA = ev.filter(col("event_id") % 2 === 0)
    val srcB = ev.filter(col("event_id") % 2 =!= 0)
    val expA = srcA.count()
    val expB = srcB.count()
    val cfg = TagConfig(
      configType = "DYNAMIC_TAG_TABLE", templateId = "gov",
      fields = Seq(FieldSpec("n_rows", "int",
        Some("select count(*) from $table"))),
      includedUris = Seq("bigquery/project/p/dataset/lake/ev_*"))
    val catalog = shardCatalog(1)
    def total(src: org.apache.spark.sql.DataFrame): Long = {
      val out = GroupedEval.applyDynamicTableConfigSharded(
        spark, cfg, catalog, src, lit("ev_0"))
      out.filter(col("field_id") === "n_rows")
        .select(col("field_value").cast("long")).as[Long].collect().sum
    }
    (1 to 5).foreach { _ =>
      val fa = Future(total(srcA))
      val fb = Future(total(srcB))
      assert(Await.result(fa, 120.seconds) === expA)
      assert(Await.result(fb, 120.seconds) === expB)
    }
  }
}
