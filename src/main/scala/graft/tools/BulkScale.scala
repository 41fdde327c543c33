package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.{FieldSpec, TagConfig}
import graft.obs.SparkWork
import graft.operators.{ConfigDispatch, EngineInputs, TagEngine, TagFamilyStore,
  TagStore}

/** Measures the set-based dynamic-config path at the reference's load-test
  * asset counts (examples/load/configs/static_asset_1m.json scales to 10⁶
  * assets/config): q30's 7-field config over the sf0.1 events family at
  * 1k / 10k / 100k / 1M expanded assets. Reports wall time and the SQL
  * execution count — the invariant that makes the path survive the load
  * point is a CONSTANT execution count regardless of asset cardinality
  * (plan size is O(#fields); the asset dimension lives in DATA, not in
  * the plan). Since round 9 the measurement goes through
  * [[ConfigDispatch.applyConfig]]'s automatic shard-threshold routing —
  * the production entry point — so the number includes the routing's own
  * metadata-sized expansion count (+1 execution over the bare
  * GroupedEval call).
  */
object BulkScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fields = Seq(
      FieldSpec("n_rows", "double", Some("select count(*) from $table")),
      FieldSpec("n_users", "double",
        Some("select count(distinct user_id) from $table")),
      FieldSpec("total_value", "string",
        Some("select cast(sum(cast(value as decimal(18,2))) as string) from $table")),
      FieldSpec("clicks", "double",
        Some("select count(*) from $table where event_type = 'click'")),
      FieldSpec("asset_label", "string",
        Some("select concat('$dataset', '.', '$table')")),
      FieldSpec("env", "enum", None, Some("PROD")))
    val events = graft.Lake.table(spark, sfDir, "events")
    Seq(1000, 10000, 100000, 1000000).foreach { n =>
      val pad = math.max(4, n.toString.length)
      val catalog = spark.range(0, n)
        .select(lit("p").as("project"), lit("lake").as("dataset"),
          concat(lit("events_"), lpad(col("id").cast("string"), pad, "0"))
            .as("table"))
      val config = TagConfig(configType = "DYNAMIC_TAG_TABLE",
        templateId = "gov", fields = fields,
        includedUris = Seq("bigquery/project/p/dataset/lake/events_*"))
      val shard = concat(lit("events_"),
        lpad((col("event_id") % n).cast("string"), pad, "0"))
      // the production entry point: dispatch expands, counts, and routes
      // set-based past the threshold (499 here so every point takes the
      // sharded path and the series stays comparable)
      val noTags = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq()))
      val ((out, dt), work) = SparkWork.during(spark) {
        val t0 = System.nanoTime()
        val out = ConfigDispatch.applyConfig(spark, config,
          EngineInputs(catalog, noTags,
            shardedSource = Some((events, shard)),
            shardRouteThreshold = 499L))
        out.write.mode("overwrite").format("noop").save()
        (out, (System.nanoTime() - t0) / 1e9)
      }
      println(f"BULKSCALE assets=$n%7d rows=${n * fields.length}%8d " +
        f"wall=$dt%6.1fs sql_executions=${work.sqlExecutions}")

      // END-TO-END: the same tag rows through the write path the engine
      // persists with — compute + the family store's job commit (tag
      // delta batch + history batch + one cut publish). The reference's
      // load test verifies WRITTEN tags (examples/load/check_tags.py:
      // 11–48); a noop sink leaves the commit leg unmeasured. Wall
      // includes recomputing the aggregation (this is the whole job, not
      // just the sink).
      val store = java.nio.file.Files
        .createTempDirectory(s"graft_bulk_store_$n").toString
      def commit(rows: org.apache.spark.sql.DataFrame): Long = {
        val incoming = rows.localCheckpoint()
        TagFamilyStore.commitJob(spark, store, incoming,
          TagEngine.historyRows(TagStore.dropAllEmptyTags(incoming), config,
            current_timestamp(), lit(s"bulk_$n")))("manifest")
      }
      val t1 = System.nanoTime()
      val c0 = commit(out)
      val dtCommit = (System.nanoTime() - t1) / 1e9
      println(f"BULKSCALE_COMMIT assets=$n%7d full_state wall=$dtCommit%6.1fs " +
        f"cut=$c0 store_bytes=${Fs.dirBytes(store)}")
      if (n >= 2000) {
        // steady state: a 1k-asset incremental job on top of the full
        // state — committed bytes must scale with the BATCH, not the
        // table (the 100 TB write-path contract). Assets events_<0..999>
        // sort below the zero-padded name of asset 1000 at every n.
        val seeded = Fs.dirBytes(store)
        val inc = out.filter(col("asset_uri") <
          s"bigquery/project/p/dataset/lake/events_${"0" * (pad - 4)}1000")
        val incAssets = inc.select("asset_uri").distinct().count()
        require(incAssets == 1000L,
          s"BulkScale: the 1k-asset batch holds $incAssets assets at n=$n")
        val t3 = System.nanoTime()
        commit(inc)
        val dtApp = (System.nanoTime() - t3) / 1e9
        println(f"BULKSCALE_COMMIT assets=$n%7d append_1k  wall=$dtApp%6.1fs " +
          f"batch_bytes=${Fs.dirBytes(store) - seeded} store_bytes=${Fs.dirBytes(store)}")
      }
      Fs.deleteRec(store)
    }
    spark.stop()
  }

}
