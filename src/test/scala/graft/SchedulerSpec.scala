package graft

import org.apache.spark.sql.functions._
import graft.sched.Scheduler

/** H1/H2 + config idempotence (A14). */
class SchedulerSpec extends SparkSpec {
  import spark.implicits._

  test("deactivateSuperseded keeps only the newest config per content hash") {
    val configs = Seq(
      ("c1", "m1", 1L, "ACTIVE"), ("c2", "m1", 2L, "ACTIVE"),
      ("c3", "m2", 1L, "ACTIVE"))
      .toDF("config_uuid", "content_md5", "version", "config_status")
    val out = Scheduler.deactivateSuperseded(configs)
      .select("config_uuid", "config_status").as[(String, String)]
      .collect().toMap
    assert(out === Map("c1" -> "INACTIVE", "c2" -> "ACTIVE", "c3" -> "ACTIVE"))
  }

  test("advanceNextRun only touches launched configs, anchored to now") {
    val configs = Seq(
      ("c1", 5L, "2024-03-01 11:00:00", 3L),
      ("c2", 5L, "2024-03-01 13:00:00", 1L))
      .toDF("config_uuid", "refresh_frequency_minutes", "nr", "version")
      .withColumn("next_run", to_timestamp($"nr")).drop("nr")
    val launched = Seq("c1").toDF("config_uuid")
    val out = Scheduler.advanceNextRun(configs, launched,
        to_timestamp(lit("2024-03-01 12:00:00")))
      .select($"config_uuid", $"next_run".cast("string"), $"version")
      .as[(String, String, Long)].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    // NOT 11:05 — the reference re-anchors at utcnow()+delta
    // (TagEngineStoreHandler.py:296–301), so an overdue config lands one
    // full period after the launch instant, not after its missed slot
    assert(out("c1") === ("2024-03-01 12:05:00", 4L))
    assert(out("c2") === ("2024-03-01 13:00:00", 1L))
  }

  test("tick rollup counts the job's OWN rows, not the pre-existing store") {
    val configs = Seq(
      ("cHit", "gov", "bigquery/project/p/dataset/lake/region",
        60L, "2024-03-01 10:00:00", 1L),
      ("cMiss", "gov", "bigquery/project/p/dataset/lake/no_such_table",
        60L, "2024-03-01 10:00:00", 1L))
      .toDF("config_uuid", "template_id", "included_uris",
        "refresh_frequency_minutes", "nr", "version")
      .withColumn("next_run", to_timestamp($"nr")).drop("nr")
      .withColumn("config_type", lit("DYNAMIC_TAG_TABLE"))
      .withColumn("config_status", lit("ACTIVE"))
      .withColumn("refresh_mode", lit("AUTO"))
      .withColumn("scheduling_status", lit("READY"))
    val catalog = Seq(("p", "lake", "region")).toDF("project", "dataset", "table")
    spark.sql("CREATE OR REPLACE TEMP VIEW region AS SELECT 1 AS r_regionkey")
    // a NONEMPTY store: 3 pre-existing tags from earlier ticks. The
    // rollup must NOT count them — a post-merge state repeats the
    // whole store under each config's uuid, so aggregating that would report
    // n_tag_rows=4/3 (store + produced) and cMiss's no-op job would
    // "report" the store instead of (SUCCEEDED, 0, 0)
    val existing = Seq(
      ("doc_a", "", "gov", "n_rows", "500"),
      ("doc_b", "", "gov", "n_rows", "700"),
      ("doc_c", "", "other", "env", "DEV"))
      .toDF("asset_uri", "column", "template_id", "field_id", "field_value")
    val fields = Map("cHit" -> Seq(graft.model.FieldSpec("n_rows", "double",
      Some("select count(*) from $table"))),
      "cMiss" -> Seq(graft.model.FieldSpec("n_rows", "double",
        Some("select count(*) from $table"))))
    val out = graft.streaming.Streams.schedulerTick(spark, configs,
        to_timestamp(lit("2024-03-01 12:00:00")), catalog, existing, fields)
      .select($"config_uuid", $"n_assets", $"n_tag_rows", $"sum_n_rows")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("cHit") === ((1L, 1L, 1.0)),
      "one asset, one produced tag row, n_rows=1 — not store-sized counts")
    assert(out("cMiss") === ((0L, 0L, 0.0)),
      "empty expansion must be the reference's no-op job")
  }

  test("an idle scheduler tick (nothing due) is an empty tick-shaped frame") {
    val configs = Seq(("c1", "gov", "bigquery/project/p/dataset/lake/region",
        60L, "2024-03-01 14:00:00", 1L))
      .toDF("config_uuid", "template_id", "included_uris",
        "refresh_frequency_minutes", "nr", "version")
      .withColumn("next_run", to_timestamp($"nr")).drop("nr")
      .withColumn("config_type", org.apache.spark.sql.functions.lit("DYNAMIC_TAG_TABLE"))
      .withColumn("config_status", org.apache.spark.sql.functions.lit("ACTIVE"))
      .withColumn("refresh_mode", org.apache.spark.sql.functions.lit("AUTO"))
      .withColumn("scheduling_status", org.apache.spark.sql.functions.lit("READY"))
    val emptyTags = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "asset_uri string, column string, template_id string, " +
          "field_id string, field_value string"))
    val out = graft.streaming.Streams.schedulerTick(spark, configs,
      to_timestamp(org.apache.spark.sql.functions.lit("2024-03-01 12:00:00")),
      configs.select($"config_uuid".as("project")), emptyTags, _ => Nil)
    assert(out.isEmpty)
    assert(out.columns.toSeq === Seq("config_uuid", "job_uuid", "job_status",
      "n_assets", "n_tag_rows", "sum_n_rows", "next_run", "version"))
  }
}
