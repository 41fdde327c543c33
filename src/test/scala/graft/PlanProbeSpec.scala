package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.obs.SparkWork
import graft.sources.PlanProbe

/** The non-executing partition probe's contract (round-20 verdict #1):
  * `AtomicStore.writeData`'s rebalance decision — and `Lake.spread`'s
  * widen decision — must be made WITHOUT running a single Spark job.
  * Round 20 probed with `df.rdd.getNumPartitions`, which under AQE
  * finalizes the adaptive plan and executes every upstream shuffle stage
  * of the frame; the subsequent write re-executed them, doubling each
  * join/aggregate-bearing commit's compute (the tag-store-family
  * regression). These tests pin both halves: zero jobs during the probe,
  * and the right decision per plan shape.
  */
class PlanProbeSpec extends SparkSpec {
  import spark.implicits._

  /** Count Spark jobs submitted while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Long) = {
    val (r, work) = SparkWork.during(spark)(f)
    (r, work.jobs)
  }

  private def shuffleBearing(): DataFrame =
    (1 to 1000).toDF("id")
      .withColumn("k", col("id") % 7)
      .groupBy("k").agg(sum("id").as("s"))
      .join((1 to 7).toDF("k"), "k")

  test("probe on a shuffle-bearing frame runs ZERO jobs") {
    val df = shuffleBearing()
    val (sprays, jobs) = jobsDuring(PlanProbe.spraysSmallFiles(df, 4))
    assert(jobs === 0,
      "spraysSmallFiles must not execute upstream stages (df.rdd under " +
        "AQE does — the round-20 writeData double-execution)")
    // topmost exchange is ENSURE_REQUIREMENTS: AQE right-sizes the write's
    // final stage on its own, so the probe must NOT ask for a rebalance
    assert(!sprays)
  }

  test("pinned repartition (Lake.spread shape) above threshold sprays") {
    val df = (1 to 1000).toDF("id").repartition(16, col("id"))
    val (sprays, jobs) = jobsDuring(PlanProbe.spraysSmallFiles(df, 4))
    assert(jobs === 0)
    assert(sprays, "REPARTITION_BY_NUM is honored by AQE verbatim — a " +
      "16-partition pinned frame would land 16 near-empty files")
  }

  test("checkpointed frames read their RDD's count for free") {
    val few = (1 to 100).toDF("id").repartition(2).localCheckpoint()
    val many = (1 to 100).toDF("id").repartition(12).localCheckpoint()
    val (spraysFew, j1) = jobsDuring(PlanProbe.spraysSmallFiles(few, 4))
    val (spraysMany, j2) = jobsDuring(PlanProbe.spraysSmallFiles(many, 4))
    assert(j1 === 0 && j2 === 0)
    assert(!spraysFew)
    assert(spraysMany)
    // narrow ops above the checkpoint keep the leaf visible
    assert(PlanProbe.spraysSmallFiles(
      many.withColumn("x", col("id") + 1).filter(col("id") > 1), 4))
  }

  test("local relations and empty frames never ask for a rebalance") {
    assert(!PlanProbe.spraysSmallFiles((1 to 10).toDF("id"), 4))
    assert(!PlanProbe.spraysSmallFiles(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("id int")), 4))
  }

  test("Lake.spread no-ops once the scan carries >= cores splits " +
      "(round-20 verdict #7: the 100 TB branch)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    (1 to 4000).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .repartition(8).write.parquet(s"$dir/docs")
    // tiny files pack into one split under the default 128 MB /
    // 4 MB-open-cost packing; shrink both so the scan genuinely plans
    // >= defaultParallelism splits — the shape a 100 TB table has
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val scan = spark.read.parquet(s"$dir/docs")
      val parts = PlanProbe.scanPartitions(scan)
      assert(parts.exists(_ >= spark.sparkContext.defaultParallelism),
        s"fixture must plan >= cores splits, got $parts")
      val spreaded = Lake.spread(scan, col("doc_id"))
      assert(spreaded eq scan, "spread must return the frame UNCHANGED")
      assert(!spreaded.queryExecution.executedPlan.toString
        .contains("REPARTITION_BY_NUM"))
      // and the degenerate shape still widens — ONE file, like the bench
      // lake's single-row-group tables (a multi-file dir of tiny files
      // already packs toward files.minPartitionNum = cores splits)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
      spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
      (1 to 4000).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
        .repartition(1).write.parquet(s"$dir/one")
      val one = spark.read.parquet(s"$dir/one")
      assert(PlanProbe.scanPartitions(one).exists(
        _ < spark.sparkContext.defaultParallelism))
      assert(Lake.spread(one, col("doc_id")).queryExecution.executedPlan
        .toString.contains("REPARTITION_BY_NUM"))
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldOpen)
    }
  }

  test("scanPartitions sees the planned split count of a parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_probe").toString
    (1 to 100).toDF("id").repartition(3).write.parquet(s"$dir/t")
    val scan = spark.read.parquet(s"$dir/t").withColumn("x", col("id") + 1)
    val (n, jobs) = jobsDuring(PlanProbe.scanPartitions(scan))
    assert(jobs === 0)
    // 3 small files pack into >= 1 planned split; the exact count depends
    // on maxPartitionBytes packing — the contract is Some(defined) and > 0
    assert(n.exists(_ > 0))
    // a shuffle between scan and root means the scan's count is not the
    // output count — the probe must decline, not mislead
    assert(PlanProbe.scanPartitions(scan.groupBy("id").count()).isEmpty)
  }
}
