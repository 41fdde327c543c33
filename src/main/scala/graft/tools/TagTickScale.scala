package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TagFamilyStore
import graft.operators.TagFamilyStore.JobBatch

/** ROUND-GATE + LADDER for the whole-TICK family commit (round 19),
  * the tick sibling of [[TagFamilyCrash]].
  *
  * `crash` regime: `waves` ticks of `n` lake-derived configs each land
  * through the REAL [[TagFamilyStore.commitTick]] path under SlowFs
  * latency; two mid-run ticks are killed before their cut publish (at
  * `tags`: the tick's tags batch published, its history not; at
  * `history`: both tables published, the single cut publish never
  * reached). PASS requires: after each crash the served tags AND history
  * equal the pre-tick state row-for-row with the cut version unchanged
  * (the whole tick invisible, its published batches included); the
  * re-run lands every config exactly once; the final store equals a
  * crash-free replay of the same ticks; and a cut pinned at tick-1's
  * boundary still time-travels bit-identically after every later tick
  * and a full fold.
  *
  * `ladder` regime: the SCALING.md evidence that a tick's commit stays
  * METADATA-SIZED as n grows — per-tick commit wall at n ∈ {1, 4, 16}
  * configs vs the same configs landed as n separate `commitJob` calls
  * (which pay two data writes, two table publishes, a lease claim and a
  * cut publish EACH). The tick pays those once whatever n, so its
  * per-config overhead must fall as n grows.
  *
  * {{{
  * runMain graft.tools.TagTickScale <sfDir> [waves] [n] [opLatencyMs] [crash|ladder]
  * }}}
  */
object TagTickScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val waves = args.lift(1).map(_.toInt).getOrElse(4)
    val n = args.lift(2).map(_.toInt).getOrElse(4)
    val opLatencyMs = args.lift(3).map(_.toLong).getOrElse(0L)
    val regime = args.lift(4).getOrElse("crash")
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (opLatencyMs > 0)
        builder.config("spark.hadoop.fs.file.impl", classOf[SlowFs].getName)
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val orders = graft.Lake.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).localCheckpoint()

    // config j of tick w tags a distinct orders slice, plus the shared
    // asset every config overwrites (latest-wins teeth: after tick w the
    // value must be the LAST config's)
    def incoming(w: Int, j: Int, slices: Int): DataFrame =
      orders.filter(col("o_orderkey") % slices === (w * n + j) % slices)
        .select(concat(lit("a/t"), col("o_orderkey")).as("asset_uri"),
          lit("").as("column"), lit("gov").as("template_id"),
          lit("total").as("field_id"), lit("string").as("field_type"),
          col("o_totalprice").cast("string").as("field_value"))
        .unionByName(spark.range(1).select(
          lit("a/shared").as("asset_uri"), lit("").as("column"),
          lit("gov").as("template_id"), lit("last").as("field_id"),
          lit("string").as("field_type"),
          lit(s"w$w-c$j").as("field_value")))
        .localCheckpoint()
    def history(uuid: String, inc: DataFrame): DataFrame =
      inc.select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
        col("asset_uri").as("asset_name"), lit(uuid).as("job_uuid"))
    def tick(w: Int): Seq[JobBatch] = (0 until n).map { j =>
      val inc = incoming(w, j, waves * n)
      JobBatch(s"w$w-c$j", inc, history(s"w$w-c$j", inc))
    }

    if (opLatencyMs > 0) {
      SlowFs.opLatencyMs = opLatencyMs
      println(s"TAGTICK op_latency_ms=$opLatencyMs (SlowFs engaged)")
    }

    if (regime == "ladder") { ladder(spark, orders); return }

    def diff(a: DataFrame, b: DataFrame): Long =
      a.exceptAll(b).count() + b.exceptAll(a).count()

    val root = java.nio.file.Files.createTempDirectory("graft_tick_g")
      .toString
    val cleanRoot = java.nio.file.Files.createTempDirectory("graft_tick_c")
      .toString
    val crashWaves = Map(
      waves / 2 -> "tags",         // the tags batch published, history not
      waves / 2 + 1 -> "history")  // both tables published, no cut
    var cut1 = -1L
    var pinnedTags: DataFrame = null
    var crashesOk = true
    var rerunsOk = true
    val t0 = System.nanoTime()

    (0 until waves).foreach { w =>
      val batches = tick(w)
      crashWaves.get(w) match {
        case Some(stage) =>
          val cutBefore = TagFamilyStore.currentCutVersion(spark, root)
          val tagsBefore = TagFamilyStore.readTags(spark, root)
            .localCheckpoint()
          val histBefore = TagFamilyStore.readHistory(spark, root)
            .localCheckpoint()
          TagFamilyStore.setTestMidJobHook(root, s =>
            if (s == stage) throw new RuntimeException("injected tick crash"))
          val crashed =
            try { TagFamilyStore.commitTick(spark, root, batches); false }
            catch { case e: RuntimeException
                if e.getMessage == "injected tick crash" => true }
            finally TagFamilyStore.clearTestMidJobHook(root)
          val dTags = diff(TagFamilyStore.readTags(spark, root), tagsBefore)
          val dHist = diff(TagFamilyStore.readHistory(spark, root), histBefore)
          val cutSame =
            TagFamilyStore.currentCutVersion(spark, root) == cutBefore
          val orphans = TagFamilyStore.porcelain(spark, root).orphanSuffix
          println(s"TAGTICK wave=$w crash_at=$stage crashed=$crashed " +
            s"tags_diff=$dTags hist_diff=$dHist cut_unchanged=$cutSame " +
            s"orphan_suffix=$orphans")
          crashesOk &&= crashed && dTags == 0 && dHist == 0 && cutSame
          // re-run: every config of the tick exactly once
          TagFamilyStore.commitTick(spark, root, tick(w))
          (0 until n).foreach { j =>
            val histN = TagFamilyStore.readHistory(spark, root)
              .filter(col("job_uuid") === s"w$w-c$j").count()
            val expectN = batches(j).history.count()
            rerunsOk &&= histN == expectN
            if (histN != expectN)
              println(s"TAGTICK wave=$w cfg=$j rerun history " +
                s"$histN != $expectN")
          }
        case None =>
          val tW = System.nanoTime()
          TagFamilyStore.commitTick(spark, root, batches)
          println(f"TAGTICK wave=$w n=$n tick_wall=" +
            f"${(System.nanoTime() - tW) / 1e9}%.2fs")
      }
      TagFamilyStore.commitTick(spark, cleanRoot, tick(w))
      if (w == 0) {
        cut1 = TagFamilyStore.currentCutVersion(spark, root).get
        pinnedTags = TagFamilyStore.readTags(spark, root).localCheckpoint()
      }
    }

    TagFamilyStore.compact(spark, root)
    val dFinalTags = diff(TagFamilyStore.readTags(spark, root),
      TagFamilyStore.readTags(spark, cleanRoot))
    val dFinalHist = diff(TagFamilyStore.readHistory(spark, root),
      TagFamilyStore.readHistory(spark, cleanRoot))
    val sharedVal = TagFamilyStore.readTags(spark, root)
      .filter(col("asset_uri") === "a/shared")
      .select("field_value").head().getString(0)
    val sharedOk = sharedVal == s"w${waves - 1}-c${n - 1}"
    val dPinned = diff(TagFamilyStore.readTagsAt(spark, root, cut1),
      pinnedTags)
    val wall = (System.nanoTime() - t0) / 1e9
    val ok = crashesOk && rerunsOk && dFinalTags == 0 && dFinalHist == 0 &&
      sharedOk && dPinned == 0
    println(f"TAGTICK final_tags_diff=$dFinalTags " +
      f"final_hist_diff=$dFinalHist shared=$sharedVal shared_ok=$sharedOk " +
      f"pinned_diff=$dPinned wall=$wall%.1fs")
    println(s"TAGTICK ${if (ok) "PASS" else "FAIL"} waves=$waves n=$n " +
      s"latency=${opLatencyMs}ms")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Per-tick commit wall at growing n, vs n separate commitJob calls:
    * the per-config overhead of the tick form must FALL with n (one
    * write and publish per part, one lease and one cut publish
    * amortized), while the per-job form pays them all per config.
    */
  private def ladder(spark: SparkSession, orders: DataFrame): Unit = {
    def mkInc(tag: String): DataFrame =
      orders.filter(col("o_orderkey") % 64 === 0)
        .select(concat(lit(s"a/$tag"), col("o_orderkey")).as("asset_uri"),
          lit("").as("column"), lit("gov").as("template_id"),
          lit("total").as("field_id"), lit("string").as("field_type"),
          col("o_totalprice").cast("string").as("field_value"))
        .localCheckpoint()
    def mkHist(uuid: String, inc: DataFrame): DataFrame =
      inc.select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
        col("asset_uri").as("asset_name"), lit(uuid).as("job_uuid"))
    Seq(1, 4, 16).foreach { n =>
      val batches = (0 until n).map { j =>
        val inc = mkInc(s"c$j/")
        JobBatch(s"c$j", inc, mkHist(s"c$j", inc))
      }
      val tickRoot = java.nio.file.Files
        .createTempDirectory(s"graft_lad_t$n").toString
      val t1 = System.nanoTime()
      TagFamilyStore.commitTick(spark, tickRoot, batches)
      val tickWall = (System.nanoTime() - t1) / 1e9
      val jobRoot = java.nio.file.Files
        .createTempDirectory(s"graft_lad_j$n").toString
      val t2 = System.nanoTime()
      batches.foreach(b =>
        TagFamilyStore.commitJob(spark, jobRoot, b.incoming, b.history))
      val jobsWall = (System.nanoTime() - t2) / 1e9
      println(f"TAGTICK ladder n=$n%2d tick_wall=$tickWall%6.2fs " +
        f"per_config=${tickWall / n}%5.2fs | njobs_wall=$jobsWall%6.2fs " +
        f"per_config=${jobsWall / n}%5.2fs")
    }
    println("TAGTICK PASS (ladder)")
    spark.stop()
  }
}
