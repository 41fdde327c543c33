package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{FieldSpec, TagConfig}
import graft.operators.{EngineInputs, TagFamilyStore}
import Common._

/** bulk_retag: a few large writes. One DYNAMIC_TAG_TABLE config of seven
  * SQL fields, with a glob include and three glob excludes, over 4,900
  * shard assets carved out of `lineitem` (shard = (l_orderkey + offset)
  * mod 4900). It routes set-based through ConfigDispatch.applyConfig and
  * commits with history through TagFamilyStore.commitComputed. A round is
  * a fresh family store, [[BulkRetag.JobsPerRound]] scheduler-launched jobs
  * that re-tag the same assets, reads after each job, and a compaction.
  */
final class BulkRetag(ctx: Ctx) extends Workload {
  import BulkRetag._
  private val args = ctx.args
  private val rng = new scala.util.Random(args.seed)
  private val offset = rng.nextInt(Shards)
  private val excluded: Seq[Int] = rng.shuffle((0 until Shards / 100).toList).take(3).sorted
  private val matched: Seq[Int] = (0 until Shards).filterNot(i => excluded.contains(i / 100))
  private val targets: IndexedSeq[Int] = IndexedSeq.fill(32)(rng.nextInt(1 << 20))
  private val config = TagConfig("DYNAMIC_TAG_TABLE", Template, Fields,
    includedUris = Seq(uri("li_*")),
    excludedUris = excluded.map(p => uri(f"li_$p%03d*")),
    refreshMode = "AUTO", refreshFrequencyMinutes = 60, tagHistory = true)

  private var spark: SparkSession = _
  private var catalog: DataFrame = _
  private var source: DataFrame = _
  private var shardExpr: Column = _
  private var lastRoot: Option[String] = None
  private var lastCuts: Seq[Long] = Nil
  private var lastJobs: Seq[String] = Nil

  def setup(s: SparkSession): Unit = {
    spark = s
    registerLake(spark, args.lake)
    source = graft.Lake.table(spark, args.lake, "lineitem")
    shardExpr = concat(lit("li_"),
      lpad(pmod(col("l_orderkey") + offset, lit(Shards)).cast("string"), 5, "0"))
    catalog = spark.range(Shards)
      .select(lit(Project).as("project"), lit(Dataset).as("dataset"),
        concat(lit("li_"), lpad(col("id").cast("string"), 5, "0")).as("table"))
      .unionByName(catalogOf(spark, LakeTables))
      .localCheckpoint()
  }

  /** Expected tag values: a plain Spark groupBy over the lake parquet,
    * each aggregate rendered as Spark casts its type to string.
    */
  private lazy val expected: Map[Checks.TagKey, String] = {
    val li = spark.read.parquet(s"${args.lake}/lineitem.parquet")
    val rows = li.groupBy(pmod(col("l_orderkey") + offset, lit(Shards)).as("shard"))
      .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("qty_sum"),
        max("l_extendedprice").as("price_max"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        countDistinct("l_partkey").as("n_parts"), max("l_shipdate").as("last_ship"),
        avg("l_discount").as("avg_discount"))
      .select(col("shard") +: Fields.map(f => col(f.fieldId).cast("string")): _*)
      .collect().map(r => r.getLong(0).toInt -> r).toMap
    val keep = matched.toSet
    ctx.expect(keep.subsetOf(rows.keySet), "bulk_retag: a matched shard has no lineitem rows")
    rows.toSeq.filter(r => keep(r._1)).flatMap { case (i, r) =>
      Fields.zipWithIndex.map { case (f, j) => (uri(shard(i)), Template, f.fieldId) -> r.getString(j + 1) }
    }.toMap
  }

  def round(r: Int): Unit = {
    val root = s"${args.tmp}/stores/bulk-$r"
    var row = SchedRow(ConfigId, Template, uri("li_*"), 60, at(0), 1L)
    val cuts = Seq.newBuilder[Long]
    val jobs = Seq.newBuilder[String]
    for (j <- 0 until JobsPerRound) {
      val now = at(60L * j)
      ctx.op("write_s") {
        row = scheduled(ctx, spark, row, now) { version =>
          val uuid = md5hex(s"$ConfigId|$version")
          cuts += job(ctx, spark, root, config, EngineInputs(catalog, emptyTags(spark),
            shardedSource = Some((source, shardExpr))), now, uuid)
          jobs += uuid
        }
        ctx.rec.add("tags_written", (matched.size * Fields.size).toDouble)
      }
      val jobsSoFar = jobs.result()
      val cutsSoFar = cuts.result()
      for (i <- 0 until ReadsPerKind) {
        def pick(salt: Int) =
          uri(shard(matched(targets((r * 97 + j * 13 + i * 5 + salt) % targets.size) % matched.size)))
        val a = pick(0)
        currentRead(ctx, spark, root, instance(a, Template)).foreach(got =>
          Checks.tagState(s"bulk_retag read $a", expectedInstance(expected, a, Template), got)
            .foreach(ctx.expect(false, _)))
        val b = pick(3)
        val pinned = cutsSoFar.takeRight(2).headOption.getOrElse(0L)
        asOfRead(ctx, spark, root, pinned, instance(b, Template)).foreach(got =>
          Checks.tagState(s"bulk_retag as-of read $b at cut $pinned",
            expectedInstance(expected, b, Template), got).foreach(ctx.expect(false, _)))
        historyRead(ctx, spark, root).foreach(got =>
          Checks.counts("bulk_retag history rows per job",
            jobsSoFar.map(_ -> matched.size.toLong).toMap, got).foreach(ctx.expect(false, _)))
      }
    }
    ctx.rec.add("log_batches", logDepth(spark, root).toDouble)
    val live = TagFamilyStore.readTags(spark, root).count()
    ctx.expect(live == matched.size * Fields.size,
      s"bulk_retag: $live live tag rows, expected ${matched.size * Fields.size}")
    ctx.rec.add("store_bytes_per_tag", dirStats(root)._1.toDouble / live.max(1L))
    ctx.op("compact")(TagFamilyStore.compact(spark, root))
    lastRoot.foreach(deleteRec)
    lastRoot = Some(root)
    lastCuts = cuts.result()
    lastJobs = jobs.result()
  }

  def finalCheck(): Unit = lastRoot.foreach { root =>
    Checks.same("bulk_retag cut after each job", (0 until JobsPerRound).map(_.toLong), lastCuts)
      .foreach(ctx.expect(false, _))
    Checks.tagState("bulk_retag final tags", expected, tagRows(TagFamilyStore.readTags(spark, root)))
      .foreach(ctx.expect(false, _))
    val hist = TagFamilyStore.readHistory(spark, root).groupBy("job_uuid").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    Checks.counts("bulk_retag final history rows per job",
      lastJobs.map(_ -> matched.size.toLong).toMap, hist).foreach(ctx.expect(false, _))
  }
}

object BulkRetag {
  val Shards = 4900
  val JobsPerRound = 3
  val Template = "lineage"
  val ConfigId = "bulk-lineitem"

  def shard(i: Int): String = f"li_$i%05d"

  val Fields: Seq[FieldSpec] = Seq(
    FieldSpec("n_rows", "double", Some("select count(*) from $table")),
    FieldSpec("qty_sum", "string", Some("select cast(sum(l_quantity) as string) from $table")),
    FieldSpec("price_max", "string",
      Some("select cast(max(l_extendedprice) as string) from $table")),
    FieldSpec("n_returned", "double",
      Some("select count(*) from $table where l_returnflag = 'R'")),
    FieldSpec("n_parts", "double", Some("select count(distinct l_partkey) from $table")),
    FieldSpec("last_ship", "string", Some("select cast(max(l_shipdate) as string) from $table")),
    FieldSpec("avg_discount", "string",
      Some("select cast(avg(l_discount) as string) from $table")))
}
