package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{FieldSpec, TagConfig}
import graft.operators.{ConfigDispatch, EngineInputs, TagEngine, TagFamilyStore, TagStore}
import Common._

/** tag_reads: reads beside writes on a deep log. Set-up seeds a family
  * store with [[TagReads.SeedCommits]] small static-tag commits (three
  * cuts of four batches each). Every round restores that seeded store,
  * then runs [[TagReads.StepsPerRound]] steps of current, as-of and
  * history reads and one small scheduler-launched commit, and ends with a
  * compaction. Commit k tags the ten assets of one glob with template gov
  * or ops and values that name k, so later commits overwrite earlier
  * ones; the benchmark folds the same batches into its own latest-wins
  * model.
  */
final class TagReads(ctx: Ctx) extends Workload {
  import TagReads._
  private val args = ctx.args
  private val rng = new scala.util.Random(args.seed)
  private val totalCommits = SeedCommits + StepsPerRound
  // commit k tags prefix perm(k mod 12) with template gov or ops by the
  // parity of k, so which commits overwrite which (and the live tag count)
  // is the same for every seed; the seed picks prefixes and owners
  private val prefixes = rng.shuffle((0 until Prefixes).toList).take(Prefixes / 2)
  private val commits: IndexedSeq[Commit] = (0 until totalCommits).map { k =>
    Commit(k, if (k % 2 == 0) "gov" else "ops", prefixes(k % prefixes.size),
      Owners(rng.nextInt(Owners.size)))
  }
  private val targets = IndexedSeq.fill(32)(rng.nextInt(1 << 20))
  private val seedRoot = s"${args.tmp}/stores/reads-seed"
  private val root = s"${args.tmp}/stores/reads"

  private var spark: SparkSession = _
  private var catalog: DataFrame = _
  private var lastCuts: Seq[Long] = Nil

  def setup(s: SparkSession): Unit = {
    spark = s
    catalog = catalogOf(spark, Tables).localCheckpoint()
    deleteRec(seedRoot)
    commits.take(SeedCommits).grouped(SeedBatchesPerCut).foreach { group =>
      TagFamilyStore.commitTick(spark, seedRoot, group.map { c =>
        val incoming = ConfigDispatch.applyConfig(spark, c.config, EngineInputs(catalog, emptyTags(spark)))
        TagFamilyStore.JobBatch(c.jobUuid, incoming,
          TagEngine.historyRows(TagStore.dropAllEmptyTags(incoming), c.config,
            lit(at(c.k)), lit(c.jobUuid)))
      })
    }
  }

  /** Seeding commits ~0.5 s per batch, so set-up runs once here. */
  override def setupReps: Int = 1

  private def commit(c: Commit): Unit = {
    val row = SchedRow("trickle", c.template, c.config.includedUris.mkString(","), 1,
      at(c.k - 1), c.k.toLong)
    scheduled(ctx, spark, row, at(c.k)) { _ =>
      job(ctx, spark, root, c.config, EngineInputs(catalog, emptyTags(spark)), at(c.k), c.jobUuid)
    }
  }

  def round(r: Int): Unit = {
    deleteRec(root)
    copyRec(seedRoot, root)
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cut = TagFamilyStore.currentCutVersion(spark, root).getOrElse(-1L)
    var done = SeedCommits
    for (step <- 0 until StepsPerRound) {
      val state = model(commits.take(done))
      // as-of: the cut two commits back, so every as-of read replays a log
      // of the same depth
      val pin = math.max(0L, cut - AsOfBack)
      val stateAt = model(commits.take(commitsAtCut(pin)))
      def pick(m: Map[Checks.TagKey, String], salt: Int): (String, String) = {
        val keys = m.keys.map(x => (x._1, x._2)).toSeq.distinct.sorted
        keys(targets((r * 31 + step * 7 + salt) % targets.size) % keys.size)
      }
      for (i <- 0 until ReadsPerKind) {
        val (a, t) = pick(state, i)
        currentRead(ctx, spark, root, instance(a, t)).foreach(got =>
          Checks.tagState(s"tag_reads read $a/$t", expectedInstance(state, a, t), got)
            .foreach(ctx.expect(false, _)))
        val (a2, t2) = pick(stateAt, i + 3)
        asOfRead(ctx, spark, root, pin, instance(a2, t2)).foreach(got =>
          Checks.tagState(s"tag_reads as-of read $a2/$t2 at cut $pin",
            expectedInstance(stateAt, a2, t2), got).foreach(ctx.expect(false, _)))
        historyRead(ctx, spark, root).foreach(got =>
          Checks.counts("tag_reads history rows per job", expectedHistory(commits.take(done)), got)
            .foreach(ctx.expect(false, _)))
      }
      val c = commits(done)
      ctx.op("write_s") {
        commit(c)
        ctx.rec.add("tags_written", (AssetsPerCommit * FieldIds.size).toDouble)
      }
      done += 1
      cut = TagFamilyStore.currentCutVersion(spark, root).getOrElse(-1L)
      cuts += cut
    }
    ctx.rec.add("log_batches", logDepth(spark, root).toDouble)
    val final0 = model(commits.take(done))
    val got = tagRows(TagFamilyStore.readTags(spark, root))
    Checks.tagState("tag_reads tags at round end", final0, got).foreach(ctx.expect(false, _))
    ctx.rec.add("store_bytes_per_tag", dirStats(root)._1.toDouble / got.size.max(1))
    ctx.op("compact")(TagFamilyStore.compact(spark, root))
    lastCuts = cuts.toSeq
  }

  /** Commits visible at cut v: the seed publishes SeedBatchesPerCut per
    * cut, every later commit one.
    */
  private def commitsAtCut(v: Long): Int = {
    val seedCuts = SeedCommits / SeedBatchesPerCut
    if (v < seedCuts) ((v + 1) * SeedBatchesPerCut).toInt
    else SeedCommits + (v - seedCuts + 1).toInt
  }

  def finalCheck(): Unit = {
    val seedCuts = (SeedCommits / SeedBatchesPerCut).toLong
    Checks.same("tag_reads cut after each commit",
      (0 until StepsPerRound).map(seedCuts + _), lastCuts).foreach(ctx.expect(false, _))
    val all = commits.take(SeedCommits + StepsPerRound)
    Checks.tagState("tag_reads final tags after compaction", model(all),
      tagRows(TagFamilyStore.readTags(spark, root))).foreach(ctx.expect(false, _))
    val hist = TagFamilyStore.readHistory(spark, root).groupBy("job_uuid").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    Checks.counts("tag_reads final history rows per job", expectedHistory(all), hist)
      .foreach(ctx.expect(false, _))
  }
}

object TagReads {
  val SeedCommits = 12
  val SeedBatchesPerCut = 4
  val StepsPerRound = 5
  val AsOfBack = 2
  val Prefixes = 24
  val AssetsPerCommit = 10
  val Tables: Seq[String] = (0 until Prefixes * AssetsPerCommit).map(i => f"t_$i%03d")
  val Owners = Seq("finance", "growth", "platform", "risk", "search")
  val FieldIds = Seq("rev", "owner", "tier")

  /** Commit k: template, the glob t_<prefix>* (ten assets) and its values. */
  final case class Commit(k: Int, template: String, prefix: Int, owner: String) {
    def jobUuid: String = s"commit-$k"
    def assets: Seq[String] = (0 until AssetsPerCommit).map(i => f"t_$prefix%02d$i")
    def values: Seq[(String, String)] =
      Seq("rev" -> s"r$k", "owner" -> owner, "tier" -> (k % 5).toString)
    def config: TagConfig = TagConfig("STATIC_TAG_ASSET", template,
      values.map { case (f, v) => FieldSpec(f, if (f == "tier") "double" else "string", None, Some(v)) },
      includedUris = Seq(Common.uri(f"t_$prefix%02d*")), tagHistory = true)
  }

  /** The latest-wins fold of the commits, in commit order. */
  def model(cs: Seq[Commit]): Map[Checks.TagKey, String] =
    cs.foldLeft(Map.empty[Checks.TagKey, String]) { (m, c) =>
      m ++ (for (a <- c.assets; (f, v) <- c.values) yield (Common.uri(a), c.template, f) -> v)
    }

  def expectedHistory(cs: Seq[Commit]): Map[String, Long] =
    cs.map(c => c.jobUuid -> AssetsPerCommit.toLong).toMap
}
