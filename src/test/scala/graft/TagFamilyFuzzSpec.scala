package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TagFamilyStore
import graft.sources.StoreCut

/** Crash-aware fuzz for the tag-family cut (the round-17 fuzz pattern
  * applied to the new store): a seeded random interleaving of committed
  * jobs, jobs crashed at random inter-commit stages, zombie jobs (cut
  * moved under a broken lease mid-commit), and maintenance folds —
  * with a full in-memory model of the COMMITTED-ONLY state asserted
  * against the served tables after every step, plus retained
  * time-travel pins re-checked at the end. Any state a crashed or
  * zombie job leaks, any row a fold loses or resurrects, any
  * exactly-once violation in a re-run fails the run with the seed in
  * the message.
  */
class TagFamilyFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val Assets = Vector("a/orders", "a/region", "a/nation", "a/part")
  private val Fields = Vector("env", "n_rows", "owner")

  private def mkIncoming(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("asset_uri", "field_id", "field_value")
      .select(col("asset_uri"), lit("").as("column"),
        lit("gov").as("template_id"), col("field_id"),
        lit("string").as("field_type"), col("field_value"))

  private def mkHistory(uuid: String, n: Int): DataFrame =
    (0 until n).map(i => s"a/h$i").toDF("asset_name")
      .select(to_timestamp(lit("2026-01-05 00:00:00")).as("event_time"),
        col("asset_name"), lit(uuid).as("job_uuid"))

  // two seeds: distinct interleavings of jobs/ticks/crashes/zombies/folds
  for (seed <- Seq(181818L, 271828L))
  test(s"seeded crash/zombie/fold fuzz (seed $seed): served state always equals the committed-only replay") {
    val rnd = new scala.util.Random(seed)
    val root = java.nio.file.Files.createTempDirectory("graft_tagfam_fz")
      .toString
    def ctx = s"(seed $seed)"

    // the model: committed-only tag state + history counts
    val tags = scala.collection.mutable.Map[(String, String), String]()
    val hist = scala.collection.mutable.Map[String, Long]()
    var committedJobs = 0
    val pinsSeen = scala.collection.mutable.ArrayBuffer[
      (Long, Set[String], Map[String, Long])]() // (cutV, tagSet, hist)

    def randomBatch(): Seq[(String, String, String)] = {
      val n = 1 + rnd.nextInt(4)
      // distinct (asset, field) keys per batch: two rows on the same key
      // in ONE batch share a __batch stamp, so the latest-wins window's
      // tie-break between them is plan-order — deliberately outside the
      // store's contract (the reference's per-tag RPC can't express it
      // either), so the fuzz must not generate it
      (0 until n).map { _ =>
        val a = Assets(rnd.nextInt(Assets.length))
        val f = Fields(rnd.nextInt(Fields.length))
        // ~20%: an all-empty tag instance — the delete trigger
        val v = if (rnd.nextInt(5) == 0) "" else s"v${rnd.nextInt(9)}"
        (a, f, v)
      }.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq.sortBy(t => (t._1, t._2))
    }
    def applyModel(batch: Seq[(String, String, String)], uuid: String,
                   histN: Int): Unit = {
      // delete-when-all-empty per (asset, template) instance, then upsert
      val byAsset = batch.groupBy(_._1)
      byAsset.foreach { case (a, rows) =>
        if (rows.forall(_._3.isEmpty))
          Fields.foreach(f => tags.remove((a, f)))
        else rows.foreach { case (_, f, v) => tags((a, f)) = v }
      }
      hist(uuid) = hist.getOrElse(uuid, 0L) + histN
    }
    def servedTags(): Set[String] =
      TagFamilyStore.readTags(spark, root)
        .select("asset_uri", "field_id", "field_value")
        .collect().map(_.mkString("|")).toSet
    def servedHist(): Map[String, Long] =
      TagFamilyStore.readHistory(spark, root).groupBy("job_uuid").count()
        .as[(String, Long)].collect().toMap
    def modelTags(): Set[String] =
      tags.map { case ((a, f), v) => s"$a|$f|$v" }.toSet
    def assertServed(step: Int): Unit = {
      assert(servedTags() === modelTags(), s"tags diverged at step $step $ctx")
      assert(servedHist() === hist.toMap, s"history diverged at step $step $ctx")
    }

    // step 0: one committed job so reads resolve
    val b0 = Seq(("a/orders", "env", "v1"))
    TagFamilyStore.commitJob(spark, root, mkIncoming(b0), mkHistory("j0", 2))
    applyModel(b0, "j0", 2); committedJobs += 1

    // a random TICK: 2-3 jobs in one batch per part under one cut —
    // frames rebuild lazily, so the same structure re-runs after a crash
    def mkTick(step: Int): Seq[(Seq[(String, String, String)], String, Int)] =
      (0 until 2 + rnd.nextInt(2)).map(j =>
        (randomBatch(), s"j$step-t$j", 1 + rnd.nextInt(3)))
    def tickBatches(t: Seq[(Seq[(String, String, String)], String, Int)]) =
      t.map { case (b, u, n) =>
        TagFamilyStore.JobBatch(u, mkIncoming(b), mkHistory(u, n))
      }

    (1 to 40).foreach { step =>
      val batch = randomBatch()
      val uuid = s"j$step"
      val histN = 1 + rnd.nextInt(3)
      rnd.nextInt(12) match {
        case k if k < 4 => // committed job
          TagFamilyStore.commitJob(spark, root, mkIncoming(batch),
            mkHistory(uuid, histN))
          applyModel(batch, uuid, histN); committedJobs += 1
        case k if k < 5 => // committed TICK (jobs apply in order)
          val t = mkTick(step)
          TagFamilyStore.commitTick(spark, root, tickBatches(t))
          t.foreach { case (b, u, n) => applyModel(b, u, n) }
          committedJobs += t.size
        case 10 => // TICK crashed at a random point before its cut
          val t = mkTick(step)
          val stage = Seq("tags", "history", "reports")(rnd.nextInt(3))
          TagFamilyStore.setTestMidJobHook(root, s =>
            if (s == stage) throw new RuntimeException("fz tick crash"))
          try intercept[RuntimeException](
            TagFamilyStore.commitTick(spark, root, tickBatches(t)))
          finally TagFamilyStore.clearTestMidJobHook(root)
          assertServed(step) // the WHOLE tick invisible, published parts incl.
          if (rnd.nextBoolean()) { // re-run: every job exactly once
            TagFamilyStore.commitTick(spark, root, tickBatches(t))
            t.foreach { case (b, u, n) => applyModel(b, u, n) }
            committedJobs += t.size
          }
        case k if k < 8 => // crash at a random inter-commit stage, re-run
          val stage = Seq("tags", "history", "reports")(rnd.nextInt(3))
          TagFamilyStore.setTestMidJobHook(root, s =>
            if (s == stage) throw new RuntimeException("fz crash"))
          try intercept[RuntimeException](
            TagFamilyStore.commitJob(spark, root, mkIncoming(batch),
              mkHistory(uuid, histN)))
          finally TagFamilyStore.clearTestMidJobHook(root)
          assertServed(step) // crashed job invisible in BOTH tables
          // ~half the crashes re-run (exactly-once); the rest stay
          // abandoned orphans for later jobs to truncate
          if (rnd.nextBoolean()) {
            TagFamilyStore.commitJob(spark, root, mkIncoming(batch),
              mkHistory(uuid, histN))
            applyModel(batch, uuid, histN); committedJobs += 1
          }
        case 8 => // zombie: cut moves under a broken lease mid-commit
          TagFamilyStore.setTestMidJobHook(root, s =>
            if (s == "history")
              StoreCut.advance(spark, root, Map("zz" -> step.toLong)))
          try intercept[java.util.ConcurrentModificationException](
            TagFamilyStore.commitJob(spark, root, mkIncoming(batch),
              mkHistory(uuid, histN)))
          finally TagFamilyStore.clearTestMidJobHook(root)
          assertServed(step) // zombie's commits never served
        case _ => // maintenance fold (grace 0: only the floor protects)
          TagFamilyStore.compact(spark, root, graceMs = 0L)
          assertServed(step)
      }
      if (rnd.nextInt(4) == 0) assertServed(step)
      if (rnd.nextInt(6) == 0)
        pinsSeen += ((TagFamilyStore.currentCutVersion(spark, root).get,
          modelTags(), hist.toMap))
    }

    assertServed(41)
    // always pin the final state too: random captures can all age past
    // the retained window on op mixes that mint many cuts
    pinsSeen += ((TagFamilyStore.currentCutVersion(spark, root).get,
      modelTags(), hist.toMap))
    assert(committedJobs > 5, s"degenerate run $ctx")
    // retained time-travel pins still serve their captured state
    // bit-identically (strict reads; pins older than the retained
    // window may legitimately fail loudly — skip those)
    val latest = TagFamilyStore.currentCutVersion(spark, root).get
    val checked = pinsSeen.filter(_._1 > latest - 8).map {
      case (cv, expTags, expHist) =>
        val gotTags = TagFamilyStore.readTagsAt(spark, root, cv)
          .select("asset_uri", "field_id", "field_value")
          .collect().map(_.mkString("|")).toSet
        assert(gotTags === expTags, s"pinned tags diverged at cut $cv $ctx")
        val gotHist = TagFamilyStore.readHistoryAt(spark, root, cv)
          .groupBy("job_uuid").count().as[(String, Long)].collect().toMap
        assert(gotHist === expHist, s"pinned history diverged at cut $cv $ctx")
        cv
    }
    assert(checked.nonEmpty, s"no retained pin got checked $ctx")
  }

  test("concurrent readers only ever observe committed cut states (torn reads unrepresentable under load)") {
    val root = java.nio.file.Files.createTempDirectory("graft_tagfam_rd")
      .toString
    // every state a reader may legally observe, recorded BEFORE its
    // publishing commit runs (so a reader racing the cut advance finds
    // either the old or the new state already in the set). Keyed by the
    // full (tags, history) pair — a torn read (one table old, one new)
    // matches NO recorded pair.
    val legal = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Set[String], Map[String, Long])]()
    val tags = scala.collection.mutable.Map[(String, String), String]()
    val hist = scala.collection.mutable.Map[String, Long]()
    def snap(): (Set[String], Map[String, Long]) =
      (tags.map { case ((a, f), v) => s"$a|$f|$v" }.toSet, hist.toMap)
    // the consistent-PAIR read: readFamily resolves ONE cut for both
    // tables (independent readTags + readHistory calls are two separate
    // snapshots and legitimately span a racing commit — this soak's
    // first run proved it)
    def read(): (Set[String], Map[String, Long]) = {
      val fam = TagFamilyStore.readFamily(spark, root)
      (fam.tags.select("asset_uri", "field_id", "field_value")
        .collect().map(_.mkString("|")).toSet,
        fam.history.groupBy("job_uuid").count()
          .as[(String, Long)].collect().toMap)
    }

    val b0 = Seq(("a/orders", "env", "v0"))
    legal.add(snap()) // the pre-store state is unreadable (no cut) but
    // record post-j0 BEFORE committing, per the protocol above
    b0.foreach { case (a, f, v) => tags((a, f)) = v }
    hist("j0") = 1L
    legal.add(snap())
    TagFamilyStore.commitJob(spark, root, mkIncoming(b0), mkHistory("j0", 1))

    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() => {
      try while (!stop.get()) {
        val got = read()
        reads.incrementAndGet()
        if (!legal.contains(got))
          torn.compareAndSet(null, s"unrecorded state: $got")
      } catch { case e: Throwable =>
        torn.compareAndSet(null, s"reader threw: $e")
      }
    })
    reader.start()
    try {
      (1 to 12).foreach { step =>
        val batch = Seq(("a/orders", "env", s"v$step"),
          ("a/nation", "n_rows", s"n$step"))
        batch.foreach { case (a, f, v) => tags((a, f)) = v }
        hist(s"j$step") = 2L
        legal.add(snap())
        TagFamilyStore.commitJob(spark, root, mkIncoming(batch),
          mkHistory(s"j$step", 2))
        // default grace: folds rewrite chains while the reader races —
        // a fold must be result-invisible to every concurrent read
        if (step % 4 == 0) TagFamilyStore.compact(spark, root)
        if (torn.get() != null) fail(torn.get())
      }
    } finally { stop.set(true); reader.join(30000) }
    assert(torn.get() == null, String.valueOf(torn.get()))
    assert(reads.get() > 10, s"degenerate soak: only ${reads.get()} reads")
  }
}
