package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TagConfig
import graft.obs.Signals
import graft.sources.{AtomicStore, StoreCut}

/** The CONSISTENT-CUT form of the tag-engine write family — tags,
  * history and (optionally) reports for one commit published under ONE
  * store-level manifest ([[StoreCut]]), the same shape that closed the
  * index stores' torn-swap class in round 17.
  *
  * It is the engine's one persisted tag-write path. Committing a job's
  * history append and its tag merge as SEPARATE store commits — each
  * internally atomic — would let a crash between them leave history
  * recording a write that never landed in the tag store (or vice
  * versa). The reference is equally non-atomic there (the catalog RPC
  * then the BQ history insert, DataCatalogController.py:1608–1652 →
  * BigQueryUtils.py:391–440 — a crashed task simply leaves the pair
  * torn), so this store is beyond-parity hardening: the engine's own
  * bar after round 17.
  *
  * Layout under a family root:
  * {{{
  *   <root>/tags       # TagStore delta-log batches (__op/__batch rows)
  *   <root>/history    # history appends (event_date column derived)
  *   <root>/reports    # export appends (only when jobs pass reports)
  *   <root>/manifest   # the StoreCut — ONE cut pins all parts per commit
  *   <root>/_job_lease # single-writer commits
  * }}}
  *
  * Protocol per commit ([[commitTick]], under the job lease; a job is a
  * one-element tick): write one batch per part — the tags change set of
  * every job folded in job order, the union of their history rows, the
  * union of their report rows — publish each part's table version once,
  * then publish ONE cut pinning all of them. Readers ([[readTags]]/
  * [[readHistory]]/[[readReports]]) resolve every part through the cut,
  * so a crash at ANY point before the cut publish leaves the previous
  * cut fully serving — none of the crashed commit's batches visible in
  * ANY table.
  *
  * Recovery is TRUNCATION, not adoption — the one place this store must
  * differ from the index stores' append semantics: an index append is a
  * self-contained batch ("delayed, not lost" — the next fold adopts it),
  * but a tag-family batch is HALF A COMMIT. Adopting a crashed commit's
  * history batch without its tag merge is exactly the phantom-history
  * state the cut exists to kill. So every commit here resolves its
  * parent file set from the CUT PIN, never from the table's current
  * version: a crashed predecessor's orphan suffix is simply not listed
  * by the next commit's manifest (its dirs age out under vacuum), and
  * the re-run of a crashed commit lands its rows exactly once. For the
  * same reason the maintenance folds ([[compact]]) materialize from the
  * pin, not from current — never through [[StoreCut.foldAndAdvance]],
  * whose adopt-the-chain contract is right for index stores and wrong
  * here.
  *
  * Scale notes (the 100 TB write family): tags take the delta-log form —
  * bytes per commit scale with the BATCH (upserts + tombstones,
  * [[TagStore.tickDelta]]), never the tag lake — history and reports are
  * plain appends, and a commit costs one data write and one table
  * publish per part plus one cut publish, whatever its job count. The
  * job lease serializes only the COMMIT section (metadata ops +
  * batch-sized writes), not evaluation; config evaluation runs before
  * the lease in [[commitTick]]'s callers. The evaluated terminals
  * ([[commitComputed]] per job, [[runTick]] per scheduler tick) are the
  * one exception: they evaluate under the lease so the `overwrite=false`
  * read and the commit see one serialization point.
  */
object TagFamilyStore {

  val TagsPart = "tags"
  val HistoryPart = "history"
  val ReportsPart = "reports"

  /** Cut-pin keys an idempotency pin must not shadow: the three part
    * names plus the manifest dir itself.
    */
  private val ReservedPinKeys =
    Set(TagsPart, HistoryPart, ReportsPart, "manifest")

  private def leasePath(root: String) = s"$root/_job_lease"

  /** TEST-ONLY crash seam, the family sibling of
    * `AnnIndexStore.testMidSwapHook`: invoked with the stage name inside
    * every commit before its single cut publish — "tags" after the tags
    * table publishes, "history" after the history table publishes, and
    * "reports" once every part has published (whether or not the commit
    * carries reports: the widest tear window). SCOPED PER STORE ROOT
    * (round-18 advice): a JVM-global hook set by one oracle query would
    * crash unrelated family commits if the driver ever ran queries
    * concurrently — here a hook only ever fires for the root that
    * installed it. Production never sets one.
    */
  private val testHooks =
    new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()

  private[graft] def setTestMidJobHook(root: String,
                                       h: String => Unit): Unit =
    testHooks.put(root, h)

  private[graft] def clearTestMidJobHook(root: String): Unit =
    testHooks.remove(root)

  private def fireHook(root: String, stage: String): Unit =
    Option(testHooks.get(root)).foreach(_(stage))

  /** TEST-ONLY plan seam, scoped per root like the crash seam: invoked
    * with each part's batch frame, exactly as it is handed to the
    * write, after every part version resolved and before that part's
    * write starts. Production never sets one.
    */
  private val testPartHooks =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, DataFrame) => Unit]()

  private[graft] def setTestPartHook(root: String,
                                     h: (String, DataFrame) => Unit): Unit =
    testPartHooks.put(root, h)

  private[graft] def clearTestPartHook(root: String): Unit =
    testPartHooks.remove(root)

  private val JobLeaseWhat =
    "TagFamilyStore job commit (exclusive multi-table publish)"

  // ------------------------------------------------------------ writes

  /** Atomically commit one job's write family: the tag MERGE change set
    * (`incoming` in the unified tag-row shape — upserts plus the
    * delete-when-all-empty trigger, encoded by [[TagStore.tickDelta]]),
    * its history rows (must carry `event_time`; the
    * `event_date` day column is derived here by
    * [[Sinks.withHistoryPartition]]) and optionally its report rows (must
    * carry `export_time`). All parts become visible together via ONE cut
    * publish — or not at all: a one-job [[commitTick]].
    *
    * The tags batch is one plan over `incoming`; callers whose history
    * or reports derive from the same expensive evaluation should
    * localCheckpoint it first ([[commitComputed]] materializes once).
    */
  def commitJob(spark: SparkSession, root: String, incoming: DataFrame,
                history: DataFrame, reports: Option[DataFrame] = None,
                leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs,
                compactAboveBatches: Int = 64): Map[String, Long] =
    commitTick(spark, root, Seq(JobBatch("job", incoming, history, reports)),
      leaseTtlMs, compactAboveBatches)

  /** One job's share of a [[commitTick]]: the tag MERGE change set
    * (`incoming`, unified tag rows — an all-empty instance is the delete
    * trigger), the history rows (`event_time`-bearing) and optional
    * report rows (`export_time`). `jobId` only labels the job for its
    * caller; history identity stays in the rows (`job_uuid`). The
    * evaluated terminals return one per job ([[runTick]]): `incoming` is
    * then that job's rows of the tick's one checkpoint.
    */
  final case class JobBatch(jobId: String, incoming: DataFrame,
                            history: DataFrame,
                            reports: Option[DataFrame] = None)

  /** ATOMIC WHOLE-TICK commit — the scheduler-tick grain of
    * [[commitJob]] (round-18 verdict #1): N due configs' evaluated
    * batches become visible via ONE cut publish, or not at all. The
    * reference launches one independent task per due config
    * (`/scheduled_auto_updates`, main.py:3075–3110), so a crashed tick
    * there leaves the configs that finished applied; here a crash at any
    * point before the cut publish leaves the pre-tick cut serving in
    * every table, and the re-run lands every config exactly once.
    *
    * The tick writes ONE batch per part, whatever N: the jobs' tag
    * change sets folded in job order ([[TagStore.tickDelta]] over the
    * jobs' [[TagStore.tickFrame]] — a later config in the
    * tick wins conflicts, the deterministic rendering of
    * `TagEngine.perConfigIncoming`'s intra-tick isolation), the union of
    * their history rows (attribution stays in each row's `job_uuid`) and,
    * when any job carries reports, the union of their report rows. The
    * batches are written concurrently, each part's table version is
    * published once, then the one CAS'd cut publish makes them visible.
    *
    * Returns the published part versions plus the cut (`"manifest"`).
    */
  def commitTick(spark: SparkSession, root: String, jobs: Seq[JobBatch],
                 leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs,
                 compactAboveBatches: Int = 64): Map[String, Long] =
    if (jobs.isEmpty) Map.empty
    else AtomicStore.withLease(spark, leasePath(root), leaseTtlMs,
        JobLeaseWhat) {
      commitTickLocked(spark, root, jobs.size,
        TagStore.tickFrame(TagStore.jobTagged(jobs.map(_.incoming))),
        union(jobs.map(_.history)),
        Option.when(jobs.exists(_.reports.nonEmpty))(
          union(jobs.flatMap(_.reports))),
        compactAboveBatches)
    }

  private def union(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** The commit section of every family commit: `tick` is the commit's
    * [[TagStore.tickFrame]] (its tags batch is [[TagStore.tickDelta]] of
    * it), `history` and `reports` are the other parts' whole batches.
    */
  private def commitTickLocked(spark: SparkSession, root: String,
                               jobCount: Int, tick: DataFrame,
                               history: DataFrame,
                               reports: Option[DataFrame],
                               compactAboveBatches: Int,
                               extraPins: Map[String, Long] = Map.empty)
      : Map[String, Long] = {
    // extra pins ride the SAME cut as the part versions, so a key
    // colliding with a part name (or the manifest dir) would max-merge a
    // bogus version into the cut and break strict pinned reads with a
    // vacuum-style failure far from the cause — reject it here, at the
    // one place every pin passes through (round-19 advice)
    extraPins.keys.foreach(k => require(!ReservedPinKeys(k),
      s"TagFamilyStore: idempotency-pin key '$k' collides with a family " +
        "part / manifest name — pick a key outside " +
        ReservedPinKeys.mkString("{", ", ", "}")))
    val grain = if (jobCount > 1) "tick" else "job"
    val baseCut = StoreCut.cutVersion(spark, root)
    val pins = baseCut.map(v => StoreCut.cutAt(spark, root, v))
      .getOrElse(Map.empty)
    checkOrphanBound(spark, root, pins)
    val batches: Seq[(String, Long => DataFrame)] = Seq(
      TagsPart -> ((v: Long) =>
        TagStore.tickDelta(tick).withColumn("__batch", lit(v))),
      HistoryPart -> ((_: Long) => Sinks.withHistoryPartition(history))) ++
      reports.map(r =>
        ReportsPart -> ((_: Long) => Sinks.withReportPartition(r)))
    // each part publishes once, at the version after the one current at
    // entry: under the job lease this commit is the only publisher, so
    // the tags batch can carry its __batch stamp before it is written.
    // The data writes are the only data-sized Spark jobs in the commit
    // section and a dir stays invisible until its manifest publishes, so
    // they run concurrently; the publishes follow in part order
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // (every version resolves before any write starts, so a failed
    // resolve leaves no write running)
    val writes = batches.map { case (part, mk) =>
      val v = AtomicStore.currentVersion(spark, s"$root/$part")
        .getOrElse(-1L) + 1
      (part, v, mk(v))
    }.map { case (part, v, df) =>
      Option(testPartHooks.get(root)).foreach(_(part, df))
      (part, v, Future(blocking(AtomicStore.writeData(df, s"$root/$part"))))
    }
    var versions = Map.empty[String, Long]
    val awaited = scala.collection.mutable.Set.empty[String]
    // a crashed/aborted commit must not leak background write jobs into
    // whatever runs next, nor leave known-unpublished dirs for vacuum —
    // and every part it published is the orphan suffix the next commit
    // truncates: record it so the entry-time bound check can tell
    // in-protocol residue from a leak (an out-of-protocol writer, a
    // chain parented on current instead of the pin)
    def abandon(): Unit = {
      writes.filterNot(w => awaited(w._1)).foreach { case (part, _, fut) =>
        try AtomicStore.reclaimData(spark, s"$root/$part",
          Await.result(fut, Duration.Inf))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      versions.keys.foreach(p =>
        expectedOrphans.merge(s"$root/$p", 1L, (a, b) => a + b))
    }
    try {
      writes.foreach { case (part, v, fut) =>
        val table = s"$root/$part"
        val rel =
          try Await.result(fut, Duration.Inf)
          finally awaited += part
        // parents: the cut pin's files — never the table's current chain
        // (the truncation rule: a crashed predecessor's suffix is not a
        // parent)
        val parents = pins.get(part).toSeq
          .flatMap(pv => AtomicStore.filesAt(spark, table, pv))
          .map(x => new org.apache.hadoop.fs.Path(x).getName)
        if (AtomicStore.currentVersion(spark, table).getOrElse(-1L) + 1 != v ||
            !AtomicStore.publish(spark, table, parents :+ rel, v)) {
          // under the job lease nothing else publishes: a moved version
          // is a writer outside the family protocol. Abort the commit;
          // the re-run truncates back to the pin and lands once
          AtomicStore.reclaimData(spark, table, rel)
          throw new java.util.ConcurrentModificationException(
            s"TagFamilyStore: $table could not publish v$v while this " +
              s"$grain held the job lease — another writer is committing " +
              "to it outside the family protocol. These commits are " +
              "orphaned (the next commit truncates them); re-run")
        }
        versions += part -> v
        if (part != ReportsPart) fireHook(root, part)
      }
      fireHook(root, ReportsPart)
    } catch { case t: Throwable => abandon(); throw t }
    // THE atomicity point: one cut pinning every part's committed version
    // — CAS'd against the cut version the commit's parents derive from.
    // Mandatory (not best-effort): before it, the commit never happened;
    // a failure here is a crashed commit whose re-run truncates these
    // versions and re-lands them. The CAS closes the fenced-zombie hole
    // the lease alone cannot: a holder stalled past its TTL (GC pause, VM
    // freeze) whose lease a successor legally broke would otherwise
    // blind-merge table versions parented on the PRE-successor pins —
    // numerically higher, so max-merge would adopt them and drop the
    // successor's published batches from the served cut. Losing the CAS
    // instead orphans this zombie's commits (the next commit truncates
    // them) and fails loudly with the re-run remedy.
    val cutV =
      try StoreCut.advanceIfBase(spark, root, versions ++ extraPins, baseCut)
        .getOrElse(throw new java.util.ConcurrentModificationException(
          s"TagFamilyStore: the cut at $root moved while this $grain was " +
            "committing — its lease was broken (holder stalled past the " +
            "TTL?) and another publisher advanced. These commits are " +
            "orphaned (the next commit truncates them); re-run"))
      catch { case t: Throwable => abandon(); throw t }
    // published: the pin now covers every version this attempt wrote AND
    // everything beneath; any crash residue beneath the new pin is no
    // longer a suffix, so the root's expectation resets — and the root
    // is now fully accounted in this process, arming the bound check
    Seq(TagsPart, HistoryPart, ReportsPart)
      .foreach(p => expectedOrphans.remove(s"$root/$p"))
    seenRoots.add(root)
    // post-publish maintenance, best-effort (the commit is published — a
    // maintenance hiccup must not fail it, but it is counted): fold any
    // part whose pinned chain outgrew the dir threshold, so a long-lived
    // store's read cost stays flat in commit count
    if (compactAboveBatches > 0)
      try versions.foreach { case (part, v) =>
        if (AtomicStore.filesAt(spark, s"$root/$part", v)
            .lengthCompare(compactAboveBatches) > 0)
          foldPartLocked(spark, root, part)
      } catch { case scala.util.control.NonFatal(e) =>
        StoreCut.recordSwallow(root, e)
        // a crashed fold may have published its fold version without
        // advancing the cut — one more in-protocol orphan per part
        Seq(TagsPart, HistoryPart, ReportsPart)
          .foreach(p => expectedOrphans.merge(s"$root/$p", 1L, (a, b) => a + b))
      }
    Signals.note(Signals.FamilyCuts, root, s"cut=v$cutV jobs=$jobCount " +
      versions.toSeq.sortBy(_._1)
        .map { case (p, v) => s"$p=v$v" }.mkString(" "))
    versions + ("manifest" -> cutV)
  }

  // ------------------------------------------------------------- reads

  /** Resolve one part at the CURRENT cut, or None when no cut pins it —
    * no job ever published it, and a table underneath is crash residue
    * that stays unreadable. For the empty-on-absent reads
    * ([[readTagsOr]], [[readReports]]); the others fail loudly through
    * [[StoreCut.readPinned]]. A pin vacuumed between the cut read and
    * the resolve (the store moved on mid-read) retries once at the
    * freshest cut ([[StoreCut.atCut]]).
    */
  private def pinnedPart(spark: SparkSession, root: String,
                         part: String): Option[DataFrame] =
    StoreCut.atCut(spark, root)(pins => pins.get(part).map(_ =>
      StoreCut.readPinned(spark, root, part, pins)))

  /** The current tag state: latest-wins replay of the cut-pinned tag
    * log ([[TagStore.latestStateOf]] — exactly `applyWithDeletes` in
    * batch order).
    */
  def readTags(spark: SparkSession, root: String): DataFrame =
    TagStore.latestStateOf(StoreCut.atCut(spark, root)(
      StoreCut.readPinned(spark, root, TagsPart, _)))

  /** One job-consistent view of tags AND history. */
  final case class Family(tags: DataFrame, history: DataFrame)

  /** BOTH tables resolved through ONE cut — the read a consumer needs
    * when tags and history must agree about which jobs happened.
    * [[readTags]] + [[readHistory]] each resolve the CURRENT cut
    * independently, so a pair of calls racing a job commit can span two
    * cuts (tags pre-job, history post-job) — each table individually
    * consistent, the PAIR not (the concurrent-reader soak caught
    * exactly that). Here the cut resolves once, each part's file list
    * pins eagerly at construction, and the returned (lazy) frames stay
    * a consistent pair however late they are collected. Same pinned
    * read and one retry as [[pinnedPart]].
    */
  def readFamily(spark: SparkSession, root: String): Family =
    StoreCut.atCut(spark, root) { pins =>
      Family(
        TagStore.latestStateOf(
          StoreCut.readPinned(spark, root, TagsPart, pins)),
        StoreCut.readPinned(spark, root, HistoryPart, pins))
    }

  /** [[readTags]], or an empty frame in `schemaLike`'s schema for a
    * store no job ever committed to (the fresh-store read every first
    * job's overwrite filter needs).
    */
  def readTagsOr(spark: SparkSession, root: String,
                 schemaLike: DataFrame): DataFrame =
    pinnedPart(spark, root, TagsPart).map(TagStore.latestStateOf)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schemaLike.schema))

  /** The cut-pinned history table (every committed job's rows, none of
    * any crashed job's).
    */
  def readHistory(spark: SparkSession, root: String): DataFrame =
    StoreCut.atCut(spark, root)(
      StoreCut.readPinned(spark, root, HistoryPart, _))

  /** The cut-pinned report table, empty-on-absent like [[readTagsOr]]
    * (reports are optional per job, so "no job ever passed reports" is
    * an ordinary state, not an error).
    */
  def readReports(spark: SparkSession, root: String,
                  schemaLike: DataFrame): DataFrame =
    pinnedPart(spark, root, ReportsPart)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schemaLike.schema))

  // ------------------------------------------------------- time travel

  /** The current cut version — the [[readTagsAt]]/[[readHistoryAt]]
    * handle: capture it at a job boundary and re-read that boundary's
    * state bit-identically later (within the retention window —
    * [[compact]] keeps the last 8 cuts and floors every part's vacuum
    * at the oldest retained cut's pin, [[StoreCut.retentionFloor]]).
    */
  def currentCutVersion(spark: SparkSession, root: String): Option[Long] =
    StoreCut.cutVersion(spark, root)

  private def partAt(spark: SparkSession, root: String, part: String,
                     cutVersion: Long): DataFrame =
    StoreCut.readPinned(spark, root, part,
      StoreCut.cutAt(spark, root, cutVersion))

  /** TIME TRAVEL: the tag state exactly as cut `cutVersion` served it —
    * the audit/repro read history could only approximate by replay. An
    * aged-out pin fails loudly, never silently serves newer files under
    * the pinned label.
    */
  def readTagsAt(spark: SparkSession, root: String,
                 cutVersion: Long): DataFrame =
    TagStore.latestStateOf(partAt(spark, root, TagsPart, cutVersion))

  /** TIME TRAVEL: the history table as cut `cutVersion` pinned it. */
  def readHistoryAt(spark: SparkSession, root: String,
                    cutVersion: Long): DataFrame =
    partAt(spark, root, HistoryPart, cutVersion)

  // -------------------------------------------------------- porcelain

  /** One family store's health at a glance — the exact-listing
    * porcelain the index stores grew in round 17, family-flavored:
    * the served cut, each part's pin vs its table's CURRENT version,
    * and the ORPHAN SUFFIX per part (committed versions above the pin
    * — in this store every in-protocol publish advances the cut, so a
    * non-zero suffix is precisely crash residue awaiting truncation by
    * the next job; bounded at one job's commits by the recovery
    * contract). `retainedCuts` lists the time-travel window actually
    * readable ([[readTagsAt]]'s handles).
    */
  final case class FamilyHealth(cutVersion: Option[Long],
                                pins: Map[String, Long],
                                currentVersions: Map[String, Long],
                                orphanSuffix: Map[String, Long],
                                retainedCuts: Seq[Long])

  /** Live health probe — metadata-only (one cut read + one version
    * LIST per part + the retained manifest listing; nothing
    * data-sized).
    */
  def porcelain(spark: SparkSession, root: String): FamilyHealth = {
    val cutV = StoreCut.cutVersion(spark, root)
    val pins = cutV.map(v => StoreCut.cutAt(spark, root, v))
      .getOrElse(Map.empty)
      .filter { case (k, _) => Set(TagsPart, HistoryPart, ReportsPart)(k) }
    val current = Seq(TagsPart, HistoryPart, ReportsPart).flatMap { p =>
      AtomicStore.currentVersion(spark, s"$root/$p").map(p -> _)
    }.toMap
    val orphans = current.map { case (p, cur) =>
      p -> math.max(0L, cur - pins.getOrElse(p, -1L))
    }.filter(_._2 > 0)
    val retained = cutV.toSeq.flatMap { latest =>
      (math.max(0L, latest - StoreCut.RetainedCuts + 1) to latest)
        .filter { v =>
          try { StoreCut.cutAt(spark, root, v); true }
          catch { case e: Throwable if AtomicStore.isVacuumRace(e) => false }
        }
    }
    FamilyHealth(cutV, pins, current, orphans, retained)
  }

  /** ORPHAN-SUFFIX accounting (round-19 verdict #7 — the porcelain's
    * "bounded by the recovery contract" claim turned into a checked
    * invariant): within one process, every version above the cut pin
    * must have been committed by an attempt that then crashed/lost its
    * publish in THIS process — [[commitTickLocked]] records each failed
    * attempt's per-part commit counts, clears them on a successful
    * publish (the new pin subsumes the residue), and at every commit's
    * entry compares the OBSERVED suffix (current table version − pin)
    * against that expectation. An over-bound suffix means the store's
    * truncation contract leaked — an out-of-protocol writer, or a chain
    * parented on current instead of the pin — and is noted under
    * `Signals.OrphanSuffixViolations` (plus one stderr line); Verify
    * fails a run that noted one. Recording, not throwing, at the store
    * layer: the serving cut is still correct (readers resolve through
    * pins), so the commit itself must not be held hostage by the
    * diagnostic.
    */
  private val expectedOrphans =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
  // the expectation is only complete for roots THIS process has already
  // published to: a fresh process re-running a KILLED commit (the gate
  // tools' regime) legitimately finds residue it never recorded, so the
  // first commit at a root only arms the check for later ones
  private val seenRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def checkOrphanBound(spark: SparkSession, root: String,
                               pins: Map[String, Long]): Unit =
    try if (seenRoots.contains(root))
      Seq(TagsPart, HistoryPart, ReportsPart).foreach { p =>
      AtomicStore.currentVersion(spark, s"$root/$p").foreach { cur =>
        val observed = cur - pins.getOrElse(p, -1L)
        val allowed = Option(expectedOrphans.get(s"$root/$p"))
          .map(_.longValue).getOrElse(0L)
        if (observed > allowed) {
          val msg = s"observed=$observed allowed=$allowed (pin=" +
            s"${pins.get(p).map(_.toString).getOrElse("none")} current=$cur)"
          Signals.note(Signals.OrphanSuffixViolations, s"$root/$p", msg)
          System.err.println(s"[tagfamily] ORPHAN-SUFFIX BOUND VIOLATION " +
            s"at $root/$p: $msg — versions above the pin exceed what " +
            "crashed attempts in this process committed; an " +
            "out-of-protocol writer or a truncation leak")
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // diagnostic only

  // ------------------------------------------------------ maintenance

  /** Fold one part's PINNED chain back to a single snapshot and adopt
    * the fold into the cut. Materializes from the PIN (see the object
    * doc: folding from current would adopt a crashed job's orphan
    * batches — the family inversion of the index stores' fold), reduces
    * tags to their latest-wins state (the log-semantics fold) and
    * squashes history/reports
    * row-preserving. Publishes fold-marked at the table's next version,
    * advances the cut, and vacuums with the retained-cuts floor so
    * time-travel pins stay readable.
    */
  private def foldPartLocked(spark: SparkSession, root: String, part: String,
                             graceMs: Long = 15 * 60 * 1000L): Option[Long] =
    StoreCut.fold(spark, root, part,
      StoreCut.TruncateToPin((pinned, v) =>
        if (part == TagsPart)
          // the log-semantics fold: squash the pinned chain to its
          // latest-wins state ([[TagStore.latestStateOf]]), re-marked
          // as one upsert batch at the fold's version
          TagStore.latestStateOf(pinned)
            .withColumn("__op", lit("upsert")).withColumn("__batch", lit(v))
        else pinned), // history/reports squash row-preserving
      graceMs)

  /** Periodic maintenance (claims the job lease — folds must not race a
    * live job commit's version arithmetic): fold every published part,
    * then vacuum old cuts (the last 8 stay readable for time travel).
    */
  def compact(spark: SparkSession, root: String,
              graceMs: Long = 15 * 60 * 1000L,
              leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs)
      : Map[String, Option[Long]] =
    AtomicStore.withLease(spark, leasePath(root), leaseTtlMs, JobLeaseWhat) {
      val folded = Seq(TagsPart, HistoryPart, ReportsPart)
        .map(p => p -> foldPartLocked(spark, root, p, graceMs)).toMap
      StoreCut.vacuumCuts(spark, root, graceMs = graceMs)
      folded
    }

  // ------------------------------------------------ the evaluated job

  /** The job terminal for a PRE-EVALUATED tag-row set — what
    * `ConfigDispatch.applyConfig`, `TagEngine.applyDynamicTableConfig` or
    * the event-driven re-tag stream (`Streams.retagCommitBatch`) produce:
    * `computed` is the job's computed rows in the unified shape (lazy —
    * evaluation runs under the lease at the one materialization point).
    * Applies the `overwrite=false` restriction against the CUT-PINNED tag
    * state (DataCatalogController.py:230–243), derives the history rows
    * from the written instances (DataCatalogController.py:324–327) and
    * publishes tags + history (+ reports) as ONE atomic family commit.
    *
    * `idempotencyPin` makes a CHECKPOINT-REPLAYED commit exactly-once:
    * `Some(key -> n)` publishes `key=n` into the job's cut (max-merged,
    * so a monotonic micro-batch id fits the cut's contract), and a
    * later call whose cut already carries `key >= n` SKIPS the commit
    * (returns Map.empty). The check runs under the job lease, so a
    * replayed `foreachBatch` wave after a crash-after-publish cannot
    * double its history rows — the family sibling of the ingest path's
    * content-hash replay idempotence, at O(1) metadata cost (one cut
    * read the commit pays anyway) instead of a history scan.
    */
  def commitComputed(spark: SparkSession, root: String, config: TagConfig,
                     computed: DataFrame,
                     eventTime: Column = current_timestamp(),
                     jobUuid: Column = lit(""),
                     leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs,
                     idempotencyPin: Option[(String, Long)] = None)
      : Map[String, Long] =
    commitEvaluated(spark, root, eventTime, leaseTtlMs, idempotencyPin) {
      existing =>
        Seq((config, TagEngine.incomingFor(config, computed, existing),
          jobUuid))
    }.versions

  /** The WHOLE scheduler tick with the family-cut terminal:
    * [[TagEngine.perConfigIncoming]]'s evaluation (ONE catalog expansion
    * for every due config, each config's merge set derived against the
    * SAME pre-tick cut-pinned tag state — the intra-tick isolation
    * documented there) committed under one cut publish, as one
    * [[commitTick]] of the same batches would. A crash anywhere before
    * the cut publish leaves the pre-tick state serving everywhere; the
    * re-run lands every config exactly once.
    *
    * Its commit cost does not grow with the number of due configs: the
    * tick is materialized ONCE and each part is one plan over that one
    * frame (see [[commitEvaluated]]).
    *
    * Returns the versions and one [[JobBatch]] per config — its
    * `incoming` is that config's rows of the tick's checkpoint, so a
    * caller can roll the tick up (per-job counts over the PRODUCED rows,
    * the `Streams.schedulerTickCommit` contract) without re-evaluating
    * anything or mis-counting store rows the jobs never touched; its
    * `history` and `reports` are that config's rows of the tick's
    * history and report parts (lazy: nothing runs unless read).
    * `jobUuidOf` names each config's job in its history rows (the
    * scheduler's convention is `md5(config_uuid|version)` — see
    * `Streams.schedulerTickCommit`); the default labels by config uuid.
    *
    * `idempotencyPin` is [[commitComputed]]'s contract at the TICK
    * grain: a replayed tick (a `foreachBatch` wave re-fired from its
    * checkpoint, or a re-run after the caller LOST the config-store
    * advance while the family publish survived) cannot double every
    * config's history under the same `md5(uuid|version)` job_uuid. On a
    * skip the batches are still evaluated and returned (the caller's
    * rollup/advance must re-emit so the lost config-store merge can
    * complete); with the window being a crashed tick's immediate re-run,
    * the re-evaluation sees the same data — and `overwrite=true` configs
    * (the scheduler-batch shape) re-derive identical rows regardless of
    * the already-landed commit.
    */
  def runTick(spark: SparkSession, configs: Seq[(String, TagConfig)],
              catalog: DataFrame, root: String,
              eventTime: Column = current_timestamp(),
              jobUuidOf: String => Column = id => lit(id),
              leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs,
              idempotencyPin: Option[(String, Long)] = None)
      : (Map[String, Long], Seq[JobBatch]) =
    if (configs.isEmpty) (Map.empty, Seq.empty)
    else {
      val t = evaluatedTick(spark, configs, catalog, root, eventTime,
        jobUuidOf, leaseTtlMs, idempotencyPin)
      val job = col("__job")
      (t.versions, configs.zipWithIndex.map { case ((id, cfg), i) =>
        JobBatch(id, t.tick.filter(job === i).drop("__job", "__del"),
          t.history.filter(col("job_uuid") <=> jobUuidOf(id)),
          // report rows are a per-row projection of the tick's rows: the
          // filter resolves `__job` below that projection
          Option.when(cfg.exportTags)(t.reports.get.filter(job === i)))
      })
    }

  /** [[runTick]] returning, for its batches, the tick's PRODUCED rows as
    * one frame: every config's incoming rows tagged with its id as
    * `config_uuid`, read from the tick's one checkpoint — what a per-job
    * rollup groups (`Streams.schedulerTickCommit`).
    */
  private[graft] def runTickProduced(spark: SparkSession,
                                     configs: Seq[(String, TagConfig)],
                                     catalog: DataFrame, root: String,
                                     eventTime: Column,
                                     jobUuidOf: String => Column,
                                     idempotencyPin: Option[(String, Long)])
      : (Map[String, Long], DataFrame) = {
    require(configs.nonEmpty, "runTickProduced: no configs to run")
    val t = evaluatedTick(spark, configs, catalog, root, eventTime, jobUuidOf,
      AtomicStore.DefaultLeaseTtlMs, idempotencyPin)
    (t.versions, t.tick
      .withColumn("config_uuid", perJob(configs.map(c => lit(c._1))))
      .drop("__job", "__del"))
  }

  private def evaluatedTick(spark: SparkSession,
                            configs: Seq[(String, TagConfig)],
                            catalog: DataFrame, root: String,
                            eventTime: Column, jobUuidOf: String => Column,
                            leaseTtlMs: Long,
                            idempotencyPin: Option[(String, Long)])
      : Evaluated =
    commitEvaluated(spark, root, eventTime, leaseTtlMs, idempotencyPin) {
      existing =>
        TagEngine.perConfigIncoming(spark, configs, catalog, existing)
          .zip(configs).map { case ((id, inc), (_, cfg)) =>
            (cfg, inc, jobUuidOf(id))
          }
    }

  /** An evaluated commit: its versions (empty on a replay skip), the
    * tick frame it materialized ([[TagStore.tickFrame]], checkpointed)
    * and the history and report parts it built from it.
    */
  private final case class Evaluated(versions: Map[String, Long],
                                     tick: DataFrame, history: DataFrame,
                                     reports: Option[DataFrame])

  /** The per-job value `values(i)` of each tick-frame row of job `i`. */
  private def perJob(values: Seq[Column]): Column =
    values.zipWithIndex.tail.foldLeft(when(col("__job") === 0, values.head)) {
      case (c, (v, i)) => c.when(col("__job") === i, v)
    }

  /** The ONE body of both evaluated terminals, entirely under the job
    * lease so the overwrite filters' read and the commit see one
    * serialization point: check the idempotency pin, read the cut-pinned
    * tag state once, derive each job's `(config, incoming, jobUuid)` from
    * it, materialize the jobs' incoming rows, build the parts and commit
    * them under one cut — unless the pin marks a replay.
    *
    * ONE materialization per commit: a single `localCheckpoint` of the
    * [[TagStore.tickFrame]] of the jobs' incoming sets — their union, each
    * row tagged with its job ordinal and its (instance, job) all-empty
    * trigger, computed in that same pass. History and reports must never
    * record values that differ from the batch actually merged, so every
    * part reads that one frame, each as ONE plan whatever the job count:
    *  - tags: [[TagStore.tickDelta]] of it;
    *  - history: the written (non-`__del`) rows through ONE
    *    [[TagEngine.historyRows]] pivot per distinct field list in the
    *    tick, `job_uuid` chosen per job;
    *  - reports: the exporting jobs' written rows through one
    *    [[TagEngine.reportRowsFor]] projection.
    * The frame's partitioning satisfies every one of those groupings, so
    * no part shuffles and a small commit's parts each land as one file.
    */
  private def commitEvaluated(spark: SparkSession, root: String,
                              eventTime: Column, leaseTtlMs: Long,
                              idempotencyPin: Option[(String, Long)])(
      jobsOf: DataFrame => Seq[(TagConfig, DataFrame, Column)])
      : Evaluated =
    AtomicStore.withLease(spark, leasePath(root), leaseTtlMs, JobLeaseWhat) {
      val replayed = idempotencyPin.exists { case (k, n) =>
        StoreCut.cut(spark, root).exists(_.get(k).exists(_ >= n))
      }
      val jobs = jobsOf(readTagsOr(spark, root, TagEngine.emptyTagRows(spark)))
      val tick =
        TagStore.tickFrame(TagStore.jobTagged(jobs.map(_._2))).localCheckpoint()
      val job = col("__job")
      // history and the A12 report rows (when the config exports)
      // describe the WRITTEN instances only: an all-empty instance fires
      // the delete trigger and must leave no phantom row
      val written = tick.filter(!col("__del"))
      val history = union(jobs.indices
        .groupBy(i => jobs(i)._1.fields.map(f => (f.fieldId, f.fieldType)))
        .values.toSeq.sortBy(_.head).map { is =>
          TagEngine.historyRows(written.filter(job.isin(is: _*)),
            jobs(is.head)._1, eventTime, perJob(jobs.map(_._3)))
        })
      val exporting = jobs.indices.filter(jobs(_)._1.exportTags)
      val reports = Option.when(exporting.nonEmpty)(TagEngine.reportRowsFor(
        written.filter(job.isin(exporting: _*)), eventTime))
      val versions =
        if (replayed) Map.empty[String, Long]
        else commitTickLocked(spark, root, jobs.size, tick, history, reports,
          compactAboveBatches = 64, extraPins = idempotencyPin.toMap)
      Evaluated(versions, tick, history, reports)
    }
}
