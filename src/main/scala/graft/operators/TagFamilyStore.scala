package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TagConfig
import graft.obs.Signals
import graft.sources.{AtomicStore, StoreCut}

/** The CONSISTENT-CUT form of the tag-engine write family — tags,
  * history and (optionally) reports for one job published under ONE
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
  *   <root>/history    # day-partitioned history appends
  *   <root>/reports    # export appends (only when jobs pass reports)
  *   <root>/manifest   # the StoreCut — ONE cut pins all parts per job
  *   <root>/_job_lease # single-writer job commits
  * }}}
  *
  * Protocol per job ([[commitJob]], under the job lease): commit the tag
  * delta batch, commit the history batch, commit the report batch, then
  * publish ONE cut pinning all of them. Readers ([[readTags]]/
  * [[readHistory]]/[[readReports]]) resolve every part through the cut,
  * so a crash at ANY inter-commit point leaves the previous cut fully
  * serving — none of the crashed job's commits visible in ANY table.
  *
  * Recovery is TRUNCATION, not adoption — the one place this store must
  * differ from the index stores' append semantics: an index append is a
  * self-contained batch ("delayed, not lost" — the next fold adopts it),
  * but a tag-family batch is HALF A JOB. Adopting a crashed job's
  * history batch without its tag merge is exactly the phantom-history
  * state the cut exists to kill. So every commit here resolves its
  * parent file set from the CUT PIN, never from the table's current
  * version: a crashed predecessor's orphan suffix is simply not listed
  * by the next job's manifest (its dirs age out under vacuum), and the
  * re-run of a crashed job lands its rows exactly once. For the same
  * reason the maintenance folds ([[compact]]) materialize from the pin,
  * not from current — never through [[StoreCut.foldAndAdvance]], whose
  * adopt-the-chain contract is right for index stores and wrong here.
  *
  * Scale notes (the 100 TB write family): tags take the delta-log form —
  * bytes per job scale with the BATCH (upserts + tombstones,
  * [[TagStore.mergeDelta]]), never the tag lake — history and
  * reports are plain appends, and the cut publish is one metadata file
  * (one LIST + one create + one atomic claim). The job lease serializes
  * only the COMMIT section (metadata ops + batch-sized writes), not
  * evaluation; config evaluation runs before the lease in
  * [[commitJob]]'s callers. The evaluated terminals ([[commitComputed]]
  * per job, [[runTick]] per scheduler tick) are the one exception: they
  * evaluate under the lease so the `overwrite=false` read and the commit
  * see one serialization point.
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
    * `AnnIndexStore.testMidSwapHook`: invoked with the stage name after
    * each table commit inside [[commitJob]] ("tags", "history",
    * "reports") and at the tick path's inter-commit points
    * ("tags@`i`" / "job@`i`" per config index — [[commitTick]]), before
    * the single cut publish. SCOPED PER STORE ROOT (round-18 advice): a
    * JVM-global hook set by one oracle query would crash unrelated
    * family commits if the driver ever ran queries concurrently — here a
    * hook only ever fires for the root that installed it. Production
    * never sets one.
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

  private val JobLeaseWhat =
    "TagFamilyStore job commit (exclusive multi-table publish)"

  // ------------------------------------------------------------ writes

  /** Atomically commit one job's write family: the tag MERGE change set
    * (`incoming` in the unified tag-row shape — upserts plus the
    * delete-when-all-empty trigger, exactly [[TagStore.mergeDelta]]'s
    * encoding), its history rows (must carry `event_time`; the
    * `event_date` day column is derived here by
    * [[Sinks.withHistoryPartition]]) and optionally its report rows (must
    * carry `export_time`). All parts land as separate table commits and
    * become visible together via ONE cut publish — or not at all: a
    * one-job [[commitTick]].
    *
    * `incoming` is consumed more than once (the delta build and the
    * tombstone split) — callers producing it from an expensive
    * evaluation should localCheckpoint first ([[commitComputed]] does).
    */
  def commitJob(spark: SparkSession, root: String, incoming: DataFrame,
                history: DataFrame, reports: Option[DataFrame] = None,
                leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs,
                compactAboveBatches: Int = 64): Map[String, Long] =
    commitTick(spark, root, Seq(JobBatch("job", incoming, history, reports)),
      leaseTtlMs, compactAboveBatches)

  /** One job's write family in batch form — the unit [[commitTick]]
    * chains: the tag MERGE change set (`incoming`,
    * [[TagStore.mergeDelta]]'s encoding), the history rows
    * (`event_time`-bearing) and optional report rows (`export_time`).
    * `jobId` labels crash-spec hooks and errors only; history identity
    * stays in the rows (`job_uuid`).
    */
  final case class JobBatch(jobId: String, incoming: DataFrame,
                            history: DataFrame,
                            reports: Option[DataFrame] = None)

  /** ATOMIC WHOLE-TICK commit — the scheduler-tick grain of
    * [[commitJob]] (round-18 verdict #1): N due configs' evaluated
    * batches land as chained per-config table commits and become
    * visible via ONE cut publish, or not at all. A crash at ANY
    * inter-commit point — including BETWEEN configs, the tear
    * [[graft.streaming.Streams.schedulerTick]]'s reference analogue
    * (`/scheduled_auto_updates` launching N tasks, main.py:3075–3110)
    * simply lives with — leaves the pre-tick cut serving in every
    * table: configs that already committed inside the crashed tick are
    * orphan suffixes the re-run truncates, so the re-run lands every
    * config exactly once.
    *
    * Chaining, not merging: config `i`'s batch manifests list the cut
    * pin's files plus configs `0..i`'s batches, so per-config batch
    * identity (history attribution, latest-wins order — a later config
    * in the tick wins conflicts, the deterministic rendering of
    * `TagEngine.perConfigIncoming`'s intra-tick isolation) is preserved
    * while the tick's visibility stays all-or-nothing. Scale: the tick
    * publish is ONE metadata file regardless of N; per-config cost is
    * the same 2–3 batch commits a lone [[commitJob]] pays; the final cut
    * CAS is the only coordination point.
    *
    * Returns the final per-part versions plus the published cut
    * (`"manifest"`). Crash hooks fire as `"<part>"` and `"<part>@<i>"`
    * after each table commit and `"job@<i>"` after each config's full
    * batch set (the inter-config points).
    */
  def commitTick(spark: SparkSession, root: String, jobs: Seq[JobBatch],
                 leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs,
                 compactAboveBatches: Int = 64): Map[String, Long] =
    if (jobs.isEmpty) Map.empty
    else AtomicStore.withLease(spark, leasePath(root), leaseTtlMs,
        JobLeaseWhat) {
      commitTickLocked(spark, root, jobs, compactAboveBatches)
    }

  private def commitTickLocked(spark: SparkSession, root: String,
                               jobs: Seq[JobBatch],
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
    val baseCut = StoreCut.cutVersion(spark, root)
    val pins = baseCut.map(v => StoreCut.cutAt(spark, root, v))
      .getOrElse(Map.empty)
    checkOrphanBound(spark, root, pins)
    // running parent file lists per part: the cut pin's files, extended
    // by each committed batch of THIS tick — never the table's current
    // chain (the truncation rule: a crashed predecessor's suffix is not
    // a parent)
    var parents: Map[String, Seq[String]] =
      Seq(TagsPart, HistoryPart, ReportsPart).map { p =>
        p -> pins.get(p).toSeq
          .flatMap(pv => AtomicStore.filesAt(spark, s"$root/$p", pv))
          .map(x => new org.apache.hadoop.fs.Path(x).getName)
      }.toMap
    var versions = Map.empty[String, Long]
    // per-part commit counts of THIS attempt — on a crash anywhere below
    // they become the attempt's expected orphan contribution
    val attemptCommits = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    // ---- §2.6 overlap: pre-write every batch, publish strictly in order.
    // A data dir is INVISIBLE until its manifest publishes (writeData is
    // protocol step 1, visibility is step 2) — so the tick's batch writes,
    // the only data-sized Spark jobs in the commit section, are
    // independent of each other and of the publish order the crash specs
    // pin. The round-20 tick path ran them back-to-back: N configs × 2–3
    // parts of sequential write-job latency per tick. Here they fan out
    // concurrently at tick entry; the PUBLISHES — the visibility points
    // the hooks bracket — stay chained in exactly the old order.
    // Versions are PREDICTED from one entry-time resolve per part (under
    // the job lease this tick is the only publisher, so part p's j-th
    // commit lands at base(p)+1+j); the consume step verifies the
    // prediction before each publish, and a miss — only an
    // out-of-protocol writer can cause one — fails the tick like a lost
    // cut CAS, never publishing a wrong __batch stamp.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    final case class Planned(part: String, predictedV: Long,
                             fut: Future[String]) {
      @volatile var consumed = false
    }
    val nextV = scala.collection.mutable.Map.empty[String, Long]
    def plan(part: String, mk: Long => DataFrame): Planned = {
      val v = nextV.getOrElse(part,
        AtomicStore.currentVersion(spark, s"$root/$part").getOrElse(-1L) + 1)
      nextV(part) = v + 1
      Planned(part, v,
        Future(blocking(AtomicStore.writeData(mk(v), s"$root/$part"))))
    }
    val planned: Seq[Seq[Planned]] = jobs.map { job =>
      Seq(plan(TagsPart, v =>
          TagStore.mergeDelta(job.incoming).withColumn("__batch", lit(v))),
        plan(HistoryPart, _ => Sinks.withHistoryPartition(job.history))) ++
        job.reports.map(r =>
          plan(ReportsPart, _ => Sinks.withReportPartition(r)))
    }
    // a crashed/aborted tick must not leak background write jobs into
    // whatever runs next, nor leave known-unpublished dirs for vacuum:
    // await every unconsumed write and reclaim it before rethrowing —
    // the post-crash table state is then byte-identical to the old
    // sequential path's (published versions only)
    def reclaimUnconsumed(): Unit =
      planned.flatten.filterNot(_.consumed).foreach { p =>
        try AtomicStore.reclaimData(spark, s"$root/${p.part}",
          Await.result(p.fut, Duration.Inf))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    try {
    jobs.zipWithIndex.foreach { case (job, i) =>
      planned(i).foreach { p =>
        val table = s"$root/${p.part}"
        val rel =
          try Await.result(p.fut, Duration.Inf)
          finally p.consumed = true
        val actualNext =
          AtomicStore.currentVersion(spark, table).getOrElse(-1L) + 1
        if (actualNext != p.predictedV ||
            !AtomicStore.publish(spark, table,
              parents(p.part) :+ rel, p.predictedV)) {
          // under the job lease nothing else publishes: a missed
          // prediction is a writer outside the family protocol. Abort
          // the tick (the catch below reclaims and records the orphans);
          // the re-run truncates back to the pin and lands once
          AtomicStore.reclaimData(spark, table, rel)
          throw new java.util.ConcurrentModificationException(
            s"TagFamilyStore: $table could not publish its predicted " +
              s"v${p.predictedV} while this " +
              s"${if (jobs.sizeIs > 1) "tick" else "job"} held the job " +
              "lease — another writer is committing to it outside the " +
              "family protocol. These commits are orphaned (the next " +
              "commit truncates them); re-run")
        }
        parents += p.part -> (parents(p.part) :+ rel)
        versions += p.part -> p.predictedV
        attemptCommits(p.part) += 1
        // hooks fire at the same post-publish points as always
        p.part match {
          case TagsPart =>
            fireHook(root, TagsPart); fireHook(root, s"$TagsPart@$i")
          case HistoryPart =>
            fireHook(root, HistoryPart); fireHook(root, s"$HistoryPart@$i")
          case _ => ()
        }
      }
      // the reports hook fires whether or not this job carries reports:
      // for a report-less job it is the "both tables committed, the cut
      // publish never reached" point — the widest tear window, and the
      // stage name the crash specs/gate already key on
      fireHook(root, ReportsPart); fireHook(root, s"$ReportsPart@$i")
      fireHook(root, s"job@$i")
    }
    } catch { case t: Throwable =>
      reclaimUnconsumed()
      // this attempt is now a crashed tick: its committed versions are
      // the orphan suffix the next commit will truncate — record them so
      // the entry-time bound check above can tell in-protocol residue
      // from a leak (an out-of-protocol writer, a chain parented on
      // current instead of the pin)
      attemptCommits.foreach { case (p, n) =>
        expectedOrphans.merge(s"$root/$p", n, (a, b) => a + b)
      }
      throw t
    }
    // THE atomicity point: one cut pinning every part's LAST committed
    // version — CAS'd against the cut version the whole tick's parents
    // derive from. Mandatory (not best-effort): before it, the tick
    // never happened; a failure here is a crashed tick whose re-run
    // truncates all of these commits and re-lands them. The CAS closes
    // the fenced-zombie hole the lease alone cannot: a holder stalled
    // past its TTL (GC pause, VM freeze) whose lease a successor
    // legally broke would otherwise blind-merge table versions whose
    // chains were parented on the PRE-successor pins — numerically
    // higher, so max-merge would adopt them and drop the successor's
    // published batches from the served cut. Losing the CAS instead
    // orphans this zombie's commits (the next tick truncates them) and
    // fails loudly with the re-run remedy.
    val cutV =
      try StoreCut.advanceIfBase(spark, root, versions ++ extraPins, baseCut)
        .getOrElse(throw new java.util.ConcurrentModificationException(
          s"TagFamilyStore: the cut at $root moved while this " +
            s"${if (jobs.sizeIs > 1) "tick" else "job"} was committing — " +
            "its lease was broken (holder stalled past the TTL?) and " +
            "another publisher advanced. These commits are orphaned (the " +
            "next commit truncates them); re-run"))
      catch { case t: Throwable =>
        // a failed/lost publish orphans the whole attempt — same
        // accounting as a crash inside the commit loop
        attemptCommits.foreach { case (p, n) =>
          expectedOrphans.merge(s"$root/$p", n, (a, b) => a + b)
        }
        throw t
      }
    // published: the pin now covers every version this attempt wrote AND
    // everything beneath; any crash residue beneath the new pin is no
    // longer a suffix, so the root's expectation resets — and the root
    // is now fully accounted in this process, arming the bound check
    Seq(TagsPart, HistoryPart, ReportsPart)
      .foreach(p => expectedOrphans.remove(s"$root/$p"))
    seenRoots.add(root)
    // post-publish maintenance, best-effort (the tick is committed AND
    // published — a maintenance hiccup must not fail it): fold any part
    // whose pinned chain outgrew the dir threshold, so a long-lived
    // store's read cost stays flat in JOB count instead of decaying one
    // manifest + one small batch dir per job
    if (compactAboveBatches > 0)
      try versions.foreach { case (part, v) =>
        if (AtomicStore.filesAt(spark, s"$root/$part", v)
            .lengthCompare(compactAboveBatches) > 0)
          foldPartLocked(spark, root, part)
      } catch { case scala.util.control.NonFatal(_) =>
        // a crashed fold may have published its fold version without
        // advancing the cut — one more in-protocol orphan per part
        Seq(TagsPart, HistoryPart, ReportsPart)
          .foreach(p => expectedOrphans.merge(s"$root/$p", 1L, (a, b) => a + b))
      }
    Signals.note(Signals.FamilyCuts, root, s"cut=v$cutV jobs=${jobs.size} " +
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
        Seq(("job", config, TagEngine.incomingFor(config, computed, existing),
          jobUuid))
    }._1

  /** The WHOLE scheduler tick with the family-cut terminal:
    * [[TagEngine.perConfigIncoming]]'s evaluation (ONE catalog expansion
    * for every due config, each config's merge set derived against the
    * SAME pre-tick cut-pinned tag state — the intra-tick isolation
    * documented there) committed through [[commitTick]]'s
    * one-cut-per-tick publish. A crash anywhere — mid-config or between
    * configs — leaves the pre-tick state serving everywhere; the re-run
    * lands every config exactly once.
    *
    * Returns the versions and the committed [[JobBatch]]es — each
    * batch's `incoming` is localCheckpoint'd, so a caller can roll the
    * tick up (per-job counts over the PRODUCED rows, the
    * `Streams.schedulerTickCommit` contract) without re-evaluating
    * anything or mis-counting store rows the jobs never touched.
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
    else commitEvaluated(spark, root, eventTime, leaseTtlMs, idempotencyPin) {
      existing =>
        TagEngine.perConfigIncoming(spark, configs, catalog, existing)
          .zip(configs).map { case ((id, inc), (_, cfg)) =>
            (id, cfg, inc, jobUuidOf(id))
          }
    }

  /** The ONE body of both evaluated terminals, entirely under the job
    * lease so the overwrite filters' read and the commit see one
    * serialization point: check the idempotency pin, read the cut-pinned
    * tag state once, derive each job's `(jobId, config, incoming,
    * jobUuid)` from it, checkpoint every incoming set, build the batches
    * and commit them under one cut — unless the pin marks a replay.
    *
    * One materialization per job: the incoming set feeds the delta
    * build, the tombstone split, the history pivot AND the report
    * flatten — and history/reports must never record values that differ
    * from the batch actually merged. The checkpoints are independent
    * READS of pre-commit state, so they run concurrently
    * ([[Par.ckptAll]]); the sequential section stays the chained
    * per-part commits the protocol demands.
    */
  private def commitEvaluated(spark: SparkSession, root: String,
                              eventTime: Column, leaseTtlMs: Long,
                              idempotencyPin: Option[(String, Long)])(
      jobsOf: DataFrame => Seq[(String, TagConfig, DataFrame, Column)])
      : (Map[String, Long], Seq[JobBatch]) =
    AtomicStore.withLease(spark, leasePath(root), leaseTtlMs, JobLeaseWhat) {
      val replayed = idempotencyPin.exists { case (k, n) =>
        StoreCut.cut(spark, root).exists(_.get(k).exists(_ >= n))
      }
      val jobs = jobsOf(readTagsOr(spark, root, TagEngine.emptyTagRows(spark)))
      val batches = jobs.zip(Par.ckptAll(jobs.map(_._3): _*)).map {
        case ((id, cfg, _, uuid), inc) =>
          // history and the A12 report rows (when the config exports)
          // describe the WRITTEN instances only: an all-empty instance
          // fires the delete trigger and must leave no phantom row
          val written = TagStore.dropAllEmptyTags(inc)
          JobBatch(id, inc, TagEngine.historyRows(written, cfg, eventTime, uuid),
            Option.when(cfg.exportTags)(
              TagEngine.reportRowsFor(written, eventTime)))
      }
      if (replayed) (Map.empty, batches)
      else (commitTickLocked(spark, root, batches, compactAboveBatches = 64,
        extraPins = idempotencyPin.toMap), batches)
    }
}
