package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.obs.Signals

/** The STORE-LEVEL MANIFEST shared by the cut-governed stores
  * (`graft.operators.AnnIndexStore`, `graft.operators.DocIndexStore`,
  * `graft.operators.TagFamilyStore`) —
  * the Iceberg snapshot-of-snapshots shape on top of [[AtomicStore]]:
  * one [[AtomicStore.advanceKv]] cut per store root (`<root>/manifest`)
  * pinning every component table's version (plus store-specific scalars
  * like the ANN model generation) per CONSISTENT CUT. Multi-table swaps
  * commit their tables and then publish the whole cut with ONE atomic
  * advance; readers resolve every table through the cut. What that buys,
  * and what each helper here enforces:
  *
  *  - TORN READS are unrepresentable: [[readPinned]] resolves each table
  *    at the cut's pinned version, so a load racing a swap sees either
  *    the whole old cut or the whole new one. It is the only read mode:
  *    a part no cut pins, or a pin that aged out, fails loudly — no
  *    reader ever falls back to a table's current version.
  *  - INTERRUPTED SWAPS serve the previous cut: a writer crashing
  *    anywhere between its table commits and its cut publish leaves
  *    partial commits that no reader resolves; re-running the
  *    (idempotent) swap publishes a cut of its own commits.
  *  - APPENDS never build on unpublished snapshots: [[extendsPin]]
  *    verifies a table's current chain EXTENDS its pin (every pinned
  *    data dir still listed) before an append commits, and again before
  *    its version is adopted into the cut — a crashed swap's orphan
  *    snapshot fails the check and refuses loudly instead of being
  *    silently adopted.
  *  - FOLDS are distinguishable from orphans: maintenance snapshots
  *    (folds/purges) carry [[AtomicStore.FoldPrefix]]-marked data dirs,
  *    committed only after their own chain check — so [[extendsPin]]
  *    accepts a fold-replaced chain (row-preserving by construction)
  *    while still refusing a writer's half-published rewrite.
  *
  * The protocol steps every store shares live here once, as plain
  * functions: [[atCut]] (the pinned read with its one vacuum-race
  * retry), [[awaitChain]] (the chain-gap wait before an append),
  * [[foldAndAdvance]] / [[fold]] (maintenance folds, snapshot-only
  * vacuums included) and [[publishAppend]]. The stores keep only what
  * differs between them: the fold policy, the ANN generation fence, the
  * doc-index spec guard and the family's orphan accounting.
  *
  * Cost model (the 100 TB argument): resolving a whole cut is one LIST +
  * one open of a metadata file — cheaper than the per-table version
  * probes it replaces; an advance is one LIST + one create + one atomic
  * claim. Nothing here scales with data size.
  */
object StoreCut {

  /** THE retention window, in cuts: how many recent cut manifests
    * [[vacuumCuts]] keeps readable, and therefore how far back
    * [[retentionFloor]] must protect every part's pinned table versions.
    * One constant on purpose: these are the same promise ("the last N
    * cuts time-travel") expressed at two layers, and two independent
    * literals drifting apart would silently hollow it — cut manifests
    * surviving while the table versions they pin get vacuumed (reads
    * still fail loudly, but the retention promise is gone).
    */
  val RetainedCuts = 8

  def manifestRoot(root: String): String = s"$root/manifest"

  /** The store's current cut (pins by table/key), if it has one. */
  def cut(spark: SparkSession, root: String): Option[Map[String, Long]] =
    AtomicStore.readKv(spark, manifestRoot(root)).map(_._2)

  /** The current cut VERSION — the time-travel handle `loadAt` accepts. */
  def cutVersion(spark: SparkSession, root: String): Option[Long] =
    AtomicStore.readKv(spark, manifestRoot(root)).map(_._1)

  /** The cut at a pinned version (time travel). */
  def cutAt(spark: SparkSession, root: String, version: Long): Map[String, Long] =
    AtomicStore.readKvAt(spark, manifestRoot(root), version)

  /** Run `read` against the store's current cut (`Map.empty` when the
    * store has none). A pinned table version vacuumed between the cut
    * read and the resolve means the store moved on mid-read: the cut is
    * re-resolved and `read` re-run ONCE — the one recovery a reader
    * gets ([[readPinned]] itself never falls back; its aged-out error
    * carries the race in its cause chain). A second race, or any other
    * failure, propagates: a pin vacuumed while the cut did NOT move
    * fails the re-run the same way, loudly.
    */
  def atCut[T](spark: SparkSession, root: String)(
      read: Map[String, Long] => T): T = {
    def pins = cut(spark, root).getOrElse(Map.empty)
    try read(pins)
    catch { case e: Throwable if AtomicStore.isVacuumRace(e) => read(pins) }
  }

  /** Merge `pins` into the cut monotonically (see
    * [[AtomicStore.advanceKv]]). `maxAttempts` bounds the CAS loop for
    * best-effort callers; the default is unbounded (mandatory
    * publication must land or block loudly).
    */
  def advance(spark: SparkSession, root: String,
              pins: Map[String, Long],
              maxAttempts: Int = Int.MaxValue): Long =
    AtomicStore.advanceKv(spark, manifestRoot(root), pins, maxAttempts)

  /** CAS advance ([[AtomicStore.advanceKvIfBase]]): publish only if the
    * cut version still equals `expectedBase` — for writers whose pins
    * derive from state resolved at that base (the tag family's job
    * publish), where a lost race means the whole operation must abort
    * or re-run, never blind-merge.
    */
  def advanceIfBase(spark: SparkSession, root: String,
                    pins: Map[String, Long],
                    expectedBase: Option[Long]): Option[Long] =
    AtomicStore.advanceKvIfBase(spark, manifestRoot(root), pins, expectedBase)

  /** Read one component at its cut-pinned version — the only way a
    * cut-governed store reads a component. A part the cut does not pin
    * was never published (no cut, or only crash residue under the
    * table) and throws, naming the root and the part. A pin whose table
    * version aged past the vacuum retention window throws too: serving
    * the table's newer files under the cut's label would be exactly the
    * wrong-data-without-an-error state the cut exists to exclude. A
    * current-cut reader whose pin was vacuumed because the store moved
    * on mid-read recovers through [[atCut]]'s one re-resolve.
    */
  def readPinned(spark: SparkSession, root: String, part: String,
                 pins: Map[String, Long]): DataFrame = {
    val v = pins.getOrElse(part, throw new IllegalStateException(
      s"$root: no published cut pins '$part' — the store never published " +
        "it (any table underneath is unpublished crash residue)"))
    // this guard covers the EAGER resolution (the version manifest's
    // open); the returned frame is lazy, so a vacuum racing the caller's
    // ACTION surfaces as a task-level failure instead — bounded by the
    // vacuum grace window (dir reclamation is anchored at the moment the
    // last referencing manifest died, so a reader that resolved an
    // existing manifest has the full window to finish its scan)
    try AtomicStore.readAt(spark, s"$root/$part", v)
    catch { case e: Throwable if AtomicStore.isVacuumRace(e) =>
      throw new IllegalStateException(
        s"pinned read of $root/$part at v$v failed — the cut aged " +
          "out of the vacuum retention window (its table version " +
          "was reclaimed). Pin a newer cut, or retain more history " +
          "(compact keepVersions / grace) if time-travel reads this " +
          "old are needed", e)
    }
  }

  /** Is version `v` of `table` an append-extension of cut pin `pin` —
    * every pinned data dir still listed at `v`, or the chain was
    * replaced by a fold-marked maintenance snapshot (row-preserving by
    * the [[AtomicStore.FoldPrefix]] invariant)? False means an orphaned
    * WRITER snapshot sits in the gap: a multi-table swap committed this
    * table but never published its cut — building on it would adopt the
    * orphan into the served cut. A pin that aged past vacuum retention
    * passes (nothing left to verify against).
    */
  def extendsPin(spark: SparkSession, table: String,
                 pin: Long, v: Long): Boolean =
    v == pin || (v > pin && {
      try {
        def names(x: Long) = AtomicStore.filesAt(spark, table, x)
          .map(new org.apache.hadoop.fs.Path(_).getName).toSet
        val cur = names(v)
        names(pin).subsetOf(cur) ||
          cur.exists(_.startsWith(AtomicStore.FoldPrefix))
      } catch { case e: Throwable if AtomicStore.isVacuumRace(e) => true }
    })

  /** Retry budget for the transient chain-gap window (a sibling's
    * commit→advance, a live fold) before [[awaitChain]] declares the gap
    * a swap — `private[graft]` so the crash-injection specs don't pay the
    * full ~10 s production backoff to reach the loud path.
    */
  @volatile private[graft] var chainRetryBudget: Int = 12

  /** Resolve the store's cut and require every table in `parts` to have
    * a CURRENT chain that EXTENDS its pin ([[extendsPin]]) before an
    * append builds on it — an append on a crashed swap's unpublished
    * snapshot would have its own cut advance adopt the orphan into the
    * served cut. Returns the cut pins and each part's current version
    * (absent = the table has no commits yet), the base the caller's
    * append resolved against.
    *
    * Transient gaps (a sibling's commit→advance window, a live fold)
    * clear in milliseconds and are retried through with a backoff, up
    * to [[chainRetryBudget]] times. A gap that outlives the budget while
    * `leasePath` is held is a LIVE multi-table swap mid-flight
    * (retryable busy, `ConcurrentModificationException`); with no lease
    * held it is a CRASHED swap — a loud stop with the re-run remedy.
    */
  def awaitChain(spark: SparkSession, root: String, parts: Seq[String],
                 what: String, leasePath: String)
      : (Map[String, Long], Map[String, Long]) = {
    var attempt = 0
    while (true) {
      val pins = cut(spark, root).getOrElse(Map.empty)
      val current = parts.flatMap(p =>
        AtomicStore.currentVersion(spark, s"$root/$p").map(p -> _)).toMap
      val gaps = parts.filterNot(p => pins.get(p).forall(pin =>
        current.get(p).exists(extendsPin(spark, s"$root/$p", pin, _))))
      if (gaps.isEmpty) return (pins, current)
      attempt += 1
      if (attempt > chainRetryBudget) {
        val tables = gaps.map(p => s"$root/$p").mkString(", ")
        if (AtomicStore.leaseHeld(spark, leasePath))
          throw new java.util.ConcurrentModificationException(
            s"$what: a multi-table swap holding $leasePath is mid-flight " +
              s"($tables committed ahead of the cut); retry after it " +
              "publishes its cut")
        throw new IllegalStateException(
          s"$what: $tables carry snapshots the store manifest never " +
            "published and no swap holds its lease — a multi-table swap " +
            "(a rebuild, a refresh or a maintenance pass) crashed between " +
            "its table commits and its cut publish. Re-run is the repair: " +
            "re-run the interrupted operation to completion (every step " +
            "is idempotent; its cut publish repairs the store) before " +
            "appending — building on an orphaned snapshot would adopt it " +
            "into the served cut")
      }
      Thread.sleep(math.min(250L * attempt, 1000L))
    }
    throw new IllegalStateException("unreachable")
  }

  /** The ABSOLUTE vacuum floor for one component table: the OLDEST
    * version any RETAINED cut (the last `lastCuts` manifest versions —
    * [[vacuumCuts]]' keep window) still pins for `part`. Folding with
    * only the CURRENT cut's pin as floor lets older cuts' table pins age
    * out at `keepVersions=2` while their cut manifests survive for 8 —
    * most retained cuts would then fail loudly on `loadAt` (safe but a
    * hollow retention promise). With this floor every retained cut's
    * pinned table versions survive the fold's vacuum, so time travel is
    * readable across the full cut window. Cost: up to `lastCuts` tiny
    * manifest opens per fold — maintenance-path metadata noise, never
    * data-sized. Vacuumed/missing old cuts are skipped (their pins are
    * already unreadable; nothing left to protect).
    */
  def retentionFloor(spark: SparkSession, root: String, part: String,
                     currentPins: Map[String, Long],
                     lastCuts: Int = RetainedCuts): Option[Long] = {
    val man = manifestRoot(root)
    val pinsAcrossCuts = AtomicStore.currentVersion(spark, man).toSeq
      .flatMap { latest =>
        (math.max(0L, latest - lastCuts + 1) to latest).flatMap { v =>
          try AtomicStore.readKvAt(spark, man, v).get(part)
          catch { case e: Throwable if AtomicStore.isVacuumRace(e) => None }
        }
      }
    (pinsAcrossCuts ++ currentPins.get(part)).minOption
  }

  /** Fold `part` back to one snapshot and ADOPT the fold into the cut —
    * the only fold path a cut-governed table may use: a fold replaces
    * the table's file set, so it must advance the cut in the same
    * maintenance step (its fold mark then tells later chain checks the
    * replacement was row-preserving even if this advance crashes).
    * Skips (None) when the table's chain does not extend its pin (a
    * genuinely orphaned writer snapshot must not be folded into the
    * served cut — re-run the crashed swap instead) or when there was
    * nothing to fold.
    *
    * The orphan check is passed INTO the compact as its per-attempt
    * `chainCheck`, so it runs against the exact version the fold
    * materializes from and CASes at — closing the TOCTOU where a crashed
    * swap's snapshot landed between a caller-side pre-check and the
    * fold's internal resolve (the round-17 documented ε-window): the
    * orphan bumps the version, the fold's CAS loses, and the re-check on
    * the new base refuses.
    *
    * The fold's vacuum retains back to [[retentionFloor]] as an ABSOLUTE
    * floor ([[AtomicStore.vacuum]] `keepFloor` — not a keep-N-versions
    * window counted from the fold, which would undercount whenever the
    * fold's CAS retried past racing appenders and landed higher than the
    * version this method resolved): neither the live cut's pin nor any
    * retained time-travel cut's pin may have its file set reclaimed by
    * the fold that supersedes it.
    */
  def foldAndAdvance(spark: SparkSession, root: String, part: String,
                     graceMs: Long = 15 * 60 * 1000L): Option[Long] =
    fold(spark, root, part, AdoptChain, graceMs)

  /** The PARENTAGE POLICY of a cut-governed fold — the one semantic
    * axis on which the stores' maintenance differs, extracted (round-18
    * verdict #6) so the retry/vacuum/floor dance lives ONCE and the
    * next store can't get it subtly wrong:
    *
    *  - [[AdoptChain]] (index stores): an append is a self-contained
    *    batch — "delayed, not lost" — so the fold materializes the
    *    table's CURRENT chain (verified to extend the pin; a crashed
    *    swap's writer orphan refuses) and a committed-but-unpublished
    *    suffix is adopted. Row-preserving by contract.
    *  - [[TruncateToPin]] (the tag family): a batch is HALF A JOB, so
    *    the fold materializes from the CUT PIN only — a crashed job's
    *    orphan suffix is deliberately NOT folded in — and the adoption
    *    into the cut is CAS'd against the base the pin was read at
    *    (the same zombie argument as the job publish). `reduce` maps
    *    the pinned frame to the fold snapshot (the tag log's
    *    latest-wins squash; identity for row-preserving parts), given
    *    the fold's target version for provenance stamping. Callers
    *    MUST hold the store's writer lease (the version arithmetic
    *    races live commits otherwise).
    */
  sealed trait FoldPolicy
  case object AdoptChain extends FoldPolicy
  final case class TruncateToPin(
      reduce: (DataFrame, Long) => DataFrame = (df, _) => df)
      extends FoldPolicy

  /** Fold `part` back to one snapshot under `policy` and adopt the fold
    * into the cut; see [[FoldPolicy]] for the two parentage semantics
    * and [[foldAndAdvance]]'s scaladoc (above) for the adopt arm's
    * TOCTOU/floor contract, which both arms share: the orphan check
    * runs against the exact version the fold CASes at, and the fold's
    * vacuum retains back to [[retentionFloor]] as an ABSOLUTE floor so
    * neither the live cut's pin nor any retained time-travel cut's pin
    * has its file set reclaimed.
    */
  def fold(spark: SparkSession, root: String, part: String,
           policy: FoldPolicy,
           graceMs: Long = 15 * 60 * 1000L): Option[Long] = policy match {
    case AdoptChain =>
      val pins = cut(spark, root).getOrElse(Map.empty)
      val table = s"$root/$part"
      AtomicStore.compact(spark, table, graceMs = graceMs,
          keepFloor = retentionFloor(spark, root, part, pins),
          chainCheck = Some(v =>
            pins.get(part).forall(pin => extendsPin(spark, table, pin, v))))
        .map { fv => advance(spark, root, Map(part -> fv)); fv }

    case TruncateToPin(reduce) =>
      val table = s"$root/$part"
      val baseCut = cutVersion(spark, root)
      val pins = baseCut.map(v => cutAt(spark, root, v))
        .getOrElse(Map.empty)
      val pin = pins.get(part) match {
        case None    => return None // never published — nothing to fold
        case Some(p) => p
      }
      if (AtomicStore.filesAt(spark, table, pin).lengthCompare(1) <= 0)
        return None // already compact (quiet-store ticks stay metadata-sized)
      val pinned = AtomicStore.readAt(spark, table, pin)
      var attempt = 0
      while (attempt < 8) {
        val v = AtomicStore.currentVersion(spark, table).getOrElse(-1L) + 1
        val rel = AtomicStore.writeData(reduce(pinned, v), table,
          AtomicStore.FoldPrefix)
        AtomicStore.testPrePublishHook()
        if (AtomicStore.publish(spark, table, Seq(rel), v)) {
          // CAS'd adoption, same zombie argument as the family job
          // publish: the fold materialized from the pin read at THIS
          // cut version; if a lease-breaking job advanced the cut
          // during the (slow) materialization, adopting the fold would
          // drop that job's batch from the served chain. A lost CAS
          // orphans the fold (harmless — the next job truncates it)
          // and skips the vacuum (whose floor derives from the stale
          // pin set).
          if (advanceIfBase(spark, root, Map(part -> v), baseCut).isEmpty)
            return None
          try AtomicStore.vacuum(spark, table, keepVersions = 2, graceMs,
            keepFloor = retentionFloor(spark, root, part,
              pins + (part -> v)))
          catch { case scala.util.control.NonFatal(_) => () }
          return Some(v)
        }
        AtomicStore.reclaimData(spark, table, rel)
        attempt += 1
        Thread.sleep(20L * attempt)
      }
      None
  }

  /** Post-commit publication (+ self-fold past `aboveDirs`) for an
    * append path — EVERY step best-effort: the batch is already durably
    * committed, so a transient IO error in the fold or the cut advance
    * must never surface as a failed append (the caller would retry a
    * LANDED batch — duplicate rows, permanent corruption). An
    * unpublished batch is delayed, not lost: the next append or fold on
    * the table adopts its files (append parents resolve physically),
    * and `compact()` publishes it too. The advance is retried briefly
    * before giving up. Returns the effective version (the fold's when
    * one fired, else the append's).
    */
  def publishAppend(spark: SparkSession, root: String, part: String,
                    v: Long, aboveDirs: Int): Long = {
    val folded = AtomicStore.compactIfAbove(spark, s"$root/$part", v,
      aboveDirs, fold = () => foldAndAdvance(spark, root, part))
    if (folded.isEmpty) advanceBestEffort(spark, root, Map(part -> v))
    folded.getOrElse(v)
  }

  /** OPS SIGNAL for the best-effort steps after a durable commit: a
    * swallowed cut advance or post-commit fold is correct (the batch is
    * durably committed; the next append/fold adopts or re-folds it) but
    * would otherwise be INVISIBLE — a store whose every advance fails
    * persistently (an IAM break, a throttle storm, an out-of-band
    * manifest-dir deletion) would silently lag its cut forever. Each
    * abandoned step is counted per root under `Signals.SwallowedAdvances`
    * with its error as the note, and logs one stderr line.
    */
  private[graft] def recordSwallow(root: String, e: Throwable): Unit = {
    val n = Signals.count(Signals.SwallowedAdvances, root)
    val what = s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").take(200)
    Signals.note(Signals.SwallowedAdvances, root, what)
    System.err.println(s"[storecut] swallowed best-effort post-commit " +
      s"step (#$n at this root) — the commit itself landed; the next " +
      s"append/fold catches up: $root: $what")
  }

  /** [[advance]] with bounded retries, swallowing (but counting — see
    * [[recordSwallow]]) a persistent failure — for publication steps
    * that run AFTER a durable commit (see [[publishAppend]] for why
    * those must not throw). Each inner advance is itself attempt-capped:
    * an advance whose every CAS loses permanently (out-of-band manifest
    * deletion) must degrade to "delayed, adopted later", not hang the
    * append that already landed.
    */
  def advanceBestEffort(spark: SparkSession, root: String,
                        pins: Map[String, Long]): Unit = {
    var attempt = 0
    while (attempt < 3) {
      try { advance(spark, root, pins, maxAttempts = 8); return }
      catch { case scala.util.control.NonFatal(e) =>
        attempt += 1
        if (attempt >= 3) { recordSwallow(root, e); return }
        Thread.sleep(50L * attempt)
      }
    }
  }

  /** Housekeeping for the cut store itself: every advance is one tiny
    * manifest file; keep a window of recent cuts readable for
    * time-travel pins. Unconditional (no committed-version gate) so the
    * vacuum's aged-tmp sweep also reaches a cut store whose every
    * publish crashed before its CAS — the exact residue the sweep
    * exists for, and the vacuum handles the no-version case itself.
    */
  def vacuumCuts(spark: SparkSession, root: String,
                 keepVersions: Int = RetainedCuts,
                 graceMs: Long = 15 * 60 * 1000L): Unit =
    try AtomicStore.vacuum(spark, manifestRoot(root), keepVersions, graceMs)
    catch { case scala.util.control.NonFatal(_) => () }
}
