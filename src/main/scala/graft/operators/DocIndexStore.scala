package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{AtomicStore, StoreCut}

/** PERSISTED form of the document-signature index: the artifacts the
  * in-session memo (`graft.queries.DocIndex`) keeps as localCheckpoints —
  * simhash signatures and minhash signatures/band hashes — written as
  * [[AtomicStore]] tables under one root, the d-side sibling of
  * [[AnnIndexStore]]. A production near-dup service computes signatures
  * ONCE at ingest time and persists them; every later dedup query (batch
  * or incremental probe) joins against the signature TABLE instead of
  * re-running the corpus text pass. The shingle SETS are deliberately not
  * persisted: they are ~8× the text bytes (one long per character
  * position), while both signature tables are O(bytes per doc) — the
  * verify joins that need sets re-derive them for the CANDIDATE subset
  * only, which is the cheaper trade at lake scale.
  *
  * Cross-table consistency is the store-level MANIFEST ([[StoreCut]]):
  * one versioned cut pinning both signature tables and the spec
  * declaration, published atomically after the table commits. Readers
  * and the append guard resolve through the cut, so a [[write]] that
  * crashes partway (any subset of spec/simhash/minhash landed) leaves
  * the PREVIOUS cut fully serving — no declaration describing rows that
  * never landed, no half a rebuild visible; re-run the write to
  * completion and its single cut publish adopts its own commits. Every
  * read resolves through a published cut ([[StoreCut.readPinned]]).
  * Signatures are pure per-row functions of the text, so incremental
  * ingest is [[appendSimhash]]/[[appendMinhash]]: the new batch's
  * signature rows land as an appended batch — commit bytes scale with
  * the BATCH, never the corpus (the same write-path contract as the tag
  * log of `TagFamilyStore.commitJob`).
  */
object DocIndexStore {

  final case class Components(
      simhash: DataFrame,     // (doc_id, simhash)
      minhashSigs: DataFrame) // (doc_id, mh_0..mh_7, band_0, band_1)

  /** The rebuild lease: [[write]] is a multi-table swap, and two
    * UN-serialized concurrent rebuilds can interleave so the cut's
    * per-key max-merge publishes simhash from one rebuild and
    * minhash/spec from the other — a consistent-LOOKING cut that was
    * never any writer's intent (each table internally coherent, the
    * pair mixed). The lease serializes whole rebuilds, the same
    * single-writer contract refreshIndex enforces on the ANN side.
    */
  private def writeLeasePath(root: String) = s"$root/_write_lease"

  /** Write both components (and the spec declaration) as atomic tables
    * under `root`, then publish ONE manifest cut. Returns the committed
    * version per table plus the cut under `"manifest"`.
    *
    * `sigSpec` names the signature DEFINITION the rows were computed
    * with (shingle k, hash/band counts, simhash width — an opaque
    * caller-declared string; [[graft.queries.DocIndex.SigSpec]] is the
    * session producer's). Signatures are caller-computed, so this store
    * has the same seam [[AnnIndexStore.appendVectors]] guards on its
    * params table: a later ingest session computing signatures under a
    * DIFFERENT definition appends rows that merge silently and make
    * every banded join under-detect duplicates — silently-degraded
    * dedup, not an error. Declared on writes, checked on appends;
    * empty = unspecified (the pre-spec caller contract). An undeclared
    * REBUILD of a spec-declared store overwrites the declaration with
    * the unspecified sentinel — the old spec must not keep describing
    * signatures the rebuild replaced.
    *
    * Table commit order no longer carries the consistency argument —
    * the CUT does: the append guard reads the declaration through the
    * same cut that pins the component versions, so it can never pair a
    * rebuilt table with a stale declaration, and none of a rebuild is
    * visible until its single cut publish.
    */
  def write(root: String, c: Components,
            sigSpec: String = "",
            leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs): Map[String, Long] =
    AtomicStore.withLease(c.simhash.sparkSession, writeLeasePath(root),
      leaseTtlMs, "DocIndexStore.write (exclusive multi-table rebuild)") {
      writeLocked(root, c, sigSpec)
    }

  private def writeLocked(root: String, c: Components,
                          sigSpec: String): Map[String, Long] = {
    val spark = c.simhash.sparkSession
    import spark.implicits._
    val spec: Map[String, Long] =
      if (sigSpec.nonEmpty)
        Map("spec" -> AtomicStore.commitSnapshot(
          Seq(sigSpec).toDF("sig_spec"), s"$root/spec"))
      else if (loadSpec(spark, root).isDefined)
        // an undeclared REBUILD of a store that declared a spec: clear
        // the stale declaration with the unspecified sentinel (the
        // empty string); loadSpec maps it back to None — which is also
        // why the probe is loadSpec, not a bare table-exists check:
        // once the sentinel stands, later undeclared rebuilds skip this
        // commit instead of re-landing it forever.
        Map("spec" -> AtomicStore.commitSnapshot(
          Seq("").toDF("sig_spec"), s"$root/spec"))
      else Map.empty
    // two independent component tables — concurrent commits ([[Par]]);
    // the cut advance below is still the single atomicity point
    val versions = spec ++ Par.all(Seq(
      () => "simhash" ->
        AtomicStore.commitSnapshot(c.simhash, s"$root/simhash"),
      () => "minhash" ->
        AtomicStore.commitSnapshot(c.minhashSigs, s"$root/minhash")))
    val cutV = StoreCut.advance(spark, root, versions)
    versions + ("manifest" -> cutV)
  }

  /** The persisted signature definition, if the store declares one —
    * read only through the manifest cut's `spec` pin, so a declaration
    * no cut published (an unpublished rebuild's, or a spec table
    * committed without a cut) is None. The empty string is the
    * "unspecified" sentinel an undeclared rebuild writes over a stale
    * declaration — reported as None too.
    */
  def loadSpec(spark: SparkSession, root: String): Option[String] =
    StoreCut.atCut(spark, root) { pins =>
      pins.get("spec").map(_ =>
        StoreCut.readPinned(spark, root, "spec", pins).head().getString(0))
    }.filter(_.nonEmpty)

  /** Reject an append whose signature definition or schema disagrees
    * with the store's. The schema leg is unconditional (a hash/band
    * COUNT change shows up as different columns, which commitAppend
    * would merge as nulls); the spec leg fires whenever the STORE
    * declares one (a shingle-k or seed change produces the SAME schema
    * with incompatible values — only the declaration can catch it). An
    * UNDECLARED append into a spec-declared store is rejected too: the
    * producer that never heard of SigSpec is exactly the one the guard
    * exists for — silently accepting its rows would re-open the
    * mixed-signature under-detection hole from the undeclared side.
    * Pre-spec stores (no spec table, or the unspecified sentinel) keep
    * accepting undeclared appends — the original caller contract.
    */
  private def guardAppend(batch: DataFrame, table: String, root: String,
                          declaredSpec: String, what: String): Unit = {
    val spark = batch.sparkSession
    if (AtomicStore.currentVersion(spark, table).isDefined) {
      val stored = AtomicStore.read(spark, table).columns.toSeq
      require(batch.columns.toSeq == stored,
        s"$what: batch schema (${batch.columns.mkString(", ")}) != stored " +
          s"schema (${stored.mkString(", ")}) — the batch was computed " +
          "under a different signature definition; fix the producer or " +
          "rebuild with write()")
    }
    loadSpec(spark, root).foreach { storedSpec =>
      require(declaredSpec.nonEmpty,
        s"$what: the store declares signature spec '$storedSpec' but this " +
          "append declares none — an undeclared batch may have been " +
          "computed under a different definition, which would mix " +
          "incompatible signatures and silently under-detect duplicates; " +
          "pass the producer's sigSpec (or rebuild with write())")
      require(storedSpec == declaredSpec,
        s"$what: declared signature spec '$declaredSpec' != the store's " +
          s"'$storedSpec' — appending would mix incompatible signatures " +
          "and silently under-detect duplicates; rebuild with write()")
    }
  }

  /** Load the persisted components at the store's current cut. A store
    * whose cut pins either table not at all (no write or append ever
    * published it) fails loudly ([[StoreCut.readPinned]]).
    */
  def load(spark: SparkSession, root: String): Components =
    StoreCut.atCut(spark, root)(pinnedComponents(spark, root, _))

  private def pinnedComponents(spark: SparkSession, root: String,
                               pins: Map[String, Long]): Components =
    Components(StoreCut.readPinned(spark, root, "simhash", pins),
      StoreCut.readPinned(spark, root, "minhash", pins))

  /** The current cut version — the [[loadAt]] handle (see
    * [[AnnIndexStore.currentCutVersion]]).
    */
  def currentCutVersion(spark: SparkSession, root: String): Option[Long] =
    StoreCut.cutVersion(spark, root)

  /** TIME TRAVEL: both signature tables as pinned by manifest cut
    * `cutVersion` — readable while the cut stays within the vacuum
    * retention window: [[compact]] keeps the last 8 cut manifests AND
    * the table folds' vacuum floor ([[StoreCut.retentionFloor]]) keeps
    * every retained cut's pinned table versions, so the whole retained
    * window is actually loadable, not just the manifests. An aged-out
    * pin fails loudly rather than silently serving newer files under
    * the pinned-cut label.
    */
  def loadAt(spark: SparkSession, root: String, cutVersion: Long): Components =
    pinnedComponents(spark, root, StoreCut.cutAt(spark, root, cutVersion))

  /** Append a new ingest batch's simhash signatures: one atomic commit
    * whose bytes scale with the batch, published into the served cut by
    * one monotone manifest advance. Signatures are per-row pure
    * functions, so append is the whole incremental ROW story — no
    * rebuild, no merge — but steady-state FILE maintenance is wired in
    * rather than left to an operator who remembers to run [[compact]]:
    * once the component's manifest lists more than `compactAboveDirs`
    * batch dirs, the append folds it back to one snapshot (best-effort,
    * CAS'd — same policy as `Ingest.ingestBatchCommit` — and adopted
    * into the cut in the same step; a long-lived ingest store otherwise
    * pays probe-join listing/open cost linear in wave count).
    */
  def appendSimhash(root: String, newSigs: DataFrame,
                    compactAboveDirs: Int = 64,
                    sigSpec: String = ""): Long =
    appendGuarded(newSigs, "simhash", root, sigSpec,
      "appendSimhash", compactAboveDirs)

  /** Same, for the minhash signature/band table. */
  def appendMinhash(root: String, newSigs: DataFrame,
                    compactAboveDirs: Int = 64,
                    sigSpec: String = ""): Long =
    appendGuarded(newSigs, "minhash", root, sigSpec,
      "appendMinhash", compactAboveDirs)

  /** Guard-then-commit, atomically enough to survive a racing REBUILD:
    * a blind-retry append ([[AtomicStore.commitAppend]]) whose guard
    * passed against the OLD store could retry itself onto a store
    * [[write]] just rebuilt under a NEW signature definition — the
    * d-side analog of AnnIndexStore's straggler append, except
    * signature rows carry no model stamp to fence them at load. So the
    * commit is CAS'd against the component-table version the guard
    * validated, that version is first required to EXTEND the cut pin
    * ([[StoreCut.awaitChain]] — the base must not be a crashed swap's
    * unpublished snapshot, which the append's own advance would adopt
    * into the served cut; a gap under the held rebuild lease is a live
    * rebuild and ends busy, a gap with no lease is a crashed one and
    * ends with the re-run remedy), and a lost CAS RE-RUNS both before
    * retrying: if the table moved because of a rebuild, the re-check
    * waits for the rebuild's cut (transient) or the re-guard sees its
    * declaration and rejects; if it moved because of a sibling append,
    * both pass and the retry lands. Costs one batch rewrite per lost
    * race — appends race rarely, rebuilds almost never, and the
    * alternative is silent under-detection forever. The committed batch
    * is then published by one manifest advance; a crash between the two
    * leaves the batch invisible until the next append/fold on the table
    * adopts its files (append parents resolve physically) — eventual
    * visibility, never a torn cut.
    */
  private def appendGuarded(batch: DataFrame, part: String,
                            root: String, declaredSpec: String, what: String,
                            aboveDirs: Int): Long = {
    val spark = batch.sparkSession
    val table = s"$root/$part"
    var committed: Option[Long] = None
    while (committed.isEmpty) {
      val (_, current) = StoreCut.awaitChain(spark, root, Seq(part), what,
        writeLeasePath(root))
      guardAppend(batch, table, root, declaredSpec, what)
      committed =
        AtomicStore.commitAppendIfUnchanged(batch, table, current.get(part))
    }
    val v = committed.get
    // post-commit publication (+ self-fold) is best-effort: the batch is
    // durably committed, and surfacing a transient publish error as a
    // failed append would make the caller re-land the batch (duplicate
    // rows); an unpublished batch is adopted by the next append/fold or
    // by compact() — see StoreCut.publishAppend
    StoreCut.publishAppend(spark, root, part, v, aboveDirs)
    v
  }

  /** Periodic maintenance for a long-lived ingest store: fold each
    * component's accumulated append batches back into one snapshot
    * ([[StoreCut.foldAndAdvance]] — CAS against racing appenders,
    * adopted into the cut, vacuum of the superseded batch dirs), then
    * vacuum old cuts (the last 8 stay readable for [[loadAt]]). Without
    * the fold every ingest wave leaves one manifest + one small batch
    * dir forever, so probe joins pay a file-listing + open cost linear
    * in wave count; after the fold the probe cost is flat again.
    * Signatures are pure per-row functions, so the fold is exactly
    * row-preserving — loaded components and every banded join off them
    * are identical before and after (DocIndexStoreSpec pins this, plus
    * a racing appender/compactor soak). Returns the fold version per
    * component (None = already compact, lost its CAS budget to
    * appenders, or skipped because the table's chain does not extend
    * the cut — an orphaned snapshot a crashed write left behind, whose
    * remedy is re-running the write, not folding the orphan into the
    * served cut).
    */
  def compact(spark: SparkSession, root: String,
              graceMs: Long = 15 * 60 * 1000L): Map[String, Option[Long]] = {
    // the spec table is snapshot-only when present: its fold never fires
    // (one data dir), so it runs for the vacuum — with the retained
    // cuts' pins as the absolute floor — and returns None harmlessly for
    // a store without one
    val folded = Seq("simhash", "minhash", "spec").map(p =>
      p -> StoreCut.foldAndAdvance(spark, root, p, graceMs)).toMap
    StoreCut.vacuumCuts(spark, root, graceMs = graceMs)
    folded
  }
}
