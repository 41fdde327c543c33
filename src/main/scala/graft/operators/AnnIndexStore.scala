package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{AtomicStore, StoreCut}

/** PERSISTED form of the ANN index: the artifacts the in-session memo
  * (`graft.queries.AnnEval`) keeps as localCheckpoints — coarse
  * centroids, IVF assignments (single- and multi-probe), PQ code table,
  * LSH signatures — written as [[AtomicStore]] tables under one root, so
  * a production deployment builds the index ONCE at write time and every
  * later query session (or cluster) serves lookups from the lake instead
  * of re-scoring the corpus. This is the claim SCALING.md makes for the
  * 100 TB shape ("on a real lake the same artifacts persist as tables
  * written at index time") as a working code path.
  *
  * Each component is its own atomically-versioned table, and CROSS-table
  * consistency is the store-level MANIFEST ([[StoreCut]], an
  * [[AtomicStore.advanceKv]] cut at `<root>/manifest`): one versioned
  * key→value map pinning every component table's version plus the model
  * generation per CONSISTENT CUT, swapped with a single atomic publish —
  * the Iceberg snapshot-of-snapshots shape. Readers ([[load]]/
  * [[loadModel]]) resolve every table through the cut, so a torn
  * multi-table read is unrepresentable, and a writer that crashes
  * anywhere inside a multi-table swap ([[refreshIndex]], [[write]],
  * [[writeModel]]) leaves the previous cut fully standing — its partial
  * commits are invisible until the swap is re-run to completion (every
  * step is idempotent). The refresh lease (single-writer swaps) and the
  * model-version fence (straggler append batches dropped at load) close
  * the CONCURRENCY seams on top. Every read resolves through a
  * published cut ([[StoreCut.readPinned]]): a store with no cut, or a
  * part no cut pins, fails loudly instead of reading a table's current
  * version.
  *
  * Scale notes: the assignment tables are bytes per corpus row (two
  * longs), the codes table a few small ints per row; centroids are
  * model-sized; the manifest is one metadata file (one LIST + one open
  * to resolve a whole cut — cheaper than the per-table version probes it
  * replaces). Writes are one pass each; loads are parquet scans that
  * prune to the probed buckets via the same pushed filters the served
  * (in-session) form enjoys.
  */
object AnnIndexStore {

  final case class Components(
      centroids: DataFrame,       // (centroid_id, cvec)
      assigned: DataFrame,        // (vec_id, centroid_id) single-probe
      assignedMulti: DataFrame,   // (vec_id, centroid_id) nprobe rows/vec
      codes: DataFrame,           // pqEncode output
      sigs: DataFrame)            // (vec_id, bucket_sig)

  private val parts = Seq("centroids", "assigned", "assigned_multi",
    "codes", "sigs")
  private val perRowParts = Seq("assigned", "assigned_multi", "codes", "sigs")

  /** Manifest key for the served model generation (the fence value). */
  private val GenKey = "model_generation"

  /** The current cut VERSION — the handle [[loadAt]] accepts, so an eval
    * can pin an index cut and re-read it bit-identically later (within
    * the vacuum retention window).
    */
  def currentCutVersion(spark: SparkSession, root: String): Option[Long] =
    StoreCut.cutVersion(spark, root)

  /** Write every component as its own atomic table under `root` and
    * publish the cut. Returns the committed version per component plus
    * the cut under `"manifest"`. (No session parameter: the write
    * executes on the components' own session.)
    *
    * On a store that already persists a MODEL, a bare components
    * rewrite is refused unless called from [[refreshIndex]] (which swaps
    * under the refresh lease): rewriting centroids WITHOUT bumping
    * the generation leaves previously appended rows — stamped with the
    * still-current generation but assigned under the OLD centroids —
    * passing the load fence into a store whose centroid table no longer
    * matches them, the exact silent mixing the fence exists to prevent
    * (and one it cannot catch, because the stamps look current). Fresh
    * and model-less (rebuild-only) stores are unaffected.
    */
  def write(root: String, c: Components): Map[String, Long] = {
    val spark = c.centroids.sparkSession
    // unconditional, not lease-gated: leaseHeld cannot distinguish THIS
    // caller holding the refresh lease from a bystander racing someone
    // else's refresh — and the bystander is the dangerous case. The one
    // legitimate model-ful rewrite path is refreshIndex, which calls
    // the private writeComponents below while holding the lease.
    if (AtomicStore.currentVersion(spark, s"$root/params").isDefined)
      throw new IllegalStateException(
        s"AnnIndexStore.write: $root persists a model — a bare components " +
          "rewrite would leave current-generation append stamps pointing " +
          "at replaced centroids, which the load fence cannot catch. Use " +
          "refreshIndex(root, components, model) to swap components and " +
          "model together under the refresh lease")
    // model-less rebuilds take the SAME lease refreshIndex holds: two
    // un-serialized concurrent write()s can interleave so the cut's
    // per-key max-merge publishes some tables from one rebuild and the
    // rest from the other — a consistent-LOOKING cut that was never any
    // writer's intent (and while the lease is held, appendVectors'
    // refusal keeps appends from landing mid-rebuild, which is the same
    // protection the refresh path gets)
    AtomicStore.withLease(spark, refreshLeasePath(root),
      AtomicStore.DefaultLeaseTtlMs,
      "AnnIndexStore.write (exclusive multi-table rebuild)") {
      val versions = writeComponents(root, c)
      val cutV = StoreCut.advance(spark, root, versions)
      versions + ("manifest" -> cutV)
    }
  }

  private def writeComponents(root: String, c: Components): Map[String, Long] = {
    // canonical column selects everywhere the schema is fixed: a caller
    // frame carrying extra columns would otherwise persist them, and
    // every later APPEND (canonical-shaped) would merge-as-nulls into
    // reads — the silent degradation the appendVectors schema guards
    // reject. codes stays as-is (its shape is the model's numSub, which
    // the append path checks against the stored table).
    val frames = Map(
      "centroids" -> c.centroids.select("centroid_id", "cvec"),
      "assigned" -> c.assigned.select("vec_id", "centroid_id"),
      "assigned_multi" -> c.assignedMulti.select("vec_id", "centroid_id"),
      "codes" -> c.codes,
      "sigs" -> c.sigs.select("vec_id", "bucket_sig"))
    // the five component tables are independent stores (the CUT, not
    // table order, is what makes the multi-table state atomic), so their
    // snapshot commits run concurrently ([[Par]]) — under the lease
    // nothing else writes them, and the caller's cut advance still
    // happens only after every commit returned
    Par.all(parts.map(p => () =>
      p -> AtomicStore.commitSnapshot(frames(p), s"$root/$p"))).toMap
  }

  /** Load the persisted components — every table resolved through ONE
    * manifest cut, so concurrent swaps can never hand back a mixed
    * store (torn multi-table reads were the one state the per-table
    * protocol could not exclude; the cut makes them unrepresentable).
    *
    * Model-version fencing: per-row batches landed by [[appendVectors]]
    * carry the `model_version` they were ENCODED against. An append
    * that passed the lease check and was mid-commit when a
    * [[refreshIndex]] swapped the model can still land its old-model
    * batch on top of the new snapshots (the one-append-commit residual
    * the lease cannot close) — those rows are assignments to centroids
    * and codewords that no longer exist, a silent recall corruption if
    * served. So the load drops any stamped row whose version differs
    * from the cut's generation and strips the bookkeeping column; rows
    * with no stamp are snapshot rows written by [[write]]/
    * [[refreshIndex]] itself (by definition the cut's own — they ARE
    * the swap). Within a cut no stamp can exceed the cut's generation:
    * a higher-stamped batch only exists in table versions committed
    * after the higher generation's cut published, which a lower cut
    * never pins.
    */
  def load(spark: SparkSession, root: String): Components =
    StoreCut.atCut(spark, root)(loadPinned(spark, root, _))

  /** A Components view of one resolved cut (shared by [[load]] and
    * [[loadAt]]). The fence compares stamps against the CUT's
    * `model_generation` pin, so a time-travel read fences exactly as the
    * cut did when it was current. A cut without that pin (a model-less
    * store, or a first writeModel that crashed before its cut publish)
    * serves generation 0: every stamped row is fenced out, since stamps
    * are ≥ 1 — an unpublished generation never reaches the fence.
    */
  private def loadPinned(spark: SparkSession, root: String,
                         pins: Map[String, Long]): Components = {
    val gen = pins.getOrElse(GenKey, 0L)
    def perRow(p: String): DataFrame = {
      val df = StoreCut.readPinned(spark, root, p, pins)
      if (!df.columns.contains("model_version")) df
      else df.filter(col("model_version").isNull ||
          col("model_version") === gen)
        .drop("model_version")
    }
    Components(StoreCut.readPinned(spark, root, "centroids", pins),
      perRow("assigned"), perRow("assigned_multi"),
      perRow("codes"), perRow("sigs"))
  }

  /** TIME TRAVEL: the store as pinned by manifest cut `cutVersion` (a
    * value captured earlier via [[currentCutVersion]]) — centroids,
    * assignments, codes, sigs and the fence all resolved as of that
    * cut, so a recall eval can re-read an index cut bit-identically
    * after later appends/refreshes. Readable while the cut stays within
    * the vacuum retention window: [[compact]] keeps the last 8 cut
    * manifests AND every table fold's vacuum floors at the OLDEST
    * retained cut's pin ([[StoreCut.retentionFloor]]), so the whole
    * retained cut window is actually loadable — not just its manifests
    * while the pinned table versions age out underneath. An aged-out
    * cut fails loudly rather than silently serving newer files.
    */
  def loadAt(spark: SparkSession, root: String, cutVersion: Long): Components =
    loadPinned(spark, root, StoreCut.cutAt(spark, root, cutVersion))

  /** The persisted model's SERVED generation — what the load fence
    * compares append stamps against: the current cut's
    * `model_generation` pin, or 0 when the cut pins none (a store with
    * no published model). A failure to read the cut PROPAGATES, because
    * defaulting the version on a transient error would make the fence
    * in [[load]] silently drop every stamped row (stamps are ≥ 1).
    */
  def currentModelVersion(spark: SparkSession, root: String): Long =
    StoreCut.cut(spark, root).flatMap(_.get(GenKey)).getOrElse(0L)

  /** The generation in the params TABLE's current row — the MINT source
    * for [[writeModel]] (strictly: the highest generation any writer
    * ever committed, published or not), deliberately distinct from the
    * SERVED generation above: a writeModel that crashed before its cut
    * publish leaves the table's generation ahead of the manifest's, and
    * minting from the manifest would re-issue the orphaned number for a
    * DIFFERENT model — appends never saw the orphan (they resolve
    * through the cut), but two models behind one number is exactly the
    * fence poison the CAS'd mint exists to prevent. Never read for
    * serving: [[load]] and [[loadModel]] take the generation from the
    * cut. 0 when the params table has no commits yet.
    */
  private def paramsGeneration(spark: SparkSession, root: String): Long =
    try AtomicStore.read(spark, s"$root/params").head()
      .getAs[Long]("model_version")
    catch {
      case e: IllegalStateException if e.getMessage != null &&
          e.getMessage.contains("no commits") => 0L
    }

  /** The frozen MODEL behind the per-row components — everything
    * [[appendVectors]] needs to extend the index consistently with how
    * it was built: the PQ sub-quantizer codewords, the LSH hyperplanes,
    * and the build parameters (probe width, subspace count). Centroids
    * are already a [[Components]] table; the rest previously lived only
    * in the building session, which is exactly why the store was
    * rebuild-only: a later ingest session had no way to encode a new
    * batch the same way the corpus was encoded.
    */
  final case class Model(
      codebook: DataFrame,    // (code_id, cvec) — PQ codewords, id-ordered
      hyperplanes: DataFrame, // (hp_id, hvec)   — LSH bit hyperplanes
      nprobe: Int,            // assigned_multi probe width
      numSub: Int,            // PQ subspace count
      version: Long = 0L)     // persisted generation (loadModel fills it)

  private val modelParts = Seq("codebook", "hyperplanes", "params")

  /** Persist the model under the same root (each piece its own atomic
    * table — all model-sized: a few codeword/hyperplane rows plus one
    * params row) and publish the cut. Write it alongside [[write]] at
    * build time to make the index APPENDABLE; stores without it remain
    * valid but rebuild-only.
    *
    * Every call bumps the model GENERATION, which [[load]] fences
    * appended batches by — so a standalone writeModel (without the
    * [[refreshIndex]] components rewrite) deliberately INVALIDATES
    * previously appended batches: they were encoded under codewords and
    * centroids that no longer exist, and serving them against the new
    * model is silent recall corruption. Snapshot rows from [[write]]
    * are unstamped and keep serving; use refreshIndex to swap model and
    * components together.
    *
    * Crash behavior: a writeModel that dies between its table commits
    * and its cut publish leaves the PREVIOUS cut serving — its pieces
    * and generation are invisible (appends resolve the model through
    * the cut, so no batch is ever stamped with an unpublished
    * generation); re-run it to completion. The orphaned generation
    * number is never re-minted for a different model — the mint reads
    * the params TABLE ([[paramsGeneration]]), not the cut.
    */
  def writeModel(root: String, m: Model): Map[String, Long] = {
    val spark = m.codebook.sparkSession
    val (versions, gen) = writeModelVersions(root, m)
    val cutV = StoreCut.advance(spark, root, versions + (GenKey -> gen))
    versions + ("manifest" -> cutV)
  }

  /** The commit half of [[writeModel]] — tables only, NO cut publish
    * ([[refreshIndex]] publishes components and model as one cut;
    * `private[graft]` so the crash spec can pin the exact
    * tables-committed-cut-unpublished state). Returns (versions, minted
    * generation).
    */
  private[graft] def writeModelVersions(root: String, m: Model): (Map[String, Long], Long) = {
    val spark = m.codebook.sparkSession
    import spark.implicits._
    // COMMIT-ORDER INVARIANT (structural, not an evaluation-order
    // accident): codebook and hyperplanes commit BEFORE params, and
    // params commits LAST — the generation must never stand in the
    // params table before the model pieces it advertises (the mint
    // below reads that table, and a re-minted generation must always
    // describe its own pieces).
    //
    // The generation bump is a CAS'd read-increment-write: two
    // concurrent writeModels (or one racing refreshIndex, a legitimate
    // standalone-invalidation use) must never mint the SAME number for
    // two DIFFERENT models — old-model append batches stamped with it
    // would pass the load fence and serve silently corrupt assignments.
    // So params commits via commitSnapshotIfUnchanged against the table
    // version the bump was read from, and a lost race retries the WHOLE
    // sequence — codebook and hyperplanes included, not just params:
    // re-committing only params would publish our re-minted generation
    // over the RACING WINNER's codebook/hyperplanes snapshots (a
    // generation describing pieces that aren't ours). Re-running all
    // three keeps the final state coherent (the last params writer's
    // pieces end up behind its generation), and any append that read a
    // mixed transient window carries a stamp that predates the final
    // generation — fenced at load.
    var result: Option[(Map[String, Long], Long)] = None
    while (result.isEmpty) {
      val paramsBase = AtomicStore.currentVersion(spark, s"$root/params")
      val newVersion = paramsGeneration(spark, root) + 1L
      val vCodebook = AtomicStore.commitSnapshot(
        m.codebook.select(col("code_id").cast("long"), col("cvec")),
        s"$root/codebook")
      val vHyperplanes = AtomicStore.commitSnapshot(
        m.hyperplanes.select(col("hp_id").cast("long"), col("hvec")),
        s"$root/hyperplanes")
      result = AtomicStore.commitSnapshotIfUnchanged(
        Seq((m.nprobe, m.numSub, newVersion))
          .toDF("nprobe", "num_sub", "model_version"),
        s"$root/params", paramsBase)
        .map(vParams => (Map("codebook" -> vCodebook,
          "hyperplanes" -> vHyperplanes, "params" -> vParams), newVersion))
    }
    result.get
  }

  /** Load the persisted model at the store's current cut (one metadata
    * read resolves codebook, hyperplanes, params and the generation
    * consistently). The params row is one driver-side read;
    * codebook/hyperplanes stay lazy frames for the batch-side joins.
    */
  def loadModel(spark: SparkSession, root: String): Model =
    StoreCut.atCut(spark, root)(loadModelPinned(spark, root, _))

  private def loadModelPinned(spark: SparkSession, root: String,
                              pins: Map[String, Long]): Model = {
    val p = StoreCut.readPinned(spark, root, "params", pins).head()
    Model(
      StoreCut.readPinned(spark, root, "codebook", pins),
      StoreCut.readPinned(spark, root, "hyperplanes", pins),
      nprobe = p.getInt(p.fieldIndex("nprobe")),
      numSub = p.getInt(p.fieldIndex("num_sub")),
      version = pins.getOrElse(GenKey, 0L))
  }

  /** [[loadModel]] at a pinned manifest cut — the model the cut's
    * per-row tables were encoded under (see [[loadAt]]).
    */
  def loadModelAt(spark: SparkSession, root: String, cutVersion: Long): Model =
    loadModelPinned(spark, root, StoreCut.cutAt(spark, root, cutVersion))

  private def refreshLeasePath(root: String) = s"$root/.refresh_lease"

  /** TEST-ONLY crash seam for the multi-table swap: invoked with a
    * stage label after each commit group inside [[refreshIndex]]
    * ("components" — component snapshots landed; "model" — model tables
    * landed; both BEFORE the single cut publish). A spec that throws
    * here simulates a crash partway through the swap and asserts the
    * previous cut still serves. Production never sets it.
    */
  @volatile private[graft] var testMidSwapHook: String => Unit = _ => ()

  /** ATOMIC MODEL REFRESH — the "retrain + rewrite" operation the s18
    * staleness eval gates: new centroids (and codebook/hyperplanes/
    * params) plus the re-derived per-row components, committed table by
    * table and then published as ONE manifest cut. Concurrency: the
    * refresh runs under an exclusive lease ([[AtomicStore.withLease]])
    * and [[appendVectors]] REFUSES loudly while it is held; the one
    * append the lease cannot exclude — already past its lease check and
    * mid-commit when the refresh claims — lands an old-model batch that
    * the model-version FENCE drops at load (its stamp predates the new
    * cut's generation; [[compact]] purges the bytes; the straggler's
    * vectors are simply absent until re-appended, which an ingest that
    * keeps a served-set check repairs in one pass).
    *
    * Interruption: a refresh that crashes ANYWHERE before its single
    * cut publish leaves the previous cut serving — every partial table
    * commit is invisible to readers (they resolve through the cut) and
    * to appenders (the chain-extension check refuses to build on
    * unpublished snapshots). Re-run the refresh to completion; every
    * step is an idempotent snapshot and the re-run's cut adopts only
    * its own commits.
    */
  def refreshIndex(root: String, c: Components, m: Model,
                   leaseTtlMs: Long = AtomicStore.DefaultLeaseTtlMs): Map[String, Long] = {
    val spark = c.centroids.sparkSession
    AtomicStore.withLease(spark, refreshLeasePath(root), leaseTtlMs,
        "AnnIndexStore.refreshIndex (exclusive model swap)") {
      // writeComponents, not write(): the public write refuses model-ful
      // stores unconditionally — this lease-holding swap is the one
      // legitimate rewrite path. Tables first, cut LAST: the new
      // generation and the new snapshots become visible together or not
      // at all.
      val componentVersions = writeComponents(root, c)
      testMidSwapHook("components")
      val (modelVersions, gen) = writeModelVersions(root, m)
      testMidSwapHook("model")
      val cutV = StoreCut.advance(spark, root,
        componentVersions ++ modelVersions + (GenKey -> gen))
      componentVersions ++ modelVersions + ("manifest" -> cutV)
    }
  }

  /** Incremental index maintenance — the ingest-wave path that was
    * missing while [[write]] was the only way to change the store (a
    * growing corpus re-paid a FULL assignment/codes/sigs rewrite per
    * wave). Assigns/encodes/signs the NEW BATCH ONLY against the pinned
    * persisted model — centroids, PQ codebook, LSH hyperplanes, and the
    * build parameters all come from the store's current cut, so a later
    * session (or a different cluster) extends the index bit-identically
    * to how the base was built — and lands each per-row component as one
    * appended batch via the [[DocIndexStore]] auto-fold pattern: commit
    * bytes scale with the batch, never the corpus, and once a
    * component's manifest lists more than `compactAboveDirs` batch dirs
    * the append folds it back to one snapshot (best-effort, CAS'd
    * against racing appenders, adopted into the cut in the same step).
    *
    * Assignment/encoding/signatures are pure per-row functions of
    * (vector, pinned model), so append-then-load is EXACTLY equal to a
    * from-scratch rebuild of the grown corpus under the same model —
    * s17's oracle pins that. What appends can NOT refresh is the model
    * itself: centroids drift as the corpus grows, and the recall gap
    * between the pinned-model index and a refreshed rebuild is the
    * STALENESS the s18 eval measures (the refresh decision — retrain
    * centroids and components, then one [[refreshIndex]] under its
    * lease — stays an operator policy, gated on that measurement,
    * exactly like a FAISS index rebuild).
    *
    * `newEmb` is (vec_id, vec) with caller-owned id uniqueness, the
    * DocIndexStore append contract (exactly-once sits with the ingest
    * commit protocol, `Ingest.ingestBatchCommit`).
    */
  def appendVectors(root: String, newEmb: DataFrame,
                    compactAboveDirs: Int = 64): Map[String, Long] = {
    val spark = newEmb.sparkSession
    // refuse while a model refresh holds the lease: our batch would be
    // encoded under the OUTGOING model and mix silently into the
    // refreshed store (see refreshIndex). Checked before any read so the
    // loud path is also the cheap path. The deadline is the REFRESH
    // HOLDER's own TTL, persisted inside its lease file at claim time —
    // a long retrain claimed with a 60-minute TTL keeps excluding
    // appends for the full 60 minutes, not until some appender-side
    // constant expires. The retrain-or-append decision itself stays an
    // operator policy gated on the s18 staleness measurement; the
    // retrain path is [[refreshIndex]] (a bare [[write]] on a model-ful
    // store is refused).
    if (AtomicStore.leaseHeld(spark, refreshLeasePath(root)))
      throw new java.util.ConcurrentModificationException(
        s"appendVectors: a model refresh holds ${refreshLeasePath(root)} — " +
          "an append encoded under the outgoing model would mix into the " +
          "refreshed store; retry after the refresh releases the lease")
    appendEncoded(root, newEmb, loadModel(spark, root), compactAboveDirs)
  }

  /** The encode-and-commit half of [[appendVectors]], against a model
    * the CALLER already resolved — `private[graft]` so the residual-
    * window spec can force the exact interleaving the lease cannot
    * close (model resolved, refresh completes, append commits) without
    * a test seam in the public API. Every committed row is stamped with
    * `m.version`, which is what makes that interleaving HARMLESS: the
    * straggler's rows land physically but [[load]] fences them out as
    * predating the refreshed cut's generation.
    */
  private[graft] def appendEncoded(root: String, newEmb: DataFrame,
                                   m: Model,
                                   compactAboveDirs: Int): Map[String, Long] = {
    val spark = newEmb.sparkSession
    // every per-row table's chain must extend its pin: for a crashed
    // refresh, building on its orphan would publish new components under
    // the OLD generation, with unstamped snapshot rows the fence cannot
    // drop ([[StoreCut.awaitChain]]; a gap under the refresh lease is a
    // live swap and ends busy, like the lease check above)
    val (pins, _) = StoreCut.awaitChain(spark, root, perRowParts,
      "appendVectors", refreshLeasePath(root))
    // centroids at the CUT, not at current: after a partially-crashed
    // swap the current centroid table may be an unpublished orphan
    // snapshot — encoding against it while stamping the served
    // generation would land exactly the mixed rows the fence cannot
    // catch. The cut's centroids are by construction the ones the cut's
    // generation describes.
    val centroids = StoreCut.readPinned(spark, root, "centroids", pins)
    val codebook = m.codebook.orderBy("code_id").select("cvec")
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    require(codebook.nonEmpty,
      s"appendVectors: persisted codebook at $root/codebook is empty")
    // the batch feeds FOUR independent encode+commit passes (assign,
    // multi-assign, PQ codes, LSH sigs); without a persist each pass
    // re-executes whatever upstream lineage produced the embeddings —
    // roughly 4× the ingest cost per wave when that lineage is an
    // expensive pipeline. Persisted for the scope of this call only.
    val batch = newEmb.select("vec_id", "vec").persist()
    try {
      def stamped(df: DataFrame): DataFrame =
        df.withColumn("model_version", lit(m.version))
      // write() and writeModel() are separate calls, so the seam where a
      // params row disagrees with the components it describes EXISTS —
      // and commitAppend imposes no schema check, so a numSub mismatch
      // would land a codes batch whose columns merge as nulls into every
      // later read (a silently-degraded ADC scan, not an error). Check
      // the batch's code schema against the stored table's before
      // committing (modulo the model_version stamp: it is load-side
      // bookkeeping, and a table holding only write()/refreshIndex
      // snapshot rows has no such column yet). sigs gets the same guard:
      // writeComponents writes its canonical shape, and a table carrying
      // any other columns would merge them as nulls into every read.
      val newCodes = Similarity.pqEncode(batch, codebook, m.numSub)
      def requireSchema(batchDf: DataFrame, table: String,
                        why: String): Unit = {
        val stored = AtomicStore.read(spark, s"$root/$table")
          .columns.toSeq.filterNot(_ == "model_version")
        require(batchDf.columns.toSeq == stored,
          s"appendVectors: batch $table schema " +
            s"(${batchDf.columns.mkString(", ")}) != stored schema " +
            s"(${stored.mkString(", ")}) — $why; fix the model or rebuild " +
            "with write()")
      }
      requireSchema(newCodes, "codes",
        "the params table (num_sub) disagrees with the codes the store " +
          "was built with")
      val newSigs = Similarity.hyperplaneSignatures(batch, m.hyperplanes)
      requireSchema(newSigs, "sigs",
        "the store's signature table was written with a non-canonical shape")
      // one thunk per table: commit the batch (errors HERE propagate —
      // nothing landed yet), then self-fold past the dir threshold, fold
      // adoption included, best-effort (the fold half of
      // [[StoreCut.publishAppend]]). `df` is by-name: the assign passes
      // read their centroids eagerly, and that job belongs in the fan-out.
      def append(part: String, df: => DataFrame): () => (String, Long) =
        () => part -> {
          val table = s"$root/$part"
          val v = AtomicStore.commitAppend(stamped(df), table)
          AtomicStore.compactIfAbove(spark, table, v, compactAboveDirs,
            fold = () => StoreCut.foldAndAdvance(spark, root, part))
            .getOrElse(v)
        }
      // four independent encode+commit passes over four independent
      // tables — run them concurrently ([[Par]]): the persisted batch is
      // the shared input, each append CASes only its own table, and the
      // cut advance below still waits for all four
      val versions = Par.all(Seq(
        append("assigned", Similarity.ivfAssign(batch, centroids)
          .select("vec_id", "centroid_id")),
        append("assigned_multi",
          Similarity.ivfAssignMulti(batch, centroids, m.nprobe)
            .select("vec_id", "centroid_id")),
        append("codes", newCodes),
        append("sigs", newSigs))).toMap
      // publish the batch into the served cut: one monotone advance,
      // restricted to tables whose committed version still EXTENDS the
      // cut pin. The restriction closes the one window the up-front
      // check can't see: a refreshIndex whose snapshots land BETWEEN
      // that check and these commits (our batch then rides the swap's
      // chain, parents = its snapshot) — advancing would adopt the
      // swap's tables into the OLD cut mid-swap, and if the swap then
      // crashed, publish unstamped new-model rows under the old
      // generation, the one mix the fence cannot drop. Skipping the
      // advance keeps the old cut intact either way: the swap's own cut
      // publish (or its re-run) adopts our — fenced — batch, exactly
      // the straggler semantics the repair contract already covers. An
      // append that crashes between its table commits and this advance
      // is likewise invisible until the next append/fold on those
      // tables adopts its files (append parents resolve physically) —
      // eventual visibility, never a torn cut. The generation is
      // deliberately NOT pinned here: appends must never move the
      // served generation.
      // post-commit publication is BEST-EFFORT end to end: the four
      // batches are already durably committed, and a transient error
      // here must never surface as a failed append — the caller would
      // retry a LANDED batch and land it twice (duplicate served rows,
      // permanent). An unpublished batch is delayed, not lost: the next
      // append/fold on the table adopts its files, and compact()
      // publishes it too.
      try {
        val cutNow = StoreCut.cut(spark, root).getOrElse(Map.empty)
        val publishable = versions.filter { case (p, v) =>
          cutNow.get(p).forall(pin =>
            StoreCut.extendsPin(spark, s"$root/$p", pin, v))
        }
        if (publishable.nonEmpty)
          StoreCut.advanceBestEffort(spark, root, publishable)
      } catch { case scala.util.control.NonFatal(_) => () }
      versions
    } finally batch.unpersist()
  }

  /** Periodic maintenance, the [[DocIndexStore.compact]] sibling: fold
    * any accumulated batch dirs per component back to one snapshot
    * (adopted into the cut — [[StoreCut.foldAndAdvance]]), purge
    * fence-hidden rows, and vacuum superseded manifests/dirs including
    * old cuts (the last 8 stay readable for [[loadAt]] pins within the
    * grace window). [[write]] commits whole snapshots, so for a
    * snapshot-only store the fold is a no-op (one data dir already) and
    * the value is the vacuum — every index REBUILD otherwise leaves its
    * superseded manifest + full-size data dirs on the lake forever. For
    * a store grown by [[appendVectors]], the fold is the real
    * steady-state work the append path also self-triggers. Model tables
    * (when present) get the same vacuum — compact returns None
    * harmlessly for a store that never wrote one.
    *
    * A table whose chain does NOT extend the cut (an orphaned snapshot
    * from a crashed swap) is skipped — folding it would adopt the
    * orphan's rows into the served cut; the remedy for that state is
    * re-running the interrupted swap, not maintenance.
    */
  def compact(spark: SparkSession, root: String,
              graceMs: Long = 15 * 60 * 1000L): Map[String, Option[Long]] = {
    // skip whole-store maintenance while a refresh holds the lease: the
    // per-attempt chain check below already refuses to fold a mid-swap
    // orphan (the round-17 TOCTOU is closed inside AtomicStore.compact),
    // so this is avoidance, not the safety argument — a fold raced by a
    // live swap just wastes its materialization to a lost CAS
    if (AtomicStore.leaseHeld(spark, refreshLeasePath(root)))
      return (parts ++ modelParts).map(_ -> (None: Option[Long])).toMap
    // model tables are snapshot-only (never >1 data dir), so their fold
    // is structurally None and runs for its vacuum only — floored at the
    // RETAINED cuts' pins: stacked crashed writeModels leave the table
    // versions ahead of the cut, and a keep-2 vacuum could otherwise
    // reclaim a pinned (served, or time-travel readable) model version
    val folded = (parts ++ modelParts).map(p =>
      p -> StoreCut.foldAndAdvance(spark, root, p, graceMs)).toMap
    purgeFenced(spark, root)
    StoreCut.vacuumCuts(spark, root, graceMs = graceMs)
    folded
  }

  /** Drop rows the model-version fence permanently hides — a straggler
    * append's old-model batch is invisible to [[load]] from the moment
    * it lands, but its bytes ride every later fold forever unless some
    * maintenance pass rewrites without them. Runs inside [[compact]]:
    * per per-row component, if any stamped row predates the served
    * generation, snapshot the fenced view CAS'd against the version the
    * scan resolved (a racing append wins the CAS and the purge simply
    * skips — maintenance must never clobber a commit), fold-marked
    * (row-preserving for the SERVED set — the dropped rows were already
    * invisible) and adopted into the cut. Best-effort like the fold;
    * the fence at load keeps correctness either way.
    *
    * Only STRICTLY-OLDER stamps are purged (`< v`, kept set
    * `isNull || >= v`), never `!= v`: the served generation is resolved
    * ONCE up front, and a refreshIndex (publishing v+1) plus a
    * current-model append (rows stamped v+1) can both land before the
    * per-table CAS resolves its base — an equality purge would then
    * delete legitimately-served current-model rows with a CAS that
    * succeeds. A stamp can only exceed our resolved v by having been
    * read from a cut that already published it, so `>= v` rows are
    * never fence-hidden garbage; a LATER purge (resolving the newer v)
    * reclaims them if yet another refresh strands them. The purge also
    * skips entirely while the refresh lease is held — "current model"
    * is about to change under it. That skip is an OPTIMIZATION, not a
    * guarantee (the lease can be claimed between the probe and the
    * per-table CAS): the strictly-older kept-set is what actually
    * protects correctness — do not lean on the probe's atomicity.
    */
  private def purgeFenced(spark: SparkSession, root: String): Unit =
    try {
      if (AtomicStore.leaseHeld(spark, refreshLeasePath(root))) return
      val v = currentModelVersion(spark, root)
      val pins = StoreCut.cut(spark, root).getOrElse(Map.empty)
      perRowParts.foreach { p =>
        try {
          val t = s"$root/$p"
          AtomicStore.currentVersion(spark, t).foreach { base =>
            // same orphan guard as the fold: the purge snapshot reads
            // the CURRENT rows, so it must not adopt a crashed swap's
            // unpublished snapshot into the cut it then advances
            val ok = pins.get(p).forall(pin =>
              StoreCut.extendsPin(spark, t, pin, base))
            if (ok) {
              val df = AtomicStore.read(spark, t)
              if (df.columns.contains("model_version") &&
                  !df.filter(col("model_version").isNotNull &&
                    col("model_version") < v).isEmpty) {
                AtomicStore.commitFoldIfUnchanged(
                  df.filter(col("model_version").isNull ||
                    col("model_version") >= v),
                  t, Some(base)).foreach { purgedV =>
                  StoreCut.advance(spark, root, Map(p -> purgedV))
                }
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
