package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.obs.Signals

/** ACID-ish table protocol for the MUTABLE stores (tags, configs,
  * history) — the commit-log design Delta/Iceberg implement, reduced to
  * what the engine needs and zero extra dependencies (the sandbox ships
  * no lake-format jars; on a real deployment these calls map 1:1 onto
  * `MERGE INTO` / transactional append on any ACID table format).
  *
  * Layout under a store root:
  * {{{
  *   <root>/_commits/v<20-digit version>   # manifest: one data dir per line
  *   <root>/data/c_<uuid>/                 # immutable parquet data dirs
  * }}}
  *
  * Commit protocol (reference semantics: the idempotent tag upsert and
  * its quota-race story, DataCatalogController.py:1608–1652, 455–473):
  *  1. write the batch to a fresh `data/c_<uuid>` dir — INVISIBLE until
  *     published (readers only follow manifests);
  *  2. publish a manifest at version = latest+1 with an atomic
  *     fail-if-exists rename ([[FileContext.rename]] with
  *     `Options.Rename.NONE`).
  * A crash between (1) and (2) leaves an orphan data dir and a fully
  * intact previous version — readers NEVER see a partial commit. Two
  * concurrent writers race on the same manifest name; the loser's rename
  * fails and it retries at the next version (optimistic concurrency, the
  * Delta protocol's conflict rule) — for append commits the retry
  * re-resolves the parent file set, so no committed batch is lost.
  *
  * Data dirs are immutable once published: a snapshot commit REPLACES
  * the visible file set (MERGE results), an append commit EXTENDS it
  * (history). Either way persisted bytes per commit scale with the
  * batch, and old versions stay readable until vacuumed ([[vacuum]]).
  * Partition pruning inside a store relies on parquet column stats
  * (appends are typically day-aligned), not directory partitioning —
  * manifests list plain dirs, so listing survives any filesystem.
  */
object AtomicStore {

  private def hconf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  private def commitsDir(root: String) = new Path(root, "_commits")
  private def dataDir(root: String) = new Path(root, "data")

  private def manifestName(v: Long): String = f"v$v%020d"
  private def versionOf(name: String): Option[Long] =
    if (name.matches("v\\d{20}")) Some(name.drop(1).toLong) else None

  /** Latest committed version, if any commit exists. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = commitsDir(root).getFileSystem(hconf(spark))
    if (!fs.exists(commitsDir(root))) None
    else fs.listStatus(commitsDir(root))
      .flatMap(s => versionOf(s.getPath.getName))
      .sorted.lastOption
  }

  /** The raw lines of a version's manifest file — data-dir names for the
    * table flavor, `k=v` pins for the KV-cut flavor below. One open+read.
    */
  private def linesAt(spark: SparkSession, root: String,
                      version: Long): Seq[String] = {
    val fs = commitsDir(root).getFileSystem(hconf(spark))
    val p = new Path(commitsDir(root), manifestName(version))
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  /** The data dirs a version's manifest lists (absolute paths). */
  private[graft] def filesAt(spark: SparkSession, root: String,
                             version: Long): Seq[String] =
    linesAt(spark, root, version).map(rel =>
      new Path(dataDir(root), rel).toString)

  /** Bounded go-around for resolve steps racing a concurrent [[vacuum]]:
    * a vanished manifest between listStatus and open is indistinguishable
    * from losing a publish race — re-resolve. Bounded so a genuinely
    * vanished store surfaces as the original error, not a hot loop.
    */
  private def retryingOnVacuumRace[T](f: => T): T = {
    var races = 0
    while (true) {
      try return f
      catch {
        case e: Throwable if isVacuumRace(e) =>
          races += 1
          if (races > MaxVacuumRaceRetries) throw e
          Thread.sleep(20L * races)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val MaxVacuumRaceRetries = 8

  /** Latest committed snapshot. Fails if nothing was ever committed —
    * use [[currentVersion]] to probe.
    *
    * mergeSchema: [[commitAppend]] imposes no schema check, so later
    * batches may carry columns earlier ones lack. A sampled-footer schema
    * would silently DROP those columns whenever the sampled file predates
    * the evolution — and results would flip after a [[compact]] (whose
    * fold merges schemas) rewrote the store. Same rule as the fold.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    retryingOnVacuumRace {
      val v = currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"AtomicStore: no commits at $root"))
      readAt(spark, root, v)
    }

  /** The table AT a specific committed version — the pinned-read primitive
    * the store-level manifest ([[readKv]]) resolves consistent cuts
    * through. Fails (FileNotFoundException) when `version`'s manifest was
    * vacuumed; callers re-resolve their cut (same staleness contract as
    * any reader: a pin held past the vacuum grace window is stale).
    */
  private[graft] def readAt(spark: SparkSession, root: String,
                            version: Long): DataFrame =
    readDirs(spark, filesAt(spark, root, version))

  /** Footer schema of ONE immutable data dir, read driver-side and
    * memoized per process. A published data dir never changes (the
    * protocol's immutability rule — writeData lands it once, publish only
    * ever references it), so its schema is a constant. The read must NOT
    * go through `spark.read.parquet(dir).schema`: Spark 4's parquet
    * inference routes even the single-footer case through
    * `mergeSchemasInParallel`, i.e. a Spark job — exactly the per-read
    * job this cache exists to remove. Instead the first part file's
    * footer is opened directly (parquet-hadoop, one local I/O) and the
    * schema Spark serialized at write time
    * (`org.apache.spark.sql.parquet.row.metadata` — present in every
    * footer this store writes, because writeData is always a Spark
    * write) is parsed back. `asNullable` matches what a file-source read
    * reports for the same data, so the distinct-schema check below
    * compares at the right granularity. One part file suffices: a dir
    * holds exactly one write job's files, all sharing one schema.
    * Bounded: a long-lived writer touches unboundedly many dirs, so the
    * map resets at a size cap instead of accreting forever (same
    * discipline as Dedup's salt memo).
    */
  private val dirSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private val DirSchemaCacheMax = 4096

  private def dirSchema(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType = {
    val hit = dirSchemaCache.get(dir)
    if (hit != null) hit
    else {
      val p = new Path(dir)
      val fs = p.getFileSystem(hconf(spark))
      val part = fs.listStatus(p).iterator
        .map(_.getPath)
        .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"AtomicStore: no data files under $dir"))
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          part, hconf(spark)))
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      if (json == null)
        throw new IllegalStateException(
          s"AtomicStore: $part carries no Spark schema metadata")
      val s = org.apache.spark.sql.graft.Bridge.asNullable(
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      if (dirSchemaCache.size >= DirSchemaCacheMax) dirSchemaCache.clear()
      dirSchemaCache.put(dir, s)
      s
    }
  }

  /** Read a committed chain's data dirs as one table.
    *
    * mergeSchema semantics, without the per-read Spark job: with
    * `mergeSchema=true` Spark resolves the schema via a DISTRIBUTED
    * footer-merge job (SchemaMergeUtils.mergeSchemasInParallel) on every
    * read — one Spark job per pinned store read, which the round-21 job
    * profile showed on every protocol query (9 of q58's 158 jobs, 11 of
    * s18's 50). Each dir holds one write job's files (one schema), so the
    * chain's schema is derivable from the per-dir footer schemas: when
    * they all AGREE — the overwhelmingly common case; evolution only
    * enters through [[commitAppend]] batches that added columns — the
    * merge is the identity and an explicit-schema read returns the exact
    * same frame with zero schema jobs. Dirs with DIFFERING schemas (or
    * any inference hiccup: an empty dir, a vacuum race mid-probe) fall
    * back to the stock mergeSchema read, so evolution and failure
    * semantics are bit-identical to the old path (AtomicStoreSpec's
    * mergeSchema fold spec covers the differing-schema arm).
    */
  private def readDirs(spark: SparkSession, files: Seq[String]): DataFrame = {
    val schemas =
      try files.map(dirSchema(spark, _)).distinct
      catch { case scala.util.control.NonFatal(_) => Nil }
    schemas match {
      case Seq(one) => spark.read.schema(one).parquet(files: _*)
      case _ => spark.read.option("mergeSchema", "true").parquet(files: _*)
    }
  }

  /** Step 1 of the protocol: land the batch in a fresh, UNPUBLISHED data
    * dir; returns its manifest-relative name. `private[graft]` so specs
    * can simulate a crash between data write and publish.
    *
    * Prefix is the dir's PROVENANCE MARK: `c_` for writer commits,
    * [[FoldPrefix]] for maintenance snapshots ([[compact]]'s fold, the
    * index stores' fence purges) — snapshots that preserve the SERVED
    * row set of the chain they replaced. Store-level manifest cuts use
    * the mark to tell a safe fold apart from an orphaned writer
    * snapshot when a table's current chain no longer lists the cut's
    * pinned dirs (see StoreCut.extendsPin).
    */
  private[graft] def writeData(df: DataFrame, root: String,
                               prefix: String = "c_"): String = {
    val rel = s"$prefix${UUID.randomUUID().toString.replace("-", "")}"
    // REBALANCE before the write (optimization guide §6): AQE sizes the
    // output files to its advisory partition size instead of freezing
    // whatever partitioning the computation left — a model-sized frame
    // that arrives in 32 near-empty partitions lands as ONE file (one
    // write task, one footer for every later read) while a corpus-sized
    // batch still fans out to ~advisory-sized files. Measured: a 32-
    // partition 2000-row frame writes 6× faster as 1 file vs 32.
    // Guards: without AQE a REBALANCE hint degrades to a plain shuffle at
    // spark.sql.shuffle.partitions — WORSE than writing as-is (a 1-
    // partition micro-batch would land as 32 near-empty files). And a
    // frame already in a handful of partitions (checkpointed job deltas,
    // streaming waves) gains nothing from re-sizing — the hint would
    // just bolt an AQE exchange onto every tiny commit (measured: +0.15
    // to +0.3 s per protocol query, +1 s on the ingest pipeline's waves).
    // Only rebalance when AQE can right-size AND the plan shape says the
    // write would otherwise spray many small files. The spray probe is
    // STRUCTURAL ([[PlanProbe.spraysSmallFiles]]) — round 20 probed with
    // `df.rdd.getNumPartitions`, which under AQE finalizes the adaptive
    // plan and EXECUTES every upstream shuffle stage; the write then
    // re-executed them, doubling each join/aggregate-bearing commit's
    // compute (the round's tag-store-family regression). The structural
    // probe also skips the hint on frames whose topmost exchange AQE
    // already right-sizes (ENSURE_REQUIREMENTS), so MERGE/fold commits
    // pay no second exchange.
    val aqe = df.sparkSession.conf
      .get("spark.sql.adaptive.enabled", "true") == "true"
    val out = if (aqe && PlanProbe.spraysSmallFiles(df, maxGoodParts = 4))
                df.hint("rebalance")
              else df
    // Committer v2 + no _SUCCESS marker: v1's two-phase rename (task →
    // _temporary/job, then job → destination) exists to make the OUTPUT
    // DIRECTORY atomic-ish, but this protocol's atomicity point is the
    // MANIFEST publish — an unpublished data dir is invisible however
    // partially it was written, crashed v2 task files included — so the
    // second rename pass (and the _SUCCESS marker nothing reads; every
    // reader resolves through manifests) is pure per-commit latency,
    // paid by every writeData across the store family. Same reasoning
    // as the Delta/Iceberg committers: when a transaction log provides
    // atomicity, the committer's job-level rename dance is redundant.
    out.write.mode("errorifexists")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(new Path(dataDir(root), rel).toString)
    rel
  }

  /** The data-dir prefix marking maintenance snapshots (see
    * [[writeData]]). The invariant that makes the mark trustworthy: a
    * fold/purge only commits after verifying its base chain extends the
    * store cut, so an `f_` dir always holds the served rows of a
    * cut-consistent chain — never a half-published writer rewrite.
    */
  private[graft] val FoldPrefix = "f_"

  /** TEST-ONLY seam for the CAS commits and the family fold
    * (`StoreCut.fold`'s truncate-to-pin form): invoked after the base
    * check and the batch's data write, immediately before the manifest
    * publish.
    * IngestRaceSpec reaches the publish-race loser branch stochastically
    * (two real writers); this hook lets AtomicStoreSpec land a racing
    * winner at exactly the lost-race instant, pinning the loser's
    * return-None + reclaim behavior deterministically. Production never
    * sets it (default no-op).
    */
  @volatile private[graft] var testPrePublishHook: () => Unit = () => ()

  /** Step 2: publish a manifest at `version` atomically. Returns false
    * when a concurrent writer already published that version (the
    * optimistic-concurrency conflict — retry at the next version).
    *
    * The claim primitive is scheme-dependent, exactly like Delta's
    * LogStore split. On HDFS-like filesystems `FileContext.rename`
    * with `Rename.NONE` is a single atomic fail-if-exists namenode op.
    * On the LOCAL filesystem that same call is check-then-rename (and
    * ChecksumFs moves the .crc sidecar in a separate step), so two
    * racing publishers can interleave into BOTH believing they won —
    * observed as a manifest whose data and .crc come from different
    * writers (ChecksumException on read; AtomicStoreSpec's append soak
    * caught it at ~1-in-20). There the claim is a HARD LINK instead:
    * link(2) fails EEXIST atomically at the syscall level, and linking
    * only the data file means no .crc ever attaches to a manifest, so
    * the mismatched-sidecar state is unrepresentable.
    */
  private[graft] def publish(spark: SparkSession, root: String,
                             dataDirs: Seq[String], version: Long): Boolean = {
    val fs = commitsDir(root).getFileSystem(hconf(spark))
    fs.mkdirs(commitsDir(root))
    val tmp = new Path(commitsDir(root), s".tmp_${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(dataDirs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    testPostTmpWriteHook(tmp)
    atomicClaim(spark, fs, tmp, new Path(commitsDir(root), manifestName(version)))
  }

  /** TEST-ONLY seam between the tmp write and its atomic claim — the
    * one window where an age-gated GC can sweep a stalled publisher's
    * tmp out from under it (the claim then maps NoSuchFile → "lost",
    * with the base UNCHANGED — [[advanceKvIfBase]]'s wedged branch,
    * otherwise reachable only through a real GC race). Specs install a
    * path-filtered deleter here to pin the bounded-retry-then-distinct-
    * error diagnosis deterministically. Production never sets it.
    */
  @volatile private[graft] var testPostTmpWriteHook: Path => Unit = _ => ()

  /** The scheme-dependent fail-if-exists CAS both claim sites share —
    * publishing a manifest and claiming a lease epoch are the same
    * primitive, and keeping them one implementation keeps their
    * exception mapping from drifting (the claimLease copy had grown a
    * swept-tmp case the publish copy lacked). Returns true when this
    * caller won the create of `target` from its written `tmp`; false
    * when the target already exists (lost the race) or the tmp vanished
    * from under us (an age-gated GC swept a stalled caller's tmp —
    * equivalent to losing: we hold nothing). The tmp is deleted
    * best-effort on every exit. See [[publish]] for why the local
    * filesystem claims via hard link while everything else uses the
    * no-overwrite [[FileContext.rename]].
    *
    * Contract caveat: the LocalFileSystem arm's NoSuchFileException →
    * "lost" mapping also fires if the TARGET's parent directory was
    * deleted out-of-band (not just when our tmp was GC-swept) — the
    * caller then reports busy rather than an error. Out-of-band deletion
    * of a protocol directory is outside the store's contract; the
    * symptom of that misuse is a permanently-busy claim, not corruption.
    */
  private def atomicClaim(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          tmp: Path, target: Path): Boolean = {
    def dropTmp(): Unit =
      try fs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fs.makeQualified(target).toUri),
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri))
          dropTmp()
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            dropTmp(); false
          case _: java.nio.file.NoSuchFileException => false
        }
      case _ =>
        try {
          FileContext.getFileContext(target.toUri, hconf(spark))
            .rename(tmp, target, Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.io.FileNotFoundException =>
            dropTmp(); false
        }
    }
  }

  private def commit(df: DataFrame, root: String, append: Boolean): Long = {
    val spark = df.sparkSession
    val rel = writeData(df, root)
    var done = false
    var v = 0L
    var races = 0
    while (!done) {
      // resolve + publish under the vacuum-race go-around: a concurrent
      // [[compact]]'s vacuum can remove the manifest resolved by
      // currentVersion before filesAt opens it — same remedy as a lost
      // publish race, re-resolve at the new latest
      retryingOnVacuumRace {
        val base = currentVersion(spark, root)
        v = base.getOrElse(-1L) + 1
        // append: re-resolve the parent file set EVERY attempt, so losing a
        // publish race never drops the winner's batch from our manifest
        val dirs =
          if (append)
            base.toSeq.flatMap(filesAt(spark, root, _))
              .map(p => new Path(p).getName) :+ rel
          else Seq(rel)
        done = publish(spark, root, dirs, v)
      }
      if (!done) {
        // backoff between lost publish races (every other retry loop
        // here has one): two sustained writers otherwise hot-loop the
        // list/open/create/claim sequence in lockstep against the
        // metadata service, maximizing re-collision
        races += 1
        Thread.sleep(math.min(20L * races, 200L))
      }
    }
    v
  }

  /** Commit `df` as the ENTIRE next table state. Retry-on-conflict bumps
    * the version and republishes the SAME snapshot — last-writer-wins,
    * correct ONLY when `df` does not derive from the current table state
    * (a from-scratch snapshot, e.g. a truncating
    * [[graft.operators.Sinks.writeReport]]). State that IS derived from a
    * read of the table (a MERGE) must use [[commitSnapshotIfUnchanged]]
    * and recompute on conflict, or the retry silently drops the racing
    * winner's changes.
    */
  def commitSnapshot(df: DataFrame, root: String): Long =
    commit(df, root, append = false)

  /** Compare-and-swap snapshot commit — the MERGE terminal step: publish
    * the next state at `expectedBase + 1` and return None when some other
    * writer committed first (the caller re-reads the new state, re-runs
    * its merge, and retries — the Delta conflict rule; a blind version
    * bump here would republish state computed against a stale base and
    * lose the winner's update).
    */
  def commitSnapshotIfUnchanged(df: DataFrame, root: String,
                                expectedBase: Option[Long]): Option[Long] =
    casSnapshot(df, root, expectedBase, "c_")

  /** [[commitSnapshotIfUnchanged]] with the maintenance provenance mark
    * ([[FoldPrefix]]) — ONLY for snapshots that preserve the served row
    * set of the chain at `expectedBase` (folds, fence purges); see
    * [[writeData]] for the invariant the mark carries.
    */
  private[graft] def commitFoldIfUnchanged(df: DataFrame, root: String,
                                           expectedBase: Option[Long]): Option[Long] =
    casSnapshot(df, root, expectedBase, FoldPrefix)

  private def casSnapshot(df: DataFrame, root: String,
                          expectedBase: Option[Long],
                          prefix: String): Option[Long] = {
    val spark = df.sparkSession
    // cheap early-out before materializing a full snapshot for a lost race
    if (currentVersion(spark, root) != expectedBase) return None
    val rel = writeData(df, root, prefix)
    val v = expectedBase.getOrElse(-1L) + 1
    testPrePublishHook()
    if (publish(spark, root, Seq(rel), v)) Some(v)
    else {
      // loser's materialized snapshot is known-unpublished — reclaim now
      reclaimData(spark, root, rel)
      None
    }
  }

  /** Reclaim a known-unpublished loser batch dir immediately (no grace
    * window needed — the manifest never referenced it). Shared by the CAS
    * commit paths here and the family store's tick commit, so every lost
    * race frees its materialized batch instead of leaving full-size
    * orphans for a vacuum that may never be scheduled. Best-effort: a failed
    * delete leaves an orphan for vacuum, never fails the caller.
    */
  private[graft] def reclaimData(spark: SparkSession, root: String,
                                 rel: String): Unit =
    try {
      val fs = dataDir(root).getFileSystem(hconf(spark))
      fs.delete(new Path(dataDir(root), rel), true)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Commit `df` as an appended batch: the new version sees every
    * previously committed file plus this batch (history semantics).
    * Retry-on-conflict re-resolves the parent file set and republishes
    * the SAME batch — correct ONLY when the batch does not derive from a
    * read of the current table state. A batch that DOES (e.g. an ingest
    * wave filtered by novelty probes against the store) must use
    * [[commitAppendIfUnchanged]] and recompute on conflict, exactly like
    * the snapshot MERGE rule above.
    */
  def commitAppend(df: DataFrame, root: String): Long =
    commit(df, root, append = true)

  /** Compare-and-swap append commit — the derived-batch sibling of
    * [[commitSnapshotIfUnchanged]]: publish `df` as an appended batch at
    * `expectedBase + 1` and return None when some other writer committed
    * first (the caller re-reads the new state, recomputes its batch
    * against it, and retries). A blind retry here would append rows
    * filtered against a stale base — e.g. a doc the racing winner just
    * committed would land a second time.
    */
  def commitAppendIfUnchanged(df: DataFrame, root: String,
                              expectedBase: Option[Long]): Option[Long] = {
    val spark = df.sparkSession
    // cheap early-out before materializing the batch for a lost race
    if (currentVersion(spark, root) != expectedBase) return None
    val rel = writeData(df, root)
    val v = expectedBase.getOrElse(-1L) + 1
    def reclaim(): Unit = reclaimData(spark, root, rel)
    val dirs =
      try expectedBase.toSeq.flatMap(filesAt(spark, root, _))
        .map(p => new Path(p).getName) :+ rel
      catch {
        // expectedBase's manifest vacuumed from under us — only possible
        // when a fold superseded it, i.e. the CAS is already lost
        case e: Throwable if isVacuumRace(e) => reclaim(); return None
      }
    testPrePublishHook()
    if (publish(spark, root, dirs, v)) Some(v)
    else { reclaim(); None }
  }

  /** A racing writer's vacuum removed a manifest (or a data dir past the
    * grace window) between a listStatus and the open/read. Inside a Spark
    * job the raw FileNotFoundException surfaces wrapped (SparkException
    * from task failure, AnalysisException from spark.read on a vanished
    * path), so the whole cause chain is walked and the path-not-found
    * AnalysisException class is matched by message. Owned here because
    * vacuum is what creates the race; [[compact]] and the store-cut
    * readers share it.
    */
  private[graft] def isVacuumRace(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    // depth-capped: a self-referential cause is handled by the eq check,
    // but a LONGER cause cycle (constructible via initCause, and remote/
    // deserialized exceptions don't guarantee acyclic chains) would spin
    // this walk forever inside a catch guard
    while (c != null && depth < 32) {
      c match {
        case _: java.io.FileNotFoundException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getMessage != null &&
               (a.getMessage.contains("PATH_NOT_FOUND") ||
                a.getMessage.contains("Path does not exist")) => return true
        case _ => ()
      }
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Fold an APPEND-ONLY store's accumulated batch dirs back into one
    * snapshot — the steady-state maintenance the persisted index stores
    * need ([[graft.operators.DocIndexStore]], [[graft.operators.AnnIndexStore]],
    * the ingest fingerprint store of [[graft.streaming.Ingest]]): every
    * ingest wave lands one manifest + one small batch dir, so a long-lived
    * store otherwise decays into unbounded manifest resolution plus the
    * classic small-files problem — every probe join pays a file-listing +
    * open cost linear in WAVE COUNT instead of data size. The fold reads
    * the current visible row set and re-lands it as ONE snapshot commit
    * (file sizes re-binned by the scan's `maxPartitionBytes` packing), so
    * post-compaction probe cost is flat in wave count.
    *
    * With the default `reduce = identity` the fold preserves rows exactly
    * — correct for any store whose visible state IS its row multiset (the
    * append-only stores above). A log with REDUCIBLE semantics passes its
    * read view as `reduce`, applied to the folded state before the CAS
    * commit: [[graft.sched.ConfigStore.compact]] folds its config log to
    * the latest-wins view (keeping each row's batch stamp, so later
    * appends still win). The tag-family store folds through its own cut
    * protocol (`StoreCut.TruncateToPin`), not through this call.
    *
    * Concurrency: the fold DERIVES from a read of the store, so it
    * commits via CAS ([[commitSnapshotIfUnchanged]]) — a racing appender
    * winning the version makes the compactor re-resolve and retry
    * (bounded by `maxAttempts`: compaction is opportunistic maintenance,
    * so under sustained append pressure it gives up with None rather
    * than livelock; the racing appender itself never loses rows, its
    * retry re-resolves the folded manifest). The post-fold [[vacuum]]
    * reclaims superseded batch dirs past the grace window.
    *
    * Returns the fold's committed version, or None when there was
    * nothing to fold (0 or 1 visible data dirs — already compact), the
    * CAS budget ran out, or `chainCheck` refused. Old manifests are
    * vacuumed either way (except on a chainCheck refusal — an orphan's
    * table must be left exactly as found for the crashed swap's re-run).
    *
    * `chainCheck` closes the fold-of-orphan TOCTOU for cut-governed
    * tables: it runs on EVERY attempt against the exact version the fold
    * materializes from and CASes at, so a crashed swap's orphan snapshot
    * landing between a caller-side pre-check and the fold's internal
    * resolve can no longer be folded into the served cut — the orphan
    * bumps the version, the CAS loses, and the re-check on the new base
    * refuses (returns None). Passing a check is also the AUTHORIZATION
    * token for cut-governed tables: a bare compact on a table whose
    * sibling `manifest` store pins it REFUSES loudly — without the chain
    * check the fold could adopt an orphaned writer snapshot, and without
    * the paired cut advance ([[graft.sources.StoreCut.foldAndAdvance]])
    * the fold-marked replacement never reaches the served cut.
    */
  def compact(spark: SparkSession, root: String, keepVersions: Int = 2,
              graceMs: Long = 15 * 60 * 1000L,
              maxAttempts: Int = 8,
              keepFloor: Option[Long] = None,
              chainCheck: Option[Long => Boolean] = None,
              reduce: DataFrame => DataFrame = identity): Option[Long] = {
    if (chainCheck.isEmpty) requireNotCutGoverned(spark, root)
    // vacuum is best-effort on EVERY exit: a fold that committed must
    // never be reported as a failure because reclamation hiccuped (an
    // objstore throttle on one delete), and the give-up path still owes
    // the manifest cleanup — so swallow any non-fatal vacuum error, not
    // just the concurrent-compactor race. keepFloor rides through to the
    // vacuum: the fold may land HIGHER than the version the caller
    // resolved (its CAS retries past racing appenders), so a
    // keepVersions window counted from the fold is not enough to protect
    // an absolute pin — only the floor is.
    def vacuumBestEffort(): Unit =
      try vacuum(spark, root, keepVersions, graceMs, keepFloor)
      catch { case scala.util.control.NonFatal(_) => () }
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val folded: Option[Option[Long]] =
        try {
          val base = currentVersion(spark, root)
          if (base.isEmpty) return None // nothing ever committed
          // the chain check runs against the SAME resolved version the
          // fold materializes from and CASes at — one resolve, no gap
          // for an orphan to slip into (a refusal also skips the vacuum:
          // the orphaned table must stay exactly as the crashed swap
          // left it for that swap's re-run)
          if (chainCheck.exists(ck => !ck(base.get))) return None
          val files = filesAt(spark, root, base.get)
          if (files.lengthCompare(1) <= 0) Some(None) // already one dir
          else {
            // the fold must MATERIALIZE from the resolved file set before
            // publishing: commitSnapshotIfUnchanged's write scans `files`,
            // and a lost CAS means those rows were re-read against a
            // superseded manifest — re-resolve and re-fold, never publish
            // a stale fold (the same conflict rule as every derived commit).
            // mergeSchema semantics via readDirs: commitAppend imposes no
            // schema check, so later waves may carry columns older batches
            // lack — a sampled-file schema would silently DROP them from
            // the whole store (readDirs falls back to the stock mergeSchema
            // read whenever the per-dir schemas differ)
            val state = reduce(readDirs(spark, files))
            // fold-marked (FoldPrefix): the snapshot preserves the
            // served view of the chain it folds (its rows, or their
            // `reduce`d read view). Tables governed by a store cut
            // must reach this through their store's compact /
            // fold-and-advance (which verify the chain extends the cut
            // first) — the mark attests that verification.
            commitFoldIfUnchanged(state, root, base).map(v => Some(v))
          }
        } catch {
          // resolved manifest/dirs vacuumed by a racing compactor
          // mid-read — re-resolve (bounded by the same attempt budget)
          case e: Throwable if isVacuumRace(e) => None
        }
      folded match {
        case Some(result) =>
          vacuumBestEffort()
          return result
        case None => // lost the CAS or hit a vacuum race — go around
          Thread.sleep(20L * attempt)
      }
    }
    // append pressure won every round — compaction is opportunistic, but
    // the manifest cleanup is still owed
    vacuumBestEffort()
    None
  }

  /** The shared write-path maintenance policy (Ingest.ingestBatchCommit,
    * the index stores via StoreCut.publishAppend): opportunistically
    * fold the store to one snapshot when version `v`'s manifest lists
    * more than `aboveDirs` data dirs. Never throws — compaction is
    * maintenance, and a commit that LANDED must not be reported failed
    * because its best-effort fold lost a race or hit an IO hiccup.
    * `aboveDirs <= 0` disables. `fold` is the actual fold step (defaults
    * to plain [[compact]]; cut-governed stores pass their
    * fold-and-advance so the one threshold-and-swallow policy serves
    * both). Returns the fold's committed version when one fired
    * (manifest-cut callers pin the fold rather than the just-superseded
    * append).
    */
  private[graft] def compactIfAbove(spark: SparkSession, root: String,
                                    v: Long, aboveDirs: Int,
                                    fold: () => Option[Long] = null): Option[Long] =
    if (aboveDirs > 0) {
      try {
        if (filesAt(spark, root, v).size > aboveDirs)
          Option(fold).map(_.apply())
            .getOrElse(compact(spark, root))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    } else None

  /** Is `root` a component table of a store-level manifest cut — i.e.
    * does a sibling `manifest` KV store's current cut pin this table's
    * directory name (component tables live directly under their store
    * root by construction)? Used by [[compact]]'s refusal below — the
    * documented-misuse seam closed structurally in round 18. A probe
    * failure (after one retry) means "not provably governed" (a table named like
    * a component but outside any cut store must not be bricked by a
    * stray sibling file) — but it is COUNTED
    * (`Signals.GovernProbeFailures`) and logged, so a guard that can't see
    * is distinguishable from one that never fires. Cost: one LIST
    * (+ one tiny open when a manifest exists) on the first guarded call
    * per table; positive results are cached (governance is permanent
    * for a live store), so the steady-state job path pays zero.
    */
  private[graft] def isCutGoverned(spark: SparkSession,
                                   root: String): Boolean = {
    if (governedCache.contains(root)) return true
    val p = new Path(root)
    val parent = p.getParent
    parent != null && {
      // retry-once + count + log on probe failure (round-18 verdict /
      // advice): a single swallowed IO error here silently disables the
      // standalone-writer refusal for this call — fine for a
      // belt-and-braces guard (the family protocol never calls the
      // guarded writers), but a guard that CAN'T probe must be
      // distinguishable from one that never fires, so the failure is
      // counted (surfaced by Verify as storecut_health.json) and one
      // stderr line lands. Still fails OPEN after the retry: a table
      // merely NAMED like a component, sitting outside any cut store on
      // a flaky filesystem, must not be bricked by its name.
      def probe(): Boolean = {
        Signals.count(Signals.GovernProbes, root)
        readKv(spark, new Path(parent, "manifest").toString)
          .exists(_._2.contains(p.getName))
      }
      val governed =
        try probe()
        catch { case scala.util.control.NonFatal(_) =>
          try probe()
          catch { case scala.util.control.NonFatal(e2) =>
            Signals.count(Signals.GovernProbeFailures, root)
            System.err.println(s"[atomicstore] cut-governance probe at " +
              s"$root failed twice (guard degraded to not-governed for " +
              s"this call): ${e2.getClass.getSimpleName}: " +
              Option(e2.getMessage).getOrElse("").take(160))
            false
          }
        }
      // cache POSITIVES only: governance is permanent for a live store
      // (a cut never un-pins a component), so a warm guard costs zero
      // metadata ops on the job path — the high-latency-store concern.
      // A negative is never cached (a table can BECOME governed when its
      // store publishes its first cut). Out-of-band deletion and
      // re-creation of a store at the same path is outside the contract;
      // tests use [[clearCutGovernCache]].
      if (governed) governedCache.add(root)
      governed
    }
  }

  private val governedCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test-only: drop the positive governance markers (temp-dir reuse). */
  private[graft] def clearCutGovernCache(): Unit = governedCache.clear()

  private def requireNotCutGoverned(spark: SparkSession, root: String): Unit =
    if (isCutGoverned(spark, root))
      throw new IllegalStateException(
        s"AtomicStore.compact: $root is governed by the store cut at " +
          s"${new Path(root).getParent}/manifest — a bare compact could " +
          "fold a crashed swap's orphan snapshot into the served cut and " +
          "never publishes the fold. Use StoreCut.foldAndAdvance (or the " +
          "owning store's compact) instead. (Governance, once observed, " +
          "is cached for this JVM's lifetime: if this store was " +
          "dismantled at runtime — out-of-contract — the stale marker " +
          "keeps refusing until restart)")

  // ------------------------------------------------- KV-cut store flavor

  /** The store-level MANIFEST primitive (Iceberg's snapshot-of-snapshots
    * shape, reduced to the protocol already here): a versioned single-cut
    * key→value map committed through the SAME `_commits/v<n>` CAS as
    * tables, except the manifest file's content IS the state (`k=v`
    * lines) — no data dirs, no parquet, no Spark job. A multi-table
    * store pins one version per component table ("assigned=7",
    * "model_generation=3") and swaps the WHOLE cut with one
    * fail-if-exists publish: readers resolve every component through one
    * open+read and can never observe half a swap, and a writer that
    * crashes between its table commits and its cut publish leaves the
    * previous cut fully standing. Cost per commit: one LIST + one create
    * + one atomic claim; per read: one LIST + one open — strictly
    * cheaper than a one-row parquet table and driver-side throughout.
    *
    * Values are Longs (versions/generations) — all the cut needs, and a
    * typed parse failure beats a silently-stringly manifest.
    */
  def readKv(spark: SparkSession, root: String): Option[(Long, Map[String, Long])] =
    retryingOnVacuumRace {
      currentVersion(spark, root).map(v => (v, readKvAt(spark, root, v)))
    }

  /** The cut at a specific committed version (time travel for manifest
    * readers). Fails when `version` was vacuumed — same staleness
    * contract as [[readAt]]. A malformed line FAILS LOUDLY rather than
    * parsing to "key absent": a dropped key would make pinned readers
    * silently fall back to the table's current version — exactly the
    * mixed-cut read the manifest exists to make unrepresentable.
    */
  def readKvAt(spark: SparkSession, root: String,
               version: Long): Map[String, Long] =
    linesAt(spark, root, version).map { l =>
      val i = l.indexOf('=')
      val parsed =
        if (i <= 0) None
        else l.substring(i + 1).toLongOption.map(l.substring(0, i) -> _)
      parsed.getOrElse(throw new IllegalStateException(
        s"AtomicStore: malformed cut line '$l' in $root v$version — the " +
          "manifest is corrupt; restore it from an earlier version or " +
          "re-publish the cut"))
    }.toMap

  /** TEST-ONLY seam for the KV publish, the cut sibling of
    * [[testPrePublishHook]] (deliberately separate: specs that race the
    * TABLE CAS hooks must not also fire on every manifest advance).
    */
  @volatile private[graft] var testPreKvPublishHook: () => Unit = () => ()

  /** Advance the cut MONOTONICALLY: per-key max-merge of `pins` into the
    * current cut, committed via CAS and retried until it lands (or is
    * discovered already-subsumed). Max-merge is what makes concurrent
    * advancers order-insensitive: table versions only grow, an appended
    * version's file set includes every file of the versions below it,
    * and a model generation only moves forward — so whichever advance
    * publishes last, the merged cut never regresses a key another writer
    * already pinned. Returns the cut version whose contents subsume
    * `pins` (a no-op advance returns the current version).
    *
    * Callers pin versions from their OWN commit results, never from a
    * "current version" probe — a probe can observe another writer's
    * uncommitted progress and publish a cut that was never any writer's
    * intent (the straggler-manifest caution recorded in SCALING.md
    * Round-16).
    *
    * `maxAttempts` bounds the retry-until-landed loop for BEST-EFFORT
    * callers (post-commit publication steps that must degrade to
    * "delayed, adopted later" rather than hang): under the documented
    * [[atomicClaim]] caveat — the manifest directory deleted out-of-band
    * makes every publish return false permanently — an unbounded loop
    * here would spin forever, so a capped caller gets a loud
    * IllegalStateException its swallow path can absorb. Mandatory
    * publication (a swap's single cut advance) keeps the unbounded
    * default: it MUST eventually land, and its failure mode should block
    * loudly, not silently lag the cut.
    */
  def advanceKv(spark: SparkSession, root: String,
                pins: Map[String, Long],
                maxAttempts: Int = Int.MaxValue): Long = {
    require(pins.nonEmpty, "advanceKv: empty pin set")
    require(pins.keys.forall(k => k.nonEmpty && !k.contains('=') &&
        !k.contains('\n') && !k.contains('\r')),
      s"advanceKv: keys must be '='/newline-free: ${pins.keys.mkString(", ")}")
    var attempt = 0
    while (true) {
      val base = readKv(spark, root)
      val cur = base.map(_._2).getOrElse(Map.empty[String, Long])
      val merged = cur ++ pins.map { case (k, v) =>
        k -> math.max(v, cur.getOrElse(k, Long.MinValue))
      }
      if (base.isDefined && merged == cur) return base.get._1
      val v = base.map(_._1).getOrElse(-1L) + 1
      val lines = merged.toSeq.sortBy(_._1).map { case (k, x) => s"$k=$x" }
      testPreKvPublishHook()
      if (publish(spark, root, lines, v)) return v
      attempt += 1
      if (attempt >= maxAttempts)
        throw new IllegalStateException(
          s"advanceKv: gave up after $maxAttempts lost publishes at $root " +
            "— every CAS lost to a concurrent advancer (or the manifest " +
            "directory was deleted out-of-band, which makes publish fail " +
            "permanently)")
      Thread.sleep(math.min(20L * attempt, 200L))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compare-and-swap [[advanceKv]] — publish the max-merged cut at
    * `expectedBase + 1` and return None when the cut moved since the
    * caller read `expectedBase` (no retry: the caller's pins derive
    * from state resolved AT that base). The fenced-zombie closer for
    * lease-serialized multi-table writers (the tag family): a holder
    * stalled past its TTL mid-commit publishes table manifests with
    * STALE pinned parents, and a blind max-merge advance would adopt
    * them — numerically higher versions whose chains DROP the
    * lease-breaker's published batch, tearing the served cut. Losing
    * this CAS instead orphans the zombie's commits (the next job's
    * pin-parented publish truncates them) and surfaces loudly. A no-op
    * advance (pins already subsumed) returns the current version.
    */
  def advanceKvIfBase(spark: SparkSession, root: String,
                      pins: Map[String, Long],
                      expectedBase: Option[Long]): Option[Long] = {
    require(pins.nonEmpty, "advanceKvIfBase: empty pin set")
    val base = readKv(spark, root)
    if (base.map(_._1) != expectedBase) return None
    val cur = base.map(_._2).getOrElse(Map.empty[String, Long])
    val merged = cur ++ pins.map { case (k, v) =>
      k -> math.max(v, cur.getOrElse(k, Long.MinValue))
    }
    if (base.isDefined && merged == cur) return Some(base.get._1)
    val v = expectedBase.getOrElse(-1L) + 1
    val lines = merged.toSeq.sortBy(_._1).map { case (k, x) => s"$k=$x" }
    // None must mean exactly ONE thing — "the cut moved past
    // expectedBase" — because callers word their abort diagnosis off it
    // (the tag family reports a broken lease / racing publisher). A
    // failed publish is ambiguous on its own: the claim at `v` may exist
    // because a racer won (base genuinely moved — the re-read below sees
    // v), or the claim may have failed for a transient local reason (our
    // tmp GC-swept mid-stall) with the base UNCHANGED. The latter is not
    // a lost race, so retry it briefly; if the base still reads
    // `expectedBase` after the retries, fail LOUDLY as the distinct
    // condition it is (a wedged claim / out-of-band manifest damage),
    // instead of sending operators hunting a zombie that never existed.
    var attempt = 0
    while (true) {
      testPreKvPublishHook()
      if (publish(spark, root, lines, v)) return Some(v)
      if (readKv(spark, root).map(_._1) != expectedBase) return None
      attempt += 1
      if (attempt >= 3)
        throw new IllegalStateException(
          s"advanceKvIfBase: the publish at $root v$v failed $attempt " +
            s"times while the cut base still reads $expectedBase — not a " +
            "lost CAS (no concurrent publisher advanced the cut) but a " +
            "wedged claim: a crashed publisher's manifest claim at " +
            s"v$v, or out-of-band damage to the manifest directory. " +
            "Repair the manifest store; the caller's commits are intact " +
            "and unpublished")
      Thread.sleep(20L * attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Drop data dirs no manifest within `keepVersions` of latest
    * references, and older manifests (Delta's VACUUM). Safe for readers
    * because they resolve a retained manifest first; safe for CONCURRENT
    * WRITERS because an unreferenced dir is only deleted once older than
    * `graceMs` (Delta's retention-window rule) — a freshly written,
    * not-yet-published commit is never swept out from under its publish.
    *
    * `keepFloor` is an ABSOLUTE retention floor: version `keepFloor` and
    * everything above it stay readable regardless of `keepVersions` —
    * the store-cut callers pass the cut's pinned version, so a fold that
    * lands higher than expected (its CAS retried past racing appenders)
    * can never count the still-served pin out of its retention window.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
             graceMs: Long = 15 * 60 * 1000L,
             keepFloor: Option[Long] = None): Unit = {
    require(keepVersions >= 1, "vacuum: must keep at least the latest version")
    val fs = commitsDir(root).getFileSystem(hconf(spark))
    val cutoff = System.currentTimeMillis() - graceMs
    currentVersion(spark, root).foreach { latest =>
      val keepFrom = math.min(latest - keepVersions + 1,
        keepFloor.getOrElse(Long.MaxValue))
      val stats = fs.listStatus(commitsDir(root))
        .flatMap(s => versionOf(s.getPath.getName)
          .map(v => v -> s.getModificationTime)).toMap
      val versions = stats.keys.toSeq.sorted
      val live = versions.filter(_ >= keepFrom)
        .flatMap(filesAt(spark, root, _)).map(p => new Path(p).getName).toSet
      // A superseded manifest's NAME is still the CAS claim publish()
      // checks: deleting it immediately would let a writer that resolved
      // its base BEFORE this vacuum re-publish the freed version name,
      // "win" a fail-if-exists race the store has already moved past, and
      // report a commit that is invisible below latest (silent loss — the
      // data dir then gets vacuumed too). So manifests get the same grace
      // discipline as data dirs, anchored at the moment the version was
      // SUPERSEDED (its earliest successor's publish mtime — the
      // manifest's own mtime is its publish time, which may be arbitrarily
      // old by the time a fold supersedes it). A writer stalled longer
      // than the grace window between resolve and publish is outside the
      // store's staleness contract, exactly like a reader.
      //
      // Manifests go FIRST, and deleting one TOUCHES the now-unreferenced
      // dirs it lists: a dir's own mtime is its WRITE time, which may be
      // hours old by the time the last manifest referencing it dies — an
      // mtime-gated delete would then reclaim it in the same pass, under
      // a reader that legally resolved that manifest moments before its
      // deletion. The touch restarts the dir's grace clock at the moment
      // its last reference disappeared, so any reader that resolved a
      // then-existing manifest gets the full window to finish its scan
      // (the manifest-supersede grace plus the dir grace, sequentially).
      versions.filter(_ < keepFrom).foreach { v =>
        val supersededAt = versions.filter(_ > v).map(stats).min
        if (supersededAt <= cutoff) { // inclusive — same rule as data dirs
          // graceMs == 0 is the explicit quiesced/immediate-reclaim mode
          // (tests, post-race cleanup): restarting the clock there would
          // defeat the caller's stated intent
          if (graceMs > 0)
            try filesAt(spark, root, v)
              .map(p => new Path(p).getName)
              .filterNot(live.contains)
              .foreach { rel =>
                try fs.setTimes(new Path(dataDir(root), rel),
                  System.currentTimeMillis(), -1L)
                catch { case scala.util.control.NonFatal(_) => () }
              }
            catch { case scala.util.control.NonFatal(_) => () }
          fs.delete(new Path(commitsDir(root), manifestName(v)), false)
        }
      }
      if (fs.exists(dataDir(root)))
        fs.listStatus(dataDir(root))
          .filterNot(s => live.contains(s.getPath.getName))
          // inclusive boundary ("at least graceMs old", not "strictly
          // older"): immaterial against a real grace window, but with
          // graceMs=0 a strict compare leaves anything stamped in the
          // same millisecond as the vacuum unreclaimed — a fold whose
          // cleanup runs immediately after it flakes on mtime ties
          .filter(_.getModificationTime <= cutoff)
          .foreach(s => fs.delete(s.getPath, true))
    }
    // sweep aged `.tmp_` manifest orphans: a publisher crashing
    // between its tmp create and the rename/link leaves the tmp in
    // _commits/ forever — versionOf ignores it and nothing else
    // deletes it, so crash residue grows the listing every
    // currentVersion call pays (the same erosion the lease claim GC
    // sweeps in lease.d/). Same grace discipline as data dirs: a tmp
    // younger than the window may be a publish in flight. Runs whenever
    // `_commits/` exists, NOT only when some version committed — a store
    // whose publishes all crashed before their CAS is tmp residue with
    // zero committed versions, exactly the store that needs the sweep.
    if (fs.exists(commitsDir(root)))
      fs.listStatus(commitsDir(root))
        .filter(s => s.getPath.getName.startsWith(".tmp_") &&
          s.getModificationTime <= cutoff)
        .foreach(s =>
          try fs.delete(s.getPath, false)
          catch { case scala.util.control.NonFatal(_) => () })
  }

  // ------------------------------------------------------------- leases

  /** Default lease TTL: the TTL of claimers that don't pick their own.
    * Every lease carries its holder's TTL INSIDE the lease file
    * (`ttl_ms=` line, always written by [[claimLease]]), and every later
    * check honors the holder's own TTL — a 60-minute retrain can't lose
    * its exclusion at some other component's hardcoded 15-minute mark.
    * An epoch file without that line (not a claimLease product, e.g. a
    * crash-residue stub) counts with this TTL in both [[claimLease]] and
    * [[leaseHeld]], so both sides of the protocol agree on it.
    */
  val DefaultLeaseTtlMs: Long = 15 * 60 * 1000L

  /** Protocol files for logical lease `L` live under the dedicated
    * directory `L.d/` — epoch files `e<n>` (a holder) and release
    * markers `r<n>` (epoch n released WITHOUT freeing its path: epoch
    * paths are never reusable, only the GC under a strictly higher live
    * claim removes them, which is what keeps the max visible number
    * monotone — the safety anchor of [[claimLease]]'s verify step).
    * The dedicated directory bounds every lease op to a list of a few
    * protocol files; listing the lease's PARENT would scale with
    * whatever else shares that directory (on an object store, a LIST of
    * a prefix holding thousands of sibling tables per claim/held
    * check). The directory is the lease's only on-disk form: nothing at
    * `L` itself is ever read or written.
    */
  private def leaseDir(lease: Path) =
    new Path(lease.getParent, lease.getName + ".d")

  /** All lease-protocol files for logical lease `lease`, ascending by
    * epoch: (number, isEpochFile, status).
    */
  private def leaseFiles(fs: org.apache.hadoop.fs.FileSystem, lease: Path)
      : Seq[(Long, Boolean, org.apache.hadoop.fs.FileStatus)] = {
    val inDir =
      try fs.listStatus(leaseDir(lease))
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    (inDir.toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("e")) n.drop(1).toLongOption.map((_, true, s))
      else if (n.startsWith("r")) n.drop(1).toLongOption.map((_, false, s))
      else None
    }).sortBy(_._1)
  }

  /** The TTL the lease's own holder claimed with (`ttl_ms=` line inside
    * the file), if the file carries one. Read to EOF, not one read()
    * call: a short read (legal for any InputStream, plausible on remote
    * filesystems) could truncate the first line so `ttl_ms=` fails to
    * parse and the check silently falls back to [[DefaultLeaseTtlMs]] —
    * exactly the holder-TTL-ignored bug persistence exists to fix.
    * Lease files are a few hundred bytes by construction.
    */
  private def persistedTtlMs(fs: org.apache.hadoop.fs.FileSystem,
                             p: Path): Option[Long] = {
    // a vanished file is the benign protocol race (the epoch was
    // superseded and GC'd between listing and open — the claim loses at
    // its own CAS/verify anyway); any OTHER read error must NOT map to
    // None: the None fallback substitutes the default TTL, so a
    // transient IO hiccup reading a 60-minute holder's lease would let
    // a 15-minute-default claimant break a live lease — two concurrent
    // "exclusive" holders, the exact bug TTL persistence closes. Retry
    // briefly, then propagate loudly.
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        val bytes =
          try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
          finally in.close()
        return if (bytes.isEmpty) None
        else new String(bytes, StandardCharsets.UTF_8)
          .linesIterator.collectFirst {
            case l if l.startsWith("ttl_ms=") => l.stripPrefix("ttl_ms=")
          }.flatMap(_.toLongOption).filter(_ > 0)
      } catch {
        case _: java.io.FileNotFoundException => return None
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          if (attempt > 3) throw e
          Thread.sleep(20L * attempt)
      }
    }
    None // unreachable
  }

  /** Claim an exclusive LEASE at logical path `leasePath`. A lease
    * younger than its holder's TTL throws
    * ConcurrentModificationException; a crashed holder's lease is broken
    * once older. Shared by maintenance operations whose safety argument
    * is single-writer (AnnIndexStore.refreshIndex's multi-table model
    * swap, the doc-index rebuild, the tag-family job commit) — enforcing
    * the contract instead of assuming it. Release with [[releaseLease]]
    * in a finally.
    *
    * Protocol — EPOCH files, create-only: the live lease is the
    * highest-epoch file `<leasePath>.d/e<n>` (unless its release marker
    * `r<n>` exists), and claiming is a fail-if-exists create of epoch
    * `max(all numbers visible) + 1` (the same CAS primitive as
    * [[publish]]: atomic hard link on LocalFileSystem, no-overwrite
    * FileContext rename elsewhere). No claim path ever deletes or
    * renames ANOTHER claimant's LIVE file — the round-14
    * delete-then-create break had exactly that hole: two claimants that
    * both stat'd the same crashed lease could interleave so the second
    * breaker's delete removed the first's FRESH lease, yielding two
    * concurrent "exclusive" holders. Here two claimants with the same
    * view of the store compute the SAME next epoch and race to create
    * the same file; the filesystem picks exactly one winner and the
    * loser backs off loudly. Claimants whose views differ can only
    * differ by a REAL protocol transition (a claim, release, or GC
    * happened in between — never a clock tick), and two guarantees
    * close that case. First, epoch numbers are NEVER reused:
    * [[releaseLease]] marks release with a sibling `r<n>` file and
    * leaves the epoch file in place, so a stalled claimant can never
    * land on a freed path (this spec's contention soak caught exactly
    * that on a rename-away release: re-claiming a released number let a
    * later claimant — whose listing predated the re-claim — claim ABOVE
    * the live re-claimer and both proceed). Numbered files are removed
    * only by the GC of a VERIFIED claim under its strictly higher live
    * file, so the max number visible to any listing is monotone over
    * time. Second, the post-create verify re-lists and backs out if any
    * HIGHER number is visible — which by that monotonicity it always is
    * whenever a stalled claimant landed a stale low epoch while a
    * higher claim exists. The TTL is written into the lease file so
    * later checks honor the holder's OWN deadline, not the checker's.
    */
  /** TEST-ONLY seam, the lease sibling of [[testPrePublishHook]]:
    * invoked with the claimant's tmp path after its write, immediately
    * before the link/rename CAS. Lets a spec force the
    * stalled-claimant-swept-tmp state (a VM pause longer than the
    * staleness contract between create and link) deterministically,
    * pinning that the claimant surfaces the protocol's retryable busy
    * signal rather than a raw IO error. Production never sets it.
    */
  @volatile private[graft] var testPreClaimLinkHook: Path => Unit = _ => ()

  def claimLease(spark: SparkSession, leasePath: String, ttlMs: Long,
                 what: String): Path = {
    require(ttlMs > 0, s"claimLease: ttlMs must be positive, got $ttlMs")
    val lease = new Path(leasePath)
    val fs = lease.getFileSystem(hconf(spark))
    def busy() = throw new java.util.ConcurrentModificationException(
      s"$what: $lease is held — a concurrent holder is running. Wait for " +
        "it (or for its lease to age past its TTL if it crashed) " +
        "instead of racing it")
    val before = leaseFiles(fs, lease)
    val released = before.collect { case (n, false, _) => n }.toSet
    before.filter(_._2).lastOption.foreach { case (n, _, s) =>
      if (!released.contains(n)) {
        val holderTtl =
          persistedTtlMs(fs, s.getPath).getOrElse(DefaultLeaseTtlMs)
        if (System.currentTimeMillis() - s.getModificationTime <= holderTtl)
          busy()
      }
    }
    val next = before.lastOption.map(_._1 + 1L).getOrElse(1L)
    val mine = new Path(leaseDir(lease), s"e$next")
    fs.mkdirs(leaseDir(lease))
    val content =
      s"ttl_ms=$ttlMs\n" +
      s"token=${UUID.randomUUID().toString.replace("-", "")}\n" +
      s"holder=${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}\n" +
      s"what=$what\n"
    val tmp = new Path(leaseDir(lease),
      s".tmp_${UUID.randomUUID().toString.replace("-", "")}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    testPreClaimLinkHook(tmp)
    // a lost CAS is busy: either another claimant won this epoch, or our
    // tmp was swept (we stalled past the staleness contract between
    // create and link and a later claim's GC reclaimed it — we hold
    // nothing, and the retryable busy signal is what callers handle)
    if (!atomicClaim(spark, fs, tmp, mine)) busy()
    // verify: a claimant whose pre-create listing was stale can win a
    // create BELOW a live holder's epoch (its view predates a whole
    // claim/release/GC cycle that freed this number). Its file is not
    // the highest, so nothing consults it — back out and report busy
    // instead of believing we hold. The witness monotonicity above
    // guarantees a number > ours is still visible here in that case.
    // (Deleting our OWN non-highest file is always safe.)
    if (leaseFiles(fs, lease).lastOption.exists(_._1 > next)) {
      fs.delete(mine, false)
      busy()
    }
    // GC: numbers below ours are superseded — crashed holders' stale
    // epoch files and released epoch+marker pairs, all inert now that
    // our live file carries a higher witness. Reclaimed best-effort,
    // EPOCH FILE FIRST per number: a GC that crashes between the two
    // deletes must leave the marker (a pure number witness), never an
    // unmarked epoch file of a finished holder (which would read as
    // held-until-TTL).
    before.sortBy { case (n, isEpoch, _) => (n, !isEpoch) }.foreach {
      case (n, _, s) =>
        if (n < next)
          try fs.delete(s.getPath, false)
          catch { case scala.util.control.NonFatal(_) => () }
    }
    // sweep aged `.tmp_` orphans in the same GC pass: a claimant that
    // crashed between its temp create and the link/rename leaves
    // `.tmp_<uuid>` in `lease.d/` forever — the numbered GC above never
    // touches them, so crash residue accumulates and erodes the bounded-
    // listing cost this directory exists for. Age-gated at the LARGER of
    // this claim's TTL and the protocol default, so a mid-flight
    // claimant's tmp (a milliseconds-wide window between create and
    // link) is never stolen: a claimant stalled >15 min inside that
    // window is outside the protocol's staleness contract, exactly like
    // a crashed holder. One extra bounded LIST, on the success path only.
    val tmpCutoff =
      System.currentTimeMillis() - math.max(ttlMs, DefaultLeaseTtlMs)
    try fs.listStatus(leaseDir(lease))
      .filter(s => s.getPath.getName.startsWith(".tmp_") &&
        s.getModificationTime < tmpCutoff)
      .foreach(s =>
        try fs.delete(s.getPath, false)
        catch { case scala.util.control.NonFatal(_) => () })
    catch { case scala.util.control.NonFatal(_) => () }
    mine
  }

  /** Is a live lease present at `leasePath`? Live = the highest-epoch
    * file under `leasePath.d/` is unreleased and younger than its
    * holder's OWN persisted TTL ([[DefaultLeaseTtlMs]] for an epoch
    * file that carries none). For operations that must REFUSE while a
    * lease is held without claiming it themselves (concurrent appends
    * during an index refresh).
    */
  def leaseHeld(spark: SparkSession, leasePath: String): Boolean = {
    val lease = new Path(leasePath)
    val fs = lease.getFileSystem(hconf(spark))
    val files = leaseFiles(fs, lease)
    val released = files.collect { case (n, false, _) => n }.toSet
    files.filter(_._2).lastOption.exists { case (n, _, s) =>
      !released.contains(n) && {
        val ttl = persistedTtlMs(fs, s.getPath).getOrElse(DefaultLeaseTtlMs)
        System.currentTimeMillis() - s.getModificationTime <= ttl
      }
    }
  }

  /** Release a lease claimed by [[claimLease]] (the returned epoch-file
    * path — only ever the holder's own file). Release CREATES the
    * sibling marker `r<n>` and leaves the epoch file in place, rather
    * than deleting or renaming it: the claim protocol's safety rests on
    * epoch paths never being reusable and the max visible lease number
    * never regressing (see [[claimLease]]) — freed paths let a stalled
    * claimant re-claim a released number while a later claimant claims
    * above it, and both would believe they hold. The pair is swept by
    * the next successful claim's GC. Only claimLease's own epoch paths
    * (`<lease>.d/e<n>`) are accepted; any other path is a caller bug and
    * throws `IllegalArgumentException` without touching the filesystem.
    */
  def releaseLease(spark: SparkSession, lease: Path): Unit = {
    val fs = lease.getFileSystem(hconf(spark))
    val n = Some(lease.getName)
      .filter(_.startsWith("e") && lease.getParent.getName.endsWith(".d"))
      .flatMap(_.drop(1).toLongOption)
      .getOrElse(throw new IllegalArgumentException(
        s"releaseLease: $lease is not a claimLease epoch path (<lease>.d/e<n>)"))
    val marker = new Path(lease.getParent, s"r$n")
    try fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        // one atomic syscall, NO side effects: the checksummed local
        // create writes-and-chmods a `.crc` sibling AFTER the marker is
        // visible, and a claimant that saw the marker, claimed above it,
        // and GC'd it races those trailing ops into spurious IOExceptions
        // (observed in the contention soak). Once created the release
        // stands; a later delete of the marker is the GC doing its job.
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(fs.makeQualified(marker).toUri))
      case _ =>
        FileContext.getFileContext(marker.toUri, hconf(spark))
          .create(marker,
            java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          .close()
    } catch {
      // an existing marker already records the release — idempotent
      case _: java.nio.file.FileAlreadyExistsException => ()
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      case e: java.io.IOException =>
        // benign iff the release was OBSERVED: the marker is there, or
        // someone already claimed a higher number (only possible having
        // seen this release or this holder's crash — either way the hold
        // is over)
        val logical = new Path(lease.getParent.getParent,
          lease.getParent.getName.dropRight(2))
        if (!fs.exists(marker) && !leaseFiles(fs, logical).exists(_._1 > n))
          throw e
    }
  }

  /** Run `body` holding the lease at `path` ([[claimLease]]; busy is a
    * `ConcurrentModificationException` naming `what`), released on
    * every exit.
    */
  def withLease[T](spark: SparkSession, path: String, ttlMs: Long,
                   what: String)(body: => T): T = {
    val lease = claimLease(spark, path, ttlMs, what)
    try body
    finally releaseLease(spark, lease)
  }
}
