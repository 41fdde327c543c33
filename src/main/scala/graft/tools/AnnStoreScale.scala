package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.operators.{AnnIndexStore, Similarity}

/** Measures AnnIndexStore's incremental-maintenance contract at a given
  * lake: seed the persisted ANN index with part of the corpus, then grow
  * it wave by wave through [[AnnIndexStore.appendVectors]] — per-wave
  * cost and committed bytes must stay FLAT (∝ batch) while the
  * alternative the append path replaces, a full snapshot [[AnnIndexStore.write]]
  * of the grown corpus, grows linearly with corpus size. The same claim
  * SigStoreScale measures for the dedup signature store, on the index
  * that was rebuild-only until round 14.
  *
  * args: [sfDir] [waves] [batchVecs] [mult] [opLatencyMs] [mode]
  *
  * `mult` replicates the corpus (ids restamped past the original range)
  * so the wall-clock divergence is visible: at the raw fixture size both
  * paths are bounded by fixed per-job overhead and only the BYTES tell
  * the story.
  *
  * `opLatencyMs` > 0 engages [[SlowFs]] (the SigStoreScale object-store
  * cost model). `mode = race` runs the REFRESH-RACE integrity regime
  * instead of the cost measurements: appends racing one mid-run
  * [[AnnIndexStore.refreshIndex]] under that latency, asserting the
  * loaded store equals a clean rebuild of exactly the vectors it serves
  * (the multi-table swap's integrity measured under the cost model it
  * will actually face). Exit 0 + `ANNRACE ... PASS` on success — a
  * RoundGates gate.
  */
object AnnStoreScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val waves = args.lift(1).map(_.toInt).getOrElse(10)
    val mult = args.lift(3).map(_.toInt).getOrElse(1)
    val opLatencyMs = args.lift(4).map(_.toLong).getOrElse(0L)
    val mode = args.lift(5).getOrElse("cost")
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
    val spark = (if (opLatencyMs > 0)
        builder.config("spark.hadoop.fs.file.impl", classOf[SlowFs].getName)
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    VectorFns.register(spark)
    val emb0 = graft.Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("vec"))
    val origN = emb0.count()
    // replica ids shift by origN per copy, so ids 0..7 stay the ORIGINAL
    // first vectors (the fixture model rule) rather than mult copies of
    // vector 0
    val emb = (if (mult <= 1) emb0
      else emb0.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * origN).as("vec_id"), col("vec")))
      .localCheckpoint()
    val nVecs = origN * math.max(1, mult)
    val batchVecs = args.lift(2).map(_.toInt)
      .getOrElse(math.max(100, (nVecs / 50).toInt))
    // the fixture model (AnnEval contract): centroids 0–7, codebook 0–3
    // (numSub 8), hyperplanes 1–4
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
      .localCheckpoint()
    val codebookDf = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code_id"), col("vec").as("cvec"))
      .localCheckpoint()
    val codebook = codebookDf.orderBy("code_id").select("cvec")
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    val hyperplanes = emb.filter(col("vec_id").between(1, 4))
      .select((col("vec_id") - 1).as("hp_id"), col("vec").as("hvec"))
      .localCheckpoint()

    def components(corpus: DataFrame) = AnnIndexStore.Components(
      centroids,
      Similarity.ivfAssign(corpus, centroids).select("vec_id", "centroid_id"),
      Similarity.ivfAssignMulti(corpus, centroids, nprobe = 2),
      Similarity.pqEncode(corpus, codebook, numSub = 8),
      Similarity.hyperplaneSignatures(corpus, hyperplanes))

    def model = AnnIndexStore.Model(codebookDf, hyperplanes,
      nprobe = 2, numSub = 8)

    if (mode == "race") {
      raceRegime(spark, emb, nVecs, waves, batchVecs, opLatencyMs,
        components, model)
      spark.stop()
      return
    }
    if (mode == "crash") {
      crashRegime(spark, emb, nVecs, waves, batchVecs, opLatencyMs,
        components, model)
      spark.stop()
      return
    }

    // seed: the first half of the corpus; the rest arrives in waves
    val seedN = nVecs - waves.toLong * batchVecs
    require(seedN > 8,
      s"corpus $nVecs too small for $waves waves of $batchVecs")
    val root = java.nio.file.Files.createTempDirectory("graft_annscale").toString
    val t0 = System.nanoTime()
    AnnIndexStore.write(root, components(emb.filter(col("vec_id") < seedN)))
    AnnIndexStore.writeModel(root, AnnIndexStore.Model(
      codebookDf, hyperplanes, nprobe = 2, numSub = 8))
    val dtSeed = (System.nanoTime() - t0) / 1e9
    val seedBytes = Fs.dirBytes(root)
    println(f"ANNSTORE vecs=$nVecs%7d seed_$seedN%-7d wall=$dtSeed%6.2fs bytes=$seedBytes")

    // grow wave by wave; per-wave wall and bytes must be flat in corpus
    // size (auto-fold disabled here so fold cost doesn't ride a sampled
    // wave — the fold regime is SigStoreScale's third measurement and the
    // spec's threshold test; the default wiring is identical code)
    var prevBytes = seedBytes
    var appendWalls = List.empty[Double]
    (1 to waves).foreach { w =>
      val lo = seedN + (w - 1).toLong * batchVecs
      val hi = seedN + w.toLong * batchVecs
      val t = System.nanoTime()
      AnnIndexStore.appendVectors(root,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
        compactAboveDirs = 0)
      val dt = (System.nanoTime() - t) / 1e9
      appendWalls ::= dt
      val nowBytes = Fs.dirBytes(root)
      println(f"ANNSTORE wave=$w%3d corpus=$hi%7d append_$batchVecs%-5d " +
        f"wall=$dt%6.2fs batch_bytes=${nowBytes - prevBytes}")
      prevBytes = nowBytes
    }

    // the alternative per wave: a full snapshot rewrite of the grown
    // corpus — measured at the final size (and half, for the slope)
    Seq(seedN + waves.toLong * batchVecs / 2,
        seedN + waves.toLong * batchVecs).foreach { n =>
      val rroot = java.nio.file.Files.createTempDirectory("graft_annrw").toString
      val t = System.nanoTime()
      AnnIndexStore.write(rroot, components(emb.filter(col("vec_id") < n)))
      val dt = (System.nanoTime() - t) / 1e9
      println(f"ANNSTORE rewrite corpus=$n%7d wall=$dt%6.2fs " +
        f"bytes=${Fs.dirBytes(rroot)}")
      Fs.deleteRec(rroot)
    }
    println(f"ANNSTORE summary waves=$waves append_median=" +
      f"${appendWalls.sorted.apply(appendWalls.size / 2)}%6.2fs " +
      f"append_max=${appendWalls.max}%6.2fs")

    // steady-state PROBE decay + compaction — the SigStoreScale regime on
    // the s-side: the wave loop above ran with the fold disabled, so the
    // store now lists seed + `waves` batch dirs per component; measure
    // the serve path (load + IVF top-k off the loaded assignment) against
    // that, fold, measure again. The claim: post-fold probe cost is flat
    // in wave count.
    val queryDf = {
      import spark.implicits._
      Seq(Tuple1(emb.filter(col("vec_id") === 0)
        .select("vec").head().getSeq[Double](0))).toDF("qvec")
    }
    def probe(): Double =
      (0 until 2).map { _ =>
        val t = System.nanoTime()
        val loaded = AnnIndexStore.load(spark, root)
        Similarity.ivfTopKIndexed(loaded.assigned, emb, loaded.centroids,
          queryDf, k = 10, nprobe = 2, excludeId = Some(0L)).count()
        (System.nanoTime() - t) / 1e9
      }.min
    def refDirs(part: String): Int = {
      val t = s"$root/$part"
      graft.sources.AtomicStore.currentVersion(spark, t)
        .map(v => graft.sources.AtomicStore.filesAt(spark, t, v).size)
        .getOrElse(0)
    }
    val pUn = probe()
    println(f"ANNSTORE probe_uncompacted wall=$pUn%6.2fs " +
      f"assigned_dirs=${refDirs("assigned")}")
    val tc = System.nanoTime()
    AnnIndexStore.compact(spark, root, graceMs = 0L)
    Seq("centroids", "assigned", "assigned_multi", "codes", "sigs",
        "codebook", "hyperplanes", "params").foreach(p =>
      graft.sources.AtomicStore.vacuum(spark, s"$root/$p",
        keepVersions = 1, graceMs = 0L))
    val dtC = (System.nanoTime() - tc) / 1e9
    val pC = probe()
    println(f"ANNSTORE probe_compacted   wall=$pC%6.2fs " +
      f"assigned_dirs=${refDirs("assigned")} compact_wall=$dtC%6.2fs")
    Fs.deleteRec(root)
    spark.stop()
  }

  /** REFRESH-RACE integrity regime (a RoundGates gate): ingest waves
    * race one mid-run [[AnnIndexStore.refreshIndex]] under [[SlowFs]]
    * latency, exercising every seam of the protocol at once — appends
    * refusing while the lease is held and retrying through it, a
    * possibly-straggling append fenced out by its model-version stamp,
    * and the production repair (detect vectors the fence dropped,
    * re-append them under the current model). PASS = the loaded store
    * serves EXACTLY the full corpus and every component equals a clean
    * from-scratch rebuild — the multi-table swap's integrity measured
    * under the object-store cost model it will actually face.
    */
  private def raceRegime(spark: SparkSession, emb: DataFrame, nVecs: Long,
                         waves: Int, batchVecs: Int, opLatencyMs: Long,
                         components: DataFrame => AnnIndexStore.Components,
                         model: => AnnIndexStore.Model): Unit = {
    import spark.implicits._
    val seedN = nVecs - waves.toLong * batchVecs
    require(seedN > 8,
      s"corpus $nVecs too small for $waves race waves of $batchVecs")
    val root = java.nio.file.Files.createTempDirectory("graft_annrace").toString
    AnnIndexStore.write(root, components(emb.filter(col("vec_id") < seedN)))
    AnnIndexStore.writeModel(root, model)
    if (opLatencyMs > 0) {
      SlowFs.opLatencyMs = opLatencyMs
      println(s"ANNRACE op_latency_ms=$opLatencyMs (SlowFs engaged)")
    }
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val leaseRetries = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try (1 to waves).foreach { w =>
        val lo = seedN + (w - 1).toLong * batchVecs
        val hi = seedN + w.toLong * batchVecs
        val batch = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        var landed = false
        while (!landed) {
          try {
            AnnIndexStore.appendVectors(root, batch, compactAboveDirs = 4)
            landed = true
          } catch {
            // the refresh holds the lease — the documented remedy is
            // retry-after-release, which is exactly what ingest would do
            case _: java.util.ConcurrentModificationException
                if System.nanoTime() < deadline =>
              leaseRetries.incrementAndGet(); Thread.sleep(50)
          }
        }
        done.incrementAndGet()
      } catch { case t: Throwable => failures.add(t) }
    })
    val t0 = System.nanoTime()
    appender.start()
    // launch the refresh once a third of the waves landed; the retrain
    // input is the corpus state the refresher can SEE at that moment
    while (done.get() < math.max(1, waves / 3) && appender.isAlive)
      Thread.sleep(10)
    val retrainN = seedN + done.get().toLong * batchVecs
    val tR = System.nanoTime()
    AnnIndexStore.refreshIndex(root,
      components(emb.filter(col("vec_id") < retrainN)), model)
    val dtR = (System.nanoTime() - tR) / 1e9
    appender.join(600000)
    val raceWall = (System.nanoTime() - t0) / 1e9
    require(failures.isEmpty, s"appender failed: ${failures.peek()}")

    // production repair: an append mid-commit at refresh time is fenced
    // out (old model stamp) AND absent from the retrain snapshot — its
    // vectors vanish from the served store until re-appended under the
    // current model. Detect and re-append, as a real ingest would.
    val served0 = AnnIndexStore.load(spark, root).assigned.select("vec_id")
    val missing = emb.join(served0, Seq("vec_id"), "left_anti")
      .select("vec_id", "vec").localCheckpoint()
    val nMissing = missing.count()
    if (nMissing > 0) {
      println(s"ANNRACE fence dropped $nMissing straggler vectors — re-appending")
      AnnIndexStore.appendVectors(root, missing, compactAboveDirs = 4)
    }

    // integrity: the loaded store serves the FULL corpus and every
    // component equals the clean from-scratch rebuild, row for row
    val loaded = AnnIndexStore.load(spark, root)
    val rebuilt = components(emb)
    def diff(a: DataFrame, b: DataFrame): Long =
      a.exceptAll(b).count() + b.exceptAll(a).count()
    val dAsg = diff(loaded.assigned,
      rebuilt.assigned.select("vec_id", "centroid_id"))
    val dMulti = diff(loaded.assignedMulti,
      rebuilt.assignedMulti.select("vec_id", "centroid_id"))
    val dCodes = diff(loaded.codes, rebuilt.codes)
    val dSigs = diff(loaded.sigs, rebuilt.sigs)
    val servedN = loaded.assigned.count()
    // serve-path parity off the raced store
    val queryDf = Seq(Tuple1(emb.filter(col("vec_id") === 0)
      .select("vec").head().getSeq[Double](0))).toDF("qvec")
    def top(assigned: DataFrame, cents: DataFrame) =
      Similarity.ivfTopKIndexed(assigned, emb, cents, queryDf,
        k = 10, nprobe = 2, excludeId = Some(0L))
        .collect().map(_.mkString("|")).toSet
    val probeMatch = top(loaded.assigned, loaded.centroids) ==
      top(rebuilt.assigned.select("vec_id", "centroid_id"),
        rebuilt.centroids)
    val ok = dAsg == 0 && dMulti == 0 && dCodes == 0 && dSigs == 0 &&
      servedN == nVecs && probeMatch
    println(f"ANNRACE waves=$waves batch=$batchVecs latency_ms=$opLatencyMs " +
      f"refresh_wall=$dtR%.2fs race_wall=$raceWall%.2fs " +
      f"lease_retries=${leaseRetries.get()} fenced_repaired=$nMissing " +
      f"served=$servedN/$nVecs diff_asg=$dAsg diff_multi=$dMulti " +
      f"diff_codes=$dCodes diff_sigs=$dSigs probe_match=$probeMatch " +
      (if (ok) "PASS" else "FAIL"))
    Fs.deleteRec(root)
    if (!ok) { spark.stop(); sys.exit(1) }
  }

  /** SWAP-CRASH integrity regime (a RoundGates gate, round 17): kill a
    * [[AnnIndexStore.refreshIndex]] mid-swap — component AND model
    * tables committed, the single manifest-cut publish never reached —
    * under [[SlowFs]] latency, and measure the whole crash story the
    * store-level manifest promises:
    *
    *  1. the served store immediately after the crash equals the
    *     PRE-CRASH build row-for-row (old generation, old centroids —
    *     none of the crashed swap's eight table commits visible), and
    *     provably differs from what the swap WOULD have served (the
    *     assertion has teeth);
    *  2. an append onto the crashed state refuses LOUDLY — the orphan
    *     snapshots are never silently adopted into the served cut;
    *  3. re-running the refresh to completion repairs the store (its
    *     cut adopts its own commits);
    *  4. the remaining ingest waves land on the repaired store and the
    *     final state equals a clean from-scratch rebuild, exactly like
    *     the race regime's bar.
    *
    * PASS requires all four. Exit 0 + `ANNCRASH ... PASS` on success.
    */
  private def crashRegime(spark: SparkSession, emb: DataFrame, nVecs: Long,
                          waves: Int, batchVecs: Int, opLatencyMs: Long,
                          components: DataFrame => AnnIndexStore.Components,
                          model: => AnnIndexStore.Model): Unit = {
    val seedN = nVecs - waves.toLong * batchVecs
    require(seedN > 16,
      s"corpus $nVecs too small for $waves crash waves of $batchVecs")
    // the refreshed model must be DISTINGUISHABLE from the seed model or
    // the crash assertions are vacuous: stale centroids (vectors 8–15,
    // the s18/s19 fixture rule), same codebook/hyperplanes
    val staleCents = emb.filter(col("vec_id").between(8, 15))
      .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
      .localCheckpoint()
    def staleComponents(corpus: DataFrame) = {
      val c = components(corpus)
      AnnIndexStore.Components(
        staleCents,
        Similarity.ivfAssign(corpus, staleCents)
          .select("vec_id", "centroid_id"),
        Similarity.ivfAssignMulti(corpus, staleCents, nprobe = 2),
        c.codes, c.sigs)
    }
    def staleModel = model // same codebook/hyperplanes; generation bumps

    val root = java.nio.file.Files.createTempDirectory("graft_anncrash")
      .toString
    AnnIndexStore.write(root, components(emb.filter(col("vec_id") < seedN)))
    AnnIndexStore.writeModel(root, model)
    if (opLatencyMs > 0) {
      SlowFs.opLatencyMs = opLatencyMs
      println(s"ANNCRASH op_latency_ms=$opLatencyMs (SlowFs engaged)")
    }
    val t0 = System.nanoTime()
    // first half of the waves land normally
    val preWaves = math.max(1, waves / 2)
    (1 to preWaves).foreach { w =>
      val lo = seedN + (w - 1).toLong * batchVecs
      AnnIndexStore.appendVectors(root,
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + batchVecs),
        compactAboveDirs = 4)
    }
    val retrainN = seedN + preWaves.toLong * batchVecs
    val grown = emb.filter(col("vec_id") < retrainN)

    // kill the refresh after ALL its table commits, before the cut
    val tC = System.nanoTime()
    AnnIndexStore.testMidSwapHook = stage =>
      if (stage == "model")
        throw new RuntimeException("injected mid-swap crash")
    val crashed =
      try {
        AnnIndexStore.refreshIndex(root, staleComponents(grown), staleModel)
        false
      } catch {
        case e: RuntimeException
            if e.getMessage == "injected mid-swap crash" => true
      } finally AnnIndexStore.testMidSwapHook = _ => ()
    val dtCrash = (System.nanoTime() - tC) / 1e9

    def diff(a: DataFrame, b: DataFrame): Long =
      a.exceptAll(b).count() + b.exceptAll(a).count()
    // (1) the old cut serves — and the crashed swap WOULD have differed
    val afterCrash = AnnIndexStore.load(spark, root)
    val dOld = diff(afterCrash.assigned,
      components(grown).assigned.select("vec_id", "centroid_id"))
    val dNewTeeth = diff(afterCrash.assigned,
      staleComponents(grown).assigned.select("vec_id", "centroid_id"))
    val genAfterCrash = AnnIndexStore.currentModelVersion(spark, root)

    // (2) appends refuse loudly on the crashed state (bounded budget so
    // the gate doesn't pay the full production backoff)
    graft.sources.StoreCut.chainRetryBudget = 3
    val refused =
      try {
        AnnIndexStore.appendVectors(root,
          emb.filter(col("vec_id") >= retrainN &&
            col("vec_id") < retrainN + batchVecs), compactAboveDirs = 4)
        false
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("never published") => true
      } finally graft.sources.StoreCut.chainRetryBudget = 12

    // (3) re-run to completion repairs
    val tR = System.nanoTime()
    AnnIndexStore.refreshIndex(root, staleComponents(grown), staleModel)
    val dtRepair = (System.nanoTime() - tR) / 1e9
    // (4) remaining waves on the repaired store, then the rebuild bar
    ((preWaves + 1) to waves).foreach { w =>
      val lo = seedN + (w - 1).toLong * batchVecs
      AnnIndexStore.appendVectors(root,
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + batchVecs),
        compactAboveDirs = 4)
    }
    val loaded = AnnIndexStore.load(spark, root)
    val rebuilt = staleComponents(emb)
    val dAsg = diff(loaded.assigned,
      rebuilt.assigned.select("vec_id", "centroid_id"))
    val dCodes = diff(loaded.codes, rebuilt.codes)
    val dSigs = diff(loaded.sigs, rebuilt.sigs)
    val servedN = loaded.assigned.count()
    val wall = (System.nanoTime() - t0) / 1e9

    val ok = crashed && dOld == 0 && dNewTeeth > 0 &&
      genAfterCrash == 1L && refused && dAsg == 0 && dCodes == 0 &&
      dSigs == 0 && servedN == nVecs
    println(f"ANNCRASH waves=$waves batch=$batchVecs " +
      f"latency_ms=$opLatencyMs crash_wall=$dtCrash%.2fs " +
      f"repair_wall=$dtRepair%.2fs total_wall=$wall%.2fs " +
      f"crashed=$crashed old_cut_diff=$dOld swap_would_differ=$dNewTeeth " +
      f"gen_after_crash=$genAfterCrash append_refused=$refused " +
      f"served=$servedN/$nVecs diff_asg=$dAsg diff_codes=$dCodes " +
      f"diff_sigs=$dSigs " + (if (ok) "PASS" else "FAIL"))
    SlowFs.opLatencyMs = 0L
    Fs.deleteRec(root)
    if (!ok) { spark.stop(); sys.exit(1) }
  }
}
