package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndexStore, Similarity}
import graft.queries.AnnEval

/** The persisted ANN index round-trip: write the session index's
  * artifacts as atomic lake tables, load them in place of the memoized
  * forms, and the consumer queries must produce identical results —
  * the "index built at write time, served from the lake" deployment
  * shape behind the in-session memo.
  */
class AnnIndexStoreSpec extends SparkSpec {

  test("write → load round-trips every component and serves the same pairs") {
    val ix = AnnEval.index(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    val versions = AnnIndexStore.write(root,
      AnnIndexStore.Components(ix.centroids, ix.assigned, ix.assignedMulti2,
        ix.codes, ix.sigs))
    assert(versions.values.forall(_ == 0L)) // first commit of each table

    val loaded = AnnIndexStore.load(spark, root)
    // component-level identity
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    assert(setOf(loaded.assignedMulti) ===
      setOf(ix.assignedMulti2.select("vec_id", "centroid_id")))
    assert(setOf(loaded.assigned) ===
      setOf(ix.assigned.select("vec_id", "centroid_id")))
    assert(setOf(loaded.centroids) === setOf(ix.centroids))
    assert(setOf(loaded.codes) === setOf(ix.codes))
    assert(setOf(loaded.sigs) === setOf(ix.sigs))

    // consumer parity: the bucketed near-dup pairs served from the
    // LOADED assignment equal the ones served from the session memo
    val fromLake = Similarity.bucketedNearDupPairsFromAssigned(
        loaded.assignedMulti, ix.emb, threshold = 0.4)
      .collect().map(_.mkString("|")).toSet
    val fromMemo = Similarity.bucketedNearDupPairsFromAssigned(
        ix.assignedMulti2, ix.emb, threshold = 0.4)
      .collect().map(_.mkString("|")).toSet
    assert(fromLake === fromMemo)

    // a re-write lands as the next version of each table, atomically
    val v2 = AnnIndexStore.write(root,
      AnnIndexStore.Components(ix.centroids, ix.assigned, ix.assignedMulti2,
        ix.codes, ix.sigs))
    assert(v2.values.forall(_ == 1L))

    // maintenance: writes are whole snapshots (one data dir each), so
    // compact's fold is a no-op — but the REBUILD above left every
    // component's superseded v0 manifest + full-size data dir on the
    // lake. compact's own vacuum keeps 2 versions for pinned readers;
    // the follow-up keepVersions=1 vacuum reclaims fully. Served pairs
    // unchanged throughout.
    val folded = AnnIndexStore.compact(spark, root, graceMs = 0L)
    assert(folded.values.forall(_.isEmpty), "snapshot tables: nothing to fold")
    Seq("centroids", "assigned", "assigned_multi", "codes", "sigs").foreach {
      p =>
        graft.sources.AtomicStore.vacuum(spark, s"$root/$p",
          keepVersions = 1, graceMs = 0L)
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        assert(fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/$p", "data")).length === 1,
          s"$p superseded rebuild not reclaimed")
    }
    val served = AnnIndexStore.load(spark, root)
    assert(Similarity.bucketedNearDupPairsFromAssigned(
        served.assignedMulti, ix.emb, threshold = 0.4)
      .collect().map(_.mkString("|")).toSet === fromMemo)
  }

  // ---- incremental maintenance (appendVectors) on a fast synthetic
  // corpus: dim-4 vectors, 2 centroids, 2 PQ codewords (numSub 2),
  // 2 hyperplanes — the lake-fixture end-to-end form is s17/s18's oracle

  import org.apache.spark.sql.DataFrame

  private def sEmb(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, Seq((1 + id % 3).toDouble, (id % 5).toDouble,
        ((id * 7) % 11).toDouble, 1.0)))
      .toDF("vec_id", "vec")
  }
  private def sCents: DataFrame = sEmb(Seq(0L, 1L))
    .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
  private def sCodebookDf: DataFrame = sEmb(Seq(0L, 1L))
    .select(col("vec_id").as("code_id"), col("vec").as("cvec"))
  private def sCodebook: Seq[Array[Double]] = sCodebookDf.orderBy("code_id")
    .select("cvec").collect().map(_.getSeq[Double](0).toArray).toSeq
  private def sHyperplanes: DataFrame = sEmb(Seq(2L, 3L))
    .select((col("vec_id") - 2).as("hp_id"), col("vec").as("hvec"))

  private def sComponents(emb: DataFrame): AnnIndexStore.Components =
    AnnIndexStore.Components(
      sCents,
      Similarity.ivfAssign(emb, sCents).select("vec_id", "centroid_id"),
      Similarity.ivfAssignMulti(emb, sCents, nprobe = 2),
      Similarity.pqEncode(emb, sCodebook, numSub = 2),
      Similarity.hyperplaneSignatures(emb, sHyperplanes))

  private def sModel = AnnIndexStore.Model(sCodebookDf, sHyperplanes,
    nprobe = 2, numSub = 2)

  private def setOf(df: DataFrame) = df.collect().map(_.mkString("|")).toSet

  test("appendVectors grows the store exactly to the from-scratch rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_app")
      .toString
    val all = (0L until 40L).toSeq
    val (baseIds, waveIds) = all.partition(_ < 30L)
    AnnIndexStore.write(root, sComponents(sEmb(baseIds)))
    AnnIndexStore.writeModel(root, sModel)
    AnnIndexStore.appendVectors(root, sEmb(waveIds))

    // model round-trips (the pinned artifacts a later session appends
    // against)
    val m = AnnIndexStore.loadModel(spark, root)
    assert(m.nprobe === 2 && m.numSub === 2)
    assert(setOf(m.codebook) === setOf(sCodebookDf))
    assert(setOf(m.hyperplanes) === setOf(sHyperplanes))

    // every per-row component equals the full-corpus build: assignment /
    // encoding / signatures are pure per-row functions of (vector,
    // pinned model), so append-then-load == rebuild, exactly
    val grown = AnnIndexStore.load(spark, root)
    val rebuilt = sComponents(sEmb(all))
    assert(setOf(grown.assigned) ===
      setOf(rebuilt.assigned.select("vec_id", "centroid_id")))
    assert(setOf(grown.assignedMulti) ===
      setOf(rebuilt.assignedMulti.select("vec_id", "centroid_id")))
    assert(setOf(grown.codes) === setOf(rebuilt.codes))
    assert(setOf(grown.sigs) === setOf(rebuilt.sigs))
    assert(setOf(grown.centroids) === setOf(sCents))
  }

  test("appendVectors == rebuild under ANY wave partition (property)") {
    // batching independence: however the remainder is split into waves
    // (sizes, order, count), the grown store equals the one-shot rebuild
    // — per-row purity under the pinned model means the store is a set,
    // not a sequence
    val rnd = new scala.util.Random(7L)
    (0 until 3).foreach { trial =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_annidx_prop$trial").toString
      val all = (0L until 30L).toVector
      val baseN = 8 + rnd.nextInt(10)
      val (baseIds, rest0) = all.splitAt(baseN)
      val rest = rnd.shuffle(rest0)
      AnnIndexStore.write(root, sComponents(sEmb(baseIds)))
      AnnIndexStore.writeModel(root, sModel)
      var remaining = rest
      while (remaining.nonEmpty) {
        val take = 1 + rnd.nextInt(remaining.size)
        AnnIndexStore.appendVectors(root, sEmb(remaining.take(take)))
        remaining = remaining.drop(take)
      }
      val grown = AnnIndexStore.load(spark, root)
      val rebuilt = sComponents(sEmb(all))
      assert(setOf(grown.assigned) ===
        setOf(rebuilt.assigned.select("vec_id", "centroid_id")), s"trial $trial")
      assert(setOf(grown.codes) === setOf(rebuilt.codes), s"trial $trial")
      assert(setOf(grown.sigs) === setOf(rebuilt.sigs), s"trial $trial")
      assert(setOf(grown.assignedMulti) ===
        setOf(rebuilt.assignedMulti.select("vec_id", "centroid_id")),
        s"trial $trial")
    }
  }

  test("appendVectors auto-folds past the dir threshold, row-preserving") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_fold")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)
    (1 to 8).foreach { w =>
      AnnIndexStore.appendVectors(root,
        sEmb(Seq(2L * w, 2L * w + 1)), compactAboveDirs = 2)
    }
    // without the wiring each per-row table would list 9 dirs; with the
    // threshold at 2 no append can leave more than 3 behind
    Seq("assigned", "assigned_multi", "codes", "sigs").foreach { p =>
      val v = graft.sources.AtomicStore.currentVersion(spark, s"$root/$p").get
      val n = graft.sources.AtomicStore.filesAt(spark, s"$root/$p", v).size
      assert(n <= 3, s"$p manifest lists $n dirs — auto-compact not firing")
    }
    val loaded = AnnIndexStore.load(spark, root)
    val want = (0L until 18L).toSet
    assert(loaded.assigned.select("vec_id").collect().map(_.getLong(0)).toSet
      === want)
    assert(loaded.codes.select("vec_id").collect().map(_.getLong(0)).toSet
      === want)
    assert(loaded.sigs.select("vec_id").collect().map(_.getLong(0)).toSet
      === want)
    // nprobe=2 over 2 centroids → exactly 2 multi rows per vector
    assert(loaded.assignedMulti.count() === want.size * 2L)
  }

  test("racing appendVectors waves + compactor lose no row") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_race")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L))))
    AnnIndexStore.writeModel(root, sModel)
    val rounds = 4
    def ids(w: Int, i: Int): Seq[Long] =
      Seq(100L * (w + 1) + 2 * i, 100L * (w + 1) + 2 * i + 1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var writersDone = false
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until rounds).foreach { i =>
          AnnIndexStore.appendVectors(root, sEmb(ids(w, i)))
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    val compactor = new Thread(() => {
      try while (!writersDone) {
        AnnIndexStore.compact(spark, root)
        Thread.sleep(25)
      } catch { case t: Throwable => failures.add(t) }
    })
    writers.foreach(_.start())
    compactor.start()
    writers.foreach(_.join(600000))
    writersDone = true
    compactor.join(600000)
    assert(failures.isEmpty, s"thread failed: ${Option(failures.peek())}")
    val want = (0L +: (for (w <- 0 until 2; i <- 0 until rounds)
      yield ids(w, i)).flatten).toSet
    // quiesced: fold whatever the race left, then reclaim fully
    AnnIndexStore.compact(spark, root, graceMs = 0L)
    Seq("assigned", "assigned_multi", "codes", "sigs").foreach(p =>
      graft.sources.AtomicStore.vacuum(spark, s"$root/$p",
        keepVersions = 1, graceMs = 0L))
    val loaded = AnnIndexStore.load(spark, root)
    assert(loaded.assigned.select("vec_id").collect().map(_.getLong(0)).toSet
      === want)
    assert(loaded.codes.select("vec_id").collect().map(_.getLong(0)).toSet
      === want)
    assert(loaded.sigs.select("vec_id").collect().map(_.getLong(0)).toSet
      === want)
    assert(loaded.assignedMulti.count() === want.size * 2L)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq("assigned", "codes", "sigs").foreach { p =>
      assert(fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/$p", "data")).length === 1,
        s"$p not collapsed to one data dir")
    }
  }

  test("appendVectors on a model-less store fails loudly, not silently") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_noml")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    val e = intercept[IllegalStateException] {
      AnnIndexStore.appendVectors(root, sEmb(Seq(2L)))
    }
    assert(e.getMessage.contains(s"$root: no published cut pins 'params'"),
      s"unexpected failure shape: ${e.getMessage}")
  }

  test("refreshIndex swaps the model under a lease; appends refuse meanwhile") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_rfr")
      .toString
    val all = (0L until 24L).toSeq
    // STALE build: centroids/codebook from vectors 8,9 — then refresh to
    // the standard model (vectors 0,1) and verify appends follow the NEW
    // model
    val staleCents = sEmb(Seq(8L, 9L))
      .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
    val staleCb = sEmb(Seq(8L, 9L))
      .select(col("vec_id").as("code_id"), col("vec").as("cvec"))
    val staleCbArr = staleCb.orderBy("code_id").select("cvec")
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    AnnIndexStore.write(root, AnnIndexStore.Components(
      staleCents,
      Similarity.ivfAssign(sEmb(all), staleCents)
        .select("vec_id", "centroid_id"),
      Similarity.ivfAssignMulti(sEmb(all), staleCents, nprobe = 2),
      Similarity.pqEncode(sEmb(all), staleCbArr, numSub = 2),
      Similarity.hyperplaneSignatures(sEmb(all), sHyperplanes)))
    AnnIndexStore.writeModel(root,
      AnnIndexStore.Model(staleCb, sHyperplanes, nprobe = 2, numSub = 2))

    // a held refresh lease makes appends refuse LOUDLY (the silent
    // alternative is old-model batches mixing into the refreshed store)
    val lease = graft.sources.AtomicStore.claimLease(spark,
      s"$root/.refresh_lease", ttlMs = 60000L, "test holder")
    intercept[java.util.ConcurrentModificationException] {
      AnnIndexStore.appendVectors(root, sEmb(Seq(100L)))
    }
    graft.sources.AtomicStore.releaseLease(spark, lease)

    // the refresh itself: retrained (standard) model + re-derived
    // components, snapshot-swapped under the lease
    AnnIndexStore.refreshIndex(root, sComponents(sEmb(all)), sModel)
    // a racing second refresh while one holds the lease fails loudly
    val lease2 = graft.sources.AtomicStore.claimLease(spark,
      s"$root/.refresh_lease", ttlMs = 60000L, "test holder")
    intercept[java.util.ConcurrentModificationException] {
      AnnIndexStore.refreshIndex(root, sComponents(sEmb(all)), sModel)
    }
    graft.sources.AtomicStore.releaseLease(spark, lease2)

    // post-refresh appends encode under the NEW model: grown == rebuilt
    val waveIds = (24L until 30L).toSeq
    AnnIndexStore.appendVectors(root, sEmb(waveIds))
    val grown = AnnIndexStore.load(spark, root)
    val rebuilt = sComponents(sEmb(all ++ waveIds))
    assert(setOf(grown.assigned) ===
      setOf(rebuilt.assigned.select("vec_id", "centroid_id")))
    assert(setOf(grown.codes) === setOf(rebuilt.codes))
    val m = AnnIndexStore.loadModel(spark, root)
    assert(setOf(m.codebook) === setOf(sCodebookDf),
      "refresh must have swapped the codebook to the new model")
  }

  test("appendVectors rejects a params row that disagrees with the stored codes") {
    // write()/writeModel() are separate calls, so the inconsistent seam
    // exists; an unchecked numSub mismatch would append a codes batch
    // whose columns MERGE AS NULLS into every later read
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_mism")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L)))) // numSub=2 codes
    AnnIndexStore.writeModel(root, AnnIndexStore.Model(
      sCodebookDf, sHyperplanes, nprobe = 2, numSub = 4)) // wrong numSub
    val e = intercept[IllegalArgumentException] {
      AnnIndexStore.appendVectors(root, sEmb(Seq(2L)))
    }
    assert(e.getMessage.contains("num_sub"),
      s"unexpected failure shape: ${e.getMessage}")
    // the reject landed BEFORE any component commit: store unchanged
    val loaded = AnnIndexStore.load(spark, root)
    assert(loaded.codes.select("vec_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L))
  }

  test("append exclusion honors the refresh holder's OWN TTL (60-min claim outlives the 15-min default)") {
    // the round-14 seam: refreshIndex took leaseTtlMs as a parameter
    // while appendVectors checked a hardcoded 15 minutes — a long
    // retrain claimed with a 60-minute TTL silently lost append
    // exclusion at minute 15. The TTL now travels INSIDE the lease file.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_ttl")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lease = graft.sources.AtomicStore.claimLease(spark,
      s"$root/.refresh_lease", ttlMs = 60 * 60 * 1000L, "long retrain")
    // +20 minutes into the refresh: past the old hardcoded deadline,
    // well inside the holder's own — appends must STILL refuse
    fs.setTimes(lease, System.currentTimeMillis() - 20 * 60 * 1000L, -1L)
    intercept[java.util.ConcurrentModificationException] {
      AnnIndexStore.appendVectors(root, sEmb(Seq(2L)))
    }
    // past the holder's own 60 minutes the refresh is presumed crashed:
    // the lease stops excluding and the append proceeds
    fs.setTimes(lease, System.currentTimeMillis() - 2 * 60 * 60 * 1000L, -1L)
    AnnIndexStore.appendVectors(root, sEmb(Seq(2L)))
    assert(AnnIndexStore.load(spark, root).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
  }

  test("a straggler append that commits AFTER a refresh is fenced out by model version") {
    // the residual window the lease cannot close: an append passes the
    // lease check and resolves the OLD model, a refresh claims the
    // lease and swaps everything, then the append's commit lands on the
    // NEW snapshots. appendEncoded IS appendVectors after the lease
    // check + model resolve, so driving it with the pre-refresh model
    // forces exactly that interleaving.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_fence")
      .toString
    val all = (0L until 24L).toSeq
    // stale build (centroids/codebook from vectors 8,9 — the existing
    // refresh test's fixture shape)
    val staleCents = sEmb(Seq(8L, 9L))
      .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
    val staleCb = sEmb(Seq(8L, 9L))
      .select(col("vec_id").as("code_id"), col("vec").as("cvec"))
    val staleCbArr = staleCb.orderBy("code_id").select("cvec")
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    AnnIndexStore.write(root, AnnIndexStore.Components(
      staleCents,
      Similarity.ivfAssign(sEmb(all), staleCents)
        .select("vec_id", "centroid_id"),
      Similarity.ivfAssignMulti(sEmb(all), staleCents, nprobe = 2),
      Similarity.pqEncode(sEmb(all), staleCbArr, numSub = 2),
      Similarity.hyperplaneSignatures(sEmb(all), sHyperplanes)))
    AnnIndexStore.writeModel(root,
      AnnIndexStore.Model(staleCb, sHyperplanes, nprobe = 2, numSub = 2))

    // the straggler resolves the old model (as appendVectors would,
    // after its lease check)…
    val mOld = AnnIndexStore.loadModel(spark, root)
    // …the refresh completes in the meantime…
    AnnIndexStore.refreshIndex(root, sComponents(sEmb(all)), sModel)
    // …and the old-model batch commits anyway: rows bucketed under
    // centroids/codewords that no longer exist
    AnnIndexStore.appendEncoded(root, sEmb(Seq(100L)), mOld,
      compactAboveDirs = 0)

    // load fences the straggler out: the served store equals the clean
    // rebuild under the refreshed model, with NO trace of vector 100
    val loaded = AnnIndexStore.load(spark, root)
    val rebuilt = sComponents(sEmb(all))
    assert(setOf(loaded.assigned) ===
      setOf(rebuilt.assigned.select("vec_id", "centroid_id")))
    assert(setOf(loaded.assignedMulti) ===
      setOf(rebuilt.assignedMulti.select("vec_id", "centroid_id")))
    assert(setOf(loaded.codes) === setOf(rebuilt.codes))
    assert(setOf(loaded.sigs) === setOf(rebuilt.sigs))

    // a CURRENT-model append of the same vector lands normally — the
    // fence keys on the model generation, not the vector id
    AnnIndexStore.appendVectors(root, sEmb(Seq(100L)))
    val grown = AnnIndexStore.load(spark, root)
    val rebuiltGrown = sComponents(sEmb(all :+ 100L))
    assert(setOf(grown.assigned) ===
      setOf(rebuiltGrown.assigned.select("vec_id", "centroid_id")))
    assert(setOf(grown.codes) === setOf(rebuiltGrown.codes))

    // maintenance PURGES what the fence hides: before compact the
    // straggler's bytes are physically present (fence-only invisibility);
    // after, the raw table carries no stale stamps and load is unchanged
    def staleRows(p: String): Long =
      graft.sources.AtomicStore.read(spark, s"$root/$p")
        .filter(col("model_version").isNotNull &&
          col("model_version") =!= lit(2L)).count()
    assert(Seq("assigned", "codes", "sigs").map(staleRows).sum > 0,
      "fixture must have fenced bytes on disk before the purge")
    AnnIndexStore.compact(spark, root, graceMs = 0L)
    Seq("assigned", "assigned_multi", "codes", "sigs").foreach { p =>
      assert(staleRows(p) === 0L, s"$p still carries fenced rows post-purge")
    }
    assert(setOf(AnnIndexStore.load(spark, root).assigned) ===
      setOf(rebuiltGrown.assigned.select("vec_id", "centroid_id")))
  }

  test("fence invariant under random append/refresh/straggler/compact interleavings (property)") {
    // generalizes the point specs: whatever order appends, model
    // refreshes, old-model stragglers, and maintenance passes land in,
    // the loaded store must equal a clean from-scratch rebuild of the
    // EXPECTED served set under the CURRENT model — no phantom rows, no
    // lost current-model appends, every component consistent
    val rnd = new scala.util.Random(11L)
    def modelOf(centIds: Seq[Long]) = (
      sEmb(centIds).select(col("vec_id").as("centroid_id"),
        col("vec").as("cvec")),
      sEmb(centIds).select(col("vec_id").as("code_id"),
        col("vec").as("cvec")))
    def componentsUnder(emb: DataFrame, centIds: Seq[Long]) = {
      val (cents, cbDf) = modelOf(centIds)
      val cb = cbDf.orderBy("code_id").select("cvec")
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      AnnIndexStore.Components(
        cents,
        Similarity.ivfAssign(emb, cents).select("vec_id", "centroid_id"),
        Similarity.ivfAssignMulti(emb, cents, nprobe = 2),
        Similarity.pqEncode(emb, cb, numSub = 2),
        Similarity.hyperplaneSignatures(emb, sHyperplanes))
    }
    (0 until 3).foreach { trial =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_annidx_fuzz$trial").toString
      val centChoices = Seq(Seq(0L, 1L), Seq(8L, 9L))
      var centIdx = 0
      var nextId = 200L
      def fresh(k: Int): Seq[Long] = {
        val ids = (nextId until nextId + k); nextId += k; ids
      }
      var served = (0L until 10L).toSet
      AnnIndexStore.write(root,
        componentsUnder(sEmb(served.toSeq), centChoices(centIdx)))
      val (_, cb0) = modelOf(centChoices(centIdx))
      AnnIndexStore.writeModel(root, AnnIndexStore.Model(
        cb0, sHyperplanes, nprobe = 2, numSub = 2))
      var staleModel: Option[AnnIndexStore.Model] = None
      (0 until 8).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => // legit ingest wave
            val ids = fresh(1 + rnd.nextInt(4))
            AnnIndexStore.appendVectors(root, sEmb(ids))
            served ++= ids
          case 1 => // model refresh over the currently served corpus
            staleModel = Some(AnnIndexStore.loadModel(spark, root))
            centIdx = 1 - centIdx
            val (_, cbDf) = modelOf(centChoices(centIdx))
            AnnIndexStore.refreshIndex(root,
              componentsUnder(sEmb(served.toSeq), centChoices(centIdx)),
              AnnIndexStore.Model(cbDf, sHyperplanes, nprobe = 2, numSub = 2))
          case 2 => // straggler: commits against a model a refresh replaced
            staleModel.foreach { m =>
              AnnIndexStore.appendEncoded(root, sEmb(fresh(2)), m,
                compactAboveDirs = 0) // fenced: not served
            }
          case 3 => // maintenance (fold + purge)
            AnnIndexStore.compact(spark, root, graceMs = 0L)
        }
      }
      val loaded = AnnIndexStore.load(spark, root)
      val rebuilt = componentsUnder(sEmb(served.toSeq), centChoices(centIdx))
      assert(setOf(loaded.assigned) ===
        setOf(rebuilt.assigned.select("vec_id", "centroid_id")), s"trial $trial")
      assert(setOf(loaded.assignedMulti) ===
        setOf(rebuilt.assignedMulti.select("vec_id", "centroid_id")),
        s"trial $trial")
      assert(setOf(loaded.codes) === setOf(rebuilt.codes), s"trial $trial")
      assert(setOf(loaded.sigs) === setOf(rebuilt.sigs), s"trial $trial")
    }
  }

  test("the model-version fence keeps bucket pruning pushed to the scan") {
    // the fence is a load-side filter on every per-row component read;
    // at 100 TB the serve path's bucket restriction must STILL reach the
    // parquet scan as a pushed filter next to it, or every probe reads
    // the whole assignment table
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_push")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)
    AnnIndexStore.appendVectors(root, sEmb(Seq(2L, 3L))) // stamped batch
    val probe = AnnIndexStore.load(spark, root).assigned
      .filter(col("centroid_id") === 0L)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(centroid_id,0)"), p)
    // and the fence itself pushes (single-column null-or-current OR)
    assert(p.contains("IsNull(model_version)"), p)
    // fence bookkeeping never leaks into the served schema
    assert(!probe.columns.contains("model_version"))
  }

  test("purge drops only STRICTLY-OLDER stamps and skips under a held refresh lease") {
    // the maintenance-deletes-current-rows race: purgeFenced resolves the
    // model version ONCE; a refresh bumping to v+1 plus a current-model
    // append stamped v+1 can land before the per-table CAS resolves its
    // base. An equality purge (!= v) would then delete legitimately
    // served rows with a CAS that succeeds. Pin the fixed semantics on
    // exactly that store state: stamps {1 (fenced straggler), 3 (ahead
    // of the resolved version)} against params = 2.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_purge")
      .toString
    val all = (0L until 12L).toSeq
    AnnIndexStore.write(root, sComponents(sEmb(all)))
    AnnIndexStore.writeModel(root, sModel)                 // generation 1
    val mOld = AnnIndexStore.loadModel(spark, root)
    AnnIndexStore.refreshIndex(root, sComponents(sEmb(all)), sModel) // → 2
    // straggler: old-model batch lands after the refresh (stamp 1)
    AnnIndexStore.appendEncoded(root, sEmb(Seq(100L)), mOld,
      compactAboveDirs = 0)
    // ahead-of-resolve batch: stamped 3, as if a concurrent refresh had
    // bumped params to 3 and an append read it while THIS maintenance
    // pass still resolves 2
    AnnIndexStore.appendEncoded(root, sEmb(Seq(101L)),
      mOld.copy(version = 3L), compactAboveDirs = 0)
    def stamps(p: String): Set[Long] =
      graft.sources.AtomicStore.read(spark, s"$root/$p")
        .filter(col("model_version").isNotNull)
        .select("model_version").collect().map(_.getLong(0)).toSet
    assert(stamps("assigned") === Set(1L, 3L))
    AnnIndexStore.compact(spark, root, graceMs = 0L)
    Seq("assigned", "assigned_multi", "codes", "sigs").foreach { p =>
      assert(stamps(p) === Set(3L),
        s"$p: purge must drop stamp 1 (strictly older) and KEEP stamp 3 " +
          "(a current-model append racing ahead of the resolved version)")
    }
    // once generation 3's cut publishes (the refresh that minted 3 —
    // params commit + cut advance), the kept rows are served — deleting
    // them would have been silent data loss
    val vParams3 = graft.sources.AtomicStore.commitSnapshot(
      { import spark.implicits._
        Seq((2, 2, 3L)).toDF("nprobe", "num_sub", "model_version") },
      s"$root/params")
    graft.sources.StoreCut.advance(spark, root,
      Map("params" -> vParams3, "model_generation" -> 3L))
    val servedIds = AnnIndexStore.load(spark, root).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(servedIds.contains(101L), "the ahead-stamped vector must serve")
    assert(!servedIds.contains(100L), "the fenced straggler must not")

    // and the purge SKIPS entirely while a refresh holds the lease:
    // "current model" is about to change under it
    AnnIndexStore.appendEncoded(root, sEmb(Seq(102L)), mOld,
      compactAboveDirs = 0) // stamp 1 garbage again
    val lease = graft.sources.AtomicStore.claimLease(spark,
      s"$root/.refresh_lease", 60000L, "test refresh")
    try {
      AnnIndexStore.compact(spark, root, graceMs = 0L)
      assert(stamps("assigned").contains(1L),
        "purge must not run while the refresh lease is held")
    } finally graft.sources.AtomicStore.releaseLease(spark, lease)
    AnnIndexStore.compact(spark, root, graceMs = 0L)
    assert(stamps("assigned") === Set(3L))
  }

  test("a first writeModel crashing before its cut publish stays invisible: appends refuse, generation 0, load serves the written vectors") {
    // write publishes a model-less cut; the first writeModel then
    // commits codebook/hyperplanes/params (generation 1 in the params
    // TABLE) and dies before its cut publish. No cut pins the model, so
    // nothing may encode against it or serve under its generation.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_wm0")
      .toString
    val written = (0L until 6L).toSeq
    AnnIndexStore.write(root, sComponents(sEmb(written)))
    val (_, orphanGen) = AnnIndexStore.writeModelVersions(root, sModel)
    assert(orphanGen === 1L)
    val e = intercept[IllegalStateException] {
      AnnIndexStore.appendVectors(root, sEmb(Seq(100L)))
    }
    assert(e.getMessage.contains("no published cut pins 'params'"),
      e.getMessage)
    assert(AnnIndexStore.currentModelVersion(spark, root) === 0L)
    val loaded = AnnIndexStore.load(spark, root)
    assert(loaded.assigned.columns.toSeq === Seq("vec_id", "centroid_id"))
    assert(setOf(loaded.assigned) ===
      setOf(sComponents(sEmb(written)).assigned))
    assert(setOf(loaded.sigs) === setOf(sComponents(sEmb(written)).sigs))
    // a stamped batch under the orphan's generation, landed below the
    // cut, is fenced out as well: the served generation is the cut's (0)
    graft.sources.AtomicStore.commitAppend(
      Similarity.ivfAssign(sEmb(Seq(101L)), sCents)
        .select("vec_id", "centroid_id")
        .withColumn("model_version", lit(orphanGen)), s"$root/assigned")
    val pins = graft.sources.StoreCut.cut(spark, root).get
    graft.sources.StoreCut.advance(spark, root,
      Map("assigned" -> (pins("assigned") + 1)))
    assert(AnnIndexStore.load(spark, root).assigned.select("vec_id")
      .collect().map(_.getLong(0)).toSet === written.toSet)
    // re-running the model write to completion repairs: appends flow
    AnnIndexStore.writeModel(root, sModel)
    assert(AnnIndexStore.currentModelVersion(spark, root) === 2L)
    AnnIndexStore.appendVectors(root, sEmb(Seq(7L)))
    assert(AnnIndexStore.load(spark, root).assigned.select("vec_id")
      .collect().map(_.getLong(0)).toSet === written.toSet + 7L)
  }

  test("a store with no cut fails loudly on load and loadModel instead of reading tables at current") {
    import spark.implicits._
    val store = graft.sources.AtomicStore
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_nocut")
      .toString
    val base = sComponents(sEmb((0L until 6L).toSeq))
    // every table committed, no cut ever published
    store.commitSnapshot(base.centroids, s"$root/centroids")
    store.commitSnapshot(base.assigned, s"$root/assigned")
    store.commitSnapshot(base.assignedMulti, s"$root/assigned_multi")
    store.commitSnapshot(base.codes, s"$root/codes")
    store.commitSnapshot(base.sigs, s"$root/sigs")
    store.commitSnapshot(sCodebookDf, s"$root/codebook")
    store.commitSnapshot(sHyperplanes, s"$root/hyperplanes")
    store.commitSnapshot(Seq((2, 2, 1L)).toDF("nprobe", "num_sub",
      "model_version"), s"$root/params")
    assert(graft.sources.StoreCut.cut(spark, root).isEmpty)
    val e = intercept[IllegalStateException](AnnIndexStore.load(spark, root))
    assert(e.getMessage.contains(s"$root: no published cut pins"),
      e.getMessage)
    intercept[IllegalStateException](AnnIndexStore.loadModel(spark, root))
    assert(AnnIndexStore.currentModelVersion(spark, root) === 0L)
  }

  test("a bare write() on a model-ful store is refused — refreshIndex is the swap") {
    // rewriting centroids without bumping the generation leaves
    // previously appended rows stamped with the STILL-CURRENT generation
    // but assigned under the replaced centroids — mixing the fence
    // cannot catch because the stamps look current. write() must refuse
    // once a model is persisted; refreshIndex (which holds the refresh
    // lease through its internal write) remains the swap path.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_barew")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    // model-less rebuild-only stores keep the original contract
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L, 2L))))
    AnnIndexStore.writeModel(root, sModel)
    AnnIndexStore.appendVectors(root, sEmb(Seq(5L)))
    val e = intercept[IllegalStateException] {
      AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L, 2L, 5L))))
    }
    assert(e.getMessage.contains("refreshIndex"), e.getMessage)
    // the refusal is UNCONDITIONAL — someone else's in-flight refresh
    // (lease held by a different process) must not open the door for a
    // bystander's bare rewrite to land between that refresh's write and
    // its writeModel
    val lease = graft.sources.AtomicStore.claimLease(spark,
      s"$root/.refresh_lease", 60000L, "someone else's refresh")
    try intercept[IllegalStateException] {
      AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L, 2L, 5L))))
    } finally graft.sources.AtomicStore.releaseLease(spark, lease)
    // the refused rewrite left the store intact and serving
    val before = AnnIndexStore.load(spark, root)
    assert(setOf(before.assigned) === setOf(
      sComponents(sEmb(Seq(0L, 1L, 2L, 5L))).assigned
        .select("vec_id", "centroid_id")))
    // refreshIndex still swaps, and the store equals the clean rebuild
    AnnIndexStore.refreshIndex(root,
      sComponents(sEmb(Seq(0L, 1L, 2L, 5L))), sModel)
    assert(setOf(AnnIndexStore.load(spark, root).assigned) === setOf(
      sComponents(sEmb(Seq(0L, 1L, 2L, 5L))).assigned
        .select("vec_id", "centroid_id")))
  }

  test("concurrent writeModel calls never mint the same generation — and the loser's retry republishes its OWN pieces") {
    // a duplicate generation is fence poison: old-model batches stamped
    // with the reused number pass the load fence and serve silently
    // corrupt assignments. The bump is CAS'd against the params version
    // it was read from; force the race with the pre-publish hook — a
    // competing writeModel (with a DIFFERENT model) lands between the
    // outer call's version read and its params publish. The outer call
    // must (a) re-read and mint the NEXT number, never the same one,
    // and (b) re-commit its codebook/hyperplanes too — a params-only
    // retry would publish the re-minted generation over the COMPETING
    // writer's pieces, a generation describing a model that isn't its.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_wmrace")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel) // generation 1
    val competing = AnnIndexStore.Model(
      sEmb(Seq(8L, 9L)).select(col("vec_id").as("code_id"),
        col("vec").as("cvec")),
      sHyperplanes, nprobe = 3, numSub = 2)
    val store = graft.sources.AtomicStore
    @volatile var raced = false
    store.testPrePublishHook = () => {
      if (!raced) {
        raced = true
        store.testPrePublishHook = () => () // disarm before re-entering
        AnnIndexStore.writeModel(root, competing) // competing mint
      }
    }
    try AnnIndexStore.writeModel(root, sModel)
    finally store.testPrePublishHook = () => ()
    assert(raced, "the competing writeModel must have fired mid-publish")
    // 1 (seed) + 2 (competitor) + 3 (outer, re-minted after its lost CAS)
    assert(AnnIndexStore.currentModelVersion(spark, root) === 3L,
      "three writeModels must yield three DISTINCT generations")
    // final state COHERENT: generation 3 describes the OUTER writer's
    // model, not the competitor's pieces under the outer's params
    val m = AnnIndexStore.loadModel(spark, root)
    assert(m.version === 3L)
    assert(m.nprobe === 2, "params must be the outer writer's")
    assert(setOf(m.codebook) === setOf(sCodebookDf),
      "generation 3 must sit over the OUTER writer's codebook — a " +
        "params-only retry would have left the competitor's")
  }

  // ---- store-level manifest (round 17): atomic multi-table swaps,
  // crash states that serve the previous cut, time travel

  private def staleModelFixture = {
    val cents = sEmb(Seq(8L, 9L))
      .select(col("vec_id").as("centroid_id"), col("vec").as("cvec"))
    val cb = sEmb(Seq(8L, 9L))
      .select(col("vec_id").as("code_id"), col("vec").as("cvec"))
    val cbArr = cb.orderBy("code_id").select("cvec")
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    (cents, cb, cbArr)
  }
  private def componentsUnderStale(emb: DataFrame): AnnIndexStore.Components = {
    val (cents, _, cbArr) = staleModelFixture
    AnnIndexStore.Components(
      cents,
      Similarity.ivfAssign(emb, cents).select("vec_id", "centroid_id"),
      Similarity.ivfAssignMulti(emb, cents, nprobe = 2),
      Similarity.pqEncode(emb, cbArr, numSub = 2),
      Similarity.hyperplaneSignatures(emb, sHyperplanes))
  }
  private def staleModel: AnnIndexStore.Model = {
    val (_, cb, _) = staleModelFixture
    AnnIndexStore.Model(cb, sHyperplanes, nprobe = 2, numSub = 2)
  }

  test("a refresh crashing before its single cut publish leaves the OLD cut serving, readers and appenders included (crash injection)") {
    // the pre-manifest KNOWN RESIDUAL: the swap spans eight table
    // commits, and a crash partway stranded tables across two
    // generations — worst-case new components behind the old generation,
    // serving appended rows against replaced centroids with no fence to
    // object. With the store-level manifest the swap is one cut publish:
    // kill the refresh after ANY prefix of its commits and the previous
    // cut must serve bit-identically.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_crash")
      .toString
    val all = (0L until 16L).toSeq
    AnnIndexStore.write(root, sComponents(sEmb(all)))
    AnnIndexStore.writeModel(root, sModel)                // generation 1
    AnnIndexStore.appendVectors(root, sEmb(Seq(50L)))     // stamped 1, serves
    val grownCorpus = all :+ 50L
    val servedBefore = setOf(AnnIndexStore.load(spark, root).assigned)
    assert(servedBefore ===
      setOf(sComponents(sEmb(grownCorpus)).assigned
        .select("vec_id", "centroid_id")))

    Seq("components", "model").foreach { crashAt =>
      AnnIndexStore.testMidSwapHook = stage =>
        if (stage == crashAt)
          throw new RuntimeException(s"injected crash at $crashAt")
      try intercept[RuntimeException] {
        AnnIndexStore.refreshIndex(root,
          componentsUnderStale(sEmb(grownCorpus)), staleModel)
      } finally AnnIndexStore.testMidSwapHook = _ => ()
      // the previous cut stands whole: same served rows, same
      // generation, same model pieces — none of the crashed swap's
      // table commits are visible through the cut
      assert(setOf(AnnIndexStore.load(spark, root).assigned) === servedBefore,
        s"crash at $crashAt must not change the served assignment")
      assert(AnnIndexStore.currentModelVersion(spark, root) === 1L,
        s"crash at $crashAt must not advance the served generation")
      assert(setOf(AnnIndexStore.loadModel(spark, root).codebook) ===
        setOf(sCodebookDf),
        s"crash at $crashAt must not swap the served codebook")
    }

    // appends onto the crashed state refuse loudly (no lease is held —
    // the crash released it — so the orphan snapshots read as a crashed
    // swap, with the re-run remedy in the message), instead of silently
    // adopting the orphans into the served cut
    graft.sources.StoreCut.chainRetryBudget = 2
    val e =
      try intercept[IllegalStateException] {
        AnnIndexStore.appendVectors(root, sEmb(Seq(60L)))
      } finally graft.sources.StoreCut.chainRetryBudget = 12
    assert(e.getMessage.contains("Re-run"), e.getMessage)

    // the remedy: re-run the refresh to completion — its cut adopts its
    // own commits and the store serves the refreshed state exactly
    AnnIndexStore.refreshIndex(root,
      componentsUnderStale(sEmb(grownCorpus)), staleModel)
    assert(setOf(AnnIndexStore.load(spark, root).assigned) ===
      setOf(componentsUnderStale(sEmb(grownCorpus)).assigned
        .select("vec_id", "centroid_id")))
    // and appends flow again, encoded under the refreshed cut
    AnnIndexStore.appendVectors(root, sEmb(Seq(60L)))
    assert(setOf(AnnIndexStore.load(spark, root).assigned) ===
      setOf(componentsUnderStale(sEmb(grownCorpus :+ 60L)).assigned
        .select("vec_id", "centroid_id")))
  }

  test("a writeModel crashing before its cut publish leaves the old generation serving; the orphaned number is never re-minted") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_wmcrash")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)                // generation 1
    AnnIndexStore.appendVectors(root, sEmb(Seq(5L)))      // stamped 1
    // the exact crash state: model tables committed (generation 2 in the
    // params TABLE), cut never published
    val (_, orphanGen) = AnnIndexStore.writeModelVersions(root, staleModel)
    assert(orphanGen === 2L)
    // nothing of the orphan serves: generation, codebook, and the
    // gen-1-stamped append all resolve through the old cut
    assert(AnnIndexStore.currentModelVersion(spark, root) === 1L)
    val m = AnnIndexStore.loadModel(spark, root)
    assert(m.version === 1L)
    assert(setOf(m.codebook) === setOf(sCodebookDf))
    assert(AnnIndexStore.load(spark, root).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 5L))
    // a LATER writeModel mints PAST the orphan (the mint reads the
    // params table, not the cut) — generation 2 is never re-issued for
    // a different model, so no append stamp can ever alias two models
    AnnIndexStore.writeModel(root, sModel)
    assert(AnnIndexStore.currentModelVersion(spark, root) === 3L)
    assert(AnnIndexStore.loadModel(spark, root).version === 3L)
  }

  test("a fold that crashed before its cut advance does not brick the store (fold provenance mark)") {
    // a fold REPLACES a table's file set, so a fold that died between
    // its snapshot CAS and its cut advance looks exactly like an
    // orphaned writer snapshot to a naive chain check — refusing appends
    // forever. The FoldPrefix mark (committed only by chain-verified
    // maintenance) tells the two apart: appends proceed over a crashed
    // fold (row-preserving by construction) and still refuse over a
    // crashed rebuild.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_fcrash")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)
    (1 to 3).foreach(w =>
      AnnIndexStore.appendVectors(root, sEmb(Seq(2L * w, 2L * w + 1))))
    // simulate StoreCut.foldAndAdvance dying right after its fold commit:
    // the fold lands (fold-marked) but the cut still pins the pre-fold
    // chain. The chainCheck is the cut-governance authorization a bare
    // compact no longer has (round 18) — here it stands in for
    // foldAndAdvance's own check, with the advance step "crashed"
    assert(graft.sources.AtomicStore
      .compact(spark, s"$root/assigned",
        chainCheck = Some(_ => true)).isDefined, "fixture fold must fire")
    // appends proceed (no refusal) and the store serves every row
    AnnIndexStore.appendVectors(root, sEmb(Seq(20L, 21L)))
    assert(AnnIndexStore.load(spark, root).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
      === (0L until 8L).toSet ++ Set(20L, 21L))
  }

  test("loadAt pins a manifest cut: an eval re-reads an index cut bit-identically after later appends AND a model refresh") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_tt")
      .toString
    val base = (0L until 10L).toSeq
    AnnIndexStore.write(root, sComponents(sEmb(base)))
    AnnIndexStore.writeModel(root, sModel)                // generation 1
    AnnIndexStore.appendVectors(root, sEmb(Seq(10L, 11L)))
    val cut1 = AnnIndexStore.currentCutVersion(spark, root).get
    val snap1 = setOf(AnnIndexStore.load(spark, root).assigned)
    assert(snap1 === setOf(sComponents(sEmb(base ++ Seq(10L, 11L))).assigned
      .select("vec_id", "centroid_id")))

    // the store moves on: more appends, then a full refresh to a new
    // model generation over a grown corpus
    AnnIndexStore.appendVectors(root, sEmb(Seq(12L, 13L)))
    val grown = base ++ (10L until 14L)
    AnnIndexStore.refreshIndex(root,
      componentsUnderStale(sEmb(grown)), staleModel)      // generation 2
    assert(setOf(AnnIndexStore.load(spark, root).assigned) ===
      setOf(componentsUnderStale(sEmb(grown)).assigned
        .select("vec_id", "centroid_id")))

    // the pinned cut still serves EXACTLY its own state: old corpus, old
    // assignments, old model — the reproducible-eval story (pin a cut,
    // re-run a recall eval bit-identically) without a rebuild
    assert(setOf(AnnIndexStore.loadAt(spark, root, cut1).assigned) === snap1)
    val mOld = AnnIndexStore.loadModelAt(spark, root, cut1)
    assert(mOld.version === 1L)
    assert(setOf(mOld.codebook) === setOf(sCodebookDf))
    // and the current cut handle round-trips to the live load
    val cutNow = AnnIndexStore.currentCutVersion(spark, root).get
    assert(setOf(AnnIndexStore.loadAt(spark, root, cutNow).assigned) ===
      setOf(AnnIndexStore.load(spark, root).assigned))
  }

  test("a time-travel read past the retention window fails LOUDLY; the live load keeps serving") {
    // loadAt's contract: an aged-out cut must never silently serve the
    // table's current files under the pinned-cut label — a recall eval
    // would report current-index numbers as the pinned cut's with no
    // error. The pinned read names the failure; the live load, whose
    // cut pins the surviving versions, keeps serving.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_ttold")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)
    AnnIndexStore.appendVectors(root, sEmb(Seq(2L, 3L)))
    val cut1 = AnnIndexStore.currentCutVersion(spark, root).get
    AnnIndexStore.appendVectors(root, sEmb(Seq(4L, 5L)))
    // age cut1's pinned assigned version out of retention
    graft.sources.AtomicStore.vacuum(spark, s"$root/assigned",
      keepVersions = 1, graceMs = 0L)
    val e = intercept[IllegalStateException] {
      AnnIndexStore.loadAt(spark, root, cut1).assigned.collect()
    }
    assert(e.getMessage.contains("aged out"), e.getMessage)
    // the live cut still serves everything
    assert(AnnIndexStore.load(spark, root).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
      === (0L until 6L).toSet)
  }

  test("stacked crashed writeModels cannot get the SERVED model version vacuumed (pin-aware retention)") {
    // two writeModels crash before their cut publish: the model tables
    // sit two versions ahead of the cut. A keep-2 maintenance vacuum
    // would reclaim the PINNED (served!) codebook version, and the
    // model would stop loading. compact's retention reaches back to the
    // cut's pin.
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_stack")
      .toString
    AnnIndexStore.write(root, sComponents(sEmb(Seq(0L, 1L))))
    AnnIndexStore.writeModel(root, sModel)                 // generation 1
    val orphanModel = AnnIndexStore.Model(
      sEmb(Seq(8L, 9L)).select(col("vec_id").as("code_id"),
        col("vec").as("cvec")),
      sHyperplanes, nprobe = 3, numSub = 2)
    AnnIndexStore.writeModelVersions(root, orphanModel)    // crash #1
    AnnIndexStore.writeModelVersions(root, orphanModel)    // crash #2
    AnnIndexStore.compact(spark, root, graceMs = 0L)       // aggressive vacuum
    val m = AnnIndexStore.loadModel(spark, root)
    assert(m.version === 1L)
    assert(m.nprobe === 2, "served params must stay the published cut's")
    assert(setOf(m.codebook) === setOf(sCodebookDf),
      "the pinned codebook must survive maintenance under stacked " +
        "crashed writeModels — serving the orphan is silent corruption")
  }

  test("fence invariant holds under random interleavings INCLUDING crashed refreshes (property)") {
    // the round-17 generalization of the fuzz above: the op mix gains a
    // refresh that CRASHES at a random stage (before its cut publish).
    // Invariants after every crash: the served store is bit-identical to
    // the pre-crash expectation; appends REFUSE until the swap is
    // re-run; the re-run repairs; and the final store equals a clean
    // rebuild of the expected served set under the current model.
    val rnd = new scala.util.Random(23L)
    def modelOf(centIds: Seq[Long]) = (
      sEmb(centIds).select(col("vec_id").as("centroid_id"),
        col("vec").as("cvec")),
      sEmb(centIds).select(col("vec_id").as("code_id"),
        col("vec").as("cvec")))
    def componentsUnder(emb: DataFrame, centIds: Seq[Long]) = {
      val (cents, cbDf) = modelOf(centIds)
      val cb = cbDf.orderBy("code_id").select("cvec")
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      AnnIndexStore.Components(
        cents,
        Similarity.ivfAssign(emb, cents).select("vec_id", "centroid_id"),
        Similarity.ivfAssignMulti(emb, cents, nprobe = 2),
        Similarity.pqEncode(emb, cb, numSub = 2),
        Similarity.hyperplaneSignatures(emb, sHyperplanes))
    }
    (0 until 2).foreach { trial =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_annidx_crashfuzz$trial").toString
      val centChoices = Seq(Seq(0L, 1L), Seq(8L, 9L))
      var centIdx = 0
      var nextId = 500L
      def fresh(k: Int): Seq[Long] = {
        val ids = (nextId until nextId + k); nextId += k; ids
      }
      var served = (0L until 8L).toSet
      AnnIndexStore.write(root,
        componentsUnder(sEmb(served.toSeq), centChoices(centIdx)))
      val (_, cb0) = modelOf(centChoices(centIdx))
      AnnIndexStore.writeModel(root, AnnIndexStore.Model(
        cb0, sHyperplanes, nprobe = 2, numSub = 2))
      var crashPending = false
      def repair(): Unit = {
        val (_, cbDf) = modelOf(centChoices(centIdx))
        AnnIndexStore.refreshIndex(root,
          componentsUnder(sEmb(served.toSeq), centChoices(centIdx)),
          AnnIndexStore.Model(cbDf, sHyperplanes, nprobe = 2, numSub = 2))
        crashPending = false
      }
      (0 until 7).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => // ingest wave — refused while a crashed swap stands
            val ids = fresh(1 + rnd.nextInt(3))
            if (crashPending) {
              graft.sources.StoreCut.chainRetryBudget = 1
              try intercept[IllegalStateException] {
                AnnIndexStore.appendVectors(root, sEmb(ids))
              } finally graft.sources.StoreCut.chainRetryBudget = 12
              repair()
            }
            AnnIndexStore.appendVectors(root, sEmb(ids))
            served ++= ids
          case 1 => // completed refresh (repairs a crashed one by design)
            centIdx = 1 - centIdx
            repair()
          case 2 => // CRASHED refresh at a random stage
            val stage =
              if (rnd.nextBoolean()) "components" else "model"
            val before = setOf(AnnIndexStore.load(spark, root).assigned)
            val genBefore = AnnIndexStore.currentModelVersion(spark, root)
            AnnIndexStore.testMidSwapHook = s =>
              if (s == stage) throw new RuntimeException("fuzz crash")
            try {
              val got = intercept[RuntimeException] {
                AnnIndexStore.refreshIndex(root,
                  componentsUnder(sEmb(served.toSeq),
                    centChoices(1 - centIdx)),
                  { val (_, cbDf) = modelOf(centChoices(1 - centIdx))
                    AnnIndexStore.Model(cbDf, sHyperplanes,
                      nprobe = 2, numSub = 2) })
              }
              assert(got.getMessage == "fuzz crash", got)
            } finally AnnIndexStore.testMidSwapHook = _ => ()
            crashPending = true
            // the served cut is bit-identical to pre-crash
            assert(setOf(AnnIndexStore.load(spark, root).assigned)
              === before, s"crash at $stage changed the served store")
            assert(AnnIndexStore.currentModelVersion(spark, root)
              === genBefore, s"crash at $stage moved the generation")
          case 3 => // maintenance: must not adopt a crashed swap
            val before = setOf(AnnIndexStore.load(spark, root).assigned)
            AnnIndexStore.compact(spark, root, graceMs = 0L)
            assert(setOf(AnnIndexStore.load(spark, root).assigned)
              === before, "compact changed the served store")
        }
      }
      if (crashPending) repair()
      val loaded = AnnIndexStore.load(spark, root)
      val rebuilt = componentsUnder(sEmb(served.toSeq), centChoices(centIdx))
      assert(setOf(loaded.assigned) ===
        setOf(rebuilt.assigned.select("vec_id", "centroid_id")),
        s"trial $trial")
      assert(setOf(loaded.codes) === setOf(rebuilt.codes), s"trial $trial")
      assert(setOf(loaded.sigs) === setOf(rebuilt.sigs), s"trial $trial")
    }
  }
}
