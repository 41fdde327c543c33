package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DocIndexStore}
import graft.queries.DocIndex

/** The persisted document-signature index round-trip (the d-side sibling
  * of AnnIndexStoreSpec): signatures written as atomic lake tables, an
  * incremental batch appended, and the banded pair join served from the
  * LOADED table must equal the session-memo form — persistence and
  * incremental maintenance are result-invisible.
  */
class DocIndexStoreSpec extends SparkSpec {

  test("write → append → load round-trips both signature tables and serves the same pairs") {
    val ix = DocIndex.index(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_docidx").toString
    val split = col("doc_id") % 5 < 4
    val versions = DocIndexStore.write(root, DocIndexStore.Components(
      ix.simhash.filter(split), ix.minhashSigs.filter(split)))
    assert(versions.values.forall(_ == 0L)) // first commit of each table

    // incremental ingest: the remaining docs land as appended batches
    DocIndexStore.appendSimhash(root, ix.simhash.filter(!split))
    DocIndexStore.appendMinhash(root, ix.minhashSigs.filter(!split))

    val loaded = DocIndexStore.load(spark, root)
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    // component-level identity: initial write + append == full table
    assert(setOf(loaded.simhash) === setOf(ix.simhash))
    assert(setOf(loaded.minhashSigs) === setOf(ix.minhashSigs))

    // consumer parity: banded hamming pairs off the LOADED table equal
    // the session-memo form, and the minhash band candidates do too
    val fromLake = Dedup.simhashPairs(loaded.simhash, "doc_id", maxHamming = 8)
      .collect().map(_.mkString("|")).toSet
    val fromMemo = Dedup.simhashPairs(ix.simhash, "doc_id", maxHamming = 8)
      .collect().map(_.mkString("|")).toSet
    assert(fromLake === fromMemo)
    val candLake = Dedup.lshCandidates(loaded.minhashSigs, "doc_id")
      .collect().map(_.mkString("|")).toSet
    val candMemo = Dedup.lshCandidates(ix.minhashSigs, "doc_id")
      .collect().map(_.mkString("|")).toSet
    assert(candLake === candMemo)

    // a re-write lands as the next version of each table, atomically
    // (append burned one version per table, so snapshot v is 2), and
    // publishes a fresh manifest cut
    val v2 = DocIndexStore.write(root, DocIndexStore.Components(
      ix.simhash, ix.minhashSigs))
    assert((v2 - "manifest").values.forall(_ == 2L))
    assert(v2.contains("manifest"))
  }

  test("compact folds wave appends result-invisibly and collapses the store") {
    // the 100 TB steady-state gap: each ingest wave lands one manifest +
    // one small batch dir, so an uncompacted store's probe cost grows
    // linearly in WAVE COUNT; the fold re-lands the same rows as one
    // snapshot. Result-invisibility is the whole contract — loaded
    // components and the banded joins off them must be byte-identical.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_cpt")
      .toString
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    def mh(ids: Seq[Long]) =
      ids.map(id => (id, id, id + 1, id % 3, id % 5)).toDF(
        "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(0L to 9L), mh(0L to 9L)))
    (1 to 6).foreach { w =>
      val ids = (10L * w) until (10L * w + 10L)
      DocIndexStore.appendSimhash(root, sim(ids))
      DocIndexStore.appendMinhash(root, mh(ids))
    }
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataDirs(part: String): Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/$part", "data")).length
    assert(dataDirs("simhash") === 7 && dataDirs("minhash") === 7)
    val before = DocIndexStore.load(spark, root)
    val simBefore = before.simhash.as[(Long, Long)].collect().toSet
    val pairsBefore = Dedup.simhashPairs(before.simhash, "doc_id",
      maxHamming = 8).collect().map(_.mkString("|")).toSet
    val candBefore = Dedup.lshCandidates(before.minhashSigs, "doc_id")
      .collect().map(_.mkString("|")).toSet

    val folded = DocIndexStore.compact(spark, root, graceMs = 0L)
    assert(folded("simhash").isDefined && folded("minhash").isDefined)
    // keepVersions=2 retains the pre-fold manifest's dirs for pinned
    // readers; the next vacuum (here: explicit, production: any later
    // compact) reclaims them
    Seq("simhash", "minhash").foreach(p => graft.sources.AtomicStore
      .vacuum(spark, s"$root/$p", keepVersions = 1, graceMs = 0L))
    assert(dataDirs("simhash") === 1 && dataDirs("minhash") === 1)

    val after = DocIndexStore.load(spark, root)
    assert(after.simhash.as[(Long, Long)].collect().toSet === simBefore)
    assert(Dedup.simhashPairs(after.simhash, "doc_id", maxHamming = 8)
      .collect().map(_.mkString("|")).toSet === pairsBefore)
    assert(Dedup.lshCandidates(after.minhashSigs, "doc_id")
      .collect().map(_.mkString("|")).toSet === candBefore)
    // and the compacted store keeps ingesting
    DocIndexStore.appendSimhash(root, sim(Seq(999L)))
    assert(DocIndexStore.load(spark, root).simhash.count()
      === simBefore.size + 1)
  }

  test("append auto-compacts past the dir threshold, row-preserving") {
    // the wired-in form of the fold (same policy as ingestBatchCommit):
    // a long-lived ingest store must not depend on an operator
    // remembering to schedule compact — append itself folds once the
    // manifest grows past compactAboveDirs
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_auto")
      .toString
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    def mh(ids: Seq[Long]) =
      ids.map(id => (id, id, id + 1, id % 3, id % 5)).toDF(
        "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(Seq(0L)), mh(Seq(0L))))
    (1 to 8).foreach { w =>
      DocIndexStore.appendSimhash(root, sim(Seq(w.toLong)),
        compactAboveDirs = 2)
      DocIndexStore.appendMinhash(root, mh(Seq(w.toLong)),
        compactAboveDirs = 2)
    }
    // without the wiring each table would list 9 dirs; with the
    // threshold at 2 no append can leave more than 3 behind
    Seq("simhash", "minhash").foreach { p =>
      val v = graft.sources.AtomicStore.currentVersion(spark, s"$root/$p").get
      val n = graft.sources.AtomicStore.filesAt(spark, s"$root/$p", v).size
      assert(n <= 3, s"$p manifest lists $n dirs — auto-compact not firing")
    }
    val loaded = DocIndexStore.load(spark, root)
    assert(loaded.simhash.as[(Long, Long)].collect().toSet
      === (0L to 8L).map(id => (id, id * 7L)).toSet)
    assert(loaded.minhashSigs.select("doc_id").as[Long].collect().toSet
      === (0L to 8L).toSet)
  }

  test("racing appenders + periodic compactor: no signature row lost, final fold collapses") {
    // the soak the compaction fold has to survive: live ingest writers
    // appending while maintenance folds the store under them. Appends
    // re-resolve on lost races AND on vacuumed manifests; the compactor
    // CAS-refuses folds computed against superseded bases. Version
    // density is NOT asserted here — folds legitimately consume versions
    // between appends; the invariant is zero row loss + row integrity.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_cc")
      .toString
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    def mh(ids: Seq[Long]) =
      ids.map(id => (id, id, id + 1, id % 3, id % 5)).toDF(
        "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(Seq(0L)), mh(Seq(0L))))
    val rounds = 8
    def ids(w: Int, i: Int): Seq[Long] =
      Seq(1000L * (w + 1) + 2 * i, 1000L * (w + 1) + 2 * i + 1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var writersDone = false
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until rounds).foreach { i =>
          DocIndexStore.appendSimhash(root, sim(ids(w, i)))
          DocIndexStore.appendMinhash(root, mh(ids(w, i)))
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    val compactor = new Thread(() => {
      // default grace: superseded dirs linger through the race (pinned
      // readers / in-flight publishes stay safe); reclamation is
      // asserted on the quiesced final fold below
      try while (!writersDone) {
        DocIndexStore.compact(spark, root)
        Thread.sleep(25)
      } catch { case t: Throwable => failures.add(t) }
    })
    writers.foreach(_.start())
    compactor.start()
    writers.foreach(_.join(600000))
    writersDone = true
    compactor.join(600000)
    assert(failures.isEmpty, s"thread failed: ${Option(failures.peek())}")
    val wantIds = (0L +: (for (w <- 0 until 2; i <- 0 until rounds)
      yield ids(w, i)).flatten).toSet
    // quiesced: fold whatever the race left, then reclaim fully
    DocIndexStore.compact(spark, root, graceMs = 0L)
    Seq("simhash", "minhash").foreach(p => graft.sources.AtomicStore
      .vacuum(spark, s"$root/$p", keepVersions = 1, graceMs = 0L))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq("simhash", "minhash").foreach { p =>
      assert(fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/$p", "data")).length === 1,
        s"$p not collapsed to one data dir")
    }
    val loaded = DocIndexStore.load(spark, root)
    assert(loaded.simhash.as[(Long, Long)].collect().toSet
      === wantIds.map(id => (id, id * 7L)))
    assert(loaded.minhashSigs.select("doc_id").as[Long].collect().toSet
      === wantIds)
  }

  test("concurrent-append soak: racing ingest batches lose no signature row") {
    // the AtomicStoreSpec append soak, run against the index-store entry
    // points: d28/s16 made the persisted signature tables load-bearing
    // artifacts, and a lost append here is SILENT recall loss (a doc with
    // no signature row is simply never a dedup candidate). Two ingest
    // writers race appendSimhash AND appendMinhash on one root; every
    // batch carries writer-unique doc_ids, so any dropped commit is a
    // missing row in the final state. Versions must come out dense per
    // table (seed 0, appends exactly 1..2*rounds — CAS burned none).
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_soak")
      .toString
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    def mh(ids: Seq[Long]) =
      ids.map(id => (id, id, id + 1, id % 3, id % 5)).toDF(
        "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(Seq(0L)), mh(Seq(0L))))
    val rounds = 10
    def ids(w: Int, i: Int): Seq[Long] =
      Seq(1000L * (w + 1) + 2 * i, 1000L * (w + 1) + 2 * i + 1)
    val simVs = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val mhVs = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until rounds).foreach { i =>
          simVs.add(DocIndexStore.appendSimhash(root, sim(ids(w, i))))
          mhVs.add(DocIndexStore.appendMinhash(root, mh(ids(w, i))))
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(600000))
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
    import scala.jdk.CollectionConverters._
    assert(simVs.asScala.toSet === (1L to 2L * rounds).toSet,
      s"simhash versions not dense: ${simVs.asScala.toSeq.sorted}")
    assert(mhVs.asScala.toSet === (1L to 2L * rounds).toSet,
      s"minhash versions not dense: ${mhVs.asScala.toSeq.sorted}")
    val wantIds = (0L +: (for (w <- 0 until 2; i <- 0 until rounds)
      yield ids(w, i)).flatten).toSet
    val loaded = DocIndexStore.load(spark, root)
    assert(loaded.simhash.select("doc_id").as[Long].collect().toSet
      === wantIds)
    assert(loaded.minhashSigs.select("doc_id").as[Long].collect().toSet
      === wantIds)
    // row-level integrity, not just presence: each surviving row is the
    // exact batch row its writer appended
    assert(loaded.simhash.as[(Long, Long)].collect().toSet
      === wantIds.map(id => (id, id * 7L)))
  }

  test("appends reject a mismatched signature definition or schema") {
    // the seam AnnIndexStore guards on its params table, d-side:
    // signatures are caller-computed, so a producer with different knobs
    // (shingle k, band count, simhash width) would otherwise mix rows
    // that silently under-detect duplicates in every banded join
    val ix = DocIndex.index(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_spec")
      .toString
    val split = col("doc_id") % 5 < 4
    DocIndexStore.write(root, DocIndexStore.Components(
      ix.simhash.filter(split), ix.minhashSigs.filter(split)),
      sigSpec = DocIndex.SigSpec)
    assert(DocIndexStore.loadSpec(spark, root) === Some(DocIndex.SigSpec))

    // a DECLARED mismatch rejects loudly, store untouched
    val e = intercept[IllegalArgumentException] {
      DocIndexStore.appendSimhash(root, ix.simhash.filter(!split),
        sigSpec = "simhash60(words);minhash(numHashes=16,numBands=4,shingle_k=9)")
    }
    assert(e.getMessage.contains("signature spec"), e.getMessage)
    // a SCHEMA mismatch (band-count drift shows up as extra columns)
    // rejects even without a declaration
    val e2 = intercept[IllegalArgumentException] {
      DocIndexStore.appendMinhash(root,
        ix.minhashSigs.filter(!split).withColumn("band_2", lit(0L)))
    }
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    val before = DocIndexStore.load(spark, root)
    assert(before.simhash.count() === ix.simhash.filter(split).count(),
      "rejected appends must leave the store untouched")

    // an UNDECLARED append into a spec-declared store rejects too: the
    // producer that never heard of SigSpec is the one the guard exists
    // for — its rows may come from any definition
    val e3 = intercept[IllegalArgumentException] {
      DocIndexStore.appendMinhash(root, ix.minhashSigs.filter(!split))
    }
    assert(e3.getMessage.contains("declares none"), e3.getMessage)

    // the matching declaration appends normally
    DocIndexStore.appendSimhash(root, ix.simhash.filter(!split),
      sigSpec = DocIndex.SigSpec)
    DocIndexStore.appendMinhash(root, ix.minhashSigs.filter(!split),
      sigSpec = DocIndex.SigSpec)
    val loaded = DocIndexStore.load(spark, root)
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    assert(setOf(loaded.simhash) === setOf(ix.simhash))
    assert(setOf(loaded.minhashSigs) === setOf(ix.minhashSigs))
  }

  test("pre-spec stores accept undeclared appends; an undeclared rebuild clears a stale spec") {
    val ix = DocIndex.index(spark, sf)
    val split = col("doc_id") % 5 < 4
    def comps(f: org.apache.spark.sql.Column) =
      DocIndexStore.Components(ix.simhash.filter(f), ix.minhashSigs.filter(f))

    // a store that never declared a spec keeps the original contract:
    // undeclared appends land (the pre-spec caller population)
    val legacy = java.nio.file.Files
      .createTempDirectory("graft_docidx_legacy").toString
    DocIndexStore.write(legacy, comps(split))
    DocIndexStore.appendSimhash(legacy, ix.simhash.filter(!split))
    assert(DocIndexStore.loadSpec(spark, legacy).isEmpty)
    assert(DocIndexStore.load(spark, legacy).simhash.count() ===
      ix.simhash.count())

    // a spec-declared store REBUILT without a declaration must not keep
    // advertising the old spec: the rebuild replaced the rows the
    // declaration described, so a later append declaring the OLD spec
    // would pass a guard that no longer means anything
    val root = java.nio.file.Files
      .createTempDirectory("graft_docidx_respec").toString
    DocIndexStore.write(root, comps(split), sigSpec = DocIndex.SigSpec)
    assert(DocIndexStore.loadSpec(spark, root) === Some(DocIndex.SigSpec))
    DocIndexStore.write(root, comps(split)) // undeclared rebuild
    assert(DocIndexStore.loadSpec(spark, root).isEmpty,
      "an undeclared rebuild must clear the stale declaration")
    // once cleared, later undeclared rebuilds skip the sentinel commit
    // (no spec-table version growth per rebuild forever)
    val specV = graft.sources.AtomicStore.currentVersion(spark, s"$root/spec")
    DocIndexStore.write(root, comps(split))
    assert(graft.sources.AtomicStore.currentVersion(spark, s"$root/spec")
      === specV, "a second undeclared rebuild must not re-land the sentinel")
    // …and the store behaves pre-spec again: undeclared appends land
    DocIndexStore.appendSimhash(root, ix.simhash.filter(!split))
    assert(DocIndexStore.load(spark, root).simhash.count() ===
      ix.simhash.count())
  }

  test("an append mid-commit when a rebuild lands re-guards and rejects — never mixes") {
    // the d-side straggler: an append's guard passes against the OLD
    // store, a write() rebuilds under a NEW signature definition, and a
    // blind commit retry would land the old-definition batch on the
    // rebuilt store — no model stamp exists to fence it at load. The
    // pre-publish hook forces exactly that interleaving; the CAS'd
    // append must lose, re-run its guard against the rebuild's
    // declaration (committed FIRST by write), and reject loudly.
    val ix = DocIndex.index(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("graft_docidx_rebuildrace").toString
    val split = col("doc_id") % 5 < 4
    def comps(f: org.apache.spark.sql.Column) =
      DocIndexStore.Components(ix.simhash.filter(f), ix.minhashSigs.filter(f))
    DocIndexStore.write(root, comps(split), sigSpec = DocIndex.SigSpec)
    val store = graft.sources.AtomicStore
    val newSpec = "simhash64(words);minhash(numHashes=8,numBands=2,shingle_k=13)"
    @volatile var raced = false
    store.testPrePublishHook = () => {
      if (!raced) {
        raced = true
        store.testPrePublishHook = () => ()
        DocIndexStore.write(root, comps(split), sigSpec = newSpec) // rebuild
      }
    }
    val e = intercept[IllegalArgumentException] {
      try DocIndexStore.appendSimhash(root, ix.simhash.filter(!split),
        sigSpec = DocIndex.SigSpec)
      finally store.testPrePublishHook = () => ()
    }
    assert(raced, "the rebuild must have landed mid-commit")
    assert(e.getMessage.contains("signature spec"), e.getMessage)
    // the rebuilt store carries the rebuild's rows and declaration only
    assert(DocIndexStore.loadSpec(spark, root) === Some(newSpec))
    assert(DocIndexStore.load(spark, root).simhash.count() ===
      ix.simhash.filter(split).count(),
      "no old-definition batch row may survive the lost race")

    // a SIBLING append landing mid-commit is the benign half: the lost
    // CAS re-guards (spec unchanged — passes) and the retry lands both
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_docidx_siblingrace").toString
    DocIndexStore.write(root2, comps(split), sigSpec = DocIndex.SigSpec)
    val half = col("doc_id") % 10 < 5
    @volatile var raced2 = false
    store.testPrePublishHook = () => {
      if (!raced2) {
        raced2 = true
        store.testPrePublishHook = () => ()
        DocIndexStore.appendSimhash(root2,
          ix.simhash.filter(!split && half), sigSpec = DocIndex.SigSpec)
      }
    }
    try DocIndexStore.appendSimhash(root2,
      ix.simhash.filter(!split && !half), sigSpec = DocIndex.SigSpec)
    finally store.testPrePublishHook = () => ()
    assert(raced2)
    assert(DocIndexStore.load(spark, root2).simhash.count() ===
      ix.simhash.count(), "both racing sibling appends must land")
  }

  // ---- store-level manifest (round 17): crash states serve the old
  // cut, time travel over signature cuts

  test("a rebuild crashing before its cut publish leaves the old cut (rows AND declaration) serving; re-run repairs") {
    // the pre-manifest residue: write() committed spec-first, so a crash
    // between the spec commit and the component snapshots left a
    // declaration describing rows that never landed (and the reverse
    // order would have exposed half a rebuild). With the cut, any prefix
    // of the rebuild's table commits is invisible until its single
    // publish.
    import spark.implicits._
    val store = graft.sources.AtomicStore
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    def mh(ids: Seq[Long]) =
      ids.map(id => (id, id, id + 1, id % 3, id % 5)).toDF(
        "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_crash")
      .toString
    val oldIds = (0L until 6L).toSeq
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(oldIds), mh(oldIds)), sigSpec = "specA")
    DocIndexStore.appendSimhash(root, sim(Seq(10L)), sigSpec = "specA")

    // the crashed rebuild under a NEW definition: all three table
    // commits land (exactly write()'s sequence), the cut never publishes
    val newIds = (100L until 104L).toSeq
    store.commitSnapshot(Seq("specB").toDF("sig_spec"), s"$root/spec")
    store.commitSnapshot(sim(newIds), s"$root/simhash")
    store.commitSnapshot(mh(newIds), s"$root/minhash")

    // the served cut is fully the OLD store — declaration included (the
    // guard reads it through the cut, so no old-spec append can be
    // rejected by, or validated against, the unpublished rebuild)
    assert(DocIndexStore.loadSpec(spark, root) === Some("specA"))
    assert(DocIndexStore.load(spark, root).simhash
      .select("doc_id").as[Long].collect().toSet
      === (oldIds :+ 10L).toSet)

    // appends refuse loudly with the re-run remedy — building on the
    // orphan snapshots would adopt them into the served cut
    graft.sources.StoreCut.chainRetryBudget = 2
    val e =
      try intercept[IllegalStateException] {
        DocIndexStore.appendSimhash(root, sim(Seq(11L)), sigSpec = "specA")
      } finally graft.sources.StoreCut.chainRetryBudget = 12
    assert(e.getMessage.contains("re-run the interrupted operation"),
      e.getMessage)

    // remedy: re-run the rebuild to completion — its cut adopts its own
    // commits, and the store serves the NEW definition exclusively
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(newIds), mh(newIds)), sigSpec = "specB")
    assert(DocIndexStore.loadSpec(spark, root) === Some("specB"))
    assert(DocIndexStore.load(spark, root).simhash
      .select("doc_id").as[Long].collect().toSet === newIds.toSet)
    // old-definition producers are rejected; the rebuild's spec lands
    intercept[IllegalArgumentException] {
      DocIndexStore.appendSimhash(root, sim(Seq(12L)), sigSpec = "specA")
    }
    DocIndexStore.appendSimhash(root, sim(Seq(12L)), sigSpec = "specB")
    assert(DocIndexStore.load(spark, root).simhash
      .select("doc_id").as[Long].collect().toSet
      === (newIds :+ 12L).toSet)
  }

  test("a spec table no cut publishes leaves loadSpec at None") {
    // the declaration is read only through the cut's `spec` pin: a spec
    // commit that never reached a cut (a crashed declared rebuild of an
    // undeclared store, or a bare table with no manifest at all) must
    // neither describe the served rows nor gate appends
    import spark.implicits._
    val store = graft.sources.AtomicStore
    val bare = java.nio.file.Files.createTempDirectory("graft_docidx_nocut")
      .toString
    store.commitSnapshot(Seq("specX").toDF("sig_spec"), s"$bare/spec")
    assert(graft.sources.StoreCut.cut(spark, bare).isEmpty)
    assert(DocIndexStore.loadSpec(spark, bare) === None)

    val root = java.nio.file.Files.createTempDirectory("graft_docidx_spec0")
      .toString
    val sim = Seq((0L, 7L), (1L, 14L)).toDF("doc_id", "simhash")
    val mh = Seq((0L, 0L, 1L, 0L, 0L)).toDF(
      "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    DocIndexStore.write(root, DocIndexStore.Components(sim, mh))
    store.commitSnapshot(Seq("specX").toDF("sig_spec"), s"$root/spec")
    assert(DocIndexStore.loadSpec(spark, root) === None)
    // the undeclared store keeps accepting undeclared appends
    DocIndexStore.appendSimhash(root, Seq((2L, 21L)).toDF("doc_id", "simhash"))
    assert(DocIndexStore.load(spark, root).simhash.count() === 3L)
  }

  test("loadAt pins a signature cut bit-identically across later appends and rebuilds") {
    import spark.implicits._
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    def mh(ids: Seq[Long]) =
      ids.map(id => (id, id, id + 1, id % 3, id % 5)).toDF(
        "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_tt")
      .toString
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(Seq(0L, 1L)), mh(Seq(0L, 1L))))
    DocIndexStore.appendSimhash(root, sim(Seq(2L)))
    DocIndexStore.appendMinhash(root, mh(Seq(2L)))
    val cut1 = DocIndexStore.currentCutVersion(spark, root).get
    // the store moves on: another wave, then a full rebuild
    DocIndexStore.appendSimhash(root, sim(Seq(3L)))
    DocIndexStore.write(root,
      DocIndexStore.Components(sim(Seq(50L)), mh(Seq(50L))))
    assert(DocIndexStore.load(spark, root).simhash
      .select("doc_id").as[Long].collect().toSet === Set(50L))
    // the pinned cut still serves exactly its own rows
    val pinned = DocIndexStore.loadAt(spark, root, cut1)
    assert(pinned.simhash.select("doc_id").as[Long].collect().toSet
      === Set(0L, 1L, 2L))
    assert(pinned.minhashSigs.select("doc_id").as[Long].collect().toSet
      === Set(0L, 1L, 2L))

    // and past retention the pinned read fails LOUDLY (strict) while
    // the live load keeps serving — the ANN store's contract, d-side
    graft.sources.AtomicStore.vacuum(spark, s"$root/simhash",
      keepVersions = 1, graceMs = 0L)
    val e = intercept[IllegalStateException] {
      DocIndexStore.loadAt(spark, root, cut1).simhash.collect()
    }
    assert(e.getMessage.contains("aged out"), e.getMessage)
    assert(DocIndexStore.load(spark, root).simhash
      .select("doc_id").as[Long].collect().toSet === Set(50L))
  }

  test("an append tells a live rebuild (lease held: busy) from a crashed one (re-run)") {
    import spark.implicits._
    val store = graft.sources.AtomicStore
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_live")
      .toString
    def sim(ids: Seq[Long]) =
      ids.map(id => (id, id * 7L)).toDF("doc_id", "simhash")
    val mh = Seq((0L, 0L, 1L, 0L, 0L)).toDF(
      "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    DocIndexStore.write(root, DocIndexStore.Components(sim(Seq(0L, 1L)), mh))
    // a rebuild holding the write lease has committed its simhash
    // snapshot and not yet published its cut
    val lease = store.claimLease(spark, s"$root/_write_lease",
      store.DefaultLeaseTtlMs, "live rebuild")
    store.commitSnapshot(sim(Seq(100L)), s"$root/simhash")
    graft.sources.StoreCut.chainRetryBudget = 1
    try {
      try intercept[java.util.ConcurrentModificationException] {
        DocIndexStore.appendSimhash(root, sim(Seq(2L)))
      } finally store.releaseLease(spark, lease)
      // the holder is gone and the gap stays: a crashed rebuild
      val e = intercept[IllegalStateException] {
        DocIndexStore.appendSimhash(root, sim(Seq(2L)))
      }
      assert(e.getMessage.contains("re-run the interrupted operation"),
        e.getMessage)
    } finally graft.sources.StoreCut.chainRetryBudget = 12
    // neither refusal landed a row: the served cut is the original store
    assert(DocIndexStore.load(spark, root).simhash.select("doc_id")
      .as[Long].collect().toSet === Set(0L, 1L))
  }

  test("write is lease-serialized: concurrent rebuilds cannot interleave into a mixed cut") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_docidx_lease")
      .toString
    val sim = Seq((0L, 7L)).toDF("doc_id", "simhash")
    val mh = Seq((0L, 0L, 1L, 0L, 0L)).toDF(
      "doc_id", "mh_0", "mh_1", "band_0", "band_1")
    // a concurrent rebuild holds the write lease — ours must refuse
    // loudly instead of racing its table commits into the shared cut
    val lease = graft.sources.AtomicStore.claimLease(spark,
      s"$root/_write_lease", graft.sources.AtomicStore.DefaultLeaseTtlMs,
      "spec holder")
    try intercept[java.util.ConcurrentModificationException](
      DocIndexStore.write(root, DocIndexStore.Components(sim, mh)))
    finally graft.sources.AtomicStore.releaseLease(spark, lease)
    // released → the rebuild proceeds and publishes its cut
    val v = DocIndexStore.write(root, DocIndexStore.Components(sim, mh))
    assert(v.contains("manifest"))
    assert(DocIndexStore.load(spark, root).simhash.count() === 1L)
  }
}
