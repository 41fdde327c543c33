package graft

import org.apache.spark.sql.DataFrame
import graft.obs.Signals
import graft.sources.{AtomicStore, StoreCut}

/** Round-18 hardening of the store-cut layer: the two round-17
  * documented ε-windows closed structurally (fold-of-orphan TOCTOU;
  * bare compact on cut-governed tables), bounded best-effort
  * publication with an ops signal, and the retention floor that makes
  * the "last 8 cuts readable" time-travel claim actually true.
  */
class StoreCutHardeningSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"d$i")).toDF("id", "v")

  test("fold-of-orphan TOCTOU is closed: an orphan snapshot landing mid-fold makes foldAndAdvance refuse") {
    val root = freshRoot("cut_toctou")
    val table = s"$root/t"
    // a cut-governed table with a 3-dir append chain (worth folding)
    AtomicStore.commitSnapshot(rows(0, 10), table)
    AtomicStore.commitAppend(rows(10, 20), table)
    val v2 = AtomicStore.commitAppend(rows(20, 30), table)
    StoreCut.advance(spark, root, Map("t" -> v2))
    val servedBefore = StoreCut.readPinned(spark, root, "t",
      StoreCut.cut(spark, root).get).collect().map(_.mkString("|")).toSet

    // the round-17 window: the fold has resolved its base and
    // materialized, and a crashed swap's ORPHAN snapshot (full rewrite,
    // writer-marked, never cut-published) lands before the fold's
    // publish. Pre-hardening, a caller-side pre-check had already
    // passed and compact's blind CAS retry could fold the orphan chain
    // in; now the chain check runs per-attempt against the exact base
    // the fold CASes at, so the lost CAS re-checks and refuses.
    var fired = false
    AtomicStore.testPrePublishHook = () => if (!fired) {
      fired = true
      try {
        val rel = AtomicStore.writeData(rows(900, 905), table)
        assert(AtomicStore.publish(spark, table, Seq(rel), v2 + 1))
      } finally AtomicStore.testPrePublishHook = () => ()
    }
    val folded =
      try StoreCut.foldAndAdvance(spark, root, "t", graceMs = 0L)
      finally AtomicStore.testPrePublishHook = () => ()

    assert(folded.isEmpty, "the fold must refuse the orphaned chain")
    assert(fired, "the injection must actually have raced the fold")
    // the cut still pins the pre-orphan version and serves it untouched
    val pins = StoreCut.cut(spark, root).get
    assert(pins("t") === v2)
    val servedAfter = StoreCut.readPinned(spark, root, "t", pins)
      .collect().map(_.mkString("|")).toSet
    assert(servedAfter === servedBefore)
    // the orphan is left exactly as found for its swap's re-run (no
    // fold-marked manifest stacked above it)
    assert(AtomicStore.currentVersion(spark, table).contains(v2 + 1))
  }

  test("atCut: no manifest reads Map.empty; a vacuum race re-runs once at a fresh cut; a second race or any other failure propagates") {
    val root = freshRoot("cut_atcut")
    assert(StoreCut.atCut(spark, root)(identity) === Map.empty)
    val v0 = AtomicStore.commitSnapshot(rows(0, 3), s"$root/t")
    StoreCut.advance(spark, root, Map("t" -> v0))

    // the first read races a vacuum while the store moves on: exactly
    // one re-run, against the freshly resolved cut
    var seen = Vector.empty[Map[String, Long]]
    var v1 = -1L
    val got = StoreCut.atCut(spark, root) { pins =>
      seen :+= pins
      if (seen.size == 1) {
        v1 = AtomicStore.commitSnapshot(rows(3, 6), s"$root/t")
        StoreCut.advance(spark, root, Map("t" -> v1))
        throw new java.io.FileNotFoundException("vacuumed mid-read")
      }
      pins("t")
    }
    assert(got === v1)
    assert(seen === Vector(Map("t" -> v0), Map("t" -> v1)))

    // a second race propagates
    var calls = 0
    intercept[java.io.FileNotFoundException] {
      StoreCut.atCut(spark, root) { _ =>
        calls += 1
        throw new java.io.FileNotFoundException("vacuumed again")
      }
    }
    assert(calls === 2)

    // a non-race failure propagates without a re-run
    calls = 0
    intercept[IllegalArgumentException] {
      StoreCut.atCut(spark, root) { _ =>
        calls += 1
        throw new IllegalArgumentException("not a vacuum race")
      }
    }
    assert(calls === 1)
  }

  test("readPinned on a part the cut does not pin throws, naming the root and the part") {
    val root = freshRoot("cut_unpinned")
    // a committed table the cut never published: crash residue
    AtomicStore.commitSnapshot(rows(0, 3), s"$root/t")
    val e = intercept[IllegalStateException](
      StoreCut.readPinned(spark, root, "t", Map("other" -> 0L)))
    assert(e.getMessage.contains(root) && e.getMessage.contains("'t'"),
      e.getMessage)
    // the same through atCut on a store with no cut at all
    val e2 = intercept[IllegalStateException](
      StoreCut.atCut(spark, root)(StoreCut.readPinned(spark, root, "t", _)))
    assert(e2.getMessage.contains(s"$root: no published cut pins 't'"),
      e2.getMessage)
  }

  test("atCut: a current-cut read whose pin was vacuumed while the cut did not move fails loudly") {
    val root = freshRoot("cut_stale_pin")
    val table = s"$root/t"
    val v0 = AtomicStore.commitSnapshot(rows(0, 3), table)
    StoreCut.advance(spark, root, Map("t" -> v0))
    // the table moves on below an unchanged cut (commits nobody
    // published), and an aggressive vacuum reclaims the pinned version
    AtomicStore.commitSnapshot(rows(3, 6), table)
    AtomicStore.commitSnapshot(rows(6, 9), table)
    AtomicStore.vacuum(spark, table, keepVersions = 1, graceMs = 0L)
    var calls = 0
    val e = intercept[IllegalStateException] {
      StoreCut.atCut(spark, root) { pins =>
        calls += 1
        StoreCut.readPinned(spark, root, "t", pins)
      }
    }
    assert(e.getMessage.contains("aged out"), e.getMessage)
    assert(calls === 2, "one re-resolve at the same cut, then the failure")
    assert(StoreCut.cut(spark, root).get === Map("t" -> v0))
  }

  test("bare AtomicStore.compact on a cut-governed table refuses with the foldAndAdvance remedy") {
    val root = freshRoot("cut_governed")
    val table = s"$root/t"
    AtomicStore.commitSnapshot(rows(0, 5), table)
    AtomicStore.commitAppend(rows(5, 10), table)
    StoreCut.advance(spark, root, Map("t" -> 1L))
    val e = intercept[IllegalStateException](AtomicStore.compact(spark, table))
    assert(e.getMessage.contains("foldAndAdvance"))
    // the governed path still folds (authorization = the chain check)
    assert(StoreCut.foldAndAdvance(spark, root, "t", graceMs = 0L).isDefined)
    // an UN-governed table (no manifest sibling) keeps plain compact
    val lone = s"${freshRoot("cut_lone")}/t"
    AtomicStore.commitSnapshot(rows(0, 5), lone)
    AtomicStore.commitAppend(rows(5, 10), lone)
    assert(AtomicStore.compact(spark, lone, graceMs = 0L).isDefined)
  }

  test("advanceBestEffort swallows a persistently failing advance but counts and records it") {
    val root = freshRoot("cut_swallow")
    def swallowed = Signals.counts(Signals.SwallowedAdvances).values.sum
    val before = swallowed
    AtomicStore.testPreKvPublishHook =
      () => throw new RuntimeException("injected IAM break")
    try StoreCut.advanceBestEffort(spark, root, Map("t" -> 0L)) // must not throw
    finally AtomicStore.testPreKvPublishHook = () => ()
    assert(swallowed === before + 1)
    assert(Signals.notes(Signals.SwallowedAdvances).get(root)
      .exists(_.contains("injected IAM break")))
    // and the store self-heals: the next (working) advance publishes
    assert(StoreCut.advance(spark, root, Map("t" -> 0L)) === 0L)
    assert(StoreCut.cut(spark, root).get === Map("t" -> 0L))
  }

  test("advanceKv with maxAttempts gives up loudly instead of spinning forever") {
    val root = freshRoot("cut_bounded")
    val man = StoreCut.manifestRoot(root)
    // every attempt loses its CAS to a competing publisher whose cut
    // never subsumes ours — the permanent-loss shape (out-of-band
    // interference) that an unbounded loop would spin on forever
    AtomicStore.testPreKvPublishHook = () => {
      val v = AtomicStore.currentVersion(spark, man).getOrElse(-1L) + 1
      AtomicStore.publish(spark, man, Seq(s"z=$v"), v)
      ()
    }
    val e =
      try intercept[IllegalStateException](
        AtomicStore.advanceKv(spark, man, Map("a" -> 1L), maxAttempts = 3))
      finally AtomicStore.testPreKvPublishHook = () => ()
    assert(e.getMessage.contains("gave up after 3"))
  }

  test("retentionFloor keeps every retained cut's pinned table version readable past a fold") {
    val root = freshRoot("cut_floor")
    val table = s"$root/t"
    // ten appends, each published as its own cut (ten time-travel points)
    (0 until 10).foreach { i =>
      val v = AtomicStore.commitAppend(rows(i * 10, i * 10 + 10), table)
      StoreCut.advance(spark, root, Map("t" -> v))
    }
    // the fold vacuums with graceMs=0 (immediate reclaim) — only the
    // retention floor protects older versions now
    val folded = StoreCut.foldAndAdvance(spark, root, "t", graceMs = 0L)
    assert(folded.isDefined)
    val latestCut = StoreCut.cutVersion(spark, root).get
    // every cut in the retained window (last 8) must still RESOLVE:
    // manifest readable AND the pinned table version readable
    ((latestCut - 7) to latestCut).foreach { cv =>
      val pin = StoreCut.cutAt(spark, root, cv)("t")
      val n = AtomicStore.readAt(spark, table, pin).count()
      // pre-fold pins serve their append chain (pin+1 batches of 10);
      // the fold pin serves the squashed full 100
      assert(n === math.min(pin + 1, 10) * 10,
        s"cut v$cv (pin t=$pin) must serve its full pinned chain")
    }
    // while versions BELOW the floor aged out (the vacuum did run)
    intercept[Exception](
      AtomicStore.readAt(spark, table, 0L).count())
  }

  // ---- round-19 hardening ------------------------------------------

  test("swallowed advances are attributed per root, not just globally") {
    val rootA = freshRoot("cut_swallow_a")
    val rootB = freshRoot("cut_swallow_b")
    def byRoot = Signals.counts(Signals.SwallowedAdvances)
    val beforeA = byRoot.getOrElse(rootA, 0L)
    val beforeB = byRoot.getOrElse(rootB, 0L)
    AtomicStore.testPreKvPublishHook =
      () => throw new RuntimeException("injected IAM break")
    try {
      StoreCut.advanceBestEffort(spark, rootA, Map("t" -> 0L))
      StoreCut.advanceBestEffort(spark, rootA, Map("t" -> 1L))
      StoreCut.advanceBestEffort(spark, rootB, Map("t" -> 0L))
    } finally AtomicStore.testPreKvPublishHook = () => ()
    // one flaky store no longer masks which root is lagging
    assert(byRoot(rootA) === beforeA + 2)
    assert(byRoot(rootB) === beforeB + 1)
  }

  test("advanceKvIfBase: None means the cut MOVED (a racing advance), never a transient publish hiccup") {
    val root = freshRoot("cut_cas_moved")
    val man = StoreCut.manifestRoot(root)
    AtomicStore.advanceKv(spark, man, Map("t" -> 3L))
    val base = AtomicStore.readKv(spark, man).map(_._1)
    // the race lands BETWEEN the CAS's base read and its publish: the
    // hook (fired pre-publish) advances the cut, so our publish loses
    // and the post-failure re-read sees a genuinely moved base → None
    var fired = false
    AtomicStore.testPreKvPublishHook = () => if (!fired) {
      fired = true
      AtomicStore.advanceKv(spark, man, Map("zz" -> 9L))
      ()
    }
    val r =
      try AtomicStore.advanceKvIfBase(spark, man, Map("t" -> 4L), base)
      finally AtomicStore.testPreKvPublishHook = () => ()
    assert(fired && r.isEmpty,
      "a lost CAS against a moved base must return None")
    // and the no-op form: pins already subsumed returns the current
    // version WITHOUT publishing (no new cut version minted)
    val cur = AtomicStore.readKv(spark, man).map(_._1)
    assert(AtomicStore.advanceKvIfBase(spark, man, Map("t" -> 3L), cur)
      === cur)
    assert(AtomicStore.readKv(spark, man).map(_._1) === cur)
  }

  test("advanceKvIfBase: a WEDGED claim (tmp swept, base unchanged) retries bounded then fails with the distinct diagnosis") {
    val root = freshRoot("cut_cas_wedged")
    val man = StoreCut.manifestRoot(root)
    AtomicStore.advanceKv(spark, man, Map("t" -> 3L))
    val base = AtomicStore.readKv(spark, man).map(_._1)
    // the wedge: an age-gated GC sweeps our tmp between its write and
    // its claim, EVERY attempt — the claim maps NoSuchFile → "lost"
    // while the base never moves, the one condition that must NOT be
    // diagnosed as a zombie/racing publisher (round-19 verdict #4:
    // previously only the real GC race could reach this branch)
    val swept = new java.util.concurrent.atomic.AtomicInteger(0)
    AtomicStore.testPostTmpWriteHook = tmp =>
      if (tmp.toString.contains("cut_cas_wedged")) {
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tmp.toUri.getPath))
        swept.incrementAndGet()
        ()
      }
    val e =
      try intercept[IllegalStateException] {
        AtomicStore.advanceKvIfBase(spark, man, Map("t" -> 4L), base)
      } finally AtomicStore.testPostTmpWriteHook = _ => ()
    assert(e.getMessage.contains("wedged claim"),
      s"the wedge must surface its own diagnosis, got: ${e.getMessage}")
    assert(!e.getMessage.toLowerCase.contains("zombie"))
    assert(swept.get === 3, "bounded retry: exactly 3 swept attempts")
    // the cut is intact and UNCHANGED (the caller's commits are
    // unpublished, as the message promises)
    assert(AtomicStore.readKv(spark, man) === Some((base.get, Map("t" -> 3L))))
    // once the wedge clears, the same CAS lands normally
    assert(AtomicStore.advanceKvIfBase(spark, man, Map("t" -> 4L), base)
      === Some(base.get + 1))
    assert(AtomicStore.readKv(spark, man).map(_._2) === Some(Map("t" -> 4L)))
  }

  test("cut-governance guard: one probe cold, zero probes warm, probe failures counted not swallowed silently") {
    val root = freshRoot("cut_guard_cache")
    val table = s"$root/t"
    AtomicStore.commitSnapshot(rows(0, 5), table)
    AtomicStore.commitAppend(rows(5, 10), table)
    StoreCut.advance(spark, root, Map("t" -> 1L))
    AtomicStore.clearCutGovernCache()
    def probes = Signals.counts(Signals.GovernProbes).values.sum
    val cold = probes
    intercept[IllegalStateException](AtomicStore.compact(spark, table))
    val afterCold = probes
    assert(afterCold === cold + 1, "a cold guard pays exactly one probe")
    // warm: the positive marker is cached — the refusal still fires but
    // the high-latency-store LIST is not paid again
    intercept[IllegalStateException](AtomicStore.compact(spark, table))
    assert(probes === afterCold,
      "a warm guard pays zero probes")

    // a CORRUPT manifest makes the probe throw: the guard degrades to
    // not-governed (fail-open — a table merely NAMED like a component
    // must not be bricked) but the failure is COUNTED, so a degraded
    // guard is distinguishable from one that never fires
    val root2 = freshRoot("cut_guard_fail")
    val table2 = s"$root2/t"
    AtomicStore.commitSnapshot(rows(0, 5), table2)
    AtomicStore.commitAppend(rows(5, 10), table2)
    val manCommits = java.nio.file.Paths.get(
      StoreCut.manifestRoot(root2), "_commits")
    java.nio.file.Files.createDirectories(manCommits)
    java.nio.file.Files.writeString(
      manCommits.resolve("v" + "0" * 20), "garbage-no-equals")
    def probeFailures = Signals.counts(Signals.GovernProbeFailures).values.sum
    val fails = probeFailures
    assert(AtomicStore.compact(spark, table2, graceMs = 0L).isDefined,
      "the degraded guard fails open (compact proceeds)")
    assert(probeFailures === fails + 1,
      "the degraded probe must be counted")
  }
}
