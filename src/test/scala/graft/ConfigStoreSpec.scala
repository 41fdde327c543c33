package graft

import org.apache.spark.sql.functions._
import graft.sched.ConfigStore
import graft.sources.AtomicStore

/** A14 store CRUD: md5 identity, supersede, delete/purge, persistence. */
class ConfigStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mk(rows: Seq[(String, String, String, String, String, Long)]) =
    rows.toDF("config_uuid", "config_type", "template_id", "included_uris",
        "config_status", "version")
      .withColumn("refresh_mode", lit("AUTO"))
      .withColumn("scheduling_status", lit("READY"))
      .withColumn("refresh_frequency_minutes", lit(60L))
      .withColumn("next_run", to_timestamp(lit("2024-03-01 10:00:00")))

  private val store = mk(Seq(
    ("c1", "DYNAMIC_TAG_TABLE", "gov", "u1", "ACTIVE", 1L),
    ("c2", "STATIC_TAG_ASSET", "ops", "u2", "ACTIVE", 1L)))

  test("create supersedes same-content configs; re-create restarts at v1") {
    val next = ConfigStore.create(store,
      mk(Seq(("c3", "DYNAMIC_TAG_TABLE", "gov", "u1", "ACTIVE", 0L))))
    val byUuid = next.select("config_uuid", "config_status", "version")
      .as[(String, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byUuid("c1") === ("INACTIVE", 1L))
    // reference re-creates at 'version': 1 (TagEngineStoreHandler.py:420)
    // — version counts RUNS of one document, not re-creations
    assert(byUuid("c3") === ("ACTIVE", 1L))
    assert(byUuid("c2") === ("ACTIVE", 1L))
  }

  test("a many-run old config still loses to its version-1 re-create") {
    // c1 has launched 40 times (version 41 via increment_version_next_run);
    // the reference's supersede is an EXPLICIT flip of the old doc
    // (:382-391), not a version comparison — a version-ordered window
    // would keep the stale v41 config ACTIVE and discard the re-create
    val veteran = mk(Seq(("c1", "DYNAMIC_TAG_TABLE", "gov", "u1", "ACTIVE", 41L)))
    val next = ConfigStore.create(veteran,
      mk(Seq(("c9", "DYNAMIC_TAG_TABLE", "gov", "u1", "ACTIVE", 0L))))
    val byUuid = next.select("config_uuid", "config_status", "version")
      .as[(String, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byUuid("c1") === ("INACTIVE", 41L))
    assert(byUuid("c9") === ("ACTIVE", 1L))
  }

  test("delete removes one doc; purge removes only INACTIVE of a type") {
    assert(ConfigStore.deleteConfig(store, "c1")
      .select("config_uuid").as[String].collect().toSeq === Seq("c2"))
    // reference purge (TagEngineStoreHandler.py:1330) filters
    // config_status == INACTIVE: an ACTIVE config of the type survives
    val mixed = store.unionByName(mk(Seq(
      ("c4", "STATIC_TAG_ASSET", "ops", "u4", "INACTIVE", 1L),
      ("c5", "DYNAMIC_TAG_TABLE", "gov", "u5", "INACTIVE", 2L))))
    assert(ConfigStore.purge(mixed, "STATIC_TAG_ASSET")
      .select("config_uuid").as[String].collect().sorted
      === Seq("c1", "c2", "c5"))
    // config_type ALL purges INACTIVE across every collection
    assert(ConfigStore.purge(mixed, "ALL")
      .select("config_uuid").as[String].collect().sorted === Seq("c1", "c2"))
  }

  test("append-log: deltas append (existing files untouched), latest wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_log").toString
    // every batch's parquet files, under the log's data/<batch dir>/
    def files: Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(dir, "data/*/*.parquet"))
        .map(s => s"${s.getPath.getParent.getName}/${s.getPath.getName}" ->
          ((s.getLen, s.getModificationTime)))
        .toMap
    }
    ConfigStore.appendDelta(store, dir, batchId = 0L)
    val batch0Files = files
    assert(batch0Files.nonEmpty)
    // batch 1: update c1, create c3, tombstone c2 — ONLY the delta rows
    val delta = mk(Seq(("c1", "DYNAMIC_TAG_TABLE", "gov", "u1b", "ACTIVE", 2L)))
      .unionByName(mk(Seq(("c3", "DYNAMIC_TAG_COLUMN", "prof", "u3", "ACTIVE", 1L))))
      .unionByName(ConfigStore.tombstone(store, "c2"))
    ConfigStore.appendDelta(delta, dir, batchId = 1L)
    // append-only contract: every batch-0 file is byte-identical in place
    val after = files
    batch0Files.foreach { case (name, sig) => assert(after(name) === sig) }
    assert(after.size > batch0Files.size)
    // latest-wins view: c1 at version 2 with the new uris, c3 present,
    // c2 tombstoned away
    val latest = ConfigStore.readLatest(spark, dir)
      .select("config_uuid", "included_uris", "version")
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(latest === Map("c1" -> (("u1b", 2L)), "c3" -> (("u3", 1L))))
    // compact folds the log into one latest-wins snapshot, same view
    ConfigStore.compact(spark, dir)
    val compacted = ConfigStore.readLatest(spark, dir)
      .select("config_uuid", "included_uris", "version")
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(compacted === latest)
    // the fold kept only the latest-wins rows
    assert(AtomicStore.read(spark, dir).count() === latest.size)
  }

  test("readLatest: a NULL config_status row is not a tombstone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_null").toString
    ConfigStore.appendDelta(
      mk(Seq(("c1", "DYNAMIC_TAG_TABLE", "gov", "u1", "ACTIVE", 1L)))
        .withColumn("config_status", lit(null).cast("string")),
      dir, batchId = 0L)
    // same NULL rule as purge(): only an explicit DELETED row hides a
    // config — a status-less log row must still surface
    assert(ConfigStore.readLatest(spark, dir)
      .select("config_uuid").as[String].collect().toSeq === Seq("c1"))
  }

  private def view(dir: String): Map[String, (String, Long)] =
    ConfigStore.readLatest(spark, dir)
      .select("config_uuid", "included_uris", "version")
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap

  // the number of data dirs the log's current manifest lists
  private def batchDirs(dir: String): Int =
    AtomicStore.filesAt(spark, dir,
      AtomicStore.currentVersion(spark, dir).get).size

  test("an append racing a compact is never lost") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_rac").toString
    ConfigStore.appendDelta(store, dir, batchId = 0L)
    ConfigStore.appendDelta(
      mk(Seq(("c1", "DYNAMIC_TAG_TABLE", "gov", "u1b", "ACTIVE", 2L))),
      dir, batchId = 1L)
    val before = view(dir)
    assert(before === Map("c1" -> (("u1b", 2L)), "c2" -> (("u2", 1L))))
    val c4 = mk(Seq(("c4", "STATIC_TAG_ASSET", "ops", "u4", "ACTIVE", 1L)))
    // the append lands after the fold read the log and before it
    // publishes: the fold's CAS must lose, re-read and re-fold
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    AtomicStore.testPrePublishHook = () =>
      if (fired.compareAndSet(false, true))
        ConfigStore.appendDelta(c4, dir, batchId = 2L)
    try ConfigStore.compact(spark, dir)
    finally AtomicStore.testPrePublishHook = () => ()
    assert(fired.get)
    assert(view(dir) === before + ("c4" -> (("u4", 1L))))
    // the re-fold took the racing batch in: one snapshot dir
    assert(batchDirs(dir) === 1)
    // folded rows keep their batch stamp: a later append still wins
    ConfigStore.appendDelta(
      mk(Seq(("c4", "STATIC_TAG_ASSET", "ops", "u4b", "ACTIVE", 1L))),
      dir, batchId = 3L)
    assert(view(dir)("c4") === (("u4b", 1L)))
  }

  test("a crashed append is invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_crash").toString
    ConfigStore.appendDelta(store, dir, batchId = 0L)
    ConfigStore.appendDelta(
      mk(Seq(("c3", "DYNAMIC_TAG_COLUMN", "prof", "u3", "ACTIVE", 1L))),
      dir, batchId = 1L)
    val before = view(dir)
    // a writer that died after writing its batch and before publishing it
    AtomicStore.writeData(
      mk(Seq(("c9", "STATIC_TAG_ASSET", "ops", "u9", "ACTIVE", 1L)))
        .withColumn("__batch", lit(2L)), dir)
    assert(view(dir) === before)
    // and the fold reads the published log only
    ConfigStore.compact(spark, dir)
    assert(batchDirs(dir) === 1)
    assert(view(dir) === before)
  }

  test("racing compactors: any overlap loses loudly, store intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_race").toString
    ConfigStore.appendDelta(store, dir, batchId = 0L)
    ConfigStore.appendDelta(
      mk(Seq(("c3", "DYNAMIC_TAG_COLUMN", "prof", "u3", "ACTIVE", 1L))),
      dir, batchId = 1L)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val threads = Seq.fill(2) {
      new Thread(() => {
        barrier.await()
        try { ConfigStore.compact(spark, dir); outcomes.add(Right(())) }
        catch { case t: Throwable => outcomes.add(Left(t)) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000))
    val results = scala.jdk.CollectionConverters
      .CollectionHasAsScala(outcomes).asScala.toSeq
    assert(results.size === 2)
    // the fold's CAS serializes the compactors: neither throws
    results.collect { case Left(t) => t }.foreach(t =>
      fail(s"a racing compactor threw: $t"))
    assert(ConfigStore.readLatest(spark, dir).count() === 3)
    // no side paths next to the log
    val parent = new java.io.File(dir).getParentFile
    val name = new java.io.File(dir).getName
    assert(parent.list().filter(_.startsWith(name + ".__compact_")).isEmpty)
    // a maintenance tick on a never-appended log is a quiet no-op
    val empty = java.nio.file.Files.createTempDirectory("graft_cfg_none").toString
    ConfigStore.compact(spark, empty)
    assert(AtomicStore.currentVersion(spark, empty).isEmpty)
  }

  test("appendDelta/readLatest round-trips the store with a deterministic content_md5") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg").toString
    ConfigStore.appendDelta(ConfigStore.withIdentity(store), dir, batchId = 1L)
    val back = ConfigStore.readLatest(spark, dir)
    assert(back.count() === 2)
    assert(back.columns.contains("content_md5"))
    // identity is deterministic across persist/read
    val md5s = ConfigStore.withIdentity(store)
      .select("config_uuid", "content_md5").as[(String, String)].collect().toMap
    val backM = back.select("config_uuid", "content_md5")
      .as[(String, String)].collect().toMap
    assert(md5s === backM)
  }
}
