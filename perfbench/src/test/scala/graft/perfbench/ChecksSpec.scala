package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's checks have teeth: each workload's check fails on a
  * corrupted expected value and on a dropped history row, and an
  * operation that throws is reported as failed, never as a fast sample.
  */
class ChecksSpec extends AnyFunSuite {
  private def rows(m: Map[Checks.TagKey, String]): Seq[(Checks.TagKey, String)] = m.toSeq

  private def corrupt(m: Map[Checks.TagKey, String]): Map[Checks.TagKey, String] = {
    val (k, v) = m.head
    m.updated(k, v + "0")
  }

  private def dropOne(m: Map[String, Long]): Map[String, Long] = {
    val (k, v) = m.head
    m.updated(k, v - 1)
  }

  test("an operation that throws is one failure with its message and no sample") {
    val rec = new Recorder(warmKinds = Set("read_s"))
    assert(rec.op("write_s")(42).contains(42))
    assert(rec.op("write_s")(throw new IllegalStateException("boom")).isEmpty)
    assert(rec.attempted == 2 && rec.failed == 1)
    assert(rec.values("write_s").size == 1)
    assert(rec.failures.head.contains("boom"))
    val ctx = new Ctx(Args("auto_tick", 1, 1, false, "", "", 1, ""), rec, None)
    assert(ctx.op("read_s")(sys.error("lost cut")).isEmpty)
    assert(rec.failed == 2 && rec.values("read_s").isEmpty)
    // the first read was the cold one: the next is timed, a failure never is
    assert(ctx.op("read_s") { rec.add("tags_written", 1.0); 7 }.contains(7))
    assert(rec.values("read_s").size == 1 && rec.values("tags_written") == Seq(1.0))
    assert(ctx.op("read_s")(throw new RuntimeException("slow path")).isEmpty)
    assert(rec.values("read_s").size == 1 && rec.attempted == 5 && rec.failed == 3)
  }

  test("bulk_retag: tag values and history rows per job") {
    val expected = (0 until 5).flatMap { i =>
      BulkRetag.Fields.map(f => (Common.uri(BulkRetag.shard(i)), BulkRetag.Template, f.fieldId) -> s"${i * 7}")
    }.toMap
    val history = Map("job-a" -> 5L, "job-b" -> 5L)
    assert(Checks.tagState("bulk", expected, rows(expected)).isEmpty)
    assert(Checks.tagState("bulk", corrupt(expected), rows(expected)).nonEmpty)
    assert(Checks.tagState("bulk", expected, rows(expected).tail).nonEmpty)
    assert(Checks.tagState("bulk", expected, rows(expected) :+ rows(expected).head).nonEmpty)
    assert(Checks.counts("bulk", history, history).isEmpty)
    assert(Checks.counts("bulk", history, dropOne(history)).nonEmpty)
  }

  test("auto_tick: the schedule model, count values and history per (job, asset)") {
    val configs = AutoTick.Slots.zipWithIndex.map { case ((period, start), i) =>
      Common.SchedRow(f"cfg$i%02d", "gov", Seq("region", "orders").map(Common.uri).mkString(","),
        period, Common.at(start), 1L, export = true)
    }
    val plan = AutoTick.model(configs, AutoTick.Ticks)
    assert(plan.map(_.due) == Seq(Seq("cfg00", "cfg01", "cfg04"), Seq("cfg02", "cfg03", "cfg05"),
      Seq("cfg00", "cfg01", "cfg06"), Seq("cfg02", "cfg03", "cfg07"), Seq("cfg00", "cfg01", "cfg04")))
    assert(plan(2).launchedVersion == Map("cfg00" -> 2L, "cfg01" -> 2L, "cfg06" -> 1L))
    val counts = Map("region" -> 5L, "orders" -> 1500L)
    val tags = AutoTick.expectedTags(plan, configs, counts)
    assert(tags(("bigquery/project/p/dataset/lake/orders", "gov", "n_capped")) == "1000")
    assert(Checks.tagState("tick", corrupt(tags), rows(tags)).nonEmpty)
    val hist = AutoTick.expectedHistory(plan, configs).map { case ((j, a), n) => s"$j|$a" -> n }
    assert(hist.size == 15 * 2 && hist.values.forall(_ == 1L))
    assert(Checks.counts("tick", hist, dropOne(hist)).nonEmpty)
    assert(Checks.same("due", plan.map(_.due), plan.map(_.due).reverse).nonEmpty)
  }

  test("tag_reads: latest-wins model and history per commit") {
    val c0 = TagReads.Commit(0, "gov", 3, "risk")
    val c1 = TagReads.Commit(1, "gov", 3, "search")
    val state = TagReads.model(Seq(c0, c1))
    assert(state(("bigquery/project/p/dataset/lake/t_035", "gov", "owner")) == "search")
    assert(state.size == TagReads.AssetsPerCommit * TagReads.FieldIds.size)
    assert(Checks.tagState("reads", TagReads.model(Seq(c0)), rows(state)).nonEmpty)
    assert(Checks.tagState("reads", corrupt(state), rows(state)).nonEmpty)
    val hist = TagReads.expectedHistory(Seq(c0, c1))
    assert(Checks.counts("reads", hist, dropOne(hist)).nonEmpty)
  }
}
