package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Sinks
import graft.sources.AtomicStore

/** A12: the report sink — append vs truncate commits. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("report truncate replaces, append accumulates") {
    val dir = Files.createTempDirectory("rep").toString
    def rows(v: String) = Seq(("p", "d", "t", "tpl", "f", v))
      .toDF("project", "dataset", "table", "tag_template", "tag_field", "tag_value")
    def rep(v: String) = Sinks.reportRows(rows(v),
      to_timestamp(lit("2024-02-01 00:00:00")))
    Sinks.writeReport(rep("v1"), dir, truncate = false)
    Sinks.writeReport(rep("v2"), dir, truncate = false)
    assert(AtomicStore.read(spark, dir).count() === 2)
    Sinks.writeReport(rep("v3"), dir, truncate = true)
    assert(AtomicStore.read(spark, dir).select("tag_value").as[String].collect()
      .toSeq === Seq("v3"))
  }
}
