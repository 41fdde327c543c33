package graft

import graft.operators.TagStore

/** MERGE-shaped tag lifecycle semantics (DataCatalogController.py:1468–1652). */
class TagStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tags(rows: (String, String)*) =
    rows.toDF("asset_uri", "field_value")
      .select($"asset_uri", org.apache.spark.sql.functions.lit("").as("column"),
        org.apache.spark.sql.functions.lit("t").as("template_id"),
        org.apache.spark.sql.functions.lit("f").as("field_id"), $"field_value")

  test("upsert: incoming wins, unmatched existing survives") {
    val out = TagStore.upsert(tags("a" -> "old", "b" -> "keep"), tags("a" -> "new"))
      .select("asset_uri", "field_value").as[(String, String)].collect().toMap
    assert(out === Map("a" -> "new", "b" -> "keep"))
  }

  test("upsert: a matched incoming row wins by PRESENCE — NULL value included") {
    // a value-level coalesce would keep "old" here, silently surviving
    // stale data on a legitimate NULL update and diverging from the
    // append-log path's latest-wins replay
    val out = TagStore.upsert(
        tags("a" -> "old", "b" -> "keep"), tags("a" -> null))
      .select("asset_uri", "field_value").as[(String, String)].collect().toMap
    assert(out === Map("a" -> null, "b" -> "keep"))
  }

  test("applyWithDeletes: all-empty incoming deletes the existing tag") {
    val out = TagStore.applyWithDeletes(
        tags("a" -> "old", "b" -> "keep"), tags("a" -> "", "c" -> "new"))
      .select("asset_uri", "field_value").as[(String, String)].collect().toMap
    assert(out === Map("b" -> "keep", "c" -> "new"))
  }

  test("reconcile: replaces tag set only for touched assets") {
    val out = TagStore.reconcile(tags("a" -> "old", "b" -> "keep"), tags("a" -> "new"))
      .select("asset_uri", "field_value").as[(String, String)].collect().toMap
    assert(out === Map("a" -> "new", "b" -> "keep"))
  }

  test("dropAllEmptyTags: removes only tag instances whose every field is empty") {
    // asset a: one empty + one non-empty field → the instance SURVIVES
    // (not all-empty); asset b: all fields empty → dropped whole
    val incoming = Seq(
      ("a", "f1", ""), ("a", "f2", "v"), ("b", "f1", ""), ("b", "f2", ""))
      .toDF("asset_uri", "field_id", "field_value")
      .select($"asset_uri", org.apache.spark.sql.functions.lit("").as("column"),
        org.apache.spark.sql.functions.lit("t").as("template_id"),
        $"field_id", $"field_value")
    val out = TagStore.dropAllEmptyTags(incoming)
      .select("asset_uri", "field_id").as[(String, String)].collect().toSet
    assert(out === Set("a" -> "f1", "a" -> "f2"))
  }
}
