package graft

import graft.sync.CdcMerge

/** CDC merge classification over the four outcomes (FIXTURES.md §3). */
class CdcMergeSpec extends SparkSpec {
  import spark.implicits._

  private def remote = Seq(
    ("pr.data.0.Current", "aaa"),
    ("pr.class", "ccc"),
    ("pr.new_file", "ddd")
  ).toDF("name", "hash")

  private def stored = Seq(
    ("pr.data.0.Current", "bbb"),
    ("pr.class", "ccc"),
    ("pr.retired", "eee")
  ).toDF("name", "hash")

  test("merge classifies insert/update/skip/delete") {
    val got = CdcMerge.plan(remote, stored).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map(
      "pr.data.0.Current" -> "update",
      "pr.class" -> "skip",
      "pr.new_file" -> "insert",
      "pr.retired" -> "delete"))
  }

  test("fetch set = insert ∪ update; delete set = stored ∖ remote") {
    val rows = CdcMerge.plan(remote, stored).collect()
    def keys(actions: Set[String]) =
      rows.filter(r => actions(r.getString(1))).map(_.getString(0)).toSet
    assert(keys(CdcMerge.fetchActions) === Set("pr.data.0.Current", "pr.new_file"))
    assert(keys(CdcMerge.deleteActions) === Set("pr.retired"))
  }

  test("partition identity: every key lands in exactly one action") {
    val merged = CdcMerge.plan(remote, stored)
    val all = merged.select("name").collect().map(_.getString(0)).toSet
    assert(all === Set("pr.data.0.Current", "pr.class", "pr.new_file", "pr.retired"))
    assert(merged.count() === merged.select("name").distinct().count())
  }
}
