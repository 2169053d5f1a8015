package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sync.CdcMerge

/** CDC merge classification over the four outcomes (FIXTURES.md §3). */
class CdcMergeSpec extends AnyFunSuite {

  private val remote = Map(
    "pr.data.0.Current" -> "aaa",
    "pr.class" -> "ccc",
    "pr.new_file" -> "ddd")

  private val stored = Map(
    "pr.data.0.Current" -> "bbb",
    "pr.class" -> "ccc",
    "pr.retired" -> "eee")

  test("merge classifies insert/update/skip/delete") {
    val got = CdcMerge.plan(remote, stored).map(d => d.name -> d.action).toMap
    assert(got === Map(
      "pr.data.0.Current" -> "update",
      "pr.class" -> "skip",
      "pr.new_file" -> "insert",
      "pr.retired" -> "delete"))
    // each side's hash rides along; the side that lacks the key has none
    assert(CdcMerge.plan(remote, stored).map(d => (d.name, d.remoteHash, d.storedHash))
      .toSet === Set(
        ("pr.class", Some("ccc"), Some("ccc")),
        ("pr.data.0.Current", Some("aaa"), Some("bbb")),
        ("pr.new_file", Some("ddd"), None),
        ("pr.retired", None, Some("eee"))))
  }

  test("fetch set = insert ∪ update; delete set = stored ∖ remote") {
    val rows = CdcMerge.plan(remote, stored)
    def keys(actions: Set[String]) =
      rows.filter(d => actions(d.action)).map(_.name).toSet
    assert(keys(CdcMerge.fetchActions) === Set("pr.data.0.Current", "pr.new_file"))
    assert(keys(CdcMerge.deleteActions) === Set("pr.retired"))
  }

  test("partition identity: every key lands in exactly one action") {
    val merged = CdcMerge.plan(remote, stored)
    val all = merged.map(_.name)
    assert(all.toSet === Set("pr.data.0.Current", "pr.class", "pr.new_file", "pr.retired"))
    assert(all.size === all.distinct.size)
    // both sides empty: no decisions
    assert(CdcMerge.plan(Map.empty, Map.empty).isEmpty)
  }
}
