package graft

import java.security.MessageDigest

/** The driver's smoke contract: `SparkEntry.entry` must return rows on
  * sf0.001. Previously only the driver itself exercised this — a break
  * would surface as a failed round, not a failed test.
  */
class EntrySpec extends SparkSpec {
  test("SparkEntry.entry returns rows on the smoke scale factor") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  /** `query_catalog.tsv`: one row per query in `SparkEntry.queries`
    * order — name, variant and headline flags (1/0), and the sha256 of
    * the oracle SQL or `-` when the query has none.
    */
  private lazy val pinned: Seq[Array[String]] = {
    val src = scala.io.Source.fromResource("query_catalog.tsv", getClass.getClassLoader)
    try src.getLines().drop(1).map(_.split('\t')).toVector finally src.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("catalog views match the pinned query list, order included") {
    assert(pinned.size === 254)
    // iteration order is what Harness.select, Bench and Verify run in
    assert(SparkEntry.queries.keys.toSeq === pinned.map(_(0)))
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    assert(SparkEntry.catalog.size === byName.size, "a name declared twice")
    val oracles = SparkEntry.oracleSql
    for (Array(name, variant, headline, digest) <- pinned) {
      val q = byName(name)
      assert((q.variant, q.headline) === ((variant == "1", headline == "1")), name)
      assert(oracles.get(name).fold("-")(sha256) === digest, name)
    }
    // oracle_sql.json is written in this key order
    assert(oracles.keys.toSeq ===
      pinned.filter(_(3) != "-").map(_(0)).map(_ -> "").toMap.keys.toSeq)
  }

  test("no main file but SparkEntry names a query in a string literal") {
    val names = SparkEntry.queries.keySet.map("\"" + _ + "\"")
    val naming = SourceGuard.mainSources.collect {
      case (f, code) if f != "graft/SparkEntry.scala" &&
          !f.startsWith("graft/examples/") && names.exists(code.contains) => f
    }
    assert(naming === Nil)
  }
}
