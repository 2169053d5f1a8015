package graft

import org.apache.spark.sql.internal.StaticSQLConf

/** The session seam: every graft session carries the one settings
  * table, the extensions are installed at build time, and no other
  * main-source file builds a SparkSession.
  */
class GraftSessionSpec extends SparkSpec {

  test("the suite session and its children carry every settings-table entry") {
    val expected = (GraftSession.settings ++ suiteConf).toMap
    for (s <- Seq(spark, spark.newSession()); (k, v) <- expected)
      assert(s.conf.get(k) === v, k)
    assert(spark.sessionState.conf.getConf(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) === 2000)
  }

  test("only GraftSession builds a SparkSession in main code") {
    assert(SourceGuard.mainFilesCalling("SparkSession.builder") ===
      Seq("graft/GraftSession.scala"))
  }
}
