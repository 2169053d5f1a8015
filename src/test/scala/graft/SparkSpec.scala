package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one lazy SparkSession per JVM (suites share it —
  * [[GraftSession.local]] returns the live session), local[4], tiny
  * shuffle fan-out, and the settings every graft session carries.
  *
  * `SPARK_GRAFT_ANSI=true sbt test` runs the whole suite under ANSI
  * mode — the queries use try_cast at every coercion site, so results
  * must be identical either way (SURVEY §4 portability claim; proven
  * per-round, not assumed).
  */
trait SparkSpec extends AnyFunSuite {
  /** The suite's own settings on top of [[GraftSession.settings]]. */
  val suiteConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_ANSI").toSeq.map("spark.sql.ansi.enabled" -> _)

  lazy val spark: SparkSession = GraftSession.local(4, 4, suiteConf)

  def sfDir: String = "/root/testdata/sf0.001"

  /** Runs `probe`'s main in a child JVM on this JVM's classpath and
    * module flags, for checks that need a SparkContext of their own;
    * returns its combined output once it exited 0.
    */
  def childJvm(probe: AnyRef, args: String*): String = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++
      opens ++ Seq("-cp", sys.props("java.class.path"),
        probe.getClass.getName.stripSuffix("$")) ++ args
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() === 0, out)
    out
  }
}
