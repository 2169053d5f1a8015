package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
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

  /** Ids of the RDDs the suite's SparkContext holds persisted. */
  def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Id of the first checkpointed RDD under `df`'s plan. */
  def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case lr: LogicalRDD => lr.rdd.id
    }.get

  /** Spark jobs submitted while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

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
