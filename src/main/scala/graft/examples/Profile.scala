package graft.examples

import scala.collection.mutable

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** One profiling entry point over registered queries, under the bench
  * session settings ([[graft.GraftSession]]):
  *
  * `sbt "runMain graft.examples.Profile <mode> q_a [q_b …]"`
  *
  *  - `explain`: the formatted physical plan (scan pushdown
  *    `PushedFilters`/`ReadSchema`, broadcast joins, WholeStageCodegen
  *    spans). Builds each query; runs nothing beyond its construction.
  *  - `final`: the plan the noop write actually executed, AQE's final
  *    choices included.
  *  - `stages`: each completed stage's executor run/CPU time, task
  *    count, shuffle volumes and input rows with its call site, so a
  *    query-level `run_ms` splits into "which shuffle boundary paid it"
  *    (`stages q_curate` attributes the curation pipeline).
  *  - `stream`: per micro-batch, the engine's own `durationMs`
  *    breakdown (triggerExecution = whole batch; addBatch = the data
  *    job; the rest — getBatch, latestOffset, queryPlanning, walCommit,
  *    commitOffsets — is per-batch machinery no plan change can
  *    remove) plus state-operator commit and row counts, for the
  *    q_stream_* rows.
  *
  * Every mode but `explain` drives the query twice through the noop
  * sink the bench times with — count() would let column pruning strip
  * the aggregates and output projections and time a much cheaper plan
  * (measured: q_profile 3.6 s of real run_ms profiled as 10 ms under
  * count()) — and reports the second, post-JIT pass. The listener bus
  * is drained before anything is read.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_CPUS`
  * (default 4), `SPARK_GRAFT_PARTITIONS` (default = cpus, to tell 32
  * THREADS from 32 PARTITIONS apart) and `SPARK_GRAFT_CONF="k=v;k2=v2"`
  * for conf probes such as `spark.sql.adaptive.enabled=false`.
  */
object Profile {
  private val modes = Seq("explain", "final", "stages", "stream")

  /** What one mode records during the measured pass. */
  private trait Probe {
    def attach(spark: SparkSession): Unit
    def detach(spark: SparkSession): Unit
    def report(): Seq[String]
  }

  /** The plan of the last query execution that completed. */
  private final class FinalPlan extends QueryExecutionListener with Probe {
    @volatile private var last: Option[QueryExecution] = None
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      last = Some(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def attach(spark: SparkSession): Unit = spark.listenerManager.register(this)
    def detach(spark: SparkSession): Unit = spark.listenerManager.unregister(this)
    def report(): Seq[String] =
      "---- final plan ----" +: last.map(_.executedPlan.toString).toSeq
  }

  private final case class StageRow(name: String, tasks: Int,
      runMs: Long, cpuMs: Long, shuffleReadMb: Double,
      shuffleWriteMb: Double, recordsRead: Long)

  private final class Stages extends SparkListener with Probe {
    private val rows = mutable.ArrayBuffer.empty[StageRow]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      rows += StageRow(si.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("graft.examples.Profile"))
          .getOrElse(si.name).trim,
        si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.recordsRead)
    }
    def attach(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)
    def detach(spark: SparkSession): Unit = spark.sparkContext.removeSparkListener(this)
    // no rows field: the noop sink discards output executor-side, so an
    // output-row count would always be a misleading 0 (ADVICE r11);
    // per-stage recordsRead carries the volumes
    def report(): Seq[String] = s"stages=${rows.size}" +:
      rows.sortBy(-_.runMs).map(r =>
        f"run=${r.runMs}%6dms cpu=${r.cpuMs}%6dms tasks=${r.tasks}%3d " +
          f"sr=${r.shuffleReadMb}%7.1fMB sw=${r.shuffleWriteMb}%7.1fMB " +
          f"in=${r.recordsRead}%9d  ${r.name.take(110)}%s").toSeq
  }

  private final class StreamBatches extends StreamingQueryListener with Probe {
    private val lines = mutable.ArrayBuffer.empty[String]
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      lines += s"START ${e.name} at ${System.nanoTime() / 1000000L}"
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs
      val keys = dur.keySet().toArray(Array.empty[String]).sorted
      lines += s"BATCH ${p.name} #${p.batchId} rows=${p.numInputRows} " +
        keys.map(k => s"$k=${dur.get(k)}").mkString(" ")
      p.stateOperators.foreach { so =>
        lines += s"  state op=${so.operatorName} rowsTotal=${so.numRowsTotal} " +
          s"commitMs=${so.commitTimeMs} updMs=${so.allUpdatesTimeMs} " +
          s"rmMs=${so.allRemovalsTimeMs}"
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lines += s"END at ${System.nanoTime() / 1000000L}"
    def attach(spark: SparkSession): Unit = spark.streams.addListener(this)
    def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
    def report(): Seq[String] = lines.toSeq
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !modes.contains(args(0))) {
      System.err.println(
        s"usage: graft.examples.Profile <${modes.mkString("|")}> q_a [q_b …]")
      sys.exit(2)
    }
    val mode = args(0)
    val queries = args.toSeq.tail.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"$n is not in SparkEntry.queries")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val parts = sys.env.get("SPARK_GRAFT_PARTITIONS").fold(cpus)(_.toInt)
    val conf = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';').toSeq
      .filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }
    val spark = GraftSession.local(cpus, parts, conf)
    for ((name, q) <- queries) {
      if (mode == "explain") {
        println(s"\n========== $name ==========")
        q(spark, sfDir).explain("formatted")
      } else {
        def drive(): Unit =
          q(spark, sfDir).write.format("noop").mode("overwrite").save()
        drive() // warm pass: JIT + codegen + IO cache
        val probe = mode match {
          case "final" => new FinalPlan
          case "stages" => new Stages
          case "stream" => new StreamBatches
        }
        ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        probe.attach(spark)
        val t0 = System.nanoTime()
        drive()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        probe.detach(spark)
        println(f"== $name%s wall=$wall%.2fs")
        probe.report().foreach(l => println("  " + l))
      }
    }
    spark.stop()
  }
}
