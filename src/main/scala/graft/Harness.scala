package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness that Bench, Verify and `examples.Profile` drive
  * registered queries through: the run settings, the session built
  * from them, query selection, the per-query drive step and the
  * task-metrics listener. It is the only main-code reader of the run
  * settings, so each has exactly one default:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR      sf0.1 testdata         input tables
  * SPARK_GRAFT_CPUS        4                      local[cpus]
  * SPARK_GRAFT_PARTITIONS  = cpus                 shuffle partitions
  * SPARK_GRAFT_CONF        none                   "k=v;k2=v2" on top of GraftSession.settings
  * SPARK_GRAFT_ONLY        every query            "q_a,q_b" subset
  * SPARK_GRAFT_ITERS       3                      Bench iterations per query
  * }}}
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  final case class Settings(sfDir: String, cpus: Int, partitions: Int,
                            conf: Seq[(String, String)],
                            only: Option[Set[String]], iters: Int)

  lazy val settings: Settings = settingsFrom(sys.env)

  /** The run settings from `env`. A malformed value fails loud rather
    * than run something other than asked and exit 0.
    */
  def settingsFrom(env: Map[String, String]): Settings = {
    val cpus = env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
    Settings(
      sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      cpus = cpus,
      // shuffle width can be scaled apart from the thread count: a scale
      // leg sizes partitions to the data, not the box
      partitions = env.get("SPARK_GRAFT_PARTITIONS").fold(cpus)(_.toInt),
      conf = env.getOrElse("SPARK_GRAFT_CONF", "").split(';').toSeq
        .filter(_.nonEmpty).map { kv =>
          require(kv.contains('='), s"SPARK_GRAFT_CONF entry is not k=v: $kv")
          val Array(k, v) = kv.split("=", 2); k -> v
        },
      only = env.get("SPARK_GRAFT_ONLY").map { v =>
        val names = v.split(',').map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty, s"SPARK_GRAFT_ONLY names no query: '$v'")
        names
      },
      iters = env.get("SPARK_GRAFT_ITERS").fold(3)(_.toInt.max(1)))
  }

  /** The run's session through [[GraftSession.local]]. */
  def session(cores: Int = settings.cpus, partitions: Int = settings.partitions,
              conf: Seq[(String, String)] = settings.conf): SparkSession =
    GraftSession.local(cores, partitions, conf)

  /** The registered queries a run covers: `names` in their order when
    * given, else `SPARK_GRAFT_ONLY`, else every query, so a full run
    * always covers the whole surface. A typo'd name silently matching
    * nothing would masquerade as a fast or clean run, so unknown names
    * are reported on stderr under `[tag]`.
    */
  def select(tag: String, names: Seq[String] = Nil): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val (wanted, what) =
      if (names.nonEmpty) (Some(names.toSet), "names")
      else (settings.only, "SPARK_GRAFT_ONLY names")
    wanted.foreach { ns =>
      val unknown = ns -- all.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[$tag] $what not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    if (names.nonEmpty) names.flatMap(n => all.get(n).map(n -> _))
    else all.toSeq.filter { case (n, _) => wanted.forall(_.contains(n)) }
  }

  /** The sink that times a query: a noop-format WRITE, not count().
    * Under a bare count aggregate Catalyst prunes every projected
    * expression and eliminates final sorts, so projection-shaped
    * queries (md5, math/date/string function families) were timed as
    * bare row-count scans — measured 0.21 s vs 2.40 s real cost for
    * q_math_funcs at sf0.1. The noop sink forces every output column's
    * computation and discards rows executor-side (no driver collect, no
    * disk).
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Best-effort listener drain: `LiveListenerBus.waitUntilEmpty` has a
    * built-in 10 s timeout that THROWS — under exactly the stall
    * conditions this harness measures. Metrics being slightly stale is
    * acceptable; aborting the run (or mislabeling a successful query as
    * failed) is not.
    */
  def drain(spark: SparkSession): Unit =
    try ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    catch {
      // interrupts must not be silently eaten — restore the flag
      case _: InterruptedException => Thread.currentThread().interrupt()
      case NonFatal(_) => ()
    }

  /** Executor-side task metrics of one stage attempt, tagged with the
    * graft call site that submitted it (else the stage name, e.g.
    * `save at Bench.scala:NN`).
    *
    * Beyond run/CPU/GC time (a query whose wall ≫ task run time stalled
    * outside Spark; run ≫ cpu means starved or blocked executor
    * threads), the spill, shuffle, retry and failure counters
    * attribute variance: the sf10 q_item_sim walls once swung 47.7–136 s
    * on identical config, and host load (same zeros, only wall
    * inflated), memory pressure (spill growth) and retry storms
    * (`retried` > 0 with run time inflated by re-executed tasks) each
    * leave a different signature. `attempt` > 0 is a whole-stage
    * resubmission after a fetch failure, whose tasks run at attempt 0.
    */
  final case class Stage(callSite: String, attempt: Int, tasks: Long = 0,
                         runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                         spillMemB: Long = 0, spillDiskB: Long = 0,
                         shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
                         recordsRead: Long = 0, retried: Long = 0,
                         failed: Long = 0)

  // frames of the harness mains themselves: a stage submitted from one
  // of these is tagged by the first graft frame below them, if any
  private val harnessFrames =
    Seq("graft.Harness", "graft.Bench", "graft.Verify", "graft.examples.Profile")

  /** Sums task-end events into one [[Stage]] bucket per stage attempt. */
  final class TaskMetrics extends SparkListener {
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      val site = si.details.linesIterator
        .find(l => l.contains("graft") && !harnessFrames.exists(l.contains))
        .getOrElse(si.name).trim
      synchronized(stages((si.stageId, si.attemptNumber)) =
        Stage(site, si.attemptNumber))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val key = (t.stageId, t.stageAttemptId)
      var s = stages.getOrElse(key, Stage("", t.stageAttemptId))
      val m = t.taskMetrics
      if (m != null) s = s.copy(tasks = s.tasks + 1,
        runMs = s.runMs + m.executorRunTime,
        cpuNs = s.cpuNs + m.executorCpuTime,
        gcMs = s.gcMs + m.jvmGCTime,
        spillMemB = s.spillMemB + m.memoryBytesSpilled,
        spillDiskB = s.spillDiskB + m.diskBytesSpilled,
        shuffleReadB = s.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteB = s.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
        recordsRead = s.recordsRead + m.inputMetrics.recordsRead)
      if (t.taskInfo != null) s = s.copy(
        retried = s.retried + (if (t.taskInfo.attemptNumber > 0) 1 else 0),
        // genuine failures only: `killed` covers speculative duplicates
        // and tasks reaped when a sibling stage fails — counting them
        // via !successful would inflate the failure evidence
        failed = s.failed + (if (t.taskInfo.failed) 1 else 0))
      stages(key) = s
    }

    /** The buckets recorded since the last call, in submission order. */
    def take(): Seq[Stage] = synchronized {
      val out = stages.values.toList
      stages.clear()
      out
    }
  }

  /** A [[TaskMetrics]] listening on `spark`. */
  def listen(spark: SparkSession): TaskMetrics = {
    val m = new TaskMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** One drive of one query. `stages` are the buckets its sink ran;
    * `codegenN` counts whole-stage-codegen compilations and `jitMs` the
    * JVM JIT's compile time over it (-1 when the JVM does not expose
    * it), which tell "new codegen in this drive" from "JIT background
    * load" when a drive is slow.
    */
  final case class Driven(wallS: Double, stages: Seq[Stage], codegenN: Long,
                          jitMs: Long, failure: Option[Throwable]) {
    def ok: Boolean = failure.isEmpty
  }

  private def compileSnap(): (Long, Long) = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val bean = java.lang.management.ManagementFactory.getCompilationMXBean
    val jit = if (bean != null && bean.isCompilationTimeMonitoringSupported)
      bean.getTotalCompilationTime else -1L
    (cg, jit)
  }

  /** Release what earlier queries left, drain the bus, then run `sink`
    * timed. A failure is captured, so the next query still runs; only
    * NonFatal ones — after an OOM or StackOverflow every later
    * measurement would be garbage, so those end the run.
    */
  def drive(spark: SparkSession, metrics: TaskMetrics)(sink: => Unit): Driven = {
    // Harness hygiene, not caching: drop the previous query's leaked
    // graft checkpoints (pinned session caches excepted) BEFORE the
    // timer starts — each drive reconstructs its DataFrame from the
    // parquet inputs, so no measured work is ever reused; the
    // checkpoint WRITE stays inside the timed region. See
    // Materialize.releaseOwned for the eviction-churn forensics.
    graft.ops.Materialize.releaseOwned(spark)
    drain(spark)
    metrics.take()
    val (cg0, jit0) = compileSnap()
    val t0 = System.nanoTime()
    val failure = try { sink; None } catch { case NonFatal(e) => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    drain(spark)
    val stages = metrics.take()
    val (cg1, jit1) = compileSnap()
    Driven(wall, stages, cg1 - cg0,
      if (jit0 < 0 || jit1 < 0) -1L else jit1 - jit0, failure)
  }

  /** End a run: free what its last query left — [[drive]] frees only
    * what came BEFORE each query (graft's checkpoints, a stream drain's
    * view or parquet landing) — then stop the session.
    */
  def stop(spark: SparkSession): Unit = {
    graft.ops.Materialize.releaseOwned(spark)
    spark.stop()
  }

  /** Class name plus null-safe message, cut to `limit` chars (a bare NPE
    * printed "null" with nothing to triage on).
    */
  def describe(e: Throwable, limit: Int = Int.MaxValue): String =
    s"${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage).take(limit)
}
