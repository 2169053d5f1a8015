package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{max, min}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.stream.{IncrementalView, Streams}
import graft.sync.SyncJob

/** Benchmark harness: one workload in one fresh JVM and one Spark session.
  *
  * It drives the program only through its public entry points
  * (`SparkEntry.queries`, the noop write, `SyncJob.run`,
  * `Streams.fileSource` / `foreachBatchRecompute` / `hourlyCounts`,
  * `IncrementalView.applyBatch`) and observes it only through Spark's
  * public listeners. Arguments are `key=value` pairs:
  *
  *  - `mode`     `batch` or `stream`
  *  - `data`     input directory of parquet tables
  *  - `out`      directory for `result.json`, `spans.jsonl` and outputs
  *  - `seconds`  length of the measured window
  *  - `seed`     workload seed (query order of each warm pass)
  *  - `trace`    1 records spans for the per-layer ledger
  *  - `queries`  comma-separated query names (batch)
  *  - `slices`, `interval_ms` staged slice directory and the open-loop
  *    landing interval (stream)
  *
  * Timestamps are epoch milliseconds as doubles, taken from one
  * monotonic clock anchored once, so spans from the harness and from
  * Spark's listener events (epoch ms) share a time base.
  */
object PerfBench {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spark = session()
    val ready = now()
    val out = Paths.get(args("out"))
    Files.createDirectories(out)
    val tracer = new Tracer(spark, args.get("trace").contains("1"))
    val res = new Result
    res.num("ready_ms", ready)
    val jvm0 = JvmCounters.snap()
    if (args("mode") == "batch") Batch.run(spark, args, tracer, res)
    else EventStream.run(spark, args, tracer, res)
    val jvm1 = JvmCounters.snap()
    res.num("codegen_compiles", jvm1(0) - jvm0(0))
    res.num("jit_ms", jvm1(1) - jvm0(1))
    res.num("gc_ms", jvm1(2) - jvm0(2))
    tracer.drain()
    if (tracer.on) tracer.write(out.resolve("spans.jsonl"))
    Files.write(out.resolve("result.json"), res.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** `graft.Bench`'s main-session settings at local[nproc]. */
  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    sys.props.get("perfbench.localDir").foreach(d => b.config("spark.local.dir", d))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
}

/** Process-wide counters read before and after the measured window. */
object JvmCounters {
  def snap(): Array[Double] = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Array(cg.toDouble, jit.toDouble, gc.toDouble)
  }

  /** Heap in use after forced full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Flat JSON object of numbers, number lists and strings. */
final class Result {
  private val fields = new java.util.LinkedHashMap[String, String]
  def num(k: String, v: Double): Unit = fields.put(k, fmt(v))
  def nums(k: String, v: Seq[Double]): Unit = fields.put(k, v.map(fmt).mkString("[", ",", "]"))
  def str(k: String, v: String): Unit = fields.put(k, graft.Json.str(v))
  def strs(k: String, v: Seq[String]): Unit = fields.put(k, v.map(graft.Json.str).mkString("[", ",", "]"))
  private def fmt(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
  def json: String = fields.asScala.map { case (k, v) => s"${graft.Json.str(k)}:$v" }.mkString("{", ",", "}\n")
}

/** Span and counter recorder. Spans stay in memory until [[write]].
  *
  * A span is `(lane, kind, name, start, end, attrs)`. `lane` separates
  * concurrent threads of work (the batch main thread, each streaming
  * query, the sync loop); `kind` names the layer. Jobs, stages and
  * catalyst phases are placed in a lane and phase by the job group the
  * harness sets (or the streaming query's run id).
  *
  * An untraced run (`on` false) registers no listener and records
  * nothing, so it pays none of the tracing cost.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private final case class Span(lane: String, kind: String, name: String,
                                start: Double, end: Double, attrs: Seq[(String, Double)])
  private val spans = new ConcurrentLinkedQueue[Span]
  private val streamLanes = new java.util.concurrent.ConcurrentHashMap[String, String]
  private val execLanes = new java.util.concurrent.ConcurrentHashMap[String, String]

  def span(lane: String, kind: String, name: String, start: Double, end: Double,
           attrs: (String, Double)*): Unit =
    if (on) spans.add(Span(lane, kind, name, start, end, attrs))

  /** Streaming queries run their jobs under their run id as job group. */
  def nameStream(runId: String, lane: String): Unit = streamLanes.put(runId, lane)

  /** The lane a job group belongs to: the part before the first `|`. */
  private def laneOf(group: String): String =
    if (group == null) "other" else group.takeWhile(_ != '|')

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, String, Int, Double)]
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Array[Double]]]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Double)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val group = if (p == null) null else p.getProperty("spark.jobGroup.id")
      // the final stage carries the job's call site: short form in its
      // name ("parquet at Tables.scala:42"), stack in its details
      val last = e.stageInfos.maxBy(_.stageId)
      val short = Option(last.name).getOrElse("")
      val long = Option(last.details).getOrElse("")
      val tasks = e.stageInfos.map(_.numTasks).sum
      // Layer of the job from where the program submitted it: schema
      // inference opens a table with a one-task "parquet at" job; the
      // graph layer materializes rounds with localCheckpoint, through
      // IterState or directly.
      val layer =
        if (short.startsWith("parquet at") && tasks == 1) "io"
        else if (short.startsWith("localCheckpoint at") || long.contains("graft.graph.")) "graph"
        else "sched"
      // The SQL execution id ties the jobs of one query execution
      // together, broadcast and subquery jobs run from a thread pool
      // included; the ledger gives them all the layer of the execution.
      val execId = Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
      execId.foreach(id => execLanes.put(id, laneOf(group)))
      val exec = execId.map(_.toDouble).getOrElse(-1.0)
      e.stageInfos.foreach(s => stageJob.put(s.stageId, (laneOf(group), layer, exec)))
      jobStart.put(e.jobId, (e.time.toDouble, s"${Option(group).getOrElse("other")} @ $short", layer, tasks, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, name, layer, tasks, exec) =>
        span(laneOf(name), layer, name, t0, e.time.toDouble, "tasks" -> tasks, "exec_id" -> exec,
          "failed" -> (if (e.jobResult == JobSucceeded) 0 else 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo; val m = e.taskMetrics
      val row = Array[Double](i.launchTime, i.finishTime,
        if (m == null) 0 else m.executorRunTime, if (m == null) 0 else m.executorCpuTime / 1e6,
        if (m == null) 0 else m.jvmGCTime,
        if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0 else m.diskBytesSpilled + m.memoryBytesSpilled,
        if (i.failed) 1 else 0, if (i.attemptNumber > 0) 1 else 0)
      stageTasks.computeIfAbsent(e.stageId, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Array[Double]])).add(row)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val (lane, layer, exec) = Option(stageJob.remove(s.stageId)).getOrElse(("other", "sched", -1.0))
      val rows = Option(stageTasks.remove(s.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
      if (s.submissionTime.isDefined) {
        val t0 = s.submissionTime.get.toDouble
        val t1 = s.completionTime.map(_.toDouble).getOrElse(PerfBench.now())
        def sum(i: Int) = rows.map(_(i)).sum
        span(lane, "stage", layer, t0, t1, "tasks" -> rows.size, "exec_id" -> exec,
          "first_launch" -> (if (rows.isEmpty) t1 else rows.map(_(0)).min),
          "run_ms" -> sum(2), "cpu_ms" -> sum(3), "gc_ms" -> sum(4),
          "shuffle_write_b" -> sum(5), "shuffle_read_b" -> sum(6), "spill_b" -> sum(7),
          "tasks_failed" -> sum(8), "tasks_retried" -> sum(9))
        // executor wall: the union of this stage's task intervals
        val iv = rows.map(r => (r(0), r(1))).sortBy(_._1)
        var cur: (Double, Double) = null
        iv.foreach { case (a, b) =>
          if (cur == null) cur = (a, b)
          else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
          else { span(lane, "exec", "tasks", cur._1, cur._2); cur = (a, b) }
        }
        if (cur != null) span(lane, "exec", "tasks", cur._1, cur._2)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val lane = Option(execLanes.get(qe.id.toString)).getOrElse("main")
      qe.tracker.phases.foreach { case (phase, s) =>
        span(lane, "catalyst", phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val lane = Option(p.name).getOrElse("stream")
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val state = p.stateOperators
      span(lane, "trigger", s"batch ${p.batchId}", t0, t0 + d.getOrElse("triggerExecution", 0.0),
        "rows" -> p.numInputRows,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_mem_b" -> state.map(_.memoryUsedBytes).sum)
      // The progress event carries phase durations only; they run in
      // this order inside the trigger.
      var t = t0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k => d.get(k).foreach { ms => span(lane, "stream", k, t, t + ms); t += ms } }
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until listener events up to now have been delivered. */
  def drain(): Unit =
    if (on) try org.apache.spark.graftshim.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    catch { case NonFatal(_) => () }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.map { sp =>
      val lane = Option(streamLanes.get(sp.lane)).getOrElse(sp.lane)
      val a = sp.attrs.map { case (k, v) => s",\"$k\":$v" }.mkString
      f"""{"lane":${graft.Json.str(lane)},"kind":"${sp.kind}","name":${graft.Json.str(sp.name)},"start":${sp.start}%.3f,"end":${sp.end}%.3f$a}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The batch workloads: pass-major over a fixed query list. */
object Batch {
  /** Warm passes every run makes, whatever `seconds` allows, so that
    * the metrics can use the same pass numbers in every run. */
  val MinWarm = 11

  def run(spark: SparkSession, args: Map[String, String], tr: Tracer, res: Result): Unit = {
    val data = args("data")
    val seconds = args("seconds").toDouble
    val seed = args("seed").toLong
    val names = args("queries").split(",").toSeq
    val outDir = args("out") + "/outputs"
    val sc = spark.sparkContext
    val t0 = PerfBench.now()
    var deadline = Double.MaxValue
    val passes = Seq.newBuilder[Double]
    val samples = Seq.newBuilder[String] // pass,query,construct_ms,execute_ms,ok
    val persisted = Seq.newBuilder[Double] // most RDDs persisted after a query, per pass
    val jvmAtPass = Seq.newBuilder[Array[Double]]
    var attempted = 0; var failed = 0
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    var pass = 0
    // the cold pass, then warm passes for `seconds`, at least MinWarm
    while (pass <= MinWarm || PerfBench.now() < deadline) {
      jvmAtPass += JvmCounters.snap()
      var live = 0
      // The cold pass runs the queries in list order: whichever query
      // comes first pays the fresh session's first-query costs, so a
      // seeded cold order would make cold_pass_s depend on the seed.
      val order = if (pass == 0) names
        else new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val p0 = PerfBench.now()
      order.foreach { name =>
        val lane = "main"
        val q0 = PerfBench.now()
        var c1 = q0
        val ok = try {
          sc.setJobGroup(s"$lane|$pass|$name|construct", name, interruptOnCancel = false)
          val df = SparkEntry.queries(name)(spark, data)
          c1 = PerfBench.now()
          sc.setJobGroup(s"$lane|$pass|$name|execute", name, interruptOnCancel = false)
          // rows go to the noop sink, which still computes every
          // output column
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case NonFatal(e) =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
        } finally sc.clearJobGroup()
        val q1 = PerfBench.now()
        if (c1 == q0) c1 = q1
        tr.span(lane, "query", name, q0, q1, "pass" -> pass)
        tr.span(lane, "construct", name, q0, c1)
        tr.span(lane, "execute", name, c1, q1)
        live = math.max(live, sc.getPersistentRDDs.size)
        attempted += 1
        if (!ok) failed += 1
        samples += f"$pass,$name,${c1 - q0}%.3f,${q1 - c1}%.3f,${if (ok) 1 else 0}"
      }
      val p1 = PerfBench.now()
      tr.span("main", "pass", s"pass $pass", p0, p1, "pass" -> pass)
      passes += (p1 - p0)
      persisted += live.toDouble
      if (pass == 0) deadline = p1 + seconds * 1000
      pass += 1
    }
    val t1 = PerfBench.now()
    jvmAtPass += JvmCounters.snap()
    res.num("window_ms", t1 - t0)
    res.nums("pass_ms", passes.result())
    val jvm = jvmAtPass.result()
    Seq("codegen_at_pass", "jit_at_pass", "gc_at_pass").zipWithIndex.foreach { case (k, i) =>
      res.nums(k, jvm.map(_(i))) }
    res.strs("samples", samples.result())
    res.num("attempted", attempted)
    res.num("failed", failed)
    res.nums("persisted_rdds_by_pass", persisted.result())
    res.num("storage_mb", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    res.num("retained_heap_mb", JvmCounters.retainedHeapMb())
    // One untimed pass after the window writes every result for the
    // oracle comparison; its jobs run outside the main lane.
    names.foreach { name =>
      try {
        sc.setJobGroup(s"out|$name", name, interruptOnCancel = false)
        SparkEntry.queries(name)(spark, data).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally sc.clearJobGroup()
    }
    res.strs("errors", errors.toSeq.map { case (k, v) => s"$k: $v" })
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(Paths.get(args("out"), "oracle_sql.json"),
      oracle.map { case (k, v) => s"${graft.Json.str(k)}:${graft.Json.str(v)}" }
        .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
  }
}

/** The reference's production loop, writes beside reads.
  *
  * The main thread lands pre-staged event slices in `source`: slice 0
  * alone (the cold start), `warmup` slices each after the previous was
  * applied, then the rest on a fixed open-loop schedule. A closed loop
  * calls `SyncJob.run(source, landing)`, pausing [[SyncPauseMs]]
  * between calls. Two streaming queries read `landing` one file per
  * trigger: a `foreachBatchRecompute` that applies
  * `IncrementalView.applyBatch` (the per-user running total) and
  * `Streams.hourlyCounts` into a memory sink (the state store).
  *
  * A slice's latency runs from its due time to the return of the
  * `applyBatch` call that applied it. Which slices a batch carried is
  * read from the batch's event ids afterwards, not from arrival order.
  */
object EventStream {
  /** Pause between sync runs: back to back, the sync loop would keep a
    * core busy hashing both directories and starve the two streams. */
  val SyncPauseMs = 200L

  /** Open-loop slices every run lands, whatever `seconds` allows: the
    * latency percentiles need that many samples to repeat from run to
    * run (with 7, p90 spread by a quarter over ten runs). */
  val MinOpen = 10

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def countFiles(dir: java.nio.file.Path): Long = {
    val l = Files.list(dir)
    try l.iterator().asScala.count(p => !p.getFileName.toString.startsWith(".")) finally l.close()
  }

  def run(spark: SparkSession, args: Map[String, String], tr: Tracer, res: Result): Unit = {
    val out = args("out")
    val staged = Paths.get(args("slices"))
    val interval = args("interval_ms").toDouble
    val seconds = args("seconds").toDouble
    val work = Files.createTempDirectory("perfbench_stream_")
    val source = work.resolve("source"); val landing = work.resolve("landing")
    Files.createDirectories(source); Files.createDirectories(landing)
    // slice k holds event ids [lo(k), hi(k)]
    val listing = Files.list(staged)
    val slices = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted finally listing.close()
    val bounds = slices.map { f =>
      val Array(_, k, lo, hi) = f.stripSuffix(".parquet").split("_")
      (k.toInt, lo.toLong, hi.toLong)
    }
    val warmup = args("warmup").toInt
    val nDue = math.min(slices.size, warmup + 1 + math.max(MinOpen, (seconds * 1000 / interval).toInt))
    val due = new Array[Double](nDue)
    val landed = new Array[Double](nDue)
    val applied = Array.fill(nDue)(Double.NaN)
    val batchMs = new ConcurrentLinkedQueue[java.lang.Double]
    @volatile var running = true
    var backlogMax = 0

    val sc = spark.sparkContext
    val t0 = PerfBench.now()
    val view = Streams.foreachBatchRecompute(
      Streams.fileSource(spark, landing.toString, schema, maxFilesPerTrigger = Some(1)),
      (batch: DataFrame, id: Long) => {
        val a0 = PerfBench.now()
        IncrementalView.applyBatch(batch, id, s"$out/view", "user_id", "value", "total")
        val b1 = PerfBench.now()
        tr.span("view", "view_apply", s"batch $id", a0, b1)
        // The slices this batch carried, from its event ids. This job is
        // the harness's: it runs after the timed call, under a job group
        // of its own so the ledger keeps it out of the view's layers.
        val group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", "bench|slices")
        val r = try batch.agg(min("event_id"), max("event_id")).head()
        finally sc.setLocalProperty("spark.jobGroup.id", group)
        val carried = if (r.isNullAt(0)) Nil else bounds.filter { case (_, lo, hi) =>
          lo <= r.getLong(1) && hi >= r.getLong(0) }.map(_._1)
        carried.filter(_ < nDue).foreach(k => applied.synchronized { applied(k) = b1 })
        if (carried.nonEmpty) batchMs.add(b1 - a0)
      })
      .queryName("view").option("checkpointLocation", work.resolve("ck_view").toString).start()
    val hourly = Streams.hourlyCounts(
      Streams.fileSource(spark, landing.toString, schema, maxFilesPerTrigger = Some(1)), "6 hours")
      .writeStream.outputMode("append").format("memory").queryName("hourly")
      .option("checkpointLocation", work.resolve("ck_hourly").toString).start()
    tr.nameStream(view.runId.toString, "view")
    tr.nameStream(hourly.runId.toString, "hourly")

    val syncRuns = Seq.newBuilder[String] // ms,hashed,copied
    val syncer = new Thread(() => {
      try while (running) {
        sc.setJobGroup("sync|run", "sync", interruptOnCancel = false)
        val hashed = countFiles(source) + countFiles(landing)
        val s0 = PerfBench.now()
        val plan = SyncJob.run(spark, source.toString, landing.toString)
        val s1 = PerfBench.now()
        tr.span("sync", "sync", "SyncJob.run", s0, s1)
        val copied = plan.collect().count(r => r.getString(1) == "insert" || r.getString(1) == "update")
        syncRuns.synchronized { syncRuns += f"${s1 - s0}%.3f,$hashed,$copied" }
        Thread.sleep(SyncPauseMs)
      } catch { case NonFatal(e) => e.printStackTrace() }
    }, "perfbench-sync")
    syncer.start()

    def land(k: Int): Unit = {
      val tmp = source.resolve(s".${slices(k)}.tmp")
      Files.copy(staged.resolve(slices(k)), tmp)
      Files.move(tmp, source.resolve(slices(k)), StandardCopyOption.ATOMIC_MOVE)
      landed(k) = PerfBench.now()
    }
    // Slice 0 goes alone into the fresh session: its latency is the
    // cold start. The next `warmup` slices land one at a time, each
    // after the previous was applied (closed loop); the rest follow an
    // open-loop schedule fixed in advance.
    def awaitApplied(k: Int): Unit =
      while (applied.synchronized(applied(k).isNaN) && PerfBench.now() < due(k) + 120000) Thread.sleep(5)
    (0 to warmup).foreach { k => due(k) = PerfBench.now(); land(k); awaitApplied(k) }
    val start = PerfBench.now() + interval
    (warmup + 1 until nDue).foreach { k =>
      due(k) = start + (k - warmup - 1) * interval
      val wait = due(k) - PerfBench.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      land(k)
      val backlog = applied.synchronized { (warmup + 1 to k).count(i => applied(i).isNaN) }
      backlogMax = math.max(backlogMax, backlog)
    }
    // drain: every landed slice applied, or give up after a bound
    val giveUp = PerfBench.now() + 60000
    while (applied.synchronized(applied.exists(_.isNaN)) && PerfBench.now() < giveUp) Thread.sleep(10)
    running = false
    syncer.join()
    hourly.processAllAvailable()
    val t1 = PerfBench.now()
    val wm = Option(hourly.lastProgress).flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
    view.stop(); hourly.stop()

    val lat = (0 until nDue).map(k => applied(k) - due(k))
    res.num("window_ms", t1 - t0)
    res.num("first_applied_ms", applied(0) - due(0))
    res.nums("slice_latency_ms", lat)
    res.num("warmup", warmup)
    res.nums("gen_late_ms", (0 until nDue).map(k => landed(k) - due(k)))
    res.nums("batch_ms", batchMs.asScala.map(_.doubleValue).toSeq)
    res.num("backlog_max", backlogMax)
    res.num("attempted", nDue)
    res.num("failed", lat.count(_.isNaN))
    res.strs("sync_runs", syncRuns.result())
    res.str("watermark", wm)
    res.num("retained_heap_mb", JvmCounters.retainedHeapMb())
    spark.table("hourly").coalesce(1).write.mode("overwrite").parquet(s"$out/outputs/hourly")
    IncrementalView.read(spark, s"$out/view", StructType(Nil)).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/outputs/view")
    res.nums("landed_slices", (0 until nDue).map(_.toDouble))
    PerfBench.deleteTree(work)
  }
}
