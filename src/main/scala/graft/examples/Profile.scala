package graft.examples

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec, InputAdapter, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Harness

/** One profiling entry point over registered queries, run through
  * [[graft.Harness]] (its session, selection and drive step):
  *
  * `sbt "runMain graft.examples.Profile <mode> [args]"`
  *
  *  - `explain [q …]`: the formatted physical plan (scan pushdown
  *    `PushedFilters`/`ReadSchema`, broadcast joins, WholeStageCodegen
  *    spans). Builds each query; runs nothing beyond its construction.
  *  - `final [q …]`: the plan the noop write actually executed, AQE's
  *    final choices included.
  *  - `stages [q …]`: each stage's executor run/CPU time, task count,
  *    shuffle volumes and input rows with its call site, so a
  *    query-level `run_ms` splits into "which shuffle boundary paid it"
  *    (`stages q_curate` attributes the curation pipeline).
  *  - `stream [q …]`: per micro-batch, the engine's own `durationMs`
  *    breakdown (triggerExecution = whole batch; addBatch = the data
  *    job; the rest — getBatch, latestOffset, queryPlanning, walCommit,
  *    commitOffsets — is per-batch machinery no plan change can
  *    remove) plus state-operator commit and row counts, for the
  *    q_stream_* rows.
  *  - `audit [sfDir]`: the static physical-plan audit of every query,
  *    written to `PLANS.md` (see [[audit]]).
  *  - `aqe [detail.json]`: the AQE final plans of the 20 slowest
  *    queries of a bench detail file (default: the newest
  *    `plans/BENCH_DETAIL_*.json`), as a `PLANS.md` section (see
  *    [[aqeAudit]]).
  *
  * Queries are the named ones, else the harness selection
  * (`SPARK_GRAFT_ONLY`, else all). `final`, `stages` and `stream` drive
  * each query twice through the noop sink the bench times with —
  * count() would let column pruning strip the aggregates and output
  * projections and time a much cheaper plan (measured: q_profile 3.6 s
  * of real run_ms profiled as 10 ms under count()) — and report the
  * second, post-JIT pass.
  */
object Profile {
  private val modes = Seq("explain", "final", "stages", "stream", "audit", "aqe")

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

  // no rows field: the noop sink discards output executor-side, so an
  // output-row count would always be a misleading 0 (ADVICE r11);
  // per-stage input records carry the volumes
  private def stageLines(stages: Seq[Harness.Stage]): Seq[String] =
    s"stages=${stages.size}" +: stages.sortBy(-_.runMs).map(s =>
      f"run=${s.runMs}%6dms cpu=${s.cpuNs / 1000000L}%6dms tasks=${s.tasks}%3d " +
        f"sr=${s.shuffleReadB / 1e6}%7.1fMB sw=${s.shuffleWriteB / 1e6}%7.1fMB " +
        f"in=${s.recordsRead}%9d  ${s.callSite.take(110)}%s")

  // ------------------------------------------------------------ audit mode

  final case class Audit(name: String, shuffles: Int, bcasts: Int,
                         smj: Int, bhj: Int, shj: Int, bnlj: Int,
                         cartesian: Int, sorts: Int, windows: Int,
                         aggs: Int, scans: Int, pushedScans: Int,
                         codegenPct: Int)

  /** (codegen-capable nodes, of those: nodes inside a compiled span).
    * A node is "inside" when its nearest enclosing
    * WholeStageCodegenExec is not cut off by an InputAdapter (the
    * compiled-region exit). The denominator is nodes extending
    * CodegenSupport — Exchange/Sort/scan nodes can never fuse, so
    * counting them would only dilute the signal the audit wants:
    * "of the operators that COULD fuse, how many did?"
    */
  private def codegenCover(p: SparkPlan, in: Boolean): (Int, Int) = {
    val (selfCapable, selfIn, childCtx) = p match {
      case _: WholeStageCodegenExec => (false, false, true)
      case _: InputAdapter => (false, false, false)
      case c: CodegenSupport => (c.supportCodegen, in && c.supportCodegen, in)
      case _ => (false, false, in)
    }
    p.children.map(codegenCover(_, childCtx))
      .foldLeft((if (selfCapable) 1 else 0, if (selfIn) 1 else 0)) {
        case ((t, i), (ct, ci)) => (t + ct, i + ci)
      }
  }

  /** The plan features that decide 100 TB behavior — shuffles,
    * broadcasts, join algorithms, sorts, window operators,
    * whole-stage-codegen coverage and scan-level filter pushdown — of
    * one STATIC plan. Re-run after adding an operator and diff
    * PLANS.md: a new shuffle, a join that fell off broadcast, or a scan
    * that stopped pushing its filter shows up as a table diff in review
    * rather than as a regression at the next bench. The audit session
    * runs with AQE off: AQE can only improve on the static plan at
    * runtime, and its wrapper node hides children from traversal before
    * execution.
    */
  def audit(name: String, plan: SparkPlan): Audit = {
    val nodes = plan.collect { case p => p }
    def n(pf: PartialFunction[SparkPlan, Unit]) = nodes.count(pf.isDefinedAt)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val (total, inside) = codegenCover(plan, in = false)
    val pct = if (total == 0) 0 else (inside * 100) / total
    Audit(name,
      shuffles = n { case _: ShuffleExchangeExec => },
      bcasts = n { case _: BroadcastExchangeExec => },
      smj = n { case _: SortMergeJoinExec => },
      bhj = n { case _: BroadcastHashJoinExec => },
      shj = n { case _: ShuffledHashJoinExec => },
      bnlj = n { case _: BroadcastNestedLoopJoinExec => },
      cartesian = n { case _: CartesianProductExec => },
      sorts = n { case _: SortExec => },
      windows = n { case _: WindowExec => },
      aggs = n { case _: BaseAggregateExec => },
      scans = scans.size,
      pushedScans = scans.count(s =>
        s.dataFilters.nonEmpty || s.requiredSchema.length <
          s.relation.dataSchema.length),
      codegenPct = pct)
  }

  private def auditDoc(sfDir: String, rows: Seq[Audit]): String = {
    val hdr =
      "| query | shuffles | bcasts | SMJ | BHJ | SHJ | BNLJ | cart | " +
        "sorts | windows | aggs | scans | pushed | codegen% |"
    val sep = "|---" * 14 + "|"
    val body = rows.map { a =>
      s"| ${a.name} | ${a.shuffles} | ${a.bcasts} | ${a.smj} | ${a.bhj} " +
        s"| ${a.shj} | ${a.bnlj} | ${a.cartesian} | ${a.sorts} " +
        s"| ${a.windows} | ${a.aggs} | ${a.scans} | ${a.pushedScans} " +
        s"| ${a.codegenPct} |"
    }
    val totals =
      s"\nTotals: ${rows.size} queries · " +
        s"${rows.map(_.shuffles).sum} shuffles · " +
        s"${rows.map(_.bcasts).sum} broadcasts · " +
        s"${rows.map(_.bnlj).sum} BNLJ + ${rows.map(_.cartesian).sum} " +
        "cartesian (all on the documented bounded-fan-out allowlist, " +
        "enforced by ScaleSpec's pair-product gate) · median codegen " +
        s"coverage ${rows.map(_.codegenPct).sorted.apply(rows.size / 2)}%.\n"
    // NOT stripMargin: the table rows' leading '|' would be stripped
    Seq(
      "# PLANS — static physical-plan audit", "",
      "Generated by `sbt \"runMain graft.examples.Profile audit\"` at",
      s"sf=`$sfDir`, AQE off (static plan; AQE only improves on these",
      "counts at runtime). Columns: Exchange counts (shuffle /",
      "broadcast), join algorithm counts (sort-merge / broadcast-hash /",
      "shuffled-hash / broadcast-nested-loop / cartesian), SortExec",
      "count, window + aggregate operator counts, parquet scan count",
      "and how many of those scans push a data filter or prune",
      "columns, and the share of plan nodes inside WholeStageCodegen.",
      totals, hdr, sep).mkString("\n") + "\n" +
      body.mkString("\n") + "\n"
  }

  // -------------------------------------------------------------- aqe mode

  /** Walk a FINALIZED adaptive plan, descending through the wrapper
    * nodes that hide children from a plain `collect`:
    * AdaptiveSparkPlanExec exposes the final plan via a method, and
    * each materialized QueryStageExec is a leaf wrapping its stage.
    */
  private def flattenAdaptive(p: SparkPlan): Seq[SparkPlan] = {
    val expanded = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: expanded.flatMap(flattenAdaptive)
  }

  final case class AqeAudit(name: String, wallS: Double,
                            shuffleReadParts: Seq[Int], skewSplits: Int,
                            smj: Int, bhj: Int, shj: Int,
                            outParts: Int)

  /** What AQE actually did to `df`, which must have executed: per
    * shuffle read its post-coalesce partition count (a compute-heavy
    * stage reading from 1–2 partitions is the trap signature — AQE
    * sizes shuffles by BYTES, not downstream CPU, and both r7
    * performance traps were exactly that), skew-split counts, and the
    * final join algorithms (a static SMJ demoted to BHJ at runtime
    * shows up here, not in the static table).
    */
  def aqeAudit(name: String, wallS: Double, df: DataFrame): AqeAudit = {
    val nodes = flattenAdaptive(df.queryExecution.executedPlan)
    val reads = nodes.collect { case r: AQEShuffleReadExec => r }
    AqeAudit(name, wallS,
      shuffleReadParts = reads.map(_.partitionSpecs.size),
      skewSplits = reads.map(_.partitionSpecs.count(
        _.getClass.getSimpleName.contains("PartialReducer"))).sum,
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      shj = nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
      outParts = try df.rdd.getNumPartitions catch {
        case scala.util.control.NonFatal(_) => -1 })
  }

  /** Top-`n` query names by best wall seconds from a bench-detail JSON
    * (`{"detail": {"q_x": {"best": 1.23, ...}, ...}}`), parsed with
    * the json4s shipped inside Spark — no extra dependency.
    */
  private def topByWall(detailPath: String, n: Int): Seq[(String, Double)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(new java.io.File(detailPath))
    (root \ "detail") match {
      case JObject(fields) =>
        fields.collect { case (q, o: JObject) =>
          (o \ "best") match {
            case JDouble(b) => Some(q -> b)
            case JInt(b) => Some(q -> b.toDouble)
            case _ => None
          }
        }.flatten.sortBy(-_._2).take(n)
      case _ => Seq.empty
    }
  }

  /** The newest committed bench detail under `plans/`. */
  private def newestDetail(): String = {
    val cands = Option(new java.io.File("plans").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("BENCH_DETAIL_") &&
        f.getName.endsWith(".json"))
    require(cands.nonEmpty, "no plans/BENCH_DETAIL_*.json found; pass one")
    cands.maxBy(_.getName).getPath
  }

  private val aqeMarker = "## AQE final plans"

  private def aqeSection(sfDir: String, detailPath: String, partitions: String,
                         rows: Seq[AqeAudit]): String = (Seq(
      aqeMarker + " (top-20 by committed bench wall)", "",
      "Generated by `sbt \"runMain graft.examples.Profile aqe\"` at",
      s"sf=`$sfDir`, ranking from `$detailPath`, shuffle.partitions=$partitions.",
      "These are the ADAPTIVE plans after execution — what AQE actually",
      "chose, where the static table above can only show the pre-AQE",
      "shape. `read-parts` lists each AQE shuffle read's post-coalesce",
      "partition count: a compute-heavy stage squeezed onto 1–2",
      "partitions is the r7 trap signature (AQE sizes by bytes, not",
      "downstream CPU) and wants an explicit width pin at the source.",
      "`skew` counts PartialReducer splits; SMJ/BHJ/SHJ are the FINAL",
      "join algorithms; `out-parts` is the result RDD's partition count.",
      "",
      "| query | bench wall s | read-parts | skew | SMJ | BHJ | SHJ | out-parts |",
      "|---|---|---|---|---|---|---|---|") ++
      rows.map(a => s"| ${a.name} | ${f"${a.wallS}%.2f"} " +
        s"| ${if (a.shuffleReadParts.isEmpty) "-"
             else a.shuffleReadParts.mkString(",")} " +
        s"| ${a.skewSplits} | ${a.smj} | ${a.bhj} | ${a.shj} " +
        s"| ${a.outParts} |")).mkString("\n") + "\n"

  /** Rewrite PLANS.md's static table or its AQE section, keeping the
    * other part verbatim.
    */
  private def writePlans(static: Option[String], aqe: Option[String]): Unit = {
    val path = Paths.get("PLANS.md")
    val existing = if (Files.exists(path)) Files.readString(path) else ""
    val (oldStatic, oldAqe) = existing.indexOf(aqeMarker) match {
      case -1 => (existing, "")
      case i => (existing.substring(0, i), existing.substring(i))
    }
    val top = static.getOrElse(
      oldStatic.reverse.dropWhile(_ == '\n').reverse + "\n")
    val tail = aqe.getOrElse(oldAqe)
    Files.writeString(path, top + (if (tail.isEmpty) "" else "\n" + tail))
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !modes.contains(args(0))) {
      System.err.println("usage: graft.examples.Profile " +
        "<explain|final|stages|stream> [q_a …] | audit [sfDir] | aqe [detail.json]")
      sys.exit(2)
    }
    val mode = args(0)
    val rest = args.toSeq.tail
    val spark = Harness.session()
    val metrics = Harness.listen(spark)
    val sfDir =
      if (mode == "audit") rest.headOption.getOrElse(Harness.settings.sfDir)
      else Harness.settings.sfDir
    def drive(name: String)(sink: => Unit): Harness.Driven = {
      val d = Harness.drive(spark, metrics)(sink)
      d.failure.foreach(e =>
        System.err.println(s"[profile] $name failed: ${Harness.describe(e)}"))
      d
    }
    mode match {
      case "explain" =>
        for ((name, q) <- Harness.select("profile", rest)) drive(name) {
          println(s"\n========== $name ==========")
          q(spark, sfDir).explain("formatted")
        }
      case "audit" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val rows = mutable.ArrayBuffer.empty[Audit]
        for ((name, q) <- Harness.select("profile").sortBy(_._1)) drive(name) {
          rows += audit(name, q(spark, sfDir).queryExecution.executedPlan)
        }
        writePlans(Some(auditDoc(sfDir, rows.toSeq)), None)
        println(s"[profile] wrote PLANS.md (${rows.size} queries)")
      case "aqe" =>
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        val detail = rest.headOption.getOrElse(newestDetail())
        val selected = Harness.select("profile").toMap
        val ranked = topByWall(detail, 20).filter(r => selected.contains(r._1))
        require(ranked.nonEmpty, s"no selected detail entries parsed from $detail")
        val rows = mutable.ArrayBuffer.empty[AqeAudit]
        for ((name, wall) <- ranked) drive(name) {
          val df = selected(name)(spark, sfDir)
          df.collect() // drive execution so AQE finalizes every stage
          rows += aqeAudit(name, wall, df)
        }
        writePlans(None, Some(aqeSection(sfDir, detail,
          spark.conf.get("spark.sql.shuffle.partitions"), rows.toSeq)))
        println(s"[profile] wrote the AQE section (${rows.size} queries) to PLANS.md")
      case _ =>
        for ((name, q) <- Harness.select("profile", rest)) {
          drive(name)(Harness.noop(q(spark, sfDir))) // warm: JIT, codegen, IO cache
          val probe: Option[Probe] = mode match {
            case "final" => Some(new FinalPlan)
            case "stream" => Some(new StreamBatches)
            case _ => None // stages: the drive's own buckets
          }
          probe.foreach(_.attach(spark))
          val d = drive(name)(Harness.noop(q(spark, sfDir)))
          probe.foreach(_.detach(spark))
          println(f"== $name%s wall=${d.wallS}%.2fs")
          probe.fold(stageLines(d.stages))(_.report())
            .foreach(l => println("  " + l))
        }
    }
    Harness.stop(spark)
  }
}
