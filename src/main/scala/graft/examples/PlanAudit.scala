package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{GraftSession, SparkEntry}

/** Physical-plan audit over the whole declared surface: for every
  * `SparkEntry.queries` entry, count the plan features that decide
  * 100 TB behavior — shuffles, broadcasts, join algorithms, sorts,
  * window operators, whole-stage-codegen coverage, and scan-level
  * filter pushdown — and write the table to `PLANS.md`.
  *
  * This is the audit loop the build runs after correctness goes green
  * ("would this plan survive a 100× scale-up?") made repeatable: run
  * `sbt "runMain graft.examples.PlanAudit"` after adding an operator
  * and diff PLANS.md — a new shuffle, a join that fell off broadcast,
  * or a scan that stopped pushing its filter shows up as a table diff
  * in review rather than as a regression at the next bench.
  *
  * AQE is off in the audit session so the counts are the STATIC plan
  * (AQE can only improve on it at runtime — e.g. demoting a shuffle
  * join to broadcast — and its wrapper node hides children from
  * traversal before execution).
  */
object PlanAudit {

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
    import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter}
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
      sorts = n { case s: org.apache.spark.sql.execution.SortExec => },
      windows = n { case _: WindowExec => },
      aggs = n { case _: BaseAggregateExec => },
      scans = scans.size,
      pushedScans = scans.count(s =>
        s.dataFilters.nonEmpty || s.requiredSchema.length <
          s.relation.dataSchema.length),
      codegenPct = pct)
  }

  // ---------------------------------------------------------------- AQE mode

  /** Walk a FINALIZED adaptive plan, descending through the wrapper
    * nodes that hide children from a plain `collect`:
    * AdaptiveSparkPlanExec exposes the final plan via a method, and
    * each materialized QueryStageExec is a leaf wrapping its stage.
    */
  private def flattenAdaptive(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
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

  /** Execute `names` with AQE ON and audit the ADAPTIVE final plans.
    *
    * Rationale (r8, VERDICT item 4): PLANS.md's static table cannot
    * see AQE *runtime* decisions, and both r7 performance traps were
    * exactly that — AQE coalescing a fan-out compute stage onto 1–2
    * partitions because it sizes shuffles by BYTES, not downstream
    * CPU. This mode records what AQE actually did: per-shuffle-read
    * post-coalesce partition counts (a compute-heavy stage reading
    * from 1–2 partitions is the trap signature), skew-split counts,
    * and the final join algorithms (a static SMJ demoted to BHJ at
    * runtime shows up here, not in the static table).
    */
  def aqeAudit(spark: SparkSession, sfDir: String,
               ranked: Seq[(String, Double)]): Seq[AqeAudit] = {
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    ranked.flatMap { case (name, wall) =>
      SparkEntry.queries.get(name).map { fn =>
        val df = fn(spark, sfDir)
        df.collect() // drive execution so AQE finalizes every stage
        val nodes = flattenAdaptive(df.queryExecution.executedPlan)
        val reads = nodes.collect { case r: AQEShuffleReadExec => r }
        AqeAudit(name, wall,
          shuffleReadParts = reads.map(_.partitionSpecs.size),
          skewSplits = reads.map(_.partitionSpecs.count(
            _.getClass.getSimpleName.contains("PartialReducer"))).sum,
          smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
          bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
          shj = nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
          outParts = try df.rdd.getNumPartitions catch {
            case scala.util.control.NonFatal(_) => -1 })
      }
    }
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

  private def runAqeMode(sfDir: String, detailPath: String): Unit = {
    val spark = GraftSession.local(4, 32,
      Seq("spark.sql.adaptive.enabled" -> "true"))
    val ranked = topByWall(detailPath, 20)
    require(ranked.nonEmpty, s"no detail entries parsed from $detailPath")
    val rows = aqeAudit(spark, sfDir, ranked)
    val marker = "## AQE final plans"
    val section = Seq(
      "", marker + " (top-20 by committed bench wall)", "",
      s"Generated by `sbt \"runMain graft.examples.PlanAudit --aqe\"` at",
      s"sf=`$sfDir`, ranking from `$detailPath`, shuffle.partitions=32.",
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
        s"| ${a.outParts} |")
    val path = Paths.get("PLANS.md")
    val existing = if (Files.exists(path))
      new String(Files.readAllBytes(path), "UTF-8") else ""
    val base = existing.indexOf(marker) match {
      case -1 => existing
      case i => existing.substring(0, i).reverse.dropWhile(_ == '\n').reverse + "\n"
    }
    Files.write(path,
      (base + section.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"[plan-audit] appended AQE section (${rows.size} queries) to PLANS.md")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--aqe")) {
      val pos = args.filterNot(_.startsWith("--"))
      val detail = pos.find(_.endsWith(".json")).getOrElse {
        // newest committed bench detail in the repo root
        val cands = new java.io.File(".").listFiles()
          .filter(f => f.getName.startsWith("BENCH_DETAIL_") &&
            f.getName.endsWith(".json"))
        require(cands.nonEmpty, "no BENCH_DETAIL_*.json found; pass one")
        cands.maxBy(_.getName).getPath
      }
      // sf0.01 default: at sf0.001 every shuffle coalesces to 1
      // partition and the audit reads as all-trap
      val sfDir = pos.find(p => !p.endsWith(".json"))
        .getOrElse("/root/testdata/sf0.01")
      runAqeMode(sfDir, detail)
      return
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4, 4,
      Seq("spark.sql.adaptive.enabled" -> "false"))
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      audit(name, fn(spark, sfDir).queryExecution.executedPlan)
    }
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
    val doc = Seq(
      "# PLANS — static physical-plan audit", "",
      "Generated by `sbt \"runMain graft.examples.PlanAudit\"` at",
      s"sf=`$sfDir`, AQE off (static plan; AQE only improves on these",
      "counts at runtime). Columns: Exchange counts (shuffle /",
      "broadcast), join algorithm counts (sort-merge / broadcast-hash /",
      "shuffled-hash / broadcast-nested-loop / cartesian), SortExec",
      "count, window + aggregate operator counts, parquet scan count",
      "and how many of those scans push a data filter or prune",
      "columns, and the share of plan nodes inside WholeStageCodegen.",
      totals, hdr, sep).mkString("\n") + "\n" +
      body.mkString("\n") + "\n"
    // a static re-run must not discard the separately-generated AQE
    // section — carry it over verbatim
    val path = Paths.get("PLANS.md")
    val aqeSection = if (Files.exists(path)) {
      val existing = new String(Files.readAllBytes(path), "UTF-8")
      existing.indexOf("## AQE final plans") match {
        case -1 => ""
        case i => "\n" + existing.substring(i)
      }
    } else ""
    Files.write(path, (doc + aqeSection).getBytes("UTF-8"))
    println(s"[plan-audit] wrote PLANS.md (${rows.size} queries)")
    spark.stop()
  }
}
