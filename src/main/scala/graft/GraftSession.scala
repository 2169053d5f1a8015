package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: Bench, Verify, every
  * example main and the test base all take their session from
  * [[local]], so the settings below cannot drift apart between the
  * run that is timed, the run that is checked and the run that is
  * profiled.
  */
object GraftSession {

  /** Settings every graft session carries. */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // Whole-stage-codegen CLASS cache (static conf, default 100
    // entries): the iterative graph queries compile ~130 codegen
    // units per run — past 100 the LRU thrashes and EVERY iteration
    // recompiles the lot (r13 forensics: q_ppr_terms codegen_n
    // [128, 98, 106] across its three iterations, 6–20 s of JIT per
    // pass on a 3.4 s-run_ms query). This caches compiled CLASSES,
    // never data or results; sized to hold the suite's largest
    // query several times over.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // SURVEY §4: coercion parity with the reference (pandas
    // errors='coerce'): malformed casts null out instead of throwing.
    // Queries also use try_cast at every string→number site, so the
    // suite is green under ANSI too (`SPARK_GRAFT_ANSI=true sbt test`
    // proves it); the pin makes the run config explicit.
    "spark.sql.ansi.enabled" -> "false",
    // Naive parquet timestamps surface as TIMESTAMP, not NTZ — two
    // rounds of testdata `ts` re-encodings (BASELINE.md §7); the
    // type-driven repair in Tables.normalizeTs is the second belt.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    // The default 60 s state-store maintenance tick snapshots EVERY
    // loaded provider — including orphans of already-completed
    // AvailableNow drains — and its cost lands on whichever query
    // happens to be running, a roaming +3–12 s run_ms tax that
    // moved between q_stream_* rows every round (measured r10:
    // streaming mini-suite run_ms 29.5 s → 15.3 s with the tick
    // stretched). Drains live ≪ 60 s, so maintenance buys them
    // nothing; one tick per hour still bounds orphaned-provider
    // memory over the longest suite run. Graft-built sessions only —
    // the library never mutates a caller's session.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    // native functions, AsofJoinStrategy and ApproxDistinctRewrite,
    // installed once when the session is built (children from
    // newSession() share them)
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)
  // NOTE (r11, measured both ways — BASELINE §17.1): raising
  // spark.sql.objectHashAggregate.sortBased.fallbackThreshold from
  // its 128-key default looked like a free 2.6× on the typed-
  // aggregate apply stages at close scale (collect_set baskets:
  // 6.7 s → 2.5 s), but at the ×100 leg the hash path's per-group
  // OBJECT states thrash the collector (q_item_sim 64.9 → 104.8 s
  // with 605 s of GC even in a 32 GiB heap; containment 23 → 32 s)
  // where the sort fallback streams ONE state at a time. The
  // default is kept: no key-count threshold separates the two
  // regimes, and the structural fix (compute each typed aggregate
  // ONCE — see AnalyticsQueries.baskets) captures most of the win
  // at every scale.

  /** A `local[cores]` session with `partitions` shuffle partitions,
    * the [[settings]] table and then the caller's own `conf` (a key in
    * both takes the caller's value). Everything is applied at build
    * time, so `newSession()` children inherit it. Returns the live
    * session when one exists, like `getOrCreate`.
    */
  def local(cores: Int, partitions: Int,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions.toString)
    (settings ++ conf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietLogs
    spark
  }

  /** Message-targeted log hygiene, installed once per JVM.
    *
    * The iterative graph ops (PageRank / ConnectedComponents /
    * LabelPropagation / Bfs / Hierarchy) follow the
    * [[graft.ops.Materialize]] memory discipline: each round's state is
    * a local checkpoint and the SUPERSEDED round's blocks are explicitly
    * released (`Materialize.release`; the harness sweeps leftovers with
    * `Materialize.releaseOwned`), so peak storage is two rounds, not
    * `iters` rounds — the property that matters when the per-round
    * state is 100 TB-scale. Spark 4's `RDD.unpersist` logs an
    * unconditional WARN ("was locally checkpointed, its lineage has
    * been truncated and cannot be recomputed") for ANY locally-
    * checkpointed RDD, with no safe/unsafe distinction — in our usage
    * nothing ever references the unpersisted round again (the round-4
    * audit confirmed zero recompute failures across the whole suite),
    * so that one message is pure noise that floods the bench tail.
    *
    * WindowExec warns "No Partition Defined for Window operation!
    * ... Moving all data to a single partition" on EVERY unpartitioned
    * window — including the suite's deliberate ones, which are all
    * either value-domain-sized (skewReport / intervalOverlapCount
    * count-of-counts spines) or post-reduction (top-k over an already
    * aggregated relation), each plan-gated by ScaleSpec's reduced-
    * input assertions. ~60 repeats of the same warning walled the
    * bench tail and buried real warnings (VERDICT r11 #7). A NEW
    * unpartitioned window a regression introduces still fails
    * ScaleSpec.
    *
    * Suppression is a regex DENY filter on the root logger config that
    * drops exactly these messages — never level- or package-scoped, so
    * every other WARN (input-split problems, caching fallbacks, future
    * deprecations) still reaches the driver logs.
    */
  private lazy val quietLogs: Unit =
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        Seq(".*locally checkpointed.*",
            ".*No Partition Defined for Window operation.*").foreach { p =>
          ctx.getConfiguration.getRootLogger.addFilter(
            RegexFilter.createFilter(p, null, java.lang.Boolean.FALSE,
              Filter.Result.DENY, Filter.Result.NEUTRAL))
        }
        ctx.updateLoggers()
      case _ => () // non-core log4j binding: leave logging untouched
    }
}
