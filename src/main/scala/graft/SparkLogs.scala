package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.filter.RegexFilter

/** Log hygiene for the driver-run mains.
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
  * Suppression is MESSAGE-targeted, not level- or package-targeted: a
  * regex DENY filter on the root logger config drops exactly this
  * message and nothing else, so every other WARN in
  * `org.apache.spark.rdd` (input-split problems, caching fallbacks,
  * future deprecations) still reaches the driver logs.
  */
object SparkLogs {
  def quietIterativeCleanup(): Unit = {
    addDenyFilter(".*locally checkpointed.*")
    // WindowExec warns "No Partition Defined for Window operation!
    // ... Moving all data to a single partition" on EVERY unpartitioned
    // window — including the suite's deliberate ones, which are all
    // either value-domain-sized (skewReport / intervalOverlapCount
    // count-of-counts spines) or post-reduction (top-k over an already
    // aggregated relation), each plan-gated by ScaleSpec's reduced-
    // input assertions. ~60 repeats of the same warning walled the
    // bench tail and buried real warnings (VERDICT r11 #7). Message-
    // targeted like the filter above: a NEW unpartitioned window a
    // regression introduces still fails ScaleSpec, and every other
    // WARN from the window package still reaches the logs.
    addDenyFilter(".*No Partition Defined for Window operation.*")
  }

  /** Root-logger message-targeted DENY — never level- or
    * package-scoped, so only the exact known-benign message drops.
    */
  private def addDenyFilter(pattern: String): Unit =
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val filter = RegexFilter.createFilter(
          pattern, null, java.lang.Boolean.FALSE,
          Filter.Result.DENY, Filter.Result.NEUTRAL)
        ctx.getConfiguration.getRootLogger.addFilter(filter)
        ctx.updateLoggers()
      case _ => () // non-core log4j binding: leave logging untouched
    }
}
