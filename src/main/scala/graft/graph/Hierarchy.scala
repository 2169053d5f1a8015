package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Hierarchy flattening — the recursive-CTE capability (org charts,
  * bill-of-materials, category trees) expressed as iterative keyed
  * joins, since Spark has no `WITH RECURSIVE`.
  *
  * Algorithm: pointer doubling (a.k.a. path doubling). Every node
  * tracks its highest KNOWN ancestor plus the distance and the id-path
  * to it; each round every node jumps to its ancestor's ancestor by
  * one self-equi-join, so the resolved distance DOUBLES per round and
  * a depth-D forest settles in ceil(log2 D) + 1 rounds — 20 rounds
  * cover depth 2^19, against 2^19 rounds for naive parent-walking.
  *
  * Scale notes (100 TB stance):
  *  - Each round is ONE equi-join keyed on the ancestor id over the
  *    full node set — no driver-side traversal, no collect; total work
  *    O(N log D) join rows.
  *  - Rounds run on [[graft.ops.Materialize.rounds]], which cuts
  *    lineage each round and frees round state under its one policy.
  *  - Join skew equals in-degree of the PARTIAL ancestor pointers,
  *    which pointer doubling spreads: after round k a node's pointer
  *    lands 2^k levels up, so hot roots only concentrate in the last
  *    round (and only to |their subtree| lookups of one build row).
  */
object Hierarchy {

  /** Resolve every node to its root: `(id, depth, path)` where `depth`
    * is the edge count to the root and `path` is the "/"-joined ids
    * from the ROOT down to the node (so `split(path,'/')[0]` is the
    * root). `nodes` must carry one row per node with a nullable parent
    * column (null = root); every non-null parent must itself appear as
    * a node id, and the relation must be acyclic.
    *
    * Throws if not settled within `maxIter` rounds — with doubling
    * that means depth > 2^(maxIter-1), which for the default 20 is a
    * graph no storable hierarchy reaches; an unconverged result would
    * silently truncate paths, so fail loud (a CYCLE also lands here
    * rather than looping forever).
    */
  def resolve(nodes: DataFrame, idCol: String, parentCol: String,
              maxIter: Int = 20): DataFrame = Materialize.rounds { r =>
    // State invariant: `anc` = highest known ancestor (null once the
    // root is reached), `depth` = edges from id up to anc (or to the
    // root when anc is null), `path` = ids from anc EXCLUSIVE down to
    // id inclusive — so when anc resolves to null, path is the full
    // root-inclusive chain.
    // The convergence count is the action that materializes each lazy
    // round (VERDICT r13 #4: the eager form ran two jobs per round, and
    // at small SF this query's wall was almost entirely that per-job
    // fixed cost — driver 8-core: 4.19 s wall vs 1.25 s task time).
    var remaining = 0L
    def settled(df: DataFrame): Boolean = {
      remaining = df.filter(col("anc").isNotNull).count()
      remaining == 0
    }
    r.until(nodes.select(
        col(idCol).cast("long").as("id"),
        col(parentCol).cast("long").as("anc"),
        when(col(parentCol).isNull, 0L).otherwise(1L).as("depth"),
        col(idCol).cast("string").as("path")), maxIter)(settled,
      throw new IllegalArgumentException(
        s"hierarchy not settled after $maxIter doubling rounds " +
          s"($remaining nodes unresolved) — depth > " +
          s"${1L << (maxIter - 1)} or a cycle")
    ) { (state, _) =>
      // jump: every unresolved node adopts its ancestor's ancestor,
      // splicing the ancestor's path segment in FRONT of its own
      val b = state.select(col("id").as("b_id"), col("anc").as("b_anc"),
        col("depth").as("b_depth"), col("path").as("b_path"))
      state.join(b, state("anc") === b("b_id"), "left")
        .select(col("id"),
          // resolved rows never match (null join key) — b_* stay null
          // and anc stays null. A DANGLING parent (no matching node
          // row) must NOT be mistaken for resolution: keep its anc so
          // the maxIter guard fails loud instead of truncating paths.
          when(col("anc").isNotNull && col("b_path").isNull, col("anc"))
            .otherwise(col("b_anc")).as("anc"),
          (col("depth") + coalesce(col("b_depth"), lit(0L))).as("depth"),
          when(col("b_path").isNull, col("path"))
            .otherwise(concat(col("b_path"), lit("/"), col("path")))
            .as("path"))
    }.select("id", "depth", "path")
  }
}
