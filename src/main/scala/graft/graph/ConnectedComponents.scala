package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Connected components over an edge list — the clustering step a
  * dedup pipeline needs between "near-dup PAIRS" (Dedup/Similarity
  * output) and "keep one document per duplicate CLUSTER": transitive
  * closure groups `{a~b, b~c}` into one cluster even though (a, c) was
  * never emitted as a pair.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id; each round, a node's label becomes the
  * minimum of its own and its neighbors' labels; fixpoint = components
  * labeled by their minimum member. Each round is one keyed join plus
  * one aggregate — no driver-side graph state, no collect.
  *
  * Scale notes (100 TB stance):
  *  - Rounds needed = graph diameter. Near-dup clusters are dense
  *    (diameter 2–4 even for huge clusters), so propagation converges
  *    in a handful of rounds; the O(log n) large-star/small-star
  *    variant (Kiveris et al., "Connected components in MapReduce and
  *    beyond", SoCC 2014) only pays off on long-chain graphs, which
  *    dedup edges are not.
  *  - Rounds run on [[graft.ops.Materialize.rounds]], which cuts
  *    lineage each round and frees round state under its one policy.
  *  - The per-round shuffle is keyed by node id; skew equals max
  *    degree, which for near-dup graphs is bounded by the candidate
  *    caps upstream (`maxDf` / `maxBucket` in [[graft.dedup.Dedup]]).
  */
object ConnectedComponents {

  /** Label every node reachable from `edges` with its component's
    * minimum node id. Returns `(id, component)` — one row per distinct
    * node appearing in the edge list (callers left-join to pick up
    * isolated nodes as their own singletons).
    *
    * Throws if not converged within `maxIter` rounds (an unconverged
    * labeling silently merges/splits clusters — fail loud instead).
    */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          maxIter: Int = 20): DataFrame = Materialize.rounds { r =>
    val sym = r.scratch(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()) // reused every round
    // Convergence detection without a labels-vs-labels compare join:
    // min-propagation is monotone (labels only ever DECREASE), so the
    // label sum strictly decreases every non-converged round and is
    // stable exactly at the fixpoint. decimal(38,0) so huge id sums
    // cannot overflow (sum of 10^12 ids × 2^63 fits in 38 digits).
    var prevSum: Option[java.math.BigDecimal] = None
    def settled(df: DataFrame): Boolean = {
      // sum over an EMPTY frame is NULL — map to 0 so a no-edge input
      // converges on the first round instead of NPEing the comparison
      val s = Option(df.agg(sum(col("component").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      val same = prevSum.exists(_.compareTo(s) == 0)
      prevSum = Some(s)
      same
    }
    // The RETURNED labels stay checkpointed deliberately: callers
    // typically consume them several times (join back, count, write).
    r.until(sym.select(col("a").as("id")).distinct()
        .withColumn("component", col("id")), maxIter)(settled,
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          "(graph diameter exceeds maxIter)")) { (labels, _) =>
      // one keyed join + one aggregate per round: neighbors' labels and
      // each node's own label union-fold through the same min — the
      // symmetric edge list guarantees every node reaches the aggregate
      sym
        .join(labels, sym("a") === labels("id"))
        .select(col("b").as("id"), col("component"))
        .union(labels)
        .groupBy("id")
        .agg(min("component").as("component"))
    }
  }
}
