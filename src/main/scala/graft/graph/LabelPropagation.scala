package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Synchronous weighted label propagation (Raghavan, Albert & Kumara,
  * "Near linear time algorithm to detect community structures in
  * large-scale networks", Phys. Rev. E 2007) — community detection
  * over an edge list. Every node starts labeled with its own id; each
  * round, a node adopts the label carrying the highest incoming edge
  * weight among its neighbors' current labels.
  *
  * Determinism: classic LPA breaks ties randomly and iterates
  * asynchronously — useless for a reproducible pipeline (and for an
  * engine-vs-oracle hash compare). This variant is fully
  * deterministic: synchronous rounds (all nodes step on the previous
  * round's labels) and ties broken by the SMALLEST label. A fixed
  * iteration count replaces the usual "until stable" loop — LPA on
  * bidirectional graphs can 2-cycle under synchronous updates, so a
  * fixpoint test may never fire; bounded rounds are the standard fix.
  *
  * Per round: one keyed join (labels × edges) + one grouped sum + one
  * per-node argmax window over ≤ |distinct neighbor labels| rows — the
  * same per-round shape as [[ConnectedComponents]] / [[PageRank]], on
  * the same [[graft.ops.Materialize.rounds]] loop, with no driver-side
  * graph state. At 100 TB the round shuffle is keyed by node id; skew
  * equals max in-degree — cap hub fan-in upstream (drop stop-token
  * nodes) the same way dedup caps hot shingles.
  */
object LabelPropagation {

  /** Label every node of the edge list with its community. Edges are
    * taken as DIRECTED adjacency (label flows src → dst, weighted);
    * pass a symmetrized list for undirected semantics. Returns
    * `(id, label)`, one row per distinct node.
    */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          weightCol: Option[String] = None, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"need iters >= 1: $iters")
    // double, not long: a long cast truncates fractional weights
    // (cosine-similarity edges all become 0 and every vote ties) —
    // integer weights stay exact as doubles up to 2^53, so the
    // integer-weighted oracle queries are unaffected
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    Materialize.rounds { r =>
      val e = r.scratch(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("wt"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .groupBy("src", "dst").agg(sum("wt").as("wt")))
      r.loop(e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id")))
          .distinct()
          .withColumn("label", col("id")), iters) { (labels, _) =>
        // weight of each candidate label at each node this round
        val flow = e.join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"), col("label"))
          .agg(sum("wt").as("__ws"))
        val win = Window.partitionBy("id")
          .orderBy(col("__ws").desc, col("label").asc)
        val pick = flow.withColumn("__rn", row_number().over(win))
          .filter(col("__rn") === 1)
          .select(col("id"), col("label").as("__new"))
        // nodes with no in-edges keep their current label
        labels.join(pick, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__new"), col("label")).as("label"))
      }
    }
  }
}
