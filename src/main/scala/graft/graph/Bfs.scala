package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Bounded-depth breadth-first search over an edge list: minimum hop
  * distance from a seed set — the "link distance from trusted sources"
  * primitive crawl-curation pipelines score documents with, and the
  * neighborhood-expansion step of graph feature engineering.
  *
  * Per round, only the FRONTIER (nodes first reached in the previous
  * round) is expanded: one keyed join frontier × edges + a distinct +
  * a min-merge into the distance table. A node first reached in round
  * d has true min-distance d (all shorter paths would have surfaced
  * in earlier rounds), so frontier-only expansion is exact — each
  * node is expanded at most once across the whole run, making total
  * work O(edges reachable) rather than O(edges × depth). Rounds run on
  * [[graft.ops.Materialize.rounds]], with no driver-side state. The
  * round shuffle is keyed by node id; skew equals max out-degree — cap
  * hub fan-out upstream if the graph has stop-token-grade hubs.
  */
object Bfs {

  /** `(node, dist)` for every node within `maxDepth` hops of `seeds`
    * (directed edges; symmetrize for undirected). Seeds not present in
    * the graph's node set are ignored; unreachable nodes are absent.
    * Depth is bounded (not run to exhaustion) so the round count —
    * and the oracle's recursion — is fixed regardless of diameter.
    */
  def hopDistance(edges: DataFrame, seeds: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst",
                  seedCol: String = "node", maxDepth: Int = 6): DataFrame = {
    require(maxDepth >= 0, s"need maxDepth >= 0: $maxDepth")
    Materialize.rounds { r =>
      val e = r.scratch(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
      hops(r, nodes, seeds, seedCol, maxDepth)(
        _.join(e, col("node") === col("src")).select(col("dst").as("node")))
    }
  }

  /** Hop distance over a HYPERGRAPH given as an incidence list
    * `(node, edge)`: two nodes are at distance 1 when they share a
    * hyperedge (co-purchase baskets, co-authorship, tokens sharing a
    * document). The naive reduction materializes the pairwise
    * projection first — Σ|e|² pairs, a blowup the moment hyperedges
    * get large (a 1000-member edge is 10⁶ pairs) — whereas each round
    * here composes node→edge→node as TWO keyed equi-joins on the
    * incidence list itself: frontier nodes → their hyperedges
    * (distinct) → those hyperedges' members. Per-round work is linear
    * in the frontier's incidence, total edge-list footprint is Σ|e|,
    * and the checkpoint/merge cadence is one barrier per HOP (not per
    * half-step), so wall cost matches the pairwise BFS while the
    * shuffle volume survives hyperedges of any size.
    *
    * Same contract as [[hopDistance]]: min-merge keeps first reach
    * exact, seeds absent from the incidence node set are ignored,
    * depth-bounded. A node whose every hyperedge is singleton has no
    * neighbors; pre-filter singleton edges if the pairwise node-set
    * semantics ("nodes with ≥1 partner") matter to the caller.
    */
  def hopDistanceHyper(incidence: DataFrame, seeds: DataFrame,
                       nodeCol: String = "node", edgeCol: String = "edge",
                       seedCol: String = "node",
                       maxDepth: Int = 6): DataFrame = {
    require(maxDepth >= 0, s"need maxDepth >= 0: $maxDepth")
    Materialize.rounds { r =>
      val inc = r.scratch(incidence
        .select(col(nodeCol).as("node"), col(edgeCol).as("edge"))
        .filter(col("node").isNotNull && col("edge").isNotNull)
        .distinct())
      hops(r, inc.select("node").distinct(), seeds, seedCol, maxDepth)(
        _.join(inc, Seq("node")).select("edge").distinct()
          .join(inc, Seq("edge")).select("node"))
    }
  }

  /** The one BFS loop: `dist` starts at the seeds present in `nodes`,
    * and round d min-merges `expand(frontier)` — the nodes one hop from
    * those first reached in round d − 1 — at distance d.
    */
  private def hops(r: Materialize.Rounds, nodes: DataFrame, seeds: DataFrame,
                   seedCol: String, maxDepth: Int)
                  (expand: DataFrame => DataFrame): DataFrame =
    r.loop(seeds.select(col(seedCol).as("node")).distinct()
        .join(nodes, Seq("node"))
        .withColumn("dist", lit(0L)), maxDepth) { (dist, round) =>
      val next = expand(dist.filter(col("dist") === round - 1)).distinct()
        .withColumn("dist", lit(round.toLong))
      dist.unionByName(next)
        .groupBy("node").agg(min("dist").as("dist"))
    }
}
