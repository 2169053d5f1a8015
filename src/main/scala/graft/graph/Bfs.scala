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
  * work O(edges reachable) rather than O(edges × depth). Same
  * iterative-Spark discipline as [[ConnectedComponents]]: lineage cut
  * with `localCheckpoint` per round, superseded blocks unpersisted,
  * no driver-side state. The round shuffle is keyed by node id; skew
  * equals max out-degree — cap hub fan-out upstream if the graph has
  * stop-token-grade hubs.
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
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .transform(Materialize.checkpoint(_))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"))
      .withColumn("dist", lit(0L))
      .transform(Materialize.checkpoint(_))
    for (round <- 1 to maxDepth) {
      val next = dist.filter(col("dist") === round - 1)
        .join(e, dist("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .withColumn("dist", lit(round.toLong))
      val merged = dist.unionByName(next)
        .groupBy("node").agg(min("dist").as("dist"))
        .transform(Materialize.checkpoint(_))
      Materialize.release(dist)
      dist = merged
    }
    Materialize.release(e)
    dist
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
    val inc = incidence
      .select(col(nodeCol).as("node"), col(edgeCol).as("edge"))
      .filter(col("node").isNotNull && col("edge").isNotNull)
      .distinct()
      .transform(Materialize.checkpoint(_))
    val nodes = inc.select("node").distinct()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"))
      .withColumn("dist", lit(0L))
      .transform(Materialize.checkpoint(_))
    for (round <- 1 to maxDepth) {
      val frontierEdges = dist.filter(col("dist") === round - 1)
        .join(inc, Seq("node"))
        .select("edge").distinct()
      val next = frontierEdges.join(inc, Seq("edge"))
        .select("node").distinct()
        .withColumn("dist", lit(round.toLong))
      val merged = dist.unionByName(next)
        .groupBy("node").agg(min("dist").as("dist"))
        .transform(Materialize.checkpoint(_))
      Materialize.release(dist)
      dist = merged
    }
    Materialize.release(inc)
    dist
  }
}
