package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Bfs, ConnectedComponents, Hierarchy, LabelPropagation,
  PageRank}

/** Graph operator correctness (connected components, PageRank and its
  * personalized form, BFS, hierarchy, label propagation) and the round
  * loop's storage and job discipline.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def componentsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain is transitively merged into one component") {
    // 1-2, 2-3, 3-4: (1,4) never appears as a pair but must co-cluster
    val got = componentsOf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate minimum labels") {
    val got = componentsOf(Seq((5L, 3L), (10L, 20L), (20L, 11L)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 10L -> 10L, 20L -> 10L, 11L -> 10L))
  }

  test("random graph matches a driver-side union-find oracle") {
    val rnd = new scala.util.Random(1234)
    val edges = (1 to 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    // tiny driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    // union-by-min keeps the minimum member as every root, so find(x)
    // is already the canonical (min) component label
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(componentsOf(edges) === want)
  }

  test("empty edge list yields empty labeling, no error") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    assert(ConnectedComponents.run(empty).count() === 0)
  }

  test("non-convergence within maxIter fails loud") {
    // a 12-node path needs ~11 min-propagation rounds; cap at 3
    val chain = (1L until 12L).map(i => (i, i + 1))
    val before = persistedIds
    intercept[IllegalStateException] {
      ConnectedComponents.run(chain.toDF("src", "dst"), maxIter = 3)
    }
    assert(persistedIds -- before === Set.empty, "round state leaked")
  }

  /** Driver-side PageRank power iteration with the same recurrence
    * (damping, dangling-mass redistribution, weighted out-fractions) —
    * the oracle for [[graft.graph.PageRank]].
    */
  private def pagerankOracle(edges: Seq[(String, String, Double)],
                             iters: Int, d: Double = 0.85)
  : Map[String, Double] = {
    val agg = edges.groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3).sum }
    val nodes = agg.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct
    val n = nodes.length
    val outW = agg.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    var ranks = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(outW.contains).map(ranks).sum
      val contrib = agg.toSeq
        .map { case ((s, t), w) => t -> ranks(s) * w / outW(s) }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
      ranks = nodes.map(v => v ->
        ((1.0 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    ranks
  }

  private def pagerankOf(edges: Seq[(String, String, Double)], iters: Int)
  : Map[String, Double] =
    graft.graph.PageRank.run(edges.toDF("src", "dst", "w"),
        weightCol = Some("w"), iters = iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pagerank: 2-cycle is uniform, ranks sum to 1") {
    val got = pagerankOf(Seq(("a", "b", 1.0), ("b", "a", 1.0)), iters = 5)
    assert(math.abs(got("a") - 0.5) < 1e-12)
    assert(math.abs(got("b") - 0.5) < 1e-12)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pagerank: star with dangling hub matches driver recompute") {
    val edges = Seq(("b", "a", 1.0), ("c", "a", 1.0), ("d", "a", 1.0))
    val got = pagerankOf(edges, iters = 10)
    val want = pagerankOracle(edges, iters = 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, k) }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "dangling mass conserved")
    assert(got("a") > got("b"), "hub must outrank spokes")
  }

  test("pagerank: weighted random graph matches driver recompute") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 80).map { _ =>
      (s"n${rnd.nextInt(15)}", s"n${rnd.nextInt(15)}", rnd.nextInt(5) + 1.0)
    }.filter(e => e._1 != e._2)
    val got = pagerankOf(edges, iters = 8)
    val want = pagerankOracle(edges, iters = 8)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, k) }
  }

  /** Driver-side PPR recompute mirroring [[pagerankOracle]] with the
    * teleport (and dangling) mass restricted to the seed set.
    */
  private def pprOracle(edges: Seq[(String, String, Double)],
                        seeds: Set[String], iters: Int,
                        d: Double = 0.85): Map[String, Double] = {
    val agg = edges.groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3).sum }
    val nodes = agg.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct
    val sIn = seeds.intersect(nodes.toSet)
    def sw(v: String) = if (sIn.contains(v)) 1.0 / sIn.size else 0.0
    val outW = agg.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    var ranks = nodes.map(v => v -> sw(v)).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(outW.contains).map(ranks).sum
      val contrib = agg.toSeq
        .map { case ((s, t), w) => t -> ranks(s) * w / outW(s) }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
      ranks = nodes.map(v => v ->
        ((1.0 - d) * sw(v) +
          d * (contrib.getOrElse(v, 0.0) + dangling * sw(v)))).toMap
    }
    ranks
  }

  test("personalized pagerank: concentrates near seed, matches recompute") {
    import spark.implicits._
    // two loosely-coupled triangles; seed in the left one
    val edges = Seq(
      ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("x", "y", 1.0), ("y", "z", 1.0), ("z", "x", 1.0),
      ("c", "x", 0.1), ("z", "a", 0.1))
    val got = graft.graph.PageRank.personalized(
        edges.toDF("src", "dst", "w"), Seq("a").toDF("node"),
        weightCol = Some("w"), iters = 12)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = pprOracle(edges, Set("a"), iters = 12)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, k) }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass conserved")
    // the seeded community must outrank the far one
    assert(got("a") > got("x") && got("b") > got("y"))
  }

  test("personalized pagerank: seeds outside the graph are ignored") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0))
    val got = graft.graph.PageRank.personalized(
        edges.toDF("src", "dst", "w"),
        Seq("a", "ghost").toDF("node"), weightCol = Some("w"), iters = 6)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = pprOracle(edges, Set("a"), iters = 6) // ghost dropped
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, k) }
    // every seed outside the graph: fail loud, leave nothing persisted
    val before = persistedIds
    val e = intercept[IllegalArgumentException] {
      graft.graph.PageRank.personalized(edges.toDF("src", "dst", "w"),
        Seq("ghost").toDF("node"), weightCol = Some("w"), iters = 6)
    }
    assert(e.getMessage.contains(">=1 seed in the graph"), e.getMessage)
    assert(persistedIds -- before === Set.empty, "scratch leaked")
  }

  test("bounded PPR: faithful truncation — within-ball ranks exact " +
      "when no path returns across the boundary") {
    import spark.implicits._
    // one-way chain into a terminal 2-cycle (e↔f keeps the graph
    // dangling-free, so the full run has no teleport-back term the
    // truncated run would miss); seed a, radius 2 → ball {a,b,c}.
    // Nothing downstream of c links back, so within-ball flow in the
    // bounded run is bit-identical to the full run.
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0),
      ("d", "e", 1.0), ("e", "f", 1.0), ("f", "e", 1.0))
    val full = pprOracle(edges, Set("a"), iters = 8)
    val got = graft.graph.PageRank.personalized(
        edges.toDF("src", "dst", "w"), Seq("a").toDF("node"),
        weightCol = Some("w"), iters = 8, radius = Some(2))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("a", "b", "c"))
    got.foreach { case (k, v) =>
      assert(math.abs(v - full(k)) < 1e-12, k) }
  }

  test("pprTerms ball-bounding preserves the top-20 vs the unbounded " +
      "run (VERDICT r4 item 3)") {
    val docs = graft.io.Tables.documents(spark, sfDir)
    // same co-occurrence graph construction as TrainingQueries.pprTerms
    val bg = graft.dedup.Dedup.shingles(docs, k = 2)
      .select(split(col("shingle"), " ").getItem(0).as("src"),
        split(col("shingle"), " ").getItem(1).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val sym = bg.unionByName(bg.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))
    val seeds = docs.filter(col("doc_id") === 0)
      .select(explode(graft.text.TextAnalysis.tokens(col("text")))
        .as("node")).distinct()
    def top20(radius: Option[Int]): Seq[(String, Double)] =
      graft.graph.PageRank.personalized(sym, seeds,
          weightCol = Some("w"), iters = 10, radius = radius)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val bounded = top20(Some(3))
    val unbounded = top20(None)
    assert(bounded.map(_._1) == unbounded.map(_._1),
      "top-20 token set/order changed under ball bounding")
    bounded.zip(unbounded).foreach { case ((tok, b), (_, u)) =>
      assert(math.abs(b - u) < 1e-6, s"rank drift at $tok") }
  }

  test("hyperedge BFS == pairwise BFS on the projected graph " +
      "(random hypergraph)") {
    import spark.implicits._
    // 60 nodes, 40 hyperedges of size 1–5 (singletons included to
    // exercise the documented pre-filter), deterministic LCG
    var x = 12345L
    def nxt(m: Int) = { x = (x * 1103515245L + 12345L) % 2147483648L
      (x % m).toInt }
    val inc = (0 until 40).flatMap { e =>
      val size = 1 + nxt(5)
      (0 until size).map(_ => (nxt(60).toLong, e.toLong))
    }.distinct
    // pairwise projection of the same hypergraph, singleton edges gone
    val pairs = inc.groupBy(_._2).values.flatMap { ms =>
      val ns = ms.map(_._1).distinct
      for (a <- ns; b <- ns if a != b) yield (a, b)
    }.toSeq.distinct
    val multi = inc.groupBy(_._2).filter(_._2.map(_._1).distinct.size >= 2)
      .keys.toSet
    val incMulti = inc.filter { case (_, e) => multi(e) }
    val seeds = Seq(inc.head._1, 59L).distinct.toDF("node")
    val viaPairs = graft.graph.Bfs.hopDistance(
        pairs.toDF("src", "dst"), seeds, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaHyper = graft.graph.Bfs.hopDistanceHyper(
        incMulti.toDF("node", "edge"), seeds, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaHyper === viaPairs)
  }

  test("hierarchy: pointer doubling matches driver parent-walk") {
    import spark.implicits._
    // deep chain + branching forest in one input: chain 100→…→199
    // under root 100 exercises many doubling rounds; halving tree
    // exercises branching
    val n = 200
    def parentOf(i: Long): Option[Long] =
      if (i < 10) None
      else if (i >= 100) (if (i == 100) Some(7L) else Some(i - 1))
      else Some(i / 2)
    val nodes = (0L until n).map(i => (i, parentOf(i))).toDF("id", "parent")
    val got = graft.graph.Hierarchy.resolve(nodes, "id", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(got.size === n)
    (0L until n).foreach { i =>
      // driver-side one-step-at-a-time walk — the naive evaluation the
      // doubled form must agree with
      var cur = i
      var depth = 0L
      var path = List(i.toString)
      while (parentOf(cur).isDefined) {
        cur = parentOf(cur).get
        depth += 1
        path = cur.toString :: path
      }
      assert(got(i)._1 === depth, s"depth of $i")
      assert(got(i)._2 === path.mkString("/"), s"path of $i")
    }
  }

  test("hierarchy: a cycle fails loud instead of looping") {
    import spark.implicits._
    val nodes = Seq((1L, Option(2L)), (2L, Option(1L)), (3L, Option.empty[Long]))
      .toDF("id", "parent")
    val before = persistedIds
    val e = intercept[IllegalArgumentException] {
      graft.graph.Hierarchy.resolve(nodes, "id", "parent", maxIter = 6).count()
    }
    assert(e.getMessage.contains("not settled"))
    assert(persistedIds -- before === Set.empty, "round state leaked")
  }

  test("hierarchy: dangling parent is not mistaken for a root") {
    import spark.implicits._
    val nodes = Seq((1L, Option.empty[Long]), (2L, Option(99L)))
      .toDF("id", "parent")
    val before = persistedIds
    val e = intercept[IllegalArgumentException] {
      graft.graph.Hierarchy.resolve(nodes, "id", "parent", maxIter = 4).count()
    }
    assert(e.getMessage.contains("not settled"))
    assert(persistedIds -- before === Set.empty, "round state leaked")
  }

  // --- label propagation ---

  private def symmetrize(edges: Seq[(String, String)]) = {
    val e = edges.toDF("src", "dst")
    e.union(e.select(col("dst"), col("src"))).toDF("src", "dst")
  }

  test("label propagation: barbell splits into its two triangles") {
    // two triangles {a,b,c} and {d,e,f} joined by the bridge c-d;
    // hand-traced 4 synchronous min-tie-break rounds land on labels
    // a (left triangle) and c (right triangle — the bridge endpoint's
    // round-1 label leaks across and wins by the min tie-break)
    val edges = symmetrize(Seq("a" -> "b", "b" -> "c", "a" -> "c",
      "d" -> "e", "e" -> "f", "d" -> "f", "c" -> "d"))
    val got = graft.graph.LabelPropagation.run(edges, iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "c", "e" -> "c", "f" -> "c"))
  }

  test("label propagation: weight outvotes count") {
    // x's neighbors: y (weight 10) vs u,v,w (weight 1 each, all
    // labeled differently after round 0) — the heavy edge wins
    val e = Seq(("y", "x", 10L), ("u", "x", 1L), ("v", "x", 1L),
      ("w", "x", 1L)).toDF("src", "dst", "w")
    val got = graft.graph.LabelPropagation.run(e, weightCol = Some("w"),
        iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("x") === "y")
  }

  test("label propagation is deterministic across runs") {
    val edges = symmetrize(Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "c" -> "d", "d" -> "e"))
    val r1 = graft.graph.LabelPropagation.run(edges, iters = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val r2 = graft.graph.LabelPropagation.run(edges, iters = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(r1 === r2)
  }

  // --- bounded BFS ---

  test("bfs: path graph distances from a single seed") {
    val edges = symmetrize(Seq("a" -> "b", "b" -> "c", "c" -> "d",
      "d" -> "e"))
    val seeds = Seq("a").toDF("node")
    val got = graft.graph.Bfs.hopDistance(edges, seeds, maxDepth = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L,
      "e" -> 4L))
  }

  test("bfs: depth bound truncates, multi-seed takes the min") {
    val edges = symmetrize(Seq("a" -> "b", "b" -> "c", "c" -> "d",
      "d" -> "e"))
    val got = graft.graph.Bfs.hopDistance(edges,
        Seq("a", "e").toDF("node"), maxDepth = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only the seeds and their 1-hop rings; c is 2 hops from both
    assert(got === Map("a" -> 0L, "e" -> 0L, "b" -> 1L, "d" -> 1L))
  }

  test("bfs: seeds absent from the graph are ignored") {
    val edges = symmetrize(Seq("a" -> "b"))
    val got = graft.graph.Bfs.hopDistance(edges,
        Seq("zzz", "a").toDF("node"), maxDepth = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 0L, "b" -> 1L))
  }

  // --- the round loop ---

  test("connected components and hierarchy run one Spark job per round") {
    // Counts actions: without AQE a lazy checkpoint runs nothing at
    // plan time, and without broadcast joins no build side is collected,
    // so each job is one action. The convergence test must be the
    // action that materializes the round; an eager round would be two.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // CC on the path 1-2-…-n converges in n rounds (n − 1 to carry
    // label 1 to the far end, one more to see the sum hold), after one
    // job for its edge scratch and one testing the initial labels
    def ccJobs(n: Int): Int = jobsDuring(ConnectedComponents.run(
      (1L until n).map(i => (i, i + 1)).toDF("src", "dst")))._2
    assert(ccJobs(4) === 2 + 4)
    assert(ccJobs(8) === 2 + 8)
    // pointer doubling settles a chain of d parent links in
    // ceil(log2 d) + 1 rounds, after one job testing the initial state
    def hierarchyJobs(d: Int): Int = jobsDuring(Hierarchy.resolve(
      (0L to d).map(i => (i, if (i == 0) None else Some(i - 1)))
        .toDF("id", "parent"), "id", "parent"))._2
    assert(hierarchyJobs(2) === 1 + 2)
    assert(hierarchyJobs(16) === 1 + 5)
  }

  test("iterative operators leave exactly their result persisted") {
    // a 4-path, both directions, plus one sink so PageRank steps
    // round by round
    val g = symmetrize(Seq("a" -> "b", "b" -> "c", "c" -> "d"))
      .union(Seq("d" -> "e").toDF("src", "dst"))
    val seeds = Seq("a").toDF("node")
    val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "connected components" -> (() => ConnectedComponents.run(
        Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst"))),
      "hierarchy" -> (() => Hierarchy.resolve(
        Seq((1L, Option.empty[Long]), (2L, Some(1L)), (3L, Some(2L)))
          .toDF("id", "parent"), "id", "parent")),
      "label propagation" -> (() => LabelPropagation.run(g)),
      "hop distance" -> (() => Bfs.hopDistance(g, seeds, maxDepth = 2)),
      "hyperedge hop distance" -> (() => Bfs.hopDistanceHyper(
        Seq(("a", 1L), ("b", 1L), ("b", 2L), ("c", 2L)).toDF("node", "edge"),
        seeds, maxDepth = 2)),
      "pagerank" -> (() => PageRank.run(g, iters = 3)),
      "pagerank, no edges" -> (() => PageRank.run(noEdges)),
      "personalized pagerank" ->
        (() => PageRank.personalized(g, seeds, iters = 3)),
      "personalized pagerank, bounded" ->
        (() => PageRank.personalized(g, seeds, iters = 3, radius = Some(1))))
    calls.foreach { case (name, call) =>
      val before = persistedIds
      val out = call()
      assert(persistedIds -- before === Set(rddId(out)), name)
      out.count() // scratch released, result still readable
      spark.sparkContext.getPersistentRDDs(rddId(out)).unpersist(false)
    }
  }
}
