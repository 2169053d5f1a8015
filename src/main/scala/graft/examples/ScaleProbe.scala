package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness
import graft.ops.{Materialize, Ops}

/** Empirical scaling probe: replicate the sf0.1 lineitem N× with
  * disjoint key ranges (so group/join cardinalities scale too) and time
  * the core operators. Near-linear growth here is the evidence that the
  * plans would survive a real scale-up — superlinear growth flags an
  * operator whose shuffle or build side grows with the square of input.
  * `sbt "runMain graft.examples.ScaleProbe [scale] [section]"`: scale
  * defaults to 8; `section` (core | main | basket | decade | incr |
  * quality | kcenter) runs one section so a new leg can be re-measured
  * without the ~10 min full sweep. Session and input come from
  * [[graft.Harness]].
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.fold(8)(_.toInt)
    val probeOnly = args.lift(1)
    val sfDir = Harness.settings.sfDir
    val cpus = Harness.settings.cpus
    val spark = Harness.session()

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val maxKey = li.agg(max("l_orderkey")).collect()(0).getLong(0) + 1

    def replicated(k: Int): DataFrame =
      (0 until k).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxKey))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * 100L))
      }.reduce(_ unionByName _)

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs  ($rows rows)")
    }

    def section(tag: String)(body: => Unit): Unit =
      if (probeOnly.forall(_ == tag)) body

    section("core") {
    for (k <- Seq(1, n)) {
      println(s"=== scale x$k (${6000000L * k / 10} rows approx) ===")
      val df = replicated(k)
      time("grouped sum")(
        df.groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity")).count())
      time("argmax per suppkey")(
        Ops.argMax(
          df.groupBy(col("l_suppkey"), year(col("l_shipdate")).as("y"))
            .agg(sum("l_quantity").as("v")), "l_suppkey", "v", "y").count())
      time("salted sum")(
        Ops.saltedGroupedSum(df.select("l_returnflag", "l_quantity"),
          Seq("l_returnflag"), "l_quantity").count())
      time("window running sum")(
        df.withColumn("rs", sum("l_quantity").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey")
            .rowsBetween(Long.MinValue, 0))).count())
    }
    }

    // training-op hot paths: replicate docs/embeddings with shifted ids
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def docsX(k: Int): DataFrame =
      (0 until k).map(i => docs.withColumn("doc_id",
        col("doc_id") + lit(i * 100000L))).reduce(_ unionByName _)
    def embX(k: Int): DataFrame =
      (0 until k).map(i => emb.withColumn("vec_id",
        col("vec_id") + lit(i * 100000L))).reduce(_ unionByName _)
    section("main") {
    for (k <- Seq(1, 4)) {
      println(s"=== docs x$k / emb x$k ===")
      time("simhash signatures")(
        graft.dedup.Dedup.simhash(docsX(k)).count())
      time("minhash signatures")(
        graft.dedup.Dedup.minhashSignatures(docsX(k)).count())
      time("knn brute (10 queries)")(
        graft.sim.Similarity.bruteForceTopK(
          embX(k), emb.filter(col("vec_id") < 10), k = 5).count())
    }

    // The round-1 weak spots, head-to-head at growing replication:
    // all-pairs near-dup (quadratic by construction) vs banded LSH
    // (bucket-keyed equi-join), and the rewritten IVF cell assignment
    // (narrow map — must stay linear).
    //
    // The LSH pass runs the PRODUCTION near-dup config (threshold 0.9,
    // wide bands: 4 x 16 bits -> 65k buckets/band). The oracle config
    // (0.4, 16 x 4 bits) exists for the sf0.01 fixture whose max cosine
    // is ~0.5 — its 16-bucket bands are fine at 2k vectors but
    // quadratic at 32k (see the parameter law on nearDupPairsLsh).
    // The replicated corpus contains k exact copies of every vector, so
    // true pairs ARE quadratic in k — the per-found-pair cost is the
    // honest linearity measure.
    for (k <- Seq(1, 4, 16)) {
      println(s"=== near-dup scale: emb x$k (${2000 * k} vecs) ===")
      if (k <= 4) // quadratic path: skip at 16x by design (32k^2 pairs)
        time("nearDup all-pairs (t=0.9)")(
          graft.sim.Similarity.nearDupPairs(embX(k), 0.9).count())
      time("nearDup LSH (t=0.9, 4x16b)")(
        graft.sim.Similarity.nearDupPairsLsh(embX(k), 0.9,
          bands = 4, rowsPerBand = 16).count())
      time("IVF assignCells")(
        graft.sim.Similarity.assignCells(embX(k),
          emb.filter(col("vec_id") < 20)).count())
    }
    // Round-2 additions: connected components (iterative joins — cost
    // is rounds x edges, rounds = cluster diameter, NOT corpus size)
    // and the binned range join (equi-join on the bin grid — candidate
    // volume is bin-occupancy-bounded, not |points| x |intervals|).
    for (k <- Seq(1, 4, 16)) {
      println(s"=== graph/range scale x$k ===")
      // synthetic near-dup edges: disjoint 4-doc STARS (hub = the
      // group's first doc, spokes = the other three) — hub ids stay
      // inside their own group, so components never chain: component
      // count scales linearly with k while diameter stays 2. (A
      // floor(id/4)->id hub scheme would put hubs inside OTHER groups
      // and collapse everything into one deep tree.)
      val edges = docsX(k).select(
        (col("doc_id") - pmod(col("doc_id"), lit(4L))).as("src"),
        col("doc_id").as("dst"))
        .filter(col("src") =!= col("dst"))
      time("connected components")(
        graft.graph.ConnectedComponents.run(edges).count())
      val pts = docsX(k).select(col("doc_id").as("pid"),
        (pmod(col("doc_id") * 7919L, lit(100000L))).cast("double").as("p"))
      val iv = (0 until 1000).map { i =>
        (i.toLong, i * 100.0, i * 100.0 + 500.0)
      }
      import spark.implicits._
      val ivDf = iv.toDF("iid", "lo", "hi")
      time("binned range join")(
        Ops.rangeJoinBinned(pts, ivDf, "p", "lo", "hi", 100.0).count())
    }
    // Round-3: prefix-filtered n-gram Jaccard (SSJoin/All-Pairs). The
    // replicated corpus gives every doc k-1 EXACT copies, so the true
    // pair set grows k² — per-found-pair cost is the honest linearity
    // measure, same framing as the LSH row above.
    for (k <- Seq(1, 4, 16)) {
      println(s"=== ngram near-dup scale: docs x$k (${5000 * k} docs) ===")
      time("ngramJaccard prefix-filtered")(
        graft.dedup.Dedup.ngramJaccard(docsX(k), threshold = 0.8).count())
    }
    // Round-3: hierarchy closure via pointer doubling. Contiguous ids
    // 0..N-1 under parent = id div 2 — depth grows with log N, and
    // doubling needs ceil(log2 depth)+1 rounds, so the ROUND COUNT is
    // ~flat across 16x data (5k->13 levels, 80k->17) while each round
    // is one keyed join over N rows: cost law N log log N, near-linear.
    for (k <- Seq(1, 4, 16)) {
      val nNodes = 5000L * k
      println(s"=== hierarchy doubling: $nNodes nodes ===")
      val nodes = spark.range(nNodes).select(col("id"),
        when(col("id") < 10, lit(null).cast("long"))
          .otherwise(expr("id div 2")).as("parent"))
      time("hierarchy resolve")(
        graft.graph.Hierarchy.resolve(nodes, "id", "parent").count())
    }
    // Round-3: bucketed-layout amortization. Pay the layout shuffle
    // ONCE (the write), then run the join repeatedly — the recurring
    // per-query cost is what a daily 100 TB report actually pays. The
    // honest comparison is `3 x join` vs `write + 3 x join`, not a
    // single join.
    {
      import graft.io.Bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // expose bucket sort order (safe: writeBucketed = 1 file/bucket)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val k = n
      println(s"=== bucketed join amortization: lineitem x$k ===")
      val fact = replicated(k).select("l_orderkey", "l_quantity")
      val or = spark.read.parquet(s"$sfDir/orders.parquet")
      val dim = (0 until k).map { i =>
        or.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxKey))
      }.reduce(_ unionByName _)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      def joinAgg(l: DataFrame, r: DataFrame): Long =
        l.join(r, "l_orderkey").groupBy("o_orderstatus")
          .agg(sum("l_quantity")).count()
      for (i <- 1 to 3)
        time(s"shuffled join (run $i)")(joinAgg(fact, dim))
      val db = "graft_probe_bkt"
      Bucketing.ensureDatabase(spark, db,
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_probe_wh")
      time("bucketed layout write x2")({
        Bucketing.writeBucketed(fact, s"$db.fact_b", "l_orderkey", 32)
        Bucketing.writeBucketed(dim, s"$db.dim_b", "l_orderkey", 32)
        2L
      })
      for (i <- 1 to 3)
        time(s"bucketed join  (run $i)")(
          joinAgg(spark.table(s"$db.fact_b"), spark.table(s"$db.dim_b")))
    }

    // Round-3 additions.
    // (a) Misra–Gries as a TypedImperativeAggregate: update must be
    //     O(1)/row with O(k) task state — wall should track the token
    //     scan, not the sketch (the kryo-buffer Aggregator it replaced
    //     paid a full sketch (de)serialization PER ROW).
    for (k <- Seq(1, 8)) {
      println(s"=== sketch scale: docs x$k ===")
      val toks = docsX(k).select(explode(
          graft.text.TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
      time("misra-gries k=20")(
        toks.agg(graft.functions.SketchAggregates
          .misra_gries(col("tok"), 20)).count())
    }
    // (b) Label propagation: cost law is rounds × edges (rounds fixed
    //     at 4) — the same disjoint-star topology as the CC probe, so
    //     edge count scales linearly with k and community count with
    //     corpus.
    // (c) Bounded BFS: per-round cost is FRONTIER edges only; on a
    //     ring the depth-6 ball is 13 nodes whatever the graph size,
    //     so wall should show only the one-time edge-dedup scan
    //     (linear) — never depth × |E|.
    val nDocs = docs.count()
    for (k <- Seq(1, 4, 16)) {
      println(s"=== graph ops scale x$k ===")
      val star = docsX(k).select(
        (col("doc_id") - pmod(col("doc_id"), lit(4L))).as("src"),
        col("doc_id").as("dst"))
        .filter(col("src") =!= col("dst"))
      val starSym = star.union(star.select(col("dst"), col("src")))
        .toDF("src", "dst")
      time("label propagation (4 rounds)")(
        graft.graph.LabelPropagation.run(starSym, iters = 4).count())
      // ring within each replica: id -> (id+1) mod nDocs, offset back
      // to the replica's id range
      val off = pmod(col("doc_id"), lit(100000L))
      val ring = docsX(k).select(col("doc_id").as("src"),
        (col("doc_id") - off + pmod(off + 1, lit(nDocs))).as("dst"))
      val ringSym = ring.union(ring.select(col("dst"), col("src")))
        .toDF("src", "dst")
      val seeds = spark.range(1).select(lit(0L).as("node"))
      time(s"bfs depth-6 (ring n=${nDocs * k})")(
        graft.graph.Bfs.hopDistance(ringSym, seeds, maxDepth = 6).count())
    }
    // Round-5: hyperedge BFS vs pairwise projection. The scaling axis
    // is HYPEREDGE SIZE at fixed incidence volume (100k membership
    // rows): the pairwise projection materializes m·b·(b−1) edges —
    // quadratic in basket size b — while the incidence form stays at
    // m·b rows whatever b is. Wall for the hyper path should be ~flat
    // across b; the pairwise path should grow ~b×. (This is the
    // q_hop_dist rewrite's cost law, measured.)
    for (b <- Seq(4, 16, 64)) {
      val m = 100000 / b
      println(s"=== hyper-BFS cost law: $m baskets × size $b " +
        s"(pairs would be ${m.toLong * b * (b - 1)}) ===")
      val inc = spark.range(m.toLong * b).select(
        (col("id") % (m * 4)).as("node"), expr(s"id div $b").as("edge"))
      val seeds = spark.range(1).select(lit(0L).as("node"))
      time(s"hyper BFS depth-3 (b=$b)")(
        graft.graph.Bfs.hopDistanceHyper(inc, seeds, maxDepth = 3).count())
      time(s"pairwise BFS depth-3 (b=$b)")({
        val pairs = inc.as("a").join(inc.as("b"), Seq("edge"))
          .select(col("a.node").as("src"), col("b.node").as("dst"))
          .filter(col("src") =!= col("dst"))
        graft.graph.Bfs.hopDistance(pairs, seeds, maxDepth = 3).count()
      })
    }

    // Round-6 (VERDICT item 5): split-parallelism of the CPU-dense
    // tail. The driver testdata is single-row-group parquet, so
    // q_profile / q_math_funcs / q_coerce / q_emb_neardup run their
    // scan in ONE task however many cores exist (BASELINE.md §9). The
    // probe rewrites the same tables as multi-file parquet at EQUAL
    // volume and re-times the same four queries — the wall drop is the
    // claimed linear task scale-out, with no query change.
    {
      import graft.SparkEntry
      val multiPath = java.nio.file.Files
        .createTempDirectory("graft_multifile")
      val multiDir = multiPath.toString
      try {
        for (t <- Seq("region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings")) {
          spark.read.parquet(s"$sfDir/$t.parquet").repartition(cpus)
            .write.mode("overwrite").parquet(s"$multiDir/$t.parquet")
        }
        def noopTime(q: String, dir: String): Double = {
          val t0 = System.nanoTime()
          // the CPU-dense pair leg uses the UNCAPPED kernel: the
          // registered q_emb_neardup is a fixed-corpus oracle anchor
          // since r10 (EmbAnchorCap), which would shrink the workload
          // this probe exists to scale out
          val frame =
            if (q == "q_emb_neardup_full")
              graft.sim.Similarity.nearDupPairs(
                graft.io.Tables.embeddings(spark, dir), threshold = 0.5)
            else SparkEntry.queries(q)(spark, dir)
          frame.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println("=== split-parallelism: single-file vs multi-file parquet ===")
        for (q <- Seq("q_profile", "q_math_funcs", "q_coerce",
            "q_emb_neardup_full")) {
          val single = (1 to 2).map(_ => noopTime(q, sfDir)).min
          val multi = (1 to 2).map(_ => noopTime(q, multiDir)).min
          println(f"$q%-16s single-file ${single}%6.2fs  " +
            f"multi-file ${multi}%6.2fs  speedup ${single / multi}%5.2fx")
        }
      } finally {
        // the probe copy is a full dataset duplicate — don't leave it
        // accumulating in /tmp across runs
        import java.nio.file.{Files => F}
        import scala.jdk.CollectionConverters._
        F.walk(multiPath).iterator().asScala.toSeq.reverse
          .foreach(p => F.deleteIfExists(p))
      }
    }

    // Round-6 (VERDICT item 4): the skew-report Gini now aggregates a
    // COUNT-OF-COUNTS histogram, so its only window input is the
    // distinct-frequency table. Probe: replicate events 16x with
    // DISJOINT user ranges (keys grow 16x) and show the window input
    // stays ~flat — the boundedness claim, measured.
    {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      def eventsX(k: Int): DataFrame =
        (0 until k).map(i => ev.withColumn("user_id",
          col("user_id") + lit(i * 10000000L))).reduce(_ unionByName _)
      println("=== skew-report histogram law: keys vs window input ===")
      for (k <- Seq(1, 16)) {
        val cnts = eventsX(k).groupBy("user_id").count()
        val nKeys = cnts.count()
        val nVals = cnts.select("count").distinct().count()
        println(f"x$k%-3d keys=$nKeys%9d  distinct-count-values=$nVals%6d")
      }
    }
    }

    // Round-7 (VERDICT r6 item 5): basket-array pair generation cost
    // law. At FIXED incidence volume (100k membership rows, baskets of
    // size b), the distinct pair count is m·b·(b−1) = 100k·(b−1) —
    // LINEAR in b, never |parts|² — and the basket-array shape
    // (groupBy + in-place explode, one shuffle) should track that pair
    // volume with a constant advantage over the legacy self-join shape
    // (distinct + join exchanges before the same pair grain). This is
    // q_item_sim/q_assortativity's rewrite, measured on its scaling
    // axis.
    section("basket") {
      println("=== basket-pair cost law: explode vs self-join ===")
      // r8 (VERDICT r7 item 2): one more decade on the b axis — b=256
      // is the heavy-basket regime (playlists, long sessions) where
      // the join projection's b² term should separate hardest.
      for (b <- Seq(4, 16, 64, 256)) {
        val m = 100000 / b
        val inc = spark.range(m.toLong * b).select(
          (col("id") % (m * 4)).as("pk"), expr(s"id div $b").as("ok"))
        time(f"basket-explode pairs (b=$b%-2d)")({
          inc.groupBy("ok").agg(collect_set(col("pk")).as("parts"))
            .repartition(cpus)
            .select(explode(expr(
              """flatten(transform(parts,
                |  x -> transform(filter(parts, y -> y != x),
                |       y -> struct(x AS part_a, y AS part_b))))"""
                .stripMargin)).as("pr"))
            .select(col("pr.part_a"), col("pr.part_b"))
            .groupBy("part_a", "part_b").count().count()
        })
        time(f"self-join pairs      (b=$b%-2d)")({
          val li = inc.select(col("ok"), col("pk")).distinct()
          li.as("a").join(li.as("b"),
              col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
            .select(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
            .groupBy("part_a", "part_b").count().count()
        })
      }
    }

    // Round-8 (VERDICT r7 item 2): one more decade (×64) on the two
    // candidate-generation paths whose degeneracy modes are known —
    // prefix-filtered ngram Jaccard and banded cosine LSH — with TRUE
    // PAIRS HELD LINEAR in corpus size. The existing ×16 legs use
    // exact-copy replication, where the true pair set itself grows k²
    // (every doc gains k−1 twins); at ×64 that quadratic floor would
    // drown the question the probe asks ("do CANDIDATES track true
    // pairs, or corpus²?"). Twin-group salting fixes the axis:
    // replica i joins group i/2, texts are token-salted and vectors
    // sign-flipped PER GROUP, so cross-group similarity is ~0 and
    // every doc/vector has exactly ONE twin — true pairs stay linear
    // at every k, and any corpus² candidate term reads directly as
    // superlinear wall (and pair-count) growth.
    // one token-salted replica of the docs corpus: replica `i` in
    // group `g` — shingles collide only within the group (shared by
    // the decade and incr sections)
    def docsTwinCopy(i: Int, g: Int): DataFrame = docs
      .withColumn("doc_id", col("doc_id") + lit(i * 100000L))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "),
          t => concat(t, lit("~" + g)))))
    section("decade") {
      println("=== decade legs: true-pairs-linear twin corpora ===")
      def docsTwin(k: Int): DataFrame =
        (0 until k).map(i => docsTwinCopy(i, i / 2))
          .reduce(_ unionByName _)
      def embTwin(k: Int): DataFrame =
        (0 until k).map { i =>
          val g = i / 2
          emb
            .withColumn("vec_id", col("vec_id") + lit(i * 100000L))
            // deterministic per-group sign pattern: cross-group cosine
            // concentrates near 0 (±x per dim), within-group exact
            .withColumn("embedding", expr(
              s"transform(embedding, (x, j) -> " +
                s"CASE WHEN pmod(hash($g, j), 2) = 0 THEN -x ELSE x END)"))
        }.reduce(_ unionByName _)
      for (k <- Seq(4, 16, 64)) {
        println(s"=== twin corpus x$k: ${5000 * k} docs " +
          s"(true ngram pairs ${5000L * k / 2}) / ${2000 * k} vecs " +
          s"(true LSH pairs ${2000L * k / 2}) ===")
        time(f"ngramJaccard twin (x$k%-2d)")(
          graft.dedup.Dedup.ngramJaccard(docsTwin(k), threshold = 0.8)
            .count())
        time(f"nearDup LSH twin  (x$k%-2d)")(
          graft.sim.Similarity.nearDupPairsLsh(embTwin(k), 0.9,
            bands = 4, rowsPerBand = 16).count())
        // r8 substring-grain path: covered positions are linear in the
        // twin corpus (each doc's twin duplicates its windows exactly
        // once), so span count should scale ~k and wall should stay
        // shuffle-bound linear — a corpus² term in the gram join would
        // read as superlinear wall here
        time(f"duplicatedSpans twin (x$k%-2d)")(
          graft.dedup.Dedup.duplicatedSpans(docsTwin(k)).count())
      }
    }

    // r8 incremental-minhash law: a FIXED daily batch (one more twin
    // copy of group 0 — its near-dups are copies 0/1 only, so found
    // pairs stay constant at every k) probes a PERSISTED band index of
    // a corpus growing x4 -> x64. The full rebuild must re-sign the
    // whole corpus (wall ~ linear in k, the shingling dominates); the
    // incremental leg signs only the batch and joins the stored index,
    // so its wall should stay near-flat — any corpus-proportional term
    // beyond the index scan reads directly as growth here. Index build
    // time is deliberately excluded from the incremental timing: the
    // index is persisted state, amortized across runs (that is the
    // operator's whole point).
    section("incr") {
      println("=== incremental minhash: fixed batch vs growing index ===")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_incr_probe").toString
      for (k <- Seq(4, 16, 64)) {
        val corpus = (0 until k).map(i => docsTwinCopy(i, i / 2))
          .reduce(_ unionByName _)
        val batch = docsTwinCopy(k, 0)
        val sigs = graft.dedup.Dedup.minhashSignatures(corpus)
        sigs.write.mode("overwrite").parquet(s"$tmp/sigs_$k")
        val idxSigs = spark.read.parquet(s"$tmp/sigs_$k")
        graft.dedup.Dedup.minhashBands(idxSigs)
          .write.mode("overwrite").parquet(s"$tmp/bands_$k")
        val idxBands = spark.read.parquet(s"$tmp/bands_$k")
        println(s"=== corpus x$k (${5000 * k} docs indexed, " +
          "fixed 5000-doc batch) ===")
        if (k <= 16) // the rebuild is the baseline being beaten; its
          // x64 point is ~4x the x16 one by the law it demonstrates
          time(f"minhash FULL rebuild  (x$k%-2d)")(
            graft.dedup.Dedup.minhashSimilarity(
              graft.dedup.Dedup.minhashLshCandidates(
                corpus.unionByName(batch)),
              graft.dedup.Dedup.minhashSignatures(
                corpus.unionByName(batch)))
              .filter(col("est_jaccard") >= 0.7).count())
        time(f"minhash incremental   (x$k%-2d)")(
          graft.dedup.Dedup.minhashIncremental(batch, idxBands, idxSigs)
            .count())
      }
    }

    section("quality") {
      // VERDICT r8 #5: measure the 2^20-bucket quality model, don't
      // assert it. The weight vector is a DATA literal (~8 MB of
      // longs), so generated-code size must be dimension-independent;
      // codegen fallback is disabled so a HugeMethodLimit-style
      // failure would THROW here, not silently degrade.
      println("=== quality classifier at production dimension ===")
      // restore the PRE-SECTION value, not a hard-coded default: a
      // later section must inherit whatever the session had (ADVICE r9)
      val fallbackBefore = spark.conf.getOption("spark.sql.codegen.fallback")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val d20 = 1 << 20
        val w20 = Array.tabulate(d20)(i =>
          ((i.toLong * 2654435761L + 987654321L) % 2000001L) - 1000000L)
        // both D=2^20 access paths, side by side: the plan-literal
        // form (forced via literalDimMax) vs the broadcast long[]
        // (the default above LiteralDimMax)
        for (k <- Seq(1, 16)) {
          val corpus = (0 until k).map(i => docsTwinCopy(i, i))
            .reduce(_ unionByName _)
          for ((tag, dimMax) <- Seq(
              ("literal", Int.MaxValue), ("bcast  ", 0))) {
            val scored = graft.text.QualityModel
              .scoreDocsWith(corpus, w20, -250000L,
                literalDimMax = dimMax)
            val t0 = System.nanoTime()
            val plan = scored.queryExecution.executedPlan
            println(f"  plan build (x$k%-2d, D=2^20 $tag) " +
              f"${(System.nanoTime() - t0) / 1e9}%8.3fs  " +
              s"(${plan.toString.length} plan chars)")
            // first run pays broadcast + codegen compile; the repeats
            // are the steady-state per-row cost
            for (run <- 1 to 3)
              time(f"score D=2^20 $tag run$run (x$k%-2d)") {
                scored.write.format("noop").mode("overwrite").save(); 0L
              }
          }
        }
        // reference point: the shipped 256-bucket model, same corpus
        val base = graft.text.QualityModel.scoreDocs(
          (0 until 16).map(i => docsTwinCopy(i, i)).reduce(_ unionByName _))
        for (run <- 1 to 2)
          time(f"score D=256   run$run (x16)") {
            base.write.format("noop").mode("overwrite").save(); 0L
          }
      } finally {
        fallbackBefore match {
          case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
          case None => spark.conf.unset("spark.sql.codegen.fallback")
        }
        // retire the probe's 8 MB weight broadcasts with the plans
        graft.text.QualityModel.destroyCachedBroadcasts()
      }
    }

    section("kcenter") {
      // VERDICT r8 #3: the incremental min-distance recurrence must
      // hold per-round cost FLAT as k grows (the naive re-fold grows
      // linearly in selected-set size). Wall/k at k=256 vs k=64 over
      // a 16k-vector corpus is the check.
      println("=== k-center greedy: per-round cost vs k ===")
      val corpus16k = (0 until 8).map { i =>
        emb
          .withColumn("vec_id", col("vec_id") + lit(i * 100000L))
          .withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> " +
              s"CASE WHEN pmod(hash($i, j), 2) = 0 THEN -x ELSE x END)"))
      }.reduce(_ unionByName _).transform(Materialize.checkpoint(_))
      for (k <- Seq(64, 256)) {
        val t0 = System.nanoTime()
        val n = graft.sim.Similarity.kCenterGreedy(corpus16k, k).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"  kCenterGreedy k=$k%-4d  $secs%8.2fs  " +
          f"(${secs / k * 1000}%6.1f ms/round, $n selected)")
      }
    }
    spark.stop()
  }
}
