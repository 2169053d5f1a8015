package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

import graft.ops.Ops

/** Scale-technique checks: salted aggregation equivalence, bucketed
  * co-located joins (no shuffle at join time), broadcast-join planning,
  * and scan pushdown — the 100 TB design points, asserted on the
  * physical plan rather than eyeballed.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("saltedGroupedSum == groupedSum (integer-valued doubles)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val plain = Ops.groupedSum(li, Seq("l_returnflag"), "l_quantity", "s")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Ops.saltedGroupedSum(li, Seq("l_returnflag"), "l_quantity", "s")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(plain === salted)
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // One hot key holds half the fact rows: after the hash shuffle one
    // partition dwarfs the median. With thresholds scaled down to test
    // size, AQE's OptimizeSkewedJoin must split that partition into
    // multiple tasks (duplicating the matching dim partition) — the
    // runtime re-plan that, at 100 TB, keeps one straggler task from
    // serializing the whole stage. The salted-join operator
    // (Ops.saltedJoin) remains the WRITE-SIDE answer when key skew is
    // known a priori; AQE is the runtime safety net for when it is not.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    val fact = s2.range(0, 200000)
      .select(when($"id" % 2 === 0, 0L).otherwise($"id" % 97 + 1).as("k"),
        $"id".as("v"))
    val dim = s2.range(0, 98).select($"id".as("k"), ($"id" * 2).as("w"))
    val joined = fact.join(dim, "k")
    // execute THIS DataFrame (count() would plan a different query) so
    // the adaptive plan finalizes before inspection
    assert(joined.collect().length === 200000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("skew=true"),
      s"expected OptimizeSkewedJoin to mark the join:\n$plan")
  }

  test("bucketed tables join without exchange (co-located join)") {
    // warehouse.dir is static -> use the default warehouse with session-
    // local table names; disable broadcast so the join would otherwise
    // need a hash-partition exchange on both sides
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = s2.read.parquet(s"$sfDir/lineitem.parquet")
    val or = s2.read.parquet(s"$sfDir/orders.parquet")
    try {
      li.write.mode("overwrite").bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_b")
      or.write.mode("overwrite").bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("or_b")
      val joined = s2.table("li_b")
        .join(s2.table("or_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing satisfies the join's distribution: no shuffle before join
      assert(plan.contains("SortMergeJoin"), plan)
      val afterJoin = plan.split("SortMergeJoin")(1)
      assert(!afterJoin.contains("Exchange hashpartitioning(l_orderkey"),
        s"join inputs should be bucket-pruned of exchanges:\n$plan")
      assert(joined.count() > 0)
    } finally {
      s2.sql("DROP TABLE IF EXISTS li_b")
      s2.sql("DROP TABLE IF EXISTS or_b")
    }
  }

  test("small dimension joins broadcast; filter pushes into parquet scan") {
    val or = spark.read.parquet(s"$sfDir/orders.parquet")
    val na = spark.read.parquet(s"$sfDir/nation.parquet")
    val cu = spark.read.parquet(s"$sfDir/customer.parquet")
    val q = or.join(cu, col("o_custkey") === col("c_custkey"))
      .join(na, col("c_nationkey") === col("n_nationkey"))
      .filter(col("o_totalprice") > 100000.0)
      .select("n_name", "o_totalprice")
    val plan = physical(q)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice,100000.0)"), plan)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions") {
    // fact partitioned by year on disk; the selective dim filter is only
    // known at runtime -> the scan must carry a dynamicpruning partition
    // filter (subquery/broadcast reuse), not read all partitions
    val dir = tempDir("graft_dpp").toString
    spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    // dim must be a real scan with a surviving selective filter — an
    // in-memory LocalRelation gets its filter constant-folded away and
    // DPP's selectivity check sees nothing to prune with
    val dimDir = tempDir("graft_dpp_dim").toString
    (1992 to 2005).map(y => (y, if (y == 1995) "hit" else "miss"))
      .toDF("d_year", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim, col("o_year") === col("d_year"))
      .filter(col("tag") === "hit")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$plan")
    // and the result matches the statically-pruned equivalent
    val want = fact.filter(col("o_year") === 1995)
      .agg(count(lit(1)), sum("o_totalprice")).collect()(0)
    val got = q.collect()(0)
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getDouble(1) === want.getDouble(1))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the shuffle-join counterpart of DPP: when the dim side carries a
    // selective filter and the join must shuffle (no broadcast), the
    // optimizer builds a bloom filter from the dim keys and probes it
    // on the FACT scan side (`might_contain`), dropping non-joining
    // fact rows BEFORE the shuffle — at 100 TB that is the difference
    // between shuffling the whole fact table and shuffling the ~match
    // set. Pinned here with the thresholds the tiny testdata needs
    // (prod defaults: 10 MB creation side / 10 GB application side);
    // the conf knob itself is the thing this test documents.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
      "applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = s2.read.parquet(s"$sfDir/lineitem.parquet")
    val or = s2.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
    val q = li.join(or, col("l_orderkey") === col("o_orderkey"))
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected a runtime bloom filter probe on the fact side:\n$plan")
    // semantic neutrality: same result with the rewrite off
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val want = s3.read.parquet(s"$sfDir/lineitem.parquet")
      .join(s3.read.parquet(s"$sfDir/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum("l_quantity"), count(lit(1))).collect()(0)
    val got = q.collect()(0)
    assert(got.getDouble(0) === want.getDouble(0))
    assert(got.getLong(1) === want.getLong(1))
  }

  test("top-k compiles to TakeOrderedAndProject, not a total sort") {
    val or = spark.read.parquet(s"$sfDir/orders.parquet")
    val plan = physical(Ops.topK(or, 10, col("o_totalprice").desc))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("no query plans a pair-product join except the documented ones") {
    // The plan-shape gate for the whole declared surface: every
    // SparkEntry query must join through equi-keys (hash/sort-merge/
    // broadcast-hash), never a CartesianProduct or
    // BroadcastNestedLoopJoin — the shapes that die at 100 TB.
    // Documented exceptions: q_emb_neardup (the O(n²) small-corpus
    // oracle baseline for the LSH path — r10: input capped at a FIXED
    // EmbAnchorCap corpus, so the product is bounded at every sf),
    // q_knn_brute (bounded broadcast
    // cross product: |queries| × corpus by design), q_knn_ivf (two
    // BOUNDED broadcast fan-outs: the 1-row centroid-array frame and
    // the |queries| × |centroids| probe ranking — the corpus-side
    // candidate join itself is equi on the cell id), q_cross_join
    // (explicit small×small cross join), q_rrf_fusion (two
    // q_knn_brute-shaped legs: bounded |queries| × corpus broadcast
    // products; the fusion itself is an equi-keyed agg + window),
    // q_pq_topk (ADC scan: same bounded |queries| × corpus broadcast
    // shape as q_knn_brute, but each pair costs m code lookups instead
    // of a d-dim dot — the compressed-scan variant, not a pair-product
    // blowup).
    // q_pq_ivf's only non-equi fan-outs are the same bounded ones as
    // q_knn_ivf (1-row centroid array; |queries| × |centroids| probe
    // ranking) — the corpus-side candidate join is equi on the cell id.
    // q_pq_opq is the same broadcast-query ADC scan as q_pq_topk, in
    // the PCA-rotated space.
    // q_chisq completes the lang × source contingency grid with an
    // explicit cross join of two grouped-DISTINCT-category aggregates —
    // bounded by category cardinality (|langs|·|sources|), not data
    // volume, the same class as q_cross_join's small×small product.
    // q_mmr's candidate pool is one q_knn_brute leg (bounded
    // |queries| × corpus broadcast product); the MMR re-rank after it
    // is an equi-keyed join + per-group selection over the bounded
    // pool.
    // q_bq_topk's pre-rank is the same bounded |queries| × corpus
    // broadcast shape as q_pq_topk, but each pair costs ONE xor +
    // popcount over a 32-bit code (the cheapest compressed scan);
    // the exact re-rank after it joins equi on the candidate ids.
    // Note q_knn_filtered is deliberately NOT here: its predicate is
    // the join key, so the plan is an ordinary equi-join.
    // q_pq_topk_exact is the identical bounded ADC-scan shape as
    // q_pq_topk, under seed (iters=0) codebooks for the exact oracle.
    // q_recall_at_k contains BOTH bounded shapes by construction: the
    // q_knn_brute broadcast ground-truth product and q_knn_ivf's probe
    // fan-outs (it joins the two legs to measure index recall).
    val allowed = Set("q_emb_neardup", "q_knn_brute", "q_knn_ivf",
      "q_recall_at_k",
      "q_cross_join", "q_rrf_fusion", "q_pq_topk", "q_pq_topk_exact",
      "q_pq_ivf", "q_pq_opq", "q_chisq", "q_mmr", "q_bq_topk")
    // 1-row-frame fan-outs (a global aggregate cross-joined back in,
    // e.g. tfidf's corpus count, assignCells' collected centroid array)
    // also plan as BNLJ but are ×1 by construction — recognizable
    // because the build side is an aggregate with no grouping keys.
    //
    // AQE must be OFF in the planning session: with it on,
    // executedPlan is an AdaptiveSparkPlanExec LEAF that collect()
    // cannot traverse — the gate would inspect nothing and pass
    // vacuously (caught by mutation-testing the allowed set).
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !allowed(name) =>
        val plan = fn(s2, sfDir).queryExecution.executedPlan
        assert(!plan.isInstanceOf[
          org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
          "gate self-check: plan must not be AQE-wrapped")
        plan.collect {
          case j: BroadcastNestedLoopJoinExec
              if !isOneRowPlan(j.buildSide match {
                case BuildLeft => j.left
                case BuildRight => j.right
              }) => s"$name: BNLJ\n$j"
          case c: CartesianProductExec => s"$name: CartesianProduct\n$c"
        }
      case _ => Nil
    }
    // building the stream queries ran their drains: free their outputs
    graft.ops.Materialize.releaseOwned(s2)
    assert(violations.isEmpty, violations.mkString("\n\n"))
  }

  /** A physical plan guaranteed to produce at most one row: the
    * OUTERMOST aggregate has no grouping keys — that alone pins the
    * output cardinality, whatever keyed aggregates feed it below
    * (e.g. bm25's corpus stats aggregate over the per-doc-length
    * aggregate). `collectFirst` walks pre-order, so the first match is
    * the aggregate nearest the root.
    */
  private def isOneRowPlan(p: SparkPlan): Boolean =
    p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      // a ReusedExchange is a LEAF — the reused plan hangs off a
      // constructor arg, not children — so recurse into it explicitly
      // (q_semdedup reuses the assignCells centroid-array broadcast)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        isOneRowPlan(r.child)
    }.getOrElse(false)

  test("no query plans an empty-partition window over raw rows") {
    // Sibling of the pair-product gate (VERDICT r5 item 3): a
    // WindowExec with an EMPTY partition spec moves its whole input
    // into ONE task — fine when the input is already reduced to a
    // bounded grain (an aggregate / top-k beneath it), a scale-killer
    // over raw fact rows (the former q_lift/q_equi_depth shape, now
    // rewritten via GlobalOrder.ntileExact). The automatic exemption:
    // the window's child subtree must contain a reducing operator — an
    // aggregate, a limit, or a window-group-limit — between the window
    // and the scan. Anything else must be allowlisted here WITH its
    // boundedness justification.
    //
    // Allowlist (grain-bounded global windows the reducing-operator
    // heuristic cannot see):
    //   (none — every current global window sits over an aggregate or
    //    top-k; keep it that way.)
    val allowed = Set.empty[String]
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // r7 (ADVICE fix): the reducing operator must sit on the DIRECT
    // input path of the window — a bare subtree-exists would exempt a
    // global window over a large JOIN because one join input happens
    // to have an aggregate beneath it (unbounded fan-out above the
    // reduction). Recursion therefore stops at multi-child nodes:
    // joins count as reduced only if the side(s) that determine their
    // output size are reduced (semi/anti/existence ≤ left; everything
    // else needs BOTH sides bounded), unions/other binary nodes need
    // every child bounded; unary ops (project/filter/sort/exchange)
    // pass through.
    import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def reduced(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        reduced(r.child)
      case j: BaseJoinExec => j.joinType match {
        case LeftSemi | LeftAnti | _: ExistenceJoin => reduced(j.left)
        case _ => reduced(j.left) && reduced(j.right)
      }
      case b if b.children.length > 1 => b.children.forall(reduced)
      // r8 (ADVICE fix): row-EXPANDING unary operators are not
      // pass-through — explode/expand above a reduction re-opens the
      // fan-out (the pairsFromBaskets n²-per-basket shape), so a
      // global window directly over them is unbounded again unless a
      // further reducing operator sits above the expansion.
      // r11 refinement: a Generate whose generator is built from
      // SEQUENCE is the one expansion whose output is NOT data-sized —
      // it is VALUE-DOMAIN-sized (the intervalOverlapCount day spine:
      // explode(sequence(min, max)) over a 1-row bounds aggregate).
      // Exploding a data-derived array (collect_list & co.) stays
      // unbounded: that is exactly the pairsFromBaskets trap.
      case g: org.apache.spark.sql.execution.GenerateExec
          if g.boundGenerator.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Sequence]) =>
        reduced(g.child)
      case _: org.apache.spark.sql.execution.GenerateExec |
           _: org.apache.spark.sql.execution.ExpandExec => false
      case u => u.children.exists(reduced)
    }
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !allowed(name) =>
        val plan = fn(s2, sfDir).queryExecution.executedPlan
        plan.collect {
          // forall on an EMPTY spec is true by design: a constant
          // partition key (Window.partitionBy(lit(1)) — q_decay's old
          // shape) hashes every row to one task exactly like no spec
          // at all, so foldable-only specs are the same violation
          case w: WindowExec if w.partitionSpec.forall(_.foldable) &&
              !reduced(w.child) =>
            s"$name: effectively-global window over unreduced input\n$w"
        }
      case _ => Nil
    }
    // building the stream queries ran their drains: free their outputs
    graft.ops.Materialize.releaseOwned(s2)
    assert(violations.isEmpty, violations.mkString("\n\n"))
  }

  test("argmax input aggregates before the window (no raw-fact window)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val yearly = li.groupBy(col("l_suppkey"),
      year(col("l_shipdate")).as("y")).agg(sum("l_quantity").as("v"))
    val plan = physical(Ops.argMax(yearly, "l_suppkey", "v", "y"))
    // the window's child must be the aggregate, not the scan
    val windowIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(windowIdx >= 0 && aggIdx > windowIdx,
      s"expected HashAggregate beneath Window:\n$plan")
  }
}
