package graft

import org.apache.spark.sql.functions._

import graft.queries.{AnalyticsQueries, TrainingQueries}

/** Invariant tests for the temporal/product-analytics operators and
  * the bounded top-k aggregate (their value semantics are also
  * oracle-checked via q_topk_agg/q_scd2/q_funnel/q_cohort/
  * q_interpolate/q_bm25; these tests pin the structural contracts).
  */
class AnalyticsSpec extends SparkSpec {

  test("ArrayPairs: native basket pairs ≡ composed HOF form, incl. hostile") {
    import spark.implicits._
    // real baskets: per-order part sets from lineitem
    val bk = graft.io.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
    val n = AnalyticsQueries.pairsFromBasketsNative(bk)
    val c = AnalyticsQueries.pairsFromBasketsComposed(bk)
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty,
      "native ArrayPairs diverged from the composed form on real baskets")
    // hostile: null array, empty, singleton, null elements, duplicate
    // values (dup outers re-emit, equal values never pair)
    val hostile = Seq(
      (0L, Seq[java.lang.Long](1L, 2L, 3L)),
      (1L, null),
      (2L, Seq.empty[java.lang.Long]),
      (3L, Seq[java.lang.Long](7L)),
      (4L, Seq[java.lang.Long](1L, null, 2L)),
      (5L, Seq[java.lang.Long](5L, 5L, 6L))
    ).toDF("ok", "parts")
    val hn = AnalyticsQueries.pairsFromBasketsNative(hostile)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val hc = AnalyticsQueries.pairsFromBasketsComposed(hostile)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(hn === hc, s"hostile pairs diverged: native=$hn composed=$hc")
    // dup-value basket emits (5,6) twice and (6,5) once, never (5,5)
    assert(hn.count(_ == ((5L, 6L))) === 2)
    assert(hn.count(_ == ((5L, 5L))) === 0)
  }

  test("ArrayCombinations ≡ array_pairs.filter(a<b); mirror restores both") {
    import spark.implicits._
    val bk = graft.io.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
    val half = AnalyticsQueries.pairsFromBasketsHalfNative(bk)
    val filt = AnalyticsQueries.pairsFromBasketsNative(bk)
      .filter(col("part_a") < col("part_b"))
    assert(half.exceptAll(filt).isEmpty && filt.exceptAll(half).isEmpty,
      "array_combinations diverged from array_pairs.filter(a<b)")
    // hostile inputs: null array, empty, singleton, null elements,
    // duplicate values — the combination form must match the filtered
    // full form EXACTLY, including the dup-value multiplicity (5,5,6
    // has two i<j position pairs with differing values → (5,6) twice)
    val hostile = Seq(
      (0L, Seq[java.lang.Long](3L, 1L, 2L)),
      (1L, null),
      (2L, Seq.empty[java.lang.Long]),
      (3L, Seq[java.lang.Long](7L)),
      (4L, Seq[java.lang.Long](2L, null, 1L)),
      (5L, Seq[java.lang.Long](5L, 5L, 6L))
    ).toDF("ok", "parts")
    val hh = AnalyticsQueries.pairsFromBasketsHalfNative(hostile)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val hf = AnalyticsQueries.pairsFromBasketsNative(hostile)
      .filter(col("part_a") < col("part_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hh === hf, s"hostile combos diverged: half=$hh filtered=$hf")
    // emission is canonical regardless of array order: (1,2)/(1,3)/(2,3)
    assert(hh.count(_ == ((1L, 2L))) === 2) // from baskets 0 and 4
    assert(hh.count(_ == ((5L, 6L))) === 2)
    // the aggregated mirror reconstructs the full-orientation counts:
    // groupBy over mirrored half-counts == groupBy over array_pairs
    // (set baskets — the itemSim/assortativity precondition)
    val fullAgg = AnalyticsQueries.pairsFromBasketsNative(bk)
      .groupBy("part_a", "part_b").count()
    val halfAgg = AnalyticsQueries.mirrorPairsNative(
      half.groupBy("part_a", "part_b").count(), Seq("count"))
    assert(halfAgg.exceptAll(fullAgg).isEmpty &&
      fullAgg.exceptAll(halfAgg).isEmpty,
      "mirrored half-aggregate diverged from the full-orientation one")
  }

  test("TopKAgg agrees with the row_number window form") {
    import graft.ops.Ops
    val viaAgg = AnalyticsQueries.topKAgg(spark, sfDir)
      .select("o_orderpriority", "rank", "order_key").collect()
    val viaWindow = Ops.topKPerGroup(
        graft.io.Tables.orders(spark, sfDir), 5, Seq("o_orderpriority"),
        col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderpriority"), col("o_orderkey").as("order_key"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaAgg.length === viaWindow.size)
    viaAgg.foreach { r =>
      assert(viaWindow.contains((r.getString(0), r.getLong(2))))
    }
    // ranks are 1..k and scores non-increasing within each group
    viaAgg.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to rows.length))
    }
  }

  test("TopKPairs buffer stays bounded and ties break by id asc") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = graft.functions.TopKPairs(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), 3)
    def finish(buf: scala.collection.mutable.ArrayBuffer[(Double, Long)])
    : Seq[(Double, Long)] =
      agg.eval(buf).asInstanceOf[GenericArrayData].array.toSeq
        .map(_.asInstanceOf[InternalRow])
        .map(r => (r.getDouble(0), r.getLong(1)))
    var buf = agg.createAggregationBuffer()
    // 100 inserts, all the same score: tie-break must keep smallest ids
    (1L to 100L).foreach { i => buf = agg.update(buf, InternalRow(1.0, i)) }
    assert(buf.length < 6, "buffer must prune before 2k")
    assert(finish(buf) === Seq((1.0, 1L), (1.0, 2L), (1.0, 3L)))
    // merge respects the same bound and ordering; serialize round-trips
    var other = agg.createAggregationBuffer()
    (101L to 200L).foreach { i =>
      other = agg.update(other, InternalRow(2.0, i))
    }
    other = agg.deserialize(agg.serialize(other))
    val merged = finish(agg.merge(buf, other))
    assert(merged === Seq((2.0, 101L), (2.0, 102L), (2.0, 103L)))
  }

  test("scd2: one open version per key, intervals chain without gaps") {
    val rows = AnalyticsQueries.scd2(spark, sfDir)
      .select("user_id", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (uid, versions) =>
      assert(versions.count(_._4) === 1, s"user $uid open versions")
      val chain = versions.sortBy(_._2)
      // every closed version's end is the next version's start
      chain.sliding(2).foreach {
        case Array((_, _, Some(to), _), (_, from, _, _)) =>
          assert(to === from, s"user $uid gap: $to != $from")
        case _ => ()
      }
      assert(chain.last._3.isEmpty, s"user $uid last version must be open")
    }
  }

  test("funnel: stage counts are monotone non-increasing") {
    val counts = AnalyticsQueries.funnel(spark, sfDir)
      .orderBy("stage").collect().map(_.getLong(1))
    assert(counts.length === 3)
    assert(counts(0) >= counts(1) && counts(1) >= counts(2))
    assert(counts(0) > 0)
  }

  test("cohort: activity never precedes the cohort week") {
    val rows = AnalyticsQueries.cohort(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0),
        s"activity ${r.getLong(1)} before cohort ${r.getLong(0)}")
      assert(r.getLong(2) > 0)
    }
  }

  test("interpolate: observed rows pass through, fills stay in range") {
    val rows = AnalyticsQueries.interpolate(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val ys = rs.map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      val filled = rs.map(r => if (r.isNullAt(4)) None else Some(r.getDouble(4)))
      ys.zip(filled).foreach {
        case (Some(y), f) => assert(f.contains(y), "observed must pass through")
        case (None, _) => ()
      }
      // interior fills bounded by the neighboring observed values
      val obs = ys.flatten
      if (obs.nonEmpty) {
        val (lo, hi) = (obs.min, obs.max)
        filled.flatten.foreach { f =>
          assert(f >= lo - 1e-9 && f <= hi + 1e-9,
            s"fill $f outside observed range [$lo, $hi]")
        }
      }
    }
  }

  test("jaro_winkler: known values, symmetry, bounds, null-safety") {
    import graft.functions.JaroWinkler
    assert(JaroWinkler.scoreStr("martha", "marhta") === 0.9611111111111111)
    assert(JaroWinkler.scoreStr("dixon", "dicksonx") === 0.8133333333333332)
    assert(JaroWinkler.scoreStr("abc", "xyz") === 0.0)
    assert(JaroWinkler.scoreStr("same", "same") === 1.0)
    assert(JaroWinkler.scoreStr("", "x") === 0.0)
    // floor(t/2) convention (DuckDB/strcmp95): odd transposition count
    assert(JaroWinkler.scoreStr("blue gear", "old gear") === 0.75)
    // boost applies only above 0.7: common prefix, low jaro
    assert(JaroWinkler.scoreStr("abcdefgh", "abzyxwvu") === 0.5)
    val names = Seq("red widget", "red widgets", "blue bolt", "hot gear")
    for (a <- names; b <- names) {
      val s = JaroWinkler.scoreStr(a, b)
      assert(s === JaroWinkler.scoreStr(b, a), s"asymmetric on $a/$b")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("jaro_winkler expression: codegen and SQL paths agree with eval") {
    import graft.functions.JaroWinkler.jaroWinkler
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("blue gear", "old gear"),
      ("x", null.asInstanceOf[String])).toDF("a", "b")
    val viaExpr = df.select(jaroWinkler(col("a"), col("b"))).collect()
    assert(viaExpr(0).getDouble(0) === 0.9611111111111111)
    assert(viaExpr(1).getDouble(0) === 0.75)
    assert(viaExpr(2).isNullAt(0))
    graft.functions.JaroWinkler // ensure class loaded
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler",
      exprs => graft.functions.JaroWinklerSim(exprs(0), exprs(1)),
      "built-in")
    val viaSql = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta')").collect()(0).getDouble(0)
    assert(viaSql === 0.9611111111111111)
  }

  test("fuzzyPairs: pairs share a block, respect maxDist, a < b") {
    import graft.io.Tables
    val pairs = graft.dedup.Dedup.fuzzyPairs(Tables.part(spark, sfDir),
      "p_name", n => element_at(split(n, " "), -1), maxDist = 3).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, lev) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b)
      assert(lev >= 1 && lev <= 3)
      assert(a.split(" ").last === b.split(" ").last, "block violated")
    }
  }

  test("scd2Lookup: attr equals the latest prior non-purchase value") {
    val rows = AnalyticsQueries.scd2Lookup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // recompute the expected as-of value driver-side from raw events
    val ev = graft.io.Tables.events(spark, sfDir)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), round(col("value"), 2).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    val changes = ev.filter(_._3 != "purchase").groupBy(_._1)
    rows.foreach { r =>
      val (uid, t) = (r.getLong(0), r.getLong(2))
      val prior = changes.getOrElse(uid, Array.empty).filter(_._4 <= t)
      if (prior.isEmpty) assert(r.isNullAt(3), s"expected null attr")
      else {
        val want = prior.maxBy(c => (c._4, c._2))
        assert(r.getDouble(3) === want._5,
          s"user $uid fact at $t: attr ${r.getDouble(3)} != ${want._5}")
      }
    }
  }

  test("lm_score: negative log-probs, bigram count = token count - 1") {
    val scores = TrainingQueries.lmScore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(scores.nonEmpty)
    val tokCounts = graft.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    scores.foreach { case (id, (s, nb)) =>
      assert(s < 0.0, s"doc $id: smoothed log-prob must be negative")
      assert(nb === tokCounts(id) - 1L, s"doc $id bigram count")
    }
  }

  test("mix_rebalance: probabilities sum to 1, sqrt flattens the mix") {
    val rows = TrainingQueries.mixRebalance(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3)
    // temperature sampling: share of the largest source shrinks vs raw
    val n = rows.map(_._2).sum.toDouble
    val biggest = rows.maxBy(_._2)
    assert(biggest._3 < biggest._2 / n + 1e-9,
      "sqrt mixing must down-weight the largest source")
  }

  test("date_spine: contiguous daily coverage, flags match counts") {
    val rows = AnalyticsQueries.dateSpine(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, active) = (r.getLong(2), r.getBoolean(3))
      assert(active === (n > 0))
    }
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val days = rs.map(_.getDate(1).toLocalDate).sortBy(_.toEpochDay)
      days.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.toEpochDay === a.toEpochDay + 1, s"user $uid gap at $a")
        case _ => ()
      }
      assert(rs.exists(_.getBoolean(3)), s"user $uid has no active day")
    }
  }

  test("equi_depth: near-equal buckets, ordered non-overlapping ranges") {
    val rows = AnalyticsQueries.equiDepth(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1, "ntile buckets differ by at most 1")
    rows.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) => assert(hi1 <= lo2)
      case _ => ()
    }
  }

  test("bm25: returned docs contain a query term; scores positive") {
    val top = TrainingQueries.bm25(spark, sfDir).collect()
    assert(top.nonEmpty)
    val hits = graft.io.Tables.documents(spark, sfDir)
      .filter(col("text").rlike("(^|\\s)(vector|join|stream)(\\s|$)"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    top.foreach { r =>
      assert(hits.contains(r.getLong(0)), s"doc ${r.getLong(0)} has no term")
      assert(r.getDouble(1) > 0.0)
      val n = r.getLong(2)
      assert(n >= 1 && n <= 3)
    }
  }

  test("triangles: degree-oriented count equals brute force on known graphs") {
    import spark.implicits._
    // K4 has C(4,3)=4 triangles and gcc=1; appending a pendant chain
    // adds wedges but no triangles
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a, b))
    val g = k4 ++ Seq((4, 5), (5, 6), (6, 7), (2, 1), (3, 3)) // dup + loop
    val got = graft.graph.Triangles.count(
      g.toDF("src", "dst")).collect()(0)
    assert(got.getLong(got.fieldIndex("n_triangles")) === 4L)
    assert(got.getLong(got.fieldIndex("n_edges")) === 9L)
    // brute force on a deterministic pseudo-random graph
    val edges = (1 to 300).map { i =>
      ((i * 7919) % 40, (i * 104729) % 40)
    }.filter { case (a, b) => a != b }
    val adj = edges.flatMap { case (a, b) =>
      Seq(math.min(a, b) -> math.max(a, b)) }.toSet
    val nodes = adj.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val brute = (for {
      i <- nodes; j <- nodes if i < j; k <- nodes if j < k
      if adj((i, j)) && adj((j, k)) && adj((i, k))
    } yield 1).size.toLong
    val got2 = graft.graph.Triangles.count(edges.toDF("src", "dst"))
      .collect()(0)
    assert(got2.getLong(got2.fieldIndex("n_triangles")) === brute)
  }

  test("skyline: result is exactly the non-dominated set") {
    val all = graft.io.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
          .cast("long").as("day"),
        col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def dominates(p: (Long, Long, Double), q: (Long, Long, Double)) =
      p._2 <= q._2 && p._3 >= q._3 && (p._2 < q._2 || p._3 > q._3)
    val expected = all.filter(q => !all.exists(p => dominates(p, q)))
      .map(_._1).toSet
    val got = AnalyticsQueries.skyline(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("spatial radius join equals the brute-force cross product") {
    val grid = AnalyticsQueries.spatialJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def lat(k: Long) = ((k * 7919) % 1200) / 10.0 - 60.0
    def lon(k: Long) = ((k * 104729) % 3500) / 10.0 - 175.0
    def hav(la1: Double, lo1: Double, la2: Double, lo2: Double) = {
      val sLa = math.sin(math.toRadians(la2 - la1) / 2)
      val sLo = math.sin(math.toRadians(lo2 - lo1) / 2)
      2 * 6371.0 * math.asin(math.sqrt(sLa * sLa +
        math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
          sLo * sLo))
    }
    val custs = graft.io.Tables.customer(spark, sfDir)
      .select("c_custkey").collect().map(_.getLong(0))
    val supps = graft.io.Tables.supplier(spark, sfDir)
      .select("s_suppkey").collect().map(_.getLong(0))
    val brute = (for {
      s <- supps; c <- custs
      if hav(lat(s + 17), lon(s + 17), lat(c), lon(c)) <= 50.0
    } yield (s, c)).toSet
    assert(grid === brute)
    // guard: the cell size must actually be admissible for the radius
    intercept[IllegalArgumentException] {
      graft.ops.Geo.radiusJoin(
        graft.io.Tables.supplier(spark, sfDir), "a", "b",
        graft.io.Tables.customer(spark, sfDir), "c", "d",
        radiusKm = 80.0, cellDeg = 1.0)
    }
  }

  test("robust stats: fences and dispersion invariants hold per group") {
    val rows = AnalyticsQueries.robustStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (iqr, mad) = (r.getDouble(2), r.getDouble(3))
      val (outliers, n) = (r.getLong(4), r.getLong(5))
      assert(iqr >= 0 && mad >= 0)
      // MAD can't exceed the larger half-spread of the quartile range
      // by more than the fence factor; outliers are a strict minority
      assert(outliers < n / 4 + 1, s"too many outliers: $outliers/$n")
      assert(r.getDouble(1) > 0, "median must be positive for prices")
    }
  }

  test("vocab coverage: stops exactly at the 90% cumulative-share knee") {
    val rows = TrainingQueries.vocabCoverage(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq === (1L to rows.length)) // contiguous ranks
    rows.sliding(2).foreach {
      case Array((_, f1, c1), (_, f2, c2)) =>
        assert(f1 >= f2, "freq must be non-increasing")
        assert(c1 < c2, "cumulative share must increase")
      case _ => ()
    }
    // the cut is exact: every row but the last is below 90%, the last
    // is the first to reach it
    assert(rows.init.forall(_._3 < 0.9), "prior rows must be below the knee")
    assert(rows.last._3 >= 0.9, "last row must reach 90% coverage")
  }

  test("vocab coverage: maxVocab cap is not exhausted at any gate SF") {
    // r7 (ADVICE fix): the running-share window is truncated to the
    // top-maxVocab frequency head, and the DuckDB oracle applies the
    // IDENTICAL cut — so if the 90% boundary ever needed more than
    // maxVocab tokens, the query would silently return a head that
    // never reaches 90% and the correctness harness could not see it.
    // This canary makes cap exhaustion fail loudly at all three gate
    // scale factors: the last emitted row must still reach the knee.
    // same constant the REGISTERED query runs with — if the default
    // ever moves, the canary moves with it instead of silently
    // gating a different cap than the one the oracle applies
    val maxVocab = TrainingQueries.DefaultMaxVocab
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val rows = TrainingQueries.vocabCoverage(spark, dir, maxVocab).collect()
      assert(rows.nonEmpty, s"$sf: empty coverage head")
      assert(rows.length < maxVocab,
        s"$sf: head hit the maxVocab cap (${rows.length} rows) - the " +
          "90% boundary may lie beyond it; raise maxVocab")
      assert(rows.last.getDouble(3) >= 0.9,
        s"$sf: last cum_share ${rows.last.getDouble(3)} < 0.9 - " +
          "maxVocab cap silently truncated the coverage curve")
    }
  }

  test("interval overlap join equals brute force; emits each pair once") {
    import spark.implicits._
    // adversarial synthetic set: intervals spanning many bins, nested,
    // identical, and bin-boundary-touching
    val ls = Seq((1L, 0L, 100L), (2L, 50L, 54L), (3L, 64L, 64L),
      (4L, 10L, 200L), (5L, 199L, 205L))
      .toDF("l_id", "l_lo", "l_hi")
    val rs = Seq((10L, 90L, 110L), (11L, 0L, 300L), (12L, 55L, 63L),
      (13L, 64L, 64L), (14L, 201L, 202L), (15L, 206L, 300L))
      .toDF("r_id", "r_lo", "r_hi")
    val got = graft.ops.Ops.intervalOverlapJoin(ls, rs,
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 32.0)
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lv = Seq((1L, 0L, 100L), (2L, 50L, 54L), (3L, 64L, 64L),
      (4L, 10L, 200L), (5L, 199L, 205L))
    val rv = Seq((10L, 90L, 110L), (11L, 0L, 300L), (12L, 55L, 63L),
      (13L, 64L, 64L), (14L, 201L, 202L), (15L, 206L, 300L))
    val brute = for {
      (li, llo, lhi) <- lv; (ri, rlo, rhi) <- rv
      if llo <= rhi && rlo <= lhi
    } yield (li, ri)
    assert(got.length === got.distinct.length, "pair emitted twice")
    assert(got.toSet === brute.toSet)
  }

  test("interval overlap count equals brute force, including zero rows") {
    import spark.implicits._
    // edges the endpoint-rank identity must survive: a left interval
    // before every right start, one after every right end, a point
    // interval, exact endpoint touches, and a right set whose max end
    // equals the spine max (the shifted end-histogram row falls off
    // the spine and must be harmless)
    val ls = Seq((1L, 0L, 4L), (2L, 5L, 5L), (3L, 90L, 95L),
      (4L, 300L, 310L), (5L, 10L, 200L), (6L, 205L, 206L))
      .toDF("l_id", "l_lo", "l_hi")
    val rs = Seq((10L, 5L, 9L), (11L, 0L, 150L), (12L, 96L, 100L),
      (13L, 95L, 95L), (14L, 201L, 204L), (15L, 310L, 310L))
      .toDF("r_id", "r_lo", "r_hi")
    val got = graft.ops.Ops.intervalOverlapCount(ls, rs,
        "l_lo", "l_hi", "r_lo", "r_hi")
      .select("l_id", "n_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val rv = Seq((5L, 9L), (0L, 150L), (96L, 100L), (95L, 95L),
      (201L, 204L), (310L, 310L))
    val brute = Seq((1L, 0L, 4L), (2L, 5L, 5L), (3L, 90L, 95L),
      (4L, 300L, 310L), (5L, 10L, 200L), (6L, 205L, 206L))
      .map { case (id, lo, hi) =>
        id -> rv.count { case (rlo, rhi) => lo <= rhi && rlo <= hi }.toLong
      }.toMap
    assert(got === brute)
    assert(got(6L) === 0L, "zero-overlap left must appear with count 0")
  }

  test("basket lift denominator counts orders with only-null part keys") {
    // ADVICE r11 semantics pin: an order whose EVERY lineitem has a
    // null l_partkey is an empty basket — it contributes no pairs and
    // no per-part counts, but it IS an order, so it belongs in the
    // lift denominator (and the DuckDB oracle's count(DISTINCT ok)
    // includes it). The pre-fix form counted orders off the null-
    // filtered incidence and silently shrank the population.
    import spark.implicits._
    val dir = tempDir("graft_nullpk_")
      .toString
    // orders 1 and 2 share parts {100,200}; order 3 is all-null-pk
    Seq((1L, Option(100L)), (1L, Option(200L)),
        (2L, Option(100L)), (2L, Option(200L)),
        (3L, Option.empty[Long]))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = AnalyticsQueries.basket(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // pair (100,200): n_pair=2, n_a=n_b=2, n_orders=3 (empty basket
    // counted) -> lift = 2*3/(2*2) = 1.5; the pre-fix denominator 2
    // would have read 1.0
    assert(rows.toSeq === Seq((100L, 200L, 2L, 1.5)))
  }

  test("interval overlap count: wide-domain input fails fast at execution") {
    import spark.implicits._
    // µs-epoch-grain endpoints (the VERDICT r11 #6 hazard): the value
    // spine would need ~10^15 rows. The guard must (a) not fire at
    // CONSTRUCTION (plan-embedded, job-free), (b) fail the EXECUTION
    // with the contract message, never an OOM
    val ls = Seq((1L, 0L, 1_000_000_000_000_000L)).toDF("l_id", "l_lo", "l_hi")
    val rs = Seq((10L, 5L, 9L)).toDF("r_id", "r_lo", "r_hi")
    val df = graft.ops.Ops.intervalOverlapCount(ls, rs,
      "l_lo", "l_hi", "r_lo", "r_hi") // construction: no job, no throw
    val e = intercept[Exception](df.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("exceeds maxDomain") &&
      m.contains("quantize")), msgs(e).mkString(" | "))
    // width exactly at the bound still runs (closed-interval count:
    // maxDomain VALUES is the largest admissible spine)
    val ok = graft.ops.Ops.intervalOverlapCount(
      Seq((1L, 0L, 99L)).toDF("l_id", "l_lo", "l_hi"), rs,
      "l_lo", "l_hi", "r_lo", "r_hi", maxDomain = 100L)
      .select("l_id", "n_overlap").collect()
    assert(ok.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 1L)))
  }

  test("interval overlap count: both inputs empty returns empty, not error") {
    import spark.implicits._
    // ADVICE r12 pin: empty inputs make the bounds NULL; the width
    // guard must short-circuit (null condition would otherwise fire
    // raise_error with a null message) and flow to an empty result
    val ls = Seq.empty[(Long, Long, Long)].toDF("l_id", "l_lo", "l_hi")
    val rs = Seq.empty[(Long, Long, Long)].toDF("r_id", "r_lo", "r_hi")
    val got = graft.ops.Ops.intervalOverlapCount(ls, rs,
      "l_lo", "l_hi", "r_lo", "r_hi").collect()
    assert(got.isEmpty)
  }

  test("profile: exact and approx variants agree on structure") {
    val exact = graft.ops.Profile.profile(
      graft.io.Tables.orders(spark, sfDir), Seq("o_orderkey", "o_orderstatus"),
      exactDistinct = true).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact("o_orderkey").getLong(3) ===
      exact("o_orderkey").getLong(1), "pk distinct == rows")
    assert(exact("o_orderstatus").getLong(3) === 3L)
    assert(exact("o_orderkey").getLong(2) === 0L, "no nulls")
    // HLL variant: same shape, distinct within standard error
    val approx = graft.ops.Profile.profile(
      graft.io.Tables.orders(spark, sfDir), Seq("o_orderkey"))
      .collect()(0)
    val (est, n) = (approx.getLong(3).toDouble, approx.getLong(1).toDouble)
    assert(math.abs(est - n) / n < 0.1, s"HLL estimate $est vs $n")
  }

  test("dq checks: clean testdata passes every check") {
    val rows = AnalyticsQueries.dqChecks(spark, sfDir).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"check ${r.getString(0)} failed " +
        s"with ${r.getLong(1)} violations")
    }
    // and a dirty frame actually fails: drop some customers
    import org.apache.spark.sql.functions.col
    val brokenParent = graft.io.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 2 === 0)
    val fk = graft.ops.Profile.fkViolations("broken_fk",
      graft.io.Tables.orders(spark, sfDir), "o_custkey",
      brokenParent, "c_custkey").collect()(0)
    assert(!fk.getBoolean(2) && fk.getLong(1) > 0)
  }

  test("ewma: recursive definition reproduced per user") {
    import org.apache.spark.sql.functions.col
    val rows = AnalyticsQueries.ewma(spark, sfDir)
      .select(col("user_id"), col("x"), col("ewma"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // the windowed form must equal the textbook recursion
    // s_t = x_t/2 + s_{t-1}/2, renormalized over the 16 available taps
    rows.groupBy(_._1).foreach { case (u, es) =>
      val xs = es.map(_._2.toDouble)
      xs.indices.foreach { i =>
        val taps = xs.slice(math.max(0, i - 15), i + 1)
        val num = taps.reverse.zipWithIndex
          .map { case (x, k) => x * math.pow(0.5, k) }.sum
        val want = num / (2.0 - math.pow(0.5, taps.length - 1))
        assert(math.abs(es(i)._3 - want) < 1e-6, s"user $u event $i")
      }
    }
    // single-tap smoke: a user's first ewma equals its first value
    rows.groupBy(_._1).foreach { case (_, es) =>
      assert(math.abs(es.head._3 - es.head._2.toDouble) < 1e-9)
    }
  }

  test("subtree rollup: parent totals are self plus children, roots cover all") {
    val rows = AnalyticsQueries.subtreeAgg(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.size
    // roots partition the forest: their subtrees cover every doc once
    // (toSeq: Set.map would dedupe equal per-root totals before summing)
    val roots = rows.keys.toSeq.filter(_ < 10)
    assert(roots.map(rows(_)._1).sum === n.toLong)
    assert(roots.map(rows(_)._2).sum === docs.values.sum)
    // local consistency at every internal node: subtree = self + children
    rows.foreach { case (v, (nd, chars)) =>
      val kids = Seq(2 * v, 2 * v + 1).filter(k => k >= 10 && rows.contains(k))
      assert(nd === 1L + kids.map(rows(_)._1).sum, s"n_desc at $v")
      assert(chars === docs(v) + kids.map(rows(_)._2).sum, s"chars at $v")
    }
  }

  test("chi-square: matches driver recompute over the full grid") {
    val r = AnalyticsQueries.chiSquare(spark, sfDir).head()
    val (chi2, dof, n) = (r.getDouble(0), r.getLong(1), r.getLong(2))
    val cells = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "source")
      .collect().map(x => (x.getString(0), x.getString(1)))
    val langs = cells.map(_._1).distinct
    val sources = cells.map(_._2).distinct
    val obs = cells.groupBy(identity).view.mapValues(_.length.toDouble)
    val rl = cells.groupBy(_._1).view.mapValues(_.length.toDouble)
    val cl = cells.groupBy(_._2).view.mapValues(_.length.toDouble)
    val want = (for (l <- langs; s <- sources) yield {
      val e = rl(l) * cl(s) / cells.length
      val o = obs.getOrElse((l, s), 0.0)
      (o - e) * (o - e) / e
    }).sum
    assert(n === cells.length.toLong)
    assert(dof === (langs.length - 1).toLong * (sources.length - 1))
    assert(math.abs(chi2 - want) < 1e-5, s"chi2 $chi2 vs driver $want")
  }

  test("pattern: every match is a contiguous view-click-purchase triple") {
    import org.apache.spark.sql.functions.col
    val events = graft.io.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    // driver recompute: sort each user's stream, scan for triples
    val want = events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      sorted.sliding(3).collect {
        case Array(a, b, c)
            if a._4 == "view" && b._4 == "click" && c._4 == "purchase" =>
          (u, a._2, c._2, c._3 - a._3)
      }
    }.toSet
    val got = AnalyticsQueries.pattern(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === want)
    assert(got.nonEmpty, "test data must actually contain triples")
  }

  test("wilson: lower bound is below the raw rate and within [0,1]") {
    val rows = AnalyticsQueries.wilson(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, lb) = (r.getDouble(3), r.getDouble(4))
      assert(lb <= p + 1e-9, s"lower bound $lb above p_hat $p")
      assert(lb >= 0.0 && lb <= 1.0)
    }
    // the ranking is by the bound, descending
    val lbs = rows.map(_.getDouble(4)).toSeq
    assert(lbs === lbs.sorted.reverse)
  }

  test("gini: in [0,1) and matches a driver-side recompute per segment") {
    val got = AnalyticsQueries.gini(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    // driver recompute from raw tables
    val orders = graft.io.Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
    val segOf = graft.io.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byCust = orders.groupBy(_._1).map { case (c, xs) =>
      (c, xs.map(_._2).sum) }
    byCust.groupBy { case (c, _) => segOf(c) }.foreach { case (seg, m) =>
      val xs = m.toSeq.sortBy { case (c, v) => (v, c) }.map(_._2)
      val n = xs.length.toLong
      val s0 = xs.sum.toDouble
      val s1 = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x.toDouble }.sum
      val want = 2d * s1 / n / s0 - (n + 1d) / n
      assert(math.abs(got(seg) - want) < 1e-4, s"$seg: ${got(seg)} vs $want")
      assert(got(seg) >= 0.0 && got(seg) < 1.0)
    }
  }

  test("tpch q1: six flag/status groups, averages reconstruct sums") {
    val rows = AnalyticsQueries.tpchQ1(spark, sfDir).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val (qty, n) = (r.getLong(2), r.getLong(9))
      assert(n > 0 && qty > 0)
      assert(math.abs(r.getDouble(6) - qty.toDouble / n) < 1e-3)
      assert(r.getDouble(4) <= r.getDouble(3)) // disc price <= base
      assert(r.getDouble(5) >= r.getDouble(4)) // charge adds tax
    }
  }

  test("tpch q5/q10: revenue ordered desc, q10 capped at 20") {
    val q5 = AnalyticsQueries.tpchQ5(spark, sfDir).collect()
    assert(q5.nonEmpty && q5.length <= 5) // at most the ASIA nations
    val rev5 = q5.map(_.getDouble(1))
    assert(rev5.sameElements(rev5.sortBy(-_)))
    val q10 = AnalyticsQueries.tpchQ10(spark, sfDir).collect()
    assert(q10.length <= 20)
    val rev10 = q10.map(_.getDouble(2))
    assert(rev10.sameElements(rev10.sortBy(-_)))
    assert(rev10.forall(_ > 0))
  }

  test("mutual info: cell counts positive, MI non-negative and constant") {
    val rows = AnalyticsQueries.mutualInfo(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val mi = rows.map(_.getDouble(4)).distinct
    assert(mi.length === 1) // table-level MI repeated per cell
    // MI >= 0 up to the 6dp rounding of per-cell contributions
    assert(mi.head >= -1e-6)
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("kfold: folds 0..4 partition the corpus") {
    val rows = TrainingQueries.kfold(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L to 4L))
    val total = rows.map(_.getLong(1)).sum
    val nDocs = graft.io.Tables.documents(spark, sfDir).count()
    assert(total === nDocs)
  }

  test("rolling distinct: WAU >= DAU, stickiness in (0,1]") {
    val rows = AnalyticsQueries.rollingDistinct(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), r)      // wau >= dau
      val st = r.getDouble(3)
      assert(st > 0.0 && st <= 1.0, r)
    }
  }

  test("roc auc: one row, auc in [0,1], counts partition the table") {
    val r = AnalyticsQueries.rocAuc(spark, sfDir).collect()
    assert(r.length === 1)
    val auc = r(0).getDouble(0)
    assert(auc >= 0.0 && auc <= 1.0)
    val total = graft.io.Tables.embeddings(spark, sfDir).count()
    assert(r(0).getLong(1) + r(0).getLong(2) === total)
  }

  test("ndcg@10: per-source values in (0,1]") {
    val rows = AnalyticsQueries.ndcgAt10(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getDouble(1)
      assert(v > 0.0 && v <= 1.0, r)
    }
  }

  test("calibration: bins ordered, probabilities and brier in range") {
    val rows = AnalyticsQueries.calibration(spark, sfDir).collect()
    assert(rows.length >= 3, "calibration table should span several bins")
    val bins = rows.map(_.getInt(0))
    assert(bins.sameElements(bins.sorted) && bins.forall(b => b >= 0 && b <= 9))
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, r) // avg_p
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, r) // pos_rate
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0, r) // brier
    }
    val nUsers = rows.map(_.getLong(1)).sum
    val total = graft.io.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(nUsers === total)
  }

  test("cross-correlation: 7 lags, values in [-1,1], lag 0 on full span") {
    val rows = AnalyticsQueries.crossCorr(spark, sfDir).collect()
    assert(rows.length === 7)
    assert(rows.map(_.getInt(0)).sameElements(-3 to 3))
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 && c <= 1.0, r)
    }
    // lag 0 pairs every observed day with itself -> largest n_days
    val n0 = rows.find(_.getInt(0) == 0).get.getLong(1)
    assert(rows.forall(_.getLong(1) <= n0))
  }

  test("ks test: one row, D in [0,1], critical value positive") {
    val r = AnalyticsQueries.ksTest(spark, sfDir).collect()
    assert(r.length === 1)
    val d = r(0).getDouble(0)
    assert(d >= 0.0 && d <= 1.0)
    assert(r(0).getDouble(1) > 0.0)
    assert(r(0).getLong(2) > 0 && r(0).getLong(3) > 0)
  }

  test("survival: S non-increasing in (0,1], n_risk non-increasing") {
    val rows = AnalyticsQueries.survivalKm(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val surv = rows.map(_.getDouble(3))
    surv.foreach(v => assert(v >= 0.0 && v <= 1.0))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 })
    val risk = rows.map(_.getLong(1))
    assert(risk.zip(risk.tail).forall { case (a, b) => b <= a })
  }

  test("seasonal naive: per-type backtest, smape bounded by 2") {
    val rows = AnalyticsQueries.seasonalNaive(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, r)                    // n_days
      assert(r.getDouble(2) >= 0.0, r)               // mape
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 2.0, r) // smape
    }
  }

  test("mann-kendall: tau in [-1,1], z finite, s bounded by pair count") {
    val rows = AnalyticsQueries.mannKendall(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val sStat = r.getLong(2)
      assert(math.abs(sStat) <= n * (n - 1) / 2, r)
      val tau = r.getDouble(3)
      assert(tau >= -1.0 && tau <= 1.0, r)
      assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite, r)
    }
  }

  test("degree distribution: counts partition parts, slope negative") {
    val rows = AnalyticsQueries.degreeDist(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totalParts = rows.map(_.getLong(1)).sum
    val distinctParts = graft.io.Tables.lineitem(spark, sfDir)
      .select("l_partkey").distinct().count()
    assert(totalParts === distinctParts)
    // one slope value broadcast to every row
    assert(rows.map(_.getDouble(2)).distinct.length === 1)
  }

  test("did: one row, estimate equals the 2x2 difference of rounded means") {
    val r = AnalyticsQueries.diffInDiff(spark, sfDir).collect()
    assert(r.length === 1)
    val Seq(tp0, tp1, cp0, cp1, did) =
      (0 to 4).map(r(0).getDouble).toSeq
    assert(math.abs(((tp1 - tp0) - (cp1 - cp0)) - did) < 1e-4)
  }

  test("seq mining: 20 patterns, support descending and user-bounded") {
    val rows = AnalyticsQueries.seqMining(spark, sfDir).collect()
    assert(rows.length === 20)
    val sup = rows.map(_.getLong(1))
    assert(sup.zip(sup.tail).forall { case (a, b) => b <= a })
    val nUsers = graft.io.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(sup.head <= nUsers)
    rows.foreach(r => assert(r.getString(0).split(">").length === 3, r))
  }

  test("concurrency: per-day sweep bounded by session count") {
    val rows = AnalyticsQueries.concurrency(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1, r)                  // max_concurrent
      assert(r.getLong(2) <= r.getLong(1), r)       // <= n_sessions
    }
  }

  test("item sim: <=3 neighbors per part, cosine non-increasing, in (0,1]") {
    val rows = AnalyticsQueries.itemSim(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (part, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.length <= 3, s"part $part")
      assert(byRank.map(_.getLong(1)).toSeq === (1L to byRank.length))
      val cos = byRank.map(_.getDouble(3))
      assert(cos.forall(c => c > 0 && c <= 1), s"part $part cos: ${cos.toSeq}")
      assert(cos.zip(cos.tail).forall { case (a, b) => b <= a })
      assert(!byRank.map(_.getLong(2)).contains(part), "self-neighbor")
    }
  }

  test("item sim bucketed: exact match to broadcast form, plan shuffle-hash") {
    // VERDICT r11 #3 done-criteria: the past-broadcast-cliff form must
    // (a) compute the identical result, (b) carry NO broadcast
    // dependence, and (c) never SORT the interaction-sized pair
    // relation (the sf10 SortMergeJoin cliff: x46 run_ms per data x10)
    val b = AnalyticsQueries.itemSimBucketed(spark, sfDir)
    val plan = b.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("ShuffledHashJoin".r.findAllIn(plan).length === 2, plan)
    val got = b.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = AnalyticsQueries.itemSim(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === want)
  }

  test("item sim persisted-bucketed: exact match, zero-exchange count probes") {
    // VERDICT r12 #3 done-criteria: the standing-layout form must
    // (a) compute the identical result, (b) keep the dynamic form's
    // join shape (no broadcast, no sort of the pair relation, two
    // shuffled-hash probes), and (c) read the persisted count table
    // with ZERO added exchange — the bucketed scan's partitioning
    // satisfies each probe's clustering directly
    val b = AnalyticsQueries.itemSimBucketedPersisted(spark, sfDir)
    val plan = b.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("ShuffledHashJoin".r.findAllIn(plan).length === 2, plan)
    // the persisted layout is actually scanned, bucketed
    assert(plan.contains("item_counts_"), plan)
    assert(plan.contains("SelectedBucketsCount"), plan)
    // zero-exchange probes: the dynamic form repartitions perPart once
    // per probe; here NO exchange sits between a scan of the persisted
    // table and its join — every exchange in the plan belongs to the
    // pair branch: incidence hash(ok), the HALF-pair aggregate
    // hash(a,b), the two probe-side repartitions hash(b)/hash(a), the
    // post-mirror top-k hash(part_a) (r13: the mirror re-keys half the
    // rows, so the top-k distribution no longer rides the hash(a)
    // probe exchange), the sample-replay barrier (round-robin), and
    // the presentation sort (range). Structurally: exactly 7 exchanges
    // total, none under a bucketed scan.
    val nExchanges = "Exchange".r.findAllIn(plan).length
    assert(nExchanges === 7, s"expected 7 exchanges, got $nExchanges:\n$plan")
    val got = b.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = AnalyticsQueries.itemSim(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === want)
  }

  test("hop dist: seeds at 0, hops within bound, parts unique") {
    val rows = AnalyticsQueries.hopDist(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length === rows.length, "dup parts")
    assert(rows.forall { case (_, h) => h >= 0 && h <= 4 })
    // every seed part present in the graph must sit at distance 0
    rows.filter(_._1 <= 10).foreach { case (p, h) =>
      assert(h === 0L, s"seed part $p at hops $h")
    }
    assert(rows.exists(_._2 > 0), "no ring beyond the seeds")
  }

  test("cuped: variance reduction in [0,1), adjusted effect finite") {
    val r = AnalyticsQueries.cuped(spark, sfDir).collect()(0)
    val Seq(theta, diffRaw, diffCuped, vr) = (0 to 3).map(r.getDouble)
    assert(!theta.isNaN && !diffRaw.isNaN && !diffCuped.isNaN)
    assert(vr >= 0 && vr < 1, s"var_reduction $vr")
    // CUPED must not invent an effect when the raw diff is tiny: the
    // adjustment shifts by theta * (pre-period imbalance) only
    assert(math.abs(diffCuped - diffRaw) < math.abs(theta) * 1000 + 1)
  }

  test("srm: counts partition users, chi2 non-negative") {
    val r = AnalyticsQueries.srm(spark, sfDir).collect()(0)
    val users = graft.io.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(1) === users)
    assert(r.getDouble(2) >= 0)
  }

  test("theil-sen: pair counts are C(days,2), slopes finite") {
    val rows = AnalyticsQueries.theilSen(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val days = graft.io.Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("d")).distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val n = days(r.getString(0))
      assert(r.getLong(1) === n * (n - 1) / 2, r)
      assert(!r.getDouble(2).isNaN, r)
    }
  }

  test("stump: split leaves both sides non-empty, gini in [0,0.5]") {
    val r = AnalyticsQueries.stump(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) > 0 && r(0).getLong(2) > 0)
    val g = r(0).getDouble(3)
    assert(g >= 0 && g <= 0.5, s"gini $g")
  }

  test("funnel latency: p50 <= p90, converted bounded by funnel stage") {
    val r = AnalyticsQueries.funnelLatency(spark, sfDir).collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getDouble(1) >= 0 && r.getDouble(1) <= r.getDouble(2))
    val purchasers = AnalyticsQueries.funnel(spark, sfDir).collect()
      .find(_.getString(0) == "1_signup").map(_.getLong(1)).get
    assert(r.getLong(0) <= purchasers)
  }

  test("ltv cohort: curve is non-decreasing within each cohort") {
    val rows = AnalyticsQueries.ltvCohort(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (cw, rs) =>
      val curve = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      curve.zip(curve.tail).foreach { case (a, b) =>
        assert(b >= a - 1e-9, s"cohort $cw LTV decreased: $a -> $b")
      }
    }
  }

  test("entity clusters: >=2 variants each, canonical names distinct") {
    val rows = AnalyticsQueries.entityClusters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every cluster came from at least one pair -> >= 2 members
    rows.foreach(r => assert(r.getLong(1) >= 2, r))
    val ents = rows.map(_.getString(0))
    assert(ents.distinct.length === ents.length)
  }

  test("windowed funnel: monotone stages, bounded by unbounded funnel") {
    val win = AnalyticsQueries.funnelWindowed(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val open = AnalyticsQueries.funnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(win("1_signup") === open("1_signup")) // same entry stage
    assert(win("1_signup") >= win("2_click_72h"))
    assert(win("2_click_72h") >= win("3_purchase_72h"))
    // the deadline can only REMOVE conversions
    assert(win("2_click_72h") <= open("2_click"))
    assert(win("3_purchase_72h") <= open("3_purchase"))
  }

  test("hist2d: bounded grid, cell counts partition the stream") {
    import graft.io.Tables
    val rows = AnalyticsQueries.hist2d(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 23))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 9))
    assert(rows.map(_.getLong(2)).sum ===
      Tables.events(spark, sfDir).count())
  }

  test("stl: decomposition reconstructs, seasonal repeats by weekday") {
    val rows = AnalyticsQueries.stlDecompose(spark, sfDir).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val (rev, tr, se, res) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // components were rounded independently -> 2dp slack headroom
      assert(math.abs(rev - (tr + se + res)) < 0.03, r)
    }
    // seasonal depends only on weekday -> at most 7 distinct values
    assert(rows.map(_.getDouble(3)).distinct.length <= 7)
  }

  test("event paths: deterministic top-15, counts non-increasing") {
    val rows = AnalyticsQueries.eventPaths(spark, sfDir).collect()
    assert(rows.length === 15)
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sortBy(-_)))
    assert(rows.forall(_.getString(0).nonEmpty))
    // re-run must agree exactly (collect_list order is pinned by sort)
    val again = AnalyticsQueries.eventPaths(spark, sfDir).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      again.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("u-shaped attribution: credits sum to attributed purchases") {
    import graft.io.Tables
    val rows = AnalyticsQueries.attributionUshape(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totalCredit = rows.map(_.getDouble(1)).sum
    // every purchase with >=1 prior touch distributes exactly 1.0
    val ev = Tables.events(spark, sfDir)
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"))
    val attributed = ev.filter(col("event_type") === "purchase")
      .join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("ts"))
      .select("event_id").distinct().count()
    assert(math.abs(totalCredit - attributed) < 1e-2,
      s"credit $totalCredit vs $attributed purchases")
  }

  test("quantile norm: pct in [0,1], deciles 0-9, source max hits 1") {
    val rows = AnalyticsQueries.quantileNorm(spark, sfDir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 9L)
    }
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      if (rs.length > 1)
        assert(math.abs(rs.map(_.getDouble(3)).max - 1.0) < 1e-9, src)
    }
  }

  test("benford: digits 1-9, observed shares sum to 1") {
    val rows = AnalyticsQueries.benford(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to 9))
    val totalP = rows.map(_.getDouble(2)).sum
    assert(math.abs(totalP - 1.0) < 1e-4)
    // expected column IS Benford's law
    rows.foreach { r =>
      val d = r.getInt(0)
      assert(math.abs(r.getDouble(3) - math.log10(1.0 + 1.0 / d)) < 1e-6)
    }
  }

  test("entropy: bounded by ln k, normalized form in [0,1]") {
    val rows = AnalyticsQueries.entropyCat(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, h, hn) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(h >= -1e-9 && h <= math.log(k.toDouble) + 1e-9)
      assert(hn >= -1e-9 && hn <= 1.0 + 1e-9)
    }
  }

  test("mode: one row per user, count equals the max per-type count") {
    val got = AnalyticsQueries.modeGroup(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).distinct.length === got.length)
    val counts = graft.io.Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").count().collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    got.foreach { r =>
      val u = r.getLong(0)
      val maxN = counts.collect { case ((uu, _), n) if uu == u => n }.max
      assert(r.getLong(2) === maxN)
      // tie-break: no lexicographically-smaller type with the same count
      val winners = counts.collect {
        case ((uu, t), n) if uu == u && n == maxN => t }.toSeq.sorted
      assert(r.getString(1) === winners.head)
    }
  }

  test("autocorr: coefficient in [-1,1] over the full day span") {
    val r = AnalyticsQueries.autocorr(spark, sfDir).collect().head
    assert(r.getLong(0) > 1)
    val acf = r.getDouble(1)
    assert(acf >= -1.0 && acf <= 1.0)
  }

  test("psi: terms are non-negative-summing and shares each sum to 1") {
    val rows = AnalyticsQueries.psi(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-4)
    // total PSI is a sum of (p-q)ln(p/q) terms, each >= 0
    rows.foreach(r => assert(r.getDouble(5) >= -1e-9))
  }

  test("lift: deciles partition all events; rates reconstruct base") {
    val rows = AnalyticsQueries.lift(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    val n = rows.map(_.getLong(1)).sum
    assert(n === graft.io.Tables.events(spark, sfDir).count())
    // equal-count buckets: sizes differ by at most 1
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
  }

  test("zorder: every 16x16 tile's spans stay within the tile bound") {
    val rows = AnalyticsQueries.zorder(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) - r.getLong(2) < 16)
      assert(r.getLong(4) <= r.getLong(5) && r.getLong(5) - r.getLong(4) < 16)
    }
    // tiles cover all rows
    assert(rows.map(_.getLong(1)).sum ===
      graft.io.Tables.lineitem(spark, sfDir).count())
  }

  test("k-anonymity: suppressed never exceeds total, rate in [0,1]") {
    val rows = graft.queries.TrainingQueries.kAnonymity(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "violating groups <= groups")
      val rate = r.getDouble(4)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("ewma: 16-lag-tap spelling ≡ collect_list dyadic fold, bit-exact") {
    import org.apache.spark.sql.expressions.Window
    // r13 restructure pin: both spellings sum exact dyadic rationals
    // (integer x, power-of-two weights), so they must agree to the BIT
    // before the round(6) — exceptAll compares raw doubles. (The lag
    // form treats a NULL x as a zero tap where collect_list would skip
    // and renormalize — TestdataCanarySpec pins events.value NOT NULL,
    // and this equality would fail loudly if a refresh broke that.)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val frame = w.rowsBetween(-15, Window.currentRow)
    val old = graft.io.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value")).as("x"))
      .withColumn("xs", collect_list("x").over(frame))
      .withColumn("ewma", round(
        expr("""aggregate(
                  zip_with(xs, sequence(size(xs) - 1, 0, -1),
                           (x, k) -> x * pow(0.5d, k)),
                  0d, (acc, t) -> acc + t)""") /
          expr("2.0d - pow(0.5d, size(xs) - 1)"), 6))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("x"), col("ewma"))
    val neu = AnalyticsQueries.ewma(spark, sfDir)
    assert(neu.exceptAll(old).isEmpty && old.exceptAll(neu).isEmpty,
      "ewma spellings diverged")
  }

  test("profile: exact-distinct path never sorts the expanded relation") {
    // r13 restructure gate: splitting count(distinct) from the
    // string-buffered min/max leaves the ×N-expanded dedup a pure
    // HashAggregate — the only Sort in the whole plan is the final
    // presentation orderBy (the old single-aggregate form sorted the
    // expanded relation twice on a 7-column key).
    val plan = AnalyticsQueries.profileTable(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Sort \\[".r.findAllIn(plan).length === 1,
      s"expected exactly the presentation sort, plan:\n$plan")
  }
}
