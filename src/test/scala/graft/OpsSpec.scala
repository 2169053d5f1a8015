package graft

import org.apache.spark.sql.functions._

import graft.ops.{BloomPrune, Ops}

/** Unit + property-style tests (seeded random cases) for the generic
  * operators (SURVEY.md §5).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("argMax picks row with max value; tie -> smallest tiebreak") {
    val df = Seq(
      ("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 5.0),
      ("b", 7, 1.0), ("b", 5, 2.0)
    ).toDF("k", "year", "v")
    val got = Ops.argMax(df, "k", "v", "year").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(got === Map("a" -> ((1, 10.0)), "b" -> ((5, 2.0))))
  }

  test("argMax ties always resolve to min tiebreak (seeded property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(30)
      val rows = (0 until n).map(i => ("k", i, rnd.nextInt(5).toDouble))
      val got = Ops.argMax(rows.toDF("k", "t", "v"), "k", "v", "t").collect()
      assert(got.length === 1)
      val maxV = rows.map(_._3).max
      val wantT = rows.filter(_._3 == maxV).map(_._2).min
      assert(got(0).getInt(1) === wantT)
      assert(got(0).getDouble(2) === maxV)
    }
  }

  test("groupedSum is permutation-invariant (integer-valued doubles)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map(_ =>
      (if (rnd.nextBoolean()) "x" else "y", rnd.nextInt(1000).toDouble))
    val a = Ops.groupedSum(rows.toDF("k", "v"), Seq("k"), "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Ops.groupedSum(rows.reverse.toDF("k", "v"), Seq("k"), "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("enrichLeft keeps unmatched rows with nulls and casts keys to int") {
    val fact = Seq((1995L, "a"), (2021L, "b")).toDF("year", "tag")
    val dim = Seq((2021, 99.0)).toDF("year", "population")
    val got = Ops.enrichLeft(fact, dim, "year")
      .orderBy("year").collect()
    assert(got(0).isNullAt(2))
    assert(got(1).getDouble(2) === 99.0)
  }

  test("topK matches full-sort head") {
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    val viaTopK = Ops.topK(df, 5, col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    val viaSort = df.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey").collect().take(5).map(_.getLong(0)).toSeq
    assert(viaTopK === viaSort)
  }

  test("asofJoin: latest right row at-or-before each left ts, per key") {
    val left = Seq(
      ("u1", 10L, "p1"), ("u1", 25L, "p2"), ("u2", 5L, "p3")
    ).toDF("k", "ts", "pid")
    val right = Seq(
      ("u1", 10L, "s1"), ("u1", 20L, "s2"), ("u2", 7L, "s3")
    ).toDF("k", "ts", "sid")
    val got = Ops.asofJoin(left, right, Seq("k"), "ts", Seq("sid"))
      .select("pid", "sid").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got === Map(
      "p1" -> Some("s1"),  // equal ts matches
      "p2" -> Some("s2"),  // latest preceding, not first
      "p3" -> None))       // right row is later -> no match
  }

  test("asofJoin matches naive theta-join + argmax on real events") {
    val ev = graft.io.Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("sid"))
    val fast = Ops.asofJoin(purchases, signups, Seq("user_id"), "ts", Seq("sid"))
      .select("event_id", "sid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // naive: all (purchase, earlier-signup) pairs, keep latest signup
    val naive = purchases.as("p")
      .join(signups.as("s"),
        col("p.user_id") === col("s.user_id") && col("p.ts") >= col("s.ts"),
        "left")
      .groupBy(col("p.event_id"))
      .agg(max_by(col("s.sid"), col("s.ts")).as("sid"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(fast === naive)
  }

  test("topKPerGroup matches per-group sort-take") {
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    val got = Ops.topKPerGroup(df, 2, Seq("o_orderstatus"),
      col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderstatus", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = df.collect()
      .map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("o_orderkey"), r.getAs[Double]("o_totalprice")))
      .groupBy(_._1).toSeq.flatMap { case (st, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(2).map(t => (st, t._2)).toSeq
      }.toSet
    assert(got === want)
  }

  test("rangeJoinBinned matches the naive theta-join") {
    val rnd = new scala.util.Random(99)
    val points = (1 to 300).map(i => (i.toLong, rnd.nextDouble() * 1000))
      .toDF("pid", "p")
    val intervals = (1 to 40).map { i =>
      val lo = rnd.nextDouble() * 900
      (i.toLong, lo, lo + rnd.nextDouble() * 150)
    }.toDF("iid", "lo", "hi")
    val fast = Ops.rangeJoinBinned(points, intervals, "p", "lo", "hi", 50.0)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naive = points.join(intervals,
      col("p").between(col("lo"), col("hi")))
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per matching pair — compare as sorted multisets
    assert(fast.sorted.toSeq === naive.sorted.toSeq)
  }

  test("rangeJoinBinned plans an equi-join, not a nested-loop product") {
    val points = Seq((1L, 5.0)).toDF("pid", "p")
    val intervals = Seq((1L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    val plan = Ops.rangeJoinBinned(points, intervals, "p", "lo", "hi", 1.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("saltedJoin == plain join, including left-join null rows") {
    val fact = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "v")
    val dim = Seq((1, 10.0), (2, 20.0)).toDF("k", "w")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    for (jt <- Seq("inner", "left")) {
      val salted = norm(Ops.saltedJoin(fact, dim, "k", 4, jt)
        .select("k", "v", "w"))
      val plain = norm(fact.join(dim, Seq("k"), jt).select("k", "v", "w"))
      assert(salted.map(t => (t._1, t._2)) === plain.map(t => (t._1, t._2)),
        s"join type $jt keys")
      assert(salted.zip(plain).forall { case (a, b) =>
        (a._3.isNaN && b._3.isNaN) || a._3 == b._3 }, s"join type $jt values")
    }
  }

  test("bloomPrunedJoin is result-identical to the plain equi-join") {
    val fact = (0 until 2000).map(i => (i.toLong, (i % 500).toLong))
      .toDF("id", "key")
    val dim = (0 until 50).map(i => (i.toLong * 7, s"d$i"))
      .toDF("dkey", "payload")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "key", "dkey", "payload").collect()
        .map(_.toString).sorted.toSeq
    assert(norm(BloomPrune.prunedJoin(fact, dim, "key", "dkey")) ===
      norm(fact.join(dim, fact("key") === dim("dkey"))))
  }

  test("bloom probe keeps all matches and prunes the bulk of non-matches") {
    val fact = (0L until 10000L).toDF("key")
    val dim = (0L until 100L).toDF("dkey")
    val bytes = dim.agg(BloomPrune.bloomAgg(col("dkey")).as("b"))
      .head.getAs[Array[Byte]](0)
    val kept = fact
      .where(BloomPrune.mightContain(lit(bytes), col("key"))).count()
    assert(kept >= 100, "a Bloom filter must have no false negatives")
    // 8M bits for 100 items → fp rate ≈ 0; allow generous slack anyway
    assert(kept < 500, s"pruning ineffective: kept $kept of 10000")
  }

  test("bloomPrunedJoin rejects fact-preserving outer join types") {
    val fact = Seq((1L, 1L)).toDF("id", "key")
    val dim = Seq((1L, "x")).toDF("dkey", "payload")
    intercept[IllegalArgumentException] {
      BloomPrune.prunedJoin(fact, dim, "key", "dkey", "left")
    }
  }

  test("GlobalOrder.ntileExact == window ntile (ties, nulls, N%n!=0)") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.GlobalOrder
    // 1003 rows (N % 10 = 3), heavy ties (v in 0..19), some null keys
    val df = (0L until 1003L).map { i =>
      (i, if (i % 41 == 0) None else Some((i * 7 % 20).toDouble))
    }.toDF("id", "v")
    def got(asc: Boolean) = GlobalOrder
      .ntileExact(df, 10, col("v"), asc, Seq(col("id")), fanout = 7)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def want(asc: Boolean) = {
      val o = if (asc) col("v").asc_nulls_first else col("v").desc_nulls_last
      df.withColumn("bucket",
          ntile(10).over(Window.orderBy(o, col("id").asc)).cast("long"))
        .select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got(asc = true) === want(asc = true))
    assert(got(asc = false) === want(asc = false))
  }

  test("ntileExact: N < n and single-row edge cases") {
    import graft.ops.GlobalOrder
    import org.apache.spark.sql.expressions.Window
    val tiny = Seq((1L, 5.0), (2L, 3.0), (3L, 9.0)).toDF("id", "v")
    val got = GlobalOrder.ntileExact(tiny, 10, col("v"), ascending = true,
        Seq(col("id")), fanout = 4)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = tiny.withColumn("bucket",
        ntile(10).over(Window.orderBy(col("v").asc, col("id").asc))
          .cast("long"))
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("ntileExact plans no empty-partition window") {
    import graft.ops.GlobalOrder
    val df = (0L until 100L).map(i => (i, i * 3 % 17)).toDF("id", "v")
    val plan = GlobalOrder
      .ntileExact(df, 10, col("v"), ascending = true, Seq(col("id")))
      .queryExecution.executedPlan
    val bad = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            // the offsets window runs over the <= fanout+1-row count
            // table: recognizable by the aggregate directly beneath it
            !w.child.exists(_.isInstanceOf[
              org.apache.spark.sql.execution.aggregate.BaseAggregateExec]) =>
        w
    }
    assert(bad.isEmpty, s"raw-input global window in plan:\n$plan")
  }

  test("ntileExact: all-null-castable key logs the degeneracy warning") {
    import graft.ops.GlobalOrder
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the warning must go through log4j (driver log capture reads the
    // log stream, not a raw System.err.println) — capture it with an
    // in-memory appender on the class's logger
    val messages = scala.collection.mutable.ArrayBuffer[String]()
    val appender = new AbstractAppender(
        "graft-test-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.synchronized { messages += e.getMessage.getFormattedMessage }
    }
    appender.start()
    val logger = LogManager.getLogger("graft.ops.GlobalOrder")
      .asInstanceOf[CoreLogger]
    val prevLevel = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      // non-numeric strings cast to double as NULL on every row — the
      // boundary model comes back empty while the input is non-empty
      val df = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "id")
      val got = GlobalOrder.ntileExact(df, 2, col("k"), ascending = true,
          Seq(col("id")), fanout = 4)
        .select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // ranks stay CORRECT (lexicographic order a<b<c), only the plan
      // shape degenerates
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
      val warned = messages.synchronized(messages.toList)
      assert(warned.exists(_.contains("range-boundary model is empty")),
        s"degeneracy warning must fire through log4j; saw: $warned")
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(prevLevel)
      appender.stop()
    }
  }
}
