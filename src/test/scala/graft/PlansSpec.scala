package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.plans.{AsofJoin, AsofJoinExec}

/** The native sorted-merge as-of join (logical node + strategy +
  * physical operator) against the composed window form and hand
  * fixtures.
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("native asof matches hand-computed latest-at-or-before semantics") {
    val quotes = Seq(
      (1L, 10L, 100.0), (1L, 20L, 110.0), (1L, 30L, 120.0),
      (2L, 15L, 200.0)
    ).toDF("sym", "qts", "px")
      .withColumnRenamed("qts", "t")
    val trades = Seq(
      (1L, 5L), (1L, 10L), (1L, 25L), (1L, 35L),
      (2L, 14L), (2L, 16L), (3L, 50L)
    ).toDF("sym2", "t2").select(col("sym2").as("sym"), col("t2").as("t"))
    val got = AsofJoin.asof(trades, quotes, Seq("sym"), "t", Seq("px"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got((1L, 5L)) === None)         // before first quote
    assert(got((1L, 10L)) === Some(100.0)) // exact tie matches
    assert(got((1L, 25L)) === Some(110.0)) // latest <= 25
    assert(got((1L, 35L)) === Some(120.0))
    assert(got((2L, 14L)) === None)
    assert(got((2L, 16L)) === Some(200.0))
    assert(got((3L, 50L)) === None)        // key with no right rows
  }

  test("native asof equals the composed window form on real events") {
    val ev = graft.io.Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
    val composed = graft.ops.Ops.asofJoin(
        purchases, signups, Seq("user_id"), "ts", Seq("signup_event_id"))
      .select("event_id", "signup_event_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val native = AsofJoin.asof(
        purchases, signups, Seq("user_id"), "ts", Seq("signup_event_id"))
      .select("event_id", "signup_event_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(native.size === composed.size)
    assert(native === composed)
  }

  test("native asof plans AsofJoinExec with one exchange per side") {
    val ev = graft.io.Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
    val df = AsofJoin.asof(purchases, signups, Seq("user_id"), "ts",
      Seq("signup_event_id"))
    val plan = PlansSpec.executedPlan(df)
    assert(plan.collect { case e: AsofJoinExec => e }.nonEmpty,
      s"expected AsofJoinExec in:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size === 2, s"expected 2 exchanges, got:\n$plan")
  }

  test("asof on a graft session plans natively without mutating extraStrategies") {
    val l = Seq((1L, 5L)).toDF("k", "t")
    val r = Seq((1L, 4L, 9L)).toDF("k", "t", "v")
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(PlansSpec.asofExecs(AsofJoin.asof(l, r, Seq("k"), "t", Seq("v"))) === 1)
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("asof on a plain session without the extension still plans natively") {
    // a session of its own needs a SparkContext of its own: child JVM
    val out = childJvm(PlainSessionAsofProbe)
    assert(out.contains("asof-execs=1 extra-strategies=1 rows=1"), out)
  }

  test("approx-distinct rule: flag swaps exact count(distinct) for HLL") {
    // a child session, so the flag flip stays local; the rule itself
    // is the one GraftExtensions installs
    val s2 = spark.newSession()
    def q() = graft.io.Tables.events(s2, sfDir)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.countDistinct("user_id")
        .as("u"))
    // flag off (default): plan stays exact, no sketch anywhere
    val exact = q().collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(!q().queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
    // flag on: the optimized plan carries the sketch aggregate and the
    // answer lands within HLL++'s 5% band on every group
    s2.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "true")
    try {
      val plan = q().queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"),
        s"expected HLL rewrite in:\n$plan")
      q().collect().foreach { r =>
        val (k, approx) = (r.getString(0), r.getLong(1))
        assert(math.abs(approx - exact(k)).toDouble /
          exact(k) <= 0.15, s"$k: $approx vs ${exact(k)}")
      }
    } finally s2.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "false")
  }
}

object PlansSpec {
  /** The plan `df` executed, AQE's wrapper unwrapped. */
  def executedPlan(df: DataFrame): SparkPlan = {
    df.count() // finalize any adaptive plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  def asofExecs(df: DataFrame): Int =
    executedPlan(df).collect { case e: AsofJoinExec => e }.size
}

/** Child-JVM probe: a caller's own session, built without
  * [[GraftExtensions]], runs two as-of joins and prints how many
  * AsofJoinExec the last one planned and how many strategies
  * `AsofJoin.register` added.
  */
object PlainSessionAsofProbe {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    import spark.implicits._
    val l = Seq((1L, 5L)).toDF("k", "t")
    val r = Seq((1L, 4L, 9L)).toDF("k", "t", "v")
    AsofJoin.asof(l, r, Seq("k"), "t", Seq("v")).count()
    val df = AsofJoin.asof(l, r, Seq("k"), "t", Seq("v"))
    println(s"asof-execs=${PlansSpec.asofExecs(df)} " +
      s"extra-strategies=${spark.experimental.extraStrategies.size} " +
      s"rows=${df.count()}")
    spark.stop()
  }
}
