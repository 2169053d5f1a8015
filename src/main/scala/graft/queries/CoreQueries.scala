package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Ops

/** Core relational query inventory (SURVEY.md §2.2–2.7) instantiated on
  * the driver testdata, each paired with an ANSI-SQL oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Determinism contract (SURVEY.md §5): every query ends in a TOTAL order
  * (unique key in the ORDER BY) and every floating aggregate whose value
  * depends on accumulation order is `round`ed identically on both sides;
  * integer-valued doubles (l_quantity) sum exactly and stay unrounded.
  */
object CoreQueries {

  /** A1 grouped sum: pricing-summary style aggregate over lineitem.
    * Map-side partial agg → shuffle on (returnflag, linestatus) → final.
    */
  def aggSum(s: SparkSession, d: String): DataFrame =
    // Money sums are exact integer cents (micro-units for the mean),
    // converted to double once at the end: a sum(double) is
    // order-dependent in the 2nd decimal at the ×100 leg (proven
    // oracle-side at sf10 — two DuckDB sweeps disagreed with each
    // other), while the exact integer sum is identical under ANY
    // partitioning/merge order on both engines.
    //
    // TWO-TIER spelling (r14, VERDICT r13 #2): the r13 form fed
    // Spark's DECIMAL(38,0) aggregation buffer on EVERY row — a
    // 128-bit BigDecimal add per row, 4× the query's run_ms. Here the
    // per-partition partial sums stay in a LONG buffer (codegen'd
    // primitive add; grouping on spark_partition_id makes each group
    // partition-local, so the bound is per-TASK: ≤ ~10⁷ rows per
    // 128 MB split × < 10⁸ cents per row < 10¹⁵ ≪ 2⁶³ — no overflow
    // at any split size Spark plans), and only the ≤ groups ×
    // partitions partial rows are promoted to DECIMAL(38,0) for the
    // cross-partition merge, which stays exact for unbounded task
    // counts. Associativity of integer addition ⇒ bit-identical to
    // the single-tier decimal sum. spark_partition_id is stable under
    // task retry (same partition ⇒ same id), and the RESULT is
    // id-independent anyway (any grouping of the rows sums the same).
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("__cents"),
        round(col("l_discount") * 1000000, 0).cast("long").as("__micro"))
      .withColumn("__pid", spark_partition_id())
      .groupBy("l_returnflag", "l_linestatus", "__pid")
      .agg(
        sum("l_quantity").as("__qty"),
        sum("__cents").as("__cents_s"),
        sum("__micro").as("__micro_s"),
        count(lit(1)).as("__n"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // l_quantity is integer-valued, so the double partials are
        // exact (≪ 2⁵³) and re-associating them cannot change the sum
        sum("__qty").as("sum_qty"),
        round(sum(col("__cents_s").cast("decimal(38,0)")).cast("double")
          / 100, 2).as("sum_price"),
        round(sum(col("__micro_s").cast("decimal(38,0)")).cast("double")
          / 1000000 / sum("__n"), 6).as("avg_disc"),
        sum("__n").as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A1 variant for skewed keys: salted two-phase grouped sum. Result
    * is identical to the plain grouped sum (the oracle IS the plain
    * GROUP BY), but one hot key spreads over 16 reducers in phase 1.
    */
  def aggSumSalted(s: SparkSession, d: String): DataFrame =
    Ops.saltedGroupedSum(
      Tables.lineitem(s, d).select("l_returnflag", "l_quantity"),
      Seq("l_returnflag"), "l_quantity", alias = "sum_qty")
      .orderBy("l_returnflag")

  /** A2 deterministic arg-max: per supplier, the ship-year with the
    * highest total quantity; ties → smallest year (window row_number,
    * reference `report_processor.py:164-166` semantics).
    */
  def argMaxBestYear(s: SparkSession, d: String): DataFrame = {
    val yearly = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(sum("l_quantity").as("total_qty"))
    Ops.argMax(yearly, "l_suppkey", "total_qty", "ship_year")
      .select("l_suppkey", "ship_year", "total_qty")
      .orderBy("l_suppkey")
  }

  /** A3/A4/A5 global stats: mean / sample-stddev / count / min / max over
    * order totals in a date range (reference population-stats shape,
    * `report_processor.py:100-132`). Single-row reduce; stddev is
    * ddof=1 (pandas default) = stddev_samp.
    */
  def globalStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate").between("1996-01-01", "1997-12-31"))
      .agg(
        round(avg("o_totalprice"), 4).as("mean_price"),
        round(stddev_samp(col("o_totalprice")), 4).as("stddev_price"),
        count(col("o_totalprice")).as("n"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))

  /** P1/P2/F1 projection + trimmed equality filter (reference filters with
    * `.str.strip()` inside the predicate, `report_processor.py:204-207`).
    */
  def projFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(trim(col("l_returnflag")) === "R" &&
        trim(col("l_linestatus")) === "F")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** P3 closed-interval range filter (`Year >= lo AND Year <= hi`,
    * reference `report_processor.py:100-103`).
    */
  def rangeFilter(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(year(col("o_orderdate")).between(1996, 1998))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      .orderBy("o_orderkey")

  /** J1/J2 left equi-join enrichment: every customer enriched with its
    * order aggregate; unmatched customers keep NULLs (reference left-merge
    * null-fill, `report_processor.py:239-243`). The aggregated dim side is
    * small → broadcast.
    */
  def leftJoinEnrich(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_spent"))
    Tables.customer(s, d)
      .join(broadcast(perCust), Seq("c_custkey"), "left")
      .select("c_custkey", "c_name", "n_orders", "total_spent")
      .orderBy("c_custkey")
  }

  /** J3/J4 left-anti join (set-minus over keys): customers with no orders
    * in a given year (the sync engine's delete/new-file detection shape,
    * `Task_1_sync_bls_files.py:150-151,189`).
    */
  def antiJoin(s: SparkSession, d: String): DataFrame = {
    val o95 = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
    Tables.customer(s, d)
      .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** A6 distinct values of a column pair. */
  def distinctVals(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** O1/O2 top-k: highest-value orders, deterministic tie-break on key.
    * Physical plan is TakeOrderedAndProject (per-partition heap + k-way
    * merge), NOT a total sort — the shape that survives 100 TB.
    */
  def topK(s: SparkSession, d: String): DataFrame =
    Ops.topK(Tables.orders(s, d), 10,
      col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** §2.7 EXCEPT DISTINCT: customers whose first order arrived in or
    * after 1999 (late adopters) — set-minus over row data.
    */
  def setExcept(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.filter(year(col("o_orderdate")) >= 1999)
      .select(col("o_custkey").as("custkey"))
      .except(o.filter(year(col("o_orderdate")) < 1999)
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Full-outer join (the CDC merge's join shape, J3+J4+J5 in one):
    * yearly spend per customer in 1995 vs 1996, null where absent.
    */
  def fullOuterJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def spend(y: Int, alias: String) =
      o.filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(round(sum("o_totalprice"), 2).as(alias))
    spend(1995, "spend_1995")
      .join(spend(1996, "spend_1996"), Seq("custkey"), "full_outer")
      .orderBy("custkey")
  }

  /** Cross join (small × small): region × order-status matrix. */
  def crossJoinSmall(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select("r_name")
      .crossJoin(Tables.orders(s, d).select("o_orderstatus").distinct())
      .orderBy("r_name", "o_orderstatus")

  /** HAVING (post-aggregation filter): customers with ≥ 15 orders. */
  def havingAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")

  /** Ordered string aggregation: sorted distinct languages per source
    * (deterministic via array_sort, so the oracle's ORDER BY inside
    * string_agg matches exactly).
    */
  def stringAgg(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** Array functions over the embedding column: size, min/max/avg of
    * elements (cast to double; Catalyst array built-ins).
    */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("__d", expr("transform(embedding, x -> cast(x AS DOUBLE))"))
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(array_min(col("__d")), 6).as("min_v"),
        round(array_max(col("__d")), 6).as("max_v"),
        round(expr("aggregate(__d, 0D, (a, x) -> a + x) / size(__d)"), 6)
          .as("mean_v"))
      .orderBy("vec_id")

  /** §2.5 window functions: ranking + lag + running frame sum within a
    * customer's order history. One shuffle on o_custkey serves all three
    * window functions (same partition spec).
    */
  def windowFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    // one range exchange serves the window AND the final sort (see
    // FuncQueries.rankFuncs — same keys, same argument)
    Tables.orders(s, d)
      .repartitionByRange(col("o_custkey"))
      .withColumn("order_rank", row_number().over(w).cast("long"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("running_spend",
        round(sum("o_totalprice").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("first_price",
        first(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("o_custkey", "o_orderkey", "order_rank", "prev_price",
        "running_spend", "quartile", "first_price")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** A-gap rollup (grouping sets family): sums at (flag,status), (flag),
    * and grand-total levels. NULL group cells mark the rolled-up levels in
    * both engines.
    */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** O2 per-group top-k: the 3 highest-priced parts per brand,
    * deterministic tie-break on part key. Output is |brands|·k rows
    * regardless of input size — the window sorts per group, never
    * globally.
    */
  def topKPerGroup(s: SparkSession, d: String): DataFrame =
    Ops.topKPerGroup(Tables.part(s, d), 3, Seq("p_brand"),
      col("p_retailprice").desc, col("p_partkey").asc)
      .select("p_brand", "p_partkey", "p_retailprice")
      .orderBy("p_brand", "p_partkey")

  /** Point-in-interval range join via bin-grid equi-join
    * ([[Ops.rangeJoinBinned]]): per brand, how many parts (of ANY
    * brand) price inside that brand's [min, max] band. The naive
    * spelling is a theta-join (BroadcastNestedLoopJoin — the plan shape
    * that dies at scale); the binned form shuffles on the bin key only.
    */
  def rangeJoinBands(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val bands = p.groupBy(col("p_brand").as("band_brand"))
      .agg(min("p_retailprice").as("band_lo"),
        max("p_retailprice").as("band_hi"))
    val points = p.select(col("p_partkey"), col("p_retailprice"))
    Ops.rangeJoinBinned(points, bands,
      "p_retailprice", "band_lo", "band_hi", binWidth = 100.0)
      .groupBy("band_brand")
      .agg(count(lit(1)).as("n_in_band"),
        round(avg("p_retailprice"), 6).as("avg_in_band"))
      .orderBy("band_brand")
  }

  /** Skew-resistant salted equi-join ([[Ops.saltedJoin]]): every
    * lineitem enriched with its return-flag's average discount. The
    * join key has 3 distinct values (extreme skew by construction) —
    * salting spreads each hot key over 16 reducers. Result is
    * identical to the plain join, which IS the oracle.
    */
  def joinSalted(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val dim = li.groupBy("l_returnflag")
      .agg(round(avg("l_discount"), 6).as("flag_avg_disc"))
    Ops.saltedJoin(
      li.select("l_orderkey", "l_linenumber", "l_returnflag"),
      dim, "l_returnflag")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "flag_avg_disc")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** §2.7 multiset EXCEPT ALL: per-supplier lineitem multiplicity minus
    * the 'R'-flagged multiplicity — duplicates preserved (each suppkey
    * appears n_total − n_R times), which DISTINCT except cannot express.
    */
  def exceptAll(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.select(col("l_suppkey").as("suppkey"))
      .exceptAll(li.filter(col("l_returnflag") === "R")
        .select(col("l_suppkey").as("suppkey")))
      .orderBy("suppkey")
  }

  /** §2.7 multiset INTERSECT ALL: per-supplier min(multiplicity in 'R',
    * multiplicity in 'F'-status) copies survive.
    */
  def intersectAll(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").as("suppkey"))
      .intersectAll(li.filter(col("l_linestatus") === "F")
        .select(col("l_suppkey").as("suppkey")))
      .orderBy("suppkey")
  }

  /** Schema-evolution union (`unionByName(allowMissingColumns)`): two
    * projections with different column sets union by NAME, absent
    * columns null-filled — the operation every long-lived dataset needs
    * when new fields appear mid-history. The two year slices have
    * disjoint keys, so the output order is total.
    */
  def unionEvolve(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val v1 = o.filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = o.filter(year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"), col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics CDC diffs
    * need when the business key is nullable. Still a hash-partitioned
    * equi-join (EqualNullSafe is a valid join key), NOT a nested loop.
    */
  def nullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(expr("nullif(c_nationkey, 3)").as("ck"))
    val sp = Tables.supplier(s, d)
      .select(expr("nullif(s_nationkey, 3)").as("sk"))
    c.join(sp, col("ck") <=> col("sk"))
      .groupBy(coalesce(col("ck"), lit(-1L)).as("nation_key"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("nation_key")
  }

  /** Multi-way join: region → nation → customer → orders rollup, the
    * star-schema path. nation/region are tiny → broadcast both; the only
    * shuffle is the final per-nation aggregate.
    */
  def starJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("r_name", "n_name")

  /** Runtime Bloom-pruned join: orders against the BUILDING-segment
    * customers (1-in-5 selectivity). The Bloom sketch of the filtered
    * dim keys drops ~80% of the fact side before the join shuffle —
    * result identical to the plain join (no false negatives; the join
    * removes false positives). See [[graft.ops.BloomPrune]] for the
    * 100 TB rationale.
    */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    graft.ops.BloomPrune.prunedJoin(
        Tables.orders(s, d), dim, "o_custkey", "c_custkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderpriority")
  }

  /** Co-located join over bucketed tables (SURVEY §2.3 at scale): both
    * sides are laid out with `bucketBy(8, custkey)` + `sortBy` once, then
    * the join plans as SortMergeJoin with NO Exchange and NO Sort on
    * either side — the per-query shuffle of the fact table is amortized
    * into the write (see [[graft.io.Bucketing]]; shuffle-freedom is
    * asserted in IoSpec, result parity against the plain shuffled join
    * here). The dimension key is renamed to the fact key pre-write so
    * the bucket columns unify under one join column.
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    // Each layout is a WRITE-side artifact keyed to its own source
    // DATA ([[graft.io.Bucketing.layout]]): lay out once per source
    // snapshot, then every query — including bench re-iterations —
    // pays only the recurring exchange-free join, which is exactly the
    // amortization bucketing exists to buy.
    val ot = graft.io.Bucketing.layout(s, "orders_bkt",
        Tables.path(d, "orders"), "o_custkey", 8) {
      Tables.orders(s, d).select("o_custkey", "o_totalprice")
    }
    val ct = graft.io.Bucketing.layout(s, "customer_bkt",
        Tables.path(d, "customer"), "o_custkey", 8) {
      Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))
    }
    graft.io.Bucketing.bucketedJoin(s, ot, ct, "o_custkey")
      // order-independent money sum: exact LONG cents per partition,
      // DECIMAL(38,0) only across the partial rows — the two-tier
      // template (bounds and retry-stability argument in [[aggSum]])
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100, 0).cast("long").as("__cents"))
      .withColumn("__pid", spark_partition_id())
      .groupBy("c_mktsegment", "__pid")
      .agg(count(lit(1)).as("__n"), sum("__cents").as("__cents_s"))
      .groupBy("c_mktsegment")
      .agg(sum("__n").as("n_orders"),
        round(sum(col("__cents_s").cast("decimal(38,0)")).cast("double")
          / 100, 2).as("revenue"))
      .orderBy("c_mktsegment")
  }
}
