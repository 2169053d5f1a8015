package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness
import graft.io.Tables

/** Synthesize an sfN-shaped dataset (N× sf0.1) for the decade bench
  * legs: every table replicated with DISJOINT key ranges — and, for
  * the similarity-bearing tables, per-replica salting — so operator
  * COST scales honestly instead of being distorted by artificial
  * cross-replica duplicates:
  *
  *  - relational keys (orders/lineitem/customer/supplier/part,
  *    events users) shift by replica, so join/group cardinalities
  *    scale ×N like real data;
  *  - document text is token-salted per replica (the twin discipline
  *    of the decade legs, BASELINE §12): each replica keeps the base
  *    corpus's own intra-replica near-dups (true-dup volume scales ×N,
  *    linear), but no cross-replica pairs exist — an exact copy ×N
  *    would make the true pair set quadratic and every dedup query's
  *    cost unrepresentative;
  *  - embeddings get a deterministic per-replica sign pattern, same
  *    rationale;
  *  - region/nation are fixed dimensions (25/5 rows) at every scale,
  *    exactly like TPC-H.
  *
  * Usage:
  *   `sbt "runMain graft.examples.MakeSf1 [outDir] [reps] [tablesCsv]"`
  * then `SPARK_GRAFT_SF_DIR=outDir sbt "runMain graft.Bench"`. The
  * source tables and the session come from [[graft.Harness]]
  * (`SPARK_GRAFT_SF_DIR`, default sf0.1; `SPARK_GRAFT_CPUS`).
  *
  * Args are POSITIONAL: `reps` defaults to 10 (the sf1 leg). The
  * ×100 capstone leg (VERDICT r9 #2) passes
  * `MakeSf1 /tmp/graft_sf10 100 documents,embeddings` — the
  * curation/dedup family's two tables — because replicating the
  * relational fact tables ×100 buys nothing for that family and
  * ~10× the build time. With a table subset, the fixed dims are
  * still copied so the bench warm-up finds them.
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = Harness.settings.sfDir
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] = args.drop(2).headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Harness.session()

    // With a table subset, pre-existing NON-selected tables in the out
    // dir are left untouched — a prior build at a different reps value
    // would yield a silently mixed-scale dataset (ADVICE r10). Warn
    // loudly so a bench leg over such a dir is attributable.
    only.foreach { sel =>
      val all = Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")
      val stale = all.filterNot(sel)
        .filter(t => new java.io.File(Tables.path(out, t)).exists())
      if (stale.nonEmpty)
        println(s"[make-sf] WARNING: out dir already holds non-selected " +
          s"tables ${stale.mkString(", ")} from a prior build — they are " +
          s"LEFT AS-IS and may be at a different scale than this x$reps run")
    }

    def load(t: String) = Tables.table(spark, src, t)
    def save(df: DataFrame, t: String) =
      df.write.mode("overwrite").parquet(Tables.path(out, t))
    def repl(t: String)(shift: (DataFrame, Int) => DataFrame): Unit =
      if (only.forall(_.contains(t))) {
        val base = load(t)
        save((0 until reps).map(i => shift(base, i)).reduce(_ unionByName _), t)
        println(s"[make-sf] $t x$reps")
      }

    // fixed dims (always copied: the bench warm-up reads nation)
    for (t <- Seq("region", "nation")) { save(load(t), t); println(s"[make-sf] $t (fixed dim)") }

    val C = 10000000L // key stride, beyond every sf0.1 key range
    repl("customer")((df, i) => df
      .withColumn("c_custkey", col("c_custkey") + lit(i * C))
      .withColumn("c_name", concat(col("c_name"), lit(s"#r$i"))))
    repl("supplier")((df, i) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(i * C))
      .withColumn("s_name", concat(col("s_name"), lit(s"#r$i"))))
    repl("part")((df, i) => df
      .withColumn("p_partkey", col("p_partkey") + lit(i * C))
      .withColumn("p_name", concat(col("p_name"), lit(s"#r$i"))))
    repl("orders")((df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * C))
      .withColumn("o_custkey", col("o_custkey") + lit(i * C)))
    repl("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * C))
      .withColumn("l_partkey", col("l_partkey") + lit(i * C))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * C)))
    repl("events")((df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * C))
      .withColumn("user_id", col("user_id") + lit(i * C)))
    // documents shift by the ID-SPACE SIZE, not the generic stride:
    // q_hierarchy/q_subtree_agg derive `parent = doc_id div 2`, and
    // a contiguous base range [0, n) replicated as [i*n, (i+1)*n)
    // keeps the whole [0, reps*n) range CLOSED under div-2 (every
    // parent id exists; the forest deepens by log2(reps) rounds,
    // exactly like real ×N growth), where an arbitrary offset left
    // odd replicas' parents dangling and the hierarchy guard
    // (correctly) refused to run at sf1 (VERDICT r8 #4).
    if (only.forall(_.contains("documents"))) {
      val docIds = load("documents")
        .agg(min("doc_id"), max("doc_id"), count(lit(1))).collect()(0)
      require(docIds.getLong(0) == 0L &&
        docIds.getLong(1) == docIds.getLong(2) - 1L,
        s"documents doc_id must be contiguous [0, n) for the div-2 " +
          s"closure: min=${docIds.getLong(0)} max=${docIds.getLong(1)} " +
          s"n=${docIds.getLong(2)}")
      val nDocs = docIds.getLong(2)
      repl("documents")((df, i) => df
        .withColumn("doc_id", col("doc_id") + lit(i * nDocs))
        // per-replica token salt: shingles never collide across replicas
        .withColumn("text", when(col("text").isNotNull, concat_ws(" ",
          transform(split(col("text"), " "),
            t => concat(t, lit(s"~$i"))))))
        .withColumn("n_chars", length(coalesce(col("text"), lit("")))))
    }
    repl("embeddings")((df, i) => df
      .withColumn("vec_id", col("vec_id") + lit(i * C))
      .withColumn("embedding", expr(
        s"transform(embedding, (x, j) -> " +
          s"CASE WHEN pmod(hash($i, j), 2) = 0 THEN -x ELSE x END)")))

    println(s"[make-sf] wrote $out (x$reps)")
    spark.stop()
  }
}
