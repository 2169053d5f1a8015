package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hashed-ngram LINEAR quality classifier — the production shape of
  * an LLM-corpus quality filter (a fasttext-style binary classifier
  * scored as w·φ(text)+b over feature-hashed unigrams+bigrams; the
  * heuristic scorer in [[TextAnalysis]] is the bootstrap, this is
  * what replaces it once a model is trained).
  *
  * Spark-first design:
  *  - scoring is EXPRESSION-ONLY and embarrassingly parallel: the
  *    weight vector ships as an array literal into the plan (the
  *    LSH-hyperplanes-as-literals discipline), features are
  *    `pmod(xxhash64(token), D)` buckets, and the dot product is one
  *    `aggregate()` fold per row — zero shuffles, zero UDFs, fully
  *    codegen'd, and trivially correct at any corpus size because no
  *    state leaves the row;
  *  - weights are INTEGER-SCALED (micro-units, ×1e-6): the per-doc
  *    dot product is exact 64-bit integer arithmetic, so the score is
  *    bit-identical under ANY evaluation order — no float-summation
  *    caveat anywhere, and the DuckDB oracle replays it exactly
  *    (token hashes via the XXH64 macro prelude, same literal
  *    weights);
  *  - a real trained model drops in by replacing [[weights]]/[[bias]]
  *    (same dimension, same hash) — the scoring plan is unchanged.
  *
  * The shipped weights are a deterministic placeholder model (Weyl
  * sequence over the bucket index — fixed, documented, seedless), so
  * specs and oracles pin the MACHINERY; they make no claim of
  * linguistic quality.
  */
object QualityModel {

  /** Feature dimension (hash buckets). Power of two keeps `pmod`
    * cheap; 256 is placeholder-sized — a production model ships 2²⁰
    * buckets through [[scoreDocsWith]], which routes dimensions above
    * [[LiteralDimMax]] over a broadcast `long[]` (the ~8 MB-as-plan-
    * literal alternative was MEASURED, not assumed, and pays a fixed
    * ~6 s/job task-binary tax — see [[LiteralDimMax]]).
    */
  val Dim = 256

  /** Micro-scaled placeholder weights in (−1e6, 1e6] ≈ (−1.0, 1.0]:
    * `w(i) = ((i·2654435761 + 987654321) mod 2000001) − 1000000`.
    */
  val weights: Array[Long] =
    Array.tabulate(Dim)(i =>
      ((i.toLong * 2654435761L + 987654321L) % 2000001L) - 1000000L)

  /** Micro-scaled intercept. */
  val bias: Long = -250000L

  /** SQL literal of [[weights]] for the DuckDB oracle. */
  def weightsSqlList: String = weights.mkString("[", ", ", "]")

  private def bucketWeight(wLit: Column, tok: Column,
                           dim: Int = Dim): Column =
    element_at(wLit, (pmod(xxhash64(tok), lit(dim)) + 1).cast("int"))

  private def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "),
          element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Integer dot product `w·φ(text) + bias` in micro-units over
    * hashed unigram + bigram features of the lowercased whitespace
    * tokens ([[TextAnalysis.tokensLower]] — the vocabulary-grade
    * tokenizer every text diagnostic shares). Empty/NULL text scores
    * exactly `bias`.
    *
    * This is the ROW-LOCAL reference form (one column in, one column
    * out — handy for ad-hoc scoring). Its `aggregate()` fold is a
    * higher-order function, which Spark evaluates INTERPRETED — fine
    * per row, ~12 s over sf0.1 in the corpus query (measured). Batch
    * scoring goes through [[scoreDocs]], the codegen shape; TextSpec
    * pins the two equal on real data.
    */
  def scoreMicro(text: Column): Column = {
    val wLit = typedLit(weights.toSeq)
    val toks = TextAnalysis.tokensLower(text)
    val uniDot = aggregate(toks, lit(0L),
      (acc, t) => acc + bucketWeight(wLit, t))
    val biDot = aggregate(bigramsOf(toks), lit(0L),
      (acc, t) => acc + bucketWeight(wLit, t))
    coalesce(uniDot, lit(0L)) + coalesce(biDot, lit(0L)) + lit(bias)
  }

  /** Batch scoring in the CODEGEN shape: explode the feature arrays,
    * score each feature in a whole-stage-codegen projection
    * (xxhash64 + literal-array index), and re-sum per document with a
    * doc-keyed hash aggregate. The integer sum is order-independent,
    * so this is bit-identical to [[scoreMicro]]'s serial fold — at
    * ~12× the throughput (sf0.1: 12.1 s → measured sub-second),
    * because nothing runs on the interpreted higher-order-function
    * path. The one shuffle partial-aggregates map-side (docs are
    * contiguous within files, so per-doc sums collapse before the
    * wire). Docs with no features — empty OR NULL text — score
    * exactly `bias` via the left join.
    *
    * Output: the input's columns plus `score_micro`.
    */
  def scoreDocs(df: org.apache.spark.sql.DataFrame,
                textCol: String = "text",
                idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    scoreDocsWith(df, weights, bias, textCol, idCol)

  /** Above this dimension the weight vector ships as a
    * `SparkContext.broadcast` instead of a plan literal. Measured
    * (BASELINE §13, VERDICT r8 #5): the literal path SURVIVES
    * codegen at D=2²⁰ (the array is literal DATA — one object
    * reference, never per-element generated code, so no
    * HugeMethodLimit exposure) but pays a corpus-size-INDEPENDENT
    * ~6 s/job serialization tax (the 8 MB literal rides the task
    * binary; x1 and x16 corpus legs pay identically) and a 7.7 MB
    * plan string. The broadcast path ships a handle and moves the
    * array once per executor — the shape a 1000-executor cluster
    * wants. 2¹⁶ longs = 512 KB literal keeps the tax < 0.4 s;
    * production D=2²⁰ lands on the broadcast side.
    */
  val LiteralDimMax = 1 << 16

  /** [[scoreDocs]] with an explicit model — the drop-in point for a
    * real trained weight vector (any dimension; the hash re-buckets to
    * `w.length`). Also the production-dimension surface: a 2²⁰-bucket
    * model through this exact path was measured for plan-build,
    * first-run (codegen+broadcast) and steady-state cost (VERDICT r8
    * #5; numbers in BASELINE.md §13), and TextSpec scores one with
    * codegen fallback off, so a codegen failure throws. Weight access
    * is a plan literal up to [[LiteralDimMax]] and a broadcast
    * `long[]` above it ([[graft.functions.BroadcastLongArrayGet]]) —
    * bit-identical scores either way (integer arithmetic, same
    * array; TextSpec pins it), `literalDimMax` is overridable only
    * for that pin.
    *
    * Each call above [[LiteralDimMax]] broadcasts `w` afresh and hands
    * it to [[graft.ops.Materialize.ownOutput]], so the session's next
    * `releaseOwned` frees it: repeated planning (bench iterations,
    * streaming restarts) does not accumulate ~8 MB broadcasts until
    * session end (ADVICE r9). The release UNPERSISTS, not destroys:
    * executors drop their copies, the driver keeps the value, and a
    * plan still alive after the sweep re-fetches it on its next run
    * instead of throwing (ADVICE r10).
    */
  def scoreDocsWith(df: org.apache.spark.sql.DataFrame,
                    w: Array[Long], b: Long,
                    textCol: String = "text",
                    idCol: String = "doc_id",
                    literalDimMax: Int = LiteralDimMax)
  : org.apache.spark.sql.DataFrame = {
    val weightAt: Column => Column =
      if (w.length <= literalDimMax) {
        val wLit = typedLit(w.toSeq)
        t => bucketWeight(wLit, t, w.length)
      } else {
        val bc = df.sparkSession.sparkContext.broadcast(w)
        graft.ops.Materialize.ownOutput(df.sparkSession)(_ =>
          bc.unpersist(false))
        t => graft.functions.BroadcastWeights.broadcast_weights_get(
          bc, (pmod(xxhash64(t), lit(w.length))).cast("int"))
      }
    val toks = TextAnalysis.tokensLower(col(textCol))
    val dots = df
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        explode(concat(col("__toks"), bigramsOf(col("__toks"))))
          .as("__t"))
      .select(col(idCol), weightAt(col("__t")).as("__w"))
      .groupBy(idCol)
      .agg(sum("__w").as("__dot"))
    df.join(dots, Seq(idCol), "left")
      .withColumn("score_micro",
        coalesce(col("__dot"), lit(0L)) + lit(b))
      .drop("__dot")
  }

  /** Keep decision at the conventional 0 threshold (monotone in the
    * sigmoid probability, so the sigmoid itself is never needed).
    */
  def keep(text: Column): Column = scoreMicro(text) > 0

  /** Exact DuckDB oracle for [[scoreMicro]] over the documents table:
    * token hashes replayed via the XXH64 macro prelude
    * ([[graft.dedup.XxHashSql]]), the same micro-scaled weight list as
    * a SQL literal, integer sums throughout — bit-identical scores
    * with no float-order caveat.
    */
  def oracleSql: String = {
    import graft.dedup.XxHashSql
    s"""${XxHashSql.macros}
       |WITH $scoreCtesSql
       |SELECT d.doc_id,
       |  CAST($bias + coalesce(s.dot, 0) AS BIGINT) AS score_micro,
       |  ($bias + coalesce(s.dot, 0)) > 0 AS keep
       |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The WITH-body fragment behind [[oracleSql]] — `scored(doc_id,
    * dot)` over the documents table — so composite-pipeline oracles
    * (q_curate_v2) reuse the identical scoring replay. Requires the
    * XXH64 macro prelude to have been installed.
    */
  def scoreCtesSql: String = {
    import graft.dedup.XxHashSql
    s"""tok AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(trim(text)), '\\s+'),
       |    t -> t != '') AS w
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, unnest(w) AS t FROM tok
       |  UNION ALL
       |  SELECT doc_id, unnest(
       |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS t
       |  FROM tok),
       |toks AS (SELECT DISTINCT t FROM feats),
       |${XxHashSql.hashCtes(42L)},
       |scored AS (
       |  SELECT f.doc_id,
       |    sum(list_extract($weightsSqlList,
       |      CAST(th.h % $Dim AS BIGINT) + 1)) AS dot
       |  FROM feats f JOIN th ON th.t = f.t GROUP BY 1)""".stripMargin
  }
}
