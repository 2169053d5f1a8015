package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{array_cosine, array_dot, array_l2}
import graft.ops.Materialize

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), expression-only (codegen-friendly, no UDF).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: baseline — broadcast the (small) query set,
  *    scan the corpus once, per-query top-k via window. Exact; the scan
  *    is embarrassingly parallel and the only shuffle is keyed by
  *    query_id for the top-k.
  *  - [[ivfTopK]]: scale path — IVF-style coarse quantization: assign
  *    every corpus vector to its nearest centroid (one broadcast pass),
  *    probe only the `nProbe` nearest centroid cells per query. At 100
  *    TB the cell assignment is a narrow map (partition-pruned if the
  *    corpus is written bucketed by cell) and the candidate join is
  *    keyed by cell id.
  */
object Similarity {

  /** Dot product of two double arrays (expression tree). */
  private def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  /** L2 norm. */
  private def normExpr(a: String): String =
    s"sqrt(${dotExpr(a, a)})"

  /** Add a unit-normalized double copy of `vecCol` as `__unit`.
    * Null ELEMENTS coalesce to 0 before the norm — the same null-as-0
    * convention ArrayDot applies to the dot product — otherwise one
    * null element nulls the whole norm, the CASE falls through, and
    * the raw (un-normalized) vector competes by magnitude instead of
    * cosine.
    */
  private[sim] def withUnit(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__dvec",
        expr(s"transform($vecCol, x -> coalesce(cast(x AS DOUBLE), 0D))"))
      .withColumn("__norm", expr(normExpr("__dvec")))
      .withColumn("__unit", expr(
        "CASE WHEN __norm > 0 THEN transform(__dvec, x -> x / __norm) " +
          "ELSE __dvec END"))
      .drop("__dvec", "__norm")

  /** Exact cosine top-k: for every row of `queries`, the `k` nearest
    * corpus rows by cosine similarity (ties → smaller corpus id).
    * Output: `(query_id, neighbor_id, rank, cosine)`.
    *
    * Queries are unit-normalized and BROADCAST (the small side); cosine
    * reduces to a dot product of unit vectors. Corpus rows never
    * shuffle until the keyed top-k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val c = withUnit(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__unit").as("__cu"))
    val q = withUnit(queries, vecCol)
      .select(col(idCol).as("query_id"), col("__unit").as("__qu"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    // native codegen'd dot product (graft.functions.ArrayDot) — the
    // per-pair hot loop; unit vectors make it the cosine
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", array_dot(col("__qu"), col("__cu")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Exact Euclidean top-k: for every query row, the `k` nearest corpus
    * rows by L2 distance (ties → smaller corpus id). Same broadcast +
    * keyed-top-k shape as [[bruteForceTopK]]; the distance is the
    * native codegen'd [[graft.functions.ArrayL2]] on the RAW vectors
    * (no normalization — L2 is scale-sensitive by definition).
    * Output: `(query_id, neighbor_id, rank, distance)`.
    */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__dist").asc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__dist", array_l2(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__dist"), 6).as("distance"))
  }

  /** FILTERED vector search: exact cosine top-k where candidates must
    * also agree with the query on `filterCols` (the "same tenant /
    * same language / same shard" predicate every production vector
    * store exposes). The crucial plan property: the filter columns
    * become the JOIN KEY, so this is a hash-partitioned equi-join —
    * the corpus shuffles once on the predicate columns and each query
    * only ever meets its own slice — NOT the query×corpus broadcast
    * product of [[bruteForceTopK]] with a post-filter. At 100 TB the
    * difference is the whole game: selectivity 1/|distinct(filter)|
    * multiplies into the pair count before any dot product runs, and
    * a skewed filter value is an ordinary AQE skew-join, not a hot
    * executor. Ties → smaller corpus id, same as every top-k here.
    * Output: `(query_id, neighbor_id, rank, cosine)`.
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame,
                   filterCols: Seq[String], k: Int = 5,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    require(filterCols.nonEmpty, "filteredTopK needs >= 1 filter column")
    val c = withUnit(corpus, vecCol).select(
      filterCols.map(col) ++
        Seq(col(idCol).as("neighbor_id"), col("__unit").as("__cu")): _*)
    val q = withUnit(queries, vecCol).select(
      filterCols.map(col) ++
        Seq(col(idCol).as("query_id"), col("__unit").as("__qu")): _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    c.join(q, filterCols)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", array_dot(col("__qu"), col("__cu")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Binary-quantized top-k: pack each vector into a `planes`-bit sign
    * code ([[cosineLshBuckets]] — strict sign of literal-hyperplane
    * dots), pre-rank candidates by HAMMING distance over the codes
    * (one xor + popcount per pair — the bit-ops scan that makes BQ the
    * memory-bandwidth path at 100 TB: 32 bits/vector vs 256 bytes of
    * float32), keep the `m` closest codes per query, then exact-cosine
    * re-rank ONLY those to the final top-k. Approximate relative to
    * [[bruteForceTopK]] (a true neighbor whose code landed far away is
    * missed — recall is spec-checked), but fully DETERMINISTIC: codes
    * are pure functions of (planes, dim), both rank stages tie-break
    * on neighbor id, so the whole plan replays in SQL
    * ([[bqTopKOracleSql]]). Output: `(query_id, neighbor_id, rank,
    * hamming, cosine)`.
    *
    * COST MODEL (measured, sf1 leg): building the corpus codes inline
    * costs `planes` dots per corpus vector — 32× the 1 dot/pair of a
    * brute scan — so with few queries this form is SLOWER than brute
    * (16.3 s vs 1.8 s run_ms at 20k vecs × 10 queries). BQ wins when
    * the codes are built ONCE — stamped at ingest and stored as a
    * 4-byte column, the deployment shape — or when |queries| ≫
    * `planes` amortizes the build; the per-query marginal cost is
    * then a popcount scan over 32-bit codes instead of d-dim float
    * dots (8× less memory traffic at d=64). The registered query
    * keeps the inline build because that is what the oracle can
    * replay end-to-end.
    */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
             m: Int = 32, planes: Int = 32,
             vecCol: String = "embedding", idCol: String = "vec_id",
             dim: Int = -1): DataFrame = {
    val d0 = if (dim > 0) dim else probeDim(corpus, vecCol)
    val cCodes = cosineLshBuckets(corpus, planes, vecCol, idCol, d0)
      .select(col(idCol).as("neighbor_id"), col("bucket").as("__cc"))
    val qCodes = cosineLshBuckets(queries, planes, vecCol, idCol, d0)
      .select(col(idCol).as("query_id"), col("bucket").as("__qc"))
    val wH = Window.partitionBy("query_id")
      .orderBy(col("__ham").asc, col("neighbor_id").asc)
    val cand = cCodes
      .join(broadcast(qCodes), col("query_id") =!= col("neighbor_id"))
      .withColumn("__ham",
        bit_count(col("__qc").bitwiseXOR(col("__cc"))).cast("long"))
      .withColumn("__hrank", row_number().over(wH))
      .filter(col("__hrank") <= m)
      .select("query_id", "neighbor_id", "__ham")
    val cu = withUnit(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__unit").as("__cu"))
    val qu = withUnit(queries, vecCol)
      .select(col(idCol).as("query_id"), col("__unit").as("__qu"))
    val wC = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    cand.join(cu, Seq("neighbor_id")).join(broadcast(qu), Seq("query_id"))
      .withColumn("__cos", array_dot(col("__qu"), col("__cu")))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("__ham").as("hamming"), round(col("__cos"), 6).as("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    * merge per-query rankings from several retrieval systems into one,
    * scoring each (query, candidate) by Σ 1/(rrfK + rank) over the
    * systems that returned it — the standard hybrid-search combiner
    * (e.g. dense cosine + lexical or L2 legs) precisely because it
    * needs no score calibration between systems, only ranks.
    *
    * Input frames each carry `(query_id, neighbor_id, rank)`. Output:
    * `(query_id, neighbor_id, rrf_score, n_systems, rank)`, top `k`
    * per query (ties → smaller neighbor_id).
    *
    * At 100 TB: a union of already-keyed rankings, one hash aggregate
    * on (query_id, neighbor_id), one per-query window — partitioned by
    * query throughout, WindowGroupLimit prunes to k map-side. The
    * score is rounded BEFORE ranking so the fused order is
    * engine-portable.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10,
              rrfK: Double = 60.0): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val scored = rankings.map(_.select(col("query_id"), col("neighbor_id"),
        (lit(1.0) / (lit(rrfK) + col("rank"))).as("__s")))
      .reduce(_.unionByName(_))
    val fused = scored.groupBy("query_id", "neighbor_id")
      .agg(round(sum("__s"), 6).as("rrf_score"),
        count(lit(1)).as("n_systems"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic coarse centroids: the corpus rows whose id is in
    * `centroidIds` (k-means would be the production path; seeding by id
    * keeps the operator deterministic for the oracle).
    *
    * Plan shape (round-2 rewrite): a NARROW map — one `transform` over
    * the ~k-element broadcast centroid array whose lambda body is the
    * native codegen'd [[graft.functions.ArrayDot]], then a single
    * `array_max` over `struct(sim, -id)` for the argmax (ties →
    * smallest centroid id). The round-1 version folded a nested
    * interpreted `aggregate(zip_with(...))` that recomputed each dot
    * twice per step — the CollapseProject/HOF trap already documented in
    * `Dedup.simhash`; BENCH_r01 had it at 33.8–78.8 s where this form
    * benches ~1 s. Two deliberate choices keep it fast:
    *  - the lambda dots the centroid UNIT vector against the RAW corpus
    *    vector: argmax over `dot(ĉ, v)` equals argmax over cosine
    *    because `|v|` is a positive per-row constant — so the corpus
    *    normalization chain is never inlined into the lambda;
    *  - no shuffle at all (vs. the posexplode+groupBy alternative,
    *    which re-shuffles the full corpus): at 100 TB assignment stays
    *    embarrassingly parallel.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame =
    assignPrepped(withUnit(corpus, vecCol), centroids, vecCol, idCol)

  /** [[assignCells]] body for a corpus that ALREADY carries `__unit` —
    * lets [[kmeansCentroids]] normalize + persist the corpus ONCE and
    * reuse it across Lloyd iterations instead of re-scanning the
    * source and re-normalizing per round.
    */
  private def assignPrepped(prepped: DataFrame, centroids: DataFrame,
                            vecCol: String, idCol: String): DataFrame = {
    val centArr = centArrFrame(centroids, vecCol, idCol)
    // native argmax loop over the broadcast centroid array — the
    // array_max(transform(…)) composition it replaces (retained as
    // assignPreppedComposed, equality spec-pinned) was an interpreted
    // HOF per row per centroid, the same per-row tax as the PQ encode
    // map (BASELINE §15.7). coalesce: with an EMPTY/NULL centroid set
    // (or a null winning id) keep the -1 sentinel.
    prepped.crossJoin(broadcast(centArr))
      .withColumn("cell", coalesce(
        graft.functions.ArgMaxDotFunctions.argmax_dot(
          col(vecCol), col("__cents")),
        lit(-1L)))
      .drop("__cents")
  }

  /** The aggregated 1-row broadcastable centroid array (no driver
    * collect): `__cents: array<struct<__cent_id, __cent_unit>>`, ids
    * ascending.
    */
  private def centArrFrame(centroids: DataFrame, vecCol: String,
                           idCol: String): DataFrame =
    withUnit(centroids, vecCol)
      .select(col(idCol).as("__cent_id"), col("__unit").as("__cent_unit"))
      .agg(sort_array(collect_list(
        struct(col("__cent_id"), col("__cent_unit")))).as("__cents"))

  /** Pre-r11 composed assignment (array_max over transform structs) —
    * spec-only semantics oracle for [[assignPrepped]]'s native
    * [[graft.functions.ArgMaxDot]] path.
    */
  private[graft] def assignPreppedComposed(prepped: DataFrame,
      centroids: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val centArr = centArrFrame(centroids, vecCol, idCol)
    prepped.crossJoin(broadcast(centArr))
      .withColumn("__best", array_max(transform(col("__cents"), c =>
        struct(
          array_dot(c.getField("__cent_unit"), col(vecCol)).as("sim"),
          (-c.getField("__cent_id")).as("nid")))))
      .withColumn("cell",
        coalesce((-col("__best").getField("nid")).cast("long"), lit(-1L)))
      .drop("__cents", "__best")
  }

  /** [[assignCells]] via the composed path — spec-only. */
  private[graft] def assignCellsComposed(corpus: DataFrame,
      centroids: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    assignPreppedComposed(withUnit(corpus, vecCol), centroids, vecCol, idCol)

  /** Spherical k-means coarse-quantizer training (Lloyd iterations;
    * Dhillon & Modha, "Concept decompositions for large sparse text
    * data using clustering", Machine Learning 42, 2001): learns `k`
    * unit centroids for [[ivfTopKWith]] instead of the id-seeded
    * [[ivfTopK]] ones.
    *
    * Per iteration: assignment is the narrow broadcast argmax of
    * [[assignCells]] (no shuffle), update is one posexplode +
    * (cell, pos) grouped mean (one shuffle, map-side partial aggs).
    * The k×dim double centroid matrix is collected to the driver each
    * iteration — deliberately: that is MODEL state bounded by k·dim
    * (~20×64 here), not data, and it must round-trip through the
    * driver to become the next iteration's broadcast literal. Lloyd
    * monotonically improves the spherical objective (mean max-cosine),
    * asserted in SimilaritySpec. Empty cells keep their previous
    * centroid. Init: the k smallest-id corpus vectors (deterministic —
    * same rerun, same model).
    *
    * Output: `(idCol = cell id 0..k−1, vecCol = array<double> unit
    * centroid)`.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int = 20, iters: Int = 5,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k>=1, iters>=0: $k/$iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(_ / n) else v
    }
    // deterministic seed: k smallest ids with non-null vectors (null
    // elements read as 0.0, matching ArrayDot/ArrayL2 semantics)
    var cents: Seq[(Long, Array[Double])] = corpus
      .filter(col(vecCol).isNotNull)
      .orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) =>
        i.toLong -> unit(r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
          case null => 0.0
        }.toArray)
      }.toSeq
    // normalize + materialize the corpus ONCE for the whole training
    // loop: each Lloyd round re-reads the cached (vec, __unit) columns
    // instead of re-scanning the source and re-deriving __unit
    val prepped = withUnit(corpus.select(col(vecCol)), vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to iters) {
        val cdf = cents.map { case (id, v) => (id, v.toSeq) }
          .toDF(idCol, vecCol)
        val means = assignPrepped(prepped, cdf, vecCol, idCol)
          .select(col("cell"), posexplode(col("__unit")).as(Seq("pos", "v")))
          // null elements count as 0.0 in the mean, matching the
          // assignment step's ArrayDot null-as-0 semantics (avg alone
          // would SKIP them, and an all-null (cell,pos) would NPE the
          // driver-side getDouble)
          .groupBy("cell", "pos").agg(avg(coalesce(col("v"), lit(0.0))).as("m"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cell, rows) =>
            cell -> unit(rows.sortBy(_.getInt(1)).map(_.getDouble(2)))
          }
        cents = cents.map { case (id, old) => id -> means.getOrElse(id, old) }
      }
      cents.map { case (id, v) => (id, v.toSeq) }.toDF(idCol, vecCol)
    } finally { prepped.unpersist(false); () }
  }

  /** [[ivfTopK]] with an explicit centroid frame (e.g. the trained
    * output of [[kmeansCentroids]]) instead of corpus-row ids.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  centroids: DataFrame, k: Int = 5, nProbe: Int = 3,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val cells = assignCells(corpus, centroids, vecCol, idCol)
      .select(col(idCol).as("neighbor_id"), col("__unit").as("__cu"),
        col("cell"))
    // nearest nProbe cells per query: rank centroids by cosine
    val qcells = {
      val qu = withUnit(queries, vecCol)
        .select(col(idCol).as("query_id"), col("__unit").as("__qu"))
      val cu = withUnit(centroids, vecCol)
        .select(col(idCol).as("cell"), col("__unit").as("__cent_u"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("__csim").desc, col("cell").asc)
      qu.crossJoin(broadcast(cu))
        .withColumn("__csim", array_dot(col("__qu"), col("__cent_u")))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <= nProbe)
        .select("query_id", "cell", "__qu")
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    cells.join(broadcast(qcells), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", array_dot(col("__qu"), col("__cu")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** IVF top-k: probe only the cells of the `nProbe` centroids nearest
    * to each query. Returns the same schema as [[bruteForceTopK]];
    * approximate (recall < 1 when the true neighbor lives in an
    * unprobed cell). Centroids are the corpus rows in `centroidIds`
    * (deterministic seeding for the oracle path); use
    * [[kmeansCentroids]] + [[ivfTopKWith]] for trained centroids.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              centroidIds: Seq[Long], k: Int = 5, nProbe: Int = 3,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    val centroids = corpus.filter(col(idCol).isin(centroidIds: _*))
    ivfTopKWith(corpus, queries, centroids, k, nProbe, vecCol, idCol)
  }

  /** Embedding-cosine near-duplicate pairs, exact: every pair with
    * cosine ≥ threshold (native codegen'd [[graft.functions.ArrayCosine]]
    * in the hot loop). The non-equi self-join broadcasts one side —
    * correct for corpora that fit broadcast; at 100 TB use
    * [[nearDupPairsLsh]], which turns the product into a bucket-keyed
    * equi-join.
    */
  def nearDupPairs(corpus: DataFrame, threshold: Double = 0.5,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("__cos", array_cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 6).as("cosine"))
  }

  /** Banded random-hyperplane LSH keys: `bands` keys per row, band b
    * packing the sign bits of hyperplanes [b·r, (b+1)·r). Two rows are
    * candidates when ANY band matches (all r bits equal) — the standard
    * AND-within-band / OR-across-bands construction, same shape as
    * MinHash LSH banding. For a pair at angle θ the candidate
    * probability is 1 − (1 − (1 − θ/π)^r)^bands: at cosine 0.5
    * (θ = 60°), r = 4, bands = 8 ⇒ ≈ 0.84 (a SINGLE 8-plane bucket —
    * `cosineLshBuckets` — would be (2/3)^8 ≈ 0.04, which is why near-dup
    * goes through bands).
    *
    * Output: (id, band, bucket) — `bands` rows per input row. All dots
    * are against driver-side literal hyperplanes (fully codegen'd, see
    * [[cosineLshBuckets]]); the posexplode is a narrow `bands`× fan-out.
    */
  def cosineLshBands(df: DataFrame, bands: Int = 8, rowsPerBand: Int = 4,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id", dim: Int = -1): DataFrame = {
    require(rowsPerBand >= 1 && rowsPerBand <= 63,
      s"rowsPerBand must be in [1,63]: $rowsPerBand")
    val d = if (dim > 0) dim else probeDim(df, vecCol)
    val hp = hyperplanes(bands * rowsPerBand, d)
    // band b's key packs the signs of its own rowsPerBand hyperplanes —
    // ONE native SignBits loop per band (hyperplanes ride as a double[]
    // reference object). The pre-r11 when(array_dot(…))-chain form
    // (kept as cosineLshBandsComposed, equality spec-pinned) generated
    // a compile-hostile wall of code: 58 CPU-s of C2 JIT for one
    // query's plans at the ×100 leg, and interpreted-speed execution
    // for late-suite queries once the compile queue backed up
    // (BASELINE §15.7). Null vec → composed form's 0L key (coalesce).
    val bandKeys = (0 until bands).map { b =>
      coalesce(graft.functions.SignBitsFunctions.sign_bits(col(vecCol),
        (0 until rowsPerBand).map(j => hp(b * rowsPerBand + j))), lit(0L))
    }
    df.select(col(idCol), posexplode(array(bandKeys: _*))
      .as(Seq("band", "bucket")))
  }

  /** The pre-r11 composed band keys (when/array_dot/bit-or chains) —
    * retained as the independently-derived semantics oracle for
    * [[cosineLshBands]]'s native [[graft.functions.SignBits]] path;
    * spec-only, never on a hot path.
    */
  private[graft] def cosineLshBandsComposed(df: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 4, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = -1): DataFrame = {
    require(rowsPerBand >= 1 && rowsPerBand <= 63,
      s"rowsPerBand must be in [1,63]: $rowsPerBand")
    val d = if (dim > 0) dim else probeDim(df, vecCol)
    val hp = hyperplanes(bands * rowsPerBand, d)
    val bandKeys = (0 until bands).map { b =>
      (0 until rowsPerBand).map { j =>
        when(array_dot(col(vecCol), litVec(hp(b * rowsPerBand + j))) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }
    df.select(col(idCol), posexplode(array(bandKeys: _*))
      .as(Seq("band", "bucket")))
  }

  /** LSH-bucketed near-dup: candidates must share a band bucket, so the
    * join key is (band, bucket), never the pair product — the same
    * inverted-index-join scale shape as MinHash LSH. Approximate: a pair
    * is missed when no band matches (raise `bands` for recall, raise
    * `rowsPerBand` to cut candidates). `distinct()` collapses pairs
    * caught by several bands BEFORE the exact cosine re-check would
    * multiply, and the re-check keeps precision exact.
    *
    * PARAMETER LAW (measured in ScaleProbe): each band has only
    * `2^rowsPerBand` buckets, so expected bucket occupancy is
    * `n / 2^rowsPerBand` and candidate volume is
    * `bands · 2^rowsPerBand · (n / 2^rowsPerBand)² / 2` — quadratic in n
    * unless `rowsPerBand` GROWS with the corpus (keep
    * `2^rowsPerBand ≳ n / 1000`, i.e. rowsPerBand ≈ log2(n) − 10). The
    * defaults (8×4) suit ~10³-vector corpora and LOW thresholds (the
    * sf0.01 oracle data has max cosine ≈ 0.5). A production near-dup
    * pass (threshold ≥ 0.9, θ ≤ 26°, per-bit agreement ≥ 0.86) should
    * run wide bands — e.g. `bands = 4–8, rowsPerBand = 16–24` gives
    * recall 1−(1−0.86^16)^4 ≈ 0.6–0.9 with 65 k–16 M buckets per band;
    * at rowsPerBand = 4 a 32 k-vector corpus already degenerates to
    * ~2 000-row buckets and the candidate join costs MORE than the
    * all-pairs product (819 s vs est. ~60 s at ×16 in ScaleProbe).
    */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double = 0.5,
                      bands: Int = 8, rowsPerBand: Int = 4,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    val keys = cosineLshBands(corpus, bands, rowsPerBand, vecCol, idCol)
    val a = keys.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = keys.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("__cos", array_cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 6).as("cosine"))
  }

  /** Flattened LSH band key of [[cosineLshBands]] output: one LONG
    * `band · 2^rowsPerBand + bucket` — the single-column, BUCKETABLE
    * index grain for [[nearDupIncremental]] (the same persisted-index
    * discipline as [[graft.dedup.Dedup.minhashBands]]: store this
    * frame bucketed on `bkey`, probe on that one key, and the stored
    * index is scanned in place — shuffle bytes per run O(batch), not
    * O(index)).
    */
  def cosineLshKeys(df: DataFrame, bands: Int = 4, rowsPerBand: Int = 16,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id", dim: Int = -1): DataFrame =
    cosineLshBands(df, bands, rowsPerBand, vecCol, idCol, dim)
      .select(col(idCol),
        (col("band").cast("long") * lit(1L << rowsPerBand) +
          col("bucket")).as("bkey"))

  /** INCREMENTAL embedding near-dup — the steady-state form of
    * [[nearDupPairsLsh]] for daily ingest, mirroring
    * [[graft.dedup.Dedup.minhashIncremental]]: a new batch of vectors
    * is banded, its keys probe the PERSISTED key index (old vectors)
    * unioned with the batch's own keys, and only pairs touching a new
    * vector are cosine-verified — old×old never re-pairs, so a run
    * costs |batch| band probes against a (bucketed) index, not a
    * corpus² rebuild. Emits `(id_a, id_b, cosine ≥ threshold)` with
    * `id_a < id_b`; the caller appends the batch's keys/vectors to
    * the index for the next run.
    *
    * `indexKeys`: persisted `(vec_id, bkey)` ([[cosineLshKeys]]
    * output); `indexVecs`: `(vec_id, embedding)` for the verify join.
    * The probe joins on `bkey` ALONE (it already encodes the band),
    * so a `bkey`-bucketed index satisfies the join distribution and
    * is scanned WITHOUT an Exchange — the [[graft.io.Bucketing]]
    * layout contract, same as the minhash band index.
    */
  def nearDupIncremental(batch: DataFrame, indexKeys: DataFrame,
                         indexVecs: DataFrame, threshold: Double = 0.25,
                         bands: Int = 4, rowsPerBand: Int = 16,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id",
                         dim: Int = -1): DataFrame = {
    val newKeys = cosineLshKeys(batch, bands, rowsPerBand, vecCol,
      idCol, dim)
    val probe = newKeys.select(col(idCol).as("id_n"), col("bkey"))
    val index = indexKeys.unionByName(newKeys)
      .select(col(idCol).as("id_o"), col("bkey"))
    val cand = probe.join(index, Seq("bkey"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
    val all = indexVecs.unionByName(
      batch.select(col(idCol), col(vecCol).as("embedding")))
    val va = all.select(col(idCol).as("id_a"), col("embedding").as("__va"))
    val vb = all.select(col(idCol).as("id_b"), col("embedding").as("__vb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("__cos", array_cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 6).as("cosine"))
  }

  /** DuckDB oracle for [[nearDupPairsLsh]] (r6 conversion): banded
    * cosine-LSH is DETERMINISTIC — the hyperplanes are a pure function
    * of (bands·rowsPerBand, dim) — so the oracle generator inlines the
    * SAME hyperplane components as SQL literals (3-decimal values;
    * both engines parse the decimal to the identical double) and
    * replays band-key packing (strict sign test, bit j = plane j of
    * the band), the (band, bucket) candidate self-join, and the exact
    * cosine refine. "Approximate" for LSH means recall < 1 vs the
    * all-pairs ground truth, not nondeterminism — the LSH answer
    * itself is a pure function of the corpus, which this pins. Recall
    * vs [[nearDupPairs]] stays spec-asserted in SimilaritySpec.
    *
    * `dvCtes`: the WITH-clause block (one or more CTEs, last one named
    * `dv(vec_id, v)`) supplying the vectors — defaults to the
    * embeddings table; q_media_neardup passes its centered-histogram
    * construction instead.
    *
    * `pairFilter`: optional extra predicate over candidate pairs
    * (aliases `a`/`b`) — the incremental variant restricts to pairs
    * touching a NEW vector (`q_emb_neardup_incr`); the full near-dup
    * passes none. Sound because [[nearDupIncremental]]'s flattened
    * `bkey` uniquely encodes (band, bucket), so its single-key probe
    * generates EXACTLY this two-key relation restricted by the
    * filter.
    */
  def nearDupLshOracleSql(threshold: Double = 0.5, bands: Int = 8,
                          rowsPerBand: Int = 4, dim: Int = 64,
                          dvCtes: String = Similarity.embeddingsDvSql,
                          pairFilter: String = "")
  : String = {
    val hp = hyperplanes(bands * rowsPerBand, dim)
    def arr(a: Array[Double]): String = a.mkString("[", ",", "]")
    val pf = if (pairFilter.isEmpty) "" else s" AND ($pairFilter)"
    val bandSelects = (0 until bands).map { b =>
      val bits = (0 until rowsPerBand).map { j =>
        s"(CASE WHEN list_dot_product(v, ${arr(hp(b * rowsPerBand + j))})" +
          s" > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, ($bits) AS bucket FROM dv"
    }.mkString("\nUNION ALL\n")
    s"""WITH $dvCtes,
       |keys AS MATERIALIZED (
       |$bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM keys a JOIN keys b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id$pf)
       |SELECT c.id_a, c.id_b,
       |  round(list_cosine_similarity(va.v, vb.v), 6) AS cosine
       |FROM cand c
       |JOIN dv va ON va.vec_id = c.id_a
       |JOIN dv vb ON vb.vec_id = c.id_b
       |WHERE list_cosine_similarity(va.v, vb.v) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB oracle for [[bqTopK]] over the embeddings table (queries =
    * `vec_id < qHi`): the same literal-hyperplane sign codes as
    * [[nearDupLshOracleSql]], Hamming pre-rank with the identical
    * (distance, id) tie-break, exact-cosine re-rank of the surviving
    * `m`. Deterministic end to end — "approximate" means recall < 1
    * vs brute force, never nondeterminism.
    */
  def bqTopKOracleSql(k: Int = 5, m: Int = 32, planes: Int = 32,
                      dim: Int = 64, qHi: Int = 10): String = {
    val hp = hyperplanes(planes, dim)
    def arr(a: Array[Double]): String = a.mkString("[", ",", "]")
    val bits = (0 until planes).map { p =>
      s"(CASE WHEN list_dot_product(v, ${arr(hp(p))}) > 0" +
        s" THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH $embeddingsDvSql,
       |codes AS MATERIALIZED (
       |  SELECT vec_id, ($bits) AS code FROM dv),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      CAST(bit_count(xor(q.code, c.code)) AS BIGINT) AS hamming
       |    FROM codes q JOIN codes c
       |      ON q.vec_id < $qHi AND q.vec_id <> c.vec_id)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY hamming ASC, neighbor_id ASC) <= $m)
       |SELECT query_id, neighbor_id, rank, hamming, cosine FROM (
       |  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
       |    CAST(row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY list_cosine_similarity(vq.v, vc.v) DESC,
       |        cand.neighbor_id ASC) AS BIGINT) AS rank,
       |    round(list_cosine_similarity(vq.v, vc.v), 6) AS cosine
       |  FROM cand
       |  JOIN dv vq ON vq.vec_id = cand.query_id
       |  JOIN dv vc ON vc.vec_id = cand.neighbor_id)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle generator for signature clustering over
    * [[cosineLshBuckets]]-style hyperplane-sign codes (q_media_neardup):
    * bit p of the signature is the strict sign of the dot with literal
    * plane p; clusters are exact signature equality with min-id
    * keepers. Same literal-hyperplane replay discipline as
    * [[nearDupLshOracleSql]].
    */
  def signatureClusterOracleSql(planes: Int, dim: Int,
                                dvCtes: String,
                                idName: String = "media_id"): String = {
    val hp = hyperplanes(planes, dim)
    def arr(a: Array[Double]): String = a.mkString("[", ",", "]")
    val bits = (0 until planes).map { p =>
      s"(CASE WHEN list_dot_product(v, ${arr(hp(p))}) > 0" +
        s" THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH $dvCtes,
       |sigs AS MATERIALIZED (
       |  SELECT vec_id, ($bits) AS sig FROM dv),
       |cl AS (
       |  SELECT sig, count(*) AS n_members, min(vec_id) AS keeper
       |  FROM sigs GROUP BY 1)
       |SELECT s.vec_id AS $idName, s.sig, cl.n_members,
       |  (s.vec_id = cl.keeper) AS kept
       |FROM sigs s JOIN cl USING (sig)
       |ORDER BY $idName""".stripMargin
  }

  /** Default `dvCtes` for [[nearDupLshOracleSql]]: the embeddings
    * table with ArrayDot's elementwise null-as-0 double coercion.
    * THE single definition of that float discipline on the oracle
    * side — every embedding oracle builds on this fragment (directly
    * or via [[embeddingsUnSql]]) so a change to the coercion can
    * never desynchronize one oracle from the others.
    */
  def embeddingsDvSql: String = embeddingsDvSqlWhere("TRUE")

  /** [[embeddingsDvSql]] restricted by a corpus predicate — the
    * oracle-side twin of capping the Spark query's input (the
    * fixed-corpus anchor discipline,
    * [[graft.queries.TrainingQueries.EmbAnchorCap]]). Same coercion
    * fragment, so the float discipline can never desynchronize.
    */
  def embeddingsDvSqlWhere(pred: String): String =
    s"""dv AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> coalesce(CAST(x AS DOUBLE), 0.0))
       |      AS v
       |  FROM embeddings WHERE $pred)""".stripMargin

  /** [[embeddingsDvSql]] plus the `withUnit` replay: `un(vec_id, v,
    * u)` with u = v/|v| (index-order double norm, zero-norm
    * passthrough) — the shared base of the mmr / knn_ivf oracles.
    */
  def embeddingsUnSql: String =
    s"""$embeddingsDvSql,
       |un AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    CASE WHEN sqrt(list_dot_product(v, v)) > 0
       |      THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |      ELSE v END AS u
       |  FROM dv)""".stripMargin

  /** Semantic deduplication (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023,
    * arXiv:2303.09540): cluster the corpus with spherical k-means, then
    * within each cluster drop every vector that has a same-cell
    * neighbor with cosine ≥ `threshold` and a smaller id (the paper
    * keeps one exemplar per within-cluster duplicate group; min-id
    * domination is the deterministic one-pass form — survivors are
    * exactly the same-cell τ-independent set, no iteration needed).
    *
    * Scale shape: assignment is the narrow broadcast-centroid map of
    * [[assignCells]] (no shuffle); the pair stage is an EQUI-join on
    * `cell`, so the pair product is bounded per cluster (~(n/k)² per
    * cell, pick k accordingly at 100 TB — same knob as the paper's
    * k = O(√n)), never corpus². Returns the surviving (idCol, cell)
    * rows.
    */
  def semDedup(corpus: DataFrame, k: Int = 20, iters: Int = 3,
               threshold: Double = 0.9,
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    val cells = assignCells(corpus,
        kmeansCentroids(corpus, k, iters, vecCol, idCol), vecCol, idCol)
      .select(col(idCol), col("cell"), col(vecCol))
    val a = cells.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val b = cells.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(array_cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as(idCol))
      .distinct()
    cells.join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** Random-hyperplane LSH buckets for cosine: bit p of the bucket key
    * is the sign of the dot product with a deterministic pseudo-random
    * hyperplane (splitmix64 of (plane, dimension) — seeded, so the same
    * corpus always buckets identically). Candidate pairs share a
    * bucket; same inverted-index-join scale shape as MinHash LSH.
    *
    * Plan shape (round-2 rewrite): the hyperplanes are materialized
    * driver-side as literal arrays — they depend only on (planes, dim),
    * never on data — so the bucket is `planes` native codegen'd
    * [[graft.functions.ArrayDot]] calls + sign tests per row, fully
    * inside whole-stage codegen. The round-1 form was a triple-nested
    * interpreted HOF (aggregate over zip_with over transform) that
    * re-derived every hyperplane component per row. Signs are taken
    * against the RAW vector (same sign as the unit vector — positive
    * scale), so no normalization chain either.
    *
    * `dim`: embedding dimensionality; pass it when known (saves a
    * 1-row peek at the corpus).
    */
  def cosineLshBuckets(df: DataFrame, planes: Int = 16,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id",
                       dim: Int = -1): DataFrame = {
    require(planes >= 1 && planes <= 63, s"planes must be in [1,63]: $planes")
    val d = if (dim > 0) dim else probeDim(df, vecCol)
    val hp = hyperplanes(planes, d)
    // native SignBits loop — same rationale and equality pin as
    // [[cosineLshBands]] (BASELINE §15.7)
    val bucket = coalesce(graft.functions.SignBitsFunctions.sign_bits(
      col(vecCol), (0 until planes).map(hp)), lit(0L))
    df.select(col(idCol), bucket.as("bucket"))
  }

  /** Pre-r11 composed single-bucket key — spec-only semantics oracle
    * for [[cosineLshBuckets]], as [[cosineLshBandsComposed]].
    */
  private[graft] def cosineLshBucketsComposed(df: DataFrame,
      planes: Int = 16, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = -1): DataFrame = {
    require(planes >= 1 && planes <= 63, s"planes must be in [1,63]: $planes")
    val d = if (dim > 0) dim else probeDim(df, vecCol)
    val hp = hyperplanes(planes, d)
    val bucket = (0 until planes).map { p =>
      when(array_dot(col(vecCol), litVec(hp(p))) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    df.select(col(idCol), bucket.as("bucket"))
  }

  /** Symmetric per-vector int8 quantization: `scale = max|x| / 127`,
    * `q_i = round(x_i / scale)` clamped to [-127, 127] — the standard
    * ANN storage compression (4× smaller than float32, dot products
    * stay integer until the final per-pair rescale). Adds
    * `qvec: array<int>` (8-bit range, int storage keeps the arithmetic
    * expression-friendly) and `qscale: double`; a zero vector gets
    * scale 0 and an all-zero qvec. Narrow map, no shuffle.
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df
      .withColumn("__absmax", expr(
        s"aggregate($vecCol, CAST(0.0 AS DOUBLE), " +
          "(m, x) -> greatest(m, abs(cast(x AS DOUBLE))))"))
      .withColumn("qscale", col("__absmax") / lit(127.0))
      .withColumn("qvec", expr(
        s"""CASE WHEN __absmax = 0.0 THEN transform($vecCol, x -> 0)
           |ELSE transform($vecCol, x -> CAST(greatest(-127.0, least(127.0,
           |  round(cast(x AS DOUBLE) * 127.0 / __absmax))) AS INT))
           |END""".stripMargin))
      .drop("__absmax")

  /** Reconstruct approximate float vectors from [[quantizeInt8]]
    * output: `x̂_i = q_i · qscale`.
    */
  def dequantizeInt8(df: DataFrame, outCol: String = "dvec"): DataFrame =
    df.withColumn(outCol,
      expr("transform(qvec, q -> cast(q AS DOUBLE) * qscale)"))

  /** 1-row peek at the embedding dimensionality (when the caller didn't
    * pass `dim`). An EMPTY corpus yields a 1-dim placeholder — every
    * downstream result is empty anyway, and throwing
    * NoSuchElementException on an empty frame would break callers that
    * filtered everything out.
    */
  private def probeDim(df: DataFrame, vecCol: String): Int = {
    // skip null vectors: size(null) is SQL NULL and getInt would NPE
    // even though every other row is valid
    val h = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).head(1)
    if (h.isEmpty) 1 else math.max(h(0).getInt(0), 1)
  }

  /** Literal array column backed by `UnsafeArrayData` (primitive
    * doubles) instead of `lit(Array[Double])`'s `GenericArrayData`
    * (boxed `Object[]`): every element read in the hyperplane dot
    * loops is then a primitive load, not an unbox. Within-noise at
    * sf0.1 on top of the HugeMethodLimit fix (the JIT hoists the
    * unbox), but strictly less work per element and the right literal
    * representation for a hot loop.
    */
  private[sim] def litVec(a: Array[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge.{column => toCol}
    toCol(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(a),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false)))
  }

  /** Deterministic pseudo-random hyperplanes: component i of plane p is
    * splitmix64(p‖i) mapped into [-0.5, 0.5). splitmix64 is the
    * standard public-domain 64-bit finalizer (Steele et al., "Fast
    * Splittable Pseudorandom Number Generators"). Driver-side on
    * purpose — they depend only on (n, dim), never on data.
    */
  private def hyperplanes(n: Int, d: Int): IndexedSeq[Array[Double]] = {
    def mix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until n).map { p =>
      Array.tabulate(d) { i =>
        java.lang.Math.floorMod(mix(p.toLong << 32 | i.toLong), 1000L)
          .toDouble / 1000.0 - 0.5
      }
    }
  }

  /** k-center greedy selection (Gonzalez, "Clustering to minimize the
    * maximum intercluster distance", TCS 1985 — farthest-first
    * traversal; the 2-approximation behind coreset/coverage-based
    * training-data pruning, cf. Sener & Savarese, ICLR 2018): seed
    * with the smallest id, then repeatedly take the point FARTHEST
    * (cosine distance on unit vectors) from the selected set. Where
    * [[mmrSelect]] optimizes relevance-diversity per query, this
    * optimizes pure COVERAGE of the embedding space — the "pick k
    * maximally spread exemplars" cut.
    *
    * Scale shape — INCREMENTAL min-distance recurrence: the running
    * `mind` (distance to the nearest selected center) is a PERSISTED
    * column on the candidate frame, and each round folds in only the
    * newest center — `mind ← least(mind, 1 − dot(u, c_new))` — then
    * collects the single argmax row (`orderBy(…).limit(1)` →
    * TakeOrderedAndProject, never a full sort). Total work is
    * O(k·n·d) with a CONSTANT-size per-round plan (one center
    * literal), vs the naive re-fold over all r selected centers which
    * is O(k²·n·d) with an O(k·d)-literal plan — irrelevant at k=8,
    * the whole game at a real coreset k in the thousands. Round state
    * follows the [[graft.ops.Materialize]] discipline (eager
    * `localCheckpoint` per round, superseded blocks released → peak
    * storage two rounds); only the 1-row argmax ever reaches the
    * driver. Exactly equivalent to the re-fold: `1 − x` is monotone
    * non-increasing in IEEE double arithmetic, so
    * `least_i(1 − dot_i) = 1 − greatest_i(dot_i)` bit-for-bit
    * (SimilaritySpec pins the equivalence property). Determinism:
    * ties break on smaller id; output `separation` is
    * BigDecimal-HALF_UP rounded (the [[mmrSelect]] float-rounding
    * discipline, same standing caveat).
    *
    * Output: `(sel_rank, vec_id, separation)` — separation is the
    * selection-time min distance to the earlier picks (NULL for the
    * seed), the classic coverage-radius diagnostic curve.
    */
  def kCenterGreedy(corpus: DataFrame, k: Int,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cu = withUnit(corpus, vecCol)
      .select(col(idCol).cast("long").as("id"),
        col("__unit").cast("array<double>").as("u"))
    val seed = cu.orderBy(col("id").asc).limit(1).collect()
    if (seed.isEmpty) return Seq.empty[(Long, Long, Option[Double])]
      .toDF("sel_rank", "vec_id", "separation")
    val seedId = seed(0).getLong(0)
    val seedVec = seed(0).getSeq[Double](1).toArray
    var selected = Vector((seedId, Option.empty[Double]))
    // candidate state: (id, u, mind-to-selected-set); seeded with the
    // distance to the first center, then one least() fold per round
    var state = cu.filter(col("id") =!= seedId)
      .withColumn("mind",
        lit(1.0) - array_dot(col("u"), typedLit(seedVec.toSeq)))
      .transform(Materialize.checkpoint(_))
    try {
      while (selected.size < k) {
        val next = state
          .orderBy(col("mind").desc, col("id").asc).limit(1)
          .select(col("id"), col("mind"), col("u")).collect()
        if (next.isEmpty) {
          // corpus exhausted before k — return what exists
          return selectedDf(spark, selected)
        }
        val nid = next(0).getLong(0)
        val nvec = next(0).getSeq[Double](2).toArray
        selected = selected :+ ((nid, Some(next(0).getDouble(1))))
        if (selected.size < k) {
          val folded = state.filter(col("id") =!= nid)
            .withColumn("mind", least(col("mind"),
              lit(1.0) - array_dot(col("u"), typedLit(nvec.toSeq))))
            .transform(Materialize.checkpoint(_))
          Materialize.release(state)
          state = folded
        }
      }
      selectedDf(spark, selected)
    } finally Materialize.release(state)
  }

  private def selectedDf(spark: org.apache.spark.sql.SparkSession,
                         sel: Vector[(Long, Option[Double])])
  : DataFrame = {
    import spark.implicits._
    sel.zipWithIndex.map { case ((id, sep), i) =>
      ((i + 1).toLong, id, sep.map(d =>
        new java.math.BigDecimal(d)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
    }.toDF("sel_rank", "vec_id", "separation")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): from each query's top-`poolSize` candidate pool,
    * greedily select `k` items maximizing
    * `λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)` — the standard
    * diversity-aware cut for retrieval-augmented data curation
    * (dedup-at-selection-time for few-shot example sets).
    *
    * Scale shape: candidate generation is the distributed part
    * ([[bruteForceTopK]]: corpus never shuffles, queries broadcast);
    * the greedy O(k·pool²) selection runs per query INSIDE
    * `flatMapGroups` — each group's state is the bounded pool, work
    * distributes across queries, and nothing is collected to the
    * driver. Ties break (higher relevance, smaller id) so the
    * selection is deterministic on any engine.
    * Output: `(query_id, neighbor_id, mmr_rank, mmr_score)`.
    */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                poolSize: Int = 30, lambda: Double = 0.7,
                vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && poolSize >= k && lambda >= 0 && lambda <= 1,
      s"need 1<=k<=poolSize, lambda in [0,1]: $k/$poolSize/$lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cu = withUnit(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__unit").as("__u"))
    // candidate pool + unit vectors (the id-keyed join re-attaches the
    // vector once per surviving candidate, not once per scored pair)
    val pool = bruteForceTopK(corpus, queries, poolSize, vecCol, idCol)
      .join(cu, Seq("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cosine").cast("double"), col("__u").cast("array<double>"))
      .as[(Long, Long, Double, Seq[Double])]
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cand = it.toArray.sortBy(c => (-c._3, c._2))
      val vecs = cand.map(_._4.toArray)
      val n = cand.length
      val picked = new Array[Boolean](n)
      // max similarity to the selected set so far, per candidate
      val maxSim = Array.fill(n)(0.0)
      val out = Seq.newBuilder[(Long, Long, Long, Double)]
      var rank = 1L
      while (rank <= k.min(n)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val s = lambda * cand(i)._3 -
              (if (rank == 1L) 0.0 else (1 - lambda) * maxSim(i))
            // strict > keeps the first (highest-rel, smallest-id) on ties
            if (s > bestScore) { best = i; bestScore = s }
          }
          i += 1
        }
        picked(best) = true
        // round like Spark's round(): HALF_UP on the EXACT binary
        // expansion of the double. math.rint(x*1e6) is subtly
        // different: the multiply re-quantizes onto the 1e-6 grid, so
        // a score like 0.7·0.340915 (whose product is the double
        // exactly at 238640.5 after ×1e6) hits rint's half-EVEN rule
        // while round() sees the expansion …0054 above the midpoint —
        // a real q_mmr hash mismatch at sf0.001 (BASELINE.md §10).
        // NOT asserted: that this equals DuckDB's round(DOUBLE, 6),
        // which requantizes (×1e6, half-away-from-zero on the product
        // double). The two agree on the incident value and the whole
        // tri-SF sweep, but a residual midpoint class exists (exact
        // expansion just below .5, product landing exactly on it) —
        // q_mmr carries the q_textrank-style caveat: demote to
        // rows-only if a testdata refresh ever trips one.
        val rounded = new java.math.BigDecimal(bestScore)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        out += ((qid, cand(best)._2, rank, rounded))
        val bv = vecs(best)
        i = 0
        while (i < n) {
          if (!picked(i)) {
            var dot = 0.0; var j = 0
            while (j < bv.length) { dot += bv(j) * vecs(i)(j); j += 1 }
            if (dot > maxSim(i)) maxSim(i) = dot
          }
          i += 1
        }
        rank += 1
      }
      out.result()
    }.toDF("query_id", "neighbor_id", "mmr_rank", "mmr_score")
  }
}
