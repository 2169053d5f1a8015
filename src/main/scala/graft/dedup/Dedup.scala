package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize
import graft.text.TextAnalysis

/** Deduplication operators for the training-data surface: exact,
  * n-gram-Jaccard (inverted-index join), MinHash+LSH (Broder, "On the
  * resemblance and containment of documents", 1997), and SimHash
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002; Manku et al., "Detecting near-duplicates
  * for web crawling", WWW 2007 for the Hamming block trick).
  *
  * Scale design (the 100 TB stance):
  *  - NOTHING here is O(n²) over the corpus. Near-dup candidate
  *    generation always goes through a key-partitioned self-join on a
  *    compact key (shingle, LSH band bucket, simhash block), so the
  *    shuffle is keyed and skew-bounded.
  *  - Exact dedup is one hash-aggregate on the fingerprint.
  *  - MinHash signatures are built with `xxhash64(shingle, seed)` — a
  *    codegen'd Catalyst built-in — per the standard
  *    min-over-permutations construction.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per content fingerprint
    * (md5 of normalized text). One shuffle on the fingerprint.
    *
    * NULL text yields a NULL fingerprint, and a bare window would put
    * every null-fp row in ONE partition — silently discarding all but
    * one of a batch of distinct null-text docs, while
    * [[exactIncremental]]'s null-rejecting anti-join equality keeps
    * them all. Policy (consistent across both): null text is never
    * anyone's duplicate — each such row keys its own partition.
    */
  def exact(df: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame = {
    val key = coalesce(col("fp"), concat(lit("__null_"), col(idCol)))
    val w = Window.partitionBy(key).orderBy(col(idCol).asc)
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental exact dedup — the production steady-state shape: an
    * ARRIVING batch is deduplicated (a) within itself (first id per
    * fingerprint wins) and (b) against the existing corpus via its
    * fingerprint INDEX, without rescanning the corpus. At 100 TB the
    * index is the thing you keep (one md5 per unique doc, ~1/3000th of
    * the data); each ingest is then one window over the batch plus one
    * fp-keyed left-anti join against the index — batch-sized work, not
    * corpus-sized. Survivors' fingerprints are the index delta to
    * union back (`unionByName`) for the next batch.
    *
    * `index` needs only an `fp` column (extra columns are dropped).
    */
  def exactIncremental(batch: DataFrame, index: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    // same null-text policy as [[exact]]: a NULL fingerprint is never
    // anyone's duplicate — per-row key within the batch (and the anti
    // join's null-rejecting equality already keeps them vs the index)
    val key = coalesce(col("fp"), concat(lit("__null_"), col(idCol)))
    val w = Window.partitionBy(key).orderBy(col(idCol).asc)
    batch.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .join(index.select(col("fp")).distinct(), Seq("fp"), "left_anti")
  }

  /** Quality-aware representative selection: given per-doc cluster
    * labels ([[graft.graph.ConnectedComponents]] output joined back,
    * or exact-dup fingerprints) and a score column, keep the HIGHEST
    * scoring document per cluster (ties → smallest id) — the keep
    * policy real curation uses instead of keep-lowest-id: when near
    * duplicates differ (boilerplate stripped vs not, truncated vs
    * full), the kept copy should be the best one, not the first
    * crawled. One [[graft.ops.Ops.argMax]] window keyed by cluster.
    */
  def keepRepresentatives(df: DataFrame, clusterCol: String,
                          scoreCol: String,
                          idCol: String = "doc_id"): DataFrame =
    graft.ops.Ops.argMax(df, clusterCol, scoreCol, idCol)

  /** Word k-shingles (k consecutive tokens joined by one space),
    * distinct per document. Exploded representation: `(id, shingle)`.
    */
  def shingles(df: DataFrame, k: Int = 3, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // sliding window over the token array, expression-only (no UDF):
    // shingle i = tokens[i..i+k-1] joined by ' '. Guard: sequence(0,-1)
    // DESCENDS in Spark, so short docs need the explicit empty branch.
    val shingleArr = expr(
      s"""CASE WHEN size(__toks) >= $k THEN
         |  transform(
         |    sequence(0, size(__toks) - $k),
         |    i -> array_join(slice(__toks, i + 1, $k), ' '))
         |ELSE array() END""".stripMargin)
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("shingle", explode(array_distinct(shingleArr)))
      .select(col(idCol), col("shingle"))
  }

  /** n-gram Jaccard near-dup pairs via PREFIX-FILTERED candidate
    * generation (SSJoin: Chaudhuri/Ganti/Kaushik, ICDE 2006; All-Pairs:
    * Bayardo/Ma/Srikant, WWW 2007): under a global rarity order on
    * shingles, any pair with Jaccard ≥ t must share at least one
    * shingle among each document's first ⌊(1−t)·n⌋+1 shingles — so
    * only those PREFIX shingles enter the inverted-index self-join,
    * and candidates are verified exactly against the full (hashed)
    * shingle sets. Returns `(doc_a, doc_b, jaccard)` for pairs ≥
    * threshold; results are EXACT (same rows as the naive
    * inverted-index join, which at sf0.1 produced 1.13M candidate
    * pairs for the 256 survivors — the prefix index prunes that
    * blowup at the source).
    *
    * At 100 TB:
    *  - the candidate join is keyed by prefix shingle — RAREST-first
    *    ordering makes the hot-key problem self-limiting (a shingle in
    *    many docs is by definition late in the order and rarely
    *    indexed), on top of the optional `maxDf` hard cap;
    *  - a length filter (t·n_a ≤ n_b ≤ n_a/t, All-Pairs §3.1) prunes
    *    candidates before the verify joins;
    *  - shingles travel as xxhash64 LONGS after the explode — ~3×
    *    narrower shuffles than the raw trigram strings, and Jaccard on
    *    the hash sets equals Jaccard on the string sets barring 64-bit
    *    collisions;
    *  - verification is two id-keyed array joins + one narrow
    *    `array_intersect` per candidate, never a per-shingle pair
    *    explosion;
    *  - building the frame may run one job: the per-doc rarity arrays
    *    are checkpointed when the input is large, as graft-owned blocks
    *    that [[graft.ops.Materialize.releaseOwned]] reclaims.
    */
  /** Shared prefix-filter substrate for [[ngramJaccard]] and
    * [[containmentPairs]]: hashed (optionally df-capped) shingles plus
    * each doc's shingle-hash array in GLOBAL RARITY order — (document
    * frequency asc, hash asc), total and deterministic — so a prefix
    * of the array is exactly the rarest shingles the prefix-filter
    * theorems quantify over. Returns `arrs = (id, hs, n)`, eagerly
    * checkpointed when the input is large; the caller derives its own
    * prefix length (the slack and the length-filter differ between the
    * Jaccard and containment forms) and, when it needs the flat posting
    * list, re-derives it as `explode(hs)` — hs holds exactly the doc's
    * post-cap hashes, so the explode ≡ the (id, h) relation without
    * another gram pass. One definition so a fix to the rarity order,
    * the cap, or the slack cannot silently miss one of the two
    * operators.
    */
  private def prefixIndex(df: DataFrame, k: Int, textCol: String,
                          idCol: String, maxDf: Option[Int])
  : DataFrame = {
    // byte-level gram hashing (VERDICT r10 #7): same values as
    // `shingles(...)` + `xxhash64(shingle)` with per-doc distinct, but
    // no gram STRING is ever materialized — the expression form's
    // token/gram-array churn was 20–30 s of GC per gram query at the
    // sf10 leg. Distinct is on the hash, identical barring 64-bit
    // collisions (the operator's documented posture).
    // r13 materialization discipline (guide §1.2/§5): arrs is multiply
    // consumed — the prefix explode, the posting-list probe side, and
    // two verification joins — and nothing below is an
    // identical-exchange pair Spark's ReuseExchange could dedup (the
    // close plan re-ran the gram Generate 8× per containment query).
    // One eager localCheckpoint of the per-doc arrays makes every
    // consumer read materialized blocks (memory-and-disk, the graph
    // operators' round-state discipline); inside the checkpoint job
    // the gram subtree still runs twice (df-count + rarity join — their
    // exchanges have different children), measured cheaper than a
    // second sequential checkpoint barrier at every SF probed.
    //
    // SIZE-GATED on the input's estimate (file bytes — metadata only,
    // no job) at Materialize.PrefixIndexMinBytes; the constant carries
    // the measured break-even. When the gate fires the blocks are
    // graft-owned, so the harness's releaseOwned reclaims them.
    val sh0 = df.select(col(idCol),
      graft.functions.GramHashes.gramHashesDistinct(col(textCol), k))
    val sh = maxDf match {
      case Some(cap) =>
        val ok = sh0.groupBy("h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
        sh0.join(ok.select("h"), Seq("h"))
      case None => sh0
    }
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val arrs = sh.join(dfreq, Seq("h"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("__s"))
      .select(col(idCol),
        expr("transform(__s, s -> s.h)").as("hs"),
        size(col("__s")).as("n"))
    Materialize.checkpointIfLarge(arrs, Materialize.PrefixIndexMinBytes,
      sizedBy = Some(df))
  }

  def ngramJaccard(df: DataFrame, threshold: Double = 0.8, k: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   maxDf: Option[Int] = None): DataFrame = {
    // prefix = the first ⌊(1−t')·n⌋+1 rarity-ordered shingles. t'
    // carries a 1e-6 slack so pairs that only reach t after the
    // 6-decimal rounding below are still guaranteed a prefix collision.
    val tSlack = threshold - 1e-6
    val arrs0 = prefixIndex(df, k, textCol, idCol, maxDf)
    val arrs = arrs0.withColumn("plen",
      (floor(lit(1.0 - tSlack) * col("n")) + 1).cast("int"))
    val prefixes = arrs
      .select(col(idCol), col("n"),
        explode(slice(col("hs"), lit(1), col("plen"))).as("ph"))
    val cand = prefixes.select(col(idCol).as("doc_a"), col("n").as("n_a"), col("ph"))
      .join(prefixes.select(col(idCol).as("doc_b"), col("n").as("n_b"), col("ph")), Seq("ph"))
      .filter(col("doc_a") < col("doc_b"))
      // All-Pairs length filter: J ≥ t needs t·n_a ≤ n_b ≤ n_a/t
      .filter(col("n_b") * lit(tSlack) <= col("n_a") &&
        col("n_a") * lit(tSlack) <= col("n_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(arrs.select(col(idCol).as("doc_a"), col("hs").as("hs_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(arrs.select(col(idCol).as("doc_b"), col("hs").as("hs_b"),
        col("n").as("n_b")), Seq("doc_b"))
      .withColumn("n_both", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        round(col("n_both") / (col("n_a") + col("n_b") - col("n_both")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shingle CONTAINMENT dedup: pairs where C(A,B) = |A∩B| / |A| ≥ t —
    * the asymmetric doc-in-doc test (quotes, boilerplate wrappers,
    * supersets) that Jaccard misses when the container is much larger
    * than the contained doc. Exact, via the containment form of prefix
    * filtering: if B holds all but < (1−t)·n_a + 1 of A's shingles,
    * then ANY ⌊(1−t)·n_a⌋+1 shingles of A intersect B — so joining
    * only A's rarity-sorted prefix against the full inverted index is
    * candidate-complete. Unlike the Jaccard case there is no length
    * filter on n_b (a huge container is a legitimate match), so the
    * index side stays full-width; `maxDf` caps pathological hot
    * shingles at scale (stopword-only trigrams), at the cost of
    * exactness on pairs whose ONLY shared shingles are capped ones.
    * Verification is the same two id-keyed array joins as
    * [[ngramJaccard]] — never a per-shingle pair blow-up.
    */
  def containmentPairs(df: DataFrame, threshold: Double = 0.9, k: Int = 3,
                       textCol: String = "text", idCol: String = "doc_id",
                       maxDf: Option[Int] = None): DataFrame = {
    val tSlack = threshold - 1e-6
    val arrs = prefixIndex(df, k, textCol, idCol, maxDf)
    val prefixes = arrs
      .withColumn("plen",
        (floor(lit(1.0 - tSlack) * col("n")) + 1).cast("int"))
      .select(col(idCol).as("doc_a"),
        explode(slice(col("hs"), lit(1), col("plen"))).as("h"))
    // the inverted-index side re-derived from the CHECKPOINTED per-doc
    // arrays (hs holds exactly the doc's post-cap shingle hashes, so
    // explode(hs) ≡ sh) — a local explode of materialized blocks
    // instead of another gram-hashing pass over the corpus
    val postings = arrs.select(col(idCol).as("doc_b"),
      explode(col("hs")).as("h"))
    val cand = prefixes
      .join(postings, Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(arrs.select(col(idCol).as("doc_a"), col("hs").as("hs_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(arrs.select(col(idCol).as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b"))
      .withColumn("n_both", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("containment", round(col("n_both") / col("n_a"), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_a").as("contained"), col("doc_b").as("container"),
        col("containment"))
  }

  /** MinHash signature: for each of `numHashes` seeded permutations,
    * min over the document's shingles of `xxhash64(shingle, seed)`.
    * Output: `(id, sig array<long>)`. One aggregate per document.
    */
  def minhashSignatures(df: DataFrame, numHashes: Int = 64, k: Int = 3,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    // factored permutation hashing (VERDICT r10 #7): multi-column
    // `xxhash64(shingle, lit(i))` threads one running hash through its
    // inputs, so the per-seed value = hashInt(i, xxhash64(shingle)).
    // The round-10 form recomputed the string-bytes hash 64× per gram
    // row; here GramHashes emits the base hash once (no gram string at
    // all) and each permutation is one codegen'd integer fold —
    // value-identical (the DuckDB replay already factors it this way).
    val sh = df.select(col(idCol),
      graft.functions.GramHashes.gramHashesDistinct(col(textCol), k))
    val mins = (0 until numHashes).map { i =>
      min(graft.functions.XxHash64FoldInt.fold(col("h"), i)).as(s"h$i")
    }
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash+LSH candidate pairs: split the signature into `bands`
    * bands of `numHashes/bands` rows, hash each band, self-join on
    * `(band_index, band_hash)` buckets. Returns distinct candidate
    * pairs `(doc_a, doc_b)` — verify with [[ngramJaccard]] or estimate
    * similarity as matching-signature fraction.
    *
    * The band join is the scale path: at 100 TB the shuffle key is the
    * band bucket; bucket sizes are bounded because only near-identical
    * documents collide in a band of 8+ hashes.
    */
  def minhashLshCandidates(df: DataFrame, numHashes: Int = 64,
                           bands: Int = 16, k: Int = 3,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = minhashBands(
      minhashSignatures(df, numHashes, k, textCol, idCol),
      numHashes, bands, idCol)
    val l = banded.select(col(idCol).as("doc_a"), col("band"), col("band_hash"))
    val r = banded.select(col(idCol).as("doc_b"), col("band"), col("band_hash"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Band keys of a [[minhashSignatures]] frame: `bands` rows per doc,
    * `(id, band, band_hash)` — the persistable LSH index grain (this
    * is exactly what [[minhashIncremental]] stores between runs).
    */
  def minhashBands(sig: DataFrame, numHashes: Int = 64, bands: Int = 16,
                   idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sig.select(
      col(idCol),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $rows + 1, $rows)))"))
        .as(Seq("band", "band_hash")))
  }

  /** INCREMENTAL MinHash+LSH near-dup — the steady-state form of
    * [[minhashLshCandidates]]+[[minhashSimilarity]]: a new batch of
    * docs is signed and banded, its band keys probe the PERSISTED band
    * index (old docs) unioned with the batch's own keys, and only
    * pairs touching a new doc are verified — old×old never re-pairs,
    * so a daily run costs |batch| band probes against a bucketed
    * index, not a corpus² rebuild. Emits `(doc_a, doc_b,
    * est_jaccard ≥ threshold)` with `doc_a < doc_b`; the caller
    * appends the batch's bands/sigs to the index for the next run
    * (same append-only discipline as [[exactIncremental]]'s
    * fingerprint index).
    *
    * `indexBands`/`indexSigs`: the persisted `(doc_id, band,
    * band_hash)` / `(doc_id, sig)` frames for previously-indexed docs
    * ([[minhashBands]]/[[minhashSignatures]] output — signatures are
    * needed to verify mixed old-new pairs).
    *
    * STORAGE LAYOUT: persist the band frame BUCKETED on `band_hash`
    * ([[graft.io.Bucketing.writeBucketed]]) and probe on that single
    * key — the stored index is then scanned IN PLACE (no Exchange on
    * the index side; only the batch shuffles, so shuffle bytes per
    * run are O(batch) not O(index)). Joining on `band_hash` alone is
    * sound because a cross-band hash collision only ADDS a candidate,
    * and every candidate is verified against the signatures — IoSpec
    * ("bucketed minhash band index") pins both the plan shape and the
    * verified-relation equivalence. Equality with the two-key rebuild
    * is probabilistic, not absolute: a 32-bit cross-band collision on
    * a pair whose est_jaccard ALSO clears the threshold would add a
    * pair the rebuild never emits (p ≈ 2⁻³² per cross-band pair, and
    * such near-identical docs almost surely share a real band too);
    * recall — never missing a rebuild pair — is exact.
    */
  def minhashIncremental(batch: DataFrame, indexBands: DataFrame,
                         indexSigs: DataFrame, numHashes: Int = 64,
                         bands: Int = 16, k: Int = 3,
                         threshold: Double = 0.7,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    minhashIncrementalSigned(
      minhashSignatures(batch, numHashes, k, textCol, idCol),
      indexBands, indexSigs, numHashes, bands, threshold, idCol)

  /** [[minhashIncremental]] for a batch the caller has ALREADY signed —
    * the production grain: a daily run signs the batch once,
    * MATERIALIZES the signatures (they must be appended to the
    * persisted index for tomorrow's run anyway), and probes with that
    * frame. Passing the raw batch to [[minhashIncremental]] instead
    * embeds the signature pass twice in one plan (band probe +
    * verification join) — Spark does not dedupe common subtrees
    * without a persist boundary, so the lazy form pays the batch
    * signature pass 2× per run (measured: the registered
    * q_dedup_minhash_incr cost MORE than the full q_dedup_minhash
    * rebuild before r11 restructured it onto this entry point).
    */
  def minhashIncrementalSigned(newSigs: DataFrame, indexBands: DataFrame,
                               indexSigs: DataFrame, numHashes: Int = 64,
                               bands: Int = 16, threshold: Double = 0.7,
                               idCol: String = "doc_id"): DataFrame = {
    val newBands = minhashBands(newSigs, numHashes, bands, idCol)
    // probe on band_hash ALONE: the index is bucketed on that single
    // key, so the two-key join would force an index-side Exchange and
    // void the O(batch)-shuffle property. Sound per the contract
    // above — a cross-band collision only adds a candidate, and every
    // candidate is signature-verified below.
    val probe = newBands.select(
      col(idCol).as("doc_n"), col("band_hash"))
    val index = indexBands.unionByName(newBands).select(
      col(idCol).as("doc_o"), col("band_hash"))
    val cand = probe.join(index, Seq("band_hash"))
      .filter(col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()
    minhashSimilarity(cand, indexSigs.unionByName(newSigs), idCol)
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash similarity estimate for candidate pairs: fraction of
    * matching signature positions (unbiased Jaccard estimator).
    */
  def minhashSimilarity(candidates: DataFrame, signatures: DataFrame,
                        idCol: String = "doc_id"): DataFrame =
    candidates
      .join(signatures.select(col(idCol).as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(signatures.select(col(idCol).as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard", round(
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))") /
          expr("cast(size(sig_a) AS DOUBLE)"), 6))
      .select("doc_a", "doc_b", "est_jaccard")

  /** SimHash: 64-bit signature where bit j = sign of the sum over
    * tokens of (bit j of xxhash64(token) ? +1 : -1), i.e. bit j is set
    * iff MORE than half the token hashes have bit j set.
    *
    * Implementation note: the textbook nested-lambda form
    * (`transform(0..63, j -> aggregate(hashes, ...))`) is catastrophic
    * in Spark — higher-order functions are interpreted AND
    * CollapseProject inlines the shared token-hash array into all 64
    * votes, making it O(64² · tokens) per doc (observed: 20 min for 5k
    * docs). This version explodes tokens and computes the 64 bit-counts
    * as plain `sum((hash >> j) & 1)` aggregates — whole-stage-codegen'd
    * map-side partial aggregation, one shuffle keyed by doc id.
    */
  def simhash(df: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val tok = df
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val bitCounts = (0 until 64).map(j =>
      sum(expr(s"(__h >> $j) & 1")).as(s"__b$j"))
    val counted = tok.groupBy(col(idCol))
      .agg(bitCounts.head, (bitCounts.tail :+ count(lit(1)).as("__n")): _*)
    // bit j set iff 2*count_j > n  (== sign(sum ±1) > 0)
    val sig = (0 until 64)
      .map(j => when(lit(2) * col(s"__b$j") > col("__n"),
        lit(1L).cast("long") * lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val sigs = counted.select(col(idCol), sig.as("simhash"))
    df.join(sigs, Seq(idCol), "left")
      .na.fill(0L, Seq("simhash")) // empty docs: signature 0
  }

  /** Row-local SimHash: the SAME 64-bit signature as [[simhash]], but
    * computed per row — no explode, no shuffle, no join-back — via the
    * native [[graft.functions.SimHash64]] expression (two primitive
    * loops inside whole-stage codegen; the r8 first cut composed
    * `aggregate`/`zip_with` HOFs, which run interpreted with a boxed
    * 64-slot struct accumulator per token — the custom expression is
    * the same integer algorithm without that tax). Bit-for-bit
    * equality with [[simhash]] is pinned by DedupSpec on real data
    * (same tokens, same xxhash64 seed, same `2·count > n` majority,
    * same null/empty handling: null text → 0, like the batch
    * version's left-join fill).
    *
    * This is the INGEST-time form: a stream (or map-only batch pass)
    * can stamp signatures without any wide dependency, which is what
    * makes streaming near-dup ([[graft.stream.Streams.nearDupBands]])
    * a per-band keyed state problem instead of a corpus join.
    */
  def simhashRow(text: Column): Column =
    coalesce(
      graft.functions.SimHash64.asColumn(TextAnalysis.tokens(text)),
      lit(0L))

  /** SimHash near-dup candidate pairs: block on 4 × 16-bit sub-keys
    * (any pair within Hamming distance ≤ 3 of a 64-bit key shares at
    * least one exact 16-bit block — pigeonhole), then verify the true
    * Hamming distance via bit_count(xor).
    *
    * `maxBucket` caps the per-(block, key) bucket size: a hot bucket of
    * b docs contributes b² join rows, so without the cap a
    * low-diversity corpus degrades to the all-pairs product (observed:
    * 5k word-salad docs → 20 min). Capped buckets are skipped the same
    * way `maxDf` drops boilerplate shingles — docs that common are
    * either true mega-clusters (caught by exact dedup) or hash
    * degeneracy, not near-dup signal. The Hamming filter runs BEFORE
    * the pair-distinct so the shuffle carries only surviving pairs.
    */
  def simhashPairs(df: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text",
                   idCol: String = "doc_id",
                   maxBucket: Int = 256): DataFrame = {
    val sigs = simhash(df, textCol, idCol).select(col(idCol), col("simhash"))
    val blocked = sigs.select(
      col(idCol),
      col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)"))
        .as(Seq("block", "block_key")))
    val small = blocked.join(
      blocked.groupBy("block", "block_key")
        .agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= maxBucket)
        .select("block", "block_key"),
      Seq("block", "block_key"))
    val l = small.select(col(idCol).as("doc_a"), col("simhash").as("sig_a"),
      col("block"), col("block_key"))
    val r = small.select(col(idCol).as("doc_b"), col("simhash").as("sig_b"),
      col("block"), col("block_key"))
    l.join(r, Seq("block", "block_key"))
      .filter(col("doc_a") < col("doc_b") &&
        expr("bit_count(sig_a ^ sig_b)") <= maxHamming)
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** Blocked entity-resolution pairs over the VALUE DICTIONARY: edit
    * distance between distinct string values sharing a blocking key
    * (classic blocking-then-matching ER; Fellegi & Sunter 1969 frame,
    * q-gram/blocking practice per Christen, "Data Matching", 2012).
    *
    * Scale design: matching runs on `distinct(strCol)` — the value
    * dictionary — NOT on rows. Low-cardinality attribute domains
    * (names, brands, categories) stay near-constant while the table
    * grows, so the candidate pair volume is dictionary², bounded per
    * block, independent of row count; survivors broadcast back onto
    * the full table as a tiny mapping. The blocking key is part of the
    * operator's contract (pairs in different blocks are never
    * compared), which is what makes it oracle-reproducible.
    *
    * Output: (name_a, name_b, lev) with name_a < name_b, one row per
    * in-block pair within `maxDist`.
    */
  /** Exact SUBSTRING-level duplication: maximal duplicated token
    * spans, the span-grain counterpart of the document-grain dedups
    * above (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — their ExactSubstr pass; the
    * suffix-array machinery is re-expressed as the distributed
    * k-gram-cover equivalent).
    *
    * A token position is COVERED when the k-token window starting
    * there occurs ≥ 2 times in the corpus (other doc OR elsewhere in
    * the same doc — self-repetition is duplication too, per the
    * paper). Maximal runs of covered positions are coalesced
    * per-document into spans (gaps-and-islands over the position
    * sequence); any duplicated substring of ≥ k tokens is covered at
    * every window position it spans, so spans are a superset cover of
    * the true maximal duplicates, merging only overlapping/adjacent
    * duplicated regions — the same semantics a winnowing pass ships.
    *
    * At 100 TB:
    *  - grams travel as xxhash64 LONGS from the explode on (one
    *    narrow shuffle keyed by gram hash for the global count, one
    *    semi-join back on the same key) — never the string;
    *  - the occurrence count is a hash-aggregate with map-side
    *    partial combine, so a hot gram ("the the the…") costs its row
    *    count once, pre-shuffle;
    *  - the island window partitions by DOCUMENT — per-task state is
    *    one doc's covered positions, bounded by doc length, never
    *    corpus-shaped;
    *  - the positional explode is recomputed for the semi-join rather
    *    than cached (map-side work is cheaper than materializing a
    *    gram-per-position copy of the corpus).
    *
    * Output: `(idCol, span_start, span_tokens)` — 1-based token
    * offset and token length, spans of ≥ `minTokens` only.
    */
  def duplicatedSpans(df: DataFrame, k: Int = 5, minTokens: Int = 5,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val cov = coveredWindowStarts(df, k, textCol, idCol)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    cov
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("pos").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(k.toLong))
          .as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col(idCol), col("span_start"), col("span_tokens"))
  }

  /** Shared substrate for the substring-duplication pair: 1-based
    * token positions whose k-token window occurs ≥ 2 times in the
    * corpus — `(idCol, pos)`. Grams travel as xxhash64 longs (see
    * [[duplicatedSpans]] for the full scale rationale).
    */
  private def coveredWindowStarts(df: DataFrame, k: Int, textCol: String,
                                  idCol: String): DataFrame = {
    // positional k-gram hashes via the byte-level generator (VERDICT
    // r10 #7) — same (pos, xxhash64(gram)) rows as the former
    // struct-transform expression, zero gram-string materialization
    val ph = df.select(col(idCol),
      graft.functions.GramHashes.gramHashesPositional(col(textCol), k))
    val dup = ph.groupBy("h").count()
      .filter(col("count") >= 2).select("h")
    ph.join(dup, Seq("h"), "left_semi").select(col(idCol), col("pos"))
  }

  /** The REMOVAL pass paired with [[duplicatedSpans]]: rebuild each
    * document's text with every duplicated-substring occurrence
    * dropped — ALL occurrences, not all-but-one, matching the
    * published ExactSubstr tooling's behavior (each position of a
    * ≥2×-occurring window is removed wherever it occurs; keeping a
    * canonical copy is a policy layer above, cf.
    * [[keepRepresentatives]] at document grain).
    *
    * A token is removed when ANY duplicated window covers it (window
    * start p covers tokens [p, p+k−1]); the kept tokens re-join with
    * single spaces, so output text is whitespace-NORMALIZED — the
    * same contract as [[TextAnalysis.fingerprint]]'s normalization.
    *
    * Scale: covered window starts expand k× into covered token
    * positions (k is a small constant), aggregate per DOCUMENT into a
    * positions array (bounded by doc length — the same per-doc state
    * bound as the span window), then one broadcast-or-shuffle join
    * back to the corpus and a narrow array rebuild. NULL text stays
    * NULL; docs with nothing removed pass through token-joined.
    *
    * Output: `(idCol, n_tokens_removed, clean_text)`.
    */
  def removeDuplicatedSpans(df: DataFrame, k: Int = 5,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    val cov = coveredWindowStarts(df, k, textCol, idCol)
    val rem = cov
      .select(col(idCol),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("j"))
      .groupBy(idCol)
      .agg(collect_set("j").as("__rem"))
    df.select(col(idCol), col(textCol))
      .join(rem, Seq(idCol), "left")
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        // size(NULL) is -1 under the default legacy sizeOfNull conf,
        // so the no-removals branch must be explicit
        when(col("__rem").isNull, lit(0L))
          .otherwise(size(col("__rem")).cast("long"))
          .as("n_tokens_removed"),
        expr(s"""array_join(
           |  filter(transform(__toks, (t, i) ->
           |    CASE WHEN __rem IS NOT NULL
           |      AND array_contains(__rem, CAST(i + 1 AS BIGINT))
           |    THEN NULL ELSE t END),
           |  x -> x IS NOT NULL), ' ')""".stripMargin)
          .as("clean_text"))
  }

  def fuzzyPairs(df: DataFrame, strCol: String,
                 blockKey: org.apache.spark.sql.Column =>
                   org.apache.spark.sql.Column,
                 maxDist: Int): DataFrame = {
    val names = df.select(col(strCol).as("name"))
      .where(col("name").isNotNull).distinct()
      .withColumn("blk", blockKey(col("name")))
    val a = names.select(col("blk"), col("name").as("name_a"))
    val b = names.select(col("blk"), col("name").as("name_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev") <= maxDist)
      .select("name_a", "name_b", "lev")
  }
}
