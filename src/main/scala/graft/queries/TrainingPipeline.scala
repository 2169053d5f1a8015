package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.Materialize
import graft.text.TextAnalysis

/** End-to-end training-data curation: the composition a pretraining
  * pipeline actually runs, built from this library's operators —
  *
  *   quality filter → language filter → exact dedup → near-dup drop →
  *   sliding-window chunking → deterministic train/test split
  *
  * Every stage is one of the individually-verified operators; this
  * object only composes them, so the 100 TB properties compose too:
  * quality/language/chunking are narrow maps, exact dedup is one
  * fingerprint-keyed shuffle, near-dup candidates come from the
  * inverted shingle index (never a pair product), and the drop set is
  * applied as a keyed left-anti join. Nothing touches the driver.
  */
object TrainingPipeline {

  /** Curate `docs` into chunked, split training samples.
    *
    * @param minQuality  drop documents scoring below this
    *                    ([[TextAnalysis.qualityScore]] ∈ [0,1])
    * @param langs       keep documents whose predicted language is one
    *                    of these (empty = keep all)
    * @param nearDupThreshold trigram-Jaccard threshold; of each
    *                    near-dup pair the LARGER doc_id is dropped
    * @param chunkSize/stride sliding token window (overlap =
    *                    chunkSize − stride)
    * @param trainPct    percent of docs (by id hash) in the train split
    *
    * Output: (doc_id, chunk_id, chunk_text, chunk_tokens, lang_pred,
    * quality_score, split).
    */
  /** Observed variant of [[curate]]: attaches `Observation`s at the
    * three attrition points (post-quality/language filter, post exact
    * dedup, post near-dup drop) so one execution of the curation plan
    * also yields the stage-level audit counts a production pipeline
    * logs — `observe()` piggybacks `CollectMetrics` on the existing
    * pass, so at 100 TB the audit costs NO extra scan (vs. a
    * `count()` per stage, which would re-execute the lineage three
    * times). Read the observations AFTER an action on the returned
    * frame: `obs("kept_quality").get("n")`.
    */
  def curateObserved(docs: DataFrame,
                     minQuality: Double = 0.2,
                     langs: Seq[String] = Nil,
                     nearDupThreshold: Double = 0.8,
                     chunkSize: Int = 64, stride: Int = 48,
                     trainPct: Int = 90)
  : (DataFrame, Map[String, org.apache.spark.sql.Observation]) = {
    import org.apache.spark.sql.Observation
    val obs = Map(
      "kept_quality" -> Observation("kept_quality"),
      "kept_exact" -> Observation("kept_exact"),
      "kept_neardup" -> Observation("kept_neardup"))
    val scored = TextAnalysis.languageId(TextAnalysis.qualityMetrics(docs))
      .filter(col("quality_score") >= minQuality)
    val inLang =
      (if (langs.isEmpty) scored
       else scored.filter(col("lang_pred").isin(langs: _*)))
        .observe(obs("kept_quality"), count(lit(1)).as("n"))
    val exact = Dedup.exact(inLang)
      .observe(obs("kept_exact"), count(lit(1)).as("n"))
    val dropIds = Dedup.ngramJaccard(exact, threshold = nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val unique = exact.join(dropIds, Seq("doc_id"), "left_anti")
      .observe(obs("kept_neardup"), count(lit(1)).as("n"))
    val bucket = TrainingQueries.splitBucket(col("doc_id"))
    val out = TextAnalysis.chunkTokens(unique, chunkSize, stride)
      .withColumn("split",
        when(bucket < trainPct, "train").otherwise("test"))
      .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens",
        "lang_pred", "quality_score", "split")
    (out, obs)
  }

  def curate(docs: DataFrame,
             minQuality: Double = 0.2,
             langs: Seq[String] = Nil,
             nearDupThreshold: Double = 0.8,
             chunkSize: Int = 64, stride: Int = 48,
             trainPct: Int = 90): DataFrame = {
    // narrow scoring maps (no shuffle yet)
    val scored = TextAnalysis.languageId(TextAnalysis.qualityMetrics(docs))
      .filter(col("quality_score") >= minQuality)
    val inLang =
      if (langs.isEmpty) scored
      else scored.filter(col("lang_pred").isin(langs: _*))
    // exact dedup: one shuffle keyed by fingerprint.
    //
    // Materialized ONCE when large (r14, guide §1.2/§5): the dedup
    // output feeds THREE executions otherwise — the near-dup index
    // build (itself eagerly materialized inside ngramJaccard) and the
    // anti-join's left side live in separate jobs, so ReuseExchange
    // can never share the fingerprint exchange, and the regex-heavy
    // quality/language scoring below it ran once per job (close
    // profile: the scan+score segment was executed 3× per q_curate
    // run). Projected to the columns the pipeline still needs, so the
    // checkpointed blocks stay narrow.
    val exact = Materialize.checkpointIfLarge(
      Dedup.exact(inLang).select(
        "doc_id", "text", "lang_pred", "quality_score"),
      Materialize.MultiConsumerMinBytes)
    // near-dup: inverted-index candidates, drop the larger id per pair.
    // Pair-based dropping is deliberately single-pass (no iteration on
    // the curation hot path): it guarantees no surviving PAIR exceeds
    // the threshold. When exactly-one-per-transitive-cluster semantics
    // are required (chains a~b~c where a,c were never a candidate
    // pair), run graph.ConnectedComponents over these pairs instead —
    // TrainingQueries.dedupClusters is that composition, verified
    // against a recursive-closure oracle.
    val dropIds = Dedup.ngramJaccard(exact, threshold = nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val unique = exact.join(dropIds, Seq("doc_id"), "left_anti")
    // chunk + split (both narrow; split is the shared engine-portable
    // Knuth hash so reruns, other engines, and q_train_test_split all
    // agree bit-for-bit)
    val bucket = TrainingQueries.splitBucket(col("doc_id"))
    TextAnalysis.chunkTokens(unique, chunkSize, stride)
      .withColumn("split",
        when(bucket < trainPct, "train").otherwise("test"))
      .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens",
        "lang_pred", "quality_score", "split")
  }

  /** Curation v2 — the r8 operator stack composed end to end:
    *
    *   hashed-ngram CLASSIFIER filter ([[graft.text.QualityModel]],
    *   the trained-model stage that replaces [[curate]]'s heuristic)
    *   → substring-duplication REMOVAL
    *     ([[Dedup.removeDuplicatedSpans]] — drop shared boilerplate
    *     INSIDE surviving docs, the cleanup document-grain dedup
    *     can't do)
    *   → exact dedup on the CLEANED text (removal can make
    *     previously-distinct docs identical — deduping after it
    *     catches those; keyed on the cleaned fingerprint)
    *   → sliding-window chunking.
    *
    * Every stage is an individually-oracled operator, so the whole
    * composition carries an exact DuckDB oracle (q_curate_v2) —
    * integer classifier scores, integer removal counts, and
    * string-exact chunk reconstruction end to end. Scale properties
    * compose as in [[curate]]: the classifier is one doc-keyed
    * partial aggregate, the cover is gram-hash-keyed, removal and
    * chunking are per-doc bounded, the dedup is one fingerprint
    * shuffle.
    *
    * `minCleanTokens` drops docs that are mostly duplicated material
    * (origin tokens − removed < threshold) — the "boilerplate shell"
    * class. Output: `(doc_id, chunk_id, chunk_text, chunk_tokens,
    * score_micro, n_tokens_removed)`.
    */
  def curateV2(docs: DataFrame, k: Int = 5, minCleanTokens: Int = 8,
               chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    import graft.text.QualityModel
    val kept = QualityModel.scoreDocs(docs)
      .filter(col("score_micro") > 0)
      .withColumn("__n_orig", size(TextAnalysis.tokens(col("text"))))
    val cleaned = Dedup.removeDuplicatedSpans(kept, k)
      .join(kept.select(col("doc_id"), col("score_micro"),
        col("__n_orig")), Seq("doc_id"))
      .filter(col("__n_orig") - col("n_tokens_removed") >= minCleanTokens)
    val deduped = Dedup.exact(cleaned, textCol = "clean_text")
      .drop("fp", "__n_orig")
    TextAnalysis.chunkTokens(deduped, chunkSize, stride,
        textCol = "clean_text")
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        col("chunk_tokens"), col("score_micro"), col("n_tokens_removed"))
  }
}
