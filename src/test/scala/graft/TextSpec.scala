package graft

import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "The quick brown fox, it jumps!"),
    (1L, "de la que el en los del las por un texto"),
    (2L, "a b c"),
    (3L, "der die und das von den des im ein mit")
  ).toDF("doc_id", "text")

  test("token counts: whitespace vs regex pieces") {
    val r = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ws"),
      TextAnalysis.regexTokenCount(col("text")).as("re"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(r(0L) === ((6, 8)))  // 6 ws tokens; 6 words + ',' + '!'
    assert(r(2L) === ((3, 3)))
  }

  test("quality metrics: ratios bounded, stopword ratio counts tokens") {
    val r = TextAnalysis.qualityMetrics(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    val d0 = r(0L)
    assert(d0.getAs[Long]("n_tokens") === 6L)
    // "The"(cased) not matched; "it" matched -> 1/6
    assert(math.abs(d0.getAs[Double]("stopword_ratio") - 1.0 / 6) < 1e-6)
    assert(d0.getAs[Double]("punct_ratio") > 0.0)
    assert(d0.getAs[Double]("punct_ratio") < 0.2)
  }

  test("language id: stopword profiles pick the right language") {
    val r = TextAnalysis.languageId(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("lang_pred")).toMap
    assert(r(1L) === "es")
    assert(r(3L) === "de")
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = Seq((0L, "Hello  World"), (1L, "hello world"), (2L, "other"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("charEntropy: uniform text maxes, repeated char zeroes, prefix caps") {
    val t = Seq(
      (0L, "aaaa"),              // one symbol -> entropy 0
      (1L, "abab"),              // two equiprobable -> 1 bit
      (2L, "abcd"),              // four equiprobable -> 2 bits
      (3L, "x" * 50)             // long run, prefix cap 10 -> 10 sampled
    ).toDF("doc_id", "text")
    val r = TextAnalysis.charEntropy(t, prefixLen = 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Double]("char_entropy"), x.getAs[Long]("n_chars_sampled"))))
      .toMap
    assert(r(0L) === ((0.0, 4L)))
    assert(r(1L) === ((1.0, 4L)))
    assert(r(2L) === ((2.0, 4L)))
    assert(r(3L) === ((0.0, 10L)))
  }

  test("stripMarkup removes tags/entities, collapses space, audits counts") {
    val pages = Seq(
      (0L, """<html><p class="x">Hello&nbsp;world</p> <br/>rest</html>"""),
      (1L, "no markup at all"),
      (2L, "a &lt; b &#65; c")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.stripMarkup(pages).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tags"), x.getAs[Long]("n_entities"),
          x.getAs[String]("clean_text")))).toMap
    assert(r(0L) === ((5L, 1L, "Hello world rest")))
    assert(r(1L) === ((0L, 0L, "no markup at all")))
    assert(r(2L) === ((0L, 2L, "a b c")))
  }

  test("BPE: merge order on the Sennrich-style toy corpus; segmentation consistent") {
    import graft.text.Bpe
    // word frequencies from the BPE paper's running example shape
    val wf = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.learnFromWordFreq(wf, nMerges = 4, minFreq = 2)
    assert(merges.length === 4)
    // highest-weight pair first: 'es' appears in newest+widest = 9 —
    // beats 'lo' (7); then 'est', 'est</w>', then 'lo' (7)
    assert((merges(0).left, merges(0).right, merges(0).freq) === (("e", "s", 9L)))
    assert((merges(1).left, merges(1).right, merges(1).freq) === (("es", "t", 9L)))
    assert((merges(2).left, merges(2).right, merges(2).freq) === (("est", Bpe.Eow, 9L)))
    assert((merges(3).left, merges(3).right, merges(3).freq) === (("l", "o", 7L)))
    // ranks are sequential
    assert(merges.map(_.rank) === Seq(0, 1, 2, 3))
    // segmentation with the learned merges reflects them
    assert(Bpe.segment("newest", merges) === Vector("n", "e", "w", "est</w>"))
    assert(Bpe.segment("low", merges) === Vector("lo", "w", Bpe.Eow))
    // determinism: same input → same merges
    assert(Bpe.learnFromWordFreq(wf, 4, 2) === merges)
  }

  test("BPE tokenize: distributed apply equals driver-side segment; memo-safe") {
    import graft.text.Bpe
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 20)
    val merges = Bpe.learnMerges(docs, "text", nMerges = 10, minFreq = 1)
    val got = Bpe.tokenize(docs, "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val want = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .flatMap(w => Bpe.segment(w, merges)).toSeq
      assert(got(id) === want, s"doc $id segmentation mismatch")
    }
    // subword count shrinks (or holds) as merges are added
    val got0 = Bpe.tokenize(docs, "text", Nil)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).length).toMap
    texts.foreach { case (id, _) =>
      assert(got(id).length <= got0(id), s"doc $id grew under merges")
    }
  }

  test("BPE: distributed word-freq leg agrees with a driver-side count") {
    val docs = Seq((0L, "aa ab aa"), (1L, "ab aa")).toDF("doc_id", "text")
    val merges = graft.text.Bpe.learnMerges(docs, "text", nMerges = 1,
      minFreq = 1)
    // 'aa' appears 3×, 'ab' 2× → pair (a,a) weight 3 vs (a,b) 2 and
    // (a,</w>)... every word ends with one </w> pair; (a,a) only in aa
    assert(merges.head.left === "a")
    assert(merges.head.freq >= 3L)
  }

  test("kl sources: non-negative (Gibbs), zero only for corpus-identical") {
    val rows = graft.queries.TrainingQueries.klSources(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // KL >= 0 always; allow rounding slack at the 6th decimal
      assert(r.getDouble(2) >= -1e-6, r)
      assert(r.getLong(1) >= 1, r)
    }
  }

  test("communities: token communities look like language clusters") {
    val rows = graft.queries.TrainingQueries.communities(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // community sizes are positive and sorted descending
    val sizes = rows.map(_.getLong(1))
    assert(sizes.forall(_ >= 1))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => b <= a })
    // the dominant community must be non-trivial: language-internal
    // co-occurrence makes big label basins
    assert(sizes.head >= 10, s"top community too small: ${sizes.head}")
  }

  test("QualityModel: score = sum of bucket weights + bias, exactly") {
    import spark.implicits._
    import graft.text.QualityModel
    // independently recompute the expected score from the weights
    // array: hash each feature (unigrams + the bigram) with Spark's
    // own xxhash64, index the Scala-side weight table, add the bias —
    // this pins the WIRING (bucketing, 1-based element_at, bigram
    // construction, bias) rather than re-trusting the fold
    val feats = Seq("alpha", "beta", "alpha beta")
    val buckets = feats.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(QualityModel.Dim)))
      .collect().map(_.getLong(0).toInt)
    val want = buckets.map(QualityModel.weights(_)).sum + QualityModel.bias
    val got = Seq("Alpha  BETA").toDF("text") // case/space-normalized
      .select(QualityModel.scoreMicro(col("text")))
      .collect()(0).getLong(0)
    assert(got === want)
    // empty and NULL text score exactly the bias — never NULL
    val edge = Seq(Some(""), Option.empty[String]).toDF("text")
      .select(QualityModel.scoreMicro(col("text")))
      .collect().map(_.getLong(0)).toSeq
    assert(edge === Seq(QualityModel.bias, QualityModel.bias))
    // determinism across evaluation orders: repartitioned input
    // produces identical scores (integer arithmetic, no float order)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.select(col("doc_id"),
        QualityModel.scoreMicro(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = docs.repartition(7).select(col("doc_id"),
        QualityModel.scoreMicro(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // the placeholder model must actually separate (not constant-keep)
    val keeps = a.values.count(_ > 0)
    assert(keeps > 0 && keeps < a.size,
      s"placeholder model degenerate: $keeps/${a.size} kept")
    // the codegen batch shape must be bit-identical to the row-local
    // fold (integer sums are order-independent) — incl. empty/NULL
    val edgeDf = Seq((1000000L, Some("")), (1000001L, Option.empty[String]))
      .toDF("doc_id", "text")
    val viaDocs = QualityModel.scoreDocs(docs.unionByName(
        edgeDf.select(col("doc_id"),
          col("text").as("text"),
          lit("x").as("lang"), lit("x").as("source"),
          lit(0L).as("n_chars"))))
      .select("doc_id", "score_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDocs.view.filterKeys(a.contains).toMap === a,
      "scoreDocs must equal scoreMicro on every corpus doc")
    assert(viaDocs(1000000L) === QualityModel.bias)
    assert(viaDocs(1000001L) === QualityModel.bias)
    // the BROADCAST weight path (production dimension's access shape,
    // forced here via literalDimMax = 0) must be bit-identical to the
    // literal path — same array, integer arithmetic, both eval modes
    val viaBc = QualityModel.scoreDocsWith(docs,
        QualityModel.weights, QualityModel.bias, literalDimMax = 0)
      .select("doc_id", "score_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBc === a,
      "broadcast weight path must equal the literal path")
  }

  test("QualityModel at D=2^20: the broadcast path scores exactly with codegen fallback off") {
    import graft.text.QualityModel
    val dim = 1 << 20
    assert(dim > QualityModel.LiteralDimMax)
    val w = Array.tabulate(dim)(i =>
      ((i.toLong * 2654435761L + 987654321L) % 2000001L) - 1000000L)
    val b = -250000L
    // the same independent recomputation as the scoreMicro test: each
    // feature hashed with Spark's xxhash64 into `dim` buckets
    def want(feats: String*): Long =
      feats.toDF("t").select(pmod(xxhash64(col("t")), lit(dim)))
        .collect().map(r => w(r.getLong(0).toInt)).sum + b
    val path = tempDir("quality_d20").resolve("docs").toString
    Seq((1L, "Alpha  BETA"), (2L, "gamma"), (3L, ""), (4L, null))
      .toDF("doc_id", "text").write.parquet(path)
    val before = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val scored = QualityModel.scoreDocsWith(spark.read.parquet(path), w, b)
      assert(scored.queryExecution.optimizedPlan.toString
        .contains("broadcast_weights_get"))
      val got = scored.select("doc_id", "score_micro").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> want("alpha", "beta", "alpha beta"),
        2L -> want("gamma"), 3L -> b, 4L -> b))
    } finally {
      before match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
      graft.ops.Materialize.releaseOwned(spark)
    }
  }

  test("gopherRules: signals on a hand-checkable fixture, integer gate, edge docs") {
    import graft.text.TextAnalysis
    // doc 1: "the the the the" — 4 words, top bigram "the the" = 3/3,
    // dup trigram 1/2, 1 distinct stopword -> everything fails
    // doc 2: 40 distinct-ish words incl. two stopwords, no repeated
    // bigram -> keep
    val good = (1 to 38).map(i => s"word$i").mkString("the a ", " ", "")
    val rows = Seq(
      (1L, "the the the the"),
      (2L, good),
      (3L, ""),                       // blank: 0 words, NULL metrics
      (4L, null.asInstanceOf[String]) // NULL text: same contract
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(rows).orderBy("doc_id")
      .collect()
    val d1 = got(0)
    assert(d1.getLong(1) === 4L)                 // n_words
    assert(d1.getDouble(2) === 3.0)              // mean_word_len
    assert(d1.getDouble(3) === 1.0)              // top_bigram 3/3
    assert(d1.getDouble(4) === 0.5)              // dup_trigram 1/2
    assert(d1.getLong(5) === 1L && !d1.getBoolean(6))
    val d2 = got(1)
    assert(d2.getLong(1) === 40L)
    assert(d2.getDouble(3) < 0.06 && d2.getLong(5) === 2L)
    assert(d2.getBoolean(6), s"fixture doc 2 must pass the gate: $d2")
    for (edge <- Seq(got(2), got(3))) {
      assert(edge.getLong(1) === 0L)
      assert(edge.isNullAt(2) && edge.isNullAt(3) && edge.isNullAt(4))
      assert(!edge.getBoolean(6))
    }
    // the gate must actually separate the real corpus (not constant)
    val corpus = TextAnalysis.gopherRules(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val kept = corpus.filter(col("keep")).count()
    val n = corpus.count()
    assert(kept > 0 && kept < n, s"gate degenerate: $kept/$n kept")
  }
}
