package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.functions.EmbeddingCentroid
import graft.functions.VectorFunctions.{array_cosine, array_dot}

/** Native vector expressions (interpreted + codegen paths) and the
  * typed centroid Aggregator.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
    (3L, Array(0.0f, 0.0f), Array(1.0f, 1.0f))
  ).toDF("id", "a", "b")

  test("array_dot computes dot product; codegen and interpreted agree") {
    val got = vecs.select(col("id"), array_dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 32.0) // 4+10+18
    assert(got(2L) === 0.0)
  }

  test("array_cosine: orthogonal=0, zero vector -> null") {
    val got = vecs.select(col("id"), array_cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(got(1L).get -
      32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(got(2L).get === 0.0)
    assert(got(3L) === None) // zero norm
  }

  test("length mismatch yields null, not error") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
    val r = df.select(array_dot(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("SQL registration exposes array_cosine to spark.sql") {
    // a child session carries the extension's functions, with no
    // runtime registration
    val r = spark.newSession()
      .sql("SELECT array_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("native cosine matches expression-tree formulation on real data") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(20)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib"))
    val viaTree = pairs.withColumn("c", expr(
      """aggregate(zip_with(transform(ea, x -> cast(x AS DOUBLE)),
        |  transform(eb, x -> cast(x AS DOUBLE)), (x, y) -> x * y),
        |  0D, (acc, v) -> acc + v) /
        |(sqrt(aggregate(transform(ea, x -> cast(x AS DOUBLE) *
        |  cast(x AS DOUBLE)), 0D, (acc, v) -> acc + v)) *
        | sqrt(aggregate(transform(eb, x -> cast(x AS DOUBLE) *
        |  cast(x AS DOUBLE)), 0D, (acc, v) -> acc + v)))""".stripMargin))
      .select("ia", "ib", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaNative = pairs.withColumn("c", array_cosine(col("ea"), col("eb")))
      .select("ia", "ib", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    viaTree.foreach { case (k, v) =>
      assert(math.abs(viaNative(k) - v) < 1e-12, s"pair $k")
    }
  }

  test("simhash64 == the interpreted HOF composition; edge semantics") {
    import graft.functions.SimHash64
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(split(trim(col("text")), "\\s+").as("toks"))
    // the r8 first-cut formulation (aggregate/zip_with HOFs — runs
    // interpreted), kept here as the cross-path reference: the native
    // expression's codegen loop must agree bit-for-bit on real data
    val bitIdx = sequence(lit(0), lit(63))
    val hs = transform(col("toks"), t => xxhash64(t))
    val zero = struct(array_repeat(lit(0L), 64).as("c"), lit(0L).as("n"))
    val hof = aggregate(hs, zero,
      (a, h) => struct(
        zip_with(a.getField("c"), bitIdx, (c, j) =>
          c + call_function("shiftright", h, j).bitwiseAND(lit(1L)))
          .as("c"),
        (a.getField("n") + lit(1L)).as("n")),
      a => aggregate(
        zip_with(a.getField("c"), bitIdx, (c, j) =>
          when(lit(2L) * c > a.getField("n"),
            call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
        lit(0L), (x, y) => x.bitwiseOR(y)))
    val diff = docs
      .select(SimHash64.asColumn(col("toks")).as("a"), hof.as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff === 0L, "native and HOF SimHash disagree")
    // edges: NULL array -> NULL; a single NULL token hashes as the
    // seed (42 -> every set bit of 42 is a 1-of-1 majority -> sig 42);
    // empty array -> no majorities -> 0
    val e = Seq(1).toDF("i").select(
      SimHash64.asColumn(lit(null).cast("array<string>")).as("x"),
      SimHash64.asColumn(array(lit(null).cast("string"))).as("y"),
      SimHash64.asColumn(array().cast("array<string>")).as("z"))
      .collect()(0)
    assert(e.isNullAt(0))
    assert(e.getLong(1) === 42L)
    assert(e.getLong(2) === 0L)
  }

  test("EmbeddingCentroid aggregator matches posexplode-avg per label") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val typed = emb.select(col("label"), col("embedding"))
      .as[(Int, Seq[Float])]
    val viaAgg = typed.groupByKey(_._1).mapValues(_._2)
      .agg(EmbeddingCentroid.toColumn.name("centroid"))
      .collect().toMap
    // cross-check one label against the declarative grouped mean
    val lbl = viaAgg.keySet.min
    val want = emb.filter(col("label") === lbl)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg(col("v").cast("double")).as("m"))
      .orderBy("pos").collect().map(_.getDouble(1))
    val got = viaAgg(lbl)
    assert(got.length === want.length)
    want.indices.foreach { i =>
      assert(math.abs(got(i) - want(i)) < 1e-9)
    }
  }

  test("array_l2 computes euclidean distance; mismatch -> null") {
    import graft.functions.VectorFunctions.array_l2
    val got = vecs.select(col("id"), array_l2(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - math.sqrt(27.0)) < 1e-12) // 9+9+9
    assert(math.abs(got(2L) - math.sqrt(2.0)) < 1e-12)
    val mm = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
      .select(array_l2(col("a"), col("b"))).collect()(0)
    assert(mm.isNullAt(0))
  }

  test("unicode_nfc composes decomposed sequences; identity on NFC text") {
    import graft.functions.TextNormFunctions.unicode_nfc
    // "Cafe" + combining acute (U+0301): NFC composes to 4-cp "Café"
    val df = Seq((1L, "Café"), (2L, "ascii only"), (3L, null))
      .toDF("id", "t")
    val got = df.select(col("id"), unicode_nfc(col("t")).as("n"),
        length(unicode_nfc(col("t"))).as("len"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getString(1), r.getInt(2))))).toMap
    assert(got(1L) === Some(("Café", 4)))
    assert(got(2L) === Some(("ascii only", 10)))
    assert(got(3L) === None)
  }

  test("GraftExtensions: SQL surface incl. sketch aggregates end-to-end") {
    // the suite session is a GraftSession: the extension is installed
    val mg = spark.sql(
      "SELECT misra_gries(c, 2) AS m FROM VALUES ('a'),('a'),('b'),('a') t(c)")
      .collect()(0).getAs[Map[String, Long]](0)
    assert(mg === Map("a" -> 3L, "b" -> 1L))
    val tk = spark.sql(
      "SELECT top_k_pairs(s, i, 2) AS t FROM VALUES " +
        "(1.0D, 1L), (3.0D, 2L), (2.0D, 3L) t(s, i)")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(tk === Seq((3.0, 2L), (2.0, 3L)))
    // a child session carries the extension too, no runtime registration
    val dot = spark.newSession()
      .sql("SELECT array_dot(array(1D,2D), array(3D,4D))").head().getDouble(0)
    assert(dot === 11.0)
    // non-literal bound must fail loudly, not mis-plan
    val e = intercept[Exception] {
      spark.sql("SELECT top_k_pairs(s, i, CAST(i AS INT)) FROM VALUES " +
        "(1.0D, 1L) t(s, i)").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("GraftExtensions: every SQL function checks its argument count") {
    def wrongArgs(q: String): String = {
      val e = intercept[AnalysisException](spark.sql(q).collect())
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
      e.getMessage
    }
    assert(wrongArgs("SELECT array_dot(array(1D))").contains("array_dot"))
    assert(wrongArgs("SELECT simhash64(array('a'), 7)").contains("simhash64"))
    wrongArgs("SELECT misra_gries(c) FROM VALUES ('a') t(c)")
    // array_l2 is in the same table as the rest of the vector family
    val l2 = spark.sql("SELECT array_l2(array(0D, 0D), array(3D, 4D))")
      .head().getDouble(0)
    assert(l2 === 5.0)
  }

  test("MisraGries: superset of true heavy hitters, bounded undercount") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = docs.select(explode(split(lower(trim(col("text"))), "\\s+"))
        .as("tok"))
      .filter(col("tok") =!= "")
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = 20
    val sketch: Map[String, Long] = toks
      .agg(graft.functions.SketchAggregates.misra_gries(col("tok"), k))
      .collect()(0).getAs[Map[String, Long]](0)
    val thresh = n.toDouble / (k + 1)
    // no false negatives above n/(k+1)
    exact.foreach { case (t, c) =>
      if (c > thresh) assert(sketch.contains(t),
        s"heavy hitter '$t' (count $c > $thresh) missing from sketch")
    }
    // estimates never exceed truth; undercount bounded by n/(k+1)
    sketch.foreach { case (t, est) =>
      val truth = exact.getOrElse(t, 0L)
      assert(est <= truth, s"'$t' est $est > true $truth")
      assert(truth - est <= thresh + 1,
        s"'$t' undercount ${truth - est} > $thresh")
    }
    assert(sketch.size <= k)
  }

  test("unicode_nfc: SQL registration and codegen path agree with eval") {
    val q = "SELECT unicode_nfc('Café' ) AS n"
    val s = spark.newSession()
    val r = s.sql(q).collect()(0)
    assert(r.getString(0) === "Café")
    // wide row forces whole-stage codegen; compare vs interpreted result
    val df = s.range(50).selectExpr(
      "unicode_nfc(concat('Áx', id)) AS n")
    assert(df.collect().forall(_.getString(0).startsWith("Áx")))
  }

  test("cms_estimate: overestimate-only within eps*N, long and string keys") {
    import graft.functions.CmsFunctions._
    // skewed long keys: key k occurs (k+1)*10 times, k in 0..49 → N=12750
    val rows = (0 until 50).flatMap(k => Seq.fill((k + 1) * 10)(k.toLong))
    val df = rows.toDF("k")
    val sk = scalarSubquery(df.agg(expr(
      "count_min_sketch(k, cast(0.001 as double), cast(0.99 as double), 7)")))
    val est = spark.range(50).select(col("id"),
        cms_estimate(sk, col("id")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = rows.size
    for (k <- 0 until 50) {
      val truth = (k + 1) * 10
      assert(est(k.toLong) >= truth, s"CMS must never underestimate (k=$k)")
      assert(est(k.toLong) <= truth + (0.001 * n).ceil.toLong * 3,
        s"estimate ${est(k.toLong)} too far above $truth (k=$k)")
    }
    // string keys route through the same bytes the aggregate ingested
    val sdf = Seq("a", "a", "a", "b").toDF("t")
    val ssk = scalarSubquery(sdf.agg(expr(
      "count_min_sketch(t, cast(0.01 as double), cast(0.99 as double), 7)")))
    val sEst = Seq("a", "b", "zzz").toDF("t")
      .select(col("t"), cms_estimate(ssk, col("t")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sEst("a") >= 3 && sEst("b") >= 1)
    // null value → null estimate
    val nullEst = Seq(Option.empty[String]).toDF("t")
      .select(cms_estimate(ssk, col("t"))).collect()(0)
    assert(nullEst.isNullAt(0))
  }

  test("cms_estimate rejects a non-constant sketch argument") {
    import graft.functions.CmsFunctions._
    val df = Seq((Array[Byte](1, 2), 1L)).toDF("sk", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(cms_estimate(col("sk"), col("v"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("constant") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("token_shingles generator == split/transform/explode composition") {
    import graft.functions.TokenShingles.tokenShingles
    val df = Seq((1L, "  The quick  Brown fox jumps "), (2L, "a b"),
      (3L, null.asInstanceOf[String]), (4L, "one two three")).toDF("id", "t")
    val gen = df.select(col("id"), tokenShingles(col("t"), 3))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val composed = df
      .withColumn("toks", split(lower(trim(col("t"))), "\\s+"))
      .withColumn("pos", explode(
        transform(slice(col("toks"), lit(1),
            greatest(size(col("toks")) - 2, lit(0))),
          (_, i) => i)))
      .select(col("id"), col("pos"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(3))).as("shingle"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(gen.toSeq === composed.toSeq)
    assert(gen.count(_._1 == 1L) === 3) // 5 tokens -> 3 trigrams
    assert(!gen.exists(t => t._1 == 2L || t._1 == 3L)) // short + null -> none
  }

  test("token_shingles works from SQL via LATERAL VIEW") {
    val q = """SELECT id, s.pos, s.shingle
      |FROM ts_docs LATERAL VIEW token_shingles(t, 2) s
      |ORDER BY pos""".stripMargin
    val s = spark.newSession()
    s.createDataFrame(Seq((7L, "w x y z"))).toDF("id", "t")
      .createOrReplaceTempView("ts_docs")
    val rows = s.sql(q).collect()
    assert(rows.map(_.getString(2)).toSeq === Seq("w x", "x y", "y z"))
  }
}
