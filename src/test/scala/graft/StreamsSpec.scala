package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.io.Tables
import graft.ops.Materialize
import graft.stream.Streams

/** Streaming semantics driven synchronously: land the events testdata
  * in a temp dir (µs timestamps), stream it with AvailableNow, compare
  * against the batch answers.
  */
class StreamsSpec extends SparkSpec {

  private lazy val landingDir: String = {
    val dir = Files.createTempDirectory("events_landing").toString
    // rewrite ns-timestamp testdata as µs parquet (what a landing zone
    // written by this engine would contain)
    Tables.events(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed agg over file source matches batch aggregation") {
    val schema = Tables.events(spark, sfDir).schema
    val stream = Streams.fileSource(spark, landingDir, schema)
    // complete mode: append would withhold windows newer than the final
    // watermark (they only emit once a later event advances it)
    Streams.runAvailableNow(Streams.hourlyCounts(stream), "hourly_test",
      outputMode = "complete")
    val streamed = spark.table("hourly_test")
      .select("hour", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed === batch)
  }

  test("session windows produce bounded sessions per user") {
    val schema = Tables.events(spark, sfDir).schema
    val stream = Streams.fileSource(spark, landingDir, schema)
    Streams.runAvailableNow(Streams.sessionCounts(stream), "sessions_test",
      outputMode = "complete")
    val sessions = spark.table("sessions_test").collect()
    assert(sessions.nonEmpty)
    // session bounds are ordered and non-overlapping per user
    sessions.groupBy(_.getLong(2)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getTimestamp(0).getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(1).getTime <= b.getTimestamp(0).getTime)
        case _ =>
      }
    }
  }

  test("mapGroupsWithState running totals match batch aggregation") {
    implicit val s = spark
    val schema = Tables.events(spark, sfDir).schema
    val stream = Streams.fileSource(spark, landingDir, schema)
    // single batch -> one emission per user; compare against batch agg
    val streamed = Streams.runAvailableNow(Streams.runningUserTotals(stream).toDF(),
        "user_totals", outputMode = "update").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, (n, v)) =>
      assert(n === batch(u)._1, s"user $u count")
      assert(math.abs(v - batch(u)._2) < 0.01, s"user $u total")
    }
  }

  test("checkpoint gives exactly-once file processing across restarts (ST4)") {
    val schema = Tables.events(spark, sfDir).schema
    val ckpt = Files.createTempDirectory("ckpt").toString
    val outDir = Files.createTempDirectory("stream_out").toString
    def runOnce(): Unit = {
      val q = Streams.fileSource(spark, landingDir, schema)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    runOnce() // restart with same checkpoint, no new files
    val afterSecond = spark.read.parquet(outDir).count()
    assert(afterFirst === Tables.events(spark, sfDir).count())
    assert(afterSecond === afterFirst) // nothing reprocessed
  }

  test("stream-stream join matches the batch time-range join") {
    val schema = Tables.events(spark, sfDir).schema
    def src() = Streams.fileSource(spark, landingDir, schema)
    val joined = Streams.streamStreamJoin(
      src().filter(col("event_type") === "view"),
      src().filter(col("event_type") === "purchase"))
    Streams.runAvailableNow(joined, "ss_join_test")
    val streamed = spark.table("ss_join_test")
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sfDir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("__rk"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
    val batch = v.join(p, col("user_id") === col("__rk") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 30 minutes"))
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture should produce view->purchase pairs")
    assert(streamed === batch)
  }

  test("stream-static broadcast enrichment preserves every stream row") {
    val schema = Tables.events(spark, sfDir).schema
    val ev = Streams.fileSource(spark, landingDir, schema)
      .withColumn("key", pmod(col("user_id"), lit(1500L)) + 1)
    // static dimension side: plain batch frame, broadcast into every
    // micro-batch — the standard streaming enrichment shape
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").cast("long").as("key"), col("c_name"))
    val out = ev.join(broadcast(dim), Seq("key"), "left")
    Streams.runAvailableNow(out, "enrich_test")
    val n = Tables.events(spark, sfDir).count()
    val got = spark.table("enrich_test")
    assert(got.count() === n) // left join: nothing dropped
    assert(got.filter(col("c_name").isNotNull).count() > 0)
  }

  test("streaming dedup keeps first arrival per fingerprint") {
    import spark.implicits._
    val dir = Files.createTempDirectory("docs_landing").toString
    // 3 distinct texts, 6 rows: every text sent twice within the horizon
    Seq(
      (0L, "alpha beta", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      (1L, "alpha beta", java.sql.Timestamp.valueOf("2026-01-01 00:05:00")),
      (2L, "Gamma  delta", java.sql.Timestamp.valueOf("2026-01-01 00:01:00")),
      (3L, "gamma delta", java.sql.Timestamp.valueOf("2026-01-01 00:06:00")),
      (4L, "epsilon", java.sql.Timestamp.valueOf("2026-01-01 00:02:00")),
      (5L, "epsilon", java.sql.Timestamp.valueOf("2026-01-01 00:03:00"))
    ).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val deduped = Streams.dedupStream(
      Streams.fileSource(spark, dir, schema))
    Streams.runAvailableNow(deduped, "dedup_stream_test")
    val fps = spark.table("dedup_stream_test").collect()
      .map(_.getAs[String]("fp"))
    // fingerprint normalizes case + whitespace -> 3 survivors
    assert(fps.length === 3)
    assert(fps.distinct.length === 3)
  }

  test("heavyHittersStream: MG sketch folds across micro-batches") {
    import spark.implicits._
    implicit val s = spark
    val dir = Files.createTempDirectory("hh_landing").toString
    // two files -> two micro-batches (maxFilesPerTrigger=1); one
    // partition per file so the per-group fold order is the row order
    val batch1 = Seq.fill(6)("a") ++ Seq.fill(4)("b") ++
      Seq("x", "y", "z")
    val batch2 = Seq.fill(5)("a") ++ Seq.fill(3)("c") ++ Seq("w", "b")
    batch1.map(t => ("g1", t)).toDF("grp", "tok")
      .coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    batch2.map(t => ("g1", t)).toDF("grp", "tok")
      .coalesce(1).write.parquet(s"$dir/f2")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val k = 4
    val hh = Streams.heavyHittersStream(
      Streams.fileSource(spark, s"$dir/*", schema,
        maxFilesPerTrigger = Some(1)), k)
    Streams.runAvailableNow(hh.toDF(), "hh_stream_test",
      outputMode = "update")
    val rows = spark.table("hh_stream_test").collect()
    // update mode + 2 batches touching g1 -> 2 emissions
    assert(rows.length === 2)
    val finalSketch = rows.last // memory sink appends in batch order
    val sketch = finalSketch.getSeq[String](1)
      .zip(finalSketch.getSeq[Long](2)).toMap
    assert(sketch.size <= k)
    // exact truth over the whole stream
    val all = batch1 ++ batch2
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size
    // MG guarantees: never overcount; undercount bounded by N/(k+1);
    // every item with true frequency > N/(k+1) is present
    sketch.foreach { case (t, c) =>
      assert(c <= truth(t), s"overcount on $t")
      assert(truth(t) - c <= n / (k + 1), s"undercount bound on $t")
    }
    truth.filter(_._2 > n / (k + 1)).keys.foreach(t =>
      assert(sketch.contains(t), s"heavy hitter $t missing"))
    // the fold crossed the batch boundary: 'a' alone has true count 11
    // in 23 rows; a sketch built from batch 2 alone could credit it at
    // most 5
    assert(sketch("a") > 5L, "state did not persist across batches")
    // cross-surface agreement: the BATCH misra_gries aggregate over
    // the same single-partition sequence runs the same shared steps
    val batchSketch = all.toDF("tok").coalesce(1)
      .agg(graft.functions.SketchAggregates.misra_gries(col("tok"), k))
      .collect()(0).getMap[String, Long](0)
    assert(sketch === Map(batchSketch.toSeq: _*),
      "streaming fold must equal the batch aggregate's serial pass")
  }

  test("nearDupBands single batch equals the earlier-doc band relation") {
    import spark.implicits._
    implicit val s = spark
    import graft.dedup.Dedup
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("neardup_landing").toString
    real.coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val hits = Streams.nearDupBands(Streams.fileSource(spark, dir, schema))
    Streams.runAvailableNow(hits.toDF(), "neardup_stream_test")
    val streamed = spark.table("neardup_stream_test")
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // the SQL-replayable relation, computed in batch from the same
    // row-local signatures: exists an earlier doc sharing a 16-bit
    // band within hamming <= 3
    val blocked = real
      .select(col("doc_id"), Dedup.simhashRow(col("text")).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("block"))
      .withColumn("bkey", expr("(sig >> (block * 16)) & 65535"))
    val expected = blocked.as("a")
      .join(blocked.as("b"),
        col("a.block") === col("b.block") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.sig ^ b.sig) <= 3"))
      .select(col("b.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture has no near-dups — vacuous test")
    assert(streamed === expected)
  }

  test("nearDupBands: state persists across micro-batches; guard is loud") {
    import spark.implicits._
    implicit val s = spark
    val dir = Files.createTempDirectory("neardup_batches").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, text), (2L, text), (3L, "totally unrelated words " +
      "nothing shared with the other documents at all"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    Seq((4L, text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/f2")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val hits = Streams.nearDupBands(Streams.fileSource(
      spark, s"$dir/*", schema, maxFilesPerTrigger = Some(1)))
    Streams.runAvailableNow(hits.toDF(), "neardup_batches_test")
    val flagged = spark.table("neardup_batches_test")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // doc 2 matches doc 1 within batch 1; doc 4 (batch 2) matches ONLY
    // via state carried over from batch 1
    assert(flagged === Set(2L, 4L))
    // loud guard: a bucket over maxBucket must fail, not degrade
    val boom = intercept[Exception] {
      val h2 = Streams.nearDupBands(Streams.fileSource(
        spark, s"$dir/*", schema), maxBucket = 2)
      Streams.runAvailableNow(h2.toDF(), "neardup_guard_test")
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: msgs(t.getCause)
    assert(msgs(boom).exists(m => m != null && m.contains("maxBucket")))
  }

  test("nearDupBands out-of-order arrival: first-ARRIVAL semantics, documented oracle scope") {
    // The scaladoc's contract: the emitted relation equals the
    // SQL-replayable "exists an earlier (smaller-id) doc" form ONLY
    // under id-ordered arrival; under out-of-order multi-batch
    // arrival, "earlier" means earlier-ARRIVED (within a batch, rows
    // fold in id order). This pins the divergence explicitly: doc 10
    // lands first, the near-identical doc 5 lands LATER — first-
    // arrival flags 5 (it matches the already-stateful 10), while the
    // id-ordered relation would flag 10 instead. q_stream_neardup's
    // oracle stays scoped to id-ordered AvailableNow landings.
    import spark.implicits._
    implicit val s = spark
    val dir = Files.createTempDirectory("neardup_ooo").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((10L, text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    Seq((5L, text), (20L, text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/f2")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val hits = Streams.nearDupBands(Streams.fileSource(
      spark, s"$dir/*", schema, maxFilesPerTrigger = Some(1)))
    Streams.runAvailableNow(hits.toDF(), "neardup_ooo_test")
    val flagged = spark.table("neardup_ooo_test")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // first-arrival: 5 flags against the earlier-ARRIVED 10; 20 flags
    // against both; 10 arrived first and flags against nothing
    assert(flagged === Set(5L, 20L))
    // and the id-ordered SQL relation over the same rows differs —
    // the oracle-scope caveat is real, not hypothetical
    val blocked = Seq((10L, text), (5L, text), (20L, text))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.dedup.Dedup.simhashRow(col("text")).as("sig"),
        explode(sequence(lit(0), lit(3))).as("block"))
      .withColumn("bkey", expr("(sig >> (block * 16)) & 65535"))
    val idOrdered = blocked.as("a")
      .join(blocked.as("b"),
        col("a.block") === col("b.block") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.sig ^ b.sig) <= 3"))
      .select(col("b.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(idOrdered === Set(10L, 20L))
    assert(flagged !== idOrdered,
      "arrival order changed nothing — caveat would be vacuous")
  }

  test("stream-static join: dim broadcast to every micro-batch, agg converges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("enrich_batches").toString
    Seq((1L, "en", "alpha beta", "web"), (2L, "de", "gamma", "web"))
      .toDF("doc_id", "lang", "text", "source")
      .coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    // doc 5 has NULL text: size() is -1 under legacy sizeOfNull, so an
    // unclamped token count would SUBTRACT its lang weight — the
    // greatest(.., 0) clamp (streamEnrich's contract: NULL-text docs
    // contribute 0 tokens, like the oracle's NULL-skipping sum)
    Seq((3L, "en", "delta epsilon zeta", "books"),
      (4L, "xx", "unknown lang words", "web"),
      (5L, "en", null.asInstanceOf[String], "books"))
      .toDF("doc_id", "lang", "text", "source")
      .coalesce(1).write.parquet(s"$dir/f2")
    val dim = Seq(("en", 10L), ("de", 3L)).toDF("lang", "weight")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val agg = Streams.fileSource(spark, s"$dir/*", schema,
        maxFilesPerTrigger = Some(1))
      .join(broadcast(dim), Seq("lang"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(greatest(
          size(graft.text.TextAnalysis.tokensLower(col("text"))), lit(0))
          .cast("long") * coalesce(col("weight"), lit(0L)))
          .as("wt"))
    Streams.runAvailableNow(agg, "enrich_batches_test",
      outputMode = "complete")
    val got = spark.table("enrich_batches_test")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // web: docs 1 (en, 2 toks x10) + 2 (de, 1 tok x3) + 4 (xx, 3 toks
    // x0 — LEFT join keeps the unmatched lang); books: doc 3 (en,
    // 3 toks x10) + doc 5 (en, NULL text -> 0 toks, counted in n_docs
    // but adding 0, NOT -10). The dim joined in BOTH micro-batches.
    assert(got === Map("web" -> ((3L, 23L)), "books" -> ((2L, 30L))))
  }

  test("firstSeenDocs: min-id within batch, first-arrival across batches") {
    import spark.implicits._
    implicit val s = spark
    val dir = Files.createTempDirectory("firstseen_batches").toString
    // batch 1: docs 5 and 9 share text A (min id 5 must win); doc 7
    // is unique
    Seq((5L, "en", "text A"), (9L, "en", "text A"), (7L, "de", "text B"))
      .toDF("doc_id", "lang", "text").coalesce(1)
      .write.parquet(s"$dir/f1")
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    // batch 2: doc 2 repeats text A with a SMALLER id — state must
    // still drop it (first-ARRIVAL, not global min-id); doc 11 is new
    Seq((2L, "en", "text A"), (11L, "fr", "text C"))
      .toDF("doc_id", "lang", "text").coalesce(1)
      .write.parquet(s"$dir/f2")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val uniq = Streams.firstSeenDocs(Streams.fileSource(
      spark, s"$dir/*", schema, maxFilesPerTrigger = Some(1)))
    Streams.runAvailableNow(uniq.toDF(), "firstseen_batches_test")
    val got = spark.table("firstseen_batches_test")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(5L, 7L, 11L))
  }

  test("closedSessionsTws merges a cross-batch bridging event, never splits") {
    import spark.implicits._
    implicit val s = spark
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val dir = Files.createTempDirectory("sessions_bridge").toString
    // Batch 1: two provisional sessions 35m apart (gap 30m). Batch 2:
    // an above-watermark event at 02:28 lands in the FIRST session's
    // gap window and bridges both into one — emitting the first
    // session before the watermark passed end+gap would have split
    // what is semantically one session.
    Seq((7L, ts("2026-01-01 02:00:00"), 1.0),
        (7L, ts("2026-01-01 02:35:00"), 2.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/f1")
    Seq((7L, ts("2026-01-01 02:28:00"), 4.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/f2")
    Seq((8L, ts("2026-01-01 09:00:00"), 8.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/f3")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val got = Streams.runAvailableNow(
      Streams.closedSessionsTws(Streams.fileSource(spark, s"$dir/*", schema,
        maxFilesPerTrigger = Some(1))).toDF(),
      "bridge_sessions_test")
      .select("user_id", "s_start", "s_end", "n_events", "session_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    // session_window convention: s_end = last event (02:35) + gap
    assert(got === Set(
      (7L, ts("2026-01-01 02:00:00"), ts("2026-01-01 03:05:00"), 3L, 7.0)))
  }

  test("transformWithState sessionizer: timer closure + session_window convention") {
    import spark.implicits._
    implicit val s = spark
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val dir = Files.createTempDirectory("tws_sessions").toString
    // three files -> three micro-batches (maxFilesPerTrigger=1, mtime
    // order). Sessions close only when the WATERMARK passes end+gap:
    // user 1's two sessions must close via the event-time TIMER (user 1
    // has no rows after batch 1 — only user 999's batches advance the
    // watermark); 999's 05:00 session closes in the trailing no-data
    // batch; the 10:00 session stays open (never emitted)
    Seq((1L, ts("2026-01-01 00:00:00"), 1.0),
        (1L, ts("2026-01-01 00:10:00"), 2.0),
        (1L, ts("2026-01-01 01:00:00"), 4.0))
      .toDF("user_id", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((999L, ts("2026-01-01 05:00:00"), 8.0))
      .toDF("user_id", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/f2")
    Seq((999L, ts("2026-01-01 10:00:00"), 16.0))
      .toDF("user_id", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/f3")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val stream = Streams.fileSource(spark, s"$dir/*", schema,
      maxFilesPerTrigger = Some(1))
    val rows = Streams.runAvailableNow(Streams.closedSessionsTws(stream).toDF(),
      "tws_sessions_test")
      .select("user_id", "s_start", "s_end", "n_events", "session_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    val got = rows.toSet
    // session_window output convention: s_end = last event + gap
    assert(got === Set(
      (1L, ts("2026-01-01 00:00:00"), ts("2026-01-01 00:40:00"), 2L, 3.0),
      (1L, ts("2026-01-01 01:00:00"), ts("2026-01-01 01:30:00"), 1L, 4.0),
      (999L, ts("2026-01-01 05:00:00"), ts("2026-01-01 05:30:00"), 1L,
        8.0)))
    // exactly once: no closed session is emitted again by a later batch
    assert(rows.length === got.size)
  }

  test("closedSessionsTws emits each closed session exactly once") {
    import spark.implicits._
    implicit val s = spark
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val dir = Files.createTempDirectory("sessions_once").toString
    // one user, one event per micro-batch, each past the last session's
    // gap: every batch after the first brings new rows for a key whose
    // earlier session has already closed, so an operator that kept (or
    // re-derived) a closed session would emit it again. The 00:00
    // session closes once the watermark reaches 01:50, the 02:00 one in
    // the trailing no-data batch (watermark 03:50); 04:00 stays open.
    Seq((1L, ts("2026-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/f1")
    Seq((1L, ts("2026-01-01 02:00:00"), 2.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/f2")
    Seq((1L, ts("2026-01-01 04:00:00"), 4.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/f3")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val rows = Streams.runAvailableNow(
      Streams.closedSessionsTws(Streams.fileSource(spark, s"$dir/*", schema,
        maxFilesPerTrigger = Some(1))).toDF(),
      "once_sessions_test")
      .select("user_id", "s_start", "s_end", "n_events", "session_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.sortBy(_._2.getTime).toSeq === Seq(
      (1L, ts("2026-01-01 00:00:00"), ts("2026-01-01 00:30:00"), 1L, 1.0),
      (1L, ts("2026-01-01 02:00:00"), ts("2026-01-01 02:30:00"), 1L, 2.0)))
  }

  test("transformWithState sessionizer matches session_window append output") {
    implicit val s = spark
    val schema = Tables.events(spark, sfDir).schema
    val got = Streams.runAvailableNow(
      Streams.closedSessionsTws(
        Streams.fileSource(spark, landingDir, schema)).toDF(),
      "tws_parity_test")
      .select(col("user_id"), unix_micros(col("s_start")).as("a"),
        unix_micros(col("s_end")).as("b"), col("n_events"),
        round(col("session_value"), 2).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // the built-in operator, APPEND mode: same closed-only emission
    val want = Streams.runAvailableNow(
      Streams.sessionCounts(Streams.fileSource(spark, landingDir, schema)),
      "sw_append_test")
      .select(col("user_id"), unix_micros(col("s_start")).as("a"),
        unix_micros(col("s_end")).as("b"), col("n_events"),
        col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("incremental materialized aggregate: converges, idempotent on rerun") {
    import graft.stream.IncrementalView
    val schema = Tables.events(spark, sfDir).schema
    val viewDir = Files.createTempDirectory("inc_view").toString
    val ckpt = Files.createTempDirectory("inc_ckpt").toString
    def runOnce(): Unit = {
      val q = IncrementalView.groupedSumSink(
        Streams.fileSource(spark, landingDir, schema,
          maxFilesPerTrigger = Some(1)), viewDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val viewSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total",
        org.apache.spark.sql.types.DoubleType)))
    def snapshot() = IncrementalView.read(spark, viewDir, viewSchema)
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 100))
      .toMap
    val got = snapshot()
    val want = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(sum("value").as("t")).collect()
      .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 100)).toMap
    assert(got === want)
    val version = IncrementalView.latest(viewDir)
    runOnce() // same checkpoint, no new files: nothing reapplied
    assert(snapshot() === want)
    assert(IncrementalView.latest(viewDir) === version)
    // redelivery guard, exercised DIRECTLY: re-applying an old batchId
    // (the crash-between-sink-and-checkpoint case) must be a no-op —
    // the stream rerun above never reaches foreachBatch at all
    val staleBatch = Tables.events(spark, sfDir).limit(100)
    assert(!IncrementalView.applyBatch(staleBatch, batchId = 0,
      viewDir, "user_id", "value", "total"))
    assert(snapshot() === want)
    assert(IncrementalView.latest(viewDir) === version)
    // a genuinely NEW batch id applies incrementally
    val extra = IncrementalView.latest(viewDir).get._2 + 1
    assert(IncrementalView.applyBatch(staleBatch, extra,
      viewDir, "user_id", "value", "total"))
    val bumped = staleBatch.groupBy("user_id").agg(sum("value").as("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val after = snapshot()
    bumped.foreach { case (u, v) =>
      // cent-scaled compare with 1-cent tolerance (float sum order)
      assert(math.abs(after(u) - (want(u) + v * 100)) <= 1.0,
        s"user $u incremental re-merge")
    }
    // vacuum drops old snapshots but never the committed one
    IncrementalView.vacuum(viewDir, keep = 1)
    assert(snapshot() === after)
  }

  test("foreachBatch recompute sees every micro-batch (reference ST3)") {
    val schema = Tables.events(spark, sfDir).schema
    val stream = Streams.fileSource(spark, landingDir, schema,
      maxFilesPerTrigger = Some(1))
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Streams.foreachBatchRecompute(stream, (batch, _) => {
      counts += batch.count()
    }).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(counts.sum === Tables.events(spark, sfDir).count())
  }

  test("streamed session windows conserve events; bounds are gap-closed") {
    val sess = graft.queries.FuncQueries.streamSessions(spark, sfDir)
      .collect()
    assert(sess.nonEmpty)
    assert(sess.map(_.getLong(3)).sum ===
      Tables.events(spark, sfDir).count())
    // every session spans at least its own events and ends gap after
    sess.foreach { r =>
      assert(r.getLong(1) - r.getLong(0) >= 1800L * 1000000L,
        "end is last event + 30 min, so span >= gap")
    }
  }

  test("streamed hourly aggregate equals the batch plan row-for-row") {
    val streamed = graft.queries.FuncQueries.streamHourly(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.FuncQueries.eventsHourly(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** What the drains run by `body` showed a listener: the files under
    * `ckRoot` when each query started (the start event is delivered on
    * the starting thread) and the state operators' custom metric names.
    */
  private def observe(ckRoot: Option[Path] = None)(body: => Unit)
  : (Seq[Int], Set[String]) = {
    val atStart = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val metrics = java.util.concurrent.ConcurrentHashMap.newKeySet[String]
    val l = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        ckRoot.foreach(r => atStart.add(r.toFile.list().length))
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o =>
          metrics.addAll(o.customMetrics.keySet))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      body
      ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.streams.removeListener(l)
    (atStart.asScala.toSeq, metrics.asScala.toSet)
  }

  test("a drain picks the state store from its plan; others keep the session's") {
    implicit val s = spark
    val session = spark.conf.get(providerKey)
    assert(!session.contains("RocksDB"), "the suite session keeps the default store")
    val schema = Tables.events(spark, sfDir).schema
    // no provider conf on the caller's side: transformWithState refuses
    // the default store, so this drain runs only if the seam picks RocksDB
    val (_, tws) = observe() {
      Streams.runAvailableNow(Streams.closedSessionsTws(
        Streams.fileSource(spark, landingDir, schema)).toDF(), "tws_store_test")
    }
    assert(tws.exists(_.startsWith("rocksdb")), tws)
    val (_, sw) = observe() {
      Streams.runAvailableNow(Streams.sessionCounts(
        Streams.fileSource(spark, landingDir, schema)), "sw_store_test")
    }
    assert(sw.nonEmpty && !sw.exists(_.startsWith("rocksdb")), sw)
    assert(spark.conf.get(providerKey) === session)
  }

  test("a drain restores the session conf and deletes its checkpoint, on failure too") {
    implicit val s = spark
    val widthKey = "spark.sql.shuffle.partitions"
    val ckRoot = Files.createTempDirectory("drain_ck_root")
    val (priorWidth, priorRoot) =
      (spark.conf.get(widthKey), sys.props.get("graft.stream.ephemeralDir"))
    // a session width other than the drains' 4, so restoring shows
    spark.conf.set(widthKey, "7")
    sys.props("graft.stream.ephemeralDir") = ckRoot.toString
    try {
      val before = Seq(widthKey, providerKey).map(spark.conf.getOption)
      val schema = Tables.events(spark, sfDir).schema
      def sessions(events: org.apache.spark.sql.DataFrame) =
        Streams.closedSessionsTws(events).toDF()
      val (okStart, _) = observe(Some(ckRoot)) {
        Streams.runAvailableNow(
          sessions(Streams.fileSource(spark, landingDir, schema)),
          "conf_ok_test").count()
      }
      assert(Seq(widthKey, providerKey).map(spark.conf.getOption) === before)
      assert(okStart === Seq(1) && ckRoot.toFile.list().isEmpty)
      var failure: Throwable = null
      val (failStart, _) = observe(Some(ckRoot)) {
        failure = intercept[Exception](Streams.runAvailableNow(
          sessions(Streams.fileSource(spark, landingDir, schema).withColumn(
            "value", expr("cast(raise_error('injected drain failure') as double)"))),
          "conf_fail_test"))
      }
      def msgs(t: Throwable): List[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) :: msgs(t.getCause)
      assert(msgs(failure).exists(_.contains("injected drain failure")), failure)
      assert(Seq(widthKey, providerKey).map(spark.conf.getOption) === before)
      assert(failStart === Seq(1), "the failing drain made its checkpoint")
      assert(ckRoot.toFile.list().isEmpty, "the failing drain's checkpoint is gone")
    } finally {
      spark.conf.set(widthKey, priorWidth)
      ckRoot.toFile.delete()
      priorRoot.fold(sys.props.remove("graft.stream.ephemeralDir"))(
        sys.props.put("graft.stream.ephemeralDir", _))
    }
  }

  test("releaseOwned drops a drain's view and landing, not the caller's view") {
    val schema = Tables.events(spark, sfDir).schema
    def events() = Streams.fileSource(spark, landingDir, schema).select("event_id")
    Streams.runAvailableNow(events(), "owned_view_test")
    val landed = Streams.runAvailableNow(events(), "owned_landing_test",
      format = "parquet")
    val landing = Paths.get(
      new org.apache.hadoop.fs.Path(Streams.landing(landed)).toUri.getPath)
    assert(landed.count() === Tables.events(spark, sfDir).count())
    spark.range(3).createOrReplaceTempView("callers_view")
    try {
      assert(spark.catalog.tableExists("owned_view_test"))
      assert(Files.isDirectory(landing))
      Materialize.releaseOwned(spark)
      assert(!spark.catalog.tableExists("owned_view_test"))
      assert(!Files.exists(landing))
      assert(spark.table("callers_view").count() === 3)
    } finally spark.catalog.dropTempView("callers_view")
  }

  test("src/main starts stream queries in one place, which alone picks the state store") {
    def starts(code: String) = code.split(java.util.regex.Pattern.quote(".start()"), -1).length - 1
    assert(SourceGuard.mainSources.collect {
      case (f, code) if starts(code) > 0 => f -> starts(code)
    } === Seq("graft/stream/Streams.scala" -> 1))
    assert(SourceGuard.mainFilesCalling("stateStore.providerClass") ===
      Seq("graft/stream/Streams.scala"))
  }
}
