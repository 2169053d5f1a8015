package graft

import graft.io.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loader policy gate for the `ts` column (VERDICT r4 item 2): the
  * driver has shipped `events.parquet` with a different physical
  * encoding in consecutive rounds — TIMESTAMP(NANOS) (rounds 1–3),
  * then naive `timestamp[us]`/NTZ (round 4) — and each re-encoding
  * broke the previous round's loader. This spec pins the policy:
  * [[Tables.events]] must normalize by TYPE, yielding TIMESTAMP with
  * identical instants for every encoding ever observed (plus plain
  * LONG µs for completeness).
  *
  * Fixtures (committed, pyarrow-written, same 4 logical rows each):
  * `src/test/resources/tsenc/{ltz,ntz,long_us,long_ns}/events.parquet`
  *  - ltz:     timestamp[us] isAdjustedToUTC=true  → TIMESTAMP
  *  - ntz:     timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ
  *             (round-4 testdata encoding)
  *  - long_us: plain int64 epoch-micros
  *  - long_ns: TIMESTAMP(NANOS) → LONG under `nanosAsLong`
  *             (round-1..3 testdata encoding)
  *
  * `tsenc/long_ns_early/events.parquet` is TIMESTAMP(NANOS) too, but
  * holds 1969–1972 instants, below the 1e17 ns magnitude cutoff; it
  * is not one of the four same-row encodings.
  */
class TsEncodingSpec extends SparkSpec {
  private val dir = "src/test/resources/tsenc"
  private val encs = Seq("ltz", "ntz", "long_us", "long_ns")

  private def instants(enc: String): Seq[Long] =
    Tables.events(spark, s"$dir/$enc")
      .orderBy("ts", "event_type")
      .select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq

  test("every ts encoding loads as TIMESTAMP") {
    encs.foreach { e =>
      val dt = Tables.events(spark, s"$dir/$e").schema("ts").dataType
      assert(dt == TimestampType, s"enc=$e surfaced $dt")
    }
  }

  test("all encodings decode to identical instants (µs-exact)") {
    val ref = instants("ltz")
    // micro-precision guard: two fixture rows differ by exactly 1 µs,
    // so a millis-rounding loader would collapse them.
    assert(ref.distinct.size == ref.size)
    encs.tail.foreach(e => assert(instants(e) == ref, s"enc=$e"))
  }

  test("CANARY: live testdata events.ts loads as TIMESTAMP " +
      "(fails here first if the driver re-encodes ts again)") {
    val dt = graft.io.Tables.events(spark, sfDir).schema("ts").dataType
    assert(dt == TimestampType,
      s"testdata events.ts surfaced as $dt — a NEW encoding; extend " +
        "the tsenc fixtures and Tables.normalizeTs (BASELINE.md §7)")
  }

  test("footer probe identifies TIMESTAMP(NANOS) per COLUMN (not per row)") {
    // long_ns is a genuine TIMESTAMP(NANOS)-annotated file; long_us is
    // plain int64 with no timestamp annotation. The probe is the
    // authoritative discriminator, so an annotated nanos file is safe
    // even for pre-1973 instants where the magnitude heuristic fails.
    assert(Tables.parquetTsNanos(spark, s"$dir/long_ns/events.parquet", "ts"))
    assert(!Tables.parquetTsNanos(spark, s"$dir/long_us/events.parquet", "ts"))
    assert(!Tables.parquetTsNanos(spark, s"$dir/ltz/events.parquet", "ts"))
    // missing column / missing path degrade to false, never throw
    assert(!Tables.parquetTsNanos(spark, s"$dir/long_ns/events.parquet", "nope"))
    assert(!Tables.parquetTsNanos(spark, s"$dir/does_not_exist", "ts"))
  }

  test("footer probe fails LOUDLY on a mixed-encoding directory") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // the driver's own history (three ts encodings in seven rounds) is
    // why "one writer per dataset" can't be assumed: a directory
    // holding one TIMESTAMP(NANOS) file and one plain-int64 file both
    // surfaces LONG, and either single hint corrupts the other file's
    // instants ×1000 — that must throw, never silently normalize
    val mixed = tempDir("tsenc_mixed")
    for ((enc, out) <- Seq("long_ns" -> "part-0001.parquet",
        "long_us" -> "part-0002.parquet"))
      Files.copy(Paths.get(s"$dir/$enc/events.parquet"),
        mixed.resolve(out), StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalStateException](
      Tables.parquetTsNanos(spark, mixed.toString, "ts"))
    assert(e.getMessage.contains("mixed parquet ts encodings"))
    assert(e.getMessage.contains("part-0001.parquet"))
    // files LACKING the column abstain (schema evolution adds NULL
    // rows, which need no hint) — nanos verdict survives alongside
    val withAbsent = tempDir("tsenc_absent")
    Files.copy(Paths.get(s"$dir/long_ns/events.parquet"),
      withAbsent.resolve("part-0001.parquet"))
    import spark.implicits._
    val tmp = tempDir("tsenc_nots").toString + "/t"
    Seq(("x", 1L)).toDF("event_type", "other").coalesce(1).write.parquet(tmp)
    val dataFile = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    Files.copy(dataFile.toPath, withAbsent.resolve("part-0002.parquet"))
    assert(Tables.parquetTsNanos(spark, withAbsent.toString, "ts"))
  }

  test("hinted nanos path floor-divides (pre-epoch instants stay exact)") {
    import spark.implicits._
    // -1 ns is 1969-12-31T23:59:59.999999999 → floor to …999999 µs
    // (truncation toward zero would yield 0 µs = the epoch, 1 µs late);
    // also a pre-1973 positive instant the magnitude heuristic misreads.
    val df = Seq(-1L, -1001L, 1000L, 86400L * 1000000000L)
      .toDF("ts") // 1970-01-02 in ns is far below the 1e17 cutoff
    val out = Tables.normalizeTs(df, "ts", nanosHint = Some(true))
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(out == Seq(-1L, -2L, 1L, 86400L * 1000000L))
    // the unhinted heuristic would misread the small ns values as µs
    val heur = Tables.normalizeTs(df, "ts")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(heur != out, "heuristic hole closed? update the scaladoc")
  }

  test("batch and drained-stream reads of early TIMESTAMP(NANOS) instants agree") {
    import spark.implicits._
    // |ns| < 1e17: the magnitude fallback would read these as µs, so
    // both paths must take the footer hint
    val d = s"$dir/long_ns_early"
    val want = Seq(-1L, 1L, 97445123456L, 45835200000001L, 94694399999999L)
    val batch = Tables.events(spark, d).select(unix_micros(col("ts")))
      .as[Long].collect().toSeq.sorted
    val drained = graft.stream.Streams.runAvailableNow(
      Tables.stream(spark, d, "events").select("ts"), "ts_early_test")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
    assert(batch === want)
    assert(drained === batch)
  }

  test("NTZ normalizes identically whether inference is on or off") {
    // Every graft session pins inferTimestampNTZ=false, so ts arrives
    // TIMESTAMP directly; Spark's default (on) arrives NTZ and takes
    // the cast branch. Same instants either way.
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val pinned = spark.conf.get(key)
    assert(pinned === "false")
    def rawTs = spark.read.parquet(s"$dir/ntz/events.parquet").schema("ts").dataType
    assert(rawTs === TimestampType)
    val offPath = instants("ntz")
    spark.conf.set(key, "true")
    try {
      assert(rawTs === TimestampNTZType)
      assert(Tables.events(spark, s"$dir/ntz").schema("ts").dataType === TimestampType)
      assert(instants("ntz") === offPath)
    } finally spark.conf.set(key, pinned)
  }
}
