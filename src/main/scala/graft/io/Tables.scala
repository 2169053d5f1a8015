package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish testdata tables.
  *
  * One parquet file per table under `sfDir` (see TESTDATA.md). All query
  * entry points take `sfDir` so the same plan runs at any scale factor —
  * the parquet scans are the leaves Catalyst pushes filters/projections
  * into, so nothing here should materialize or cache eagerly.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Normalize an event-time column to TIMESTAMP (instant / LTZ)
    * regardless of how the source parquet encoded it. The driver has
    * regenerated `events.parquet` with a different `ts` physical
    * encoding in two consecutive rounds — TIMESTAMP(NANOS) (Spark 4
    * surfaces it as LONG under `nanosAsLong`), then naive
    * `timestamp[us]` (surfaced as TIMESTAMP_NTZ when
    * `inferTimestampNTZ` is on) — so the loader normalizes by TYPE,
    * not by provenance. Policy (per encoding actually observed):
    *
    *  - TIMESTAMP: already an instant — pass through.
    *  - TIMESTAMP_NTZ: naive wall-clock whose writer meant UTC; the
    *    cast reinterprets it in the session zone, and every
    *    [[graft.GraftSession]] pins `spark.sql.session.timeZone=UTC`,
    *    so this is a pure relabeling (DuckDB reads the same file as
    *    naive-UTC → oracle hashes unaffected).
    *  - LONG: an epoch count, nanos or micros. Discriminated per
    *    COLUMN when the caller supplies `nanosHint` (from the parquet
    *    footer's logical-type annotation — see [[parquetTsNanos]]);
    *    otherwise per row by magnitude with INTEGER division (`div`,
    *    not `/`: a double round-trip at 1.7e18 ns loses sub-ms
    *    precision, 2^53 < ns epoch). The 1e17 threshold reads as year
    *    5138 in µs and 1973 in ns — unambiguous for any plausible
    *    event time, but note the hole: a NANOS instant before
    *    ~1973-03 (|ns| < 1e17) would be misread as micros by the
    *    magnitude fallback, which is why an annotated file should
    *    always go through the hint path. The ns→µs rebuild uses FLOOR
    *    division (`x − pmod(x, 1000)` is the largest µs multiple
    *    ≤ x even for negative pre-epoch nanos; a bare `div` truncates
    *    toward zero and would shift pre-1970 instants forward 1 µs).
    */
  def normalizeTs(df: DataFrame, c: String = "ts",
                  nanosHint: Option[Boolean] = None): DataFrame =
    if (!df.schema.fieldNames.contains(c)) df
    else df.schema(c).dataType match {
      case TimestampType    => df
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case LongType =>
        val nsToMicros = expr(s"timestamp_micros(($c - pmod($c, 1000)) div 1000)")
        val usAsIs = expr(s"timestamp_micros($c)")
        df.withColumn(c, nanosHint match {
          case Some(true)  => nsToMicros
          case Some(false) => usAsIs
          case None =>
            when(abs(col(c)) > lit(100000000000000000L), nsToMicros)
              .otherwise(usAsIs)
        })
      case _ => df
    }

  /** True when parquet column `c` at `path` (a file, or a directory —
    * EVERY data file's footer is probed) is annotated
    * TIMESTAMP(NANOS). This is the authoritative per-column
    * discriminator for LONG-surfaced ts columns under `nanosAsLong`:
    * a plain int64 epoch column carries no timestamp annotation and
    * falls back to [[normalizeTs]]'s magnitude heuristic.
    *
    * MIXED directories fail LOUDLY (r8, VERDICT fix): one hint cannot
    * serve files that disagree — a NANOS-annotated file next to an
    * unannotated int64 file both surface as LONG, and whichever hint
    * wins silently corrupts the other file's instants by ×1000. The
    * old head-file probe assumed one writer per dataset; the driver's
    * own regeneration history (BASELINE.md §7 — three ts encodings in
    * seven rounds) is the proof that assumption doesn't hold across
    * rewrites. Files lacking the column abstain (schema evolution —
    * NULL rows need no hint). Footer-only reads, no data pages; a
    * directory large enough for this driver-side loop to matter
    * (≫10⁴ files) would distribute the probe as a binaryFile map
    * over footers, same verdict logic.
    *
    * Missing path / missing column / unreadable footers degrade to
    * `false` (the safe magnitude-heuristic fallback); only genuine
    * DISAGREEMENT throws.
    */
  def parquetTsNanos(s: SparkSession, path: String, c: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val votes: Seq[(String, Boolean)] =
      try {
        val conf = s.sessionState.newHadoopConf()
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        val files =
          if (fs.getFileStatus(p).isFile) Seq(p)
          else fs.listStatus(p).toSeq.map(_.getPath)
            .filter(q => q.getName.endsWith(".parquet") &&
              !q.getName.startsWith("_") && !q.getName.startsWith("."))
            .sortBy(_.getName.toString)
        // per-FILE catch: one unreadable footer must abstain, not
        // discard the other files' votes — otherwise a single corrupt
        // part silently bypasses both a confirmed NANOS verdict and
        // the mixed-encoding loud failure this probe exists to raise.
        files.flatMap { f =>
          try {
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
            try {
              val schema = r.getFooter.getFileMetaData.getSchema
              if (!schema.containsField(c)) None // abstain: no column
              else Some(f.getName -> (schema.getType(Seq(c): _*)
                .getLogicalTypeAnnotation match {
                  case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit ==
                      org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
                  case _ => false
                }))
            } finally r.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val distinct = votes.map(_._2).distinct
    if (distinct.size > 1)
      throw new IllegalStateException(
        s"mixed parquet ts encodings under $path for column '$c': " +
          votes.map { case (n, v) =>
            s"$n=${if (v) "TIMESTAMP(NANOS)" else "non-nanos"}" }
            .mkString(", ") +
          " - one ns/us hint cannot serve both; rewrite the directory " +
          "with a single encoding (or split it) before loading")
    distinct.headOption.getOrElse(false)
  }

  /** events.parquet, with `ts` normalized to TIMESTAMP (see
    * [[normalizeTs]] for the encoding history).
    */
  def events(s: SparkSession, d: String): DataFrame =
    read(s, d, "events", streaming = false)

  /** Streaming read of table `name`, `ts` normalized exactly as
    * [[events]] does (`withWatermark` requires TIMESTAMP). The file
    * streaming source lists DIRECTORIES: when the table is a single
    * parquet file, stream its parent filtered down to that file.
    */
  def stream(s: SparkSession, d: String, name: String): DataFrame =
    read(s, d, name, streaming = true)

  /** The one read path of [[events]] and [[stream]].
    *
    * `nanosAsLong` SESSION-WIDE EFFECT, by necessity: the conf is
    * re-read from the session at scan EXECUTION time (ParquetFileFormat
    * bakes it into the hadoop conf when the RDD is built), so a
    * set/restore scoped to this method would break the later action,
    * and ParquetOptions exposes no per-read equivalent (verified
    * against the 4.1.2 jars). The flag only changes how
    * TIMESTAMP(NANOS) columns surface (as LONG); without it a nanos
    * file fails the read outright — blast radius is "reads that would
    * have thrown now yield LONG", which [[normalizeTs]] then repairs.
    */
  private def read(s: SparkSession, d: String, name: String,
                   streaming: Boolean): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/$name.parquet"
    val batch = s.read.parquet(path)
    val df =
      if (!streaming) batch
      else if (new java.io.File(path).isFile)
        s.readStream.schema(batch.schema)
          .option("pathGlobFilter", s"$name.parquet").parquet(d)
      else s.readStream.schema(batch.schema).parquet(path)
    // per-COLUMN ns/µs discrimination from the footer annotation when
    // the column surfaced as LONG; plain-int64 files keep the per-row
    // magnitude fallback inside normalizeTs
    val hint = df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) if parquetTsNanos(s, path, "ts") => Some(true)
      case _ => None
    }
    normalizeTs(df, "ts", hint)
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
