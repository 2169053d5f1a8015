package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest layer: schema-first readers for the two source formats the
  * reference pipeline consumes (SURVEY.md §2.1 S1/S2).
  *
  * Reference semantics reproduced here:
  *  - BLS flat files are tab-separated with whitespace-padded headers AND
  *    cells (reference `report_processor.py:142-147` strips both). We strip
  *    header padding at read time by renaming, and expose [[cleanStrings]]
  *    for cell padding.
  *  - Numeric coercion is null-on-error (`pd.to_numeric(errors='coerce')`,
  *    reference notebook cell[8]) → `try_cast`, which is ANSI-safe.
  *  - The DataUSA JSON payload is a whole-document envelope
  *    `{"data": [...records...]}`; only the `data` array becomes rows
  *    (reference `report_processor.py:41`).
  *
  * Scale note: both readers stay fully declarative — explicit schemas mean
  * no inference pass over the data, and the TSV reader's per-file work is
  * embarrassingly parallel across input splits.
  */
object Readers {

  /** Raw BLS time-series schema. All strings at the edge: the reference
    * coerces `value` to float AFTER load, null-on-error, and we mirror that
    * two-phase shape so bad cells null out instead of failing the scan.
    */
  val blsRawSchema: StructType = StructType(Seq(
    StructField("series_id", StringType),
    StructField("year", StringType),
    StructField("period", StringType),
    StructField("value", StringType),
    StructField("footnote_codes", StringType)
  ))

  /** Read a BLS `pr.data.*` tab-separated file. Header row is present but
    * padded; we read header=true only to skip it, binding columns by
    * position against [[blsRawSchema]] (the reference binds by stripped
    * name, which is positionally identical).
    */
  def readBlsTsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .schema(blsRawSchema)
      .csv(path)

  /** Trim every StringType column (reference strips all object columns,
    * `report_processor.py:142-147`). Non-string columns pass through.
    */
  def cleanStrings(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == StringType => trim(col(f.name)).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** BLS clean pass: strip string padding, coerce year→int and
    * value→double null-on-error. Pure `DataFrame => DataFrame`, applied
    * lazily so every report re-derives from the immutable source plan.
    */
  def cleanBls(df: DataFrame): DataFrame =
    cleanStrings(df)
      .withColumn("year", expr("try_cast(year AS INT)"))
      .withColumn("value", expr("try_cast(value AS DOUBLE)"))

  /** Read a whole-document JSON envelope `{"data": [ {...}, ... ]}` and
    * project the record array to rows (SURVEY.md S2). `multiLine=true`
    * because the payload is one pretty-printed document, not JSONL.
    */
  def readJsonEnvelope(spark: SparkSession, path: String): DataFrame =
    unwrapEnvelope(spark.read.option("multiLine", "true").json(path))

  /** Same envelope unwrap over an in-memory payload string (the REST-API
    * source S5: fetch happens driver-side, parse happens in-plan).
    */
  def jsonEnvelopeFromString(spark: SparkSession, payload: String): DataFrame = {
    import spark.implicits._
    unwrapEnvelope(spark.read.option("multiLine", "true")
      .json(Seq(payload).toDS()))
  }

  private def unwrapEnvelope(doc: DataFrame): DataFrame =
    doc.select(explode(col("data")).as("r")).select("r.*")

  /** Line-delimited JSON with RECORD-level null-on-error: PERMISSIVE
    * mode parks unparseable lines in `_corrupt_record` (schema fields
    * null) instead of failing the scan (FAILFAST) or silently dropping
    * them (DROPMALFORMED) — the record-level analog of the cell-level
    * `try_cast` policy, and the shape a 100 TB ingest needs: one bad
    * line must neither kill a 10-hour job nor vanish unaudited.
    * Callers route `_corrupt_record IS NOT NULL` rows to a quarantine
    * sink and drop the column on the clean path.
    */
  def readJsonlTolerant(spark: SparkSession, path: String,
                        schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Fuzzy column resolution, mirroring the reference's case-insensitive
    * substring detection of the Year/Population columns
    * (`report_processor.py:84-93`). Reference iterates all columns and the
    * LAST match wins; reproduced exactly.
    */
  def findColumn(df: DataFrame, needle: String): Option[String] =
    df.columns.filter(_.toLowerCase.contains(needle.toLowerCase)).lastOption
}
