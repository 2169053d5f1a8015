package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics index for data skipping — the
  * lakehouse-table trick (Delta/Iceberg file stats) expressed over plain
  * parquet directories.
  *
  * Parquet already skips ROW GROUPS via footer stats, but at 100 TB a
  * table is ~10⁵–10⁶ files and the scan must still OPEN every footer
  * (one round trip per file on object storage) before it can skip
  * anything. A one-row-per-file min/max index collapses that to a
  * single small metadata-table scan: files whose [min,max] envelope
  * cannot intersect the predicate are dropped before the read is even
  * planned, and the surviving files still get the normal pushed-down
  * row-group skipping.
  *
  * The index is built with one column-pruned pass over the data
  * (`_metadata.file_path` + the indexed columns only) and is itself a
  * DataFrame — persist it next to the table and rebuild incrementally
  * for new files ([[graft.dedup.Dedup.exactIncremental]] shape).
  * Pruning reads the index and materializes the candidate FILE LIST on
  * the driver: that is metadata-plane work (≤1 row per file, the same
  * scale as the file listing Spark's own FileIndex already collects) —
  * never data-plane rows.
  */
object StatsIndex {

  /** One pass over `dir`: per-file row count + min/max for each of
    * `cols`. Column-pruned scan (only the indexed columns are read);
    * one shuffle keyed by file path.
    */
  def build(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "index at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    scan(spark, dir)
      .select(col("_metadata.file_path").as("file_path") +: cols.map(col): _*)
      .groupBy("file_path")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Incremental maintenance: index ONLY files not yet in `existing`
    * and union with it. Below `isinMaxKnown` known files, the new-file
    * predicate is an `isin` on `_metadata.file_path`, which Spark
    * applies at file-listing time (metadata filters prune whole files
    * before any footer/data read — SPARK-37768), so maintenance costs
    * one scan of the NEW files only. Beyond that, a million-literal
    * `In` blows up Catalyst planning (constant-pool/codegen limits,
    * driver memory) — the fallback is a left-anti join against the
    * known set: planning stays O(1) in index size, but the anti-join
    * is applied AFTER the scan (not at file-listing time), so Spark
    * re-reads the data rows of every already-indexed file and drops
    * them post-scan — a full re-read of the directory, losing the
    * isin path's whole-file pruning. At the scale where that bites,
    * the structural answer is a transaction-log table format, not a
    * bigger filter.
    */
  def update(spark: SparkSession, dir: String, existing: DataFrame,
             cols: Seq[String], isinMaxKnown: Int = 10000): DataFrame = {
    // Probe the index size with a LIMIT-bounded count before deciding
    // the path: the driver never materializes more than isinMaxKnown+1
    // paths, so a million-file catalog costs a distributed count plus
    // the anti-join — no unbounded driver array in the maintenance path.
    val nKnown =
      existing.select("file_path").limit(isinMaxKnown + 1).count()
    val all = scan(spark, dir)
    val newOnly =
      if (nKnown <= isinMaxKnown) {
        val known =
          existing.select("file_path").collect().map(_.getString(0))
        all.where(!col("_metadata.file_path").isin(known.toIndexedSeq: _*))
      } else
        all.join(existing.select(col("file_path").as("__known")),
          col("_metadata.file_path") === col("__known"), "left_anti")
    val fresh = newOnly
      .select(col("_metadata.file_path").as("file_path") +: cols.map(col): _*)
      .groupBy("file_path")
      .agg(count(lit(1)).as("n_rows"), cols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
    existing.unionByName(fresh)
  }

  /** Files whose [min_c, max_c] envelope intersects [lo, hi]. A file of
    * all-null `c` has a null envelope and is (correctly) skipped — null
    * never satisfies a range predicate.
    */
  def candidateFiles(stats: DataFrame, c: String,
                     lo: Column, hi: Column): Array[String] =
    stats.where(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select("file_path").collect().map(_.getString(0)).sorted

  /** Range scan with file-level skipping: read ONLY the candidate files,
    * then apply the exact predicate (still pushed into the parquet scan
    * for row-group skipping within the survivors). Result is identical
    * to `spark.read.parquet(dir).where(c between lo and hi)`.
    */
  def prunedRead(spark: SparkSession, dir: String, stats: DataFrame,
                 c: String, lo: Column, hi: Column): DataFrame = {
    val files = candidateFiles(stats, c, lo, hi)
    val base =
      if (files.isEmpty)
        // keep the schema without reading data: plan the full scan but
        // refuse every row (Catalyst folds this to an empty relation)
        scan(spark, dir).where(lit(false))
      else spark.read.schema(Tables.schema(spark, dir)).parquet(files: _*)
    base.where(col(c).between(lo, hi))
  }

  /** `dir` read with the schema [[Tables]] resolved for its snapshot:
    * no inference job once the snapshot is known to the session.
    */
  private def scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Tables.schema(spark, dir)).parquet(dir)
}
