package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Publish

/** Incrementally-maintained materialized aggregate: [[applyBatch]],
  * called per micro-batch from a `foreachBatch` sink, keeps a
  * parquet-backed grouped-sum table up to date as micro-batches
  * arrive, without ever recomputing history.
  *
  * Storage layout — the minimal snapshot-isolation scheme the big
  * table formats use:
  *  - each applied batch writes a FULL new snapshot `v<batchId>/`
  *    (merge of previous snapshot + the batch's partial aggregate:
  *    sum is mergeable, so this is one keyed union-aggregate, cost
  *    proportional to |keys| not history length);
  *  - `_latest` is a tiny pointer file, rewritten LAST — readers
  *    resolve it and only ever see a fully-written snapshot;
  *  - snapshots, pointer and [[vacuum]] all go through the dir's Hadoop
  *    `FileSystem`, so a `file:`, `hdfs:` or `s3a:` dir holds all three;
  *  - the pointer records the batchId, so a REDELIVERED batch (the
  *    at-least-once case after a crash between sink commit and
  *    checkpoint commit) is recognized and skipped — this is the
  *    idempotence contract `foreachBatch` requires but does not
  *    provide (exactly-once = at-least-once delivery + idempotent
  *    apply).
  *
  * At 100 TB the same scheme holds with two refinements the layout
  * already permits: partition the snapshot by a key range so a batch
  * rewrites only touched partitions, and [[vacuum]] old versions on a
  * lag.
  */
object IncrementalView {

  private def pointer(dir: String) = new Path(dir, "_latest")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, batchId) from the pointer, if any snapshot committed. */
  def latest(spark: SparkSession, dir: String): Option[(String, Long)] = {
    val p = pointer(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val Array(v, b) = Publish.readString(fs, p).trim.split(":")
      Some((v, b.toLong))
    }
  }

  /** Current materialized table; an empty frame with `schema` (the
    * merged-table schema, derived by the caller from its aggregate —
    * never hardcoded) when nothing has committed yet.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    latest(spark, dir) match {
      case Some((v, _)) => spark.read.parquet(s"$dir/$v")
      case None =>
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }

  /** Apply ONE micro-batch to the materialized table — what a
    * `foreachBatch` sink calls per batch, e.g.
    * `Streams.foreachBatchRecompute(stream, applyBatch(_, _, dir, "user_id", "value", "total"))`.
    * Returns true when applied, false when skipped as already-applied
    * (redelivery).
    */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
                 keyCol: String, valueCol: String, aggCol: String): Boolean = {
    val spark = batch.sparkSession
    val at = latest(spark, dir)
    if (at.exists(_._2 >= batchId)) false
    else {
      val partial = batch.groupBy(col(keyCol))
        .agg(sum(col(valueCol)).as(aggCol))
      // every snapshot is written with the partial's schema (a decimal
      // total keeps one `sum` widening, not one per batch), so the
      // previous one is read with it: no inference job
      val prev = at.fold(read(spark, dir, partial.schema)) { case (v, _) =>
        spark.read.schema(partial.schema).parquet(s"$dir/$v") }
      val merged = prev.unionByName(partial)
        .groupBy(col(keyCol))
        .agg(sum(col(aggCol)).cast(partial.schema(aggCol).dataType).as(aggCol))
      val v = s"v$batchId"
      merged.write.mode("overwrite").parquet(s"$dir/$v")
      // pointer swap LAST — readers never see a partial snapshot. The
      // pointer itself gets the same protection as the snapshot:
      // write-to-temp + rename, because an in-place truncate-then-write
      // leaves a window where a concurrent latest() reads an
      // empty/partial pointer and crashes parsing it.
      val p = pointer(dir)
      Publish.writeString(fsOf(spark, p), p, s"$v:$batchId")
      true
    }
  }

  /** Delete snapshots older than the `keep` most recent (the committed
    * pointer target is always retained). Run on a lag so concurrent
    * readers resolving an older pointer finish first — same contract
    * as table-format VACUUM.
    */
  def vacuum(spark: SparkSession, dir: String, keep: Int = 2): Unit = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    if (fs.exists(d)) {
      val keepSet = latest(spark, dir).map(_._1).toSet
      fs.listStatus(d).toSeq.map(_.getPath).filter(_.getName.startsWith("v"))
        .sortBy(_.getName.drop(1).toLong)
        .dropRight(keep)
        .filterNot(p => keepSet(p.getName))
        .foreach(fs.delete(_, true))
    }
  }
}
