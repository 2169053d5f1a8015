package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained materialized aggregate: a `foreachBatch`
  * sink that keeps a parquet-backed grouped-sum table up to date as
  * micro-batches arrive, without ever recomputing history.
  *
  * Storage layout — the minimal snapshot-isolation scheme the big
  * table formats use:
  *  - each applied batch writes a FULL new snapshot `v<batchId>/`
  *    (merge of previous snapshot + the batch's partial aggregate:
  *    sum is mergeable, so this is one keyed union-aggregate, cost
  *    proportional to |keys| not history length);
  *  - `_latest` is a tiny pointer file, rewritten LAST — readers
  *    resolve it and only ever see a fully-written snapshot;
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

  private def pointerPath(dir: String) = Paths.get(dir, "_latest")

  /** (version, batchId) from the pointer, if any snapshot committed. */
  def latest(dir: String): Option[(String, Long)] = {
    val p = pointerPath(dir)
    if (!Files.exists(p)) None
    else {
      val Array(v, b) = new String(Files.readAllBytes(p),
        StandardCharsets.UTF_8).trim.split(":")
      Some((v, b.toLong))
    }
  }

  /** Current materialized table; an empty frame with `schema` (the
    * merged-table schema, derived by the caller from its aggregate —
    * never hardcoded) when nothing has committed yet.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    latest(dir) match {
      case Some((v, _)) => spark.read.parquet(s"$dir/$v")
      case None =>
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }

  /** Apply ONE micro-batch to the materialized table — the unit the
    * sink delegates to, public so the idempotence guard is directly
    * testable. Returns true when applied, false when skipped as
    * already-applied (redelivery).
    */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
                 keyCol: String, valueCol: String, aggCol: String): Boolean = {
    val at = latest(dir)
    if (at.exists(_._2 >= batchId)) false
    else {
      val spark = batch.sparkSession
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
      // write-to-temp + ATOMIC_MOVE, because an in-place truncate-
      // then-write leaves a window where a concurrent latest() reads
      // an empty/partial pointer and crashes parsing it.
      Files.createDirectories(Paths.get(dir))
      val tmp = Paths.get(dir, "._latest.tmp")
      Files.write(tmp, s"$v:$batchId".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, pointerPath(dir),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      true
    }
  }

  /** Delete snapshots older than the `keep` most recent (the committed
    * pointer target is always retained). Run on a lag so concurrent
    * readers resolving an older pointer finish first — same contract
    * as table-format VACUUM.
    */
  def vacuum(dir: String, keep: Int = 2): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      val keepSet = latest(dir).map(_._1).toSet
      d.toFile.listFiles().toSeq.filter(_.getName.startsWith("v"))
        .sortBy(_.getName.drop(1).toLong)
        .dropRight(keep)
        .filterNot(f => keepSet(f.getName))
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
  }

  /** Attach the incremental grouped-sum sink to `stream`. The
    * maintained table is `keyCol, aggCol` = running sum of `valueCol`
    * per key.
    */
  def groupedSumSink(stream: DataFrame, dir: String,
                     keyCol: String = "user_id",
                     valueCol: String = "value",
                     aggCol: String = "total")
  : DataStreamWriter[Row] =
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dir, keyCol, valueCol, aggCol)
        ()
    }
}
