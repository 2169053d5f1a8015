package graft.io

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-shuffled) table layout for co-located joins.
  *
  * The reference joins its fact table to the population dimension once per
  * report run (`report_processor.py:235-238`); at 100 TB the analogous join
  * keyed on a high-cardinality column is re-run constantly (daily reports
  * over the same fact table), and paying a full shuffle of the fact side on
  * EVERY run is the single biggest avoidable cost. Bucketing amortizes that
  * shuffle into the write: `bucketBy(n, key)` hash-partitions rows into a
  * fixed number of buckets at save time, and Spark's scan then reports
  * `HashPartitioning(key, n)` as its output partitioning, so a sort-merge
  * join between two tables bucketed on the same key with the same bucket
  * count plans with NO Exchange on either side (and with `sortBy` at write
  * time, no Sort either). The shuffle happens once, at layout time, instead
  * of once per query.
  *
  * Scale notes:
  *  - bucket count is the parallelism floor for scans of the table; at
  *    100 TB pick buckets so each bucket file group is a few hundred MB
  *    (e.g. 4096), not the 8 used in local tests.
  *  - one task writes one bucket per input partition; to avoid a
  *    small-files explosion, repartition by the bucket key before the
  *    bucketed write (done below) so each bucket is written by one task.
  *  - Spark's bucketing requires a catalog table (`saveAsTable`) — the
  *    bucket spec lives in the table metadata, not the files. We create a
  *    dedicated database with an explicit LOCATION so nothing touches the
  *    default warehouse.
  *
  * Lifetime: graft's own layouts ([[layout]]) live in database
  * `graft_bkt`, whose files sit in `graft_bkt_wh` under the context's
  * driver temp dir (`SparkFiles.getRootDirectory()`). `SparkEnv.stop`
  * deletes that directory, so the files die with the context whose
  * in-memory catalog names them: at `spark.stop()`, or at the JVM's
  * shutdown hook. Like any local path it assumes executors share the
  * driver's filesystem (local mode).
  */
object Bucketing {

  /** Create (idempotently) a database whose files live under `location`.
    *
    * If the catalog does NOT know the database but its location survives
    * on disk (a previous process died between write and drop), the stale
    * files are removed first — `saveAsTable` refuses to create a managed
    * table over a non-empty location, and the catalog is the source of
    * truth here, not the filesystem.
    */
  def ensureDatabase(spark: SparkSession, db: String, location: String): Unit = {
    if (!spark.catalog.databaseExists(db)) {
      // Hadoop FS, not java.nio: the location may be hdfs://, s3a://,
      // etc., where a local-path existence probe silently no-ops and
      // the stale files then fail the saveAsTable this cleanup exists
      // to protect (same per-scheme resolution as Sinks/SyncJob).
      val p = new org.apache.hadoop.fs.Path(location)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS $db LOCATION '${location.replace("'", "''")}'")
  }

  /** `df` laid out as a table bucketed and sorted by `key` in graft's
    * own database, and that table's name: written once per snapshot
    * tag of `source` ([[graft.ops.Materialize.sessionMemo]]), so each
    * query after the first pays only the exchange-free read. A changed
    * source drops the superseded table, files included. The tag is in
    * the table name, so sessions that share a context (and so its
    * catalog) share the layout and never rewrite it. `buckets` is part
    * of the layout's identity: a reader co-partitioned at another width
    * gets a layout of its own.
    */
  def layout(s: SparkSession, name: String, source: String, key: String,
             buckets: Int)(df: => DataFrame): String =
    graft.ops.Materialize.sessionMemo[String](s, s"${name}_$buckets",
        source, t => s.sql(s"DROP TABLE IF EXISTS $t")) { tag =>
      ensureDatabase(s, "graft_bkt", new java.io.File(
        org.apache.spark.SparkFiles.getRootDirectory(), "graft_bkt_wh").getPath)
      val table = s"graft_bkt.${name}_${buckets}_$tag"
      if (!s.catalog.tableExists(table)) writeBucketed(df, table, key, buckets)
      table
    }

  /** Write `df` as a managed parquet table bucketed AND sorted by `key`.
    *
    * The pre-write `repartition(numBuckets, key)` aligns task partitioning
    * with the bucket function so each bucket is one file, not
    * one-per-input-partition.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(numBuckets, df(key))
      .write
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Inner equi-join of two same-key, same-bucket-count tables. With both
    * sides bucketed this plans as SortMergeJoin with zero Exchange and zero
    * Sort — assert via [[isShuffleFree]] in tests.
    *
    * Spark stopped exposing bucket sort order by default (SPARK-28173:
    * with >1 file per bucket the scan would report an ordering that
    * does not hold across files — an INCORRECT-RESULTS hazard), so the
    * sorted-scan conf is opted in only for THIS join's planning — safe
    * because [[writeBucketed]] repartitions by the bucket key
    * pre-write, guaranteeing exactly one file per bucket. Without the
    * conf the join is still exchange-free; it merely re-sorts each
    * bucket in memory.
    *
    * CONCURRENCY (r7, ADVICE fix): the conf is set on a DEDICATED
    * child session (`spark.newSession()` — same SparkContext and
    * shared catalog, its own SQLConf), never on the caller's, so no
    * concurrently-planned query can observe the one-file-per-bucket
    * ordering assumption for its own bucketed tables — the
    * SPARK-28173 wrong-results window the previous set/restore
    * pattern left open. The returned DataFrame stays bound to the
    * child session, where the flag deliberately REMAINS set: an AQE
    * re-plan of this join keeps the sorted-scan assumption (valid for
    * these one-file-per-bucket tables) instead of silently dropping
    * it after a restore — and the only thing that ever plans on that
    * session is this DataFrame. Requires catalog (not temp-view)
    * table names, which is what [[writeBucketed]] produces.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame = {
    val confKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    // One flag-scoped child session per parent, with the key set the
    // last conf replication copied (a key UNSET on the parent since
    // then is unset on the child too, not left frozen at its stale
    // value). Kept in the session registry: a FRESH child per call
    // would re-derive every session-keyed planning cache (table
    // metadata, file indexes) on each invocation — measured ~1.5 s
    // steady-state executor cost vs ~0.25 s once warm. Conf
    // replication happens per CALL (cheap, driver-side) so later
    // runtime changes on the parent still carry over.
    val (s2, copied) = graft.ops.Materialize.sessionMemo[
        (SparkSession, AtomicReference[Set[String]])](
        spark, "sorted-scan session") { _ =>
      (spark.newSession(), new AtomicReference(Set.empty[String]))
    }
    // the whole replicate+plan step runs under the child's lock: the
    // child is shared per parent, and a concurrent caller mutating its
    // conf mid-planning would be exactly the cross-query leak this
    // method exists to prevent
    copied.synchronized {
      // newSession starts from the BUILDER-time conf, not the caller's
      // current runtime conf — replicate it so planner-relevant
      // settings (broadcast threshold, AQE, bucketing toggles) carry
      // over and the only divergence is the flag below. Static entries
      // in getAll throw on set — skipped; they're engine-wide anyway.
      val parentConf = spark.conf.getAll
      parentConf.foreach { case (k, v) =>
        if (s2.conf.getOption(k) != Some(v))
          try s2.conf.set(k, v)
          catch { case scala.util.control.NonFatal(_) => () }
      }
      // keys we copied previously that the parent has since UNSET must
      // not linger on the child at their stale value
      (copied.get -- parentConf.keySet - confKey - aqeKey).foreach { k =>
        try s2.conf.unset(k)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      copied.set(parentConf.keySet)
      s2.conf.set(confKey, "true")
      // r8 (ADVICE fix): the child session's conf is shared and
      // mutable across calls, but the lock covers planning only — a
      // DataFrame from an EARLIER call may still be executing when a
      // later call re-replicates. With AQE on, re-optimization reads
      // the LIVE conf mid-execution, so planner settings could change
      // under a running query. AQE is pinned OFF here: the whole
      // point of this join is that the bucket scan already satisfies
      // the distribution (no Exchange), so AQE has no shuffle stage
      // to re-plan and its only observable effect is this hazard.
      // With it off, the plan baked below under the lock is final.
      s2.conf.set(aqeKey, "false")
      val joined = s2.table(leftTable).join(s2.table(rightTable), key)
      joined.queryExecution.executedPlan // bake the sorted scan NOW
      joined
    }
  }

  private val aqeKey = "spark.sql.adaptive.enabled"

  /** True when the executed plan contains no shuffle exchange (the scan's
    * bucket partitioning satisfied the join's distribution requirement).
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")
}
