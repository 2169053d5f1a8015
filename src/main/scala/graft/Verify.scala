package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // SURVEY §4: pandas `errors='coerce'` parity — malformed casts
      // null out instead of throwing. Queries also use try_cast at every
      // string→number site, so the suite is green under ANSI too; the
      // pin just makes the driver-run config explicit.
      .config("spark.sql.ansi.enabled", "false")
      // Naive parquet timestamps surface as TIMESTAMP, not NTZ — two
      // rounds of testdata `ts` re-encodings (BASELINE.md §7); the
      // type-driven repair in Tables.normalizeTs is the second belt.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // codegen CLASS cache sized past the iterative queries' ~130
      // units per run (default 100 thrashes — see Bench.scala)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      // one maintenance tick per hour: AvailableNow drains live ≪ 60 s
      // and the default tick's provider-snapshot cost lands on whatever
      // query is running (see Bench.scala for the measurement)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkLogs.quietIterativeCleanup()
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=q_a,q_b verifies a subset. The driver
    // sets no env, so its gate always runs the full set.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[verify] SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // release prior queries' leaked graft checkpoints, pinned
      // session caches excepted (same hygiene as Bench — accumulated
      // blocks poison later queries' execution-memory grants; see
      // Materialize.releaseOwned)
      graft.ops.Materialize.releaseOwned(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        // class name + null-safe message (a bare NPE printed "null"
        // with nothing to triage on)
        System.err.println(s"[verify] $name failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
      }
    }
    // shared escaper (graft.Json): a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
