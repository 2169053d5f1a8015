package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    dump(spark, sfDir, outDir, Harness.select("verify"))
    // shared escaper (graft.Json): a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Harness.stop(spark)
  }

  /** Each query's result as one-file parquet under `outDir/<name>`.
    * Returns the failures as (name, "Class: message"), each also printed
    * as `[verify] <name> failed: …`; a failure never stops the rest.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, Harness.Query)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val metrics = Harness.listen(spark)
    try queries.flatMap { case (name, fn) =>
      Harness.drive(spark, metrics)(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
        .failure.map { e =>
          val msg = Harness.describe(e)
          System.err.println(s"[verify] $name failed: $msg")
          name -> msg
        }
    } finally spark.sparkContext.removeSparkListener(metrics)
  }
}
