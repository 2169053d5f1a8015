package graft.examples

import java.nio.file.Files

import graft.GraftSession
import graft.io.Sinks
import graft.sync.SyncJob

/** Runnable end-to-end mirror of the reference's combined handler
  * (`lambda_functions/sync_and_fetch.py:251` — Part 1 file sync, then
  * Part 2 timestamped JSON snapshot):
  * `sbt "runMain graft.examples.SyncDemo"`.
  *
  * Sets up a source dir (2 files), a stale destination (1 outdated copy,
  * 1 orphan), runs [[SyncJob.run]] twice — first pass applies
  * insert/update/delete, second pass must plan all-skip (idempotence) —
  * then writes the API-snapshot leg as `population_data_<ts>.json`.
  */
object SyncDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, 4)
    import spark.implicits._

    val src = Files.createTempDirectory("sync_src")
    val dst = Files.createTempDirectory("sync_dst")
    try {
      Files.writeString(src.resolve("pr.data.0.Current"), "series\tvalue\nA\t1\n")
      Files.writeString(src.resolve("pr.class"), "class data v2\n")
      Files.writeString(dst.resolve("pr.class"), "class data v1 (stale)\n")
      Files.writeString(dst.resolve("pr.retired"), "no longer upstream\n")

      println("== Part 1: sync plan + apply ==")
      SyncJob.run(spark, src.toString, dst.toString)
        .orderBy("name").show(truncate = false)
      println("== Part 1 rerun (must be all skip) ==")
      SyncJob.run(spark, src.toString, dst.toString)
        .groupBy("action").count().orderBy("action").show()

      println("== Part 2: timestamped API snapshot ==")
      val out = Sinks.timestampedPath(dst.toString, "population_data_", ".json")
      Sinks.writeJson(Seq((2018, 327167439L)).toDF("year", "population"), out)
      println(s"wrote $out")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(src.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dst.toFile)
    }

    spark.stop()
  }
}
