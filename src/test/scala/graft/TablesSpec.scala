package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.io.Tables

/** The table catalog: a table's schema is resolved once per snapshot and
  * parquet read settings, and only `io/Tables` knows a table's path, its
  * read and its snapshot tag.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Writes `df` as the single-file table `name` under `dir`. */
  private def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val out = tempDir("graft-tables-out").resolve("t").toFile
    df.coalesce(1).write.parquet(out.getPath)
    val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new File(Tables.path(dir, name)).toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table read a second time runs no job; a new snapshot is resolved again") {
    val dir = tempDir("graft-tables").toString
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "t")
    val (first, inferJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(inferJobs > 0, "the first read infers the schema")
    val (again, jobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(jobs === 0, "a known snapshot inferred its schema again")
    assert(again.schema === first.schema)
    // each read has fresh attribute ids, so a self-join stays unambiguous
    assert(first.join(again, first("id") === again("id")).count() === 2)
    // the events read memoizes its footer verdict with the schema
    Tables.events(spark, sfDir)
    assert(jobsDuring(Tables.events(spark, sfDir))._2 === 0)

    val f = new File(Tables.path(dir, "t"))
    assert(f.setLastModified(f.lastModified() + 10000L))
    assert(jobsDuring(Tables.table(spark, dir, "t"))._2 > 0,
      "a touched table was served the old snapshot's schema")
    writeTable(Seq((3L, "c", 0.5)).toDF("id", "v", "extra"), dir, "t")
    assert(Tables.table(spark, dir, "t").as[(Long, String, Double)]
      .collect().toSeq === Seq((3L, "c", 0.5)))
  }

  test("the schema memo is keyed on the session's parquet read settings") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ntz = "src/test/resources/tsenc/ntz"
    def tsType = Tables.table(spark, ntz, "events").schema("ts").dataType
    val pinned = spark.conf.get(key)
    assert(pinned === "false")
    assert(tsType === TimestampType)
    spark.conf.set(key, "true")
    try assert(tsType === TimestampNTZType)
    finally spark.conf.set(key, pinned)
    assert(tsType === TimestampType)
  }

  test("a snapshot tag follows the listing; a path that lists nothing never repeats one") {
    val dir = tempDir("graft-tables-tag").toString
    writeTable(Seq(1L).toDF("id"), dir, "t")
    val p = Tables.path(dir, "t")
    val tag = Tables.snapshotTag(spark, p)
    assert(Tables.snapshotTag(spark, p) === tag)
    assert(tag.matches("[0-9a-z]+"), "a layout names its tables by the tag")
    val f = new File(p)
    assert(f.setLastModified(f.lastModified() + 10000L))
    assert(Tables.snapshotTag(spark, p) !== tag)
    val missing = Tables.path(dir, "missing")
    assert(Tables.snapshotTag(spark, missing) !== Tables.snapshotTag(spark, missing))
    assert(Tables.snapshotTag(spark, p, missing) !== Tables.snapshotTag(spark, p, missing))
  }

  test("a second build of the stats-pruned read infers no schema") {
    def build() = graft.queries.FuncQueries.statsPrune(spark, sfDir)
    build()
    val (_, sites) = jobSitesDuring(build())
    assert(sites.nonEmpty, "building the frame collects its candidate files")
    assert(!sites.exists(_.startsWith("parquet at")),
      s"a known snapshot was read through schema inference: $sites")
  }

  test("only Tables knows a table's path, its read and the snapshot tag") {
    val tables = "graft/io/Tables.scala"
    def holding(re: Regex): Seq[String] = SourceGuard.mainSources.collect {
      case (f, code) if re.findFirstIn(code).nonEmpty => f
    }
    val q = "\""
    val pathLiteral = s"""s?$q[^$q\\n]*[/$$][^$q\\n]*\\.parquet$q"""
    assert(holding(pathLiteral.r) === Seq(tables))
    assert(holding(s"""read\\.parquet\\(\\s*(Tables\\.path|$pathLiteral)""".r) === Nil)
    assert(holding("""def \w*[Tt]ag\s*[\[(]""".r) === Seq(tables))
  }
}
