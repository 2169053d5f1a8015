package graft.examples

import java.nio.file.Files

import graft.GraftSession
import graft.io.Readers
import graft.reports.Reports
import graft.sync.CdcMerge

/** Runnable end-to-end demo of the reference pipeline surface: BLS TSV +
  * population JSON envelope → the three reports, plus the CDC merge plan.
  * `sbt "runMain graft.examples.BlsPipelineDemo"` — prints each report.
  */
object BlsPipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, 4)

    val blsTsv = Seq(
      "series_id        \tyear\tperiod\t       value\tfootnote_codes",
      "PRS30006011      \t1995\tQ01 \t         2.6\t",
      "PRS30006011      \t1995\tQ02 \t         2.1\t",
      "PRS30006011      \t1995\tQ05 \t         1.4\t",
      "PRS30006011      \t1996\tQ01 \t         5.0\t",
      "PRS30006032      \t1995\tQ01 \t         0.0\t",
      "PRS30006032      \t2021\tQ01 \t         4.4\t",
      "PRS30006032      \t2021\tQ05 \t        17.1\tR",
      "BAD0000001       \t1995\tQ01 \t           -\t"
    ).mkString("\n")
    val popJson =
      """{"data": [
        |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2013, "Population": 316128839},
        |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2014, "Population": 318857056},
        |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2015, "Population": 321418821},
        |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2016, "Population": 323127515},
        |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2017, "Population": 325719178},
        |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2018, "Population": 327167439}
        |], "source": [{"name": "acs_yg_total_population_1"}]}""".stripMargin

    val blsPath = Files.createTempFile("bls", ".tsv")
    val popPath = Files.createTempFile("pop", ".json")
    try {
      Files.writeString(blsPath, blsTsv)
      Files.writeString(popPath, popJson)

      val bls = Readers.readBlsTsv(spark, blsPath.toString)
      val pop = Readers.readJsonEnvelope(spark, popPath.toString)

      println("== Report 1: population stats (2013-2018) ==")
      Reports.populationStats(pop).show(truncate = false)
      println("== Report 2: best year per series ==")
      Reports.bestYears(bls).show(truncate = false)
      println("== Report 3: combined (PRS30006032 x Q01) ==")
      Reports.combinedReport(bls, pop).show(truncate = false)

      println("== CDC merge plan ==")
      val remote = Map("pr.data.0.Current" -> "aaa", "pr.class" -> "ccc",
        "pr.new_file" -> "ddd")
      val stored = Map("pr.data.0.Current" -> "bbb", "pr.class" -> "ccc",
        "pr.retired" -> "eee")
      CdcMerge.plan(remote, stored).foreach(d => println(
        s"${d.name}\t${d.action}\t${d.remoteHash.orNull}\t${d.storedHash.orNull}"))
    } finally {
      Files.deleteIfExists(blsPath)
      Files.deleteIfExists(popPath)
    }

    spark.stop()
  }
}
