package graft

import java.nio.file.Files

import graft.io.{Models, Readers}

class ModelsSpec extends SparkSpec {

  test("typed BLS dataset: coerced nulls survive the case-class view") {
    val p = tempFile("bls", ".tsv")
    Files.writeString(p, Seq(
      "series_id        \tyear\tperiod\t       value\tfootnote_codes",
      "PRS30006011      \t1995\tQ01 \t         2.6\t",
      "BAD0000001       \tnope\tQ01 \t           -\t"
    ).mkString("\n"))
    implicit val s = spark
    val ds = Models.blsDataset(Readers.cleanBls(Readers.readBlsTsv(spark, p.toString)))
    val rows = ds.collect().sortBy(_.series_id)
    assert(rows.length === 2)
    assert(rows(0).series_id === "BAD0000001")
    assert(rows(0).year === None)     // 'nope' coerced to null
    assert(rows(0).value === None)    // '-' coerced to null
    assert(rows(1).value === Some(2.6))
  }

  test("typed population dataset resolves fuzzy columns and filters nulls") {
    val p = tempFile("pop", ".json")
    Files.writeString(p,
      """{"data": [
        |  {"Nation ID": "01000US", "Nation": "US", "Year": 2013, "Population": 316128839},
        |  {"Nation ID": "01000US", "Nation": "US", "Year": 2014, "Population": null}
        |]}""".stripMargin)
    implicit val s = spark
    val ds = Models.populationDataset(Readers.readJsonEnvelope(spark, p.toString))
    val rows = ds.collect()
    assert(rows.length === 1)
    assert(rows(0).year === 2013)
    assert(rows(0).population === 316128839.0)
  }
}
