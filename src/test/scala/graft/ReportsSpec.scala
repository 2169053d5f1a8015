package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.io.Readers
import graft.reports.Reports

/** Golden tests for the three reference reports on BLS/population-shaped
  * fixtures (FIXTURES.md §1/§2; golden values from BASELINE.md §2 /
  * notebook cell[11]/[15]/[17] outputs).
  */
class ReportsSpec extends SparkSpec {

  /** Tab-separated BLS fixture with padded header names AND cells —
    * cleaning is part of the semantics under test (FIXTURES.md §1).
    */
  private lazy val blsPath: Path = {
    val rows = Seq(
      "series_id        \tyear\tperiod\t       value\tfootnote_codes",
      // Q05 decisive: 1995 sum w/o Q05 = 4.7 < 5.0 (1996), with Q05 = 6.1
      "PRS30006011      \t1995\tQ01 \t         2.6\t",
      "PRS30006011      \t1995\tQ02 \t         2.1\t",
      "PRS30006011      \t1995\tQ05 \t         1.4\t",
      "PRS30006011      \t1996\tQ01 \t         5.0\t",
      // tie in yearly sums -> smaller year must win
      "TIE0000001       \t2000\tQ01 \t         5.0\t",
      "TIE0000001       \t2001\tQ01 \t         5.0\t",
      // flagship series; footnote R must not drop the row
      "PRS30006032      \t1995\tQ01 \t         0.0\t",
      "PRS30006032      \t2021\tQ01 \t         4.4\t",
      "PRS30006032      \t2021\tQ05 \t        17.1\tR",
      // non-numeric value -> null via coerce -> dropped by subset dropna
      "BAD0000001       \t1995\tQ01 \t           -\t"
    )
    val p = tempFile("bls_fixture", ".tsv")
    Files.writeString(p, rows.mkString("\n"))
    p
  }

  private val popJson =
    """{"data": [
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2013, "Population": 316128839},
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2014, "Population": 318857056},
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2015, "Population": 321418821},
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2016, "Population": 323127515},
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2017, "Population": 325719178},
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2018, "Population": 327167439},
      |  {"Nation ID": "01000US", "Nation": "United States", "Year": 2019, "Population": 328239523}
      |],
      | "source": [{"name": "acs_yg_total_population_1"}]}""".stripMargin

  private lazy val popPath: Path = {
    val p = tempFile("pop_fixture", ".json")
    Files.writeString(p, popJson)
    p
  }

  private def bls: DataFrame = Readers.readBlsTsv(spark, blsPath.toString)
  private def pop: DataFrame = Readers.readJsonEnvelope(spark, popPath.toString)

  test("JSON envelope: a payload string reads the same rows as its file (S5)") {
    val fromFile = pop.collect().toSeq
    assert(fromFile.size === 7)
    assert(Readers.jsonEnvelopeFromString(spark, popJson).collect().toSeq === fromFile)
  }

  test("population stats: golden mean/stddev over 2013-2018 (cell[11])") {
    val row = Reports.populationStats(pop).collect()(0)
    assert(math.abs(row.getAs[Double]("mean_population") - 322069808.0) < 0.005)
    assert(math.abs(row.getAs[Double]("stddev_population") - 4158441.04) < 0.01)
    assert(row.getAs[Long]("n_years") === 6L)
    assert(row.getAs[Seq[Long]]("years").map(_.toInt) ===
      Seq(2013, 2014, 2015, 2016, 2017, 2018))
  }

  test("best years: Q05 included in yearly sums (report_processor.py:158-161)") {
    val best = Reports.bestYears(bls).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // without Q05 the 1995 sum (4.7) would lose to 1996 (5.0)
    assert(best("PRS30006011") === ((1995, 6.1)))
  }

  test("best years: tie resolves to the smallest year (pandas idxmax)") {
    val best = Reports.bestYears(bls).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(best("TIE0000001") === 2000)
  }

  test("best years: coerce '-' to null, drop; footnote null kept; sorted") {
    val rows = Reports.bestYears(bls).collect()
    assert(!rows.map(_.getString(0)).contains("BAD0000001"))
    // footnote R row (Q05 17.1) counted: 2021 sum = 21.5
    assert(rows.find(_.getString(0) == "PRS30006032")
      .map(r => (r.getInt(1), r.getDouble(2))) === Some((2021, 21.5)))
    assert(rows.map(_.getString(0)).toSeq === rows.map(_.getString(0)).toSeq.sorted)
  }

  test("combined report: left join keeps NULL population pre-2013 (cell[17])") {
    val rows = Reports.combinedReport(bls, pop).collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(1995, 2021))
    val r1995 = rows(0)
    assert(r1995.getDouble(3) === 0.0)
    assert(r1995.isNullAt(4))
    val r2021 = rows(1)
    assert(r2021.getDouble(3) === 4.4)
    assert(r2021.isNullAt(4)) // pop fixture ends 2019
  }

  test("envelope unwrap ignores extra keys; fuzzy column detection works") {
    assert(pop.columns.toSet ===
      Set("Nation ID", "Nation", "Year", "Population"))
    assert(Readers.findColumn(pop, "year") === Some("Year"))
    assert(Readers.findColumn(pop, "population") === Some("Population"))
  }
}
