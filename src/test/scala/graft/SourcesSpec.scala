package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DataSource V2 catalog connector: values vs the io.Catalog helpers,
  * column-pruning pushdown, and distributed partitioning.
  */
class SourcesSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("cat_src").toString
    Seq("a.txt" -> "alpha", "b.txt" -> "beta bytes", "c.json" -> "{}")
      .foreach { case (n, content) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, n), content)
      }
    d
  }

  test("graft-catalog rows match the listing + distributed md5 helpers") {
    val got = spark.read.format("graft-catalog").load(dir)
      .select("name", "length", "md5")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    val wantHash = graft.io.Catalog.withContentHash(spark, dir)
      .select("name", "length", "hash")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq === wantHash.toSeq)
    val wantList = graft.io.Catalog.listFiles(spark, dir)
      .select("name").collect().map(_.getString(0)).sorted
    assert(got.map(_._1).toSeq === wantList.toSeq)
  }

  test("projection pushes into the scan: no md5 read unless asked") {
    val pruned = spark.read.format("graft-catalog").load(dir)
      .select("name", "length")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans === Seq(Seq("name", "length")),
      s"scan must carry only the projected columns: $scans")
    // and the full projection does include md5 in the scan
    val full = spark.read.format("graft-catalog").load(dir)
    val fullScan = full.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(fullScan.head.contains("md5"))
  }

  test("filter pushdown prunes files BEFORE md5: excluded content " +
      "never read") {
    import graft.sources.CatalogMetrics
    // warm lazy dir creation, then measure md5 reads for a filtered scan
    val q = spark.read.format("graft-catalog").load(dir)
      .filter(col("name").startsWith("a"))
      .select("name", "md5")
    val before = CatalogMetrics.md5Reads.sum()
    val rows = q.collect()
    val reads = CatalogMetrics.md5Reads.sum() - before
    assert(rows.map(_.getString(0)).toSeq === Seq("a.txt"))
    assert(reads === 1L,
      s"only the matching file may be hashed, got $reads md5 reads")
    // the pushed filter is visible on the scan node
    val desc = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(desc.contains("PushedFilters: [") && desc.contains("a"), desc)
  }

  test("pushdown keeps exact semantics under Not / unsupported shapes") {
    val base = spark.read.format("graft-catalog").load(dir)
      .select("name", "length")
    // Not(StartsWith) must not over-prune (three-valued eval guard)
    assert(base.filter(!col("name").startsWith("a"))
      .collect().map(_.getString(0)).sorted.toSeq === Seq("b.txt", "c.json"))
    // filter on md5 (not prunable) still evaluates correctly post-scan
    val md5OfEmpty = "99914b932bd37a50b983c5e7c90ae93b" // md5("{}")
    val viaMd5 = spark.read.format("graft-catalog").load(dir)
      .filter(col("md5") === md5OfEmpty)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(viaMd5 === Seq("c.json"))
  }

  test("files spread over multiple input partitions") {
    val df = spark.read.format("graft-catalog").load(dir)
    val parts = df.select(
      org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    assert(parts >= 2, s"3 files should span >= 2 partitions, got $parts")
    assert(df.count() === 3)
  }

  test("missing directory yields an empty frame, not an error") {
    assert(spark.read.format("graft-catalog")
      .load(s"$dir/definitely_missing").count() === 0)
  }
}
