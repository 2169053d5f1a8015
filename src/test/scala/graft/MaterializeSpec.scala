package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.graph.ConnectedComponents
import graft.ops.Materialize
import graft.queries.TrainingQueries

/** The materialization seam: the between-query sweep frees only what
  * graft created, the session cache reuses / refreshes / evicts its
  * entries, and no other main-source file calls `localCheckpoint`.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  /** A private copy of the documents table, so the test can change its
    * content tag without touching the shared fixture.
    */
  private def withDocsCopy(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-materialize").toFile
    val dst = new File(dir, "documents.parquet")
    try {
      Files.copy(new File(s"$sfDir/documents.parquet").toPath, dst.toPath,
        StandardCopyOption.COPY_ATTRIBUTES)
      dst.setWritable(true)
      body(dir.getPath)
    } finally { dst.delete(); dir.delete() }
  }

  test("releaseOwned unpersists leaked graft checkpoints, never foreign storage") {
    val before = persistedIds
    val foreignCached = spark.range(100).toDF("x").persist()
    assert(foreignCached.count() === 100)
    val foreignIds = persistedIds -- before
    assert(foreignIds.nonEmpty, "persist() registered no RDD")
    val foreignCkpt = spark.range(50).toDF("y").localCheckpoint(true)
    // a graft round checkpoint left behind for the caller: CC's result
    val leaked = ConnectedComponents.run(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst"))
    assert(leaked.count() === 5)
    val pinned = Materialize.checkpoint(spark.range(10).toDF("z"))
    Materialize.pin(pinned)
    assert(persistedIds.contains(rddId(leaked)))

    Materialize.releaseOwned(spark)

    val after = persistedIds
    assert(foreignIds.subsetOf(after), "caller's persist() was swept")
    assert(after.contains(rddId(foreignCkpt)),
      "caller's localCheckpoint was swept")
    assert(foreignCached.count() === 100)
    assert(foreignCkpt.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 50L))
    assert(!after.contains(rddId(leaked)), "leaked round state survived")
    assert(after.contains(rddId(pinned)), "pinned checkpoint was swept")
    assert(pinned.count() === 10)

    Materialize.release(pinned)
    assert(!persistedIds.contains(rddId(pinned)))
    foreignCached.unpersist(true)
    foreignCkpt.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(true)
      case _ => ()
    }
  }

  test("session cache: hit runs no job, a touched source rebuilds and frees the old entry") {
    withDocsCopy { dir =>
      val source = s"$dir/documents.parquet"
      val built = TrainingQueries.ngramClusterComponents(spark, dir)
      val rows = built.collect().toSet
      val firstId = rddId(built)
      assert(Materialize.sessionEntries(spark)
        .exists(e => e.name == "ngram-clusters" && e.source == source))

      val (hit, jobs) = jobsDuring(
        TrainingQueries.ngramClusterComponents(spark, dir))
      assert(jobs === 0, "cache hit submitted Spark jobs")
      assert(rddId(hit) === firstId)

      // pinned: the harness sweep between queries keeps the entry readable
      Materialize.releaseOwned(spark)
      assert(persistedIds.contains(firstId))
      assert(hit.collect().toSet === rows)

      val f = new File(source)
      assert(f.setLastModified(f.lastModified() + 10000L))
      val (rebuilt, rebuildJobs) = jobsDuring(
        TrainingQueries.ngramClusterComponents(spark, dir))
      assert(rebuildJobs > 0, "a changed content tag served the stale entry")
      assert(rddId(rebuilt) !== firstId)
      assert(!persistedIds.contains(firstId), "superseded entry not unpersisted")
      assert(persistedIds.contains(rddId(rebuilt)))
      assert(rebuilt.collect().toSet === rows)

      // the query hands out a renamed Project over the leaf: not pinnable
      val e = intercept[IllegalArgumentException](Materialize.pin(rebuilt))
      assert(e.getMessage.contains("LogicalRDD"), e.getMessage)
    }
  }

  test("session cache: entries keyed by a stopped session are evicted") {
    // A stopped session needs a SparkContext of its own, and this JVM's
    // is shared by every suite: run the probe in a child JVM.
    withDocsCopy { dir =>
      val out = childJvm(StoppedSessionProbe, s"$dir/documents.parquet")
      assert(out.contains("entries stopped-before=1 stopped-after=0 live=1"), out)
    }
  }

  test("comment stripping sees code, not comments") {
    val src = "val a = \"x//y\" // z.localCheckpoint(\n" +
      "/* a /* nested */ .localCheckpoint( */ val q = '\"'\n" +
      "b.localCheckpoint(true) /** c.localCheckpoint( */"
    assert(".localCheckpoint\\(".r.findAllIn(SourceGuard.codeOf(src)).size === 1)
    assert(SourceGuard.codeOf(src).contains("\"x//y\""))
  }

  test("only the materialization seam calls localCheckpoint in main code") {
    assert(SourceGuard.mainFilesCalling(".localCheckpoint(") ===
      Seq("graft/ops/Materialize.scala"))
    // iterative operators free round state through the round loop only
    assert(SourceGuard.mainFilesCalling("Materialize.release(")
      .filter(_.startsWith("graft/graph/")) === Nil)
  }
}

/** Child-JVM probe for the stopped-session eviction test: caches an
  * entry under one session, stops it, caches under a new session and
  * prints the entry counts.
  */
object StoppedSessionProbe {
  private def session(): SparkSession = GraftSession.local(1, 1)

  def main(args: Array[String]): Unit = {
    val source = args(0)
    def cache(s: SparkSession): DataFrame =
      Materialize.sessionCached(s, "probe", source) {
        Materialize.checkpoint(s.range(3).toDF("x"))
      }
    val s1 = session()
    cache(s1)
    val before = Materialize.sessionEntries(s1).size
    s1.stop()
    val s2 = session()
    cache(s2)
    println(s"entries stopped-before=$before " +
      s"stopped-after=${Materialize.sessionEntries(s1).size} " +
      s"live=${Materialize.sessionEntries(s2).size}")
    s2.stop()
  }
}
