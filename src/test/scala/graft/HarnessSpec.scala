package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.ops.Materialize

/** The harness seam: one reader of the run settings, one drive step
  * (Verify's path included) and one task-metrics listener.
  */
class HarnessSpec extends SparkSpec {

  test("only Harness reads the run settings, and PlanAudit is gone") {
    for (setting <- Seq("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_PARTITIONS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_ONLY"))
      assert(SourceGuard.mainFilesCalling(setting) === Seq("graft/Harness.scala"),
        setting)
    // and no other SPARK_GRAFT_* name is read anywhere else: a new knob
    // would escape a per-name check
    assert(SourceGuard.mainFilesCalling("SPARK_GRAFT_") === Seq("graft/Harness.scala"))
    assert(SourceGuard.mainFilesCalling("PlanAudit").isEmpty)
  }

  test("run settings parse from a map; an empty or malformed value fails loud") {
    val d = Harness.settingsFrom(Map.empty[String, String])
    assert((d.cpus, d.partitions, d.conf, d.only, d.iters) === ((4, 4, Nil, None, 3)))
    val s = Harness.settingsFrom(Map("SPARK_GRAFT_CPUS" -> "2",
      "SPARK_GRAFT_ONLY" -> " q_a, ,q_b", "SPARK_GRAFT_CONF" -> "a=1;b=x=y"))
    assert(s.partitions === 2)
    assert(s.only === Some(Set("q_a", "q_b")))
    assert(s.conf === Seq("a" -> "1", "b" -> "x=y"))
    for (bad <- Seq("SPARK_GRAFT_ONLY" -> "", "SPARK_GRAFT_ONLY" -> " , ",
        "SPARK_GRAFT_CONF" -> "novalue"))
      intercept[IllegalArgumentException](Harness.settingsFrom(Map(bad)))
  }

  test("a failing query is reported, then the next runs after graft's leftovers are freed") {
    val before = persistedIds
    val mine = spark.range(10).toDF("id").persist()
    mine.count()
    val mineIds = persistedIds -- before
    var leaked = -1
    var leakedHeld = false
    var seen = Set.empty[Int]
    val out = tempDir("graft_verify").toString
    val leak: Harness.Query = (s, _) => {
      leaked = rddId(Materialize.checkpoint(s.range(5).toDF("id")))
      leakedHeld = persistedIds.contains(leaked)
      throw new IllegalStateException("injected failure")
    }
    val next: Harness.Query = (s, _) => {
      seen = persistedIds
      s.range(3).toDF("id")
    }
    try {
      val failures = Verify.dump(spark, sfDir, out,
        Seq("q_leak" -> leak, "q_next" -> next))
      assert(failures === Seq("q_leak" -> "IllegalStateException: injected failure"))
      assert(leakedHeld, "the leaked checkpoint was persisted when it leaked")
      assert(!seen.contains(leaked), "graft's leftover is released before the next query")
      assert(mineIds.nonEmpty && mineIds.subsetOf(seen), "the caller's persist() survives")
      assert(spark.read.parquet(s"$out/q_next").count() === 3)
    } finally mine.unpersist()
  }

  test("per-stage buckets sum to the per-query totals Bench reports") {
    val metrics = Harness.listen(spark)
    // an independent sum of the same task-end events
    val (tasks, runMs, shufW, shufR) =
      (new AtomicLong, new AtomicLong, new AtomicLong, new AtomicLong)
    val ref = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        tasks.incrementAndGet(); runMs.addAndGet(m.executorRunTime)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    val query = () => Harness.noop(spark.range(0, 400000, 1, 4)
      .selectExpr("id % 50000 as k", "id as v").groupBy("k").count())
    def measured[T](body: => T): (T, Seq[Long]) = {
      Harness.drain(spark)
      Seq(tasks, runMs, shufW, shufR).foreach(_.set(0))
      spark.sparkContext.addSparkListener(ref)
      try {
        val out = body
        (out, Seq(tasks.get, runMs.get, shufW.get, shufR.get))
      } finally spark.sparkContext.removeSparkListener(ref)
    }
    try {
      val (d, r1) = measured(Harness.drive(spark, metrics)(query()))
      assert(d.ok && d.stages.size >= 2, d.stages)
      assert(d.stages.forall(_.callSite.nonEmpty), d.stages)
      assert(Seq(d.stages.map(_.tasks).sum, d.stages.map(_.runMs).sum,
        d.stages.map(_.shuffleWriteB).sum, d.stages.map(_.shuffleReadB).sum) === r1)
      assert(r1(2) > 0 && r1(3) > 0, "the query shuffles")

      val (q, r2) = measured(Bench.runQuery(spark, metrics, iters = 1)(query))
      assert(q.err.isEmpty)
      // run ms, tasks, shuffle read and write MiB
      assert(Seq(q.metrics(0), q.metrics(3), q.metrics(6), q.metrics(7)) ===
        Seq(r2(1), r2(0), r2(3) >> 20, r2(2) >> 20))
    } finally spark.sparkContext.removeSparkListener(metrics)
  }
}
