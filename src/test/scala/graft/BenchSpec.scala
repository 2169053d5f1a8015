package graft

/** Bench harness semantics — above all FAILURE HONESTY (VERDICT r1: a
  * throwing query was silently timed as ~0 and looked fast).
  */
class BenchSpec extends SparkSpec {

  private def listener = Harness.listen(spark)

  test("a throwing query reports its true elapsed wall plus the error") {
    val r = Bench.runQuery(spark, listener, iters = 2) { () =>
      Thread.sleep(50)
      throw new IllegalStateException("injected failure")
    }
    assert(r.err.isDefined)
    assert(r.err.get.contains("injected failure"))
    assert(r.best >= 0.05, s"failed query must keep its real wall: ${r.best}")
    assert(r.walls.length === 2)
    assert(r.hardFailed, "no iteration succeeded -> hard failure")
    assert(r.okFlags === Seq(false, false))
  }

  test("a transiently-failing query never contributes its failed wall") {
    var calls = 0
    val r = Bench.runQuery(spark, listener, iters = 3) { () =>
      calls += 1
      if (calls == 1) throw new IllegalStateException("flaky once")
      Thread.sleep(30)
      1L
    }
    assert(r.err.isDefined) // the flake is still reported (detail file)
    assert(!r.hardFailed,   // but NOT counted as a broken query
      "a later success must clear the hard-failure classification")
    assert(r.okFlags === Seq(false, true, true))
    assert(r.best >= 0.03, // and the wall comes from a SUCCESSFUL run
      s"min must be over successful iterations: ${r.best}")
    // the stdout line counts only hard failures
    val (line, detail) = Bench.renderOutputs(
      Seq("q_flaky" -> r), "/tmp/sf", 3)
    assert(!line.contains("n_errors"), line)
    assert(detail.contains("\"ok\":[false,true,true]"))
    assert(detail.contains("flaky once")) // error text kept in detail
  }

  test("a healthy query reports min-of-iters wall and task metrics") {
    val r = Bench.runQuery(spark, listener, iters = 2) { () =>
      spark.range(1000).selectExpr("sum(id)").collect()(0).getLong(0)
    }
    assert(r.err.isEmpty)
    assert(r.best > 0 && r.best === r.walls.min)
    assert(r.metrics(3) > 0, "best iteration should have run Spark tasks")
    // compile-pressure forensics: one delta per iteration, never negative
    // (jit_ms may be -1 only when the JVM doesn't expose compile time)
    assert(r.codegenN.length === 2 && r.jitMs.length === 2)
    assert(r.codegenN.forall(_ >= 0))
    assert(r.jitMs.forall(v => v >= 0 || v == -1L))
  }

  test("calibration leg renders into the line and detail, inside the window") {
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> Bench.QueryResult(1.234567, Seq(1.234567),
        Array(11L, 22L, 33L, 44L), None, okFlags = Seq(true))
    }
    val calibQs = Seq("q_agg_sum", "q_curate").map(n =>
      n -> Bench.QueryResult(0.5, Seq(0.5, 0.6),
        Array(1L, 1L, 0L, 2L), None, okFlags = Seq(true, true)))
    val (line, detailJson) = Bench.renderOutputs(
      results, "/root/testdata/sf0.1", 1, cpus = 32,
      calib = Some((4, calibQs)))
    assert(line.contains(""""calib":{"cpus":4,"sec":1.000000,"n":2}"""), line)
    assert(line.length < 1300, s"line with calib: ${line.length}")
    assert(line.contains(""""n_variants":8"""), line)
    val headline = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
    assert(""""(q_\w+)":""".r.findAllMatchIn(headline).map(_.group(1)).toSeq ===
      SparkEntry.catalog.filter(_.headline).map(_.name))
    assert(detailJson.contains(""""calib":{"cpus":4,"sec":1.000000,"queries":{"q_agg_sum":0.500000,"q_curate":0.500000}}"""))
    // no calib -> fields absent (close-config runs stay byte-compatible);
    // match the exact key shape — q_calibration is a query name
    val (line2, detail2) = Bench.renderOutputs(results, "/root/testdata/sf0.1", 1)
    assert(!line2.contains(""""calib":{""") && !detail2.contains(""""calib":{"""))
  }

  test("stdout line stays inside the driver tail window, even on mass failure") {
    // every SparkEntry query name, all failing with long messages — the
    // worst case for line growth (r01/r02 recorded parsed:null because
    // the line outgrew the ~2000-char capture window)
    // control-char-dense message: each raw char would escape to \uXXXX
    // (6x) if it reached jsonStr before sanitization
    val nasty = "\n\"\\" * 20 + ("x" * 280)
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> Bench.QueryResult(1.234567, Seq(1.234567, 2.345678, 3.456789),
        Array(11L, 22L, 33L, 44L), Some(nasty),
        okFlags = Seq(false, false, false))
    }
    val (line, detailJson) = Bench.renderOutputs(results, "/root/testdata/sf0.1", 3)
    assert(line.length < 1900, s"line too long for tail capture: ${line.length}")
    assert(!line.contains('\n'))
    assert(line.startsWith("""{"metric":"total""""))
    assert(line.endsWith("}"))
    assert(line.contains(s""""n_queries":${results.size}"""))
    assert(line.contains(s""""n_errors":${results.size}"""))
    // untruncated messages live in the detail JSON, not the line
    assert(detailJson.contains("x" * 280))
    assert(!line.contains("x" * 280))
    // inline errors were sanitized: no control chars or their escapes
    assert(!line.contains("\\u0001") && !line.contains("\\n"))
    // healthy-path line is far smaller still
    val ok = results.map { case (n, r) =>
      n -> r.copy(err = None, okFlags = Seq(true, true, true)) }
    val (line2, _) = Bench.renderOutputs(ok, "/root/testdata/sf0.1", 3)
    assert(line2.length < 1200, s"healthy line: ${line2.length}")
  }
}
