package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization seam. graft plans stay lazy except at
  * deliberate lineage cuts, and every cut goes through [[checkpoint]]:
  * iterative round state (the graph operators run on [[rounds]]; the
  * driver-collect k-center loop releases its own), multiply-consumed
  * build-time relations (some behind the one size gate
  * [[checkpointIfLarge]]) and cross-query state ([[sessionCached]]).
  * [[checkpoint]] records each backing RDD in a weak identity registry,
  * so the harness's between-query sweep [[releaseOwned]] frees exactly
  * what graft created — never a caller's own `persist()` or
  * `localCheckpoint` — along with the outputs registered through
  * [[ownOutput]] (stream drains, weight broadcasts). It is the one
  * owner of state that outlives a query: those, and the session
  * registry [[sessionMemo]] (schemas, pinned caches, bucketed layouts,
  * the sorted-scan child session).
  */
private[graft] object Materialize {

  /** Gate for a multi-consumer subtree whose consumers key differently
    * (Spark's ReuseExchange dedups only IDENTICAL exchange pairs, so it
    * re-executes once per consumer without a cut). Lower than
    * [[PrefixIndexMinBytes]] because the break-even differs: there the
    * barrier serializes otherwise-concurrent plan branches, here it
    * replaces whole re-executions of a CPU-dense subtree (measured r14,
    * q_curate at sf0.1/32c: run_ms 3.8 s lazy vs 2.6 s materialized;
    * sf0.01-class inputs sit at the break-even).
    */
  val MultiConsumerMinBytes: Long = 256L << 10

  /** Gate for the dedup prefix index. Like Spark's own broadcast
    * threshold: the checkpoint is a barrier that serializes
    * otherwise-concurrent plan branches, so on a corpus small enough
    * that eight parallel gram passes fit one short job it LOSES wall
    * (close sf0.1 A/B: containment 1.50 → 2.16 s eager vs lazy) while
    * at the ×10 leg it wins outright (9.87 → 8.17 s, run_ms −18%). The
    * crossover sits well below one executor-core's worth of scan work,
    * so this only keeps toy corpora lazy.
    */
  val PrefixIndexMinBytes: Long = 4L << 20

  // RDDs behind graft's checkpoints, and those that must SURVIVE
  // releaseOwned (session caches hold lineage-CUT frames across queries;
  // unpersisting one makes its next consumer fail on missing checkpoint
  // blocks, not recompute). Weak identity sets: an entry goes with its
  // RDD, and RDD ids recycled by a SparkContext restart never match.
  private def weakSet() = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Boolean])
  private val owned, pinned = weakSet()

  private def rdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** `localCheckpoint(eager)`, registered as graft-owned. Lazy leaves
    * the job to the first action over the frame.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cut = df.localCheckpoint(eager)
    rdd(cut).foreach(r => synchronized(owned.add(r)))
    cut
  }

  /** One iterative operator's storage, owned by [[rounds]]: the
    * `scratch` frames its rounds read and its round state.
    *
    * The round policy, stated once: every round is cut by a
    * [[checkpoint]] — without it the plan doubles per round and the
    * optimizer re-walks the whole history — and the SUPERSEDED round is
    * [[release]]d only after the new one is materialized (until then
    * the new round's lineage reads the old round's blocks), so peak
    * round storage is two rounds, not `maxRounds`. A [[loop]] of fixed
    * length checkpoints eagerly; a convergence loop ([[until]])
    * checkpoints LAZILY and lets its test be the action that
    * materializes the round, so each round is one action, not two
    * (r14: per-job fixed cost dominated these loops at small SF). Under
    * AQE, on in every graft session, that action's shuffle-map stages
    * and broadcasts run as jobs of their own: measured 4 jobs per CC
    * round and 5 per Hierarchy round. GraphSpec's one-job-per-round pin
    * holds only with AQE off. The final round is the operator's result
    * and outlives it; scratch is released when the operator returns,
    * and on ANY exception every scratch frame and round state is
    * released before it propagates.
    */
  final class Rounds private[Materialize] () {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** [[checkpoint]] (eager) a frame the rounds read; released when
      * the operator returns.
      */
    def scratch(df: DataFrame): DataFrame = own(checkpoint(df))

    /** Take an already checkpointed frame (another operator's result)
      * as scratch.
      */
    def own(df: DataFrame): DataFrame = { held += df; df }

    private[Materialize] def releaseScratch(): Unit = release(held.toSeq: _*)

    /** `rounds` steps from `init`; `step(state, round)` gets rounds
      * numbered from 1.
      */
    def loop(init: DataFrame, rounds: Int)
            (step: (DataFrame, Int) => DataFrame): DataFrame =
      iterate(init, rounds, eager = true, _ => false, ())(step)

    /** Step from `init` until `settled` holds, testing `init` too;
      * `stuck` fails loud when it still does not after `maxRounds`
      * steps. `settled` must run an action over its frame: it is what
      * materializes the lazily checkpointed round.
      */
    def until(init: DataFrame, maxRounds: Int)
             (settled: DataFrame => Boolean, stuck: => Nothing)
             (step: (DataFrame, Int) => DataFrame): DataFrame =
      iterate(init, maxRounds, eager = false, settled, stuck)(step)

    private def iterate(init: DataFrame, maxRounds: Int, eager: Boolean,
                        settled: DataFrame => Boolean, stuck: => Unit)
                       (step: (DataFrame, Int) => DataFrame): DataFrame = {
      var state = checkpoint(init, eager)
      var next: DataFrame = null
      try {
        var done = settled(state)
        var round = 0
        while (!done && round < maxRounds) {
          round += 1
          next = checkpoint(step(state, round), eager)
          done = settled(next)
          release(state)
          state = next
          next = null
        }
        if (!done) stuck
        state
      } catch {
        case t: Throwable =>
          release(Seq(state, next).filter(_ != null): _*)
          throw t
      }
    }
  }

  /** Run one iterative operator: `body` builds its scratch and rounds
    * on the [[Rounds]] it is given, under the policy stated there.
    */
  def rounds(body: Rounds => DataFrame): DataFrame = {
    val r = new Rounds
    try body(r) finally r.releaseScratch()
  }

  /** Free superseded checkpoints (non-blocking). Not `Dataset.unpersist`:
    * the CacheManager never registered these blocks — a silent no-op.
    */
  def release(dfs: DataFrame*): Unit = dfs.flatMap(rdd).foreach(unpersist)

  private def unpersist(r: RDD[_]): Unit = {
    synchronized { owned.remove(r); pinned.remove(r) }
    r.unpersist(false)
  }

  /** [[checkpoint]] when the optimizer's size ESTIMATE of `sizedBy`
    * (default `df`) reaches `minBytes` — a metadata probe, no job. When
    * it fires, a job runs at DataFrame-CONSTRUCTION time.
    */
  def checkpointIfLarge(df: DataFrame, minBytes: Long,
                        sizedBy: Option[DataFrame] = None): DataFrame =
    if (sizedBy.getOrElse(df).queryExecution.optimizedPlan.stats
          .sizeInBytes >= minBytes) checkpoint(df)
    else df

  /** Exempt a checkpoint from [[releaseOwned]]; [[release]] unpins.
    * FAIL-LOUD (ADVICE r13): a projected/renamed frame would pin
    * nothing, and the next sweep would surface as a misattributed
    * missing-block failure in whatever query consumes it later.
    */
  def pin(df: DataFrame): Unit = rdd(df) match {
    case Some(r) => synchronized(pinned.add(r))
    case None => throw new IllegalArgumentException(
      "Materialize.pin: frame is not a bare localCheckpoint leaf " +
        "(analyzed plan root is " +
        df.queryExecution.analyzed.getClass.getSimpleName +
        ", expected LogicalRDD) — pin the checkpoint frame itself, " +
        "before projecting/renaming it")
  }

  // how to free each session's drain outputs; the frees take the
  // session, so the weak key is not held by its own values
  private val outputs =
    new java.util.WeakHashMap[SparkSession, List[SparkSession => Unit]]

  /** Register an output graft created in `spark` that must outlive the
    * call that made it — a stream drain's memory-sink view or parquet
    * landing ([[graft.stream.Streams.runAvailableNow]]), a weight
    * broadcast ([[graft.text.QualityModel.scoreDocsWith]]). The next
    * [[releaseOwned]] of `spark` runs `free` once.
    */
  def ownOutput(spark: SparkSession)(free: SparkSession => Unit): Unit =
    synchronized(outputs.put(spark,
      free :: Option(outputs.get(spark)).getOrElse(Nil)))

  /** Harness hygiene between queries ([[graft.Harness.drive]]): unpersist
    * every graft-owned, unpinned RDD of this context and free the
    * session's [[ownOutput]]s. Operators leave state they cannot free
    * themselves (the returned frame must outlive the caller's action);
    * across a full-suite session those blocks fill the storage pool and
    * every later task pays eviction churn (r13 forensics: untouched tail
    * queries inflated up to 10× in run_ms, walls rising monotonically
    * per iteration; normal in isolation).
    */
  def releaseOwned(spark: SparkSession): Unit = {
    val (rdds, frees) = synchronized {
      (spark.sparkContext.getPersistentRDDs.values
        .filter(r => owned.contains(r) && !pinned.contains(r)).toList,
        Option(outputs.remove(spark)).getOrElse(Nil))
    }
    rdds.foreach(unpersist)
    frees.foreach(_(spark))
  }

  /** A session-registry entry: `value` derived from `source` at its
    * [[graft.io.Tables.snapshotTag]] `tag` (both empty for a
    * source-less entry).
    */
  final case class Entry(name: String, source: String, tag: String,
                         value: Any)

  private val cache =
    new java.util.HashMap[(SparkSession, String, String), Entry]

  /** Cross-query state: `build(tag)` ONCE per (session, name, source)
    * and reused while `source`'s snapshot tag is unchanged; a tag change
    * hands the superseded value to `drop` and rebuilds. With no
    * `source` the tag is constant: built once per session. Entries of
    * stopped sessions are evicted (ADVICE r10): their blocks died with
    * the executors, but the map would keep values and sessions
    * reachable for the life of the JVM.
    */
  def sessionMemo[T](s: SparkSession, name: String, source: String = "",
                     drop: T => Unit = (_: T) => ())(build: String => T): T =
    cache.synchronized {
      cache.keySet.removeIf(_._1.sparkContext.isStopped)
      val key = (s, name, source)
      val tag =
        if (source.isEmpty) "" else graft.io.Tables.snapshotTag(s, source)
      val cur = Option(cache.get(key))
      cur.filter(_.tag == tag).map(_.value.asInstanceOf[T]).getOrElse {
        cur.foreach { e => cache.remove(key); drop(e.value.asInstanceOf[T]) }
        val value = build(tag)
        cache.put(key, Entry(name, source, tag, value))
        value
      }
    }

  /** A [[sessionMemo]] relation: `build` must return a bare checkpoint
    * frame; it is [[pin]]ned, and [[release]]d once superseded.
    */
  def sessionCached(s: SparkSession, name: String, source: String)
                   (build: => DataFrame): DataFrame =
    sessionMemo[DataFrame](s, name, source, release(_)) { _ =>
      val frame = build
      pin(frame)
      frame
    }

  /** What cross-query state `s` holds, and what it was built from. */
  def sessionEntries(s: SparkSession): Seq[Entry] = cache.synchronized {
    import scala.jdk.CollectionConverters._
    cache.asScala.collect { case ((k, _, _), e) if k eq s => e }.toSeq
  }
}
