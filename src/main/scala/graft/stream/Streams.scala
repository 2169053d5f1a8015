package graft.stream

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.Materialize

/** Structured Streaming surface (SURVEY.md §2.9): the Spark-native
  * replacement for the reference's S3→SQS→Lambda event path.
  *
  *  - File source with glob filter = the S3 OBJECT_CREATED(*.json)
  *    notification (`data_pipeline_stack.py:119-125`); the source's
  *    seen-files log plays the SQS role.
  *  - `maxFilesPerTrigger=1` mirrors SQS `batch_size=1`
  *    (`data_pipeline_stack.py:103`).
  *  - `foreachBatch` re-running the full report mirrors the reference's
  *    recompute-per-event semantics (`report_processor.py:294-353`).
  *  - Watermark + event-time windows are the generalization the
  *    reference lacks (its late-data story is full recompute).
  *  - `Trigger.AvailableNow` is the scheduled-cron path (ST1): drain
  *    everything pending, then stop — exactly-once via checkpoint.
  */
object Streams {

  /** File-source stream over a landing directory (the reference's S3
    * prefix), schema-first (streaming sources require explicit schema).
    */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet",
                 pathGlobFilter: Option[String] = None,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    var r = spark.readStream.format(format).schema(schema)
    pathGlobFilter.foreach(g => r = r.option("pathGlobFilter", g))
    maxFilesPerTrigger.foreach(n => r = r.option("maxFilesPerTrigger", n))
    r.load(dir)
  }

  /** Watermarked tumbling event-time aggregation: events per
    * (1h window, type). State is bounded by the watermark — at 100 TB/d
    * the state store holds only open windows per key, not history.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "10 minutes")
  : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window variant (1h window every 15m). */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes")
  : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"))

  /** Session windows (30-minute gap) per user — the stateful operator
    * the batch `FuncQueries.sessionize` mirrors declaratively.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Output row of [[runningUserTotals]]. */
  case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful operator (`mapGroupsWithState`): cumulative
    * per-user event count and value total across micro-batches. State
    * is one (count, sum) pair per user — bounded by the user
    * cardinality, not the stream length; at 100 TB/day the state store
    * shards by the group key like any keyed shuffle. NoTimeout because
    * totals are lifetime aggregates (a session variant would use
    * event-time timeout).
    */
  def runningUserTotals(events: DataFrame)
                       (implicit spark: SparkSession)
  : org.apache.spark.sql.Dataset[UserStat] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserStat](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (n, t) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; t += r._2 }
          state.update((n, t))
          UserStat(uid, n, math.rint(t * 100) / 100)
      }
  }

  /** One session interval in [[SessionizerProcessor]] state (epoch µs). */
  case class SessState(start: Long, end: Long, n: Long, total: Double)

  /** [[SessionizerProcessor]] per-user state: ALL not-yet-closed sessions. */
  case class SessBuf(sessions: Seq[SessState])

  /** A completed session emitted by [[closedSessionsTws]]. */
  case class SessionOut(user_id: Long, s_start: java.sql.Timestamp,
                        s_end: java.sql.Timestamp, n_events: Long,
                        session_value: Double)

  /** Gap sessionization as a Spark 4 `StatefulProcessor`
    * (`transformWithState`) — the engine-owned alternative to the
    * built-in `session_window` aggregate's sort-and-merge state
    * machine (VERDICT r12 #4), emitting each COMPLETED session once.
    *
    * Correctness contract: a session is emitted ONLY once the
    * watermark has passed `end + gap` — the earliest moment no
    * in-order event can still extend or merge it. (Emitting as soon as
    * a later in-batch event opens the next session would be wrong: an
    * above-watermark event in a LATER batch may fall inside the
    * already-emitted session's gap window and should have extended or
    * bridged it.) So state per user is the list of UNDECIDED sessions
    * inside one gap horizon — bounded by watermark delay / gap, not
    * stream length; at 100 TB/day the state store shards by user like
    * any keyed shuffle. Each batch folds that key's valid events in
    * (sort, gap-merge, merging any sessions they bridge, extending
    * starts backward as well as ends forward), emits every session
    * whose `end + gap ≤ watermark`, and keeps the rest. An event-time
    * TIMER at the earliest closable millisecond closes sessions when
    * the user goes quiet — closure CORRECTNESS is the µs-exact
    * predicate re-evaluated at fire time; the ms-grain timer only
    * decides when to re-check, so the µs event grain never leaks into
    * timer math.
    *
    * Emitted `s_end` is `last event + gap` — the `session_window.end`
    * convention — and `session_value` is the RAW sum (rounding is
    * presentation, Catalyst `round` at the call site keeps oracle
    * parity). Requires the RocksDB state store provider, like every
    * transformWithState operator; [[runAvailableNow]] selects it.
    */
  class SessionizerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long, Double), SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var open: ValueState[SessBuf] = _
    @transient private var timerTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[SessBuf]("open",
        Encoders.product[SessBuf], TTLConfig.NONE)
      timerTs = getHandle.getValueState[Long]("timer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def usToTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    /** Merge state + fresh events, emit closed, reschedule the timer.
      * `timerLive` is false on the expired-timer path (the fired timer
      * is already gone — re-register even at an unchanged target).
      */
    private def fold(uid: Long, fresh: List[SessState], wmUs: Long,
                     timerLive: Boolean): Iterator[SessionOut] = {
      val prior = if (open.exists()) open.get().sessions else Nil
      val merged = (prior ++ fresh).sortBy(s => (s.start, s.end))
        .foldLeft(List.empty[SessState]) { (acc, s) =>
          acc match {
            case h :: t if s.start <= h.end + gapUs =>
              SessState(h.start, math.max(h.end, s.end),
                h.n + s.n, h.total + s.total) :: t
            case _ => s :: acc
          }
        }.reverse
      val (closed, stillOpen) = merged.partition(_.end + gapUs <= wmUs)
      val had =
        if (timerLive && timerTs.exists()) Some(timerTs.get()) else None
      if (stillOpen.isEmpty) {
        open.clear()
        had.foreach(getHandle.deleteTimer)
        timerTs.clear()
      } else {
        open.update(SessBuf(stillOpen))
        // ceil to the next ms tick: at fire time wm ≥ want, and the
        // µs predicate above closes exactly the right sessions
        val wantMs = Math.floorDiv(
          stillOpen.map(_.end + gapUs).min + 999L, 1000L)
        if (had != Some(wantMs)) {
          had.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(wantMs)
          timerTs.update(wantMs)
        } else if (!timerLive) {
          getHandle.registerTimer(wantMs)
          timerTs.update(wantMs)
        }
      }
      closed.iterator.map(s => SessionOut(uid, usToTs(s.start),
        usToTs(s.end + gapUs), s.n, s.total))
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
        timers: TimerValues): Iterator[SessionOut] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      // drop below-watermark input explicitly: keyed-state operators
      // do not late-filter, unlike the built-in session window
      val fresh = rows.collect {
        case (_, _, us, v) if us >= wmUs => SessState(us, us, 1, v)
      }.toList
      fold(key, fresh, wmUs, timerLive = true)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      fold(key, Nil, timers.getCurrentWatermarkInMs() * 1000L,
        timerLive = false)
  }

  /** Closed-session emission per user via [[SessionizerProcessor]]
    * (`transformWithState`), in the `session_window` output convention
    * (`s_end = last event + gap`, closed-only, append).
    */
  def closedSessionsTws(events: DataFrame, gapMinutes: Int = 30,
                        watermark: String = "10 minutes")
                       (implicit spark: SparkSession)
  : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      // ts stays in the projection (the watermark column); the µs
      // epoch rides alongside so interval math never round-trips
      // through ms-grain Timestamp.getTime
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new SessionizerProcessor(gapMinutes * 60000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Watermarked stream-stream inner join: match each right event to
    * left events of the same key within `[left.ts, left.ts + maxDelay]`
    * — e.g. purchases attributed to the preceding view. BOTH sides
    * carry watermarks and the join has a time-range predicate, which is
    * what lets Spark BOUND the buffered state (each side evicts rows
    * older than watermark + range) — an unconstrained stream-stream
    * join would buffer forever. At 100 TB/day state is sharded by the
    * equi-key like any keyed shuffle.
    *
    * Output: key, left ts/id, right ts/id, and the right value.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       keyCol: String = "user_id",
                       tsCol: String = "ts", idCol: String = "event_id",
                       valueCol: String = "value",
                       maxDelay: String = "30 minutes",
                       watermark: String = "10 minutes"): DataFrame = {
    val l = left
      .withWatermark(tsCol, watermark)
      .select(col(keyCol), col(tsCol).as("l_ts"), col(idCol).as("l_id"))
    val r = right
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).as("__rk"), col(tsCol).as("r_ts"),
        col(idCol).as("r_id"), col(valueCol).as("r_value"))
    l.join(r, col(keyCol) === col("__rk") && col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"))
      .drop("__rk")
  }

  /** Streaming exact-dedup (the incremental leg of `dedup/Dedup.exact`):
    * keep the FIRST arrival per content fingerprint, dropping re-sends
    * that arrive within the watermark horizon.
    * `dropDuplicatesWithinWatermark` bounds the state store to
    * fingerprints seen inside the horizon — at 100 TB/day the state is
    * (fp → firstSeen) for one horizon, not the corpus history; a
    * full-history dedup instead joins against the at-rest fingerprint
    * table in `foreachBatch`.
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
                  tsCol: String = "ts",
                  watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.text.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Per-emission row of [[heavyHittersStream]]: the group's current
    * sketch as parallel sorted arrays (deterministic order for memory
    * sinks and downstream explodes).
    */
  case class HeavyHitters(grp: String, tokens: Seq[String],
                          counts: Seq[Long])

  /** STREAMING heavy hitters: a Misra–Gries sketch per group key,
    * folded across micro-batches via `mapGroupsWithState` — the
    * streaming leg of the batch `misra_gries` aggregate, running the
    * IDENTICAL algorithm steps ([[graft.functions.MisraGries]] — one
    * implementation, two execution surfaces).
    *
    * State is O(k) counters per group whatever the stream length —
    * the property that makes corpus-scale "top tokens per language /
    * per source, live" viable: the state store shards by group key
    * like any keyed shuffle, each update folds only the batch's rows,
    * and the MG error bound (undercount ≤ N/(k+1)) holds across
    * batches because the fold order is just one serial MG pass per
    * group. NoTimeout: lifetime statistics; a windowed variant would
    * swap in event-time timeout, as [[closedSessionsTws]] closes on
    * an event-time timer.
    *
    * Emits the group's CURRENT sketch each trigger (Update mode).
    */
  def heavyHittersStream(toks: DataFrame, k: Int,
                         grpCol: String = "grp", tokCol: String = "tok")
                        (implicit spark: SparkSession)
  : org.apache.spark.sql.Dataset[HeavyHitters] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    import graft.functions.MisraGries
    toks.select(col(grpCol).cast("string"), col(tokCol).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], HeavyHitters](
        GroupStateTimeout.NoTimeout) {
        case (grp, rows, state) =>
          val buf = scala.collection.mutable.HashMap
            .from(state.getOption.getOrElse(Map.empty[String, Long]))
          rows.foreach { r =>
            if (r._2 != null) MisraGries.add(buf, r._2, k)
          }
          state.update(buf.toMap)
          val entries = buf.toArray.sortBy { case (t, c) => (-c, t) }
          HeavyHitters(grp, entries.map(_._1).toSeq,
            entries.map(_._2).toSeq)
      }
  }

  /** One stored signature in a band bucket's state. */
  case class BandSig(doc_id: Long, sig: Long)

  /** Per-band state of [[nearDupBands]]: every signature this bucket
    * has seen, newest first.
    */
  case class BandBuf(sigs: List[BandSig])

  /** A band-level near-dup hit: `doc_id` matched some earlier doc in
    * `block` at Hamming distance `hamming` (the minimum over the
    * bucket). A doc can hit in up to 4 bands; consumers OR per doc.
    */
  case class BandHit(doc_id: Long, block: Int, hamming: Int)

  /** STREAMING SimHash near-dup — ingest-time filtering, the streaming
    * leg of the batch [[graft.dedup.Dedup.simhashPairs]] relation.
    *
    * Shape: each doc is stamped with its row-local signature
    * ([[graft.dedup.Dedup.simhashRow]] — no shuffle on the stream
    * side), exploded into 4 × 16-bit band keys (Manku et al., WWW
    * 2007: any pair within Hamming ≤ 3 of a 64-bit key shares at least
    * one exact 16-bit block), and routed through
    * `flatMapGroupsWithState` keyed on (block, band key). Each band
    * bucket's state is the list of signatures it has seen; a doc is
    * emitted as a [[BandHit]] iff some EARLIER doc in the bucket lies
    * within `maxHamming`. "Earlier" = smaller `doc_id`: rows are
    * folded in `doc_id` order within each batch, so with id-ordered
    * arrival (one AvailableNow batch, or an id-ordered landing
    * sequence) the emitted relation is EXACTLY
    * `∃ w: w.doc_id < d.doc_id ∧ sameBand ∧ hamming(w, d) ≤ maxHamming`
    * — SQL-replayable, which is what the DuckDB oracle for
    * `q_stream_neardup` checks. Docs are added to state whether or
    * not they matched (the relation is "close to any earlier doc",
    * not greedy-kept-set).
    *
    * Scale: state shards across the cluster by band key like any
    * keyed shuffle; a bucket holds only docs agreeing on 16 exact
    * bits, so bucket size tracks true near-dup density, not corpus
    * size. The per-bucket compare is O(|bucket|) per doc; `maxBucket`
    * is a LOUD guard (fail, not silently degrade) against degenerate
    * corpora — a bucket that hot means mega-cluster content that
    * exact dedup should have removed upstream.
    */
  def nearDupBands(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 8192,
                   textCol: String = "text", idCol: String = "doc_id")
                  (implicit spark: SparkSession)
  : org.apache.spark.sql.Dataset[BandHit] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val sigs = docs.select(
      col(idCol).cast("long").as("doc_id"),
      graft.dedup.Dedup.simhashRow(col(textCol)).as("sig"))
    val bands = sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("block"))
      .withColumn("bkey",
        call_function("shiftright", col("sig"), col("block") * lit(16))
          .bitwiseAND(lit(65535L)))
      .as[(Long, Long, Int, Long)]
    bands
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[BandBuf, BandHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((block, _), rows, state) =>
          var seen = state.getOption.map(_.sigs).getOrElse(Nil)
          val hits = List.newBuilder[BandHit]
          // doc_id order within the batch => deterministic, and equal
          // to global id order when arrival is id-ordered
          for ((docId, sig, _, _) <- rows.toSeq.sortBy(_._1)) {
            var best = Int.MaxValue
            seen.foreach { p =>
              val h = java.lang.Long.bitCount(p.sig ^ sig)
              if (h < best) best = h
            }
            if (best <= maxHamming) hits += BandHit(docId, block, best)
            seen = BandSig(docId, sig) :: seen
          }
          require(seen.size <= maxBucket,
            s"nearDupBands: band bucket (block=$block) holds " +
              s"${seen.size} > maxBucket=$maxBucket signatures — " +
              "degenerate near-identical corpus; run exact dedup " +
              "upstream or raise maxBucket")
          state.update(BandBuf(seen))
          hits.result().iterator
      }
  }

  /** One curated document row flowing between streaming hops. */
  case class DocRow(doc_id: Long, lang: String, text: String)

  /** Per-fingerprint state of [[firstSeenDocs]]: the doc_id that
    * claimed this fingerprint (kept for observability; existence alone
    * decides).
    */
  case class FpSeen(first: Long)

  /** STREAMING first-seen exact dedup — the ingest-time form of
    * [[graft.dedup.Dedup.exact]]: key each doc on its content
    * fingerprint (md5 of the raw text, the same key the batch dedup
    * and the oracle use), keep ONE bounded state cell per distinct
    * fingerprint, and emit only the first doc to arrive with it.
    * Within a micro-batch "first" = smallest doc_id (deterministic),
    * so with id-ordered arrival — one AvailableNow batch, or an
    * id-ordered landing sequence — the emitted set is exactly
    * `doc_id = min(doc_id) per md5(text)`, the SQL-replayable
    * relation. Across batches the semantics is FIRST-ARRIVAL wins
    * (state short-circuits the whole group), which is what a
    * continuous ingest wants: a re-crawled duplicate never re-enters
    * the corpus.
    *
    * Scale: state is one (16-byte key, 8-byte id) cell per DISTINCT
    * document, sharded across the cluster by fingerprint — the same
    * footprint the incremental batch dedup's signature index carries,
    * but maintained inline by the state store instead of a nightly
    * merge.
    */
  def firstSeenDocs(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", langCol: String = "lang")
                   (implicit spark: SparkSession)
  : org.apache.spark.sql.Dataset[DocRow] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val keyed = docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(langCol).cast("string").as("lang"),
      col(textCol).cast("string").as("text"),
      coalesce(md5(col(textCol)), lit("")).as("fp"))
      .as[(Long, String, String, String)]
    keyed.groupByKey(_._4)
      .flatMapGroupsWithState[FpSeen, DocRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_._1)
            state.update(FpSeen(first._1))
            Iterator.single(DocRow(first._1, first._2, first._3))
          }
      }
  }

  /** The reference's recompute-per-file semantics: every micro-batch
    * triggers a full re-run of `recompute` over the batch (stream side)
    * and whatever static state the report joins against.
    */
  def foreachBatchRecompute(stream: DataFrame,
                            recompute: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) => recompute(batch, id) }

  /** State partition width of every drain: `spark.sql.shuffle.partitions`
    * while its query runs. Every stateful operator opens one state store
    * per partition per micro-batch, so inheriting a batch-tuned 200 (or
    * 32) multiplies fixed per-batch cost for no parallelism gain when
    * keys are few; 4 is what every recorded run used. The count freezes
    * into the checkpoint at first run, so a deployment with large state
    * sizes it to key cardinality when the checkpoint is created
    * (BASELINE §19.3: at sf10 on 32 cores width 4 held q_stream_sessions
    * to an average parallelism of 2.2, and width 16 cut its wall 42%).
    */
  private val StateWidth = 4

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Minimum usable bytes `/dev/shm` must report before a drain
    * checkpoint routes there (ADVICE r10: containers commonly cap shm
    * at 64 MB — a stateful drain whose deltas exceed that must fall
    * back to disk rather than fail with no-space). Overridable, and
    * the tmpfs path is fully opt-out-able, via the system property
    * `graft.stream.ephemeralDir` (any writable dir, e.g. /tmp).
    */
  private val ShmMinUsableBytes = 256L << 20

  /** Checkpoint root for a drain: a RAM-backed tmpfs (`/dev/shm`) when
    * the platform has one, else `java.io.tmpdir`. A drain's checkpoint
    * exists only to drive the micro-batch commit protocol within the
    * call, so paying disk fsync latency per offsets/commit/state-delta
    * write buys nothing and makes the drain's wall track /tmp's IO
    * window (measured 2.5–9.5 ms per 4 KB fsync, BASELINE.md §13).
    */
  private def ephemeralCheckpointDir(): Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val root = sys.props.get("graft.stream.ephemeralDir") match {
      case Some(dir) =>
        val p = Paths.get(dir)
        if (Files.isDirectory(p) && Files.isWritable(p)) p else tmp
      case None =>
        val shm = Paths.get("/dev/shm")
        val shmOk = Files.isDirectory(shm) && Files.isWritable(shm) &&
          (try Files.getFileStore(shm).getUsableSpace >= ShmMinUsableBytes
           catch { case NonFatal(_) => false })
        if (shmOk) shm else tmp
    }
    Files.createTempDirectory(root, "graft_ck_")
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    } catch { case NonFatal(_) => () }

  /** The one streaming-query runner (ST1 cron path): drain everything
    * pending with `Trigger.AvailableNow`, then return the drained rows
    * as a batch frame. It owns the drain's lifecycle:
    *
    *  - checkpoint: an ephemeral dir, deleted when the call returns or
    *    throws;
    *  - state width: [[StateWidth]];
    *  - state store: the RocksDB provider when the plan holds a
    *    `transformWithState` (which refuses the default HDFS-backed
    *    store), else the session's own, so a provider set in the
    *    session conf reaches every other drain;
    *  - session conf: whatever it sets is restored afterwards, on
    *    failure too;
    *  - output: `format` "memory" collects the rows into a driver-side
    *    view named `queryName`, read back at width 1; "parquet" lands
    *    them (append mode only) in a fresh directory on durable
    *    storage, the next hop's file source (see [[landing]]) — the
    *    hop-to-hop shape of a multi-stage pipeline. Either is registered
    *    with [[graft.ops.Materialize.ownOutput]], so the harness's
    *    `releaseOwned` drops the view or deletes the directory.
    *
    * The memory read-back is `coalesce(1)`: `s.table` plans the
    * driver-resident rows as a LocalTableScan split across
    * `spark.sql.leafNodeDefaultParallelism` partitions — at the 32-core
    * gate that was 32 near-empty tasks whose run time was 5–40× their
    * CPU (12.2 s run / 2.5 s cpu for q_stream_hourly's 3,385 rows).
    * One task is the honest width at any scale, because a memory sink
    * is bounded by driver memory by construction.
    */
  def runAvailableNow(df: DataFrame, queryName: String,
                      outputMode: String = "append",
                      format: String = "memory"): DataFrame = {
    val spark = df.sparkSession
    val landingDir = format match {
      case "memory" =>
        Materialize.ownOutput(spark)(_.catalog.dropTempView(queryName))
        None
      case "parquet" =>
        val dir = Files.createTempDirectory(s"graft_land_${queryName}_")
        Materialize.ownOutput(spark)(_ => deleteRecursively(dir))
        Some(dir.toString)
      case other =>
        throw new IllegalArgumentException(s"drain format: $other")
    }
    val tws = df.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState])
    val conf = Seq("spark.sql.shuffle.partitions" -> StateWidth.toString) ++
      (if (tws) Seq(ProviderKey -> RocksDB) else Nil)
    val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ck = ephemeralCheckpointDir()
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val w = df.writeStream
        .outputMode(outputMode)
        .format(format)
        .queryName(queryName)
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow())
      landingDir.fold(w)(w.option("path", _)).start().awaitTermination()
    } finally {
      prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      deleteRecursively(ck)
    }
    landingDir.fold(spark.table(queryName).coalesce(1))(
      spark.read.schema(df.schema).parquet(_))
  }

  /** The directory a `format = "parquet"` [[runAvailableNow]] landed
    * in, for the next hop's [[fileSource]].
    */
  def landing(drained: DataFrame): String =
    drained.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.head.toString
    }.getOrElse(throw new IllegalArgumentException(
      "not a parquet drain's frame"))
}
