package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.BatchJob
import graft.ingest.{BatchConfig, BatchPipeline, RecData}

/** Structured Streaming surface for the `events` stream: the same windowed
  * aggregations [[graft.queries.EventsOps]] runs in batch, incrementally.
  * Batch results double as the oracle for these (verified in
  * StreamingSpec) — identical epoch-aligned window semantics.
  *
  * The reference's "streaming" is only file backpressure
  * (`lib/batchProcessing.js:317,390` — pause/resume, not stream semantics);
  * this module is the scale-layer generalization: unbounded sources,
  * watermarked state eviction, exactly-once file sinks.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming read of event parquet/json drops. `maxFilesPerTrigger`
    * is the ingest-throttle replacement for the reference's Bottleneck limiter
    * (P15) in streaming mode.
    */
  def readEventStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling 1-hour aggregation with a watermark: state for a window is
    * dropped once the watermark passes its end — bounded memory on an
    * unbounded stream.
    */
  def hourlyAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Stream-static enrichment: every micro-batch of the stream equi-joins
    * the broadcast STATIC dimension — the lookup-table join every event
    * pipeline runs (user → tier, device → model). The static side plans
    * once and broadcasts into each micro-batch; no stream state, no
    * watermark — a map-side hash lookup at any stream length. At 100 TB
    * the dim refreshes by restarting the query (or via a rocksdb state
    * join if it must be transactional with the stream).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key))

  /** Input / state / output rows for [[RunningStatsProcessor]]. Money is
    * integer cents so prefix sums are exact and order-checkable.
    */
  case class TwsEvent(user_id: Long, event_id: Long, ts_us: Long, cents: Long)
  case class TwsState(n: Long, sum_cents: Long, max_cents: Long)
  case class TwsRow(user_id: Long, event_id: Long, nth: Long,
      cum_cents: Long, max_cents: Long, spike: Boolean)

  /** PER-KEY RUNNING PREFIX STATS via Spark 4's `transformWithState` —
    * the arbitrary-stateful-processing v2 API (typed `ValueState` handles,
    * timers, TTL; RocksDB-backed by requirement). Maintains each user's
    * running (count, sum, max) over integer cents and emits one row per
    * event carrying the prefix aggregates plus a spike flag (value more
    * than 2× the running mean BEFORE the event — the online anomaly
    * check). Rows are processed in (ts, event_id) order within each
    * invocation, so as long as micro-batches deliver each user's events
    * in global time order (the replay fixture range-partitions files by
    * time), the emitted prefix rows are independent of WHERE the batch
    * boundaries fall — which is what makes the batch-windows oracle
    * exact.
    *
    * Scale: state is one fixed-size row per user in RocksDB (spillable,
    * TTL-able); each micro-batch touches only the users it contains.
    */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsEvent, TwsRow] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var state: ValueState[TwsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsState](
        "prefix", Encoders.product[TwsState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
        timerValues: streaming.TimerValues): Iterator[TwsRow] = {
      val sorted = rows.toIndexedSeq.sortBy(r => (r.ts_us, r.event_id))
      var s = if (state.exists()) state.get() else TwsState(0L, 0L, 0L)
      val out = sorted.map { r =>
        val spike = s.n > 0 && r.cents * s.n > 2L * s.sum_cents
        s = TwsState(s.n + 1, s.sum_cents + r.cents, math.max(s.max_cents, r.cents))
        TwsRow(key, r.event_id, s.n, s.sum_cents, s.max_cents, spike)
      }
      state.update(s)
      out.iterator
    }
  }

  /** Input/state/output rows for [[InactivityExpiryProcessor]]: the `ts`
    * timestamp column carries the watermark; `ts_us` is the exact-micros
    * payload (java.sql.Timestamp would round-trip through ms + nanos).
    */
  case class TimedEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, ts_us: Long)
  case class TwsSeen(n: Long, last_us: Long)
  case class TwsExpiry(user_id: Long, n_events: Long, last_ts_us: Long)

  /** EVENT-TIME TIMERS + EXPIRY via `transformWithState`: each user's
    * state re-arms a single inactivity timer at `last_seen + gap` on every
    * delivery; when the WATERMARK passes it, `handleExpiredTimer` emits
    * the user's summary and clears the state — the abandoned-session /
    * entity-TTL shape (emit-on-silence), which no aggregation operator
    * expresses because the trigger is the ABSENCE of data. Per-batch
    * updates are commutative (count + max), so the emission is
    * batch-layout-invariant; the replay's far-future sentinel advances
    * the watermark past every live timer so each user emits exactly once.
    *
    * Scale: one fixed-size state row and at most ONE registered timer per
    * user (re-arm deletes the old), both RocksDB-resident; expiry work is
    * proportional to the users going quiet, not the stream.
    */
  class InactivityExpiryProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TimedEvent, TwsExpiry] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var state: ValueState[TwsSeen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsSeen](
        "seen", Encoders.product[TwsSeen], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
        timerValues: streaming.TimerValues): Iterator[TwsExpiry] = {
      var s = if (state.exists()) state.get() else TwsSeen(0L, Long.MinValue)
      rows.foreach(r => s = TwsSeen(s.n + 1, math.max(s.last_us, r.ts_us)))
      state.update(s)
      // re-arm: at most one live timer per key
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(s.last_us / 1000L + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: streaming.TimerValues,
        expiredTimerInfo: streaming.ExpiredTimerInfo): Iterator[TwsExpiry] = {
      val s = state.get()
      state.clear()
      Iterator.single(TwsExpiry(key, s.n, s.last_us))
    }
  }

  /** Wire [[InactivityExpiryProcessor]] over a watermarked typed stream. */
  def inactivityExpiryStream(events: Dataset[TimedEvent], gapMs: Long): Dataset[TwsExpiry] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new InactivityExpiryProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Wire [[RunningStatsProcessor]] over a typed event stream. */
  def runningStatsStream(events: Dataset[TwsEvent]): Dataset[TwsRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Running per-user session state via mapGroupsWithState: counts sessions
    * split on >30 min gaps — the stateful-processing surface
    * (KeyValueGroupedDataset) with explicit timeout-based eviction.
    */
  final case class UserSessions(userId: Long, nSessions: Long, nEvents: Long)
  final case class SessionState(lastTsMicros: Long, nSessions: Long, nEvents: Long)

  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val gapMicros = 1800L * 1000000L
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { ts =>
            val newSession = st.lastTsMicros == Long.MinValue || ts - st.lastTsMicros > gapMicros
            st = SessionState(ts, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
          }
          state.update(st)
          UserSessions(userId, st.nSessions, st.nEvents)
      }
      .toDF()
  }

  /** Per-session rows via flatMapGroupsWithState: unlike [[sessionize]]
    * (one running row per user), this EMITS one row per completed session —
    * the shape downstream session-analytics tables want. State holds only
    * the open session; closed sessions flush to the output iterator.
    */
  final case class SessionRow(userId: Long, startUs: Long, endUs: Long, nEvents: Long)
  final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long)

  def sessionRows(spark: SparkSession, events: DataFrame, gapUs: Long = 1800L * 1000000L): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[OpenSession]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          val closed = Seq.newBuilder[SessionRow]
          var open = state.getOption
          sorted.foreach { ts =>
            open match {
              case Some(o) if ts - o.lastUs <= gapUs =>
                open = Some(o.copy(lastUs = ts, nEvents = o.nEvents + 1))
              case Some(o) =>
                closed += SessionRow(userId, o.startUs, o.lastUs, o.nEvents)
                open = Some(OpenSession(ts, ts, 1))
              case None =>
                open = Some(OpenSession(ts, ts, 1))
            }
          }
          open.foreach(state.update)
          // bounded batch: flush the still-open session too so batch-mode
          // output is complete; a true stream would rely on a timeout
          val tail = open.map(o => SessionRow(userId, o.startUs, o.lastUs, o.nEvents)).toSeq
          (closed.result() ++ tail).iterator
      }
      .toDF()
  }

  /** True-streaming sessionization: watermark + event-time state timeout, so
    * an idle user's open session closes (and its state evicts) once the
    * watermark passes lastTs + gap — bounded state on an unbounded stream,
    * unlike [[sessionRows]] which flushes opens per batch and never evicts.
    * Late events within the watermark merge into the open session;
    * later-than-watermark events are dropped by Spark before the state op.
    */
  def sessionRowsWatermarked(
      spark: SparkSession, events: DataFrame,
      gapUs: Long = 1800L * 1000000L, watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    val gapMs = gapUs / 1000L
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val o = state.get
            state.remove()
            Iterator.single(SessionRow(userId, o.startUs, o.lastUs, o.nEvents))
          } else {
            val sorted = rows.map(_._3).toSeq.sorted
            val closed = Seq.newBuilder[SessionRow]
            var open = state.getOption
            sorted.foreach { ts =>
              open match {
                case Some(o) if ts - o.lastUs <= gapUs =>
                  open = Some(OpenSession(math.min(o.startUs, ts),
                    math.max(o.lastUs, ts), o.nEvents + 1))
                case Some(o) =>
                  closed += SessionRow(userId, o.startUs, o.lastUs, o.nEvents)
                  open = Some(OpenSession(ts, ts, 1))
                case None =>
                  open = Some(OpenSession(ts, ts, 1))
              }
            }
            open.foreach { o =>
              state.update(o)
              // close the session when the WATERMARK (not wall clock) passes
              // the gap after its last event
              state.setTimeoutTimestamp(o.lastUs / 1000L + gapMs)
            }
            closed.result().iterator
          }
      }
      .toDF()
  }

  /** DECLARATIVE sessionization: Spark's native `session_window` operator —
    * the same per-user gap-merge [[sessionRowsWatermarked]] hand-rolls in
    * flatMapGroupsWithState, but expressed as a groupBy so Catalyst owns the
    * state layout (MergingSessionsExec merges overlapping windows in the
    * state store) and append-mode emission follows the watermark. Sessions
    * are `[ts, ts+gap)` intervals and TOUCHING intervals merge: an event at
    * exactly the previous ts + gap joins the session, one microsecond past
    * it splits (pinned by StreamingSpec's boundary test, so the batch/oracle
    * restatement must use strict `> gap` as its new-session test).
    */
  def sessionWindowAgg(
      events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))

  /** Streaming exact dedup: keep the first occurrence per key, with state
    * bounded by the watermark — `dropDuplicatesWithinWatermark` evicts a
    * key's dedup state once the watermark passes its event time plus the
    * delay, so an unbounded stream doesn't accumulate unbounded state (the
    * streaming analogue of q12's batch exact dedup; duplicates farther
    * apart than the watermark are the accepted trade at scale).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream INTERVAL join — the q25 view→purchase funnel as a true
    * two-stream join: each view matches purchases by the same user landing
    * in `[view.ts, view.ts + window]`. Both sides carry watermarks and the
    * join condition bounds event time in both directions, which is what
    * lets the state store evict: a buffered view is dropped once the
    * purchase-side watermark passes `view.ts + window`, a buffered
    * purchase once the view-side watermark passes its ts — state is
    * watermark-bounded, not stream-length-bounded, the requirement for an
    * unbounded 100 TB/day event feed. Inner-join matches emit as soon as
    * both sides arrive (watermarks gate only eviction), so a bounded
    * replay emits exactly the batch join's rows.
    */
  def intervalJoinStream(
      views: DataFrame,
      purchases: DataFrame,
      window: String = "30 minutes",
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    // left_outer: an unmatched view is emitted (null purchase columns)
    // only once the watermark proves no in-window purchase can still
    // arrive — v_ts + window behind the global watermark. The time-range
    // condition is what makes the outer semantics decidable at all.
    v.join(p,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $window"),
        joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("v_ts"), col("p_ts"))
  }

  /** Every line of every file landing in `dir`, with `_file = "stream"`
    * and `recId = 0`: exact file-order ids are a batch-mode guarantee
    * (documented divergence).
    */
  private def lineStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): Dataset[RecData] = {
    import spark.implicits._
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(lit("stream").as("fileName"), col("value").as("rec"), lit(0L).as("recId"))
      .as[RecData]
  }

  /** Streaming ingest: watch a directory for line files, parse each record
    * with the fidelity CSV parser, route, and (caller-side) sink status +
    * data. Replaces the pause/resume reader + Bottleneck limiter with
    * `maxFilesPerTrigger` ingest throttling; records go through the batch
    * row builder ([[graft.ingest.BatchPipeline.parseCsv]]), so batch results
    * oracle the stream.
    */
  def csvIngestStream(
      spark: SparkSession,
      dir: String,
      spec: graft.ingest.Parsers.CsvSpec,
      maxFilesPerTrigger: Int = 16): DataFrame =
    BatchPipeline.route(BatchPipeline.parseCsv(lineStream(spark, dir, maxFilesPerTrigger), spec))

  /** The reference's ENTIRE job as an unbounded stream: each micro-batch
    * of files landing in `watchDir` runs through [[BatchJob.ingest]], the
    * core of [[BatchJob.processFile]] (any parser, the sinks of `sinks`,
    * the settings of `config`), so `processFile` is the stream's oracle.
    *
    * Replay: checkpointing makes file ingest exactly-once. A re-run batch
    * keeps its batchId and is re-served the same files in the same splits,
    * so `monotonically_increasing_id` numbers its lines the same way and
    * (`stream-<batchId>`, recId) names the same record: the REST POSTs
    * carry it as their Idempotency-Key (a deduplicating receiver applies
    * each record once), and the target and status sinks overwrite their
    * own `run_id` partition, so the batch converges. JDBC appends, so it is
    * at-least-once on replay. A `sinks.runPath` is refused
    * (IllegalArgumentException): a replay would insert a second
    * PROCESSING run row.
    */
  def jobStream(
      spark: SparkSession,
      watchDir: String,
      parser: BatchJob.Parser,
      sinks: BatchJob.Sinks,
      config: BatchConfig,
      checkpointDir: String): StreamingQuery = {
    require(sinks.runPath.isEmpty,
      "the job stream writes no BatchRun rows: a replayed micro-batch would insert a second PROCESSING row")
    import spark.implicits._
    lineStream(spark, watchDir, maxFilesPerTrigger = 16).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[RecData], batchId: Long) =>
        // ids unique within the micro-batch make (run_id, rec_id) unique
        val lines = batch.withColumn("recId", monotonically_increasing_id()).as[RecData]
        BatchJob.ingest(lines, parser, sinks, s"stream-$batchId", config, overwriteRun = true)
        ()
      }
      .start()
  }

  /** Write helper: exactly-once parquet sink with checkpointing. */
  def startParquetSink(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .start()
}
