package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.DeltaLog

/** MESSAGE-BUS SOURCE SEAM for the event stream.
  *
  * Every streaming operator in this engine consumes a DataFrame with
  * [[EventStream.eventSchema]]; nothing downstream cares whether the rows
  * came from a parquet landing zone, a generator, or a message bus. This
  * object makes that seam explicit: an [[EventSource]] is "something that
  * yields the event stream", and a deployment binds ONE of
  *
  *   - [[FileEventSource]] — the replay/landing-zone source every test and
  *     oracle uses (deterministic: same files, same batches);
  *   - [[RateEventSource]] — Spark's `rate-micro-batch` generator mapped
  *     deterministically onto the event schema (fixed rows per batch, fixed
  *     timestamps), the load-harness and E2E source when no files exist;
  *   - [[BusEventSource]] — the production binding: any DataSource-v2
  *     streaming format that emits the Kafka wire shape (binary key/value
  *     plus topic/partition/offset/timestamp). `format = "kafka"` with
  *     `kafka.bootstrap.servers`/`subscribe` options is the canonical
  *     instance; the decode from wire records to typed events is
  *     [[decodeBusRecords]], which is PURE DataFrame projection and
  *     therefore unit-testable without any broker or connector jar on the
  *     classpath (StreamingSpec does exactly that).
  *
  * The reference's ingestion loop is file-only with pause/resume
  * backpressure (`lib/batchProcessing.js:314-332`); a message bus is the
  * scale-layer generalization (SURVEY §2b streaming): offsets replace line
  * numbers as the replay cursor, and the exactly-once contract moves to
  * the sink — [[sinkToDeltaTable]] writes each micro-batch through
  * [[graft.sources.DeltaLog.commitAppendIdempotent]], whose committed
  * `txn` action makes redelivery a detected no-op (the q200 path), so ANY of the three
  * sources composes with at-least-once delivery into exactly-once tables.
  */
object EventBus {

  /** A binding of the event stream to a concrete streaming source. */
  sealed trait EventSource {
    /** The unbounded event stream, in [[EventStream.eventSchema]]'s shape. */
    def read(spark: SparkSession): DataFrame
  }

  /** Landing-zone files (parquet drops), `maxFilesPerTrigger` as the
    * ingest throttle — the deterministic replay source.
    */
  final case class FileEventSource(dir: String, maxFilesPerTrigger: Int = 16)
      extends EventSource {
    override def read(spark: SparkSession): DataFrame =
      EventStream.readEventStream(spark, dir, maxFilesPerTrigger)
  }

  /** `rate-micro-batch` mapped onto the event schema. DETERMINISTIC by
    * construction: exactly `rowsPerBatch` rows per trigger with values
    * 0, 1, 2, … and a fixed timestamp progression from `startMs`, so every
    * derived column below is a pure function of the row's value — two runs
    * (or a replay after a crash) produce identical events for identical
    * batch ids, which is what lets the exactly-once sink test assert
    * contiguous ids with zero duplicates.
    */
  final case class RateEventSource(
      rowsPerBatch: Long,
      startMs: Long = 1700000000000L,
      advanceMsPerBatch: Long = 60000L) extends EventSource {
    override def read(spark: SparkSession): DataFrame =
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch)
        .option("startTimestamp", startMs)
        .option("advanceMillisPerBatch", advanceMsPerBatch)
        .load()
        .select(EventBus.eventColumns(col("value"), col("timestamp")): _*)
  }

  /** THE deterministic sequence→event mapping, shared by
    * [[RateEventSource]] (as columns over the rate stream) and pinned to
    * [[WireBus.payloadJson]] (its serialized twin) by StreamingSpec's
    * equivalence test — edit one without the other and that test fails.
    */
  private[graft] def eventColumns(
      seq: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = Seq(
    seq.as("event_id"),
    ts.as("ts"),
    pmod(seq, lit(97L)).as("user_id"),
    element_at(
      array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error")),
      (pmod(seq, lit(5L)) + 1).cast("int")).as("event_type"),
    (pmod(seq * 37L, lit(10000L)).cast("double") / 100.0).as("value"),
    concat(lit("{\"k\": "), pmod(seq, lit(100L)), lit("}")).as("props"))

  /** A DataSource-v2 streaming format emitting the Kafka wire shape.
    * `BusEventSource("kafka", Map("kafka.bootstrap.servers" -> …,
    * "subscribe" -> "events"))` is the production binding; the format jar
    * is a deployment concern (this container ships none), which is exactly
    * why the decode is factored out and tested on batch rows.
    */
  final case class BusEventSource(format: String, options: Map[String, String])
      extends EventSource {
    override def read(spark: SparkSession): DataFrame =
      decodeBusRecords(
        options.foldLeft(spark.readStream.format(format)) {
          case (r, (k, v)) => r.option(k, v)
        }.load())
  }

  /** Decode bus wire records — `value: binary` JSON payloads plus
    * topic/partition/offset — into typed events. Pure projection: one
    * `from_json` against [[EventStream.eventSchema]], corrupt payloads
    * surfaced as NULL columns rather than task failures (the P5 error-
    * capture doctrine: a poison message must never kill the stream). The
    * bus cursor (topic, partition, offset) rides along for lineage/audit;
    * downstream operators select the event columns and ignore it.
    */
  def decodeBusRecords(records: DataFrame): DataFrame =
    records.select(
      from_json(col("value").cast("string"), EventStream.eventSchema).as("e"),
      col("topic"), col("partition"), col("offset"))
      .select(col("e.*"), col("topic"), col("partition"), col("offset"))

  /** Run `source` into the exactly-once Delta table sink at `root`: every
    * micro-batch appends through
    * [[graft.sources.DeltaLog.commitAppendIdempotent]] under the app id
    * `checkpointDir` (the query's identity) and the batch id —
    * redelivered batches (at-least-once upstream, retried foreachBatch,
    * restarted query) are detected no-ops, so the table holds each event
    * exactly once whatever the source's delivery guarantee. The first
    * batch creates the table. Returns the running query; callers own
    * stop().
    */
  def sinkToDeltaTable(
      spark: SparkSession,
      source: EventSource,
      root: String,
      checkpointDir: String): StreamingQuery =
    source.read(spark)
      // project to the event schema EXACTLY: a bus-backed source carries
      // lineage extras (topic/partition/offset) a direct source doesn't,
      // and the committed table's schema must not depend on which source
      // binding fed it — swapping bindings on an existing table is the
      // seam's whole contract (StreamingSpec proves the committed schema
      // is identical across bindings)
      .select(EventStream.eventSchema.fieldNames.toIndexedSeq.map(col): _*)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        // the txn action rides the commit, so an at-least-once upstream
        // (bus redelivery, retried foreachBatch, restarted query) commits
        // each batch once — the duplicate call is a detected no-op (the
        // StreamingSpec E2E's post-run redelivery probe)
        DeltaLog.commitAppendIdempotent(spark, root, batch, checkpointDir, bid)
        ()
      }
      .start()
}
