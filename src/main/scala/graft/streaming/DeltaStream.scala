package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl,
  Offset => StreamOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types._

import graft.sources.DeltaLog

/** DELTA TABLE AS A STREAM SOURCE — a micro-batch schedule over the
  * batch reads of [[graft.sources.DeltaLog]]: offsets ARE log versions,
  * each trigger consumes the next ≤ `maxVersionsPerTrigger` commits, and
  * each micro-batch is the frame the batch path already builds for its
  * version range. `dataChange=false` OPTIMIZE commits contribute NOTHING
  * (their adds re-house rows a consumer already ingested). This is the
  * shape of delta-spark's own streaming source: a V1 `Source` whose
  * `getBatch` returns the batch read over the commit range, so partition
  * values, column mapping, schema evolution, type widening, timestamp
  * units, deletion vectors and every leaf type the batch read decodes
  * stream the same way.
  *
  * Per batch: `readChangeFeed=true` serves [[DeltaLog.readChangeFeed]]
  * (typed `_change_type`/`_commit_version` rows — cdc files
  * authoritative, cdc-less commits derived, DV rewrites diffed);
  * otherwise [[DeltaLog.changesSince]], where a retracting commit refuses
  * unless `skipChangeCommits` (delta-spark's append-only opt-in) drops
  * it. Restart replays exactly the committed version ranges and the data
  * files are immutable, so a checkpointed file sink downstream is
  * exactly-once end to end. Per-trigger work is changes-sized: a 100 TB
  * table with small daily appends streams at the cost of the appends.
  *
  * Options: `path` (table root, required), `maxVersionsPerTrigger`
  * (default 1), `readChangeFeed`, `skipChangeCommits`, `startingVersion`
  * (`<n>` tails from version n; `latest` serves the current snapshot as
  * the first batch, then tails only new commits — the new-consumer
  * bootstrap that makes a 500-version table cost one snapshot pass, not
  * 500 micro-batches), `startingTimestamp` (commits at or after the
  * timestamp deliver, resolved by commit-file mtime; exclusive with
  * startingVersion).
  */
class DeltaStream extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (providerName, DeltaStream.schemaFor(parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val startV = parameters.get("startingVersion").map(_.trim)
    startV.foreach(s => require(s == "latest" ||
      scala.util.Try(s.toLong).toOption.exists(_ >= 0L),
      s"startingVersion must be a version >= 0 or 'latest', got '$s'"))
    // startingTimestamp (delta-spark's option): zone-less forms
    // ('yyyy-MM-dd [HH:mm:ss[.S]]') resolve in the SPARK SESSION
    // timezone — the clock the batch read's timestamp partition values
    // use — never the JVM default
    val startTs = parameters.get("startingTimestamp").map(_.trim)
    require(startV.isEmpty || startTs.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    val startTsMs = startTs.map { s =>
      val tz = java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val t = scala.util.Try(java.time.Instant.parse(s).toEpochMilli)
        .orElse(scala.util.Try(
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .atZone(tz).toInstant.toEpochMilli))
        .orElse(scala.util.Try(java.time.LocalDate.parse(s)
          .atStartOfDay(tz).toInstant.toEpochMilli))
      require(t.isSuccess,
        s"startingTimestamp must be ISO-8601, 'yyyy-MM-dd HH:mm:ss' or " +
          s"'yyyy-MM-dd', got '$s'")
      t.get
    }
    new DeltaStreamSource(sqlContext.sparkSession, parameters("path"),
      DeltaStream.schemaFor(parameters),
      parameters.get("maxVersionsPerTrigger").fold(1L)(_.toLong),
      parameters.get("readChangeFeed").exists(_.toBoolean),
      parameters.get("skipChangeCommits").exists(_.toBoolean),
      startV, startTsMs)
  }
}

object DeltaStream {
  /** The table's LATEST schema ([[DeltaLog.latestSchema]], which also
    * runs the protocol refusal gate), every field nullable — a column
    * added by schema evolution reads null from pre-evolution files even
    * when the writer recorded it non-nullable — plus the feed's typed
    * columns with `readChangeFeed=true`.
    */
  private def schemaFor(parameters: Map[String, String]): StructType = {
    val root = parameters.get("path")
    require(root.isDefined, "DeltaStream requires option 'path'")
    val base = StructType(
      DeltaLog.latestSchema(root.get).fields.toIndexedSeq.map(_.copy(nullable = true)))
    if (!parameters.get("readChangeFeed").exists(_.toBoolean)) base
    else StructType(base.fields.toIndexedSeq :+
      StructField("_change_type", StringType) :+
      StructField("_commit_version", LongType))
  }
}

private final case class DeltaStreamOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** The V1 contract hands the first batch a `null` start; every later
  * start is the previous end, a [[DeltaStreamOffset]] or, read back from
  * the offset log, any offset whose JSON is the version.
  */
private final class DeltaStreamSource(spark: SparkSession, root: String,
    override val schema: StructType, maxVersionsPerTrigger: Long,
    cdf: Boolean, skipChangeCommits: Boolean,
    startingVersion: Option[String], startingTimestampMs: Option[Long])
  extends Source with SupportsAdmissionControl {

  private val snapshotFirst = startingVersion.contains("latest")

  /** The version before the first batch's commits: absent options replay
    * from v0, `<n>` tails from n, and `startingTimestamp` resolves once
    * per source (an all-older history pins the version current at start,
    * so later polls do not move it past commits that land meanwhile).
    */
  private lazy val firstStart: Long = startingVersion match {
    case Some(n) if !snapshotFirst => n.toLong - 1L
    case _ => startingTimestampMs.fold(-1L)(DeltaLog.startOffsetForTimestamp(root, _))
  }

  private def versionOf(o: StreamOffset): Long = o.json.trim.toLong

  /** Pacing rides the ENGINE's start offset, not a source-side tracker:
    * the next end is a pure function of engine state. `null` means no
    * first batch yet.
    */
  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val cur = DeltaLog.currentVersion(root)
    if (start == null) {
      // the `latest` snapshot is the first batch, whole: pacing applies
      // to the commit tail that follows it
      if (snapshotFirst) return if (cur < 0L) null else DeltaStreamOffset(cur)
      val end = math.min(cur, firstStart + maxVersionsPerTrigger)
      if (end > firstStart) DeltaStreamOffset(end) else null
    } else DeltaStreamOffset(math.min(cur, versionOf(start) + maxVersionsPerTrigger))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "DeltaStream paces via latestOffset(start, limit)")

  /** Reads only: on restart Spark calls this again for the last
    * committed batch and discards the result. The `latest` first batch
    * is the snapshot at the END offset: a crash-before-commit restart
    * re-runs it with the WAL'd end, and a snapshot newer than that pin
    * would deliver a later commit's rows twice (here and in the tail).
    */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val e = versionOf(end)
    val frame =
      if (start.isEmpty && snapshotFirst) {
        val snap = DeltaLog.read(spark, root, Some(e))
        if (!cdf) snap
        else snap.withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(e))
      } else {
        val s = start.fold(firstStart)(versionOf)
        if (cdf) DeltaLog.readChangeFeed(spark, root, s, e)
        else DeltaLog.changesSince(spark, root, s, Some(e), skipChangeCommits)
      }
    // by name onto the declared schema; a column the range's metaData
    // lacks reads as a typed null
    val have = frame.columns.toSet
    val projected = frame.select(schema.fields.toIndexedSeq.map { f =>
      val c = if (have(f.name)) col(s"`${f.name.replace("`", "``")}`") else lit(null)
      c.cast(f.dataType).as(f.name)
    }: _*)
    // flag the finished batch plan as streaming rather than its leaves:
    // the feed joins relations, and a join of two streaming leaves would
    // plan as a stateful stream-stream join
    GraftPlanBridge.internalCreateDataFrame(spark,
      projected.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def stop(): Unit = ()
}
