package graft

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ingest.BatchPipeline._
import graft.ingest.Parsers.{CsvSpec, FwSpec}
import graft.ingest.{BatchConfig, ProgressReporter, RecData, RestSink}
import graft.operators.RowBatches
import graft.table.Fs

/** The reference's one public API, re-expressed:
  * `processFile(filePath, options, jobService, cb)`
  * (`lib/batchProcessing.js:130`, exported at `:735`) becomes a synchronous
  * call returning the run summary, with the same observable outputs — target
  * records, per-record BatchStatus rows, one BatchRun row — written as
  * columnar tables instead of per-record REST calls.
  *
  * Correspondence:
  *   - `jobService.onEachRecord`  -> [[Parser.Custom]]
  *   - built-in csv/fw parsers    -> [[Parser.Csv]] / [[Parser.Fw]]
  *   - `jobService.onStart/onEnd` -> [[graft.ingest.BatchPipeline.Hooks]]
  *   - `options` + env precedence -> [[graft.ingest.BatchConfig]]
  *   - fatal-vs-record errors     -> config errors throw here (driver-side,
  *     before any task runs); data errors land in BatchStatus and never
  *     abort the run (`README.md:100-101` contract)
  *
  * The job itself is [[ingest]], everything after the line source. It runs
  * once per [[processFile]] call and once per micro-batch of
  * [[graft.streaming.EventStream.jobStream]].
  */
object BatchJob {

  sealed trait Parser
  object Parser {
    final case class Csv(spec: CsvSpec) extends Parser
    final case class Fw(spec: FwSpec) extends Parser
    final case class Custom(names: Seq[String], types: Seq[String],
        fn: RecData => (Option[Seq[Any]], Option[String])) extends Parser
  }

  /** The BatchRun row (`common/models/batch-run.json:7-19`). */
  final case class RunSummary(
      runId: String,
      filePath: String,
      totalRecordCount: Long,
      successCount: Long,
      failureCount: Long,
      ignoredCount: Long,
      startTimeMillis: Long,
      endTimeMillis: Long,
      durationMillis: Long)

  /** External-database target channel — the reference is tested against a
    * memory/Mongo/Postgres/Oracle backend matrix
    * (`test/datasources.mongo.js:19-28`, `test/datasources.postgres.js`,
    * `test/datasources.oracle.js`); Spark's built-in `jdbc` format is the
    * equivalent: any backend with a JDBC driver jar on the executor
    * classpath plugs in via `url` + `properties` (driver class, creds),
    * no engine change. Writes shard per-partition (one connection per
    * task), the at-scale shape for bulk DB loads.
    */
  final case class JdbcSink(
      url: String,
      table: String,
      properties: Map[String, String] = Map.empty)

  final case class Sinks(
      targetPath: Option[String] = None, // parsed SUCCESS records
      statusPath: Option[String] = None, // per-record BatchStatus audit
      runPath: Option[String] = None,    // one-row BatchRun summary
      rest: Option[RestSink.RestOptions] = None, // P11 per-record REST channel
      jdbc: Option[JdbcSink] = None)     // external-DB target channel

  /** A run's record counters, as the BatchRun row carries them. */
  private[graft] final case class Counts(total: Long, success: Long, failure: Long, ignored: Long)

  /** Fold per-record HTTP outcomes into BatchStatus rows: the REST
    * channel's code/text/error win over the parse-stage values, exactly
    * like the reference counts `statusCode === 200` per record
    * (`lib/batchProcessing.js:679,700`). The join key is (file, rec_id):
    * a glob numbers `rec_id` per file.
    */
  private def statusWithHttp(base: DataFrame, restResults: Option[DataFrame]): DataFrame =
    restResults.fold(base) { r =>
      base.join(
          r.select(col("file_name"), col("rec_id"),
            col("status_code").cast("int").as("http_code"),
            col("status_text").as("http_status"), col("error").as("http_error")),
          Seq("file_name", "rec_id"), "left")
        .select(col("file_name"), col("rec_id"),
          coalesce(col("http_status"), col("status_text")).as("status_text"),
          coalesce(col("http_code"), col("status_code")).as("status_code"),
          coalesce(col("http_error"), col("error")).as("error"))
    }

  /** The job after its line source: parse, route, and every sink of
    * `sinks` (REST, target, JDBC, status), counting through an
    * `Observation` on the status write. Every setting comes from `config`.
    * The REST POSTs carry `<runId>:<file>:<recId>` as their
    * Idempotency-Key: a glob numbers `recId` per file.
    *
    * `overwriteRun` is how the two callers write differently: the batch
    * appends flat files; the stream overwrites its own `run_id` partition
    * of the target and status sinks (dynamic partition overwrite), so a
    * replayed micro-batch converges. Batch sinks stay flat: Spark refuses
    * one `read.parquet` over several roots that each hold `run_id=`
    * directories. JDBC always appends (at-least-once on replay).
    */
  private[graft] def ingest(
      lines: Dataset[RecData],
      parser: Parser,
      sinks: Sinks,
      runId: String,
      config: BatchConfig,
      overwriteRun: Boolean): Counts = {
    val detachProgress = Option.when(config.progressIntervalMillis > 0)(
      new ProgressReporter(config.progressIntervalMillis).attach(lines.sparkSession))
    // tracked in vars so the finally releases whichever was built
    var stored: RowBatches = null
    var restResults: Option[DataFrame] = None
    try {
      val parsed: DataFrame = parser match {
        case Parser.Csv(spec) => parseCsv(lines, spec)
        case Parser.Fw(spec)  => parseFw(lines, spec)
        case Parser.Custom(names, types, fn) => parseCustom(lines, names, types)(fn)
      }
      // Every sink reads the routed records, so they are parsed once and
      // kept as packed UnsafeRow batches, filled by the first write.
      stored = RowBatches.persist(route(parsed))
      val routed = stored.frame
      // The REST channel (P11): POST each SUCCESS-parsed record's JSON; its
      // per-record HTTP outcome then drives the status rows and run counters,
      // exactly like the reference counts `statusCode === 200`
      // (lib/batchProcessing.js:679,700). Persisted because both the status
      // sink and the HTTP-200 count read it — recomputing would re-send.
      restResults = sinks.rest.map { ro =>
        val dataCols = parsed.columns
          .filterNot(Set("_file", "_rec_id", "_error").contains).map(col)
        val key = concat_ws(":", lit(runId), col("_file"), col("_rec_id"))
        RestSink.send(successes(routed), col("_rec_id"), to_json(struct(dataCols.toIndexedSeq: _*)),
            ro, config, idempotencyKey = Some(key), file = Some(col("_file")))
          .toDF()
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
      def write(rows: DataFrame, path: String): Unit = {
        val w = rows.withColumn("run_id", lit(runId)).write
        if (overwriteRun)
          w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id").parquet(path)
        else w.mode("append").parquet(path)
      }
      val target = successes(routed).drop("_error", "statusText")
      sinks.targetPath.foreach(write(target, _))
      sinks.jdbc.foreach { j =>
        val props = new java.util.Properties()
        j.properties.foreach { case (k, v) => props.setProperty(k, v) }
        target.withColumn("run_id", lit(runId)).write.mode("append").jdbc(j.url, j.table, props)
      }
      // The run counters ride the status write: an Observation on the
      // routed records, taken before batchStatus drops the IGNORED ones. A
      // run without a status sink counts them in a noop write instead.
      val outcome = Observation()
      val counted = routed.observe(outcome,
        count(when(col("statusText") === "SUCCESS", 1)).as("SUCCESS"),
        count(when(col("statusText") === "FAILED", 1)).as("FAILED"),
        count(when(col("statusText") === "IGNORED", 1)).as("IGNORED"))
      sinks.statusPath match {
        case Some(p) =>
          // the configured log items are stripped after the HTTP outcome
          // is folded in, which reads `file_name` and `error`
          write(statusWithHttp(batchStatus(counted), restResults)
            .drop(config.batchResultLogItems.toSeq: _*), p)
        case None => counted.write.format("noop").mode("overwrite").save()
      }
      val counts = outcome.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
      val parsedOk = counts("SUCCESS")
      val httpOk = restResults.map(_.filter(col("status_code") === 200).count())
      Counts(
        total = parsedOk + counts("FAILED"),
        success = httpOk.getOrElse(parsedOk),
        failure = counts("FAILED") + httpOk.map(parsedOk - _).getOrElse(0L),
        ignored = counts("IGNORED"))
    } finally {
      restResults.foreach(_.unpersist())
      if (stored != null) stored.release()
      detachProgress.foreach(_())
    }
  }

  /** Process one line-delimited file (a path or a URI, probed through
    * [[graft.table.Fs]]): pre-flight checks, line source, the BatchRun
    * row's lifecycle, and [[ingest]]. A glob or directory that resolves to
    * several files is numbered per file (each file's `rec_id` runs 1..n,
    * [[textSourcePerFile]]); a plain file goes straight to the
    * shuffle-free [[textSource]], with no listing first.
    */
  def processFile(
      spark: SparkSession,
      filePath: String,
      parser: Parser,
      sinks: Sinks = Sinks(),
      config: BatchConfig = BatchConfig.load(),
      hooks: Hooks = Hooks()): RunSummary = {

    // the reference's pre-flight sanity gate, same fatal texts in the same
    // order (lib/batchProcessing.js:154-166); the file-existence check
    // throws Node's ENOENT phrasing (test/test.js expects the substring
    // 'no such file or directory') from the driver before any job launches
    if (filePath == null || filePath.trim.isEmpty)
      throw new IllegalArgumentException("filePath is not specified. Aborting processing.")
    if (parser == null)
      throw new IllegalArgumentException("jobService is not specified. Aborting processing.")
    parser match {
      case Parser.Custom(_, _, fn) if fn == null =>
        throw new IllegalArgumentException(
          "jobService.onEachRecord() is not defined. Aborting processing.")
      case _ =>
    }
    if (!filePath.exists(c => c == '*' || c == '?' || c == '[') && !Fs.exists(filePath))
      throw new java.io.FileNotFoundException(
        s"ENOENT: no such file or directory, open '$filePath'")

    val runId = UUID.randomUUID().toString
    val start = System.currentTimeMillis()
    hooks.onStart()

    // BatchRun lifecycle with the reference's optimistic-lock `_version`
    // threading (lib/batchProcessing.js:288,548): insert the PROCESSING row
    // first and hold its version; the end-of-run stats update must present
    // it, so a concurrent writer with a stale version fails loudly.
    val runStore = sinks.runPath.map(p => new graft.ingest.BatchRunStore(spark, p))
    val runVersion = runStore.map(_.insert(runId, filePath, start))

    // The try opens IMMEDIATELY after the run-row insert: a missing input
    // file or an AnalysisException thrown while CONSTRUCTING the pipeline
    // (textSource/parse/route) must also finalize the run as FAILED, not
    // leave it stuck at PROCESSING v1.
    try {
      val lines =
        if (!Fs.isFile(filePath) && spark.read.textFile(filePath).inputFiles.length > 1)
          textSourcePerFile(spark, filePath)
        else textSource(spark, filePath)
      val c = ingest(lines, parser, sinks, runId, config, overwriteRun = false)
      val end = System.currentTimeMillis()
      runStore.foreach { st =>
        st.update(runId, runVersion.get) { row =>
          row.copy(status = "COMPLETED", totalRecordCount = c.total, successCount = c.success,
            failureCount = c.failure, ignoredCount = c.ignored,
            endTimeMillis = end, durationMillis = end - start)
        }
      }
      hooks.onEnd()
      RunSummary(runId, filePath, c.total, c.success, c.failure, c.ignored, start, end, end - start)
    } catch {
      // The reference finalizes the run row EVEN on failure — its end-of-job
      // PUT always fires and carries the error text
      // (lib/batchProcessing.js:548). Mirror that: mark FAILED with the
      // error before rethrowing, so a crashed job never leaves the run
      // stuck at PROCESSING v1. The original failure is what propagates; a
      // failed FAILED-row write rides along on it as a suppressed exception.
      case e: Throwable =>
        val end = System.currentTimeMillis()
        runStore.foreach { st =>
          try st.update(runId, runVersion.get) { row =>
            row.copy(status = "FAILED",
              error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)),
              endTimeMillis = end, durationMillis = end - start)
          } catch { case NonFatal(w) => e.addSuppressed(w) }
        }
        throw e
    }
  }
}
