package graft.ingest

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DeltaLog

/** One BatchRun record at one `_version` — the reference's run-row shape
  * (`common/models/batch-run.json:7-19`) plus the optimistic-lock version
  * its REST backend threads through every write
  * (`lib/batchProcessing.js:288,548,573`).
  */
final case class BatchRunRow(
    runId: String,
    filePath: String,
    status: String, // PROCESSING | COMPLETED | FAILED
    totalRecordCount: Long,
    successCount: Long,
    failureCount: Long,
    ignoredCount: Long,
    startTimeMillis: Long,
    endTimeMillis: Long,
    durationMillis: Long,
    error: Option[String],
    version: Long)

/** BatchRun lifecycle store with the reference's `_version` optimistic-lock
  * threading: `insert` creates the run at version 1 (the reference's POST,
  * which returns `_version` — `lib/batchProcessing.js:288`); `update` must
  * present the CURRENT version (the reference's PUT body carries `_version`
  * — `:548`) and bumps it, so a writer holding a stale version fails
  * instead of silently clobbering a concurrent update.
  *
  * Storage is a Delta table ([[graft.sources.DeltaLog]]): rows are
  * immutable appends, the current state of a run is its max-version row
  * ([[BatchRunStore.current]]), and history is retained for audit. Every
  * write is ONE `commitAppend` at the table version its read was based
  * on, so the version check is the log's atomic put-if-absent commit: of
  * two writers that read the same table version, exactly one lands and
  * the other gets ConcurrentModificationException from the commit. The
  * loser re-reads and retries only while its run's own `_version` still
  * matches — a concurrent write to ANOTHER run costs a retry, a concurrent
  * update of the SAME run fails the stale writer loudly.
  */
final class BatchRunStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** Reference fatal text when a run row comes back versionless
    * (`lib/batchProcessing.js:291-293`).
    */
  private val NoVersionMsg = "could not get batchRun version"

  /** Every run row at table version `v` (-1: the table does not exist). */
  private def rowsAt(v: Long): Dataset[BatchRunRow] =
    if (v < 0) spark.emptyDataset[BatchRunRow]
    else DeltaLog.read(spark, path, Some(v)).as[BatchRunRow]

  private def currentAt(runId: String, v: Long): Option[BatchRunRow] =
    rowsAt(v).filter(col("runId") === runId)
      .orderBy(col("version").desc).limit(1)
      .collect().headOption

  /** Current state of a run: its highest-version row. */
  def current(runId: String): Option[BatchRunRow] =
    currentAt(runId, DeltaLog.currentVersion(path))

  /** All runs' current states (one row per runId, max version). */
  def currentAll(): Dataset[BatchRunRow] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("runId")).orderBy(col("version").desc)
    rowsAt(DeltaLog.currentVersion(path)).withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk").as[BatchRunRow]
  }

  /** Commit the row `rowAt(v)` builds from table version `v` as version
    * v + 1; when another writer committed v + 1 first, re-read and try
    * again. `rowAt` throws to give up.
    */
  private def commit(rowAt: Long => BatchRunRow): Unit = {
    var done = false
    while (!done) {
      val base = DeltaLog.currentVersion(path)
      val row = Seq(rowAt(base)).toDS().toDF()
      try { DeltaLog.commitAppend(path, row, Some(base)); done = true }
      catch { case _: java.util.ConcurrentModificationException => () }
    }
  }

  /** Create the run row (status PROCESSING, zero counters) and return its
    * initial version — the reference's POST-then-read-`_version` handshake.
    */
  def insert(runId: String, filePath: String, startTimeMillis: Long): Long = {
    val row = BatchRunRow(runId, filePath, "PROCESSING",
      0L, 0L, 0L, 0L, startTimeMillis, 0L, 0L, None, version = 1L)
    commit(_ => row)
    1L
  }

  /** Read-modify-write with version check: `expectedVersion` must equal the
    * run's current version or the update is rejected (the optimistic-lock
    * contract of the reference's PUT-with-`_version`). Returns the new
    * version.
    */
  def update(runId: String, expectedVersion: Long)(f: BatchRunRow => BatchRunRow): Long = {
    // built once: a retry after another run's commit re-checks the version
    // but must not apply `f` twice
    var next: Option[BatchRunRow] = None
    commit { base =>
      val cur = currentAt(runId, base)
        .getOrElse(throw new IllegalStateException(NoVersionMsg))
      if (cur.version != expectedVersion)
        throw new java.util.ConcurrentModificationException(
          s"BatchRun $runId version conflict: expected $expectedVersion, " +
            s"found ${cur.version} — run row was updated concurrently")
      if (next.isEmpty)
        next = Some(f(cur).copy(runId = runId, version = expectedVersion + 1))
      next.get
    }
    expectedVersion + 1
  }
}
