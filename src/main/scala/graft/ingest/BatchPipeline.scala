package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Parsers._

/** One in-flight record: raw line + 1-based line number + source file —
  * the reference's `recData` (`lib/batchProcessing.js:320,592-597`).
  */
final case class RecData(fileName: String, rec: String, recId: Long)

/** The reference's whole lifecycle, restated as DataFrame transformations
  * (`lib/batchProcessing.js:130-420`):
  *
  *   scan -> per-record parse/coerce -> route(SUCCESS/FAILED/ignored)
  *        -> target write + batch_status append -> run-summary agg
  *
  * These are the stages; [[graft.BatchJob.ingest]] is the one job that
  * runs them, for both `processFile` and the job stream. The target and
  * status sinks are bulk columnar writes — the only shape that survives
  * 100 TB while preserving the observable contract (target rows + status
  * rows + summary counts). The per-record REST channel (P11) and its rate
  * limiter (P15) live in [[RestSink]], which `ingest` drives when a REST
  * sink is configured.
  * Nothing here shuffles except the optional per-file `recId` assignment
  * ([[textSourcePerFile]]).
  */
object BatchPipeline {

  /** P1 — line-delimited text scan producing `Dataset[RecData]` with exact
    * 1-based line numbers for a SINGLE file (what [[graft.BatchJob.processFile]]
    * reads, like the reference's line-reader). `zipWithIndex` is a narrow
    * transformation (one count job to size partition offsets, no shuffle).
    *
    * The single-file guarantee holds because Spark packs a file's splits in
    * offset order: equal-size body splits keep enumeration order under the
    * stable length-descending sort and the smaller tail split sorts last,
    * which IS the file end. For multi-file globs the interleaving across
    * files does NOT follow (file, offset) — use [[textSourcePerFile]] there.
    */
  def textSource(spark: SparkSession, path: String): Dataset[RecData] = {
    import spark.implicits._
    val fileOf = input_file_name()
    val raw = spark.read.textFile(path).select(fileOf.as("fileName"), col("value").as("rec"))
    val withId = raw.rdd.zipWithIndex().map { case (r, i) =>
      RecData(r.getString(0), r.getString(1), i + 1)
    }
    spark.createDataset(withId)
  }

  /** P1 for multi-file globs: per-file 1-based line numbers via one
    * shuffle-by-file window. The global zip index preserves WITHIN-file
    * order (see [[textSource]]), so partitioning by file and numbering in
    * global-index order recovers each file's exact lineNr — the reference's
    * per-file recId semantics — regardless of how files interleave.
    */
  def textSourcePerFile(spark: SparkSession, path: String): Dataset[RecData] = {
    import spark.implicits._
    val fileOf = input_file_name()
    val raw = spark.read.textFile(path).select(fileOf.as("fileName"), col("value").as("rec"))
    val withIdx = spark.createDataset(
      raw.rdd.zipWithIndex().map { case (r, i) => (r.getString(0), r.getString(1), i) })
      .toDF("fileName", "rec", "gidx")
    val w = Window.partitionBy(col("fileName")).orderBy(col("gidx"))
    withIdx
      .select(col("fileName"), col("rec"), row_number().over(w).cast("long").as("recId"))
      .as[RecData]
  }

  /** In-memory variant for already-loaded lines (tests, re-synthesized CSV). */
  def fromLines(spark: SparkSession, lines: Seq[String], fileName: String = "mem"): Dataset[RecData] = {
    import spark.implicits._
    lines.zipWithIndex.map { case (l, i) => RecData(fileName, l, i + 1L) }.toDS()
  }

  /** Spark schema for a parsed record: one typed column per header plus the
    * record-identity and error columns. The error-column pattern is the
    * PERMISSIVE-mode generalization mandated by SURVEY.md §7 — tasks never
    * throw on data errors.
    */
  def schemaFor(names: Seq[String], types: Seq[String]): StructType = {
    val dataCols = names.zip(types).map { case (n, t) =>
      t.toLowerCase.trim match {
        case "number"  => StructField(n.trim, DoubleType, nullable = true)
        case "boolean" => StructField(n.trim, BooleanType, nullable = true)
        case _         => StructField(n.trim, StringType, nullable = true)
      }
    }
    StructType(
      StructField("_file", StringType, nullable = true) +:
      StructField("_rec_id", LongType, nullable = false) +:
      dataCols :+
      StructField("_error", StringType, nullable = true))
  }

  private def toRow(rd: RecData, parsed: ParsedRecord): Row = {
    val vals = parsed.fields.map {
      case Some(SVal(s)) => s
      case Some(NVal(d)) => d
      case Some(BVal(b)) => b
      case None          => null
    }
    Row.fromSeq(rd.fileName +: rd.recId +: vals :+ parsed.error.orNull)
  }

  /** P2/P3/P5-P8 — CSV/delimited parse into typed columns + `_error`. */
  def parseCsv(ds: Dataset[RecData], spec: CsvSpec): DataFrame = {
    val types = spec.types.getOrElse(Vector.fill(spec.headers.length)("string"))
    val schema = schemaFor(spec.headers, types)
    val parse = parseCsvLine(spec) _
    ds.map(rd => toRow(rd, parse(rd.rec)))(org.apache.spark.sql.Encoders.row(schema))
  }

  /** P4/P5/P7/P8 — fixed-width parse into typed columns + `_error`. */
  def parseFw(ds: Dataset[RecData], spec: FwSpec): DataFrame = {
    val schema = schemaFor(spec.fields.map(_.fieldName), spec.fields.map(_.fieldType))
    val parse = parseFwLine(spec) _
    ds.map(rd => toRow(rd, parse(rd.rec)))(org.apache.spark.sql.Encoders.row(schema))
  }

  /** P9 — custom parser hook: the reference's `onEachRecord` extensibility
    * surface (`lib/batchProcessing.js:122-126`) as a plain Scala function.
    * Returning (None, None) ignores the record (`lib/batchProcessing.js:336`).
    */
  def parseCustom(ds: Dataset[RecData], names: Seq[String], types: Seq[String])(
      fn: RecData => (Option[Seq[Any]], Option[String])): DataFrame = {
    val schema = schemaFor(names, types)
    val n = names.length
    ds.map { rd =>
      val (payload, err) = fn(rd)
      val vals: Seq[Any] = payload match {
        case Some(vs) => vs.padTo(n, null)
        case None     => Seq.fill(n)(null)
      }
      val ignored = payload.isEmpty && err.isEmpty
      Row.fromSeq(rd.fileName +: rd.recId +: vals :+ (if (ignored) IgnoredMarker else err.orNull))
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Sentinel distinguishing "parser returned no payload and no error" —
    * the reference silently skips such records (`lib/batchProcessing.js:336`).
    */
  val IgnoredMarker = "__IGNORED__"

  /** P10 — record router. SUCCESS / FAILED / IGNORED as a column; FATAL
    * (config errors) already happened driver-side at spec construction.
    * HTTP-result classification (`statusCode === 200`,
    * `lib/batchProcessing.js:679`) maps to "the write accepted the row".
    */
  def route(parsed: DataFrame): DataFrame =
    parsed.withColumn("statusText",
      when(col("_error") === lit(IgnoredMarker), lit("IGNORED"))
        .when(col("_error").isNotNull, lit("FAILED"))
        .otherwise(lit("SUCCESS")))

  /** Split the routed frame: three filters over one source (in
    * [[graft.BatchJob.processFile]], the routed records stored as packed
    * row batches) — no shuffle.
    */
  def successes(routed: DataFrame): DataFrame = routed.filter(col("statusText") === "SUCCESS")
  def failures(routed: DataFrame): DataFrame  = routed.filter(col("statusText") === "FAILED")
  def ignored(routed: DataFrame): DataFrame   = routed.filter(col("statusText") === "IGNORED")

  /** P12 — BatchStatus audit rows: every non-ignored record
    * (`lib/batchProcessing.js:349-387`). `logItems` mirrors
    * `batchResultLogItems` field-stripping.
    */
  def batchStatus(routed: DataFrame, logItems: Set[String] = Set.empty): DataFrame = {
    val base = routed.filter(col("statusText") =!= "IGNORED")
      .select(
        col("_file").as("file_name"),
        col("_rec_id").as("rec_id"),
        col("statusText").as("status_text"),
        when(col("statusText") === "FAILED", lit(422)).otherwise(lit(200)).as("status_code"),
        col("_error").as("error"))
    logItems.foldLeft(base)((df, item) => if (df.columns.contains(item)) df.drop(item) else df)
  }

  /** P13/P14 — run summary: one aggregation pass, map-side partials then a
    * single-row reduce — the only "shuffle" is 32 partial rows to one.
    * Counters match the reference's semantics derived from the status table
    * (idempotent under retries, unlike its in-memory increments).
    */
  def runSummary(routed: DataFrame, filePath: String, startMillis: Long, endMillis: Long): DataFrame =
    routed.agg(
      sum(when(col("statusText") =!= "IGNORED", 1L).otherwise(0L)).as("totalRecordCount"),
      sum(when(col("statusText") === "SUCCESS", 1L).otherwise(0L)).as("successCount"),
      sum(when(col("statusText") === "FAILED", 1L).otherwise(0L)).as("failureCount"))
      .withColumn("filePath", lit(filePath))
      .withColumn("startTimeMillis", lit(startMillis))
      .withColumn("endTimeMillis", lit(endMillis))
      .withColumn("durationMillis", lit(endMillis - startMillis))

  /** P18 — lifecycle hooks around the job action (`lib/batchProcessing.js:172-193`):
    * [[graft.BatchJob.processFile]] calls `onStart` before its run row is
    * inserted and `onEnd` after the run completes.
    */
  final case class Hooks(
      onStart: () => Unit = () => (),
      onEnd: () => Unit = () => ())
}
