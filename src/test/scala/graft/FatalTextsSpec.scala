package graft

import graft.ingest.Parsers.{CsvSpec, FwField, FwSpec}
import graft.ingest.{BatchConfig, RestSink}
import graft.ingest.RestSink.RestOptions

/** GOLDEN PARITY SWEEP over the reference's fatal error texts.
  *
  * The reference's own test suite is error-substring matching
  * (`test/test.js:176-315`), so its fatal strings ARE its API. This spec
  * tabulates EVERY fatal text the reference can emit (`lib/
  * batchProcessing.js`, `lib/parsers.js`) against the engine: each is
  * either TRIGGERED here and asserted as a substring of the engine's
  * thrown message (so the texts cannot drift), or listed as structurally
  * unreachable with the reason (texts that only a dynamically-typed
  * options bag or the reference's oe-Cloud REST backend can produce).
  * An exhaustiveness check pins the union against the full inventory.
  */
class FatalTextsSpec extends SparkTestBase {

  /** Every distinct fatal text in the reference, keyed for the tally. */
  private val referenceInventory: Map[String, String] = Map(
    "filePath-missing" -> "filePath is not specified. Aborting processing.",
    "jobService-missing" -> "jobService is not specified. Aborting processing.",
    "onEachRecord-missing" -> "jobService.onEachRecord() is not defined. Aborting processing.",
    "enoent" -> "no such file or directory",
    "credentials" -> "Check access_token/credentials. Expired/Wrong/Missing?.",
    "appBaseURL-login" -> "appBaseURL is not specified in env variable (APP_BASE_URL) or options. Can't defer this to payload when username is specified. Aborting job.",
    "appBaseURL-url" -> "appBaseURL is not specified in env variable (APP_BASE_URL) or options. Aborting job.",
    "modelAPI" -> "modelAPI is neither specified in environment variable (MODEL_API) nor processFile options nor passed in payload. Aborting job.",
    "method" -> "method is neither specified in processFile options nor passed in payload. Aborting job.",
    "batchrun-version" -> "could not get batchRun version",
    "login-post" -> "Could not post user credentials:",
    "login-no-token" -> "Could not get access_token by login:",
    "login-error" -> "Error received after posting user credentials:",
    "csv-headers-missing" -> "parseCSV: CSV Headers are missing in csvParser options",
    "csv-headers-blank" -> "parseCSV: CSV Headers specified as string is either empty or whitespace",
    "csv-arity" -> "parseCSV: Mis-match between fieldCount",
    "fw-empty" -> "parseFW: FW Headers specified as empty array. Should be array of objects.",
    "fw-fieldName" -> "parseFW: Header fieldName is missing",
    "fw-type" -> "parseFW: Header type is missing",
    "fw-start" -> "parseFW: Header startPosition is missing",
    "fw-end" -> "parseFW: Header endPosition is missing",
    "fw-reclen-large" -> "parseFW: Record length is larger than max-header-position",
    "fw-reclen-small" -> "parseFW: Record length is smaller than max-header-position",
    // structurally unreachable from a statically-typed API or replaced by
    // the engine's non-REST run store — tabulated so the inventory is total
    "csv-headers-type" -> "parseCSV: options.csvHeaders supplied are not of type string array or coma-separated string or object",
    "csv-types-type" -> "parseCSV: options.csvHeaderDataTypes supplied are not of type string array or coma-separated string or object",
    "fw-object" -> "parseFW: FW Headers specified as object. Should be array of objects.",
    "fw-not-array" -> "parseFW: options.fwHeaders supplied are not of type array (of objects)",
    "fw-recdata" -> "parseFW: Record not found in recData",
    "read-error" -> "Error while reading file.",
    "oe-running" -> "Is the oe-Cloud Application running?",
    "oe-models" -> "Check if oe-Cloud app has the necessary models required for batch-processing",
    "put-stats" -> "Error while PUTing batchRun Stats:",
    "put-stats-auth" -> "Check access_token/credentials. Expired/wrong?. Aborting processing.",
    "update-stats" -> "Error while trying to update batchRun Stats:")

  /** Texts a typed Scala API cannot produce (the compiler enforces what
    * the reference's runtime type checks enforce), that belong to the
    * reference's oe-Cloud HTTP backend, whose engine counterpart is the
    * Delta-table BatchRunStore with its own spec-covered conflict texts,
    * or that only the reference's credentials login emits: the engine
    * takes its access token from [[BatchConfig]] and never logs in.
    */
  private val unreachable: Map[String, String] = Map(
    "csv-headers-type" -> "CsvSpec.headers is Vector[String] by type",
    "csv-types-type" -> "CsvSpec.types is Vector[String] by type",
    "fw-object" -> "FwSpec.fields is Seq[FwField] by type",
    "fw-not-array" -> "FwSpec.fields is Seq[FwField] by type",
    "fw-recdata" -> "reference-internal stream envelope; engine rows are never enveloped",
    "read-error" -> "mid-read IO failures surface as Spark task failures with retries",
    "oe-running" -> "engine run store is a Delta table, not an oe-Cloud server",
    "oe-models" -> "engine run store is a Delta table, not an oe-Cloud server",
    "put-stats" -> "BatchRunStore commits to a Delta table; HTTP PUT does not exist",
    "put-stats-auth" -> "BatchRunStore commits to a Delta table; HTTP PUT does not exist",
    "update-stats" -> "BatchRunStore conflict throws ConcurrentModificationException (BatchRunStore.update, spec-covered)",
    "credentials" -> loginNotPorted,
    "appBaseURL-login" -> loginNotPorted,
    "login-post" -> loginNotPorted,
    "login-no-token" -> loginNotPorted,
    "login-error" -> loginNotPorted)

  private def loginNotPorted =
    "the ctx login (getAccessToken) is not ported; the access token is BatchConfig's"

  private def messageOf(body: => Any): String =
    intercept[Exception](body).getMessage

  test("every reachable reference fatal text is emitted verbatim by the engine") {
    val spec2 = CsvSpec(Vector("a", "b"), Some(Vector("number", "number")))
    val fw = FwSpec(Vector(FwField("k", "number", 1, 5), FwField("v", "string", 6, 13)))
    def parseStatus(spec: CsvSpec, line: String): String =
      graft.ingest.Parsers.parseCsvLine(spec)(line).error.orNull
    def parseFwStatus(s: FwSpec, line: String): String =
      graft.ingest.Parsers.parseFwLine(s)(line).error.orNull

    val all: Map[String, String] = Map(
      "filePath-missing" -> messageOf(
        BatchJob.processFile(spark, "  ", BatchJob.Parser.Csv(spec2))),
      "jobService-missing" -> messageOf(
        BatchJob.processFile(spark, "/tmp/x.csv", null)),
      "onEachRecord-missing" -> messageOf(
        BatchJob.processFile(spark, "/tmp/x.csv",
          BatchJob.Parser.Custom(Seq("a"), Seq("string"), null))),
      "enoent" -> messageOf(
        BatchJob.processFile(spark, "/tmp/graft-definitely-absent-9z.csv",
          BatchJob.Parser.Csv(spec2))),
      "appBaseURL-url" -> messageOf(
        RestSink.resolveUrl(BatchConfig())),
      "modelAPI" -> messageOf(
        RestSink.resolveUrl(BatchConfig(appBaseUrl = Some("http://x")))),
      "method" -> messageOf(RestSink.resolveMethod(RestOptions())),
      "batchrun-version" -> messageOf {
        val store = new graft.ingest.BatchRunStore(spark,
          s"${System.getProperty("java.io.tmpdir")}/graft_fatal_absent_store")
        store.update("no-such-run", 1L)(identity)
      },
      "csv-headers-missing" -> messageOf(CsvSpec(Vector.empty, None)),
      "csv-headers-blank" -> messageOf(CsvSpec(Vector("a", "  "), None)),
      "csv-arity" -> parseStatus(spec2, "1,2,3"),
      "fw-empty" -> messageOf(FwSpec(Vector.empty)),
      "fw-fieldName" -> messageOf(FwField("", "number", 1, 5)),
      "fw-type" -> messageOf(FwField("k", "", 1, 5)),
      "fw-start" -> messageOf(FwField("k", "number", 0, 5)),
      "fw-end" -> messageOf(FwField("k", "number", 3, 1)),
      "fw-reclen-large" -> parseFwStatus(fw, "123456789012345678"),
      "fw-reclen-small" -> parseFwStatus(fw, "12345"))

    all.foreach { case (key, msg) =>
      assert(msg != null && msg.contains(referenceInventory(key)),
        s"[$key] engine message drifted from the reference text:\n" +
          s"  expected substring: ${referenceInventory(key)}\n  got: $msg")
    }
    // exhaustiveness: reachable triggers + documented-unreachable must
    // cover the reference inventory exactly, with no overlap
    assert(all.keySet.intersect(unreachable.keySet).isEmpty)
    assert(all.keySet ++ unreachable.keySet == referenceInventory.keySet,
      s"untabulated reference texts: ${referenceInventory.keySet -- all.keySet -- unreachable.keySet}")
  }
}
