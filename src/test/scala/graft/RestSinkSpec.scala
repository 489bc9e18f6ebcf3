package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.ingest.BatchConfig
import graft.ingest.BatchPipeline._
import graft.ingest.Parsers.CsvSpec
import graft.ingest.RestSink
import graft.ingest.RestSink.RestOptions

/** P11/P15 — REST sink fidelity against a local HTTP stub: URL/method/header
  * assembly, 200-vs-not routing, throttle pacing and concurrency bounds,
  * and the reference's fatal config errors. E2E replays the reference's own
  * `test/batch-100.csv` through `BatchJob.processFile` with a REST channel
  * whose success/failure mix drives the run summary, mirroring the
  * 550/450-style mixed outcome of `README.md:362-364`.
  */
class RestSinkSpec extends SparkTestBase {

  /** Tiny stub server; `fail` decides per-body whether to return 500. */
  private def withServer(fail: String => Boolean)(run: (String, ServerState) => Unit): Unit = {
    val state = new ServerState
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
    server.createContext("/", (ex: HttpExchange) => {
      val inFlight = state.inFlight.incrementAndGet()
      state.peak.updateAndGet(p => math.max(p, inFlight))
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        state.record(ex, body)
        Thread.sleep(state.delayMillis)
        val code = if (fail(body)) 500 else 200
        val resp = (if (code == 200) """{"ok":true}""" else """{"error":"boom"}""").getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(code, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      } finally state.inFlight.decrementAndGet()
    })
    server.start()
    try run(s"http://127.0.0.1:${server.getAddress.getPort}", state)
    finally server.stop(0)
  }

  private class ServerState {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    @volatile var delayMillis = 0L
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)]()
    val arrivalsNanos = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def record(ex: HttpExchange, body: String): Unit = {
      arrivalsNanos.add(System.nanoTime())
      Option(ex.getRequestHeaders.getFirst(RestSink.IdempotencyHeader)).foreach(keys.add)
      requests.add((ex.getRequestMethod,
        ex.getRequestURI.toString,
        ex.getRequestHeaders.getFirst("Cookie"),
        body))
    }
  }

  private def csvLines(n: Int): org.apache.spark.sql.Dataset[graft.ingest.RecData] =
    fromLines(spark, (1 to n).map(i => f"B$i%04d,C$i%04d"), "rest-test.csv")

  test("REST sink: URL/method/headers assembled per the reference precedence") {
    withServer(_ => false) { (base, state) =>
      val routed = route(parseCsv(csvLines(5), CsvSpec(headers = Vector("key", "value"))))
      val res = RestSink.send(successes(routed), col("_rec_id"), to_json(struct(col("key"), col("value"))),
        RestOptions(method = Some("post"), headers = Map("custom-header1" -> "custom-header-value1")),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("api/TestData"),
          accessToken = Some("tok123"), minTimeMillis = 0)).collect()
      assert(res.length == 5 && res.forall(_.status_text == "SUCCESS"))
      val reqs = state.requests.toArray(Array.empty[(String, String, String, String)])
      assert(reqs.forall(_._1 == "POST"), "method uppercased like the reference's request lib")
      assert(reqs.forall(_._2 == "/api/TestData?access_token=tok123"),
        "leading slash inserted + access_token query param (js:648)")
      assert(reqs.forall(_._3 != null), "default Cookie header always present (js:657)")
      assert(reqs.forall(r => r._4.contains("\"key\":\"B000")), "JSON body posted")
    }
  }

  test("REST sink: env var overrides options for base URL and api (js:610,634)") {
    withServer(_ => false) { (base, state) =>
      RestSink.send(
        successes(route(parseCsv(csvLines(2), CsvSpec(headers = Vector("key", "value"))))),
        col("_rec_id"), lit("{}"),
        RestOptions(method = Some("PUT")),
        BatchConfig.load(
          env = Map("APP_BASE_URL" -> base, "MODEL_API" -> "/envApi"),
          options = Map("appBaseURL" -> "http://wrong-host:1", "modelAPI" -> "/wrongApi",
            "minTime" -> "0"))).collect()
      val reqs = state.requests.toArray(Array.empty[(String, String, String, String)])
      assert(reqs.nonEmpty && reqs.forall(_._2 == "/envApi"), "env precedence must win")
    }
  }

  test("REST sink: missing modelAPI / appBaseURL / method are job-fatal with reference text") {
    val e1 = intercept[IllegalArgumentException] {
      RestSink.resolveUrl(BatchConfig(appBaseUrl = Some("http://x")))
    }
    assert(e1.getMessage.contains("modelAPI is neither specified in environment variable"))
    val e2 = intercept[IllegalArgumentException] {
      RestSink.resolveUrl(BatchConfig(modelApi = Some("/api")))
    }
    assert(e2.getMessage.contains("appBaseURL is not specified in env variable (APP_BASE_URL)"))
    val e3 = intercept[IllegalArgumentException] { RestSink.resolveMethod(RestOptions()) }
    assert(e3.getMessage.contains("method is neither specified"))
  }

  test("REST sink: minTime throttle paces request starts (P15)") {
    withServer(_ => false) { (base, _) =>
      val routed = route(parseCsv(csvLines(20), CsvSpec(headers = Vector("key", "value"))))
      val t0 = System.nanoTime()
      val res = RestSink.send(successes(routed).coalesce(1), col("_rec_id"), lit("{}"),
        RestOptions(method = Some("POST")),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api"),
          minTimeMillis = 7, maxConcurrent = 79)).collect() // distinct config => fresh limiter state
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(res.length == 20)
      assert(elapsedMs >= 19 * 7 * 0.7, f"20 records at minTime=7ms took only $elapsedMs%.0f ms")
    }
  }

  test("REST sink: maxConcurrent bounds in-flight requests (P15)") {
    withServer(_ => false) { (base, state) =>
      state.delayMillis = 30
      val routed = route(parseCsv(csvLines(24), CsvSpec(headers = Vector("key", "value"))))
      val res = RestSink.send(successes(routed).repartition(8), col("_rec_id"), lit("{}"),
        RestOptions(method = Some("POST")),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api"),
          minTimeMillis = 0, maxConcurrent = 2)).collect()
      assert(res.length == 24)
      assert(state.peak.get() <= 2, s"peak in-flight ${state.peak.get()} exceeded maxConcurrent=2")
    }
  }

  test("processFile E2E: batch-100.csv through the REST channel, mixed 200/500 counts") {
    // fail every record whose numeric suffix is even -> 50/50 mix, the same
    // mixed-outcome shape as the reference's 1000-record run (550/450).
    withServer(body => "\"key\":\"B\\d*[02468]\"".r.findFirstIn(body).isDefined) { (base, state) =>
      val out = java.nio.file.Files.createTempDirectory("rest-e2e").toString
      val summary = BatchJob.processFile(
        spark, referenceFixture("batch-100.csv"),
        BatchJob.Parser.Csv(CsvSpec(headers = Vector("key", "value"))),
        BatchJob.Sinks(
          statusPath = Some(s"$out/status"),
          runPath = Some(s"$out/run"),
          rest = Some(RestOptions(method = Some("POST")))),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api/TestData"), minTimeMillis = 0))
      assert(summary.totalRecordCount == 100)
      assert(summary.successCount == 50, s"expected 50 HTTP 200s, got $summary")
      assert(summary.failureCount == 50)
      assert(state.requests.size == 100, "every parsed record POSTed exactly once")
      val status = spark.read.parquet(s"$out/status")
      assert(status.filter(col("status_code") === 200).count() == 50)
      assert(status.filter(col("status_code") === 500).count() == 50)
      assert(status.filter(col("status_text") === "FAILED" && col("error").isNotNull).count() == 50)
    }
  }

  test("processFile: a base URL and minTime set only through BatchConfig.load(env) reach the requests") {
    withServer(_ => false) { (base, state) =>
      val in = java.nio.file.Files.createTempDirectory("rest-config").resolve("batch.csv")
      java.nio.file.Files.write(in, (1 to 20).map(i => f"B$i%04d,C$i%04d").mkString("\n").getBytes)
      // the job's settings come only from the config: RestOptions carries
      // the request shape, and nothing is set in options or a file
      val config = BatchConfig.load(env = Map(
        "APP_BASE_URL" -> base, "MODEL_API" -> "/cfgApi", "MIN_TIME" -> "50", "MAX_CONCURRENT" -> "77"))
      val summary = BatchJob.processFile(spark, in.toString,
        BatchJob.Parser.Csv(CsvSpec(headers = Vector("key", "value"))),
        BatchJob.Sinks(rest = Some(RestOptions(method = Some("POST")))), config)
      assert(summary.successCount == 20)
      val reqs = state.requests.toArray(Array.empty[(String, String, String, String)])
      assert(reqs.length == 20 && reqs.forall(_._2 == "/cfgApi"), "base URL and API from the config")
      // 20 paced starts span at least 19 x 50 ms; the 20 ms default would span 380 ms
      val arrivals = state.arrivalsNanos.toArray.map(_.asInstanceOf[Long])
      val spanMs = (arrivals.max - arrivals.min) / 1e6
      assert(spanMs >= 19 * 50 * 0.7, f"20 requests at MIN_TIME=50 spanned only $spanMs%.0f ms")
    }
  }

  test("processFile: a two-file glob sends one distinct Idempotency-Key per record") {
    withServer(_ => false) { (base, state) =>
      val dir = java.nio.file.Files.createTempDirectory("rest-glob")
      // both files number their lines 1..3, so the key must name the file
      Seq("a", "b").foreach(f => java.nio.file.Files.write(dir.resolve(s"$f.csv"),
        (1 to 3).map(i => s"$f$i,$i").mkString("\n").getBytes))
      val summary = BatchJob.processFile(spark, dir.resolve("*.csv").toString,
        BatchJob.Parser.Csv(CsvSpec(headers = Vector("key", "value"))),
        BatchJob.Sinks(rest = Some(RestOptions(method = Some("POST")))),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api"), minTimeMillis = 0))
      assert(summary.successCount == 6 && state.requests.size == 6)
      assert(state.keys.size == 6, s"a deduplicating receiver would drop records: ${state.keys}")
    }
  }

  test("processFile: a two-file glob with a REST sink writes one status row per record") {
    // b2 fails; a2 shares its rec_id, so a join on rec_id alone would
    // double every row and give a2 b2's outcome
    withServer(_.contains("\"b2\"")) { (base, state) =>
      val dir = java.nio.file.Files.createTempDirectory("rest-glob-status")
      Seq("a", "b").foreach(f => java.nio.file.Files.write(dir.resolve(s"$f.csv"),
        (1 to 3).map(i => s"$f$i,$i").mkString("\n").getBytes))
      val out = dir.resolve("out").toString
      val summary = BatchJob.processFile(spark, dir.resolve("*.csv").toString,
        BatchJob.Parser.Csv(CsvSpec(headers = Vector("key", "value"))),
        BatchJob.Sinks(statusPath = Some(s"$out/status"), rest = Some(RestOptions(method = Some("POST")))),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api"), minTimeMillis = 0))
      assert(state.requests.size == 6)
      assert((summary.totalRecordCount, summary.successCount, summary.failureCount) == ((6L, 5L, 1L)))
      val status = spark.read.parquet(s"$out/status")
        .select(regexp_extract(col("file_name"), "([ab])\\.csv$", 1).as("f"), col("rec_id"), col("status_code"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(status == Seq(("a", 1L, 200), ("a", 2L, 200), ("a", 3L, 200),
        ("b", 1L, 200), ("b", 2L, 500), ("b", 3L, 200)), status)
    }
  }

  test("processFile: batchResultLogItems strips status columns after the REST outcome is folded in") {
    withServer(_.contains("\"a2\"")) { (base, _) =>
      val dir = java.nio.file.Files.createTempDirectory("rest-log-items")
      java.nio.file.Files.write(dir.resolve("a.csv"), (1 to 3).map(i => s"a$i,$i").mkString("\n").getBytes)
      val out = dir.resolve("out").toString
      val summary = BatchJob.processFile(spark, dir.resolve("a.csv").toString,
        BatchJob.Parser.Csv(CsvSpec(headers = Vector("key", "value"))),
        BatchJob.Sinks(statusPath = Some(s"$out/status"), rest = Some(RestOptions(method = Some("POST")))),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api"), minTimeMillis = 0,
          batchResultLogItems = Set("error", "file_name")))
      assert((summary.successCount, summary.failureCount) == ((2L, 1L)))
      val status = spark.read.parquet(s"$out/status")
      assert(!status.columns.contains("error") && !status.columns.contains("file_name"), status.columns.mkString(","))
      assert(status.orderBy("rec_id").select("status_code").collect().map(_.getInt(0)).toSeq == Seq(200, 500, 200))
    }
  }
}
