package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, Semaphore}

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** P11 — the reference's per-record REST output channel
  * (`lib/batchProcessing.js:666-700`), re-expressed as a `mapPartitions`
  * sink with one pooled HTTP client per partition, plus P15's rate
  * limiting (`:87-91`: Bottleneck `maxConcurrent`/`minTime`).
  *
  * Fidelity points mirrored from the reference:
  *   - URL assembly `appBaseURL + '/' + modelAPI + '?access_token=...'`
  *     with precedence env > options for base/api/token
  *     (`:610,634,648`), resolved by [[BatchConfig.load]] (the per-record
  *     payload override level collapses into the job level here because
  *     the payload is engine-built);
  *   - method from options (`:649`), default `Cookie` header plus
  *     additional headers (`:657-663`);
  *   - 10 s request timeout (`:671`);
  *   - SUCCESS iff HTTP 200, anything else (or a transport error) is
  *     FAILED and never aborts the run (`:679,700`);
  *   - missing appBaseURL/modelAPI/method aborts the JOB driver-side with
  *     the reference's error text (`:456,634,650`) — config errors are
  *     fatal, data errors are per-record.
  *
  * Scale semantics: the limiter state is per JVM, i.e. per executor — on a
  * cluster the aggregate rate is `executors × maxConcurrent` in-flight and
  * `executors / minTime` starts/ms; divide the configured budget by the
  * executor count to hold a global SLA. (The reference is single-process,
  * so local[n] reproduces its behavior exactly.)
  */
object RestSink {

  /** The request shape; the endpoint and rate limit are [[BatchConfig]]'s. */
  final case class RestOptions(
      method: Option[String] = None,
      headers: Map[String, String] = Map.empty,
      timeoutMillis: Int = 10000) // lib/batchProcessing.js:671

  /** One record's outcome. `file_name` is the record's input file when the
    * caller names it (null otherwise): a glob numbers `rec_id` per file, so
    * only (file_name, rec_id) identifies a record of a multi-file run.
    */
  final case class RestResult(
      file_name: String,
      rec_id: Long,
      status_code: Int, // 0 = transport error, no HTTP response
      status_text: String,
      error: String,
      response_body: String)

  /** Reference default header (`lib/batchProcessing.js:657`). */
  val DefaultCookieHeader: (String, String) =
    "Cookie" -> "Content-Type=application/json; charset=encoding; Accept=application/json"

  /** Driver-side config resolution; throws the reference's fatal messages. */
  def resolveUrl(config: BatchConfig): String = {
    val base = config.appBaseUrl.getOrElse(throw new IllegalArgumentException(
      "appBaseURL is not specified in env variable (APP_BASE_URL) or options. Aborting job."))
    val api = config.modelApi.getOrElse(throw new IllegalArgumentException(
      "modelAPI is neither specified in environment variable (MODEL_API) nor processFile options nor passed in payload. Aborting job."))
    base + (if (api.startsWith("/")) "" else "/") + api +
      config.accessToken.map("?access_token=" + _).getOrElse("")
  }

  def resolveMethod(o: RestOptions): String =
    o.method.getOrElse(throw new IllegalArgumentException(
      "method is neither specified in processFile options nor passed in payload. Aborting job.")).toUpperCase

  /** P15 — per-JVM limiter: a semaphore bounds in-flight requests
    * (`maxConcurrent`) and a paced start time enforces `minTime` between
    * request starts (Bottleneck's semantics). Keyed by config so distinct
    * jobs don't share state.
    */
  private object Throttle {
    final class State(maxConcurrent: Int, minTime: Long) {
      val sem = new Semaphore(maxConcurrent)
      private var nextStart = 0L
      def pace(): Unit = {
        val wait = this.synchronized {
          val now = System.currentTimeMillis()
          val at = math.max(now, nextStart)
          nextStart = at + minTime
          at - now
        }
        if (wait > 0) Thread.sleep(wait)
      }
    }
    private val states = new ConcurrentHashMap[(Int, Int), State]()
    def forConfig(maxConcurrent: Int, minTime: Int): State =
      states.computeIfAbsent((maxConcurrent, minTime),
        _ => new State(maxConcurrent, minTime.toLong))
  }

  /** Header carrying the per-record replay key when the caller supplies
    * one — the receiver deduplicates on it, turning the channel's
    * at-least-once delivery into exactly-once EFFECT.
    */
  val IdempotencyHeader = "Idempotency-Key"

  /** POST/PUT/... one JSON body per record to `config`'s endpoint at its
    * rate limit; returns per-record results. The caller should persist the
    * result before running multiple actions on it — each recomputation
    * would re-send the requests.
    *
    * `idempotencyKey` (optional, per record) is sent as the
    * [[IdempotencyHeader]] header: a replayed delivery carries the SAME
    * key, so a deduplicating receiver applies each record once no matter
    * how many times a micro-batch retry re-sends it
    * ([[graft.BatchJob.ingest]] passes (runId, file, recId)).
    * `file` (optional, per record) is carried into each result's
    * `file_name`.
    */
  def send(records: DataFrame, recId: Column, body: Column,
           opts: RestOptions, config: BatchConfig,
           idempotencyKey: Option[Column] = None,
           file: Option[Column] = None): Dataset[RestResult] = {
    val url = resolveUrl(config)
    val method = resolveMethod(opts)
    val headers = (Map(DefaultCookieHeader) ++ opts.headers).toSeq
    val timeout = opts.timeoutMillis
    val (maxConc, minTime) = (config.maxConcurrent, config.minTimeMillis)
    val spark = records.sparkSession
    import spark.implicits._
    val keyCol = idempotencyKey.getOrElse(lit(null)).cast("string")
    val fileCol = file.getOrElse(lit(null)).cast("string")
    records.select(fileCol, recId.cast("long"), body.cast("string"), keyCol)
      .as[(String, Long, String, String)]
      .mapPartitions { it =>
        val client = HttpClient.newBuilder()
          .connectTimeout(Duration.ofMillis(timeout)).build()
        val limiter = Throttle.forConfig(maxConc, minTime)
        it.map { case (fileName, id, payload, key) =>
          limiter.pace()
          limiter.sem.acquire()
          try {
            val b = HttpRequest.newBuilder(URI.create(url))
              .timeout(Duration.ofMillis(timeout))
              .method(method, HttpRequest.BodyPublishers.ofString(if (payload == null) "" else payload))
            headers.foreach { case (k, v) => b.header(k, v) }
            if (key != null) b.header(IdempotencyHeader, key)
            val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
            val ok = resp.statusCode() == 200
            RestResult(fileName, id, resp.statusCode(), if (ok) "SUCCESS" else "FAILED",
              if (ok) null else resp.body(), resp.body())
          } catch {
            case e: Exception =>
              RestResult(fileName, id, 0, "FAILED", String.valueOf(e.getMessage), null)
          } finally limiter.sem.release()
        }
      }
  }
}
