package graft.ingest

/** P19/P20 — layered job configuration with the reference's precedence
  * idiom: env var > per-call options > config file default
  * (`lib/batchProcessing.js:74-102`, env overrides at `87-101,245,440,610,632`;
  * same precedence for auth at `436-525`).
  *
  * The one source of a job's settings, read by [[graft.BatchJob.ingest]]:
  * the REST endpoint and rate limit, the status log items, and the
  * progress interval (above 0 it attaches a [[ProgressReporter]] for the
  * call). The reference's `maxQueueSize` bounds Bottleneck's queue; Spark
  * has no such queue.
  *
  * Unlike the reference's module-global mutable state
  * (`lib/batchProcessing.js:51-53,74,104` — unsafe for concurrent runs),
  * a BatchConfig is an immutable value per job.
  */
final case class BatchConfig(
    maxConcurrent: Int = 80,       // reference default, lib/batchProcessing.js:87
    minTimeMillis: Int = 20,       // :89
    progressIntervalMillis: Int = 10000, // :299
    appBaseUrl: Option[String] = None,
    modelApi: Option[String] = None,
    accessToken: Option[String] = None,
    batchResultLogItems: Set[String] = Set.empty,
    logLevel: Option[String] = None)  // BATCH_LOGGER_CONFIG, lib/batchProcessing.js:34-35,59-60

object BatchConfig {

  /** Resolve one key: env > options > fileDefaults > hard default. */
  def resolve[A](env: Map[String, String], envKey: String,
                 option: Option[A], fileDefault: Option[A], hardDefault: A)(parse: String => A): A =
    env.get(envKey).map(parse)
      .orElse(option)
      .orElse(fileDefault)
      .getOrElse(hardDefault)

  /** Build a config from the three layers. `options`/`fileDefaults` carry
    * the same keys the reference reads from `batch-config.json`
    * (README.md:198-213).
    */
  def load(
      env: Map[String, String] = sys.env,
      options: Map[String, String] = Map.empty,
      fileDefaults: Map[String, String] = Map.empty): BatchConfig = {
    def s(envKey: String, optKey: String): Option[String] =
      env.get(envKey).orElse(options.get(optKey)).orElse(fileDefaults.get(optKey))
    BatchConfig(
      maxConcurrent = resolve(env, "MAX_CONCURRENT", options.get("maxConcurrent").map(_.toInt),
        fileDefaults.get("maxConcurrent").map(_.toInt), 80)(_.toInt),
      minTimeMillis = resolve(env, "MIN_TIME", options.get("minTime").map(_.toInt),
        fileDefaults.get("minTime").map(_.toInt), 20)(_.toInt),
      progressIntervalMillis = resolve(env, "PROGRESS_INTERVAL",
        options.get("progressInterval").map(_.toInt),
        fileDefaults.get("progressInterval").map(_.toInt), 10000)(_.toInt),
      appBaseUrl = s("APP_BASE_URL", "appBaseURL"),
      modelApi = s("MODEL_API", "modelAPI"),
      accessToken = s("ACCESS_TOKEN", "access_token"),
      batchResultLogItems = resolve(env, "BATCH_RESULT_LOG_ITEMS",
        options.get("batchResultLogItems"), fileDefaults.get("batchResultLogItems"), "")(identity)
        .split(",").map(_.trim).filter(_.nonEmpty).toSet,
      // BATCH_LOGGER_CONFIG maps to the job log level, trimmed + lowercased
      // (lib/batchProcessing.js:34-35,59-60) — and, exactly as the
      // reference guards, it is IGNORED when LOGGER_CONFIG is already set
      // (the generic logger config wins over the batch-specific shorthand)
      logLevel =
        if (env.contains("LOGGER_CONFIG")) None
        else env.get("BATCH_LOGGER_CONFIG").map(_.trim.toLowerCase))
  }

  /** Apply a resolved [[BatchConfig.logLevel]] to the engine's log4j2
    * root logger — the Spark-side counterpart of the reference wiring its
    * env var into oe-logger's default level. No-op when unset or when the
    * value is not a log4j level name (the reference passes the string
    * through to its logger just as loosely).
    */
  def applyLogLevel(cfg: BatchConfig): Unit =
    cfg.logLevel.map(_.toUpperCase).foreach { lvl =>
      val parsed = org.apache.logging.log4j.Level.toLevel(lvl, null)
      if (parsed != null)
        org.apache.logging.log4j.core.config.Configurator.setRootLevel(parsed)
    }
}
