package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** The ONE session builder of the harness mains (Bench, Explain, Verify,
  * ScaleSmoke), so the captured plans and the verified results are
  * produced under exactly the session shape that is benched (same
  * master/core count, same shuffle partitions, same confs, same top-k
  * rewrite). Round 18's Explain hardcoded its own confs and a different
  * SPARK_GRAFT_CPUS default ("32" vs Bench's "4"), which let plan captures
  * silently diverge from benched plans whenever the env var was unset —
  * deriving both from here makes that drift impossible.
  */
object HarnessSession {

  /** Core count from the driver contract's env var; default matches Bench's
    * historical default so unset-env behavior is unchanged for the bench.
    */
  def cpus(): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Size of Spark's cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU keyed by the class loader and the generated source, and a mix
    * that cycles through more distinct classes than it holds misses on
    * every access. One pass of perfbench's 11-query mix needs about 217
    * classes: at 100 entries every later pass recompiled 205-208 of them
    * (2.0-2.4 s of Janino time on 4 cores); at 8192 the later passes
    * compiled 14, 0 and 10 (all q194).
    * The 287-query suite at sf0.001 touches about 4.5k classes, so 8192
    * covers it with headroom (4000 still thrashed). Its second pass went
    * from 7,262 compiles (96.7 s, 287 s wall) to 722 (11.9 s, 209 s wall),
    * and Metaspace after two passes from 225 to 267 MiB.
    *
    * It is a static conf: `CodeGenerator` reads it once per JVM, when it
    * first initializes, so it must be set on the builder before any query
    * runs, and every session builder of one JVM has to agree on it (the
    * test session applies the same value).
    */
  val CodegenCacheMaxEntries: Int = 8192

  def build(): SparkSession = build(cpus(), cpus())

  /** A session on `n` local cores with `shufflePartitions` shuffle
    * partitions (ScaleSmoke grows the partitions with its replicated data).
    */
  def build(n: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheMaxEntries.toLong)
      // reclaim shuffle files/broadcasts continuously (default 30min never
      // fires inside a suite run) — see the harness-drift note in Bench
      .config("spark.cleaner.periodicGC.interval", "30s")
      // AQE partition coalescing stays at its default parallelism-first
      // behavior. The r19 adjudication of the r18 "8 cores beats 32 at
      // sf0.1" inversion A/B'ed parallelismFirst=false (coalesce every
      // below-advisory shuffle to advisory size — 1 partition at sf0.1)
      // over a 39-query mixed scope, back-to-back: 62.7 s → 64.2 s.
      // Fixed-wave queries improved slightly (q27 2.1→1.6, q164 3.7→2.7)
      // but compute-dense small-data queries lost real parallelism
      // (q74 percentiles 1.7→3.8, q19 2.6→3.6, q158 1.9→3.0): the
      // inversion is per-stage scheduling overhead, not partition count,
      // and trading away in-stage parallelism costs more than the
      // scheduling it saves. Committed as a negative result.
      .getOrCreate()
    // ERROR, not WARN: any WARN line landing between queries eats into the
    // driver's ~2000-char output tail and can push the result line out;
    // Verify and ScaleSmoke print their own failures on stderr
    spark.sparkContext.setLogLevel("ERROR")
    // the native top-k rewrite is part of the engine, not a per-query
    // opt-in: Verify proves it correct on every query it fires on, so both
    // harnesses see the same plans (PlanSpec gates that it fires)
    graft.plans.TopK.enableRewrite(spark)
    spark
  }
}
