package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import scala.util.control.NonFatal

/** Throughput harness (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query MEDIAN-OF-3
  * seconds. Queries run in sorted name order after a session warmup, so
  * per-query numbers are comparable across rounds (the first query no
  * longer absorbs session/codegen startup), and each query repeats three
  * times with the median reported — one contended landing cannot fake a
  * regression (round 6: 4 of 5 apparent regressions were contention).
  *
  * WHAT IS TIMED (round 11, the q224 lesson): each repeat materializes
  * EVERY column of the query's result through the `noop` DSv2 sink —
  * never `count()`. Under `count()` Catalyst prunes any output column the
  * row count doesn't depend on, and that pruning reaches arbitrarily far
  * up the plan: q224's entire ×32 replicate explode + per-draw md5 — the
  * operator's actual work — was optimized out because the bootstrap CI
  * values don't change the row count, so rounds 1–9 timed a 0.7 s phantom
  * and the honest 3.5 s first surfaced when an unrelated filter made the
  * count depend on a sum. Correctness (Verify) always materialized fully;
  * now the bench times the same work a consumer would pay. Numbers before
  * round 11 are NOT comparable for queries whose trailing columns were
  * prunable (see BENCH_NOTES_r11.md).
  *
  * Every query starts COLD: a sweep before each run drops the memoized
  * dedup candidate frames, every cached Dataset, and every persisted RDD.
  * Round 5 showed why — suite order let q1xx queries pre-build caches that
  * made q40 read 8× fast while the accumulated blocks inflated the
  * untouched q28–q46 block 3.5–4× vs its cold times. Cold per-query
  * numbers are the round-over-round regression signal; within-query
  * caching (build-then-consume in one plan) is untouched. The session also
  * runs the ContextCleaner's periodic GC at 30 s (default 30 MIN — far
  * longer than the whole suite): without it, shuffle files and broadcasts
  * from ~750 repeats are only reclaimed when a full GC happens to run, and
  * round 10 measured the accumulation directly as repeats that trend
  * monotonically upward (q194: [0.8, 1.5, 3.2, 3.1, 3.7]).
  */
object Bench {

  /** Materialize every column of `df` through the no-op DSv2 sink and
    * return its row count (from an [[org.apache.spark.sql.Observation]]
    * riding the same materialization — no second pass, and the observe
    * aggregate cannot trigger the count()-style column pruning this
    * helper exists to prevent). Shared with ScaleSmoke so both harnesses
    * time the same full-result shape.
    */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Drop every cross-query warm path: memoized candidate frames, cached
    * Datasets, persisted RDDs. Blocking=TRUE (round 12): r11's
    * harness_drift flag proved non-blocking eviction IS cross-repeat state
    * — q211's MEMORY_AND_DISK shingle frame from repeat k still held
    * executor memory while repeat k+1 persisted its own, so wall time
    * tracked heap history (repeats [12.4, 35.6, 5.7, 45.9, 18.1] s for
    * unchanged code). Waiting for eviction costs milliseconds OUTSIDE the
    * timed region and makes every repeat start from the same empty block
    * manager. Shared with ScaleSmoke so both harnesses time the same cold
    * shape.
    */
  private[graft] def coldSweep(spark: SparkSession): Unit = {
    graft.queries.Dedup.clearCandidateCache()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Write `line` plus a newline to `file`. `Files.write` throws on a failed
    * write (a `PrintWriter` swallows it), so a stale file from an earlier
    * run is never left looking current.
    */
  private def writeLine(file: String, line: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      (line + System.lineSeparator).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session shape (master, shuffle partitions, confs, top-k rewrite) is
    // shared with Explain via HarnessSession so captured plans cannot
    // drift from benched plans
    val spark = HarnessSession.build()
    // warm up the session: scheduler, codegen compiler (incl. the
    // regex/explode-heavy text pipeline shapes), parquet footer reads
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables(spark, sfDir, "lineitem").limit(1).collect()
    import org.apache.spark.sql.functions._
    Tables(spark, sfDir, "documents").limit(64)
      .select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .groupBy("t").count().orderBy(desc("count")).limit(5).collect()
    // local-iteration escape hatch: SPARK_GRAFT_ONLY=q46,q55 times just
    // those prefixes; unset (the driver's invocation) runs everything
    val keep = SparkEntry.onlyFilter()
    val kept = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keep(name) }
    // The MinHash signature/band store is a corpus-INGEST-time artifact
    // (SURVEY §9): built once per corpus, read by every dedup/graph policy.
    // Build it here untimed — like the parquet inputs themselves — so the
    // per-query numbers measure each operator cold AGAINST the store, not
    // eight rebuilds of one shared hashing pipeline. coldSweep still drops
    // every in-memory trace per query; "cold" means "from disk".
    if (kept.exists { case (n, _) =>
        graft.queries.Dedup.candidateConsumers.exists(n.startsWith) })
      graft.queries.Dedup.writeSignatureStore(spark, sfDir)
    // Same hoist for the lexical store (SURVEY §9): (doc_id, dl) +
    // term-partitioned postings, built once per corpus at ingest, read by
    // q56/q108/q121 instead of re-tokenizing the corpus per query.
    if (kept.exists { case (n, _) =>
        graft.queries.CorpusOps.lexConsumers.exists(n.startsWith) })
      graft.queries.CorpusOps.writeLexStore(spark, sfDir)
    // Same hoist for the one-per-(JVM, sf) table/carve fixtures: the
    // versioned tables (q192-family, q214, q230), the q200/q230 replay
    // carves, and the q215 bucketed tables are ingest-time artifacts a
    // real deployment builds once — round 9's first repeats carried them
    // (q215 [21.7, 3.2, 2.1]), skewing medians away from the operator.
    kept.foreach { case (n, _) =>
      graft.queries.IngestOps.warmFixture(spark, sfDir, n.takeWhile(_ != '_'))
    }
    // MEDIAN OF 3 per query: round 6's committed numbers carried 2-6×
    // machine-contention noise (4 of 5 apparent regressions were artifacts)
    // and the per-query signal drives every optimization round. Each repeat
    // is independently cold (full sweep); the median discards one bad
    // landing. Row counts must agree across repeats — drift means the
    // query is nondeterministic between harness runs, which the driver's
    // single-shot correctness gate would never see; it is recorded in
    // BENCH_DETAIL (never a crash: a blown require here would lose the
    // whole round's numbers over one flaky query).
    val Repeats = 3
    // CONTENTION GUARD (round 9: raw repeats spread 2-14× under machine
    // load — q220 [117, 8.3, 61] — and the medians are the regression
    // signal): when the 3 cold repeats spread more than SpreadBound, the
    // query earns up to 2 extra repeats and the median is taken over all
    // 5 — two contended landings out of five can no longer set the median.
    // Sub-second queries are exempt (their spread is scheduler jitter, and
    // the extra repeats would double the suite's fixed overhead).
    val SpreadBound = 3.0
    // HARNESS-DRIFT SELF-CHECK (round 10: q194's repeats trended
    // monotonically upward while its code was unchanged — the harness, not
    // the operator, was drifting): when a query's repeats spread >2× and it
    // isn't scheduler-jitter-sized, repeat-1's measurement is re-run once
    // AFTER the final repeat. If that re-run still exceeds 2× the fastest
    // landing, the same measurement got slower over the query's own
    // lifetime — state the cold sweep doesn't reach is accumulating — and
    // the query is flagged `harness_drift` in BENCH_DETAIL rather than
    // letting the inflated median masquerade as an operator regression.
    val drift = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // COMPILE TIME as its own layer: each repeat also records how many
    // generated classes Janino compiled and for how long (the process-wide
    // CodegenMetrics count and CodeGenerator nanos, as deltas). A class
    // served from the codegen cache costs neither, so a query whose
    // repeats keep compiling generates different source per run, compiles
    // under a new class loader per run, or outgrows the cache
    // (HarnessSession.CodegenCacheMaxEntries).
    def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)
    val results = kept.map { case (name, fn) =>
      def once(): (Double, Long, Long, Long) = {
        coldSweep(spark)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        val rows = try materialize(fn(spark, sfDir)) catch {
          case NonFatal(e) =>
            // attribute the failure (r11's tail had an unattributable stack
            // trace): name + exception to stderr, -1 sentinel in the rows map
            System.err.println(
              s"[bench] $name materialize failed: ${e.toString.take(300)}")
            -1L
        }
        ((System.nanoTime() - t0) / 1e9, rows,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
          CodeGenerator.compileTime - compileNs0)
      }
      val first = (1 to Repeats).map(_ => once())
      val contended = first.map(_._1).max > SpreadBound * first.map(_._1).min &&
        first.map(_._1).max > 1.0
      val runs = if (contended) first ++ (1 to 2).map(_ => once()) else first
      if (runs.map(_._2).distinct.size != 1)
        System.err.println(
          s"[bench] $name row count drifted across repeats: ${runs.map(_._2).mkString(",")}")
      val best = runs.map(_._1).min
      if (runs.map(_._1).max > 2.0 * best && runs.map(_._1).max > 0.5) {
        val recheck = once()._1
        if (recheck > 2.0 * best) drift += name -> (best, recheck)
      }
      (name, median(runs.map(_._1)), runs.head._2, runs)
    }
    // The driver keeps only the last ~2000 chars of sbt output, and the
    // "[success] Total time" trailer eats ~80 of them. A line with 70+ full
    // query names plus a rows map is >3 KB and gets truncated from the
    // front (rounds 1-3 all recorded parsed:null). So stdout gets ONE
    // compact line — short qNN keys (the unique prefix of every query
    // name), 1-decimal seconds (155 queries × 2-decimal entries breached
    // the 1800-char budget at q154), no rows map — and the full detail
    // (full names, row counts, raw nanosecond seconds) goes to
    // BENCH_DETAIL.json on disk; read THAT for sub-0.1 s comparisons.
    def fmt(secs: Double): String = {
      val s = BigDecimal(secs).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    // the compact line keys by qNN prefix — a duplicate prefix would emit
    // duplicate JSON keys and last-wins parsing would drop a measurement
    require(results.map(_._1.takeWhile(_ != '_')).distinct.size == results.size,
      "duplicate qNN prefix among query names — compact bench keys would collide")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val detailQs = results.map { case (k, secs, _, _) => "\"" + k + "\":" + secs }
      .mkString("{", ",", "}")
    val detailRows = results.map { case (k, _, n, _) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    // full per-repeat seconds + any row-count drift — the audit trail for
    // "is this regression code or contention" without re-running anything
    val detailRuns = results.map { case (k, _, _, runs) =>
      "\"" + k + "\":[" + runs.map(_._1).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val detailCompiles = results.map { case (k, _, _, runs) =>
      "\"" + k + "\":" + median(runs.map(_._3))
    }.mkString("{", ",", "}")
    val detailCompileMs = results.map { case (k, _, _, runs) =>
      "\"" + k + "\":" + median(runs.map(_._4)) / 1e6
    }.mkString("{", ",", "}")
    val drifted = results.collect {
      case (k, _, _, runs) if runs.map(_._2).distinct.size != 1 =>
        "\"" + k + "\":[" + runs.map(_._2).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // harness_drift: queries whose re-run of repeat-1 AFTER the final
    // repeat still exceeded 2x the best landing — [best, recheck] seconds
    val driftJson = drift.map { case (k, (b, r)) => "\"" + k + "\":[" + b + "," + r + "]" }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","basis":"noop-materialize","queries":$detailQs,"rows":$detailRows,"runs":$detailRuns,"compiles":$detailCompiles,"compile_ms":$detailCompileMs,"row_drift":$drifted,"harness_drift":$driftJson,"sf":"$sfDir"}"""
    writeLine("BENCH_DETAIL.json", detail)
    val sfName = new java.io.File(sfDir).getName // basename: every char counts
    // 176+ queries no longer fit one ~1800-char line even at 1-decimal
    // precision (round 7 died on exactly this require and lost its bench
    // round). The stdout line is the driver's parse target, not the
    // archive — BENCH_DETAIL.json (committed) holds every query at full
    // precision. So stdout carries the total plus the SLOWEST queries,
    // greedily packed until the budget is reached (cost-descending: the
    // expensive tail is the round-over-round regression signal; a 0.1 s
    // query that regressed still surfaces in the detail file), and an
    // "omitted" count so a reader knows the map is a prefix, not the suite.
    val budget = 1800
    val bySlowest = results.sortBy(-_._2)
    val entries = bySlowest.map { case (k, secs, _, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(secs)
    }
    // RAW REPEATS for the slowest queries, IN the driver-committed line
    // (round-17 lesson: a contended sweep inflated a q-block 4-8x and
    // adjudicating it took a scoped re-run + an A/B — with the repeats
    // visible, [30.2, 3.9, 4.1] reads as contention in one look while
    // [30.2, 29.8, 31.0] reads as a real regression)
    val repEntries = bySlowest.map { case (k, _, _, runs) =>
      "\"" + k.takeWhile(_ != '_') + "\":[" + runs.map(r => fmt(r._1)).mkString(",") + "]"
    }
    val head =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfName","n":${results.size},"queries":{"""
    // reserve digits for the WORST-case omitted counts, so the require
    // can't fire after a full run no matter how many queries the suite
    // grows to; strictly UNDER the reserve (the require below is `<`)
    val trailerReserve =
      s"""},"omitted":${entries.size},"repeats":{},"omitted_repeats":${entries.size}}""".length + 1
    val room = budget - head.length - trailerReserve
    def pack(xs: Seq[String], cap: Int): (Seq[String], Int) = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = 0
      xs.foreach { e =>
        val cost = e.length + (if (out.isEmpty) 0 else 1)
        if (used + cost <= cap) { out += e; used += cost }
      }
      (out.toSeq, used)
    }
    // medians get ~60% of the room (the round-over-round signal), the
    // repeats the rest (the contention self-adjudication)
    val (medPacked, medUsed) = pack(entries, (room * 3) / 5)
    val (repPacked, _) = pack(repEntries, room - medUsed)
    val line = head + medPacked.mkString(",") +
      s"""},"omitted":${entries.size - medPacked.size},"repeats":{""" +
      repPacked.mkString(",") +
      s"""},"omitted_repeats":${repEntries.size - repPacked.size}}"""
    require(line.length < budget, s"bench line ${line.length} chars breaches tail budget")
    // Mirror the EXACT stdout line, bare, to a known file: the driver's
    // parser has recorded parsed:null every round because sbt's logger
    // prefixed the line with "[info] " (fixed via outputStrategy in
    // build.sbt) and it was not the final stdout line ("[success] Total
    // time" trails it). The file is the recovery path that cannot be
    // damaged by any log framing. Additions only — what is timed and what
    // is printed are unchanged.
    writeLine("BENCH_LINE.json", line)
    println(line)
    spark.stop()
  }
}
