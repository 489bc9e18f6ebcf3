package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{Bench, SparkEntry}
import graft.queries._

/** The `query-mix` workload: a fixed list of `SparkEntry.queries`, each run
  * cold (`Bench.coldSweep`) and fully materialized (`Bench.materialize`),
  * one at a time, over the tables in the benchmark's data directory.
  */
object QueryMix {

  /** The mix, by query prefix, with each query's pinned row count on the
    * bundled sf0.001 tables: eleven of the sixteen query modules, chosen so
    * a run fits the time budget (see README.md).
    */
  val Rows: Seq[(String, Long)] = Seq(
    "q13" -> 138L,   // Relational: cube, sub-second
    "q23" -> 15L,    // EventsOps: top per user, sub-second
    "q57" -> 5L,     // CorpusOps: temperature sampling, sub-second
    "q97" -> 66L,    // TrainPrep: sharded packing, sub-second
    "q149" -> 1L,    // TpchStyle: TPC-H Q6, sub-second
    "q41" -> 50L,    // Dedup: n-gram Jaccard near-duplicates
    "q282" -> 5L,    // IngestOps: DeltaLog v2-checkpoint reader
    "q194" -> 150L,  // SketchOps: rolling quantiles, time inside jobs
    "q50" -> 50L,    // Similarity: brute-force kNN
    "q74" -> 3L,     // Temporal: percentiles
    "q85" -> 17L)    // MultimodalOps: image resize

  /** Rows in the ten bundled tables: the stated input size for `rec_per_s`. */
  val InputRows = 9890.0

  /** Pinned order-independent content checksums (see
    * [[materializeWithChecksum]]). Every query in the mix is deterministic
    * on the bundled tables, so none is left unpinned.
    */
  val Checksums: Map[String, Long] = Map(
    "q13" -> 304125142009L, "q23" -> 32992251605L, "q57" -> 7278543619L,
    "q97" -> 132896933314L, "q149" -> 355893225L, "q41" -> 109031054159L,
    "q282" -> 12208890584L, "q194" -> 356277548830L, "q50" -> 102660882133L,
    "q74" -> 7256216257L, "q85" -> 35950641888L)

  private val moduleOf: Map[String, String] = Seq(
    "CorpusOps" -> CorpusOps.all, "Curation" -> Curation.all, "Dedup" -> Dedup.all,
    "EventsOps" -> EventsOps.all, "GraphOps" -> GraphOps.all, "IngestOps" -> IngestOps.all,
    "LayoutOps" -> LayoutOps.all, "MiningOps" -> MiningOps.all, "MultimodalOps" -> MultimodalOps.all,
    "Relational" -> Relational.all, "Similarity" -> Similarity.all, "SketchOps" -> SketchOps.all,
    "Temporal" -> Temporal.all, "TextOps" -> TextOps.all, "TpchStyle" -> TpchStyle.all,
    "TrainPrep" -> TrainPrep.all
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  final case class Query(prefix: String, name: String, rows: Long, fn: (SparkSession, String) => DataFrame) {
    def module: String = moduleOf(name)
  }

  def mix: Seq[Query] = Rows.map { case (p, rows) =>
    val hits = SparkEntry.queries.filter(_._1.startsWith(p + "_")).toSeq
    require(hits.size == 1, s"query prefix $p matches ${hits.map(_._1)}")
    val q = Query(p, hits.head._1, rows, hits.head._2)
    require(Metrics.modules.contains(q.module), s"${q.name}: module ${q.module} missing from Metrics.modules")
    q
  }

  /** Order-independent checksum of a result, computed in the same pass that
    * materializes it: the sum of 32-bit row hashes over each row's JSON
    * text, with top-level floating-point columns rounded to 6 places.
    */
  def materializeWithChecksum(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val obs = Observation()
    named.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).bitwiseAND(lit(4294967295L))), lit(0L)).as("sum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("sum").asInstanceOf[Long])
  }

  /** One repeat of one query. */
  final case class Rep(q: Query, pass: Int, wall: Double, rows: Long, checksum: Option[Long],
      construct: Option[Span], materialize: Option[Span], error: Option[String])

  private def once(spark: SparkSession, dir: String, q: Query, pass: Int, tracer: Option[Tracer],
      withChecksum: Boolean): Rep = {
    Bench.coldSweep(spark)
    def phase[A](name: String)(body: => A): (A, Option[Span]) = tracer match {
      case Some(t) => val (a, s) = t.span(s"${q.prefix}:$name:$pass")(body); (a, Some(s))
      case None => (body, None)
    }
    val t0 = System.nanoTime()
    try {
      val (df, cs) = phase("construct")(q.fn(spark, dir))
      val ((rows, sum), ms) = phase("materialize") {
        if (withChecksum) { val (r, s) = materializeWithChecksum(df); (r, Some(s)) }
        else (Bench.materialize(df), None)
      }
      Rep(q, pass, (System.nanoTime() - t0) / 1e9, rows, sum, cs, ms, None)
    } catch {
      case e: Exception => Rep(q, pass, (System.nanoTime() - t0) / 1e9, -1L, None, None, None, Some(e.toString))
    }
  }

  /** Every repeat's row count must match the pin; the checksum pass must
    * match its pin. Returns the failed repeats with what failed.
    */
  private def failures(reps: Seq[Rep]): Seq[(Rep, String)] = reps.flatMap { r =>
    val pinned = Checksums.getOrElse(r.q.prefix, sys.error(s"no pinned checksum for ${r.q.prefix}"))
    Seq(
      r.error.map(e => s"threw $e"),
      if (r.error.isEmpty && r.rows != r.q.rows) Some(s"rows ${r.rows} != pinned ${r.q.rows}") else None,
      r.checksum.filter(_ != pinned).map(c => s"checksum $c != pinned $pinned")
    ).flatten.map(r -> _)
  }

  def run(ctx: Main.Ctx): Metrics.Outcome = {
    val dir = ctx.data.getPath
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val queries = mix
    // the stores and fixtures live under java.io.tmpdir; clearing them makes
    // every set-up trial rebuild them from the tables
    def clear(): Unit = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_")).foreach(Files.delete)
    val (spark, trials) = Setup.run(() => clear()) { (spark, _) =>
      def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      Map("fixtures" -> timed(queries.foreach(q => IngestOps.warmFixture(spark, dir, q.prefix))))
    }
    val storeBytes = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_")).map(Files.bytes).sum
    val inputBytes = Files.bytes(ctx.data)
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    Log.phase("warm-up pass")
    // one untimed pass: the first run of each query, and the content check
    val warm = Seq(queries.map(q => once(spark, dir, q, 0, tracer, withChecksum = true)))
    // timed passes; traced runs alternate untraced (odd) and traced (even)
    val timed = scala.collection.mutable.ArrayBuffer.empty[Seq[Rep]]
    val passCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minPasses = 2
    Log.phase("timed passes")
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var pass = 1
    while (pass <= minPasses || elapsed + elapsed / (pass - 1) <= ctx.seconds) {
      val t = tracer.filter(_ => pass % 2 == 0)
      if (ctx.trace) { if (t.isDefined) tracer.get.attach() else tracer.get.detach() }
      val cpu0 = Cpu.now()
      timed += queries.map(q => once(spark, dir, q, pass, t, withChecksum = false))
      passCpu += (Cpu.now() - cpu0) / 1e9
      pass += 1
    }
    tracer.foreach(_.detach())
    System.err.println("[perfbench] pass walls: " + (warm ++ timed).map(p => f"${p.map(_.wall).sum}%.3f").mkString(" "))
    Log.phase("checks")
    val all = warm.flatten ++ timed.flatten
    val bad = failures(all)
    bad.foreach { case (r, what) => System.err.println(s"[perfbench] CHECK FAILED ${r.q.name} pass ${r.pass}: $what") }
    // a query's row count must not drift across repeats
    val drift = all.groupBy(_.q.prefix).collect { case (p, rs) if rs.map(_.rows).distinct.size > 1 => p }
    drift.foreach(p => System.err.println(s"[perfbench] CHECK FAILED $p: row count drifted across repeats"))
    val failedReps = (bad.map(_._1) ++ all.filter(r => drift.exists(_ == r.q.prefix))).distinct

    val perQuery = queries.map(q => q -> Stats.median(timed.map(_.find(_.q == q).get.wall).toSeq))
    val total = perQuery.map(_._2).sum
    System.err.println("[perfbench] per-query median s: " +
      perQuery.map { case (q, t) => f"${q.prefix}=$t%.3f" }.mkString(" "))
    val e2e = Map(
      "setup_s" -> Stats.median(trials.map(_.total)),
      "run_p50_s" -> total,
      "rec_per_s" -> InputRows / total,
      "geomean_s" -> Stats.geomean(perQuery.map(_._2)),
      "cpu_p50_s" -> Stats.median(passCpu.toSeq),
      "sink_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
      "peak_rss_mb" -> Files.peakRssMb())
    val lay = tracer.map { t =>
      t.write(new File(ctx.work, "trace.jsonl"))
      layers(t, queries, warm, timed.toSeq, trials) ++ ParserBench.run(ctx.seed)
    }.getOrElse(Map.empty)
    Metrics.Outcome(all.size, failedReps.size, e2e, lay)
  }

  private def layers(t: Tracer, queries: Seq[Query], warm: Seq[Seq[Rep]], timed: Seq[Seq[Rep]],
      trials: Seq[Setup.Trial]): Map[String, Double] = {
    val traced = timed.filter(_.forall(_.materialize.isDefined))
    val untraced = timed.filter(_.forall(_.materialize.isEmpty))
    // per repeat: (name -> value) from its two phase spans
    def repStats(r: Rep): Map[String, Double] = {
      val spans = Seq(r.construct, r.materialize).flatten
      val jobs = spans.flatMap(t.jobsOf)
      val inJobs = spans.map(t.inJobs).sum
      val ph = spans.map(t.phasesOf)
      Map(
        "query.construct_s" -> r.construct.map(_.wallS).getOrElse(0.0),
        "query.construct_jobs" -> r.construct.map(s => t.jobsOf(s).size.toDouble).getOrElse(0.0),
        "query.driver_gap_s" -> spans.map(t.selfTime).sum,
        "query.in_jobs_s" -> inJobs,
        "query.jobs" -> jobs.size.toDouble,
        "query.stages" -> jobs.map(_.stages).sum.toDouble,
        "query.tasks" -> jobs.map(_.tasks).sum.toDouble,
        "query.analyze_s" -> ph.map(_.analysis).sum,
        "query.optimize_s" -> ph.map(_.optimization).sum,
        "query.plan_s" -> ph.map(_.planning).sum,
        "query.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
        "query.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
        "query.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
        "query.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
        "query.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
        "_wall" -> r.wall)
    }
    val perQuery = queries.map { q =>
      val reps = traced.map(_.find(_.q == q).get).map(repStats)
      q -> reps.head.keys.map(k => k -> Stats.median(reps.map(_(k)))).toMap
    }
    val summed = perQuery.head._2.keys.filterNot(_.startsWith("_"))
      .map(k => k -> perQuery.map(_._2(k)).sum).toMap
    // job count per repeat, warm-up included: a query whose count changes
    // across repeats keeps state the cold sweep does not reach
    val jobCounts = queries.map { q =>
      q -> (warm ++ traced).map(_.find(_.q == q).get).map(r =>
        Seq(r.construct, r.materialize).flatten.map(s => t.jobsOf(s).size).sum)
    }
    val drifting = jobCounts.filter(_._2.distinct.size > 1)
    System.err.println("[perfbench] jobs per repeat (warm-up first): " +
      jobCounts.map { case (q, n) => s"${q.prefix}=${n.mkString("/")}" }.mkString(" "))
    System.err.println(s"[perfbench] job-count drift: ${drifting.map(_._1.prefix).mkString(" ")}")
    val modules = Metrics.modules.map { m =>
      s"query.module.${m}_s" -> perQuery.filter(_._1.module == m).map(_._2("_wall")).sum
    }
    val allTraced = (warm ++ traced).flatten.flatMap(r => Seq(r.construct, r.materialize).flatten)
    val inJobs = allTraced.map(t.inJobs).sum
    val unattributed = Intervals.union(t.jobsWithoutSpan().map(j => (j.start, j.end)))
    summed ++ modules ++ Map(
      "query.job_count_drift" -> drifting.size.toDouble,
      "setup.session_s" -> Setup.part(trials, "session"),
      "setup.fixtures_s" -> Setup.part(trials, "fixtures"),
      "trace.overhead_ratio" ->
        (Stats.median(traced.map(_.map(_.wall).sum)) / Stats.median(untraced.map(_.map(_.wall).sum)) - 1.0),
      "trace.unattributed_ratio" -> unattributed / inJobs)
  }
}
