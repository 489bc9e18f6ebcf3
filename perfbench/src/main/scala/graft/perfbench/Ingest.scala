package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.BatchJob
import graft.BatchJob.{Parser, RunSummary, Sinks}
import graft.ingest.{BatchConfig, BatchRunStore}

/** The two ingest workloads: `BatchJob.processFile` with target, status and
  * run parquet sinks, one call at a time (a closed loop with one client).
  */
object Ingest {

  final case class SinkDirs(target: File, status: File, runs: File) {
    def sinks: Sinks = Sinks(targetPath = Some(target.getPath), statusPath = Some(status.getPath),
      runPath = Some(runs.getPath))
    def all: Seq[File] = Seq(target, status, runs)
  }
  object SinkDirs {
    def under(d: File): SinkDirs = SinkDirs(new File(d, "target"), new File(d, "status"), new File(d, "runs"))
  }

  /** One `processFile` call and what it left behind. `sinkBytes` is what the
    * call added to the target, status and run sinks.
    */
  final case class Call(input: File, exp: Expected, dirs: SinkDirs, wall: Double, cpu: Double,
      summary: Option[RunSummary], span: Option[Span], sinkBytes: Seq[Long], sinkFiles: Int)

  /** How a workload feeds the loop: the input and expectation of call `i`,
    * and the sinks it writes to.
    */
  final case class Feed(input: Int => (File, Expected), dirs: Int => SinkDirs, parser: Parser)

  private def call(spark: SparkSession, tracer: Option[Tracer], feed: Feed, i: Int): Call = {
    val (input, exp) = feed.input(i)
    val dirs = feed.dirs(i)
    val before = dirs.all.map(Files.bytes)
    val filesBefore = dirs.all.map(Files.dataFiles(_).size).sum
    def run(): Option[RunSummary] =
      try Some(BatchJob.processFile(spark, input.getPath, feed.parser, dirs.sinks, BatchConfig()))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] processFile ${input.getName} failed: $e")
          None
      }
    val t0 = System.nanoTime()
    val cpu0 = Cpu.now()
    val (summary, span) = tracer match {
      case Some(t) =>
        t.attach()
        try { val (s, sp) = t.span(s"processFile:${input.getName}")(run()); (s, Some(sp)) }
        finally t.detach()
      case None => (run(), None)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Cpu.now() - cpu0) / 1e9
    val after = dirs.all.map(Files.bytes)
    Call(input, exp, dirs, span.map(_.wallS).getOrElse(wall), cpu, summary, span,
      after.zip(before).map { case (a, b) => a - b },
      dirs.all.map(Files.dataFiles(_).size).sum - filesBefore)
  }

  /** Check every call against its generator's expectation: the summary's
    * counters, the target rows (count, id checksum, qty sum), the status
    * rows and the BatchRun row (COMPLETED at version 2, same counters).
    * Returns the number of calls that failed.
    */
  private def check(spark: SparkSession, calls: Seq[Call]): Int = {
    val dirs = calls.map(_.dirs).distinct
    // run ids are unique per call, so each sink kind is read once for all calls
    def byRun[V](sinks: Seq[File])(agg: org.apache.spark.sql.RelationalGroupedDataset => Array[(String, V)]): Map[String, V] = {
      val paths = sinks.distinct.filter(Files.dataFiles(_).nonEmpty).map(_.getPath)
      if (paths.isEmpty) Map.empty else agg(spark.read.parquet(paths: _*).groupBy("run_id")).toMap
    }
    val targets = byRun[(Long, Long, Long)](dirs.map(_.target)) { g =>
      g.agg(count(lit(1)), sum(expr(Gen.IdHashSql)), sum(col("qty")).cast("bigint"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    }
    val statuses = byRun[(Long, Long)](dirs.map(_.status)) { g =>
      g.agg(count(lit(1)), sum(when(col("status_text") === "FAILED", 1L).otherwise(0L)))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    }
    val runs = dirs.map(_.runs).distinct.filter(Files.dataFiles(_).nonEmpty)
      .flatMap(d => new BatchRunStore(spark, d.getPath).currentAll().collect()).map(r => r.runId -> r).toMap
    calls.count { c =>
      val problems = c.summary match {
        case None => Seq("processFile threw")
        case Some(s) =>
          val e = c.exp
          val run = runs.get(s.runId)
          Seq(
            "summary counters" -> (s.totalRecordCount == e.lines && s.successCount == e.success &&
              s.failureCount == e.failed && s.ignoredCount == 0),
            "target rows/checksum" -> targets.get(s.runId).contains((e.success, e.idSum, e.qtySum)),
            "status rows" -> statuses.get(s.runId).contains((e.success + e.failed, e.failed)),
            "BatchRun row" -> run.exists(r => r.status == "COMPLETED" && r.version == 2L &&
              r.totalRecordCount == s.totalRecordCount && r.successCount == s.successCount &&
              r.failureCount == s.failureCount && r.ignoredCount == s.ignoredCount)
          ).collect { case (what, false) => what }
      }
      problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED ${c.input.getName}: $p"))
      problems.nonEmpty
    }
  }

  /** A job's layer: the program file in its stage name or, for a job
    * without one (AQE stage jobs), in its SQL execution's call site; BatchJob
    * writes are told apart by their output path.
    */
  private val LayerFiles = Seq("BatchPipeline.scala", "BatchRunStore.scala", "BatchJob.scala")
  private def layerOf(t: Tracer, j: JobRec, dirs: SinkDirs): String = {
    def firstFile(text: String): Option[String] =
      LayerFiles.map(f => f -> text.indexOf(f)).filter(_._2 >= 0).sortBy(_._2).headOption.map(_._1)
    val exec = t.execTextOf(j)
    firstFile(j.name).orElse(firstFile(exec)) match {
      case Some("BatchPipeline.scala") => "textsource"
      case Some("BatchRunStore.scala") => "runstore"
      case Some("BatchJob.scala") =>
        if (exec.contains(dirs.target.getPath)) "target"
        else if (exec.contains(dirs.status.getPath)) "status"
        else "summary"
      case _ => "unattributed"
    }
  }

  /** Per-call layer numbers from a traced call's jobs. */
  private def layers(t: Tracer, c: Call): Map[String, Double] = {
    val s = c.span.get
    val jobs = t.jobsOf(s)
    val byLayer = jobs.groupBy(j => layerOf(t, j, c.dirs))
    val firstOther = jobs.filter(j => layerOf(t, j, c.dirs) != "runstore").map(_.start)
      .reduceOption(_ min _).getOrElse(Long.MaxValue)
    val (insert, update) = byLayer.getOrElse("runstore", Nil).partition(_.start < firstOther)
    def secs(l: String) = Intervals.union(byLayer.getOrElse(l, Nil).map(j => (j.start, j.end)), s.startMs, s.endMs)
    Map(
      "pipeline.textsource_job_s" -> secs("textsource"),
      "batchjob.target_job_s" -> secs("target"),
      "batchjob.status_job_s" -> secs("status"),
      "batchjob.summary_jobs_s" -> secs("summary"),
      "batchjob.driver_gap_s" -> t.selfTime(s),
      "batchjob.jobs" -> jobs.size.toDouble,
      "batchjob.stages" -> jobs.map(_.stages).sum.toDouble,
      "batchjob.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "batchjob.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "batchjob.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "batchjob.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "runstore.jobs_s" -> secs("runstore"),
      "runstore.jobs" -> (insert.size + update.size).toDouble,
      "runstore.rows_read_per_update" -> update.map(_.recordsRead).sum.toDouble,
      "sink.target_bytes" -> c.sinkBytes(0).toDouble,
      "sink.status_bytes" -> c.sinkBytes(1).toDouble,
      "sink.run_bytes" -> c.sinkBytes(2).toDouble,
      "sink.files" -> c.sinkFiles.toDouble,
      "_unattributed_s" -> secs("unattributed"),
      "_in_jobs_s" -> t.inJobs(s))
  }

  /** Direct timing of `BatchRunStore.insert`/`update` against the run log
    * the workload left behind (each pair adds one run to it).
    */
  private def runStoreBench(spark: SparkSession, runs: File, n: Int = 3): Map[String, Double] = {
    val store = new BatchRunStore(spark, runs.getPath)
    val timings = (1 to n).map { i =>
      val id = s"perfbench-direct-$i-${java.util.UUID.randomUUID()}"
      val t0 = System.nanoTime()
      val v = store.insert(id, "direct", System.currentTimeMillis())
      val t1 = System.nanoTime()
      store.update(id, v)(r => r.copy(status = "COMPLETED"))
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    Map("runstore.insert_s" -> Stats.median(timings.map(_._1)),
      "runstore.update_s" -> Stats.median(timings.map(_._2)))
  }

  /** The shared loop: set-up trials, each with a warm-up call on a small
    * file; `untimed` warm-up calls on the workload's own inputs (the JIT is
    * still warming after set-up); then timed calls until `seconds` is used
    * up (at least `minCalls`). With `--trace 1` every other timed call is
    * traced; the rest give the untraced baseline for the overhead ratio.
    */
  private def workload(ctx: Main.Ctx, feed: Feed, warm: Int => Feed, untimed: Int, minCalls: Int): Metrics.Outcome = {
    val warmCalls = scala.collection.mutable.ArrayBuffer.empty[Call]
    val (spark, trials) = Setup.run(() => ()) { (spark, t) =>
      val c = call(spark, None, warm(t), 0)
      require(c.summary.isDefined, "set-up warm-up call failed")
      warmCalls += c
      Map("warm_run" -> c.wall)
    }
    Log.phase("untimed calls")
    warmCalls ++= (0 until untimed).map(i => call(spark, None, feed, i))
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    Log.phase("timed calls")
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    val start = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (i < minCalls || elapsed + Stats.median(calls.map(_.wall).toSeq) <= ctx.seconds) {
      calls += call(spark, tracer.filter(_ => i % 2 == 1), feed, untimed + i)
      i += 1
    }
    Log.phase(s"checks after ${calls.size} calls")
    System.err.println("[perfbench] call walls: " + calls.map(c => f"${c.wall}%.3f").mkString(" "))
    val failed = check(spark, (warmCalls ++ calls).toSeq)
    val timed = calls.toSeq
    val inputBytes = timed.head.input.length.toDouble
    val p50 = Stats.median(timed.map(_.wall))
    val e2e = Map(
      "setup_s" -> Stats.median(trials.map(_.total)),
      "run_p50_s" -> p50,
      "rec_per_s" -> timed.head.exp.lines / p50,
      "geomean_s" -> Stats.geomean(timed.map(_.wall)),
      "cpu_p50_s" -> Stats.median(timed.map(_.cpu)),
      "sink_bytes_per_input_byte" -> Stats.median(timed.map(_.sinkBytes.sum / inputBytes)),
      "peak_rss_mb" -> Files.peakRssMb())
    Log.phase("metrics")
    val lay = tracer.map { t =>
      val traced = timed.filter(_.span.isDefined)
      val per = traced.map(c => layers(t, c))
      val keys = per.head.keySet.filterNot(_.startsWith("_"))
      val med = keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
      val untraced = timed.filter(_.span.isEmpty).map(_.wall)
      t.write(new File(ctx.work, "trace.jsonl"))
      med ++ Map(
        "runstore.log_files" -> Files.dataFiles(timed.last.dirs.runs).size.toDouble,
        "setup.session_s" -> Setup.part(trials, "session"),
        "setup.warm_run_s" -> Setup.part(trials, "warm_run"),
        "trace.overhead_ratio" -> (Stats.median(traced.map(_.wall)) / Stats.median(untraced) - 1.0),
        "trace.unattributed_ratio" -> per.map(_("_unattributed_s")).sum / per.map(_("_in_jobs_s")).sum) ++
        runStoreBench(spark, timed.last.dirs.runs) ++ ParserBench.run(ctx.seed)
    }.getOrElse(Map.empty)
    Metrics.Outcome(warmCalls.size + calls.size, failed, e2e, lay)
  }

  private def warmSinks(ctx: Main.Ctx, trial: Int) = SinkDirs.under(new File(ctx.dir("out-warm"), s"trial-$trial"))

  private val csvParser = Parser.Csv(Gen.csvSpec)
  private val fwParser = Parser.Fw(Gen.fwSpec)
  val CsvLines = 600000
  val WarmLines = 5000
  val FwLines = 2000

  /** One seeded ~25 MB CSV of 600k lines, read by every call; each call
    * writes to fresh sink directories.
    */
  def csvLarge(ctx: Main.Ctx): Metrics.Outcome = {
    val in = new File(ctx.dir("in"), "large.csv")
    val exp = Gen.writeCsv(in, ctx.seed, 0, 1, CsvLines)
    val warmIn = new File(ctx.dir("in"), "warm.csv")
    val warmExp = Gen.writeCsv(warmIn, ctx.seed, 1, 1, WarmLines)
    val out = ctx.dir("out")
    workload(ctx,
      Feed(_ => (in, exp), i => SinkDirs.under(new File(out, s"call-$i")), csvParser),
      t => Feed(_ => (warmIn, warmExp), _ => warmSinks(ctx, t), csvParser),
      untimed = 0, minCalls = 3)
  }

  /** Many seeded 2k-line fixed-width files, one `processFile` call each,
    * all into one shared set of sinks, so the BatchRun log grows across
    * the run.
    */
  def fwSmallRuns(ctx: Main.Ctx): Metrics.Outcome = {
    val inDir = ctx.dir("in")
    val shared = SinkDirs.under(ctx.dir("out"))
    def file(k: Int): (File, Expected) = {
      val f = new File(inDir, f"fw-$k%04d.fwv")
      (f, Gen.writeFw(f, ctx.seed, k, FwLines))
    }
    val warmIn = (0 until Setup.Trials).map(t => file(9000 + t))
    workload(ctx,
      Feed(file, _ => shared, fwParser),
      t => Feed(_ => warmIn(t), _ => warmSinks(ctx, t), fwParser),
      untimed = 4, minCalls = 5)
  }
}
