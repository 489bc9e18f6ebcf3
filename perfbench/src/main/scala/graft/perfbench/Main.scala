package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <work dir> --data <query-mix tables dir>
  *
  * Writes the one-line JSON result to `<work>/result.json` and, with
  * `--trace 1`, every span and job to `<work>/trace.jsonl`.
  */
object Main {

  final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File, data: File) {
    def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }
  }

  final case class Metric(name: String, value: Double, unit: String)

  /** `attempted`/`failed` count operations (one `processFile` call or one
    * query repeat); an operation fails if it throws or fails its output check.
    */
  final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
    def correct: Boolean = attempted > 0 && failed == 0
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", new File(opt("work")).getAbsoluteFile, new File(opt("data")).getAbsoluteFile)
    val outcome = ctx.workload match {
      case "ingest-csv-large" => Ingest.csvLarge(ctx)
      case "ingest-fw-small-runs" => Ingest.fwSmallRuns(ctx)
      case "query-mix" => QueryMix.run(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val result = Result(outcome.attempted, outcome.failed, Metrics.select(outcome, ctx.trace))
    val metrics = result.metrics.map { m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    }
    val line = Json.obj(Seq("correct" -> result.correct.toString,
      "attempted" -> result.attempted.toString, "failed" -> result.failed.toString,
      "metrics" -> Json.obj(metrics)))
    java.nio.file.Files.write(new File(ctx.work, "result.json").toPath, (line + "\n").getBytes("UTF-8"))
    Log.phase("result written")
    SparkSession.getActiveSession.foreach(_.stop())
    Log.phase("session stopped")
    if (!result.correct) {
      System.err.println(s"[perfbench] OUTPUT CHECK FAILED: ${result.failed} of ${result.attempted} operations")
      sys.exit(1)
    }
  }
}

/** Phase marks on standard error, timed from JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0) / 1e3}%.1f s: $what")
}

/** CPU time of this JVM process, all threads (JIT and GC included), in ns. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Long = os.getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Files {
  private def walk(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.flatMap(walk)

  /** Data files under `root` (Spark's hidden `.crc` and `_SUCCESS` markers excluded). */
  def dataFiles(root: File): Seq[File] =
    walk(root).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  def bytes(root: File): Long = dataFiles(root).map(_.length).sum

  def delete(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not found in /proc/self/status"))
    finally src.close()
  }
}

/** Set-up, done several times per run so `setup_s` is a median: each trial
  * stops the previous session, clears what the previous trial built, builds
  * a fresh session through `HarnessSession.build` and runs the workload's
  * preparation, which returns its own named part times.
  */
object Setup {
  val Trials = 3

  final case class Trial(total: Double, parts: Map[String, Double])

  def run(clear: () => Unit)(prep: (SparkSession, Int) => Map[String, Double]): (SparkSession, Seq[Trial]) = {
    var spark: SparkSession = null
    Log.phase("set-up")
    val trials = (0 until Trials).map { t =>
      SparkSession.getActiveSession.foreach(_.stop())
      clear()
      val t0 = System.nanoTime()
      spark = graft.HarnessSession.build()
      val session = (System.nanoTime() - t0) / 1e9
      val parts = prep(spark, t)
      Trial((System.nanoTime() - t0) / 1e9, parts + ("session" -> session))
    }
    (spark, trials)
  }

  def part(trials: Seq[Trial], k: String): Double = Stats.median(trials.map(_.parts.getOrElse(k, 0.0)))
}

/** Direct, single-threaded timing of the public parse functions over
  * generated lines: no Spark, no I/O.
  */
object ParserBench {
  def run(seed: Long, n: Int = 100000): Map[String, Double] = {
    import graft.ingest.Parsers
    val csv = Gen.csvLines(seed, n)
    val fw = Gen.fwLines(seed, n)
    val pc = Parsers.parseCsvLine(Gen.csvSpec) _
    val pf = Parsers.parseFwLine(Gen.fwSpec) _
    def pass(lines: Array[String], f: String => Parsers.ParsedRecord): (Double, Int) = {
      var errors = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < lines.length) { if (f(lines(i)).error.isDefined) errors += 1; i += 1 }
      ((System.nanoTime() - t0).toDouble / lines.length, errors)
    }
    pass(csv, pc); pass(fw, pf) // JIT warm-up
    val c = (1 to 3).map(_ => pass(csv, pc))
    val w = (1 to 3).map(_ => pass(fw, pf))
    Map(
      "parsers.csv_ns_per_rec" -> Stats.median(c.map(_._1)),
      "parsers.fw_ns_per_rec" -> Stats.median(w.map(_._1)),
      "parsers.error_ratio" -> (c.head._2 + w.head._2).toDouble / (2 * n))
  }
}
