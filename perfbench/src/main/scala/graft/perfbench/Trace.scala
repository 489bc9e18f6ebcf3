package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with the task metrics of the
  * stages it ran. `span` is the op span that launched it (carried as a
  * job-local property, which Spark also hands to the threads AQE submits
  * from); `execId` is its SQL execution, -1 for a plain RDD job.
  */
final class JobRec(val id: Int, val span: String, val start: Long, val name: String, val execId: Long) {
  var end: Long = start
  var stages, tasks = 0
  var cpuNs, gcMs, spillBytes, shuffleRead, shuffleWrite, recordsRead = 0L
}

/** One op span: a `processFile` call, or one phase (construct or
  * materialize) of one query repeat. Times are driver wall-clock millis
  * (the clock Spark stamps job events with) plus a nanoTime wall.
  */
final case class Span(id: String, startMs: Long, endMs: Long, wallS: Double)

/** Catalyst phase times of the query executions finished inside a span. */
final class Phases { var analysis, optimization, planning = 0.0 }

/** Interval helpers for "time inside jobs" and self time. */
object Intervals {
  /** Length in seconds of the union of `[start, end)` intervals, clipped to `[lo, hi)`. */
  def union(xs: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }
}

/** The benchmark's tracer: a `SparkListener` plus a `QueryExecutionListener`
  * registered from outside the program. Everything stays in memory until
  * [[Tracer.write]] at the end of the run.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val SpanKey = "perfbench.span"

  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execText = mutable.HashMap.empty[Long, String]
  private val phases = mutable.HashMap.empty[String, Phases]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: String = null
  private var seq = 0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` as a span named `name`: its jobs carry the span id, its wall
    * is timed, and the listener bus is drained before returning so the
    * span's events are complete. Returns the body's value and the span.
    */
  def span[A](name: String)(body: => A): (A, Span) = {
    val id = synchronized { seq += 1; s"$name#$seq" }
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, id)
    current = id
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      val s = Span(id, ms0, System.currentTimeMillis(), wall)
      org.apache.spark.perfbench.Bus.drain(sc)
      synchronized { spanBuf += s }
      (out, s)
    } finally {
      current = null
      sc.setLocalProperty(SpanKey, null)
    }
  }

  def jobsOf(s: Span): Seq[JobRec] = synchronized { jobsById.values.filter(_.span == s.id).toVector }
  def jobsWithoutSpan(): Seq[JobRec] = synchronized { jobsById.values.filter(_.span == null).toVector }
  def phasesOf(s: Span): Phases = synchronized { phases.getOrElse(s.id, new Phases) }

  /** What Spark recorded about a job's SQL execution: its call site and
    * physical plan text (empty for RDD jobs).
    */
  def execTextOf(j: JobRec): String = synchronized { execText.getOrElse(j.execId, "") }

  /** Time inside the span's jobs and the span's self time (wall minus the
    * union of its jobs), in seconds.
    */
  def inJobs(s: Span): Double = Intervals.union(jobsOf(s).map(j => (j.start, j.end)), s.startMs, s.endMs)
  def selfTime(s: Span): Double = math.max(0.0, s.wallS - inJobs(s))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val span = if (p == null) null else p.getProperty(SpanKey)
    val exec = Option(if (p == null) null else p.getProperty("spark.sql.execution.id"))
      .map(_.toLong).getOrElse(-1L)
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobsById(e.jobId) = new JobRec(e.jobId, span, e.time, name, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (jid <- stageJob.get(si.stageId); j <- jobsById.get(jid)) {
      j.stages += 1
      j.tasks += si.numTasks
      val tm = si.taskMetrics
      if (tm != null) {
        j.cpuNs += tm.executorCpuTime
        j.gcMs += tm.jvmGCTime
        j.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        j.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        j.recordsRead += tm.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execText(s.executionId) = s.details + "\n" + s.physicalPlanDescription }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val id = current
    if (id != null) {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      synchronized {
        val p = phases.getOrElseUpdate(id, new Phases)
        p.analysis += ms("analysis"); p.optimization += ms("optimization"); p.planning += ms("planning")
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Write every span and job as JSON lines, once, at the end of the run. */
  def write(f: java.io.File): Unit = synchronized {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spanBuf.foreach { s =>
        w.println(Json.obj(Seq("kind" -> Json.str("span"), "id" -> Json.str(s.id),
          "start_ms" -> s.startMs.toString,
          "end_ms" -> s.endMs.toString, "wall_s" -> Json.num(s.wallS))))
      }
      jobsById.values.foreach { j =>
        w.println(Json.obj(Seq("kind" -> Json.str("job"), "id" -> j.id.toString,
          "parent" -> Json.str(Option(j.span).getOrElse("")), "name" -> Json.str(j.name),
          "exec_id" -> j.execId.toString, "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
          "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
          "cpu_ns" -> j.cpuNs.toString, "gc_ms" -> j.gcMs.toString,
          "spill_bytes" -> j.spillBytes.toString)))
      }
    } finally w.close()
  }
}

/** Minimal JSON text builders (values are passed pre-rendered). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    d.toString
  }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
