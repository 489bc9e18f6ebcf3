package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.ingest.BatchRunStore
import graft.ingest.Parsers.{CsvSpec, FwField, FwSpec}
import graft.sources.DeltaLog

/** End-to-end `processFile` — the reference's public API restated — on real
  * files with all three sinks.
  */
class BatchJobSpec extends SparkTestBase {

  test("processFile: CSV job writes target, status and run tables; counts match") {
    val dir = Files.createTempDirectory("graft-job")
    val in = dir.resolve("batch.csv")
    Files.write(in, (1 to 50).map { i =>
      if (i % 10 == 0) s"k$i,notanum" else s"k$i,$i.5"
    }.mkString("\n").getBytes)
    val sinks = BatchJob.Sinks(
      targetPath = Some(dir.resolve("target").toString),
      statusPath = Some(dir.resolve("status").toString),
      runPath = Some(dir.resolve("runs").toString))

    var started = false; var ended = false
    val summary = BatchJob.processFile(
      spark, in.toString,
      BatchJob.Parser.Csv(CsvSpec(Vector("key", "amount"), Some(Vector("string", "number")))),
      sinks,
      hooks = graft.ingest.BatchPipeline.Hooks(
        onStart = () => started = true, onEnd = () => ended = true))

    assert(started && ended)
    assert(summary.totalRecordCount == 50)
    assert(summary.successCount == 45)
    assert(summary.failureCount == 5)
    assert(summary.ignoredCount == 0)

    val target = spark.read.parquet(sinks.targetPath.get)
    assert(target.count() == 45)
    assert(target.columns.toSet == Set("_file", "_rec_id", "key", "amount", "run_id"))
    val status = spark.read.parquet(sinks.statusPath.get)
    assert(status.count() == 50)
    assert(status.filter(col("status_text") === "FAILED").count() == 5)
    // run row is version-threaded: insert at v1 (PROCESSING), stats update
    // at v2 (COMPLETED) — the reference's POST-then-PUT-with-_version flow
    val store = new graft.ingest.BatchRunStore(spark, sinks.runPath.get)
    val run = store.current(summary.runId).get
    assert(run.successCount == 45)
    assert(run.version == 2 && run.status == "COMPLETED")
    assert(DeltaLog.read(spark, sinks.runPath.get).count() == 2) // full audit history retained
    // optimistic lock: an update presenting the stale version is rejected
    assertThrows[java.util.ConcurrentModificationException] {
      store.update(summary.runId, expectedVersion = 1L)(identity)
    }
    // ...and presenting the current version succeeds and bumps it
    assert(store.update(summary.runId, expectedVersion = 2L)(_.copy(status = "FAILED")) == 3L)
    assert(store.current(summary.runId).get.status == "FAILED")
  }

  test("processFile: a two-file glob numbers rec_id 1..n within each file") {
    val dir = Files.createTempDirectory("graft-job-glob")
    Files.write(dir.resolve("a.csv"), (1 to 30).map(i => s"a$i,$i").mkString("\n").getBytes)
    Files.write(dir.resolve("b.csv"), (1 to 70).map(i => s"b$i,$i").mkString("\n").getBytes)
    val sinks = BatchJob.Sinks(
      targetPath = Some(dir.resolve("target").toString),
      statusPath = Some(dir.resolve("status").toString))
    val summary = BatchJob.processFile(spark, dir.resolve("*.csv").toString,
      BatchJob.Parser.Csv(CsvSpec(Vector("key", "n"), Some(Vector("string", "number")))),
      sinks)
    assert(summary.successCount == 100)
    val byFile = spark.read.parquet(sinks.statusPath.get)
      .select(col("file_name"), col("rec_id")).collect()
      .groupBy(_.getString(0).split('/').last)
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted.toSeq }
    assert(byFile == Map("a.csv" -> (1L to 30L), "b.csv" -> (1L to 70L)))
    // line n of each file holds key <file letter>n
    spark.read.parquet(sinks.targetPath.get).select(col("key"), col("_rec_id"))
      .collect().foreach(r => assert(r.getString(0).drop(1).toLong == r.getLong(1), r))
  }

  test("processFile: a file:// URI input ingests like its plain path; a missing one is ENOENT") {
    val dir = Files.createTempDirectory("graft-job-uri")
    val in = dir.resolve("batch.csv")
    Files.write(in, (1 to 30).map(i => if (i % 6 == 0) s"k$i,x" else s"k$i,$i").mkString("\n").getBytes)
    val parser = BatchJob.Parser.Csv(CsvSpec(Vector("key", "n"), Some(Vector("string", "number"))))
    def counts(s: BatchJob.RunSummary) = (s.totalRecordCount, s.successCount, s.failureCount, s.ignoredCount)
    val uri = in.toUri.toString
    assert(uri.startsWith("file:///"))
    val plain = BatchJob.processFile(spark, in.toString, parser)
    assert(counts(plain) == ((30L, 25L, 5L, 0L)))
    assert(counts(BatchJob.processFile(spark, uri, parser)) == counts(plain))
    val e = intercept[java.io.FileNotFoundException] {
      BatchJob.processFile(spark, dir.resolve("absent.csv").toUri.toString, parser)
    }
    assert(e.getMessage.contains("ENOENT: no such file or directory"))
  }

  test("processFile: custom parser with ignores, append across two runs") {
    val dir = Files.createTempDirectory("graft-job2")
    val in = dir.resolve("batch.txt")
    Files.write(in, "a\nskip\nb\nskip\nc".getBytes)
    val sinks = BatchJob.Sinks(statusPath = Some(dir.resolve("status").toString))
    val parser = BatchJob.Parser.Custom(Seq("v"), Seq("string"), rd =>
      if (rd.rec == "skip") (None, None) else (Some(Seq(rd.rec.toUpperCase)), None))

    val s1 = BatchJob.processFile(spark, in.toString, parser, sinks)
    assert(s1.totalRecordCount == 3 && s1.ignoredCount == 2)
    val s2 = BatchJob.processFile(spark, in.toString, parser, sinks)
    // append-mode audit: two runs, distinct runIds, 3 non-ignored rows each
    val status = spark.read.parquet(sinks.statusPath.get)
    assert(status.count() == 6)
    assert(status.select("run_id").distinct().count() == 2)
    assert(s1.runId != s2.runId)
  }

  test("processFile: fixed-width job with record-length failures") {
    val dir = Files.createTempDirectory("graft-job3")
    val in = dir.resolve("batch.fwv")
    Files.write(in, "001ab\n002cd\nbadline\n003ef".getBytes)
    val spec = FwSpec(Vector(FwField("id", "number", 1, 3), FwField("v", "string", 4, 5)))
    val summary = BatchJob.processFile(spark, in.toString, BatchJob.Parser.Fw(spec))
    assert(summary.successCount == 3)
    assert(summary.failureCount == 1)
  }

  test("processFile: JDBC sink writes target rows to an embedded SQL database") {
    // gated on driver presence: Derby ships with the Spark distribution
    // here; any other backend (Postgres/Oracle — the reference's matrix)
    // is the same channel with a different url/driver property
    val hasDerby =
      try { Class.forName("org.apache.derby.jdbc.EmbeddedDriver"); true }
      catch { case _: ClassNotFoundException => false }
    assume(hasDerby, "no embedded JDBC driver on classpath")
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val dir = Files.createTempDirectory("graft-jdbc")
    val in = dir.resolve("batch.csv")
    Files.write(in, (1 to 20).map(i => s"k$i,$i.5").mkString("\n").getBytes)
    val url = s"jdbc:derby:$dir/db;create=true"
    val summary = BatchJob.processFile(
      spark, in.toString,
      BatchJob.Parser.Csv(CsvSpec(Vector("key", "amount"), Some(Vector("string", "number")))),
      BatchJob.Sinks(jdbc = Some(BatchJob.JdbcSink(url, "batch_target"))))
    assert(summary.successCount == 20)
    val props = new java.util.Properties()
    val back = spark.read.jdbc(url, "batch_target", props)
    assert(back.count() == 20)
    assert(back.columns.toSet == Set("_file", "_rec_id", "key", "amount", "run_id"))
    assert(back.agg(sum(col("amount"))).collect().head.getDouble(0) == (1 to 20).map(_ + 0.5).sum)
    // append semantics across runs, like the parquet sinks
    BatchJob.processFile(spark, in.toString,
      BatchJob.Parser.Csv(CsvSpec(Vector("key", "amount"), Some(Vector("string", "number")))),
      BatchJob.Sinks(jdbc = Some(BatchJob.JdbcSink(url, "batch_target"))))
    assert(spark.read.jdbc(url, "batch_target", props).count() == 40)
  }

  test("processFile: config errors are job-fatal before any task (reference contract)") {
    assertThrows[IllegalArgumentException] {
      BatchJob.processFile(spark, "/nonexistent",
        BatchJob.Parser.Csv(CsvSpec(Vector.empty)))
    }
  }

  /** What a call could leave behind: persisted RDDs and cached plans. The
    * cache manager's entry count is `private[sql]` in Scala but a public
    * method in bytecode, so it is read reflectively.
    */
  private def leftovers(): (Set[Int], Int) = {
    val cm = spark.sharedState.cacheManager
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int])
  }

  test("processFile: parses each line once and leaves nothing persisted") {
    val dir = Files.createTempDirectory("graft-job-once")
    val in = dir.resolve("batch.txt")
    Files.write(in, (1 to 200).map(i => if (i % 7 == 0) "skip" else s"v$i").mkString("\n").getBytes)
    // counted in a static, driver-side object: local mode runs the tasks in
    // this JVM, and a counter captured by the closure would be a copy
    val parser = BatchJob.Parser.Custom(Seq("v"), Seq("string"), rd => {
      BatchJobSpec.parseCalls.incrementAndGet()
      if (rd.rec == "skip") (None, None) else (Some(Seq(rd.rec)), None)
    })
    val before = leftovers()
    BatchJobSpec.parseCalls.set(0)
    // target, status and run sinks: every sink reads the routed records
    val summary = BatchJob.processFile(spark, in.toString, parser, BatchJob.Sinks(
      targetPath = Some(dir.resolve("target").toString),
      statusPath = Some(dir.resolve("status").toString),
      runPath = Some(dir.resolve("runs").toString)))
    assert(BatchJobSpec.parseCalls.get == 200, "the custom parser must run once per input line")
    assert(summary.totalRecordCount == 172 && summary.ignoredCount == 28)
    assert(leftovers() == before)
    // no status sink: the counters come from a noop write, still one parse
    BatchJobSpec.parseCalls.set(0)
    val s2 = BatchJob.processFile(spark, in.toString, parser,
      BatchJob.Sinks(targetPath = Some(dir.resolve("target").toString)))
    assert(BatchJobSpec.parseCalls.get == 200)
    assert(s2.successCount == 172 && s2.ignoredCount == 28)
    assert(leftovers() == before)
  }

  test("processFile: a failed target write leaves nothing persisted and marks the run FAILED") {
    val dir = Files.createTempDirectory("graft-job-fail")
    val in = dir.resolve("batch.csv")
    Files.write(in, (1 to 30).map(i => s"k$i,$i").mkString("\n").getBytes)
    val notADir = Files.write(dir.resolve("target"), "a regular file".getBytes)
    val runs = dir.resolve("runs").toString
    val before = leftovers()
    intercept[Exception] {
      BatchJob.processFile(spark, in.toString,
        BatchJob.Parser.Csv(CsvSpec(Vector("key", "n"), Some(Vector("string", "number")))),
        BatchJob.Sinks(targetPath = Some(notADir.toString),
          statusPath = Some(dir.resolve("status").toString), runPath = Some(runs)))
    }
    assert(leftovers() == before)
    val run = new graft.ingest.BatchRunStore(spark, runs).currentAll().collect()
    assert(run.length == 1 && run.head.status == "FAILED" && run.head.version == 2L)
  }

  test("BatchRunStore: a concurrent update of one run loses at the commit") {
    val path = Files.createTempDirectory("graft-runstore-race").resolve("runs").toString
    val (a, b) = (new BatchRunStore(spark, path), new BatchRunStore(spark, path))
    a.insert("run-1", "f1", 1L)
    a.insert("run-2", "f2", 2L)
    // A reads run-1 at v1; B, also holding v1, updates it before A commits
    // (B's whole update runs inside A's read-modify step)
    var bVersion = 0L
    val ex = intercept[java.util.ConcurrentModificationException] {
      a.update("run-1", 1L) { row =>
        bVersion = b.update("run-1", 1L)(_.copy(status = "COMPLETED"))
        row.copy(status = "FAILED")
      }
    }
    assert(bVersion == 2L)
    assert(ex.getMessage.contains("expected 1, found 2"))
    val rows = DeltaLog.read(spark, path).filter(col("runId") === "run-1")
    assert(rows.filter(col("version") === 2L).count() == 1L,
      "exactly one row may land at v2")
    assert(a.current("run-1").exists(r => r.version == 2L && r.status == "COMPLETED"))
    // a race on the same TABLE version but a different run retries and lands
    var raced = false
    val v = a.update("run-2", 1L) { row =>
      if (!raced) { raced = true; b.update("run-1", 2L)(_.copy(durationMillis = 5L)) }
      row.copy(status = "COMPLETED")
    }
    assert(v == 2L && raced)
    assert(b.current("run-2").exists(r => r.version == 2L && r.status == "COMPLETED"))
    assert(b.current("run-1").exists(r => r.version == 3L && r.durationMillis == 5L))
  }
}

object BatchJobSpec {
  val parseCalls = new AtomicLong()
}
