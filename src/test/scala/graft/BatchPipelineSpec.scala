package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.BatchPipeline._
import graft.ingest.Parsers._
import graft.ingest.{BatchConfig, RecData}

/** Spark-side pipeline: scan -> parse -> route -> status -> summary. */
class BatchPipelineSpec extends SparkTestBase {

  private val spec = CsvSpec(
    headers = Vector("key", "value", "amount"),
    types = Some(Vector("string", "string", "number")))

  private def lines = Seq(
    "k1,v1,10.5",
    "k2,v2,bad", // number coercion error -> FAILED
    "k3,\"v,3\",7", // quoted comma
    "k4,v4") // arity error -> FAILED

  test("parseCsv produces typed columns with per-record errors") {
    val df = parseCsv(fromLines(spark, lines), spec)
    val rows = df.orderBy("_rec_id").collect()
    assert(rows.length == 4)
    assert(rows(0).getAs[String]("key") == "k1")
    assert(rows(0).getAs[Double]("amount") == 10.5)
    assert(rows(0).getAs[String]("_error") == null)
    // stop-at-first-error: key/value kept, amount dropped
    assert(rows(1).getAs[String]("key") == "k2")
    assert(rows(1).isNullAt(rows(1).fieldIndex("amount")))
    assert(rows(1).getAs[String]("_error").contains("number"))
    assert(rows(2).getAs[String]("value") == "v,3")
    assert(rows(3).getAs[String]("_error").contains("Mis-match"))
  }

  test("route classifies SUCCESS/FAILED; summary counts match") {
    val routed = route(parseCsv(fromLines(spark, lines), spec))
    val counts = routed.groupBy("statusText").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("SUCCESS" -> 2L, "FAILED" -> 2L))
    val s = runSummary(routed, "mem", 0, 1).collect().head
    assert(s.getAs[Long]("totalRecordCount") == 4L)
    assert(s.getAs[Long]("successCount") == 2L)
    assert(s.getAs[Long]("failureCount") == 2L)
  }

  test("custom parser hook: null payload + null error means IGNORED (P9/P10)") {
    val ds = fromLines(spark, Seq("a", "skipme", "b"))
    val parsed = parseCustom(ds, Seq("v"), Seq("string")) { rd =>
      if (rd.rec == "skipme") (None, None) else (Some(Seq(rd.rec.toUpperCase)), None)
    }
    val routed = route(parsed)
    assert(ignored(routed).count() == 1)
    assert(successes(routed).count() == 2)
    // ignored records are excluded from batch status and total count
    assert(batchStatus(routed).count() == 2)
    assert(runSummary(routed, "mem", 0, 1).collect().head.getAs[Long]("totalRecordCount") == 2L)
  }

  test("textSource assigns exact 1-based file-order recIds (P1)") {
    val dir = Files.createTempDirectory("graft-text")
    val f = dir.resolve("in.txt")
    Files.write(f, (1 to 100).map(i => s"row$i").mkString("\n").getBytes)
    val ds = textSource(spark, f.toString)
    val got = ds.collect().sortBy(_.recId)
    assert(got.length == 100)
    assert(got.head == RecData(got.head.fileName, "row1", 1L))
    assert(got(99).rec == "row100" && got(99).recId == 100L)
    assert(got.head.fileName.endsWith("in.txt"))
  }

  test("textSourcePerFile: per-file 1-based recIds across a multi-file glob (P1)") {
    val dir = Files.createTempDirectory("graft-multi")
    // deliberately different sizes so Spark's length-desc split packing
    // interleaves them away from enumeration order
    Files.write(dir.resolve("a.txt"), (1 to 150).map(i => s"a$i").mkString("\n").getBytes)
    Files.write(dir.resolve("b.txt"), (1 to 7).map(i => s"b$i").mkString("\n").getBytes)
    Files.write(dir.resolve("c.txt"), (1 to 40).map(i => s"c$i").mkString("\n").getBytes)
    val byFile = textSourcePerFile(spark, s"$dir/*.txt").collect()
      .groupBy(r => r.fileName.substring(r.fileName.lastIndexOf('/') + 1))
    assert(byFile.keySet == Set("a.txt", "b.txt", "c.txt"))
    byFile.foreach { case (name, rows) =>
      val sorted = rows.sortBy(_.recId)
      assert(sorted.map(_.recId).toSeq == (1L to rows.length).toSeq, s"$name ids contiguous")
      val prefix = name.charAt(0)
      sorted.foreach(r => assert(r.rec == s"$prefix${r.recId}", s"$name line ${r.recId}"))
    }
  }

  test("fixed-width pipeline end-to-end") {
    val fwSpec = FwSpec(Vector(
      FwField("id", "number", 1, 3),
      FwField("name", "string", 4, 8)))
    val routed = route(parseFw(fromLines(spark, Seq("001alpha", "002beta ", "bad")), fwSpec))
    assert(successes(routed).count() == 2)
    val fail = failures(routed).collect().head
    assert(fail.getAs[String]("_error").contains("smaller"))
  }

  test("batchStatus strips configured log items (P12 batchResultLogItems)") {
    val routed = route(parseCsv(fromLines(spark, lines), spec))
    val cols = batchStatus(routed, logItems = Set("error")).columns
    assert(!cols.contains("error") && cols.contains("status_text"))
  }

  test("BatchConfig precedence: env > options > file default (P19/P20)") {
    val cfg = BatchConfig.load(
      env = Map("MAX_CONCURRENT" -> "7"),
      options = Map("maxConcurrent" -> "5", "minTime" -> "11", "modelAPI" -> "/api/x"),
      fileDefaults = Map("maxConcurrent" -> "3", "minTime" -> "9", "appBaseURL" -> "http://file"))
    assert(cfg.maxConcurrent == 7) // env wins
    assert(cfg.minTimeMillis == 11) // option wins
    assert(cfg.appBaseUrl.contains("http://file")) // file default wins
    assert(cfg.progressIntervalMillis == 10000) // hard default
    assert(cfg.modelApi.contains("/api/x"))
  }

  test("BATCH_LOGGER_CONFIG maps to logLevel unless LOGGER_CONFIG wins (P20)") {
    // lib/batchProcessing.js:34-35,59-60 — trimmed + lowercased, and only
    // consulted when LOGGER_CONFIG is absent
    assert(BatchConfig.load(env = Map("BATCH_LOGGER_CONFIG" -> " DEBUG "))
      .logLevel.contains("debug"))
    assert(BatchConfig.load(env = Map(
      "LOGGER_CONFIG" -> """{"levels":{"default":"info"}}""",
      "BATCH_LOGGER_CONFIG" -> "debug")).logLevel.isEmpty)
    assert(BatchConfig.load(env = Map.empty).logLevel.isEmpty)
    // applying an unset / unknown level is a no-op, a real one round-trips
    BatchConfig.applyLogLevel(BatchConfig())
    BatchConfig.applyLogLevel(BatchConfig(logLevel = Some("not-a-level")))
    val before = org.apache.logging.log4j.LogManager.getRootLogger.getLevel
    try {
      BatchConfig.applyLogLevel(BatchConfig(logLevel = Some("warn")))
      assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
        org.apache.logging.log4j.Level.WARN)
    } finally
      org.apache.logging.log4j.core.config.Configurator.setRootLevel(before)
  }

  test("processFile invokes hooks around the run (P18)") {
    val dir = Files.createTempDirectory("graft-hooks")
    val in = Files.write(dir.resolve("batch.csv"), lines.mkString("\n").getBytes)
    var events = List.empty[String]
    val hooks = Hooks(
      onStart = () => events ::= "start",
      onEnd = () => events ::= "end")
    val statusPath = dir.resolve("status").toString
    val summary = BatchJob.processFile(spark, in.toString, BatchJob.Parser.Csv(spec),
      BatchJob.Sinks(statusPath = Some(statusPath)), hooks = hooks)
    assert(summary.totalRecordCount == 4L)
    assert(spark.read.parquet(statusPath).count() == 4)
    assert(events.reverse == List("start", "end"))
  }
}
