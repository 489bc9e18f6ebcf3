package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Structured Streaming: the streaming hourly aggregation over a file source
  * must converge to the same result as the batch aggregation — batch is the
  * oracle for the stream.
  */
class StreamingSpec extends SparkTestBase {

  test("streaming hourly agg converges to the batch result") {
    val tmp = Files.createTempDirectory("graft-stream")
    val inDir = tmp.resolve("in").toString
    val outDir = tmp.resolve("out").toString
    val ckDir = tmp.resolve("ck").toString

    // stage the events table as the file-source input (ts already micros)
    val events = Tables(spark, sfDir, "events")
    events.repartition(4).write.parquet(inDir)

    val stream = EventStream.readEventStream(spark, inDir, maxFilesPerTrigger = 2)
    val q = EventStream.startParquetSink(EventStream.hourlyAgg(stream), outDir, ckDir)
    q.processAllAvailable()
    q.stop()

    // append mode emits a window only after the watermark passes its end, so
    // the emitted set is a prefix of the batch result — but every emitted
    // row must carry exactly the batch-computed count
    val got = spark.read.parquet(outDir)
      .select(col("hour_start").cast("long").as("h"), col("event_type"), col("n_events"))
      .collect().map(_.toSeq).toSet
    val batchAll = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("long").as("h"), col("event_type"), col("n_events"))
      .collect().map(_.toSeq).toSet

    assert(got.nonEmpty, "stream must emit at least the early closed windows")
    assert(got.subsetOf(batchAll), "every emitted window must equal its batch count")
  }

  test("streaming CSV ingest routes records exactly like the batch parser") {
    import graft.ingest.Parsers.CsvSpec
    val tmp = Files.createTempDirectory("graft-ingest")
    val inDir = tmp.resolve("in"); Files.createDirectory(inDir)
    val outDir = tmp.resolve("out").toString
    val ckDir = tmp.resolve("ck").toString
    Files.write(inDir.resolve("a.csv"), "k1,10\nk2,bad\nk3,30\n".getBytes)
    Files.write(inDir.resolve("b.csv"), "k4,40\nk5,oops\n".getBytes)

    val spec = CsvSpec(Vector("key", "amount"), Some(Vector("string", "number")))
    val routed = EventStream.csvIngestStream(spark, inDir.toString, spec, maxFilesPerTrigger = 1)
    val q = EventStream.startParquetSink(
      routed.select("key", "amount", "statusText"), outDir, ckDir)
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(outDir).collect()
    assert(rows.length == 5)
    val byKey = rows.map(r => r.getAs[String]("key") -> r.getAs[String]("statusText")).toMap
    assert(byKey == Map("k1" -> "SUCCESS", "k2" -> "FAILED", "k3" -> "SUCCESS",
      "k4" -> "SUCCESS", "k5" -> "FAILED"))
  }

  test("flatMapGroupsWithState session rows agree with window-based session counts") {
    import graft.queries.EventsOps
    val events = Tables(spark, sfDir, "events")
    val rows = EventStream.sessionRows(spark, events).collect()
    // per-user session count and event totals must match the SQL-window path
    val byUser = rows.groupBy(_.getAs[Long]("userId"))
      .map { case (u, rs) => (u, rs.length.toLong, rs.map(_.getAs[Long]("nEvents")).sum) }
      .toSet
    val batch = EventsOps.q22Sessionize(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))
      .toSet
    assert(byUser == batch)
    // sessions are well-formed: start <= end, events >= 1, no overlaps per user
    rows.groupBy(_.getAs[Long]("userId")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("startUs"))
      sorted.foreach(r => assert(r.getAs[Long]("startUs") <= r.getAs[Long]("endUs")))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[Long]("endUs") < b.getAs[Long]("startUs"))
        case _ =>
      }
    }
  }

  test("stateful sessionization matches the batch sessionize counts") {
    import graft.queries.EventsOps
    val events = Tables(spark, sfDir, "events")
    val streamed = EventStream.sessionize(spark, events)
      .collect().map(r => (r.getAs[Long]("userId"), r.getAs[Long]("nSessions"), r.getAs[Long]("nEvents"))).toSet
    val batch = EventsOps.q22Sessionize(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toSet
    assert(streamed == batch)
  }

  test("stream-stream interval join emits exactly the batch join's view→purchase pairs") {
    val tmp = Files.createTempDirectory("graft-ssjoin")
    val (vDir, pDir) = (tmp.resolve("views").toString, tmp.resolve("purch").toString)
    val outDir = tmp.resolve("out").toString
    val ckDir = tmp.resolve("ck").toString

    val events = Tables(spark, sfDir, "events")
    events.filter(col("event_type") === "view").repartition(3).write.parquet(vDir)
    events.filter(col("event_type") === "purchase").repartition(3).write.parquet(pDir)

    val joined = EventStream.intervalJoinStream(
      EventStream.readEventStream(spark, vDir, maxFilesPerTrigger = 2),
      EventStream.readEventStream(spark, pDir, maxFilesPerTrigger = 2))
    val q = EventStream.startParquetSink(joined, outDir, ckDir)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(outDir)
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch restatement of the identical interval join
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val batch = v.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 minutes"))
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain in-window view→purchase pairs")
    assert(got == batch,
      s"inner stream-stream join must emit exactly the batch matches (got ${got.size}, want ${batch.size})")
  }

  test("streaming dedup drops within-watermark duplicates, keeps one row per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val tmp = Files.createTempDirectory("graft-dedup")
    val base = 1700000000L * 1000L // epoch millis
    def ev(id: Long, offsetSec: Long): (Long, java.sql.Timestamp, String) =
      (id, new java.sql.Timestamp(base + offsetSec * 1000L), s"payload-$id")

    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = EventStream.dedupStream(
      in.toDF().toDF("event_id", "ts", "payload"), Seq("event_id"), watermark = "10 minutes")
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("dedup_stream")
      .option("checkpointLocation", tmp.resolve("ck").toString)
      .start()
    try {
      in.addData(ev(1, 0), ev(2, 5), ev(1, 10)) // dup of 1 in same batch
      q.processAllAvailable()
      in.addData(ev(2, 20), ev(3, 30)) // dup of 2 across batches + new key
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getAs[Long]("event_id"))
      assert(ids.sorted.toSeq == Seq(1L, 2L, 3L), s"one row per key, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("q165 replay dedups a doubled feed back to the original table, across real batches") {
    val events = Tables(spark, sfDir, "events")
    val out = graft.queries.IngestOps.q165StreamDedupReplay(spark, sfDir)
    val ids = out.select("event_id").collect().map(_.getLong(0))
    assert(ids.length == events.count(), "one output row per original event")
    assert(ids.distinct.length == ids.length, "no duplicate keys survive")
    // the fixture must exercise the CROSS-batch state path: at least one
    // original/duplicate pair split across two range files (= micro-batches)
    val inDir = graft.queries.ReplayFixtures.fixtureRootFor(sfDir, "q165") + "/in"
    val perFile = new java.io.File(inDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath)
        .filter(pmod(col("event_id"), lit(5)) === 0)
        .select("event_id").collect().map(_.getLong(0)).toSet)
    val crossFile = perFile.combinations(2)
      .exists { case Array(a, b) => a.intersect(b).nonEmpty }
    assert(crossFile, "fixture must split >=1 dup pair across range files")
  }

  test("watermarked sessionization: late events merge, idle sessions time out and evict") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val tmp = Files.createTempDirectory("graft-wm")

    val base = 1700000000L * 1000000L // epoch micros
    def ev(userId: Long, offsetMin: Long): (Long, java.sql.Timestamp) =
      (userId, new java.sql.Timestamp(base / 1000L + offsetMin * 60000L))

    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val events = in.toDF().toDF("user_id", "ts")
    val out = EventStream.sessionRowsWatermarked(spark, events,
      gapUs = 1800L * 1000000L, watermark = "10 minutes")
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("wm_sessions")
      .option("checkpointLocation", tmp.resolve("ck").toString)
      .start()
    try {
      // batch 1: user 1 opens a session at t+0 and t+20min
      in.addData(ev(1, 0), ev(1, 20))
      q.processAllAvailable()
      // batch 2: an OUT-OF-ORDER event at t+15min merges into the open
      // session instead of starting a new one (watermark after batch 1 is
      // max(ts)-10min = t+10min, so t+15min is safely inside it)
      in.addData(ev(1, 15))
      q.processAllAvailable()
      assert(spark.table("wm_sessions").isEmpty, "session still open, nothing emitted")
      // batch 3: another user far in the future advances the watermark past
      // t+20min + 30min gap => user 1's session times out, emits, evicts
      in.addData(ev(2, 600))
      q.processAllAvailable()
      in.addData(ev(2, 601)) // one more batch so the timeout fires post-watermark-update
      q.processAllAvailable()
      val rows = spark.table("wm_sessions").collect()
      assert(rows.length == 1, s"expected exactly the timed-out session, got ${rows.toSeq}")
      val r = rows.head
      assert(r.getAs[Long]("userId") == 1L)
      assert(r.getAs[Long]("startUs") == base)
      assert(r.getAs[Long]("endUs") == base + 20L * 60000000L)
      assert(r.getAs[Long]("nEvents") == 3L, "late in-watermark event must have merged")
    } finally q.stop()
  }

  /** Minimal HTTP stub (same contract as RestSinkSpec's): `fail` decides
    * per-body whether to return 500.
    */
  private def withStubServer(fail: String => Boolean)(run: String => Unit): Unit = {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    val server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val code = if (fail(body)) 500 else 200
      val resp = """{"ok":true}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try run(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  /** A target sink's (key, value) rows, sorted. */
  private def keyValueRows(path: String): Seq[(String, String)] =
    spark.read.parquet(path).select("key", "value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("mg_topk heavy-hitters sketch aggregates incrementally under streaming (exact regime)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    graft.functions.HeavyHitters.register(spark)
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    // a TypedImperativeAggregate's buffer must serialize through the state
    // store between micro-batches — this is the distributed-merge path the
    // batch tests can't exercise. k=32 exceeds the 3-token universe, so the
    // sketch is exact and the converged counts must equal plain arithmetic.
    val in = MemoryStream[String]
    val agg = in.toDF().toDF("token")
      .groupBy()
      .agg(call_function("mg_topk", col("token"), lit(32)).as("hh"))
    val q = agg.writeStream
      .outputMode("complete").format("memory").queryName("hh_stream")
      .start()
    try {
      in.addData(Seq.fill(10)("a") ++ Seq.fill(5)("b"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(7)("b") ++ Seq.fill(3)("c"): _*)
      q.processAllAvailable()
      val got = s.sql("SELECT explode(hh) AS e FROM hh_stream")
        .select(col("e.token"), col("e.est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 10L, "b" -> 12L, "c" -> 3L),
        s"sketch must accumulate across micro-batches, got $got")
    } finally q.stop()
  }

  test("csvJobStream runs the full reference lifecycle as a stream; batch processFile is the oracle") {
    import graft.ingest.BatchConfig
    import graft.ingest.Parsers.CsvSpec
    import graft.ingest.RestSink.RestOptions
    // same 50/50 HTTP failure mix as the batch REST E2E
    val failRe = "\"key\":\"B\\d*[02468]\"".r
    val fail = (body: String) => failRe.findFirstIn(body).isDefined
    val spec = CsvSpec(headers = Vector("key", "value"))

    // the stream side: fixture staged in two chunks -> two+ micro-batches
    withStubServer(fail) { base =>
      val tmp = Files.createTempDirectory("graft-stream-job")
      val inDir = Files.createDirectory(tmp.resolve("in"))
      val all = Files.readAllLines(
        java.nio.file.Paths.get(referenceFixture("batch-100.csv")))
      Files.write(inDir.resolve("part1.csv"), all.subList(0, 60))
      val q = EventStream.jobStream(spark, inDir.toString, BatchJob.Parser.Csv(spec),
        BatchJob.Sinks(targetPath = Some(s"$tmp/target"), statusPath = Some(s"$tmp/status"),
          rest = Some(RestOptions(method = Some("POST")))),
        BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api/TestData"),
          minTimeMillis = 0, maxConcurrent = 78),
        checkpointDir = s"$tmp/ck")
      try {
        q.processAllAvailable()
        Files.write(inDir.resolve("part2.csv"), all.subList(60, 100))
        q.processAllAvailable()
      } finally q.stop()

      val status = spark.read.parquet(s"$tmp/status")
      assert(status.count() == 100, "every fixture record must get a status row")
      assert(status.select("run_id").distinct().count() >= 2, "two staged files -> >= 2 micro-batches")
      val streamOk = status.filter(col("status_code") === 200).count()
      val streamFail = status.filter(col("status_code") === 500).count()
      assert(status.filter(col("status_text") === "FAILED" && col("error").isNotNull).count() == streamFail)

      // the batch side over the same fixture + same failure mix is the oracle
      withStubServer(fail) { base2 =>
        val summary = BatchJob.processFile(
          spark, referenceFixture("batch-100.csv"),
          BatchJob.Parser.Csv(spec),
          BatchJob.Sinks(targetPath = Some(s"$tmp/batch-target"),
            rest = Some(RestOptions(method = Some("POST")))),
          BatchConfig(appBaseUrl = Some(base2), modelApi = Some("/api/TestData"),
            minTimeMillis = 0, maxConcurrent = 79))
        assert(summary.successCount == streamOk, s"stream 200s ($streamOk) != batch ($summary)")
        assert(summary.failureCount == streamFail)
        assert(summary.totalRecordCount == 100)
        // the same core writes the same target rows on both sides
        val streamTarget = keyValueRows(s"$tmp/target")
        assert(streamTarget.length == 100)
        assert(streamTarget == keyValueRows(s"$tmp/batch-target"))
      }
    }
  }

  test("csvJobStream replay: a crashed micro-batch re-runs and CONVERGES — keyed POSTs, no duplicate status rows") {
    import graft.ingest.BatchConfig
    import graft.ingest.Parsers.CsvSpec
    import graft.ingest.RestSink
    import graft.ingest.RestSink.RestOptions
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    val spec = CsvSpec(headers = Vector("key", "value"))
    // a stub that DEDUPLICATES on the Idempotency-Key header — the
    // reference's BatchStatus-under-failure contract: deliveries are
    // at-least-once, effects must be exactly-once
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val applied = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      requests.incrementAndGet()
      val key = ex.getRequestHeaders.getFirst(RestSink.IdempotencyHeader)
      if (key != null) applied.add(key)
      val resp = """{"ok":true}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val tmp = Files.createTempDirectory("graft-stream-replay")
      val inDir = Files.createDirectory(tmp.resolve("in"))
      val all = Files.readAllLines(
        java.nio.file.Paths.get(referenceFixture("batch-100.csv")))
      Files.write(inDir.resolve("part1.csv"), all.subList(0, 40))
      def run(): Unit = {
        val q = EventStream.jobStream(spark, inDir.toString, BatchJob.Parser.Csv(spec),
          BatchJob.Sinks(targetPath = Some(s"$tmp/target"), statusPath = Some(s"$tmp/status"),
            rest = Some(RestOptions(method = Some("POST")))),
          BatchConfig(appBaseUrl = Some(base), modelApi = Some("/api/TestData"),
            minTimeMillis = 0, maxConcurrent = 80),
          checkpointDir = s"$tmp/ck")
        try q.processAllAvailable() finally q.stop()
      }
      run()
      val firstRequests = requests.get()
      assert(firstRequests == 40 && applied.size == 40,
        s"first run: every record POSTs once with a distinct key, got $firstRequests/${applied.size}")
      // crash injection: side effects landed but the commit marker didn't —
      // delete the newest commit; on restart the engine re-runs that batch
      // with the SAME batchId against the SAME files, for real
      val commits = new java.io.File(s"$tmp/ck/commits").listFiles()
        .filter(_.getName.forall(_.isDigit))
      val last = commits.map(_.getName.toInt).max
      assert(new java.io.File(s"$tmp/ck/commits/$last").delete())
      // the local checksum FS shadows every file with .N.crc — leave it
      // behind and the re-commit's rename fails as a spurious concurrent-
      // modification error
      new java.io.File(s"$tmp/ck/commits/.$last.crc").delete()
      run()
      assert(requests.get() == 2 * firstRequests,
        s"the batch must really re-POST (at-least-once), got ${requests.get()}")
      assert(applied.size == firstRequests,
        s"every replayed POST carried an already-seen (runId, recId) key — zero new effects, got ${applied.size}")
      // the status sink overwrote its own run_id partition: converged rows
      val status = spark.read.parquet(s"$tmp/status")
      assert(status.count() == 40, s"one status row per record, got ${status.count()}")
      assert(status.groupBy(col("run_id"), col("rec_id")).count()
        .filter(col("count") > 1).count() == 0, "no duplicate (run_id, rec_id) after replay")
      // ...and so did the target sink
      val target = spark.read.parquet(s"$tmp/target")
      assert(target.count() == 40, s"one target row per record, got ${target.count()}")
      assert(target.groupBy(col("run_id"), col("_rec_id")).count()
        .filter(col("count") > 1).count() == 0, "no duplicate target (run_id, _rec_id) after replay")
    } finally server.stop(0)
  }

  test("jobStream runs the fixed-width parser; batch processFile over fwbatch-100.fwv is the oracle") {
    import graft.ingest.BatchConfig
    import graft.ingest.Parsers.{FwField, FwSpec}
    val parser = BatchJob.Parser.Fw(FwSpec(Vector(
      FwField("key", "string", 1, 5),
      FwField("value", "string", 6, 13))))
    val tmp = Files.createTempDirectory("graft-stream-fw")
    val inDir = Files.createDirectory(tmp.resolve("in"))
    val all = Files.readAllLines(java.nio.file.Paths.get(referenceFixture("fwbatch-100.fwv")))
    // every line is 13 characters; cut two of them short -> FAILED records
    all.set(7, all.get(7).take(9)); all.set(70, all.get(70).take(9))
    val sinks = BatchJob.Sinks(targetPath = Some(s"$tmp/target"), statusPath = Some(s"$tmp/status"))
    // a run row per micro-batch would be inserted twice on replay: refused
    intercept[IllegalArgumentException] {
      EventStream.jobStream(spark, inDir.toString, parser, sinks.copy(runPath = Some(s"$tmp/runs")),
        BatchConfig(), checkpointDir = s"$tmp/ck-refused")
    }
    Files.write(inDir.resolve("part1.fwv"), all.subList(0, 60))
    val q = EventStream.jobStream(spark, inDir.toString, parser, sinks, BatchConfig(),
      checkpointDir = s"$tmp/ck")
    try {
      q.processAllAvailable()
      Files.write(inDir.resolve("part2.fwv"), all.subList(60, 100))
      q.processAllAvailable()
    } finally q.stop()
    val status = spark.read.parquet(s"$tmp/status")
    assert(status.select("run_id").distinct().count() >= 2, "two staged files -> >= 2 micro-batches")

    val batchIn = tmp.resolve("batch.fwv")
    Files.write(batchIn, all)
    val summary = BatchJob.processFile(spark, batchIn.toString, parser,
      BatchJob.Sinks(targetPath = Some(s"$tmp/batch-target")), BatchConfig())
    assert((summary.totalRecordCount, summary.successCount, summary.failureCount) == ((100L, 98L, 2L)))
    assert(status.count() == summary.totalRecordCount)
    assert(status.filter(col("status_text") === "SUCCESS").count() == summary.successCount)
    assert(status.filter(col("status_text") === "FAILED").count() == summary.failureCount)
    assert(keyValueRows(s"$tmp/target") == keyValueRows(s"$tmp/batch-target"))
  }

  test("session_window boundary: an exact-gap event MERGES, one microsecond past it SPLITS") {
    val s = spark
    import s.implicits._
    val g = 1800L * 1000000L // 30 min in us
    // user 1: 0, +gap (merges), +2*gap+1us from the second (splits)
    val df = Seq((1L, 0L), (1L, g), (1L, 2L * g + 1000000L))
      .toDF("user_id", "us")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("us")))
    val rows = EventStream.sessionWindowAgg(df, gap = "30 minutes")
      .orderBy(col("start_us")).collect()
    assert(rows.length == 2, s"expected 2 sessions, got ${rows.toSeq}")
    assert(rows(0).getAs[Long]("n_events") == 2L,
      "the exact-gap event must merge into the first session")
    assert(rows(0).getAs[Long]("start_us") == 0L && rows(0).getAs[Long]("end_us") == g)
    assert(rows(1).getAs[Long]("n_events") == 1L && rows(1).getAs[Long]("start_us") == 2L * g + 1000000L)
  }

  test("q143 streaming-state CMS probe equals the batch sketch bit-for-bit") {
    val streamed = graft.queries.SketchOps.q143StreamingCms(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.queries.SketchOps.q137CmsHeavyHitters(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      "how the counters were accumulated must be invisible to the sketch")
  }

  test("RocksDB state store: the streaming CMS runs on spill-capable state and matches HDFS-backed exactly") {
    // The default HDFS-backed provider keeps every key in executor memory —
    // fine for 256 counters, fatal for 100 TB-scale keyed state (billions of
    // session/dedup keys). RocksDB is Spark's spill-to-disk answer; this
    // gate proves the engine's streaming surface runs on it unchanged and
    // produces bit-identical results. An isolated newSession carries the
    // provider conf so concurrent suites on the shared session are
    // untouched.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val viaRocks = graft.queries.SketchOps.q143StreamingCms(s2, sfDir)
      .collect().map(_.toSeq)
    val viaDefault = graft.queries.SketchOps.q137CmsHeavyHitters(spark, sfDir)
      .collect().map(_.toSeq)
    assert(viaRocks.toSeq == viaDefault.toSeq,
      "the state-store backend must be invisible to the sketch")
    // evidence the RocksDB provider actually ran: its checkpoints ship
    // state as zip archives (sst + metadata), which the HDFS-backed
    // provider never writes
    val ckpt = new java.io.File(
      graft.queries.ReplayFixtures.runRootFor(sfDir, "q143") + "/ckpt/state")
    def anyZip(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".zip") ||
        Option(f.listFiles()).exists(_.exists(anyZip))
    assert(anyZip(ckpt), s"expected RocksDB zip snapshots under $ckpt")
  }

  test("RocksDB state store: session windows and outer-join buffers match the default backend exactly") {
    // The CMS gate above covers tiny fixed-width state; these are the two
    // state shapes that actually GROW with the stream — q140's merging
    // session windows and q174's outer-join buffers (rows held until the
    // watermark proves no match can arrive). Bit-identical results across
    // backends is the invariance claim that makes RocksDB a deployment
    // flag rather than a semantics change.
    def rocksSession() = {
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s
    }
    def anyZip(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".zip") ||
        Option(f.listFiles()).exists(_.exists(anyZip))

    val defSessions = graft.queries.IngestOps
      .q140SessionWindowReplay(spark, sfDir).collect().map(_.toSeq).toSeq
    val rocksSessions = graft.queries.IngestOps
      .q140SessionWindowReplay(rocksSession(), sfDir).collect().map(_.toSeq).toSeq
    assert(rocksSessions == defSessions,
      "session-window state must be backend-invariant")
    val ckpt140 = new java.io.File(
      graft.queries.ReplayFixtures.runRootFor(sfDir, "q140") + "/ckpt/state")
    assert(anyZip(ckpt140), s"expected RocksDB zip snapshots under $ckpt140")

    val defOuter = graft.queries.IngestOps
      .q174StreamOuterJoinReplay(spark, sfDir).collect().map(_.toSeq).toSeq
    val rocksOuter = graft.queries.IngestOps
      .q174StreamOuterJoinReplay(rocksSession(), sfDir).collect().map(_.toSeq).toSeq
    assert(rocksOuter == defOuter,
      "outer-join buffer state must be backend-invariant")
    val ckpt174 = new java.io.File(
      graft.queries.ReplayFixtures.runRootFor(sfDir, "q174") + "/ckpt/state")
    assert(anyZip(ckpt174), s"expected RocksDB zip snapshots under $ckpt174")
  }

  test("q187 streamed bitmap state rolls to exactly the batch q183 result") {
    val streamed = graft.queries.SketchOps.q187StreamingBitmap(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.queries.SketchOps.q183BitmapDistinct(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      "how the bitmap words were accumulated must be invisible to the exact answer")
  }

  test("q152 streamed IVM over micro-batched changes equals the one-shot batch IVM") {
    val streamed = graft.queries.IngestOps.q152StreamingIvm(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.queries.IngestOps.q145IncrementalAgg(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      "any micro-batch partitioning of the feed must land on the same rollup")
  }

  test("q206 transformWithState: multi-batch RocksDB replay, output invariant to batch boundaries") {
    val perBatch = graft.queries.IngestOps.q206TransformWithState(spark, sfDir)
      .collect().map(_.toSeq)
    assert(perBatch.nonEmpty)
    // evidence of ≥3 REAL micro-batches (one time-range file per trigger)
    val commits = new java.io.File(
      graft.queries.ReplayFixtures.runRootFor(sfDir, "q206") + "/ckpt/commits")
    assert(Option(commits.listFiles()).getOrElse(Array.empty)
      .count(_.getName.forall(_.isDigit)) >= 3,
      "the replay must commit at least 3 micro-batches")
    // evidence the RocksDB provider ran (v2 state API requires it; its
    // checkpoints ship zip snapshots the HDFS provider never writes)
    val state = new java.io.File(
      graft.queries.ReplayFixtures.runRootFor(sfDir, "q206") + "/ckpt/state")
    def anyZip(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".zip") ||
        Option(f.listFiles()).exists(_.exists(anyZip))
    assert(anyZip(state), s"expected RocksDB zip snapshots under $state")
    // batching invariance: delivering ALL files in one trigger must land
    // on identical prefix rows — the state carry, not the batch layout,
    // defines the result
    val fix = graft.queries.ReplayFixtures.fixtureRootFor(sfDir, "q206")
    val s2 = graft.queries.ReplayFixtures.replaySession(spark)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q206_one").toString
    val in = s2.readStream.schema(s2.read.parquet(s"$fix/watch").schema)
      .option("maxFilesPerTrigger", 16)
      .parquet(s"$fix/watch")
      .as[EventStream.TwsEvent]
    val q = EventStream.runningStatsStream(in)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("parquet").option("path", s"$tmp/out").start()
    try q.processAllAvailable() finally q.stop()
    val oneBatch = spark.read.parquet(s"$tmp/out")
      .orderBy(col("user_id"), col("nth")).collect().map(_.toSeq)
    assert(oneBatch.toSeq == perBatch.toSeq,
      "batch boundaries must be invisible in the emitted prefix rows")
  }

  test("bus seam E2E: rate source into the exactly-once table sink, >= 2 micro-batches, no dups") {
    import graft.streaming.EventBus
    val tmp = Files.createTempDirectory("graft-bus").toString
    val ss = graft.queries.ReplayFixtures.replaySession(spark)
    val table = s"$tmp/tbl"
    val RowsPerBatch = 400L
    val q = EventBus.sinkToDeltaTable(ss,
      EventBus.RateEventSource(RowsPerBatch), table, s"$tmp/ckpt")
    // the rate source is unbounded: run until >= 3 micro-batches committed,
    // then stop — determinism comes from rate-micro-batch's fixed
    // rowsPerBatch and value sequence, not from when we stop
    // NOTE: never processAllAvailable() here — a generator source always
    // has a next batch available, so that call would block forever. Poll
    // committed progress, then stop(); each batch is one atomic commit, so
    // a stop mid-trigger leaves only whole batches behind.
    val deadline = System.nanoTime() + 120L * 1000000000L
    while ((q.lastProgress == null || q.lastProgress.batchId < 3) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    q.stop()
    q.awaitTermination()
    val got = graft.sources.DeltaLog.read(ss, table)
    val n = got.count()
    val vBefore = graft.sources.DeltaLog.currentVersion(table)
    // AT-LEAST-ONCE REDELIVERY PROBE through the public API: a bus that
    // redelivers batch 0 after the query advanced must hit a detected
    // no-op — the committed txn action, not luck, is what makes the
    // table exactly-once
    graft.sources.DeltaLog.commitAppendIdempotent(ss, table, got.limit(10), s"$tmp/ckpt", 0L)
    assert(graft.sources.DeltaLog.currentVersion(table) == vBefore &&
      graft.sources.DeltaLog.read(ss, table).count() == n,
      "redelivered batch id must commit nothing")
    val stats = got.agg(
      count_distinct(col("event_id")).as("d"),
      min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .collect().head
    assert(n >= 2 * RowsPerBatch, s"need >= 2 committed micro-batches, got $n rows")
    assert(n % RowsPerBatch == 0, s"whole batches only: $n rows")
    // exactly-once: contiguous ids 0..n-1, every id once
    assert(stats.getLong(0) == n && stats.getLong(1) == 0L && stats.getLong(2) == n - 1,
      s"ids must be 0..${n - 1} exactly once, got distinct=${stats.getLong(0)} " +
        s"lo=${stats.getLong(1)} hi=${stats.getLong(2)}")
    // the decoded shape is the standard event schema: downstream operators
    // compose unchanged — prove it by running one (hourly agg) in batch
    val hourly = got.groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
    assert(hourly.count() > 0)
  }

  test("decodeBusRecords: Kafka wire records decode to typed events; poison payloads yield NULLs, not failures") {
    import graft.streaming.EventBus
    val events = Tables(spark, sfDir, "events").limit(64)
    // synthesize the wire shape the kafka format emits: binary key/value
    // plus (topic, partition, offset)
    // producers must serialize timestamps at MICROSECOND precision —
    // to_json's default millis format would silently truncate event time
    // on the wire (exactly the bug this asserts against)
    val wire = events.select(
      col("event_id").cast("string").cast("binary").as("key"),
      to_json(struct(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")),
        java.util.Map.of("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
        .cast("binary").as("value"),
      lit("events").as("topic"),
      pmod(col("event_id"), lit(4L)).cast("int").as("partition"),
      col("event_id").as("offset"))
    val decoded = EventBus.decodeBusRecords(wire)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("offset"))
      .orderBy(col("event_id")).collect().map(_.toSeq)
    val expected = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("event_id").as("offset"))
      .orderBy(col("event_id")).collect().map(_.toSeq)
    assert(decoded.toSeq == expected.toSeq,
      "wire round-trip must reproduce the typed events plus the bus cursor")
    // poison message: invalid JSON decodes to NULL event columns, the row
    // (and its cursor) survives for the audit path — never a task failure
    val poison = spark.sql(
      """SELECT CAST('k' AS BINARY) AS key, CAST('{oops' AS BINARY) AS value,
        |'events' AS topic, CAST(0 AS INT) AS partition, CAST(99 AS BIGINT) AS offset""".stripMargin)
    val row = EventBus.decodeBusRecords(poison).collect().head
    assert(row.isNullAt(row.fieldIndex("event_id")) && row.getLong(row.fieldIndex("offset")) == 99L,
      "poison payload must surface as NULL columns with the cursor intact")
  }

  test("WireBus DSv2 source: bus E2E into the exactly-once sink; restart RESUMES from the checkpoint") {
    import graft.streaming.EventBus
    val tmp = Files.createTempDirectory("graft-wirebus").toString
    val ss = graft.queries.ReplayFixtures.replaySession(spark)
    val table = s"$tmp/tbl"
    val RowsPerBatch = 300L
    val src = EventBus.BusEventSource("graft.streaming.WireBus",
      Map("rowsPerBatch" -> RowsPerBatch.toString, "partitions" -> "4"))
    // minAbsBatch is the ABSOLUTE batch id (checkpoint-continued across
    // restarts), so the restarted run genuinely waits for NEW batches
    // beyond any replayed in-flight one; returns the last batch id seen
    def runUntil(minAbsBatch: Long): Long = {
      val q = EventBus.sinkToDeltaTable(ss, src, table, s"$tmp/ckpt")
      val deadline = System.nanoTime() + 120L * 1000000000L
      while ((q.lastProgress == null || q.lastProgress.batchId < minAbsBatch) &&
          System.nanoTime() < deadline) Thread.sleep(100)
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      q.stop(); q.awaitTermination()
      last
    }
    val b1 = runUntil(3)
    assert(b1 >= 3, s"first run must reach batch 3, got $b1")
    val n1 = graft.sources.DeltaLog.read(ss, table).count()
    assert(n1 >= 2 * RowsPerBatch && n1 % RowsPerBatch == 0,
      s"first run must commit whole batches, got $n1")
    // RESTART from the same checkpoint: the generator instance is fresh
    // (its high-water mark starts at 0), so only the checkpoint's restored
    // offsets can make the query RESUME past the committed range instead
    // of rewinding and re-appending ids 0..n1-1. Waiting for b1 + 2
    // guarantees at least one batch beyond any replayed in-flight batch.
    runUntil(b1 + 2)
    val got = graft.sources.DeltaLog.read(ss, table)
    val n2 = got.count()
    assert(n2 > n1, s"restart must produce NEW batches beyond the first run's $n1 rows")
    val stats = got.agg(
      count_distinct(col("event_id")).as("d"),
      min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .collect().head
    assert(stats.getLong(0) == n2 && stats.getLong(1) == 0L && stats.getLong(2) == n2 - 1,
      s"across stop/restart ids must stay 0..${n2 - 1} exactly once, got " +
        s"distinct=${stats.getLong(0)} lo=${stats.getLong(1)} hi=${stats.getLong(2)}")
    // the bus cursor survives decode: every partition carries its own
    // contiguous per-partition offsets (Kafka's layout)
    val wire = ss.readStream.format("graft.streaming.WireBus")
      .option("rowsPerBatch", RowsPerBatch).option("partitions", "4").load()
    assert(wire.schema.fieldNames.toSeq ==
      Seq("key", "value", "topic", "partition", "offset"))
  }

  test("WireBus high-water marker: torn/corrupt marker parses as absent and restart recovers") {
    val tmp = Files.createTempDirectory("graft-wirebus-marker").toString
    // a crash mid-write (pre-atomic-move code, or a filesystem without
    // atomic rename) leaves garbage — the restart must NOT throw
    // NumberFormatException and permanently wedge the source
    java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "wirebus-highwater"),
      "gar bage".getBytes("UTF-8"))
    val ws = new graft.streaming.WireBusStream(
      rowsPerBatch = 10L, nParts = 2, topic = "events",
      startMs = 1700000000000L, advanceMs = 60000L, checkpointLoc = tmp)
    // marker read as absent → target re-arms from 0; the engine's restored
    // offset then re-arms past the committed range (the documented belt)
    ws.deserializeOffset("500")
    val next = ws.latestOffset()
    assert(next.json().toLong == 510L,
      s"after re-arm at 500 the next batch must end at 510, got ${next.json()}")
    // the re-published marker is clean and parses on the NEXT restart
    val ws2 = new graft.streaming.WireBusStream(
      rowsPerBatch = 10L, nParts = 2, topic = "events",
      startMs = 1700000000000L, advanceMs = 60000L, checkpointLoc = tmp)
    assert(ws2.latestOffset().json().toLong == 520L,
      "recovered marker must persist the re-armed high water")
  }

  test("sink schema is source-binding-independent: a bus-backed table commits exactly the event schema") {
    import graft.streaming.{EventBus, EventStream}
    val tmp = Files.createTempDirectory("graft-busschema").toString
    val ss = graft.queries.ReplayFixtures.replaySession(spark)
    val table = s"$tmp/tbl"
    val src = EventBus.BusEventSource("graft.streaming.WireBus",
      Map("rowsPerBatch" -> "100", "partitions" -> "2"))
    val q = EventBus.sinkToDeltaTable(ss, src, table, s"$tmp/ckpt")
    val deadline = System.nanoTime() + 60L * 1000000000L
    // the first committed batch is commit 0
    while (graft.sources.DeltaLog.currentVersion(table) < 0 && System.nanoTime() < deadline)
      Thread.sleep(100)
    q.stop(); q.awaitTermination()
    assert(graft.sources.DeltaLog.currentVersion(table) >= 0, "sink must commit at least one batch")
    // the committed schema must be the EVENT schema — no topic/partition/
    // offset lineage extras from the bus binding; swapping the source
    // binding on an existing table must keep committing identical columns
    val committed = graft.sources.DeltaLog.read(ss, table).schema.fieldNames.toSeq
    assert(committed == EventStream.eventSchema.fieldNames.toSeq,
      s"bus-backed sink leaked binding columns: " + committed.mkString(","))
  }

  test("WireBus.payloadJson decodes to exactly EventBus.eventColumns' mapping — one sequence, two serializations") {
    import graft.streaming.{EventBus, WireBus}
    val N = 500L; val Rpb = 100L
    val startMs = 1700000000000L; val advanceMs = 60000L
    // the wire twin: payloadJson for every global offset, decoded by the
    // one shared projection
    val wireRows = (0L until N).map { i =>
      (i.toString.getBytes("UTF-8"),
        WireBus.payloadJson(i, Rpb, startMs, advanceMs).getBytes("UTF-8"),
        "events", (i % 4).toInt, i / 4)
    }
    val wire = spark.createDataFrame(wireRows)
      .toDF("key", "value", "topic", "partition", "offset")
    val decoded = graft.streaming.EventBus.decodeBusRecords(wire)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy(col("event_id")).collect().map(_.toSeq)
    // the column twin: the SAME mapping RateEventSource selects, applied
    // to a static range with the rate source's batch-timestamp rule
    val expected = spark.range(N)
      .select(EventBus.eventColumns(col("id"),
        timestamp_millis(lit(startMs) + (col("id") / lit(Rpb)).cast("long") * advanceMs)): _*)
      .orderBy(col("event_id")).collect().map(_.toSeq)
    assert(decoded.toSeq == expected.toSeq,
      "the serialized wire mapping must equal the column mapping bit-for-bit")
  }

  test("q140 streaming session_window replay equals the batch session_window result") {
    val streamed = graft.queries.IngestOps.q140SessionWindowReplay(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = EventStream.sessionWindowAgg(
        graft.Tables(spark, sfDir, "events"), gap = "30 minutes")
      .orderBy(col("user_id"), col("start_us"))
      .collect().map(_.toSeq)
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} sessions vs batch ${batch.length}")
    assert(streamed.toSeq == batch.toSeq,
      "the watermarked append-mode replay must emit exactly the batch sessions")
  }
}
