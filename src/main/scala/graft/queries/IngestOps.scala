package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ingest.BatchPipeline
import graft.ingest.Parsers._
import graft.sources.DeltaLog

/** The reference's ingestion semantics (SURVEY.md §2a P1-P14) exposed as
  * oracle-checkable queries: re-synthesize text lines from a parquet table,
  * push them through the real parse -> coerce -> route -> summarize pipeline,
  * and the oracle simply recomputes the expected outcome relationally.
  * Round-tripping `double -> string -> double` is exact (Java shortest
  * round-trip formatting), so values hash-match the originals.
  */
object IngestOps {

  import BatchPipeline._

  private def customerLines(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("rec_key"),
      concat_ws(",",
        col("c_custkey").cast("string"), col("c_name"),
        col("c_nationkey").cast("string"), col("c_acctbal").cast("string"),
        col("c_mktsegment")).as("rec"))

  private val custSpec = CsvSpec(
    headers = Vector("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    types = Some(Vector("number", "string", "number", "number", "string")))

  /** P1/P2/P5/P8 — CSV parse + type coercion round-trip on customer. */
  def q60CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = customerLines(spark, dir)
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("customer.csv", l, k) }
    parseCsv(lines, custSpec)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q60Sql: String =
    """SELECT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name,
      |  CAST(c_nationkey AS DOUBLE) AS c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** P4/P7 — fixed-width parse round-trip on nation. String fields keep
    * their padding (the reference does not trim FW strings —
    * `lib/parsers.js:250`), mirrored by rpad in the oracle.
    */
  def q61FwRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spec = FwSpec(Vector(
      FwField("n_nationkey", "number", 1, 4),
      FwField("n_name", "string", 5, 24),
      FwField("n_regionkey", "number", 25, 28)))
    val lines = Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"),
        concat(
          lpad(col("n_nationkey").cast("string"), 4, "0"),
          rpad(col("n_name"), 20, " "),
          lpad(col("n_regionkey").cast("string"), 4, "0")).as("rec"))
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("nation.fwv", l, k) }
    parseFw(lines, spec)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  val q61Sql: String =
    """SELECT CAST(n_nationkey AS DOUBLE) AS n_nationkey,
      |  rpad(n_name, 20, ' ') AS n_name,
      |  CAST(n_regionkey AS DOUBLE) AS n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** P5/P10 — error capture + routing: corrupt every 10th record's numeric
    * field deterministically; FAILED/SUCCESS counts must match the oracle's
    * relational restatement. Verifies "record errors never fail the job".
    */
  def q62RouteStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir, "customer").select(
        col("c_custkey").cast("long").as("k"),
        concat_ws(",",
          col("c_custkey").cast("string"), col("c_name"),
          when(col("c_custkey") % 10 === 0, lit("notanum"))
            .otherwise(col("c_acctbal").cast("string"))).as("rec"))
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("customer.csv", l, k) }
    val spec = CsvSpec(
      headers = Vector("c_custkey", "c_name", "c_acctbal"),
      types = Some(Vector("number", "string", "number")))
    route(parseCsv(lines, spec))
      .groupBy(col("statusText").as("status_text"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_text"))
  }

  val q62Sql: String =
    """SELECT CASE WHEN c_custkey % 10 = 0 THEN 'FAILED' ELSE 'SUCCESS' END AS status_text,
      |  count(*) AS n
      |FROM customer GROUP BY 1 ORDER BY status_text""".stripMargin

  /** P13/P14 — the BatchRun summary contract: one row with
    * total/success/failure counts (`common/models/batch-run.json:7-19`).
    */
  def q63RunSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir, "customer").select(
        col("c_custkey").cast("long").as("k"),
        concat_ws(",",
          col("c_custkey").cast("string"),
          when(col("c_custkey") % 7 === 0, lit("oops")).otherwise(lit("true"))).as("rec"))
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("customer.csv", l, k) }
    val spec = CsvSpec(
      headers = Vector("c_custkey", "flag"),
      types = Some(Vector("number", "boolean")))
    runSummary(route(parseCsv(lines, spec)), "customer.csv", 0L, 0L)
      .select(col("totalRecordCount"), col("successCount"), col("failureCount"))
  }

  // CAST(... AS BIGINT): DuckDB's sum over an INT CASE yields HUGEINT, which
  // hash-mismatches Spark's BIGINT even when the counts are equal.
  val q63Sql: String =
    """SELECT count(*) AS totalRecordCount,
      |  CAST(sum(CASE WHEN c_custkey % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS successCount,
      |  CAST(sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS failureCount
      |FROM customer""".stripMargin

  /** P3 — non-comma delimiter path (plain split, no quoting). */
  def q64DelimitedParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir, "part").select(
        col("p_partkey").cast("long").as("k"),
        concat_ws("|",
          col("p_partkey").cast("string"), col("p_name"), col("p_brand"),
          col("p_size").cast("string")).as("rec"))
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("part.psv", l, k) }
    val spec = CsvSpec(
      headers = Vector("p_partkey", "p_name", "p_brand", "p_size"),
      types = Some(Vector("number", "string", "string", "number")),
      delimiter = "|")
    parseCsv(lines, spec)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val q64Sql: String =
    """SELECT CAST(p_partkey AS DOUBLE) AS p_partkey, p_name, p_brand,
      |  CAST(p_size AS DOUBLE) AS p_size
      |FROM part ORDER BY p_partkey""".stripMargin

  /** P12 — BatchStatus audit rows for the corrupted-customer job. */
  def q65BatchStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir, "customer").select(
        col("c_custkey").cast("long").as("k"),
        concat_ws(",",
          col("c_custkey").cast("string"),
          when(col("c_custkey") % 10 === 0, lit("notanum"))
            .otherwise(col("c_acctbal").cast("string"))).as("rec"))
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("customer.csv", l, k) }
    val spec = CsvSpec(
      headers = Vector("c_custkey", "c_acctbal"),
      types = Some(Vector("number", "number")))
    batchStatus(route(parseCsv(lines, spec)))
      .select(col("rec_id"), col("status_text"), col("status_code").cast("long").as("status_code"))
      .orderBy(col("rec_id"))
  }

  val q65Sql: String =
    """SELECT c_custkey AS rec_id,
      |  CASE WHEN c_custkey % 10 = 0 THEN 'FAILED' ELSE 'SUCCESS' END AS status_text,
      |  CAST(CASE WHEN c_custkey % 10 = 0 THEN 422 ELSE 200 END AS BIGINT) AS status_code
      |FROM customer ORDER BY rec_id""".stripMargin

  /** P9 — the custom-parser hook surface as an oracle query: a client
    * "key=value;..." line format parsed by a user-supplied function through
    * `parseCustom`, with the reference's ignore contract (records whose
    * payload AND error are both null are silently skipped —
    * `lib/batchProcessing.js:336`).
    */
  def q66CustomParser(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir, "supplier").select(
        col("s_suppkey").cast("long").as("k"),
        concat_ws(";",
          concat(lit("key="), col("s_suppkey").cast("string")),
          concat(lit("bal="), col("s_acctbal").cast("string"))).as("rec"))
      .as[(Long, String)].map { case (k, l) => graft.ingest.RecData("supplier.kv", l, k) }
    val parsed = parseCustom(lines, Seq("s_suppkey", "s_acctbal"), Seq("number", "number")) { rd =>
      val kv = rd.rec.split(";").map(_.split("=", 2)).collect { case Array(a, b) => a -> b }.toMap
      val key = kv.get("key").map(_.toDouble)
      if (key.exists(_ % 5 == 0)) (None, None) // ignore every 5th supplier
      else (Some(Seq(key.orNull, kv.get("bal").map(_.toDouble).orNull)), None)
    }
    route(parsed).filter(col("statusText") === "SUCCESS")
      .select(col("s_suppkey"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  val q66Sql: String =
    """SELECT CAST(s_suppkey AS DOUBLE) AS s_suppkey, s_acctbal
      |FROM supplier WHERE s_suppkey % 5 <> 0 ORDER BY s_suppkey""".stripMargin

  /** q89: the STREAMING job lifecycle as a driver-checked row — a bounded
    * replay of [[graft.streaming.EventStream.csvIngestStream]] over a
    * deterministic fixture. The fixture (customer CSV lines, every 10th
    * acctbal corrupted — q62's corruption) is written as FOUR text files and
    * streamed with `maxFilesPerTrigger = 2`, so the replay crosses at least
    * two real micro-batches; each micro-batch's routed records append
    * per-record (c_custkey, status_text) via `foreachBatch` — the same
    * incremental path a production stream runs — and the merged sink must
    * equal the oracle's one-shot relational restatement over the same
    * fixture, regardless of how the files were batched.
    *
    * Everything is re-runnable: fixture/checkpoint/sink live under a per-sf
    * tmp root wiped at entry, so a second call replays from scratch.
    */
  def q89StreamReplay(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q89", Seq("customer")) { root =>
      Tables(spark, dir, "customer").select(
          concat_ws(",",
            col("c_custkey").cast("string"),
            when(col("c_custkey") % 10 === 0, lit("notanum"))
              .otherwise(col("c_acctbal").cast("string"))).as("value"))
        .repartition(4)
        .write.text(s"$root/watch")
    }
    val base = ReplayFixtures.runRoot(dir, "q89")
    val watch = s"$fix/watch"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val spec = CsvSpec(
      headers = Vector("c_custkey", "c_acctbal"),
      types = Some(Vector("number", "number")))
    val ss = ReplayFixtures.replaySession(spark)
    val q = graft.streaming.EventStream.csvIngestStream(ss, watch, spec, maxFilesPerTrigger = 2)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // c_custkey survives on FAILED rows: the corruption is in the LAST
        // field and parse retains fields before the first error, so every
        // status row keys back to its source record
        batch.select(col("c_custkey"), col("statusText").as("status_text"))
          .write.mode("append").parquet(out)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out).orderBy(col("c_custkey"), col("status_text"))
  }

  val q89Sql: String =
    """SELECT CAST(c_custkey AS DOUBLE) AS c_custkey,
      |  CASE WHEN c_custkey % 10 = 0 THEN 'FAILED' ELSE 'SUCCESS' END AS status_text
      |FROM customer ORDER BY c_custkey, status_text""".stripMargin

  /** q112: the stream-stream INTERVAL join driver-checked — stage the
    * events fixture as two file streams (views, purchases), run
    * [[graft.streaming.EventStream.intervalJoinStream]] through real
    * micro-batches (maxFilesPerTrigger=2 over 3-file sides, so matches
    * necessarily span batches and the join STATE STORE does real work),
    * and return the appended sink. The oracle is the plain batch interval
    * join in SQL — the streaming machinery must be invisible in the
    * result, which is exactly the contract that lets one declarative join
    * serve both the 100 TB backfill and the live feed.
    */
  def q112StreamJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q112", Seq("events")) { root =>
      val events = Tables(spark, dir, "events")
      events.filter(col("event_type") === "view")
        .repartition(3).write.parquet(s"$root/views")
      events.filter(col("event_type") === "purchase")
        .repartition(3).write.parquet(s"$root/purch")
    }
    val base = ReplayFixtures.runRoot(dir, "q112")
    val ss = ReplayFixtures.replaySession(spark)
    val joined = graft.streaming.EventStream.intervalJoinStream(
      graft.streaming.EventStream.readEventStream(ss, s"$fix/views", maxFilesPerTrigger = 2),
      graft.streaming.EventStream.readEventStream(ss, s"$fix/purch", maxFilesPerTrigger = 2))
    val q = joined
      .select(col("user_id"), col("view_id"), col("purchase_id"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet")
      .option("path", s"$base/out")
      .start()
    try q.processAllAvailable() finally q.stop()
    // explicit schema: a zero-match replay leaves only _spark_metadata in
    // the sink, and schema inference would throw where the oracle happily
    // returns 0 rows
    spark.read
      .schema("user_id BIGINT, view_id BIGINT, purchase_id BIGINT")
      .parquet(s"$base/out")
      .orderBy(col("view_id"), col("purchase_id"))
  }

  // epoch_us(): the engine joins on µs-truncated timestamps (Tables
  // converts the fixture's ns), so the oracle must compare at the same
  // precision — the same convention every event-window oracle follows
  val q112Sql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      |FROM events v JOIN events p
      |  ON v.event_type = 'view' AND p.event_type = 'purchase'
      | AND v.user_id = p.user_id
      | AND epoch_us(p.ts) >= epoch_us(v.ts)
      | AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
      |ORDER BY view_id, purchase_id""".stripMargin

  /** q110: snapshot diff — the CDC/anti-entropy primitive: given
    * yesterday's and today's corpus snapshots, emit every key that was
    * added, removed, or changed (content compared by row hash, never by
    * payload equality — only keys + md5s cross the wire). The two
    * snapshots are carved deterministically from the fixture so the
    * oracle can restate them: A = doc_id % 3 ≠ 0, B = doc_id % 4 ≠ 0
    * with text revised where doc_id % 5 = 0.
    *
    * Shape: one full-outer join co-partitioned on the snapshot key. At
    * 100 TB both snapshots live bucketed by key (`Sinks.bucketed`), the
    * exchange disappears entirely, and the diff is a zero-shuffle
    * streaming merge of key+hash columns — the scan reads two narrow
    * columns however wide the documents are.
    */
  def q110SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val a = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h_a"))
    val b = d.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" rev"))).otherwise(col("text"))).as("h_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  val q110Sql: String =
    """WITH a AS (
      |  SELECT doc_id, md5(text) AS h_a FROM documents WHERE doc_id % 3 <> 0),
      |b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev' ELSE text END) AS h_b
      |  FROM documents WHERE doc_id % 4 <> 0)
      |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN a.h_a <> b.h_b THEN 'changed' END AS status
      |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h_a <> b.h_b
      |ORDER BY doc_id""".stripMargin

  /** q133: stream-static enrichment replayed through real micro-batches —
    * the lookup join every event pipeline runs, driver-checked. Purchases
    * stream from a 3-file fixture (maxFilesPerTrigger=2 ⇒ ≥ 2 genuine
    * micro-batches); the static user→tier dimension (derived
    * deterministically from the same fixture so the oracle can restate
    * it) broadcasts into every batch via [[graft.streaming.EventStream
    * .enrichStream]]. No stream state, no watermark — the plan per batch
    * is one broadcast hash join, so the sink equals the batch join
    * row-for-row, which is exactly what the oracle asserts.
    */
  def q133StreamEnrichReplay(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q133", Seq("events")) { root =>
      Tables(spark, dir, "events").filter(col("event_type") === "purchase")
        .repartition(3).write.parquet(s"$root/purch")
    }
    val base = ReplayFixtures.runRoot(dir, "q133")
    val ss = ReplayFixtures.replaySession(spark)
    val dim = Tables(ss, dir, "events").select(col("user_id")).distinct()
      .withColumn("tier", concat(lit("tier_"), pmod(col("user_id"), lit(3))))
    val enriched = graft.streaming.EventStream.enrichStream(
      graft.streaming.EventStream.readEventStream(ss, s"$fix/purch", maxFilesPerTrigger = 2),
      dim, "user_id")
    val q = enriched
      .select(col("event_id"), col("user_id"), col("tier"), col("value"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet")
      .option("path", s"$base/out")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, tier STRING, value DOUBLE")
      .parquet(s"$base/out")
      .orderBy(col("event_id"))
  }

  val q133Sql: String =
    """SELECT event_id, user_id, 'tier_' || CAST(user_id % 3 AS VARCHAR) AS tier, value
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** q134: CDC MERGE apply — the day-2 companion of q110's diff: apply a
    * changes feed (upserts + deletes) to a snapshot and emit the next
    * snapshot with each row's provenance. Same deterministic fixture
    * carving as q110 so the oracle restates it: snapshot = doc_id % 3 ≠ 0;
    * changes = upsert " v2" text where doc_id % 4 = 0, delete where
    * doc_id % 7 = 0 (delete wins on overlap; deletes of absent keys are
    * no-ops).
    *
    * Shape: ONE full-outer join co-partitioned on the key — the MERGE
    * INTO kernel — with content hashed BELOW the join, so only keys +
    * 16-byte hashes ever cross the exchange. At 100 TB both sides live
    * bucketed by key (`Sinks.bucketed`), the exchange vanishes entirely,
    * and the output partitioning matches the snapshot's so the next merge
    * reuses it.
    */
  def q134CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    // hash BELOW the join (q110's idiom): only keys + 16-byte hashes cross
    // the exchange — at 100 TB the merge's shuffle cost is two narrow
    // columns however wide the documents are (plan-gated: no text column
    // above the scan)
    val snap = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h_old"))
    val changes = d
      .filter(pmod(col("doc_id"), lit(4)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
        md5(concat(col("text"), lit(" v2"))).as("h_new"))
    snap.join(changes, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "upsert")
      .select(col("doc_id"),
        coalesce(col("h_new"), col("h_old")).as("h"),
        when(col("op").isNull, "kept")
          .when(col("h_old").isNull, "inserted")
          .otherwise("updated").as("status"))
      .orderBy(col("doc_id"))
  }

  val q134Sql: String =
    """WITH snap AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |ch AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
      |    text || ' v2' AS new_text
      |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 7 = 0)
      |SELECT doc_id, md5(coalesce(new_text, text)) AS h,
      |  CASE WHEN op IS NULL THEN 'kept'
      |       WHEN text IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS status
      |FROM snap FULL OUTER JOIN ch USING (doc_id)
      |WHERE op IS NULL OR op = 'upsert'
      |ORDER BY doc_id""".stripMargin

  /** q145 — INCREMENTAL VIEW MAINTENANCE of a materialized aggregate
    * under q134's CDC feed: the per-lang (doc count, char count) rollup is
    * maintained by aggregating ONLY the changes — delete subtracts the old
    * row's contribution, update contributes the length delta, insert adds
    * the new row — and merging the langs-sized delta into the old
    * aggregate. The Spark side is the INCREMENTAL path; the DuckDB oracle
    * is the FULL RECOMPUTE over the merged snapshot — so the driver's
    * hash-match IS the IVM identity (old ⊕ Δ(changes) = recompute(new)),
    * proved cross-engine. Count and sum are self-maintainable aggregates
    * (no rescan needed for deletes, unlike min/max); all arithmetic is
    * exact integers.
    *
    * Scale: this is why a 100 TB nightly rollup doesn't rescan 100 TB —
    * the only change-driven work is one changes-sized join against the
    * snapshot BY KEY (co-partitioned/bucketed exactly like q134's merge)
    * plus a langs-sized merge; the old aggregate is the already-
    * materialized table being maintained (recomputed here only because the
    * fixture materializes nothing).
    */
  def q145IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val snap = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("len"))
    val oldAgg = snap.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
    val changes = d
      .filter(pmod(col("doc_id"), lit(4)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
        (length(col("text")) + lit(3)).cast("long").as("new_len"))
    val delta = changes
      .join(snap.select(col("doc_id"), col("len").as("old_len")), Seq("doc_id"), "left")
      .select(col("lang"),
        when(col("op") === "delete",
          when(col("old_len").isNotNull, -1L).otherwise(0L))
          .otherwise(when(col("old_len").isNull, 1L).otherwise(0L)).as("dd"),
        when(col("op") === "delete",
          when(col("old_len").isNotNull, -col("old_len")).otherwise(lit(0L)))
          .otherwise(when(col("old_len").isNull, col("new_len"))
            .otherwise(col("new_len") - col("old_len"))).as("dc"))
      .groupBy(col("lang"))
      .agg(sum(col("dd")).as("dd"), sum(col("dc")).as("dc"))
    oldAgg.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("n_docs"),
        (coalesce(col("n_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("n_chars"))
      .filter(col("n_docs") > 0L)
      .orderBy(col("lang"))
  }

  /** q152 — q145's rollup maintained as STREAMING state: the CDC feed
    * arrives as a parquet file stream (maxFilesPerTrigger=1, ≥ 3 real
    * micro-batches) and foreachBatch applies EXACTLY the batch IVM step to
    * each slice — classify the batch's changes against the static
    * snapshot, aggregate the langs-sized delta, merge into the current
    * rollup, write the next VERSION (v0 seeded from the snapshot; each
    * batch reads v_i and writes v_{i+1} — the versioned-table discipline a
    * transactional store gives you at 100 TB). Deltas are additive and
    * each doc appears in one batch, so ANY partitioning of the feed into
    * micro-batches lands on the same final rollup — which is why the row
    * reuses q145's full-recompute oracle verbatim: the driver's hash-match
    * proves the streamed incremental path equals the recompute, the
    * exactly-once argument every streaming materialized view rests on.
    */
  def q152StreamingIvm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val snap = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("len"))
    val base = ReplayFixtures.ensure(dir, "q152", Seq("documents")) { root =>
      // seed v0 = the materialized rollup being maintained
      snap.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
        .write.parquet(s"$root/rollup/v0")
      // the changes feed, split into 3 files = 3 micro-batches
      d.filter(pmod(col("doc_id"), lit(4)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), col("lang"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
          (length(col("text")) + lit(3)).cast("long").as("new_len"))
        .repartition(3).write.parquet(s"$root/changes")
    }
    // v1+ rollup versions land beside v0 during the run and are swept back
    // out by the fixture's restoration pass on the next call
    val run = ReplayFixtures.runRoot(dir, "q152")
    val ss = ReplayFixtures.replaySession(spark)
    // the snapshot joined inside each micro-batch must live on the STREAM's
    // session — Spark rejects cross-session Dataset mixing
    val snapS = Tables(ss, dir, "documents")
      .filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("len"))
    val feed = ss.readStream
      .schema("doc_id BIGINT, lang STRING, op STRING, new_len BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/changes")
    val q = feed.writeStream
      .option("checkpointLocation", s"$run/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cur = ss.read.parquet(s"$base/rollup/v$id")
        val delta = batch
          .join(snapS.select(col("doc_id"), col("len").as("old_len")), Seq("doc_id"), "left")
          .select(col("lang"),
            when(col("op") === "delete",
              when(col("old_len").isNotNull, -1L).otherwise(0L))
              .otherwise(when(col("old_len").isNull, 1L).otherwise(0L)).as("dd"),
            when(col("op") === "delete",
              when(col("old_len").isNotNull, -col("old_len")).otherwise(lit(0L)))
              .otherwise(when(col("old_len").isNull, col("new_len"))
                .otherwise(col("new_len") - col("old_len"))).as("dc"))
          .groupBy(col("lang"))
          .agg(sum(col("dd")).as("dd"), sum(col("dc")).as("dc"))
        cur.join(delta, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("n_docs"),
            (coalesce(col("n_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("n_chars"))
          .write.parquet(s"$base/rollup/v${id + 1}")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // The latest version is derived by LISTING the rollup dir after the
    // stream has stopped — not by reading a var mutated on the micro-batch
    // thread (no cross-thread visibility guarantee for a captured local)
    // and independent of batch-id numbering, so a resumed checkpoint whose
    // ids don't start at 0 still resolves the newest rollup.
    val lastVersion = new java.io.File(s"$base/rollup").listFiles()
      .map(_.getName.stripPrefix("v").toLong).max
    spark.read.parquet(s"$base/rollup/v$lastVersion")
      .filter(col("n_docs") > 0L)
      .orderBy(col("lang"))
  }

  /** Full recompute over the merged snapshot — deliberately NOT the
    * incremental computation: hash-equality proves the IVM identity.
    */
  val q145Sql: String =
    """WITH snap AS (
      |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 0),
      |ch AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
      |    text || ' v2' AS new_text
      |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 7 = 0),
      |m AS (
      |  SELECT coalesce(ch.lang, snap.lang) AS lang,
      |    coalesce(new_text, snap.text) AS text
      |  FROM snap FULL OUTER JOIN ch USING (doc_id)
      |  WHERE op IS NULL OR op = 'upsert')
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars
      |FROM m GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** q140 — DECLARATIVE session-window replay: the native `session_window`
    * groupBy (EventStream.sessionWindowAgg) run as a real watermarked
    * append-mode stream over ≥2 micro-batches, then compared against the
    * batch gaps-and-islands restatement in DuckDB. Append mode only emits
    * a session once the watermark passes its close, so the fixture appends
    * one far-future sentinel event in a file forced to be the LAST batch
    * (later modification time — FileStreamSource orders by mod time): its
    * arrival advances the watermark past every real session's end + gap,
    * the no-data micro-batch flushes the state store, and the sentinel
    * itself is filtered back out of the sink. Exactly the production
    * pattern for draining a bounded replay of an unbounded pipeline.
    *
    * Scale: state is one merging window per OPEN session (Catalyst's
    * MergingSessionsExec), evicted at watermark — memory tracks concurrent
    * active users, never stream length.
    */
  def q140SessionWindowReplay(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q140", Seq("events")) { root =>
      val events = Tables(spark, dir, "events")
      events.repartition(3).write.parquet(s"$root/in")
      val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
      // sentinel: one far-future event that closes every real session once
      // its watermark (sentinel - 3650d) passes max real ts + gap
      val sentinelUs = maxUs + 4000L * 86400L * 1000000L
      // record the real batch's files BEFORE the sentinel write: an mtime
      // tie (coarse-granularity filesystems) must not let a REAL file get
      // bumped past the sentinel, or its events would be dropped as late
      def parts() = new java.io.File(s"$root/in").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val realFiles = parts().map(_.getName).toSet
      events.limit(1)
        .select(lit(-1L).as("event_id"), timestamp_micros(lit(sentinelUs)).as("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .coalesce(1).write.mode("append").parquet(s"$root/in")
      // force exactly the sentinel's new file(s) to sort AFTER the real
      // batch in the FileStreamSource mod-time order
      val maxReal = parts().filter(f => realFiles(f.getName)).map(_.lastModified()).max
      parts().filterNot(f => realFiles(f.getName))
        .foreach(f => f.setLastModified(maxReal + 600000L))
    }
    val base = ReplayFixtures.runRoot(dir, "q140")
    val ss = ReplayFixtures.replaySession(spark)
    val sessions = graft.streaming.EventStream.sessionWindowAgg(
      graft.streaming.EventStream.readEventStream(ss, s"$fix/in", maxFilesPerTrigger = 2),
      gap = "30 minutes", watermark = "3650 days")
    val q = sessions.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet")
      .option("path", s"$base/out")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("user_id BIGINT, start_us BIGINT, end_us BIGINT, n_events BIGINT")
      .parquet(s"$base/out")
      .filter(col("user_id") >= 0L)
      .orderBy(col("user_id"), col("start_us"))
  }

  /** Gaps-and-islands restatement: new session when the in-user gap
    * EXCEEDS 30 min (exact-gap events merge — session_window intervals
    * touch and MergingSessions treats touching as overlapping; verified
    * against the streaming operator in StreamingSpec).
    */
  val q140Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |g AS (
      |  SELECT user_id, ts_us,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** q174 — stream-stream LEFT OUTER interval join replayed through real
    * micro-batches: q112's view→purchase attribution, but emitting every
    * UNMATCHED view too — the semantics a funnel/abandonment pipeline
    * needs ("views that did NOT convert within 30 min"), and the one an
    * inner join cannot deliver. An outer result is only decidable under a
    * watermark: a view's null row may emit once the global watermark
    * passes `v_ts + window`, proving no in-window purchase can still
    * arrive. A bounded replay therefore needs the q140 drain: one
    * far-future sentinel per SIDE (the global watermark is the MIN across
    * sources), each in a file mod-time-forced to be that source's LAST
    * batch, advancing both watermarks past every real view's close so the
    * no-data micro-batch flushes all pending outer state; the sentinels
    * themselves (user −1) are filtered back out.
    *
    * The unmatched-view output coalesces purchase_id to −1: both engines
    * then sort and hash identical non-null columns (Spark and DuckDB
    * disagree on default NULL ordering, so a nullable sort key would be
    * a correctness trap, not a style choice).
    *
    * Scale: state on both sides is watermark-bounded exactly as q112;
    * outer emission adds no state — it is eviction-with-emission instead
    * of silent drop. Memory tracks the in-window horizon, never stream
    * length.
    */
  def q174StreamOuterJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q174", Seq("events")) { root =>
      val events = Tables(spark, dir, "events")
      val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val sentinelUs = maxUs + 4000L * 86400L * 1000000L
      // each side arrives as event-time-contiguous range files replayed in
      // mod-time order (the q165 carving): random file order would let the
      // watermark run ahead of unread data and late-drop real views, which
      // for an OUTER join silently deletes their unmatched rows
      for (side <- Seq("views", "purch")) {
        val typ = if (side == "views") "view" else "purchase"
        events.filter(col("event_type") === typ)
          .repartitionByRange(3, col("ts"), col("event_id"))
          .write.parquet(s"$root/$side")
        def parts() = new java.io.File(s"$root/$side").listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        val realFiles = parts().map(_.getName).toSet
        val t0 = parts().map(_.lastModified()).max
        parts().sortBy(_.getName).zipWithIndex
          .foreach { case (f, i) => f.setLastModified(t0 + i * 600000L) }
        events.limit(1)
          .select(lit(-1L).as("event_id"), timestamp_micros(lit(sentinelUs)).as("ts"),
            lit(-1L).as("user_id"), lit(typ).as("event_type"),
            lit(0.0).as("value"), lit("").as("props"))
          .coalesce(1).write.mode("append").parquet(s"$root/$side")
        parts().filterNot(f => realFiles(f.getName))
          .foreach(f => f.setLastModified(t0 + 10 * 600000L))
        // pre-stage the in-run drain sentinel (see the try block below):
        // carving it here keeps the run phase free of Spark writes — the
        // run just COPIES this file into the watched dir when it's time
        events.limit(1)
          .select(lit(-2L).as("event_id"),
            timestamp_micros(lit(sentinelUs + 86400L * 1000000L)).as("ts"),
            lit(-1L).as("user_id"), lit(typ).as("event_type"),
            lit(0.0).as("value"), lit("").as("props"))
          .coalesce(1).write.parquet(s"$root/late/$side")
      }
    }
    val base = ReplayFixtures.runRoot(dir, "q174")
    val ss = ReplayFixtures.replaySession(spark)
    val joined = graft.streaming.EventStream.intervalJoinStream(
      graft.streaming.EventStream.readEventStream(ss, s"$fix/views", maxFilesPerTrigger = 2),
      graft.streaming.EventStream.readEventStream(ss, s"$fix/purch", maxFilesPerTrigger = 2),
      joinType = "left_outer")
    // NO sentinel filter inside the streaming plan: a `user_id >= 0`
    // here pushes through the outer join into BOTH parquet scans
    // (constraint propagation via v_user = p_user), deleting the
    // sentinels before they reach the watermark operators — the drain
    // never fires and the tail's outer rows are silently lost (found the
    // hard way: 8 missing rows). Sentinels are filtered on READ-BACK of
    // the sink instead, exactly like q140.
    val q = joined
      .select(col("user_id"), col("view_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        when(col("purchase_id").isNull, 0).otherwise(1).as("matched"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet")
      .option("path", s"$base/out")
      .start()
    try {
      q.processAllAvailable()
      // outer-state eviction runs one batch BEHIND the watermark commit
      // (the sentinel batch advances the watermark as it ends, and no
      // further batch consumes it) — feed one more, later, sentinel per
      // side so a real data batch runs under the committed watermark and
      // flushes the remaining outer rows. The production analogue: outer
      // results always trail the stream by one watermark advance. The
      // sentinel files were carved at fixture-build time; dropping them
      // into the watched dirs here is a plain file copy (the fixture's
      // restoration pass removes them again before the next run).
      for (side <- Seq("views", "purch")) {
        val lateDir = new java.io.File(s"$fix/late/$side")
        lateDir.listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .foreach { f =>
            val dst = new java.io.File(s"$fix/$side", f.getName)
            java.nio.file.Files.copy(f.toPath, dst.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            dst.setLastModified(System.currentTimeMillis())
          }
      }
      q.processAllAvailable()
    } finally q.stop()
    spark.read
      .schema("user_id BIGINT, view_id BIGINT, purchase_id BIGINT, matched INT")
      .parquet(s"$base/out")
      .filter(col("user_id") >= 0L)
      .orderBy(col("view_id"), col("purchase_id"))
  }

  val q174Sql: String =
    """SELECT v.user_id, v.event_id AS view_id,
      |  COALESCE(p.event_id, -1) AS purchase_id,
      |  CAST(p.event_id IS NOT NULL AS INT) AS matched
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND epoch_us(p.ts) >= epoch_us(v.ts)
      | AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
      |ORDER BY view_id, purchase_id""".stripMargin

  /** q165 — streaming EXACT dedup replayed through real micro-batches:
    * `dropDuplicatesWithinWatermark` ([[graft.streaming.EventStream
    * .dedupStream]]), the at-least-once→exactly-once repair every event
    * pipeline runs in front of its sinks. The feed is the events table
    * plus a duplicate copy of every 5th event re-timestamped +30 min (a
    * redelivery half an hour later — inside the 1 h dedup horizon), carved
    * into 3 event-time-contiguous range files whose mod times force
    * FileStreamSource to replay them in time order (the q140 idiom), so
    * some duplicates land in a LATER micro-batch than their original and
    * the cross-batch state-store path is genuinely exercised (gate:
    * StreamingSpec proves the fixture splits ≥1 pair across files).
    *
    * Time-ordered ranges also make the replay deterministic at any scale:
    * batch N+1's minimum event time is ≥ batch N's maximum, so no row is
    * ever behind the watermark (nothing late-dropped) and no original's
    * dedup state is evicted before its +30 min duplicate arrives. `ts` is
    * excluded from the output because within one batch either copy may be
    * the survivor — the carried columns are identical on both.
    *
    * Scale: state is one entry per key seen within the last watermark
    * hour, evicted by event time — memory tracks the redelivery horizon,
    * never stream length. That bound is the entire reason
    * dropDuplicatesWithinWatermark exists over dropDuplicates.
    */
  def q165StreamDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q165", Seq("events")) { root =>
      val events = Tables(spark, dir, "events")
      val dups = events.filter(pmod(col("event_id"), lit(5)) === 0)
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + 1800L * 1000000L))
      val all = events.unionByName(dups)
      // Carve into 3 event-time-contiguous range files with boundaries
      // DERIVED, not sampled: `repartitionByRange` picks boundaries from a
      // random sample, so whether any original/duplicate pair straddles a
      // file boundary varied run to run (the cross-batch-state property the
      // spec gates flaked under full-suite runs). Anchor the first boundary
      // ONE MICROSECOND past the median planted original: its +30 min
      // duplicate then lands in the next file BY CONSTRUCTION — and 30 min
      // is well inside the 1 h dedup watermark, so the duplicate reaches the
      // cross-batch state store rather than the late-data filter.
      val planted = events.filter(pmod(col("event_id"), lit(5)) === 0)
        .select(unix_micros(col("ts")).as("t"))
      val nPlanted = planted.count()
      val tMid = planted.orderBy(col("t"))
        .offset((nPlanted / 2).toInt).limit(1).collect().head.getLong(0)
      val tMax = all.agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
      val b1 = tMid + 1L
      val b2 = b1 + (tMax - b1) / 2
      val splits = Seq(
        unix_micros(col("ts")) < b1,
        unix_micros(col("ts")) >= b1 && unix_micros(col("ts")) < b2,
        unix_micros(col("ts")) >= b2)
      // one append-write per range, stamping strictly increasing mod times
      // as we go so FileStreamSource replays the files in event-time order
      val inDir = new java.io.File(s"$root/in")
      def parts() = Option(inDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      splits.zipWithIndex.foreach { case (cond, i) =>
        val before = parts().map(_.getName).toSet
        all.filter(cond).coalesce(1).write.mode("append").parquet(s"$root/in")
        parts().filterNot(f => before(f.getName))
          .foreach(_.setLastModified(1700000000000L + i * 600000L))
      }
    }
    val base = ReplayFixtures.runRoot(dir, "q165")
    val ss = ReplayFixtures.replaySession(spark)
    val deduped = graft.streaming.EventStream.dedupStream(
      graft.streaming.EventStream.readEventStream(ss, s"$fix/in", maxFilesPerTrigger = 1),
      keyCols = Seq("event_id"), watermark = "1 hour")
    val q = deduped
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet")
      .option("path", s"$base/out")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(s"$base/out")
      .orderBy(col("event_id"))
  }

  /** Dedup-by-key of the doubled feed is exactly the original table, once
    * each — if the operator forwarded duplicates, every 5th event would
    * appear twice and the row-count/hash gate fails.
    */
  val q165Sql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** q189 — SCHEMA EVOLUTION across parquet batches: a long-lived lake
    * table's files rarely share one schema — early batches predate columns
    * that later batches carry. The engine writes two generations (an old
    * batch WITHOUT `props`, a new batch WITH `props` plus an added
    * `schema_v` column), reads them back as ONE table via
    * `mergeSchema=true`, and aggregates per event_type counting which rows
    * carry which generation's columns — missing columns surface as NULLs,
    * exactly the read-time contract a 100 TB table with years of schema
    * drift depends on. The oracle restates the generation split (id
    * parity) from the original table, so the hash match proves the
    * merged read lost and invented nothing.
    *
    * Scale: schema merging is a FOOTER-level operation (Spark unions the
    * file schemas at planning; row groups are untouched), so the read
    * cost is the same scan — the one caveat worth knowing is that
    * `mergeSchema` reads every file footer at planning time, which is
    * why production lakes pin the merged schema in a metastore instead;
    * the read-time semantics are identical.
    */
  def q189SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = ReplayFixtures.ensure(dir, "q189", Seq("events")) { root =>
      val e = Tables(spark, dir, "events")
      // generation 1: the old schema (no props column yet)
      e.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .write.parquet(s"$root/t")
      // generation 2: props arrived, plus a new schema_v marker column
      e.filter(pmod(col("event_id"), lit(2)) === 1)
        .withColumn("schema_v", lit(2))
        .write.mode("append").parquet(s"$root/t")
    }
    // "carries the props column" is a FILE-generation property, marked by
    // the always-non-null schema_v — not a row-value property, so a gen-2
    // row whose props VALUE is null still counts. nonnull_props exercises
    // the merged props column itself, restated null-robustly in the oracle.
    spark.read.option("mergeSchema", "true").parquet(s"$base/t")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("schema_v")).as("with_props"),
        count(col("schema_v")).as("with_v2"),
        count(col("props")).as("nonnull_props"),
        sum(when(col("props").isNull && col("schema_v").isNull, 1L).otherwise(0L))
          .as("old_generation"))
      .orderBy(col("event_type"))
  }

  /** The merged read must equal the generation split recomputed from the
    * source table: gen-2 rows (odd ids) carry the props + schema_v
    * COLUMNS (counted via the always-non-null schema_v marker, so a
    * future fixture with NULL props values cannot silently skew the
    * generation counts), gen-1 rows carry neither; nonnull_props is the
    * one value-level count and its restatement carries the same
    * IS NOT NULL guard.
    */
  val q189Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS with_props,
      |  CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS with_v2,
      |  CAST(count(CASE WHEN event_id % 2 = 1 AND props IS NOT NULL THEN 1 END) AS BIGINT) AS nonnull_props,
      |  CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT) AS old_generation
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q192 — TRANSACTIONAL VERSIONED TABLE with TIME TRAVEL: the q134 CDC
    * merge, upgraded from a stateless transform to a COMMITTED Delta table
    * ([[graft.sources.DeltaLog]]): a schema-only create commit is
    * version 0, the base snapshot commits as version 1, then three
    * deterministic change batches merge as versions 2–4 through the
    * op-aware [[graft.sources.DeltaLog.mergeInto]] — a copy-on-write
    * rewrite of only the files holding a batch key — each published by an
    * atomic put-if-absent commit (stale writers are rejected —
    * DeltaTableSpec proves the two-writer race). The query then reads the
    * table PINNED AT VERSION 3 — not latest — so the returned rows must
    * equal base + exactly the first TWO change batches: the v4 batch is
    * committed and visible to a latest read, and the oracle's reconstruction (base + b1 + b2 with
    * delete-wins/last-writer-wins composition) hash-matches only if time
    * travel returns the historical snapshot bit-for-bit and leaks nothing
    * newer.
    *
    * Batches (all carved from `documents` so DuckDB can restate them):
    * v2 = delete doc_id%7=0, upsert text+" v2" where doc_id%4=0;
    * v3 = delete doc_id%9=0, upsert text+" v3" where doc_id%5=0;
    * v4 = upsert text+" v4" where doc_id%6=0 (must NOT appear).
    *
    * Scale: the log is version-sized text; each merge scans the target's
    * keys once and rewrites only the files a batch key hits (1% of keys
    * touched in a clustered table ⇒ ~1% rewritten, the rest carries over
    * by reference); time travel is log replay plus a parquet read — none
    * of it is table-sized driver work.
    */
  /** The table under a [[ReplayFixtures.once]] fixture root, created
    * empty with `schema` at v0.
    */
  private def freshTable(root: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    val t = s"$root/tbl"
    DeltaLog.create(t, schema)
    t
  }

  /** The q192/q195/q196 fixture: ONE Delta table per (JVM, sf dir) —
    * schema at v0, base snapshot at v1, the three deterministic change
    * batches at v2–v4. Built on first use ([[ReplayFixtures.once]]);
    * safe to share because every consumer reads VERSION-PINNED state,
    * which later commits cannot disturb — that immutability is the
    * time-travel contract itself. Returns the table root.
    */
  private def versionedDocsTable(spark: SparkSession, dir: String,
      tag: String = "q192"): String =
    ReplayFixtures.once(tag, dir) { root =>
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val t = freshTable(root, d.schema)
      DeltaLog.commitAppend(t, d.filter(pmod(col("doc_id"), lit(3)) =!= 0))
      def batch(delMod: Int, upMod: Int, suffix: String) = d
        .filter(pmod(col("doc_id"), lit(upMod)) === 0 ||
          pmod(col("doc_id"), lit(delMod)) === 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(delMod)) === 0, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          concat(col("text"), lit(suffix)).as("text"), col("lang"))
      Seq(batch(7, 4, " v2"), batch(9, 5, " v3"),
        d.filter(pmod(col("doc_id"), lit(6)) === 0)
          .select(col("doc_id"), lit("upsert").as("op"),
            concat(col("text"), lit(" v4")).as("text"), col("lang")))
        .foreach(b => DeltaLog.mergeInto(spark, t, b, Seq("doc_id"), ops = true))
      t
    }

  /** Bench hook (the Bench.scala signature-store precedent): build a
    * query's fixture — the per-JVM [[ReplayFixtures.once]] tables and
    * stores, the shared [[ReplayFixtures.ensure]] carves — UNTIMED, so
    * per-query medians measure the operator against the fixture, not
    * the first-use build (round-9 verdict: q192/q196
    * /q214/q230 first repeats carried their table builds). Keyed by the
    * query-name prefix; prefixes without a hoistable fixture are no-ops.
    * Fixtures are immutable to their consumers (version-pinned reads /
    * restored carve trees), so warming with the shared batch session is
    * identical to first-use building.
    */
  private[graft] def warmFixture(spark: SparkSession, dir: String, qPrefix: String): Unit =
    qPrefix match {
      case "q192" | "q195" | "q202" | "q229" => versionedDocsTable(spark, dir); ()
      case "q196" => versionedDocsTable(spark, dir, tag = "q196"); ()
      case "q230" =>
        versionedDocsTable(spark, dir, tag = "q230"); q230Fixture(spark, dir); ()
      case "q214" => q214Table(spark, dir); ()
      case "q200" => q200Fixture(spark, dir); ()
      case "q235" => EventsOps.q235Staged(spark, dir); ()
      case "q236" => q236Bootstrap(spark, dir); ()
      case "q238" => q238Mv0(spark, dir); ()
      case "q239" => q239Table(spark, dir); ()
      case "q240" => q240Fixture(spark, dir); ()
      case "q241" => q241Fixture(spark, dir); ()
      case "q245" => q245Fixture(spark, dir); ()
      case "q261" => q261Fixture(spark, dir); ()
      case "q264" | "q265" | "q266" | "q277" => q264Fixture(spark, dir); ()
      case "q273" | "q274" | "q275" => q273Fixture(spark, dir); ()
      case "q276" => q276Fixture(spark, dir); ()
      case "q278" => q278Fixture(spark, dir); ()
      case "q280" => q280Fixture(spark, dir); ()
      case "q281" => q281Fixture(spark, dir); ()
      case "q282" => q282Fixture(spark, dir); ()
      case "q283" => q283Fixture(spark, dir); ()
      case "q284" => q273Fixture(spark, dir); ()
      case "q287" => q287Fixture(spark, dir); ()
      case "q288" => q288Fixture(spark, dir); ()
      // the catch-up campaign's 120-commit delta (scale row q286): the
      // commit history is ingest, the timed region is the catch-up
      case "q286" => CorpusOps.catchupDelta(spark, dir); ()
      // q272/q279 deliberately have NO case: the Bench queries build their
      // stores through ReplayFixtures.once (so a bench run's first repeat
      // carries the build), and the SCALE rows are the always-cold
      // CAMPAIGNS — a warm hoist here would build a full unused store on
      // both campaign corpora before the timed region
      case "q267" => q267Store(spark, dir); ()
      case "q268" => q200Fixture(spark, dir); ()
      case "q269" => q269Fixture(spark, dir); ()
      case "q270" => LayoutOps.q270Fixture(spark, dir); ()
      case "q271" => q271Store(spark, dir); ()
      case "q246" => q246Fixture(spark, dir); ()
      case "q248" => q246Fixture(spark, dir); ()
      case "q249" => q245Fixture(spark, dir); ()
      case "q250" => q245Fixture(spark, dir); ()
      // the store builds (append/compact/erase) are the INGEST side of
      // q254-q256; the timed query is the read over the published store
      case "q254" => q254Store(spark, dir); ()
      case "q255" => q255Store(spark, dir); ()
      case "q256" => q256Store(spark, dir); ()
      case "q215" => LayoutOps.q215Tables(spark, dir); ()
      case _ => ()
    }

  def q192TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = versionedDocsTable(spark, dir)
    val v3 = 3L
    DeltaLog.read(spark, t, Some(v3))
      .select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
        lit(v3).as("read_version"),
        lit(DeltaLog.currentVersion(t)).as("latest_version"))
      .orderBy(col("doc_id"))
  }

  /** Oracle reconstruction of snapshot v3 = base + batch1 + batch2 with
    * the merge's composition rules (later batch wins; within a batch
    * delete wins over upsert); the " v4" batch is deliberately absent —
    * its appearance in the Spark dump is exactly the time-travel leak the
    * hash gate would catch.
    */
  val q192Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t,
      |    CASE WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN TRUE
      |         WHEN doc_id % 7 = 0 THEN FALSE
      |         ELSE doc_id % 3 <> 0 END AS present
      |  FROM documents)
      |SELECT doc_id, md5(t) AS h, lang,
      |  CAST(3 AS BIGINT) AS read_version, CAST(4 AS BIGINT) AS latest_version
      |FROM s WHERE present ORDER BY doc_id""".stripMargin

  /** q195 — INCREMENTAL CDC READ between versions (`table_changes`): the
    * consumer side of the q192 commit log. Over the same versioned table
    * (v1 base, change batches at v2–v4), `DeltaLog.diff(2, 4)` emits one typed
    * row per key whose value differs between snapshot 2 and snapshot 4 —
    * `insert` (absent → present), `update` (payload changed), `delete`
    * (present → absent), carrying the v4 payload (v2 payload for deletes).
    * This is how an incremental materialized view, a replica, or an audit
    * subscribes to a 100 TB table: read the delta, never rescan the table.
    *
    * Scale: the diff is FILE-PRUNED from the log — a file live in both
    * snapshots holds the same rows on both sides and is never read, so
    * cost tracks the touched data, and the one full-outer join runs on
    * the key over the two pruned fragments. The oracle reconstructs both
    * snapshots from the batch definitions and diffs them — a hash match
    * proves the pruned engine diff equals the full logical diff.
    */
  def q195TableChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = versionedDocsTable(spark, dir)
    DeltaLog.diff(spark, t, Seq("doc_id"), 2L, 4L)
      .select(col("doc_id"), col("change_type"), md5(col("text")).as("h"),
        col("lang"), lit(2L).as("from_version"), lit(4L).as("to_version"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: snapshots s2 (base + batch1) and s4 (… + batch2 + batch3)
    * reconstructed with the merge composition rules, then diffed — rows
    * where presence or text differs, typed by the transition.
    */
  val q195Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang, text,
      |    CASE WHEN doc_id % 7 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 THEN TRUE
      |         ELSE doc_id % 3 <> 0 END AS p2,
      |    CASE WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t2
      |  FROM documents),
      |s4 AS (
      |  SELECT doc_id, lang, p2, t2,
      |    CASE WHEN doc_id % 6 = 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 5 = 0 THEN TRUE
      |         ELSE p2 END AS p4,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' v4'
      |         WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         ELSE t2 END AS t4
      |  FROM s)
      |SELECT doc_id,
      |  CASE WHEN NOT p2 AND p4 THEN 'insert'
      |       WHEN p2 AND NOT p4 THEN 'delete'
      |       ELSE 'update' END AS change_type,
      |  md5(CASE WHEN p2 AND NOT p4 THEN t2 ELSE t4 END) AS h,
      |  lang, CAST(2 AS BIGINT) AS from_version, CAST(4 AS BIGINT) AS to_version
      |FROM s4
      |WHERE (p2 <> p4) OR (p2 AND p4 AND t2 <> t4)
      |ORDER BY doc_id""".stripMargin

  /** q236 — EXTERNAL-FORMAT INTEROP: keep a table ANOTHER engine owns in
    * sync through the CDC feed, the documented Delta/Iceberg migration
    * path: bootstrap from one pinned snapshot, then apply the keyed diff
    * as a standard MERGE. The external
    * side here is a plain parquet directory — deliberately the weakest
    * stand-in, since the contract asks nothing of the foreign format
    * beyond "read a snapshot, rewrite keyed rows":
    *
    *   1. BOOTSTRAP: the mirror initializes from ONE pinned snapshot,
    *      `read(1)` (a fixture built once per JVM — the replica's initial
    *      load, not part of each sync);
    *   2. SYNC: `DeltaLog.diff(1, 4)` — file-pruned, changes-sized — applies
    *      as the standard MERGE: delete/update keys leave the mirror
    *      (one left-anti join), insert/update payloads enter (one union);
    *   3. AUDIT: a hard require() proves the synced mirror equals the
    *      native `read(4)` snapshot EXACTLY (count + empty anti-join —
    *      set equality since keys are unique), the q79 prove-don't-assume
    *      idiom. At 100 TB the audit samples or compares bucket hashes;
    *      the sync itself never rescans either table.
    *
    * The oracle reconstructs v4 logically from the batch definitions
    * (q192's composition rules carried one batch further), so the hash
    * gate passes only if bootstrap + incremental MERGE lands the replica
    * bit-for-bit on the snapshot it mirrors. Delta CDF / Iceberg
    * changelogs emit exactly this feed's `(key, change_type, payload)`
    * shape, so step 2 is `MERGE INTO` verbatim on a real external engine.
    */
  def q236CdcMirror(spark: SparkSession, dir: String): DataFrame = {
    val t = versionedDocsTable(spark, dir)
    val mirrorV1 = q236Bootstrap(spark, dir)
    // the sync: ONE changes-sized feed, read once, used by both arms
    val feed = DeltaLog.diff(spark, t, Seq("doc_id"), 1L, 4L)
      .select(col("doc_id"), col("change_type"), col("text"), col("lang"))
      .localCheckpoint()
    val synced = spark.read.parquet(mirrorV1)
      .join(feed.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(feed.filter(col("change_type") =!= "delete")
        .select(col("doc_id"), col("text"), col("lang")))
    val mirrorV4 = s"${ReplayFixtures.runRoot(dir, "q236")}/mirror_v4"
    synced.write.mode("overwrite").parquet(mirrorV4)
    val out = spark.read.parquet(mirrorV4)
    // replica audit: mirror == native snapshot, proved engine-side before
    // the oracle ever sees the rows
    val native = DeltaLog.read(spark, t, Some(4L))
      .select(col("doc_id"), col("text"), col("lang"))
    require(out.count() == native.count() &&
      out.join(native, Seq("doc_id", "text", "lang"), "left_anti").isEmpty,
      "external mirror diverged from the native snapshot it replicates")
    out.select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
      lit("parquet-mirror").as("mirror"))
      .orderBy(col("doc_id"))
  }

  /** The mirror's initial load — a pinned-snapshot materialization, built
    * once per (JVM, sf dir) and Bench-hoistable like every fixture.
    */
  private[graft] def q236Bootstrap(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q236", dir) { root =>
      val p = s"$root/mirror_v1"
      DeltaLog.read(spark, versionedDocsTable(spark, dir), Some(1L))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** q239's append-fragmented table: a one-file base snapshot (v1) plus
    * four one-file [[graft.sources.DeltaLog.commitAppendIdempotent]]
    * micro-batch commits — the shape a streaming sink leaves behind (one
    * small file per batch, so v5 is exactly five live files). Built once
    * per (JVM, sf dir).
    */
  private[graft] def q239Table(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q239", dir) { root =>
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val t = freshTable(root, d.schema)
      DeltaLog.commitAppend(t, d.filter(pmod(col("doc_id"), lit(5)) === 0).coalesce(1))
      (1 to 4).foreach { k =>
        DeltaLog.commitAppendIdempotent(spark, t,
          d.filter(pmod(col("doc_id"), lit(5)) === k).coalesce(1), "q239", k.toLong)
      }
      t
    }

  /** q239 — TABLE COMPACTION (the OPTIMIZE verb): a streaming sink leaves
    * one small file per micro-batch ([[q239Table]]: five live files after
    * init + four appends), and small files are the classic lakehouse
    * decay — footer-read overhead per scan grows with the commit count,
    * not the data. [[graft.sources.DeltaLog.commitOptimize]] rewrites the
    * live files into one and publishes a content-identical
    * `dataChange=false` commit; time travel keeps working across the
    * boundary (files are reclaimed later by vacuum).
    *
    * The audit columns are CONSTANTS THE ENGINE MUST EARN (the q214
    * pattern): `files_before_max` = 5 reads the PINNED pre-compaction
    * version's live file count (stable across reruns — every run compacts
    * a fresh hard-link clone of the frozen fragmented fixture, so each run
    * pays the real rewrite and sees the same starting state),
    * `files_after_max` = 1 holds only if compaction actually merged the
    * files, and the
    * per-lang content rows hash-match the raw documents only if the
    * rewrite moved bytes and nothing else.
    *
    * Scale: OPTIMIZE reads one snapshot's live files once and writes them
    * once; the log cost is one commit regardless of data size.
    */
  def q239Compaction(spark: SparkSession, dir: String): DataFrame = {
    // per-run clone of the frozen fragmented fixture: every run — each
    // bench repeat included — pays the real OPTIMIZE rewrite, never the
    // idempotent no-op a second compact of the same root would be (r11:
    // repeats 2..N of a compact on the memoized fixture timed nothing)
    val t = ReplayFixtures.cloneInto(q239Table(spark, dir), "q239", dir)
    val preV = 5L // init + four appends — pinned, so reruns see the same value
    val beforeMax = DeltaLog.snapshotFiles(spark, t, Some(preV)).size
    val v = DeltaLog.commitOptimize(spark, t, targetFiles = 1)
    val afterMax = DeltaLog.snapshotFiles(spark, t, Some(v)).size
    DeltaLog.read(spark, t, Some(v))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("files_before_max", lit(beforeMax.toLong))
      .withColumn("files_after_max", lit(afterMax.toLong))
      .orderBy(col("lang"))
  }

  /** Oracle: the compacted table holds exactly the full documents set
    * (the five residue classes partition it); the file-count constants
    * are the compaction contract itself.
    */
  val q239Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(5 AS BIGINT) AS files_before_max,
      |  CAST(1 AS BIGINT) AS files_after_max
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q240 — EXACTLY-ONCE KEYED UPSERT STREAMING SINK: the missing half of
    * q200 (exactly-once APPENDS). The events fixture is carved into four
    * EVENT-TIME-CONTIGUOUS range files and replayed as a file stream one
    * file per trigger; `foreachBatch` reduces each micro-batch to ONE
    * change row per user (latest event by (ts, event_id); an event_id ≡ 0
    * mod 7 is a tombstone) and commits it through the op-aware
    * [[graft.sources.DeltaLog.mergeInto]] with a `txn` action — the q134
    * CDC merge and the micro-batch id in ONE atomic commit — then DELIVERS THE SAME
    * BATCH AGAIN to prove redelivery is a detected no-op. Because the
    * carve is time-ordered and a ts tie never straddles a file boundary
    * (range predicates cut strictly between distinct ts values), the
    * sequential last-write-wins merges compose to the GLOBAL last event
    * per user — which is exactly what the oracle restates over the raw
    * events table: any double-merge, lost batch, or mis-ordered replay
    * breaks the hash.
    *
    * Scale: each commit rewrites only the files holding its users (a
    * copy-on-write merge); idempotence costs a log replay. This
    * is the CDC-consumer produce path: a bus feed of entity states lands
    * as a queryable, time-travelable keyed table with exactly-once
    * semantics end to end.
    */
  private[graft] def q240Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q240", Seq("events")) { root =>
      val e = Tables(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      val mm = e.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect().head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      // four contiguous ranges; a boundary value lands WHOLLY in the later
      // range (< b vs >= b), so a ts tie never straddles a batch and the
      // replay composes to the global (ts, event_id) order
      val bs = (1 to 3).map(k => lo + (hi - lo) / 4 * k)
      val conds = Seq(
        unix_micros(col("ts")) < bs(0),
        unix_micros(col("ts")) >= bs(0) && unix_micros(col("ts")) < bs(1),
        unix_micros(col("ts")) >= bs(1) && unix_micros(col("ts")) < bs(2),
        unix_micros(col("ts")) >= bs(2))
      // one append-write per range, stamping strictly increasing mod times
      // as we go so FileStreamSource replays the files in event-time order
      // (the q165 carve idiom)
      val inDir = new java.io.File(s"$root/in")
      def parts() = Option(inDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      conds.zipWithIndex.foreach { case (cond, i) =>
        val before = parts().map(_.getName).toSet
        e.filter(cond).coalesce(1).write.mode("append").parquet(s"$root/in")
        parts().filterNot(f => before(f.getName))
          .foreach(_.setLastModified(1700000000000L + i * 600000L))
      }
    }

  def q240StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val fix = q240Fixture(spark, dir)
    val base = ReplayFixtures.runRoot(dir, "q240")
    val ss = ReplayFixtures.replaySession(spark)
    val t = s"$base/tbl"
    val src = ss.read.parquet(s"$fix/in")
    // day-zero create: an empty table whose schema every batch must match
    DeltaLog.create(t, src
      .select(col("user_id"), col("event_id"), col("event_type"), col("value")).schema)
    val q = ss.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$fix/in")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
        val changes = batch.toDF()
          .withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
          .select(col("user_id"),
            when(pmod(col("event_id"), lit(7)) === 0, "delete")
              .otherwise("upsert").as("op"),
            col("event_id"), col("event_type"), col("value"))
        def merge() = DeltaLog.mergeInto(ss, t, changes, Seq("user_id"),
          ops = true, txn = Some(("q240", bid)))
        merge()
        // at-least-once redelivery: the committed txn action makes this a
        // detected no-op — any re-apply would corrupt last-write-wins state
        merge()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    DeltaLog.read(spark, t)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** Oracle: the sink's final state IS the globally-latest event per user
    * (absent when that event is a tombstone) — restated directly over the
    * raw events table.
    */
  val q240Sql: String =
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id, event_type, value
      |FROM latest WHERE rn = 1 AND event_id % 7 <> 0
      |ORDER BY user_id""".stripMargin

  /** q241 — DELTA-FORMAT TABLE ADOPTION (the inbound half of the q236
    * interop story, now against a REAL commit log): a Delta-protocol
    * table is built by the repo's own minimal writer
    * ([[graft.sources.DeltaLog]]) through the full protocol surface —
    * append commits, a remove+add REPLACE commit, a parquet checkpoint +
    * `_last_checkpoint`, and a post-checkpoint tail commit — and the
    * query then ADOPTS it: `DeltaLog.read` replays checkpoint + JSON tail
    * into the latest snapshot, `DeltaLog.commitAppend` lands it as the
    * first commit of a fresh table, and the output aggregates the adopted
    * table. The
    * `v1_docs` audit column time-travels to the pre-replace version, so a
    * reader that ignored remove actions (or replayed the tail twice)
    * breaks the hash.
    *
    * Commit history over `documents` (doc_id mod 3 residues):
    * v0 = residue 0 (protocol/metaData + adds), v1 = + residue 1,
    * v2 = REPLACE (remove v1's files, add residue 2), checkpoint @ v2,
    * v3 = + (residue 1 with even doc_id) — so the latest snapshot is
    * `doc_id%3 <> 1 OR doc_id%2 = 0` and v1's is `doc_id%3 IN (0,1)`.
    *
    * Scale: adoption cost is snapshot-sized (one read + one write); log
    * replay is versions-sized driver string work bounded by the
    * checkpoint — data files are never listed from storage, which is
    * what makes the format usable on an object store at 100 TB.
    */
  private[graft] def q241Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q241", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val delta = s"$root/delta"
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(3)) === 0))
      val v0Files = DeltaLog.snapshotFiles(spark, delta, Some(0L)).toSet
      DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(3)) === 1))
      val v1Extra = DeltaLog.snapshotFiles(spark, delta, Some(1L))
        .filterNot(v0Files)
      DeltaLog.commitReplace(delta, v1Extra,
        d.filter(pmod(col("doc_id"), lit(3)) === 2))
      DeltaLog.checkpoint(spark, delta)
      DeltaLog.commitAppend(delta, d.filter(
        pmod(col("doc_id"), lit(3)) === 1 && pmod(col("doc_id"), lit(2)) === 0))
    }

  /** q245 fixture: a FRAGMENTED Delta table — four append commits over
    * the doc_id mod 4 residues, each repartitioned to 4 files, so the
    * live set at v3 is 16 files and the file counts the oracle pins are
    * deterministic across environments.
    */
  private[graft] def q245Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q245", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      (0 until 4).foreach { r =>
        DeltaLog.commitAppend(s"$root/delta",
          d.filter(pmod(col("doc_id"), lit(4)) === r).repartition(4))
      }
    }

  /** q245 — DELTA OPTIMIZE (the outbound compaction half of the q241
    * adoption story): each run hard-link-clones the frozen fragmented
    * table (q239's honesty rule — a second optimize of the same root
    * would time an idempotent no-op) and publishes ONE
    * `dataChange=false` rewrite commit through
    * [[graft.sources.DeltaLog.commitOptimize]]: all 16 live files
    * removed, 2 compacted files added, row set IDENTICAL — the Delta
    * protocol's "no logical change" marker, so a streaming consumer
    * tailing the log may skip the commit while batch readers see the
    * same rows in fewer files. The output aggregates the post-optimize
    * snapshot and carries the version/file counts as audit columns the
    * oracle pins: a rewrite that lost or duplicated a row, double-added
    * a file, or failed to tombstone the old set breaks the hash.
    *
    * Scale: the rewrite reads one snapshot's live files and is
    * embarrassingly parallel across partition directories; the log cost
    * is one commit regardless of data size, and time travel to the
    * fragmented versions keeps working (removes are tombstones).
    */
  def q245DeltaOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q245Fixture(spark, dir)}/delta", "q245", dir)
    val filesBefore = DeltaLog.snapshotFiles(spark, delta).size.toLong
    val v = DeltaLog.commitOptimize(spark, delta, targetFiles = 2)
    val filesAfter = DeltaLog.snapshotFiles(spark, delta, Some(v)).size.toLong
    DeltaLog.read(spark, delta, Some(v))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("optimize_version", lit(v))
      .withColumn("files_before", lit(filesBefore))
      .withColumn("files_after", lit(filesAfter))
      .orderBy(col("lang"))
  }

  /** Oracle: the optimized snapshot holds exactly the full documents set
    * (the four residue classes partition it); the version/file constants
    * are the OPTIMIZE contract itself (4 appends → v4 rewrite; 16 → 2).
    */
  val q245Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(4 AS BIGINT) AS optimize_version,
      |  CAST(16 AS BIGINT) AS files_before,
      |  CAST(2 AS BIGINT) AS files_after
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q261 fixture: the documents table committed to a Delta log as 8
    * doc_id-RANGE-DISJOINT files (chunk r = ids in (max*r/8, max*(r+1)/8],
    * chunk 0 unbounded below; one file per commit) — the natural layout
    * of any time- or id-ordered ingest, and the shape data skipping
    * exists for: each add action's stats envelope covers a disjoint id
    * range, so a selective id predicate maps to few files.
    */
  private[graft] def q261Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q261", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val mx = d.agg(max(col("doc_id"))).head.getLong(0)
      (0 until 8).foreach { r =>
        val lo = mx * r / 8
        val hi = mx * (r + 1) / 8
        val chunk =
          if (r == 0) d.filter(col("doc_id") <= hi)
          else d.filter(col("doc_id") > lo && col("doc_id") <= hi)
        DeltaLog.commitAppend(s"$root/delta", chunk.coalesce(1))
      }
    }

  /** q261 — DELTA DATA SKIPPING: a selective range read over the
    * 8-file range-disjoint fixture through [[graft.sources.DeltaLog
    * .readWhere]], which prunes the FILE LIST from each add action's
    * min/max stats envelope before any scan is planned — the lakehouse
    * sibling of partition pruning, and at 100 TB the difference between
    * a selective query reading its few matching files and scanning the
    * table. The predicate is exactly one chunk's id range (boundaries
    * computed with the fixture's own integer arithmetic), so precisely
    * ONE of the 8 files may match — `files_read`/`files_total` ride as
    * audit columns the oracle PINS: a skipping bug that reads extra
    * files (or worse, skips a matching one) breaks the hash before it
    * breaks the row set. The full predicate still applies to the
    * surviving rows, so the result is exactly read().filter(...).
    */
  def q261DeltaSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q261Fixture(spark, dir)}/delta"
    val mx = Tables(spark, dir, "documents")
      .agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
    val lo = mx * 4 / 8
    val hi = mx * 5 / 8
    val pred = col("doc_id") > lit(lo) && col("doc_id") <= lit(hi)
    val total = DeltaLog.snapshotFiles(spark, delta).size.toLong
    val read = DeltaLog.filesMatching(spark, delta, pred).size.toLong
    DeltaLog.readWhere(spark, delta, pred)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("files_read", lit(read))
      .withColumn("files_total", lit(total))
      .orderBy(col("lang"))
  }

  /** Oracle: the identical range restated over the raw table, with the
    * audit constants pinned — 1 file read of 8 written.
    */
  val q261Sql: String =
    """WITH b AS (SELECT max(doc_id) AS mx FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(1 AS BIGINT) AS files_read,
      |  CAST(8 AS BIGINT) AS files_total
      |FROM documents, b
      |WHERE doc_id > b.mx * 4 // 8 AND doc_id <= b.mx * 5 // 8
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q264 fixture: the documents table committed to a Delta log as four
    * files — the target of the deletion-vector DELETE, whose whole point
    * is that these four files are never rewritten.
    */
  private[graft] def q264Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q264", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      DeltaLog.commitAppend(s"$root/delta",
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
          .repartition(4))
    }

  /** q264 — DELTA ROW-LEVEL DELETE VIA DELETION VECTORS
    * ([[graft.sources.DeltaLog.deleteWhere]]): two successive DELETEs
    * against a cloned copy of the frozen fixture (q239's honesty rule),
    * each publishing per-hit-file remove+add pairs whose add carries a
    * RoaringBitmapArray of deleted row indexes instead of rewritten
    * bytes — at 100 TB the difference between a 100-row delete costing a
    * few KB of bitmap and costing a gigabyte rewrite. The second DELETE
    * overlaps the first (doc_id%6 hits both), exercising the
    * union-and-count-only-new contract, and the audit columns pin the
    * whole mechanism: `deleted_1`/`deleted_2` are the verbs' own hit
    * counts, `files_live` proves the data file set was NOT rewritten
    * (same 4 files), and `rows_v0` is a time-travel read through the
    * pre-delete snapshot (removes are tombstones; DV'd incarnations
    * replay by (path, dvId) exact match). A DV that dropped a wrong row,
    * resurrected a deleted one, double-counted the overlap, or forced a
    * file rewrite breaks the hash.
    *
    * Scale: the hit scan is predicate-pushed parquet over live files;
    * bitmaps are built and written on executors (a file's positions
    * never transit the driver); driver state is one descriptor per hit
    * file — commit-sized, never data-sized.
    */
  def q264DeltaDeleteVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q264Fixture(spark, dir)}/delta", "q264", dir)
    val filesBefore = DeltaLog.snapshotFiles(spark, delta).toSet
    val (_, del1) = DeltaLog.deleteWhere(spark, delta,
      pmod(col("doc_id"), lit(3)) === 0)
    val (v2, del2) = DeltaLog.deleteWhere(spark, delta,
      pmod(col("doc_id"), lit(2)) === 0)
    val filesAfter = DeltaLog.snapshotFiles(spark, delta, Some(v2)).toSet
    val filesLive =
      if (filesAfter == filesBefore) filesAfter.size.toLong else -1L
    val rowsV0 = DeltaLog.read(spark, delta, Some(0L)).count()
    DeltaLog.read(spark, delta, Some(v2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("deleted_1", lit(del1))
      .withColumn("deleted_2", lit(del2))
      .withColumn("files_live", lit(filesLive))
      .withColumn("rows_v0", lit(rowsV0))
      .orderBy(col("lang"))
  }

  /** Oracle: survivors are the rows neither DELETE matched; the audit
    * constants restate the verbs' contracts over the raw table —
    * deleted_2 counts doc_id%2 hits NOT already deleted by doc_id%3.
    */
  val q264Sql: String =
    """WITH d1 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 3 = 0),
      |d2 AS (SELECT count(*) AS c FROM documents
      |       WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0),
      |t AS (SELECT count(*) AS c FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(d1.c AS BIGINT) AS deleted_1,
      |  CAST(d2.c AS BIGINT) AS deleted_2,
      |  CAST(4 AS BIGINT) AS files_live,
      |  CAST(t.c AS BIGINT) AS rows_v0
      |FROM documents, d1, d2, t
      |WHERE doc_id % 3 <> 0 AND doc_id % 2 <> 0
      |GROUP BY lang, d1.c, d2.c, t.c ORDER BY lang""".stripMargin

  /** q265 — DELTA MERGE INTO ([[graft.sources.DeltaLog.mergeInto]]):
    * the lakehouse upsert (`WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *`) against a cloned copy of the q264 fixture.
    * The source carries one update row per doc_id%5 target doc (text
    * prefixed `U:`) and one brand-new doc per doc_id%9 (id shifted past
    * max, text prefixed `I:`); the verb retracts the matched target
    * rows via deletion vectors (their four data files are NOT
    * rewritten — `old_files_kept` pins that) and lands the whole source
    * as fresh files, ONE commit. `matched`/`inserted` are the verb's own
    * counts restated by the oracle; a merge that updated the wrong
    * rows, kept a stale copy, dropped an insert, or rewrote a target
    * file breaks the hash. At 100 TB this is THE write verb: hit scan +
    * KB of bitmaps + source-sized writes, never a hit-file rewrite.
    */
  def q265DeltaMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q264Fixture(spark, dir)}/delta", "q265", dir)
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
    val source = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", concat(lit("U:"), col("text")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(mx + 1))
        .withColumn("text", concat(lit("I:"), col("text"))))
    val filesBefore = DeltaLog.snapshotFiles(spark, delta).toSet
    val (v, matched, inserted) =
      DeltaLog.mergeInto(spark, delta, source, Seq("doc_id"))
    val filesAfter = DeltaLog.snapshotFiles(spark, delta, Some(v)).toSet
    val kept =
      if (filesBefore.subsetOf(filesAfter)) filesBefore.size.toLong else -1L
    DeltaLog.read(spark, delta, Some(v))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("matched", lit(matched))
      .withColumn("inserted", lit(inserted))
      .withColumn("old_files_kept", lit(kept))
      .orderBy(col("lang"))
  }

  /** Oracle: the merged table is source-wins-on-match ∪ unmatched
    * target; the audit constants restate the verb's counts and the
    * no-rewrite contract (all 4 target files still live).
    */
  val q265Sql: String =
    """WITH m1 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 5 = 0),
      |i1 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 9 = 0),
      |mx AS (SELECT max(doc_id) AS m FROM documents),
      |merged AS (
      |  SELECT doc_id, 'U:' || text AS text, lang
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + mx.m + 1, 'I:' || text, lang
      |  FROM documents, mx WHERE doc_id % 9 = 0
      |  UNION ALL
      |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 5 <> 0
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(m1.c AS BIGINT) AS matched,
      |  CAST(i1.c AS BIGINT) AS inserted,
      |  CAST(4 AS BIGINT) AS old_files_kept
      |FROM merged, m1, i1
      |GROUP BY lang, m1.c, i1.c ORDER BY lang""".stripMargin

  /** q266 — DELTA CHANGE DATA FEED ([[graft.sources.DeltaLog
    * .readChangeFeed]]): the typed row-level change stream the adds-only
    * CDC read cannot serve. Against a cloned q264 fixture: v1 enables
    * `delta.enableChangeDataFeed`, v2 is a DV DELETE (doc_id%3 — the
    * change files carry the deleted rows), v3 a MERGE (updates on
    * doc_id%5, inserts past max for doc_id%9; source rows whose %5
    * target was already deleted at v2 INSERT instead of matching). The
    * feed over (-1, 3] aggregates by (_change_type, _commit_version,
    * lang), pinning version attribution: v0's inserts DERIVE from plain
    * adds (no change files existed), v1 contributes nothing, v2's
    * deletes and v3's update_preimage/update_postimage/insert rows come
    * from the commits' own `_change_data` files. A feed that read DV'd
    * rows as live, re-announced already-deleted rows, attributed a
    * change to the wrong version, or mixed pre/post images breaks the
    * hash. At 100 TB this is how downstream state (materialized views,
    * sync targets, erasure propagation) tracks updates and deletes
    * without rescanning the table: per-version work is changes-sized.
    */
  def q266ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q264Fixture(spark, dir)}/delta", "q266", dir)
    DeltaLog.setTableProperties(delta,
      Map("delta.enableChangeDataFeed" -> "true"))            // v1
    DeltaLog.deleteWhere(spark, delta,
      pmod(col("doc_id"), lit(3)) === 0)                      // v2
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
    val source = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", concat(lit("U:"), col("text")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(mx + 1))
        .withColumn("text", concat(lit("I:"), col("text"))))
    val (v3, _, _) = DeltaLog.mergeInto(spark, delta, source, Seq("doc_id"))
    DeltaLog.readChangeFeed(spark, delta, -1L, v3)
      .groupBy(col("_change_type"), col("_commit_version"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).as("len_sum"))
      .orderBy(col("_change_type"), col("_commit_version"), col("lang"))
  }

  /** Oracle: the feed restated — v0 inserts are the whole table, v2
    * deletes are doc_id%3, v3 updates pair pre/post images on the
    * still-live %5 docs, v3 inserts are the %5∧%3 source rows (their
    * targets were deleted) plus the shifted %9 docs.
    */
  val q266Sql: String =
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      |feed AS (
      |  SELECT 'insert' AS ct, CAST(0 AS BIGINT) AS v, text, lang
      |  FROM documents
      |  UNION ALL
      |  SELECT 'delete', 2, text, lang FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', 3, text, lang
      |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT 'update_postimage', 3, 'U:' || text, lang
      |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT 'insert', 3, 'U:' || text, lang
      |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
      |  UNION ALL
      |  SELECT 'insert', 3, 'I:' || text, lang
      |  FROM documents WHERE doc_id % 9 = 0
      |)
      |SELECT ct AS _change_type, v AS _commit_version, lang,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum
      |FROM feed
      |GROUP BY ct, v, lang
      |ORDER BY ct, v, lang""".stripMargin

  /** q269 fixture root: the q266 history (clone q264 → enable CDF →
    * DV DELETE → MERGE) built ONCE per dir for the streaming consumer —
    * mutation happened at build time, so each bench run streams a frozen
    * log (the q239 honesty rule applied to a read-only consumer).
    */
  private def q269Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q269", dir) { _ =>
      import graft.sources.DeltaLog
      // the history's run root is touched only by this once-per-JVM build
      val delta = ReplayFixtures.cloneInto(
        s"${q264Fixture(spark, dir)}/delta", "q269hist", dir)
      DeltaLog.setTableProperties(delta,
        Map("delta.enableChangeDataFeed" -> "true"))
      DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(3)) === 0)
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
      val source = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", concat(lit("U:"), col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(mx + 1))
          .withColumn("text", concat(lit("I:"), col("text"))))
      DeltaLog.mergeInto(spark, delta, source, Seq("doc_id"))
      delta
    }

  /** q269 — the CHANGE DATA FEED AS A STREAM: [[graft.streaming
    * .DeltaStream]] with `readChangeFeed=true` tails the q266 history
    * one version per trigger, surfacing typed `_change_type` /
    * `_commit_version` rows — cdc change files read as published
    * (authoritative), cdc-less commits deriving inserts, all through the
    * same micro-batch source as q248 (offsets are versions, each batch
    * the batch feed's own frame, derived deletes honoring the removed
    * incarnation's deletion vector). The
    * accumulated sink must hash-match q266's batch-feed oracle exactly —
    * streamed and batch consumption of the same feed are provably the
    * same rows. This is the consumer loop a 100 TB deployment actually
    * runs: a continuously-running sync job paying changes-sized work per
    * trigger, exactly-once into a checkpointed sink.
    */
  def q269ChangeFeedStream(spark: SparkSession, dir: String): DataFrame = {
    val delta = q269Fixture(spark, dir)
    val base = ReplayFixtures.runRoot(dir, "q269")
    val ss = ReplayFixtures.replaySession(spark)
    val q = ss.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", delta)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    ss.read.parquet(s"$base/sink")
      .groupBy(col("_change_type"), col("_commit_version"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).as("len_sum"))
      .orderBy(col("_change_type"), col("_commit_version"), col("lang"))
  }

  /** q271 ingest side: the signature store built EXCLUSIVELY from the
    * q269 history's change data feed ([[Dedup.syncSigStoreFromFeed]]) —
    * the q267 loop on the dedup artifact.
    */
  private def q271Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q271", dir) { root =>
      import graft.sources.DeltaLog
      val delta = q269Fixture(spark, dir)
      val s = s"$root/sigstore"
      Dedup.syncSigStoreFromFeed(spark, s,
        DeltaLog.readChangeFeed(spark, delta, -1L, DeltaLog.currentVersion(delta)))
      s
    }

  /** q271 — CHANGE-FEED-DRIVEN DEDUP-STORE SYNC: q40's MinHash+LSH
    * candidate pairs recomputed from a signature store that tracked the
    * table only through its feed. The oracle restates q40 over the
    * feed-merged corpus — a sync that kept an erased doc's signature,
    * missed a re-insert, or served a stale pre-update signature (the
    * updated `U:` texts hash differently) surfaces as a wrong pair set.
    * With q267 this closes the loop for BOTH derived stores: row-level
    * table writes flow to retrieval and dedup artifacts at
    * changes-sized cost.
    */
  def q271FeedSigSync(spark: SparkSession, dir: String): DataFrame =
    Dedup.pairsFromIncremental(spark, q271Store(spark, dir))
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)

  // -----------------------------------------------------------------------
  // q273–q278: COLUMN-MAPPED tables as FIRST-CLASS WRITE TARGETS, the
  // DV-commit change feed, and the id-mode stream. The mapped fixtures are
  // authored FOREIGN-style (hand-written commit 0 with physical names and
  // mapping ids — the shape delta-spark leaves behind the moment anyone
  // renames a column); every verb under test is then the engine's own:
  // DELETE/MERGE retract via deletion vectors without touching the foreign
  // files, evolution MINTS fresh mapping ids, skipping prunes through the
  // PHYSICAL spelling of partitionValues and stats.
  // -----------------------------------------------------------------------

  private def mappedFieldMeta(id: Long, phys: String) =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()

  private def mappedDocsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = true,
        mappedFieldMeta(1, "col-d0001")),
      StructField("text", StringType, nullable = true,
        mappedFieldMeta(2, "col-t0002")),
      StructField("lang", StringType, nullable = true,
        mappedFieldMeta(3, "col-l0003"))))
  }

  /** Hand-author commit 0 of a NAME-mapped documents table — protocol 2/5
    * + a metaData whose schemaString carries the physical names and
    * mapping ids (maxColumnId pinned at 3, so the first evolution must
    * mint 4). No adds: the data arrives through the engine's own mapped
    * append, which writes the physical layout.
    */
  private def authorMappedDocsTable(root: String, partitioned: Boolean): Unit = {
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val pc = if (partitioned) """["lang"]""" else "[]"
    val meta =
      """{"metaData":{"id":"mapped-docs","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(mappedDocsSchema.json)},""" +
        s""""partitionColumns":$pc,""" +
        """"configuration":{"delta.columnMapping.mode":"name",""" +
        """"delta.columnMapping.maxColumnId":"3"}}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""", meta)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  /** q273 fixture: the mapped-table twin of [[q264Fixture]] — a foreign
    * NAME-mapped header, then the documents table appended through the
    * engine's mapped write path as four physical-named files.
    */
  private[graft] def q273Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q273", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      authorMappedDocsTable(s"$root/delta", partitioned = false)
      DeltaLog.commitAppend(s"$root/delta",
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
          .repartition(4))
      ()
    }

  /** Clone the q273 mapped fixture into a per-run scratch root (hard
    * links — the q239 honesty rule: every run pays the real verb).
    */
  private def clonedMappedDocs(spark: SparkSession, dir: String,
      runName: String): String =
    ReplayFixtures.cloneInto(s"${q273Fixture(spark, dir)}/delta", runName, dir)

  /** q273 — DELETION-VECTOR DELETE ON A COLUMN-MAPPED TABLE: exactly
    * q264's two overlapping DELETEs, against a table whose data files
    * spell physical names. The hit scan binds the physical schema and
    * projects back to logical (the predicate is written logically), the
    * DV pairs re-publish the SAME foreign-shaped files, and the audits
    * pin the contract: `files_live` proves no data file was rewritten,
    * `rows_v0` time-travels through the pre-delete mapped snapshot. This
    * is the interop hole a real 100 TB user hits first — a renamed
    * column makes every delta-spark table mapped, and GDPR erasure must
    * still run.
    */
  def q273MappedDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = clonedMappedDocs(spark, dir, "q273")
    val filesBefore = DeltaLog.snapshotFiles(spark, delta).toSet
    val (_, del1) = DeltaLog.deleteWhere(spark, delta,
      pmod(col("doc_id"), lit(3)) === 0)
    val (v2, del2) = DeltaLog.deleteWhere(spark, delta,
      pmod(col("doc_id"), lit(2)) === 0)
    val filesAfter = DeltaLog.snapshotFiles(spark, delta, Some(v2)).toSet
    val filesLive =
      if (filesAfter == filesBefore) filesAfter.size.toLong else -1L
    // v1 is the append (v0 is the foreign header) — the pre-delete state
    val rowsV0 = DeltaLog.read(spark, delta, Some(1L)).count()
    DeltaLog.read(spark, delta, Some(v2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("deleted_1", lit(del1))
      .withColumn("deleted_2", lit(del2))
      .withColumn("files_live", lit(filesLive))
      .withColumn("rows_v0", lit(rowsV0))
      .orderBy(col("lang"))
  }

  /** Oracle: q264's, verbatim — the mapped table must behave bit-for-bit
    * like the plain one under the same verbs.
    */
  val q273Sql: String = q264Sql

  /** q274 — MERGE INTO A COLUMN-MAPPED TABLE: q265's upsert against the
    * mapped fixture — matched targets retract via DVs (foreign files
    * kept), the source lands as fresh PHYSICAL-named files
    * indistinguishable from the foreign ones. `old_files_kept` pins the
    * no-rewrite contract across the mapping.
    */
  def q274MappedMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = clonedMappedDocs(spark, dir, "q274")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
    val source = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", concat(lit("U:"), col("text")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(mx + 1))
        .withColumn("text", concat(lit("I:"), col("text"))))
    val filesBefore = DeltaLog.snapshotFiles(spark, delta).toSet
    val (v, matched, inserted) =
      DeltaLog.mergeInto(spark, delta, source, Seq("doc_id"))
    val filesAfter = DeltaLog.snapshotFiles(spark, delta, Some(v)).toSet
    val kept =
      if (filesBefore.subsetOf(filesAfter)) filesBefore.size.toLong else -1L
    DeltaLog.read(spark, delta, Some(v))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("matched", lit(matched))
      .withColumn("inserted", lit(inserted))
      .withColumn("old_files_kept", lit(kept))
      .orderBy(col("lang"))
  }

  /** Oracle: q265's, verbatim. */
  val q274Sql: String = q265Sql

  /** q275 — SCHEMA EVOLUTION ON A MAPPED TABLE (add-column MINTING): an
    * append carrying a new `score` column into the mapped fixture mints
    * mapping id 4 (continuing `delta.columnMapping.maxColumnId`) with a
    * fresh `col-<uuid>` physical name, in the same commit as the files.
    * The read-back unions pre-evolution files (score null-fills) with the
    * new physical-named ones; `mint_ok` pins the minted id/physicalName
    * and the advanced counter. A writer that re-used an id, bound the new
    * column by name, or dropped the old files' rows breaks the hash.
    */
  def q275MappedEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = clonedMappedDocs(spark, dir, "q275")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
    val extra = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(mx + 1))
      .withColumn("score", length(col("text")).cast("long"))
    val v = DeltaLog.commitAppend(delta, extra)
    val sf = DeltaLog.latestSchema(delta)("score")
    val mintOk =
      DeltaLog.latestColumnMappingMode(delta) == "name" &&
        sf.metadata.contains("delta.columnMapping.id") &&
        sf.metadata.getLong("delta.columnMapping.id") == 4L &&
        sf.metadata.getString("delta.columnMapping.physicalName")
          .startsWith("col-") &&
        sf.metadata.getString("delta.columnMapping.physicalName") != "score"
    DeltaLog.read(spark, delta, Some(v))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"),
        sum(when(col("score").isNull, 1L).otherwise(0L)).as("score_nulls"),
        coalesce(sum(col("score")), lit(0L)).as("score_sum"))
      .withColumn("mint_ok", lit(if (mintOk) 1L else 0L))
      .orderBy(col("lang"))
  }

  /** Oracle: the table ∪ the shifted %7 slice; pre-evolution rows are
    * exactly the null-score ones, the new rows' score is length(text).
    */
  val q275Sql: String =
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      |merged AS (
      |  SELECT doc_id, text, lang, CAST(NULL AS BIGINT) AS score
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + mx.m + 1, text, lang, CAST(length(text) AS BIGINT)
      |  FROM documents, mx WHERE doc_id % 7 = 0
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(sum(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS score_nulls,
      |  CAST(coalesce(sum(score), 0) AS BIGINT) AS score_sum,
      |  CAST(1 AS BIGINT) AS mint_ok
      |FROM merged
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q276 fixture: a PARTITIONED mapped table (layout column `lang`,
    * physical directories `col-l0003=…`) written as two commits split at
    * doc_id ≤ mx/2 — one file per (lang, commit), so partition pruning
    * and stats pruning each have an exact, deterministic file set.
    */
  private[graft] def q276Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q276", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      authorMappedDocsTable(s"$root/delta", partitioned = true)
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      DeltaLog.commitAppend(s"$root/delta",
        docs.filter(col("doc_id") <= mid).repartition(col("lang")))
      DeltaLog.commitAppend(s"$root/delta",
        docs.filter(col("doc_id") > mid).repartition(col("lang")))
      ()
    }

  /** q276 — DATA SKIPPING THROUGH THE MAPPING: a selective read of the
    * partitioned mapped table where BOTH pruning tiers must translate
    * logical names to physical before touching file metadata — the
    * partition tier (add actions' partitionValues are keyed
    * `col-l0003`), and the stats tier (footer-derived envelopes name
    * `col-d0001`). `files_read` = 1 pins both: the lang partition prunes
    * every other language's files exactly, the doc_id envelope prunes
    * the upper-half commit. Without the translation the engine silently
    * reads everything — correct rows, 100 TB cost.
    */
  def q276MappedSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q276Fixture(spark, dir)}/delta"
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val pred = col("lang") === "en" && col("doc_id") <= mid
    val filesRead = DeltaLog.filesMatching(spark, delta, pred).size.toLong
    val filesTotal = DeltaLog.snapshotFiles(spark, delta).size.toLong
    DeltaLog.readWhere(spark, delta, pred)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("files_read", lit(filesRead))
      .withColumn("files_total", lit(filesTotal))
      .orderBy(col("lang"))
  }

  /** Oracle: the low-half en slice; files_total restates one file per
    * (lang, half) and files_read the single (en, low) survivor.
    */
  val q276Sql: String =
    """WITH mx AS (SELECT max(doc_id) // 2 AS mid FROM documents),
      |lo AS (SELECT count(DISTINCT lang) AS c FROM documents, mx
      |       WHERE doc_id <= mx.mid),
      |hi AS (SELECT count(DISTINCT lang) AS c FROM documents, mx
      |       WHERE doc_id > mx.mid)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(1 AS BIGINT) AS files_read,
      |  CAST(lo.c + hi.c AS BIGINT) AS files_total
      |FROM documents, mx, lo, hi
      |WHERE lang = 'en' AND doc_id <= mx.mid
      |GROUP BY lang, lo.c, hi.c ORDER BY lang""".stripMargin

  /** q277 — DV-COMMIT RETRACTIONS THROUGH THE CHANGE-FEED STREAM: a
    * deletion-vector DELETE lands on a table that NEVER enabled the
    * change data feed (no change files exist), and the feed stream must
    * DERIVE the retraction — the {remove(P, oldDv), add(P, newDv)} pair
    * resolves to exactly the rows at positions newDv \ oldDv, decoded
    * and diffed ON THE EXECUTOR (the batch feed's DV-rewrite frame). Before
    * round 17 this commit shape stopped every incremental consumer (the
    * store syncs all ride the feed); now one DELETE on an un-instrumented
    * table feeds downstream state its exact change set. The second
    * DELETE overlaps the first, so a reader that emitted the full new DV
    * (not the diff) double-announces and breaks the hash.
    */
  def q277DvFeedStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q264Fixture(spark, dir)}/delta", "q277", dir)
    val base = ReplayFixtures.runRootFor(dir, "q277")
    DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(3)) === 0) // v1
    DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(2)) === 0) // v2
    val ss = ReplayFixtures.replaySession(spark)
    val q = ss.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", delta)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    ss.read.parquet(s"$base/sink")
      .groupBy(col("_change_type"), col("_commit_version"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).as("len_sum"))
      .orderBy(col("_change_type"), col("_commit_version"), col("lang"))
  }

  /** Oracle: v0 inserts the whole table; v1 deletes the %3 rows; v2
    * deletes the %2 rows NOT already deleted at v1 (the DV diff).
    */
  val q277Sql: String =
    """WITH feed AS (
      |  SELECT 'insert' AS ct, CAST(0 AS BIGINT) AS v, text, lang
      |  FROM documents
      |  UNION ALL
      |  SELECT 'delete', 1, text, lang FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT 'delete', 2, text, lang
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
      |)
      |SELECT ct AS _change_type, v AS _commit_version, lang,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum
      |FROM feed
      |GROUP BY ct, v, lang
      |ORDER BY ct, v, lang""".stripMargin

  /** q278 fixture: an 'id'-mode mapped table whose foreign data file
    * spells column names matching NEITHER the logical nor the recorded
    * physical names — only the parquet FIELD IDS bind it (the true
    * id-mode shape) — plus one append through the engine's own mapped
    * writer (physical names + stamped ids).
    */
  private[graft] def q278Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q278", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      import org.apache.spark.sql.types._
      val tbl = s"$root/delta"
      val jm = new com.fasterxml.jackson.databind.ObjectMapper()
      val logical = StructType(Seq(
        StructField("doc_id", LongType, nullable = true,
          mappedFieldMeta(1, "col-a0001")),
        StructField("lang", StringType, nullable = true,
          mappedFieldMeta(2, "col-b0002"))))
      def idMeta(id: Long) = new MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      val fileSchema = StructType(Seq(
        StructField("weird_x", LongType, nullable = true, idMeta(1)),
        StructField("weird_y", StringType, nullable = true, idMeta(2))))
      // Spark's write default stamps parquet.field.id metadata into the
      // footer — no session conf needed
      val sz = ReplayFixtures.moveInParquet(
        Tables(spark, dir, "documents").filter(col("doc_id") < 40)
          .select(col("doc_id").as("weird_x"), col("lang").as("weird_y"))
          .select(fileSchema.fields.map(f =>
            col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*),
        tbl, "f1.parquet")
      val logDir = java.nio.file.Paths.get(tbl, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      val meta =
        """{"metaData":{"id":"idmode-docs","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jm.writeValueAsString(logical.json)},""" +
          """"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id",""" +
          """"delta.columnMapping.maxColumnId":"2"}}}"""
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
        Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          meta,
          s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
            """"modificationTime":0,"dataChange":true}}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      DeltaLog.commitAppend(tbl,
        Tables(spark, dir, "documents")
          .filter(col("doc_id") >= 40 && col("doc_id") < 80)
          .select(col("doc_id"), col("lang")))
      ()
    }

  /** q278 — STREAMING AN 'id'-MODE TABLE: the stream's batches are the
    * batch read, which binds each column by the file footer's parquet
    * FIELD ID (the foreign file's names match nothing — a name bind
    * would null-fill every row), falling back to physical-name matching
    * on id-less files. Both
    * commits stream; the aggregate restates the two slices. Before
    * round 17 id-mode tables refused to stream; now the stream serves
    * the same rows the batch field-id read does.
    */
  def q278IdModeStream(spark: SparkSession, dir: String): DataFrame = {
    val delta = s"${q278Fixture(spark, dir)}/delta"
    val base = ReplayFixtures.runRoot(dir, "q278")
    val ss = ReplayFixtures.replaySession(spark)
    val q = ss.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", delta)
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    ss.read.parquet(s"$base/sink")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  /** Oracle: the doc_id < 80 slice — wrong-column binding (null doc_ids
    * or shuffled langs) breaks both aggregates.
    */
  val q278Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents WHERE doc_id < 80
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q280 fixture: a 32-version history — the documents table appended in
    * THIRTY per-bucket commits (doc_id % 30, so every version holds rows
    * and the version tag is oracle-derivable), then two overlapping
    * deletion-vector DELETEs (v30, v31). The catch-up shape a derived
    * store reads after a day offline.
    */
  private[graft] def q280Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q280", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val delta = s"$root/delta"
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      (0 until 30).foreach { b =>
        DeltaLog.commitAppend(delta,
          docs.filter(pmod(col("doc_id"), lit(30)) === b))
      }
      DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(7)) === 3) // v30
      DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(5)) === 2) // v31
      ()
    }

  /** q280 — CHANGE-FEED CATCH-UP over a 32-version history in ONE read:
    * the consumer shape [[graft.sources.DeltaLog.readChangeFeed]]'s
    * grouped plan exists for — a derived store syncing after thousands
    * of missed commits must plan O(1) scans (one grouped fresh-add scan
    * + one distinct-DV-rewritten-path scan + broadcast version
    * decoration), not a per-version union; the PlanSpec gate pins that
    * shape on this exact history. `sum(_commit_version)` makes the
    * oracle version-sensitive: a feed that mis-attributes a row's commit
    * (or re-announces an already-deleted row at v31) breaks the hash.
    */
  def q280FeedCatchup(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q280Fixture(spark, dir)}/delta"
    DeltaLog.readChangeFeed(spark, delta, -1L, DeltaLog.currentVersion(delta))
      .groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).as("len_sum"),
        sum(col("_commit_version")).as("v_sum"))
      .orderBy(col("_change_type"), col("lang"))
  }

  /** Oracle: inserts land at version doc_id % 30; v30 deletes the %7=3
    * rows; v31 deletes the %5=2 rows NOT already deleted (the DV diff).
    */
  val q280Sql: String =
    """WITH feed AS (
      |  SELECT 'insert' AS ct, CAST(doc_id % 30 AS BIGINT) AS v, text, lang
      |  FROM documents
      |  UNION ALL
      |  SELECT 'delete', 30, text, lang FROM documents WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT 'delete', 31, text, lang
      |  FROM documents WHERE doc_id % 5 = 2 AND doc_id % 7 <> 3
      |)
      |SELECT ct AS _change_type, lang,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(sum(v) AS BIGINT) AS v_sum
      |FROM feed
      |GROUP BY ct, lang
      |ORDER BY ct, lang""".stripMargin

  /** q281 fixture: a FOREIGN table gated behind the `timestampNtz`
    * reader feature (minReaderVersion 3) — schema (doc_id, ts
    * timestamp_ntz, tlen), one Spark-written data file whose ts is the
    * deterministic `2024-01-01 + doc_id minutes` wall time.
    */
  private[graft] def q281Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q281", Seq("documents")) { root =>
      import org.apache.spark.sql.types._
      val tbl = s"$root/delta"
      val jm = new com.fasterxml.jackson.databind.ObjectMapper()
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = true),
        StructField("ts", TimestampNTZType, nullable = true),
        StructField("tlen", LongType, nullable = true)))
      val sz = ReplayFixtures.moveInParquet(
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            expr("timestampadd(MINUTE, doc_id, " +
              "to_timestamp_ntz('2024-01-01 00:00:00'))").as("ts"),
            length(col("text")).cast("long").as("tlen")),
        tbl, "f1.parquet")
      val logDir = java.nio.file.Paths.get(tbl, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""" + "\n" +
        """{"metaData":{"id":"ntz-docs","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jm.writeValueAsString(schema.json)},""" +
          """"partitionColumns":[],"configuration":{}}}""" + "\n" +
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
          """"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
      ()
    }

  /** q281 — TIMESTAMP-NTZ FOREIGN TABLE READ: the `timestampNtz` reader
    * feature admitted end-to-end — the feature-listed protocol passes
    * the refusal gate, the batch scan surfaces the zoneless leaf type,
    * and the day-grain aggregate restates wall-time arithmetic a
    * session-timezone shift would break (the type's whole point: the
    * same bytes read identically in every timezone). Before round 18
    * one NTZ column made a table fully unreadable here.
    */
  def q281NtzForeignRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q281Fixture(spark, dir)}/delta"
    DeltaLog.read(spark, delta)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tlen")).as("len_sum"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"))
      .orderBy(col("hr"))
  }

  /** Oracle: the same wall-time derivation in DuckDB (naive TIMESTAMP —
    * DuckDB's TIMESTAMP is zoneless, exactly NTZ's semantics).
    */
  val q281Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts,
      |    CAST(length(text) AS BIGINT) AS tlen
      |  FROM documents)
      |SELECT date_trunc('hour', ts) AS hr,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(tlen) AS BIGINT) AS len_sum,
      |  min(ts) AS ts_min, max(ts) AS ts_max
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Author a v2-spec checkpoint at `v` for `root`: the live adds moved
    * into a sidecar parquet under `_delta_log/_sidecars/`, the manifest
    * (parquet or JSON lines) carrying protocol (readerFeatures
    * [v2Checkpoint]) + metaData + the `sidecar` pointer — the layout
    * recent delta-spark writers leave behind. Shared by the q282 fixture
    * and SourcesSpec's round-trip gates.
    */
  private[graft] def authorV2Checkpoint(spark: SparkSession, root: String,
      v: Long, jsonManifest: Boolean): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    // LIVE set at v: adds accumulate BY PATH, removes retract — a
    // checkpoint is the reconciled state, not the add history
    val liveAdds = new java.util.LinkedHashMap[String, String]()
    var metaStr: String = null
    (0L to v).foreach { i =>
      java.nio.file.Files.readAllLines(logDir.resolve(f"$i%020d.json"))
        .forEach { line =>
          if (line.nonEmpty) {
            val n = jm.readTree(line)
            if (n.has("add")) {
              liveAdds.put(n.get("add").get("path").asText(),
                n.get("add").toString); ()
            } else if (n.has("remove")) {
              liveAdds.remove(n.get("remove").get("path").asText()); ()
            } else if (n.has("metaData")) metaStr = n.get("metaData").toString
          }
        }
    }
    val addStrs = {
      import scala.jdk.CollectionConverters._
      liveAdds.values().asScala.toSeq
    }
    val fAdd = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val scSchema = StructType(Seq(StructField("add", fAdd)))
    val addRows = addStrs.map { s =>
      val a = jm.readTree(s)
      // partitionValues COPIED THROUGH, not blanked: a checkpoint that
      // drops them reconstructs a partitioned table's files as
      // unpartitioned — null partition columns, broken pruning
      val pv: Map[String, String] =
        if (a.has("partitionValues") && !a.get("partitionValues").isNull) {
          import scala.jdk.CollectionConverters._
          a.get("partitionValues").properties().asScala
            .map(e => e.getKey -> (if (e.getValue.isNull) null
              else e.getValue.asText())).toMap
        } else Map.empty[String, String]
      Row(Row(a.get("path").asText(), pv,
        if (a.has("size")) a.get("size").asLong() else 0L, true,
        if (a.has("stats") && !a.get("stats").isNull) a.get("stats").asText()
        else null))
    }
    val scName = "sc-0001.parquet"
    val scSize = ReplayFixtures.moveInParquet(
      spark.createDataFrame(spark.sparkContext.parallelize(addRows, 1), scSchema),
      root, s"_delta_log/_sidecars/$scName")
    val protoStr =
      """{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}"""
    val uuid = "aaaa1111-2222-3333-4444-555566667777"
    if (jsonManifest) {
      java.nio.file.Files.write(
        logDir.resolve(f"$v%020d.checkpoint.$uuid%s.json"), (
        s"""{"protocol":$protoStr}""" + "\n" +
        s"""{"metaData":$metaStr}""" + "\n" +
        s"""{"sidecar":{"path":"$scName","sizeInBytes":$scSize,"modificationTime":0}}""" +
        "\n").getBytes("UTF-8"))
      ()
    } else {
      val meta = jm.readTree(metaStr)
      val fProto = StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))
      val fMeta = StructType(Seq(StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))
      val fSidecar = StructType(Seq(StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))
      val mSchema = StructType(Seq(StructField("protocol", fProto),
        StructField("metaData", fMeta), StructField("sidecar", fSidecar)))
      // partitionColumns / configuration carried from the source
      // metaData (the JSON branch inherits metaStr whole; the parquet
      // row must not silently flatten a partitioned table)
      val metaPc: Seq[String] = {
        import scala.jdk.CollectionConverters._
        Option(meta.get("partitionColumns")).toSeq
          .flatMap(_.elements().asScala.map(_.asText()))
      }
      val metaConf: Map[String, String] = {
        import scala.jdk.CollectionConverters._
        Option(meta.get("configuration")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty)
      }
      val rows = Seq(
        Row(Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null),
        Row(null, Row(meta.get("id").asText(),
          meta.get("schemaString").asText(), metaPc, metaConf), null),
        Row(null, null, Row(scName, scSize, 0L)))
      ReplayFixtures.moveInParquet(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), mSchema),
        root, f"_delta_log/$v%020d.checkpoint.$uuid%s.parquet")
      ()
    }
  }

  /** q282 fixture: two appends (residues 0,1 of doc_id mod 3), a v2
    * checkpoint at v1 with the JSON commits TRIMMED (retention: the
    * checkpoint is the only carrier of v0/v1 state), then a tail append
    * of residue 2.
    */
  private[graft] def q282Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q282", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val delta = s"$root/delta"
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(3)) === 0))
      DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(3)) === 1))
      authorV2Checkpoint(spark, delta, 1L, jsonManifest = false)
      val logDir = java.nio.file.Paths.get(delta, "_delta_log")
      java.nio.file.Files.delete(logDir.resolve(f"${0L}%020d.json"))
      java.nio.file.Files.delete(logDir.resolve(f"${1L}%020d.json"))
      DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(3)) === 2))
      ()
    }

  /** q282 — V2-CHECKPOINT TABLE READ: replay through the manifest +
    * sidecar layout (the `v2Checkpoint` reader feature) on a table whose
    * pre-checkpoint JSON history is GONE — the checkpoint is the only
    * carrier of two thirds of the rows, and the post-checkpoint tail
    * commit composes on top. A reader that ignored the sidecar, the
    * manifest's metaData, or the tail misses rows and breaks the hash.
    * Before round 18 this layout refused outright.
    */
  def q282V2CheckpointRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q282Fixture(spark, dir)}/delta"
    DeltaLog.read(spark, delta)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .orderBy(col("lang"))
  }

  /** Oracle: all three residues = the full documents table. */
  val q282Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q283 fixture (shared, immutable): four appends (doc_id mod 5
    * residues 0..3) then a DV DELETE of the %7 subjects — a history the
    * default v0-replay stream CANNOT serve (the DV commit refuses the
    * adds-only path), so only the snapshot bootstrap reads it.
    */
  private[graft] def q283Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q283", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val delta = s"$root/delta"
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      (0 until 4).foreach { r =>
        DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(5)) === r))
      }
      DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(7)) === 0)
      ()
    }

  /** q283 — STREAM BOOTSTRAP FROM THE LATEST SNAPSHOT
    * (`startingVersion=latest`): batch zero is the PINNED snapshot (DV
    * survivors only — the delete never re-announces), then a post-pin
    * append tails through a RESTARTED query from the same checkpoint —
    * the new-consumer shape that makes a long-history table cost one
    * snapshot pass instead of a commit-by-commit replay (which this
    * history refuses anyway: it ends in a DV commit).
    */
  def q283StreamLatestStart(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q283Fixture(spark, dir)}/delta", "q283", dir)
    val base = ReplayFixtures.runRootFor(dir, "q283")
    val ss = ReplayFixtures.replaySession(spark)
    def drain(): Unit = {
      val q = ss.readStream
        .format(classOf[graft.streaming.DeltaStream].getName)
        .option("path", delta)
        .option("startingVersion", "latest")
        .option("maxVersionsPerTrigger", 1L)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/sink")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // batch zero: the pinned snapshot
    DeltaLog.commitAppend(delta, Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .filter(pmod(col("doc_id"), lit(5)) === 4))
    drain() // restart: tails ONLY the post-pin commit
    ss.read.parquet(s"$base/sink")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .orderBy(col("lang"))
  }

  /** Oracle: the snapshot's DV survivors (%5 in 0..3, %7 <> 0) plus the
    * post-pin %5=4 slice (appended AFTER the delete, so its %7 rows
    * live).
    */
  val q283Sql: String =
    """WITH rows_seen AS (
      |  SELECT text, lang FROM documents
      |  WHERE doc_id % 5 < 4 AND doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT text, lang FROM documents WHERE doc_id % 5 = 4
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum
      |FROM rows_seen GROUP BY lang ORDER BY lang""".stripMargin

  /** q284 — MAPPED RENAME + DROP AS FIRST-CLASS VERBS: two metaData-only
    * RENAMEs (text→body, lang→language — physicalName/id fixed, zero
    * files rewritten, old AND new files bind), an append under the
    * renamed names (binds the SAME mapping, no re-mint), an evolution
    * minting `score`, then DROP of the minted column (readers stop
    * binding it; its bytes stay until a rewrite). `schema_ok` pins the
    * mapping invariants — a rename that re-minted, a drop that
    * resurrected, or an append that minted a duplicate breaks it.
    * Before round 18 self-owned mapped tables refused these verbs.
    */
  def q284MappedRenameDrop(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = clonedMappedDocs(spark, dir, "q284")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
    DeltaLog.renameColumn(delta, "text", "body")                       // v2
    DeltaLog.commitAppend(delta, docs.filter(pmod(col("doc_id"), lit(9)) === 0)
      .select((col("doc_id") + lit(mx + 1)).as("doc_id"),
        concat(lit("R:"), col("text")).as("body"), col("lang")))       // v3
    DeltaLog.renameColumn(delta, "lang", "language")                   // v4
    DeltaLog.commitAppend(delta, docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + lit(2L * (mx + 1))).as("doc_id"),
        concat(lit("S:"), col("text")).as("body"),
        col("lang").as("language"),
        length(col("text")).cast("long").as("score")))                 // v5: mint
    DeltaLog.dropColumns(delta, Seq("score"))                          // v6
    val sch = DeltaLog.latestSchema(delta)
    val schemaOk =
      sch.fieldNames.toSeq == Seq("doc_id", "body", "language") &&
        sch("body").metadata.getString(
          "delta.columnMapping.physicalName") == "col-t0002" &&
        sch("body").metadata.getLong("delta.columnMapping.id") == 2L &&
        sch("language").metadata.getString(
          "delta.columnMapping.physicalName") == "col-l0003"
    DeltaLog.read(spark, delta)
      .groupBy(col("language"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("body"))).as("len_sum"))
      .withColumn("schema_ok", lit(if (schemaOk) 1L else 0L))
      .orderBy(col("language"))
  }

  /** Oracle: the table ∪ the two shifted slices under the renamed
    * spellings; the dropped column never surfaces.
    */
  val q284Sql: String =
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      |merged AS (
      |  SELECT text AS body, lang AS language FROM documents
      |  UNION ALL
      |  SELECT 'R:' || text, lang FROM documents, mx WHERE doc_id % 9 = 0
      |  UNION ALL
      |  SELECT 'S:' || text, lang FROM documents, mx WHERE doc_id % 10 = 0
      |)
      |SELECT language, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(body)) AS BIGINT) AS len_sum,
      |  CAST(1 AS BIGINT) AS schema_ok
      |FROM merged GROUP BY language ORDER BY language""".stripMargin

  /** q287 fixture: a foreign table whose schema was TYPE-WIDENED after
    * its first file — f1 carries the NARROW physical types (k INT32,
    * score FLOAT, d DATE) under the v0 schema; v1 commits a metaData
    * whose schemaString is the WIDE spelling (k BIGINT, score DOUBLE,
    * d TIMESTAMP_NTZ) plus f2 written wide. The `typeWidening` reader
    * feature's contract: old files' narrow values read as the wide type
    * (lossless promotions only) — refusing the table, or re-reading f1
    * as-written, both lose.
    */
  private[graft] def q287Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q287", Seq("documents")) { root =>
      import org.apache.spark.sql.types._
      val tbl = s"$root/delta"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tbl))
      val jm = new com.fasterxml.jackson.databind.ObjectMapper()
      def moveIn(df: DataFrame, name: String): Long =
        ReplayFixtures.moveInParquet(df, tbl, name)
      val docs = Tables(spark, dir, "documents")
      val sz1 = moveIn(docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").cast("int").as("k"),
          length(col("text")).cast("float").as("score"),
          expr("date_add(date'2024-01-01', cast(doc_id % 300 as int))")
            .as("d")), "f1.parquet")
      val sz2 = moveIn(docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id").as("k"),
          length(col("text")).cast("double").as("score"),
          expr("timestampadd(MINUTE, doc_id, " +
            "to_timestamp_ntz('2024-01-01 00:00:00'))").as("d")), "f2.parquet")
      val narrow = StructType(Seq(
        StructField("k", IntegerType), StructField("score", FloatType),
        StructField("d", DateType)))
      val wide = StructType(Seq(
        StructField("k", LongType), StructField("score", DoubleType),
        StructField("d", TimestampNTZType)))
      def metaOf(s: StructType) =
        """{"metaData":{"id":"widen-docs","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jm.writeValueAsString(s.json)},""" +
          """"partitionColumns":[],"configuration":{}}}"""
      val logDir = java.nio.file.Paths.get(tbl, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["timestampNtz","typeWidening"],""" +
          """"writerFeatures":["timestampNtz","typeWidening"]}}""" + "\n" +
        metaOf(narrow) + "\n" +
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,""" +
          """"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
      java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"), (
        metaOf(wide) + "\n" +
        s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$sz2,""" +
          """"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
      ()
    }

  /** q287 — TYPE-WIDENED FOREIGN TABLE READ: the pre-widen file's INT32/
    * FLOAT/DATE values surface as BIGINT/DOUBLE/TIMESTAMP_NTZ (dates at
    * midnight) beside the post-widen file, one schema, one scan. Before
    * round 18 the `typeWidening` feature made the table fully unreadable
    * here; mis-handling (re-reading f1 narrow, or null-filling) breaks
    * every aggregate below.
    */
  def q287TypeWideningRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q287Fixture(spark, dir)}/delta"
    DeltaLog.read(spark, delta)
      .groupBy(pmod(col("k"), lit(2)).as("par"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("k")).as("k_sum"),
        sum(col("score")).as("score_sum"),
        min(col("d")).as("d_min"),
        max(col("d")).as("d_max"))
      .orderBy(col("par"))
  }

  /** Oracle: both halves re-derived from `documents` in DuckDB, the
    * even half's DATE re-spelled as its midnight naive timestamp (the
    * date→timestampNTZ promotion's defined value). Lengths are exact
    * small integers, so the float→double promotion and the sum are
    * bit-exact.
    */
  val q287Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN TIMESTAMP '2024-01-01 00:00:00'
      |        + to_days(CAST(doc_id % 300 AS INT))
      |      ELSE TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) END AS d,
      |    CAST(length(text) AS DOUBLE) AS score
      |  FROM documents)
      |SELECT CAST(doc_id % 2 AS BIGINT) AS par,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS k_sum,
      |  sum(score) AS score_sum,
      |  min(d) AS d_min, max(d) AS d_max
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** q288 fixture: a foreign table carrying a VARIANT column (the
    * `variantType` reader feature, minReaderVersion 3) — semi-structured
    * values stored as the parquet VARIANT group (metadata+value
    * binaries), the open-format spelling of a JSON column that needs no
    * per-row re-parse. Schema (doc_id BIGINT, v VARIANT) where v packs
    * {doc_id, lang, tlen} parsed from JSON.
    */
  private[graft] def q288Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q288", Seq("documents")) { root =>
      import org.apache.spark.sql.types._
      val tbl = s"$root/delta"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tbl))
      val jm = new com.fasterxml.jackson.databind.ObjectMapper()
      val sz = ReplayFixtures.moveInParquet(
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            parse_json(to_json(struct(col("doc_id"), col("lang"),
              length(col("text")).cast("long").as("tlen")))).as("v")),
        tbl, "f1.parquet")
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = true),
        StructField("v", VariantType, nullable = true)))
      val logDir = java.nio.file.Paths.get(tbl, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["variantType-preview"],""" +
          """"writerFeatures":["variantType-preview"]}}""" + "\n" +
        """{"metaData":{"id":"variant-docs","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jm.writeValueAsString(schema.json)},""" +
          """"partitionColumns":[],"configuration":{}}}""" + "\n" +
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
          """"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
      ()
    }

  /** q288 — VARIANT FOREIGN TABLE READ: the `variantType` reader feature
    * admitted — typed extraction (`variant_get`) over the binary-encoded
    * semi-structured column, no per-row JSON re-parse in the plan.
    * Before round 18 one variant column made the table unreadable here.
    * The stream serves the same frame, so the column streams too.
    */
  def q288VariantRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q288Fixture(spark, dir)}/delta"
    DeltaLog.read(spark, delta)
      .groupBy(expr("variant_get(v, '$.lang', 'string')").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("variant_get(v, '$.tlen', 'long')")).as("len_sum"),
        min(col("doc_id")).as("doc_min"))
      .orderBy(col("lang"))
  }

  /** Oracle: the packed fields re-derived from `documents` directly. */
  val q288Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  min(doc_id) AS doc_min
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q246 fixture: a Delta history with OPTIMIZE commits INTERLEAVED
    * between appends — the shape an incremental consumer actually tails.
    * Versions: v0..v1 append residues 0..1 (mod 5), v2 = OPTIMIZE,
    * v3..v4 append residues 2..3, v5 = OPTIMIZE, v6 appends residue 4 —
    * so the appended rows across the whole history are exactly the full
    * documents table, and the two rewrite commits re-house rows 0..3.
    */
  private[graft] def q246Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q246", Seq("documents")) { root =>
      import graft.sources.DeltaLog
      val delta = s"$root/delta"
      val d = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      def app(r: Int): Unit = {
        DeltaLog.commitAppend(delta,
          d.filter(pmod(col("doc_id"), lit(5)) === r).repartition(3)); ()
      }
      app(0); app(1)
      DeltaLog.commitOptimize(spark, delta)
      app(2); app(3)
      DeltaLog.commitOptimize(spark, delta)
      app(4)
    }

  /** q246 — INCREMENTAL DELTA CONSUMPTION (CDC-read): tail the commit
    * log with [[graft.sources.DeltaLog.changesSince]] in two resumable
    * cursor hops (−1→3, 3→latest) and aggregate the union. The log holds
    * two `dataChange=false` OPTIMIZE commits whose adds re-house rows the
    * consumer already ingested — a reader that processed them would
    * double-count residues 0..3, so the oracle (the PLAIN documents
    * restatement) breaks unless the flag is honored and the cursor seam
    * neither drops nor replays a commit. This is the executable meaning
    * of q245's protocol flag, and the Delta-as-stream-source contract
    * (offsets = versions, work = changes-sized).
    */
  def q246DeltaChanges(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q246Fixture(spark, dir)}/delta"
    val cursor = 3L // resume seam: mid-history, straddling the first OPTIMIZE
    val firstHop = DeltaLog.changesSince(spark, delta, -1L, Some(cursor))
    val secondHop = DeltaLog.changesSince(spark, delta, cursor)
    firstHop.unionByName(secondHop)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("last_version", lit(DeltaLog.currentVersion(delta)))
      .orderBy(col("lang"))
  }

  /** Oracle: honoring dataChange=false makes the accumulated stream
    * exactly the documents table (the five residues partition it); the
    * version constant pins the 7-commit history shape.
    */
  val q246Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  CAST(6 AS BIGINT) AS last_version
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q248 — DELTA AS A STREAM SOURCE: the q246 commit history consumed
    * through the engine's own micro-batch machinery via
    * [[graft.streaming.DeltaStream]] (offsets = log versions, each
    * micro-batch DeltaLog's batch frame for its version range) into a
    * checkpointed parquet sink. `maxVersionsPerTrigger = 2` forces the
    * seven versions through four real triggers, two of which straddle the
    * history's `dataChange=false` OPTIMIZE commits — a source that
    * ingested their adds would double-count residues 0..3 and break the
    * plain documents oracle, same contract as q246 but enforced by the
    * engine's replay/checkpoint protocol instead of a hand-rolled cursor.
    */
  def q248DeltaStreamRead(spark: SparkSession, dir: String): DataFrame = {
    val delta = s"${q246Fixture(spark, dir)}/delta"
    val base = ReplayFixtures.runRoot(dir, "q248")
    val ss = ReplayFixtures.replaySession(spark)
    val stream = ss.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", delta)
      .option("maxVersionsPerTrigger", 2L)
      .load()
    val q = stream.writeStream
      .format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    ss.read.parquet(s"$base/sink")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .orderBy(col("lang"))
  }

  /** Oracle: the streamed accumulation is exactly the documents table —
    * any ingested rewrite commit or dropped/replayed version breaks it.
    */
  val q248Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q249 — INCREMENTAL LEXICAL-STORE MAINTENANCE: the corpus arrives as
    * Delta commits (q245's four-append fixture = the full documents
    * table), streams through [[graft.streaming.DeltaStream]] one version
    * per trigger, and `foreachBatch` appends each micro-batch's
    * (doc_id, dl) rows and positional postings to an incremental store
    * ([[CorpusOps.appendLexStore]]) — documents are immutable, so
    * per-doc postings are disjoint across batches and append IS merge.
    * The query then runs the FULL q56 BM25 pipeline against the
    * incrementally-built store, and the standard q56 oracle must
    * hash-match: how the retrieval artifact accumulated is provably
    * invisible to ranking — q187's streamed-state-equals-batch claim
    * applied to the retrieval stack.
    *
    * Scale: per-trigger work is batch-sized (tokenize + partial agg of
    * the new docs only); the store stays term-hash-partitioned so query
    * pruning is identical to the batch-built artifact. This is the
    * production shape for a corpus that never stops growing: one ingest
    * pipeline, no rebuild, retrieval always current.
    */
  def q249IncrementalLexStore(spark: SparkSession, dir: String): DataFrame = {
    val delta = s"${q245Fixture(spark, dir)}/delta"
    val base = ReplayFixtures.runRoot(dir, "q249")
    val ss = ReplayFixtures.replaySession(spark)
    val store = s"$base/lexstore"
    val q = ss.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", delta)
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        CorpusOps.appendLexStore(batch.toDF(), store)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    CorpusOps.bm25FromIncremental(ss, store)
  }

  /** q250 — INCREMENTAL MINHASH SIGNATURE STORE: the q249 pattern applied
    * to the dedup stack. The corpus streams in as Delta commits;
    * foreachBatch appends each micro-batch's signatures and UNCAPPED band
    * rows ([[Dedup.appendSigStore]]) — the expensive hashing is paid once
    * per document ever, per-trigger work is batch-sized. The bucket cap
    * (non-monotone under arrival: a bucket's fate is decided by its FINAL
    * size) and the bucket-local pairing run at read time over the
    * accumulated tables, so the candidate pair set provably cannot depend
    * on how the corpus was batched — and q40's oracle must hash-match
    * verbatim.
    */
  def q250IncrementalSigStore(spark: SparkSession, dir: String): DataFrame = {
    val delta = s"${q245Fixture(spark, dir)}/delta"
    val base = ReplayFixtures.runRoot(dir, "q250")
    val ss = ReplayFixtures.replaySession(spark)
    val store = s"$base/sigstore"
    val q = ss.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", delta)
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Dedup.appendSigStore(batch.toDF(), store)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    Dedup.pairsFromIncremental(ss, store)
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  // -------------------------------------------------------------------
  // q254/q255/q256: store layout maintenance + erasure propagation
  // -------------------------------------------------------------------

  /** The derived-store erasure-request predicate: doc_ids with
    * h60(id:gdpr) % 20 == 0 (~5%) file requests — deterministic, so the
    * oracles recompute the request set from the documents table (the
    * q214 idiom applied to the corpus).
    */
  private[graft] val EraseMod = 20L
  private[graft] def erasePred(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.ColFns.h60(concat(id.cast("string"), lit(":gdpr"))) % EraseMod === 0
  private val erasePredSql =
    s"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gdpr'), 1, 15))::BIGINT % $EraseMod = 0"

  /** Restate `sql` over the erasure SURVIVORS: every corpus reference
    * routes through a `q_survivors` CTE holding the not-erased documents,
    * so the oracle's global stats (N, T, df) — and therefore every score —
    * assume the erased docs are fully gone. Any residue the engine leaves
    * in a store table shifts the Spark-side numbers and breaks the hash.
    */
  private def overSurvivors(sql: String): String =
    sql.replace("FROM documents", "FROM q_survivors")
      .replaceFirst("WITH ",
        s"WITH q_survivors AS (SELECT * FROM documents WHERE NOT ($erasePredSql)),\n")

  /** q254 — STORE COMPACTION + IMPACT REFRESH, the layout-maintenance
    * composition the incremental store defers to, wired end to end: six
    * [[CorpusOps.appendLexStore]] batches accrete a lexical store exactly
    * the way q249's per-trigger appends do (a file per partition per
    * batch, no `maxscore/`), then [[CorpusOps.compactLexStore]] bin-packs
    * `dl/` + `postings/` (q178's next-fit discipline executed by the
    * scan's split planner — zero shuffle) and recomputes `maxscore/` with
    * the post-append global (N, T, df). The query serves the q247 WAND
    * ranking from the compacted store: the store-served upper bounds are
    * live again (PlanSpec gates the prune and file-count reduction), and
    * the ranking must hash-match [[CorpusOps.q247Sql]] verbatim — layout
    * maintenance is invisible to results, visible only to scan cost.
    */
  private def q254Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q254", dir) { root =>
      val s = s"$root/lexstore"
      val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      (0L until 6L).foreach(i => CorpusOps.appendLexStore(
        docs.filter(pmod(col("doc_id"), lit(6L)) === i), s))
      CorpusOps.compactLexStore(spark, s)
      s
    }

  def q254CompactLexStore(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.wandTopKFromStore(spark, q254Store(spark, dir))

  /** q255 — ERASURE PROPAGATION into the LEXICAL store: the q214 "right
    * to be forgotten" contract extended to the derived retrieval
    * artifact. The store is built whole (append + impact refresh, so the
    * pre-erasure `maxscore/` EXISTS and must be invalidated), then
    * [[CorpusOps.eraseLexStore]] removes the requested docs' dl rows,
    * postings, and positions via file-level copy-on-write and recomputes
    * the impact metadata from the survivors — a term occurring only in
    * erased docs vanishes from `maxscore/` too, because per-term rows are
    * themselves derived content. The query serves the WAND ranking from
    * the cleaned store; the oracle restates q247 over `documents` MINUS
    * the request set, so residue anywhere — a surviving posting, a stale
    * doc count, an un-refreshed bound that mis-prunes — breaks the hash.
    */
  private def q255Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q255", dir) { root =>
      val s = s"$root/lexstore"
      CorpusOps.appendLexStore(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")), s)
      CorpusOps.refreshMaxScores(spark, s)
      CorpusOps.eraseLexStore(spark, s, erasePred)
      s
    }

  def q255EraseLexStore(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.wandTopKFromStore(spark, q255Store(spark, dir))

  /** q256 — ERASURE PROPAGATION into the SIGNATURE store: same contract
    * as q255 on the dedup artifact (a MinHash signature reconstructs
    * shingle membership — derived content under every deletion regime).
    * [[Dedup.eraseSigStore]] rewrites only the files carrying the
    * subjects' signatures, band rows, and (in the materialized `pairs/`)
    * any pair touching them. The query recomputes candidates from the
    * cleaned sigs/bands — recomputation, not pair-table surgery, is the
    * exact read path: the LSH bucket cap can only OPEN when docs leave a
    * bucket, so a pairs table filtered in place is a subset fast-path
    * while the recompute is exact by construction. Oracle: q40's full
    * MinHash restatement over the surviving documents.
    */
  private def q256Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q256", dir) { root =>
      val s = s"$root/sigstore"
      Dedup.appendSigStore(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")), s)
      Dedup.pairsFromIncremental(spark, s)
        .write.mode("overwrite").parquet(s"$s/pairs")
      Dedup.eraseSigStore(spark, s, erasePred)
      s
    }

  def q256EraseSigStore(spark: SparkSession, dir: String): DataFrame =
    Dedup.pairsFromIncremental(spark, q256Store(spark, dir))
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)

  /** q267 ingest side: a CDF-enabled Delta history (clone of the q264
    * table → enable feed → DV DELETE doc_id%3 → MERGE %5-updates +
    * %9-inserts) whose lexical store is built EXCLUSIVELY from
    * [[graft.sources.DeltaLog.readChangeFeed]] through
    * [[CorpusOps.syncLexStoreFromFeed]] — the store never reads the
    * table. v0's derived inserts seed it, v2's delete rows erase the %3
    * docs, v3's preimage/postimage/insert rows update the %5 docs in
    * place (including re-inserting %5∧%3 docs deleted one version
    * earlier — the ordering case) and add the shifted %9 docs.
    */
  private def q267Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q267", dir) { root =>
      import graft.sources.DeltaLog
      // the history's run root is touched only by this once-per-JVM build
      val delta = ReplayFixtures.cloneInto(
        s"${q264Fixture(spark, dir)}/delta", "q267hist", dir)
      DeltaLog.setTableProperties(delta,
        Map("delta.enableChangeDataFeed" -> "true"))          // v1
      DeltaLog.deleteWhere(spark, delta,
        pmod(col("doc_id"), lit(3)) === 0)                    // v2
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val mx = docs.agg(max(col("doc_id"))).head.getLong(0) // one-row driver frame
      val source = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", concat(lit("U:"), col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(mx + 1))
          .withColumn("text", concat(lit("I:"), col("text"))))
      val (v3, _, _) = DeltaLog.mergeInto(spark, delta, source, Seq("doc_id"))
      val s = s"$root/lexstore"
      CorpusOps.syncLexStoreFromFeed(spark, s,
        DeltaLog.readChangeFeed(spark, delta, -1L, v3))
      s
    }

  /** q267 — CHANGE-FEED-DRIVEN RETRIEVAL-INDEX SYNC: the q247 WAND
    * ranking served from a lexical store that tracked the table ONLY
    * through its change data feed (fixture above). The oracle restates
    * q247 over the post-merge table contents reconstructed in SQL — a
    * sync that missed a delete (ranks an erased doc), replayed an
    * insert, applied versions out of order (the %5∧%3 docs delete at v2
    * and RE-insert at v3), or kept a stale pre-update incarnation
    * breaks the hash. At 100 TB this closes the loop the CDC stack
    * exists for: row-level table writes flow to the derived index at
    * changes-sized cost, no rebuild, no snapshot diff.
    */
  def q267FeedStoreSync(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.wandTopKFromStore(spark, q267Store(spark, dir))

  /** [[CorpusOps.q247Sql]] restated over the feed-merged corpus. */
  private def overFeedMerged(sql: String): String =
    sql.replace("FROM documents", "FROM q_merged")
      .replaceFirst("WITH ",
        """WITH q_merged AS (
          |  SELECT doc_id, 'U:' || text AS text
          |  FROM documents WHERE doc_id % 5 = 0
          |  UNION ALL
          |  SELECT doc_id + (SELECT max(doc_id) FROM documents) + 1,
          |    'I:' || text
          |  FROM documents WHERE doc_id % 9 = 0
          |  UNION ALL
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0
          |),
          |""".stripMargin)

  def q241DeltaAdopt(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = s"${q241Fixture(spark, dir)}/delta"
    val base = ReplayFixtures.runRoot(dir, "q241")
    // time travel to the pre-replace version: pure log replay, no listing
    val v1n = DeltaLog.read(spark, delta, Some(1L)).count()
    // adopt the latest snapshot into a fresh table
    val t = s"$base/tbl"
    DeltaLog.commitAppend(t, DeltaLog.read(spark, delta)
      .select(col("doc_id"), col("text"), col("lang")))
    DeltaLog.read(spark, t)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("len_sum"))
      .withColumn("v1_docs", lit(v1n))
      .orderBy(col("lang"))
  }

  /** Oracle: the adopted snapshot is exactly the residues the commit
    * history leaves live; v1_docs restates the pre-replace snapshot.
    */
  val q241Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS len_sum,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |     WHERE doc_id % 3 IN (0, 1)) AS v1_docs
      |FROM documents
      |WHERE doc_id % 3 <> 1 OR doc_id % 2 = 0
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Oracle: snapshot v4 = base + all three change batches under the
    * merge composition rules (latest batch wins; within a batch delete
    * wins over upsert) — the same reconstruction family as q192Sql/q195Sql,
    * one batch further.
    */
  val q236Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang, text,
      |    CASE WHEN doc_id % 7 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 THEN TRUE
      |         ELSE doc_id % 3 <> 0 END AS p2,
      |    CASE WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t2
      |  FROM documents),
      |s4 AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 6 = 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 5 = 0 THEN TRUE
      |         ELSE p2 END AS p4,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' v4'
      |         WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         ELSE t2 END AS t4
      |  FROM s)
      |SELECT doc_id, md5(t4) AS h, lang, 'parquet-mirror' AS mirror
      |FROM s4 WHERE p4 ORDER BY doc_id""".stripMargin

  /** q238's second versioned table: embeddings-derived (vec_id, label),
    * three versions with SQL-restatable batches —
    * v1 init: vec_id % 5 ≠ 4; v2: delete % 7 = 3, upsert label+1000 where
    * % 4 = 1; v3: upsert label+2000 where % 6 = 2. One per (JVM, sf dir),
    * version-pinned consumers only.
    */
  private[graft] def versionedEmbsTable(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q238b", dir) { root =>
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val t = freshTable(root, e.schema)
      DeltaLog.commitAppend(t, e.filter(pmod(col("vec_id"), lit(5)) =!= 4))
      Seq(e.filter(pmod(col("vec_id"), lit(7)) === 3 || pmod(col("vec_id"), lit(4)) === 1)
          .select(col("vec_id"),
            when(pmod(col("vec_id"), lit(7)) === 3, lit("delete"))
              .otherwise(lit("upsert")).as("op"),
            (col("label") + 1000L).as("label")),
        e.filter(pmod(col("vec_id"), lit(6)) === 2)
          .select(col("vec_id"), lit("upsert").as("op"),
            (col("label") + 2000L).as("label")))
        .foreach(b => DeltaLog.mergeInto(spark, t, b, Seq("vec_id"), ops = true))
      t
    }

  /** q238's materialized view baseline — A@2 ⋈ B@1 written once per
    * (JVM, sf dir), the "yesterday" state an incremental refresh patches.
    */
  private[graft] def q238Mv0(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q238mv", dir) { p =>
      DeltaLog.read(spark, versionedDocsTable(spark, dir), Some(2L))
        .select(col("doc_id"), col("text"), col("lang"))
        .join(DeltaLog.read(spark, versionedEmbsTable(spark, dir), Some(1L))
          .select(col("vec_id").as("doc_id"), col("label")), "doc_id")
        .write.mode("overwrite").parquet(p)
      p
    }

  /** q238 — INCREMENTAL MAINTENANCE OF A JOIN VIEW through two CDC feeds:
    * the join half of the IVM story (q145/q202 maintain AGGREGATES, q229 a
    * linear sketch; a join view is the other classical case — Blakeley,
    * Larson & Tompa, SIGMOD 1986). The view is `docs ⋈ embs` on the key;
    * it was materialized when the tables stood at (A@2, B@1)
    * ([[q238Mv0]]), and both tables have since moved (A→4, B→3).
    *
    * The refresh is DELTA-SCOPED RECOMPUTE:
    *   1. touched = keys(ΔA) ∪ keys(ΔB) — union of the two file-pruned,
    *      changes-sized keyed diffs ([[graft.sources.DeltaLog.diff]]);
    *   2. patch = (A@4 ⋈ B@3) restricted to touched keys (semi-join on the
    *      tiny touched frame);
    *   3. mv' = (mv ∖ touched) ∪ patch — an anti-join and a union; in a
    *      real MV store this is a keyed upsert of |touched| rows.
    * Deletes on either side fall out naturally: a touched key whose post-
    * state misses either table simply produces no patch row. Work is
    * O(|Δ| + the patch join), never a full rejoin of the view — the difference
    * between refreshing a 100 TB dashboard join hourly and rebuilding it.
    *
    * A hard require() proves mv' equals the from-scratch A@4 ⋈ B@3 (count
    * + both-direction anti-join — the q79/q236 audit; sampled at real
    * scale), and the oracle reconstructs both latest snapshots from the
    * batch definitions and joins them in SQL.
    */
  def q238JoinIvm(spark: SparkSession, dir: String): DataFrame = {
    val ta = versionedDocsTable(spark, dir)
    val tb = versionedEmbsTable(spark, dir)
    val mv0 = spark.read.parquet(q238Mv0(spark, dir))
    val touched = DeltaLog.diff(spark, ta, Seq("doc_id"), 2L, 4L).select(col("doc_id"))
      .unionByName(DeltaLog.diff(spark, tb, Seq("vec_id"), 1L, 3L)
        .select(col("vec_id").as("doc_id")))
      .distinct().localCheckpoint()
    val a4 = DeltaLog.read(spark, ta, Some(4L)).select(col("doc_id"), col("text"), col("lang"))
    val b3 = DeltaLog.read(spark, tb, Some(3L)).select(col("vec_id").as("doc_id"), col("label"))
    val patch = a4.join(touched, Seq("doc_id"), "left_semi").join(b3, "doc_id")
    val mvNew = mv0.join(touched, Seq("doc_id"), "left_anti").unionByName(patch)
      .localCheckpoint()
    val full = a4.join(b3, "doc_id")
    require(mvNew.count() == full.count() &&
      mvNew.join(full, Seq("doc_id", "text", "lang", "label"), "left_anti").isEmpty,
      "incrementally refreshed join view diverged from the full rejoin")
    mvNew.select(col("doc_id"), md5(col("text")).as("h"), col("lang"), col("label"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: A@4 (the q236 reconstruction) joined with B@3 (batch rules in
    * [[versionedEmbsTable]]'s doc), composed with the same
    * latest-batch-wins / in-batch-delete-wins CASE ordering.
    */
  val q238Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang, text,
      |    CASE WHEN doc_id % 7 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 THEN TRUE
      |         ELSE doc_id % 3 <> 0 END AS p2,
      |    CASE WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t2
      |  FROM documents),
      |a4 AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 6 = 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 5 = 0 THEN TRUE
      |         ELSE p2 END AS p4,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' v4'
      |         WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         ELSE t2 END AS t4
      |  FROM s),
      |b3 AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 6 = 2 THEN TRUE
      |         WHEN vec_id % 7 = 3 THEN FALSE
      |         WHEN vec_id % 4 = 1 THEN TRUE
      |         ELSE vec_id % 5 <> 4 END AS pb,
      |    CASE WHEN vec_id % 6 = 2 THEN CAST(label AS BIGINT) + 2000
      |         WHEN vec_id % 4 = 1 AND vec_id % 7 <> 3 THEN CAST(label AS BIGINT) + 1000
      |         ELSE CAST(label AS BIGINT) END AS lb
      |  FROM embeddings)
      |SELECT a.doc_id, md5(a.t4) AS h, a.lang, b.lb AS label
      |FROM a4 a JOIN b3 b ON b.vec_id = a.doc_id
      |WHERE a.p4 AND b.pb
      |ORDER BY a.doc_id""".stripMargin

  /** q196 — TABLE MAINTENANCE is logically invisible: on its own copy of
    * the q192 table, write a parquet CHECKPOINT (the Delta
    * `_last_checkpoint` move — replay cost bounded by checkpoint cadence,
    * not table lifetime) and then REWRITE THE LAYOUT as commit v5: the
    * live rows hash-repartitioned by key into 4 files
    * ([[graft.sources.DeltaLog.commitRewriteLayout]], a
    * `dataChange=false` commit). Both are physical-layout operations;
    * the query reads the post-maintenance snapshot and the oracle
    * reconstructs v4's logical content from the batch definitions — a
    * hash match proves maintenance moved bytes and nothing else. Time
    * travel across the maintenance boundary (DeltaTableSpec) and the
    * atomic publish race are the safety rails; at 100 TB both run as
    * background jobs against live readers.
    */
  def q196TableMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val t = versionedDocsTable(spark, dir, tag = "q196")
    if (DeltaLog.currentVersion(t) == 4L) { // idempotent across same-JVM re-runs
      DeltaLog.checkpoint(spark, t)
      DeltaLog.commitRewriteLayout(spark, t, _.repartition(4, col("doc_id")), Some(4L))
    }
    DeltaLog.read(spark, t)
      .select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
        lit(DeltaLog.currentVersion(t)).as("read_version"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: v4's logical snapshot (base + all three batches, later batch
    * wins, delete wins within a batch) — maintenance must not change it.
    */
  val q196Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' v4'
      |         WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t,
      |    CASE WHEN doc_id % 6 = 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 5 = 0 THEN TRUE
      |         WHEN doc_id % 7 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 THEN TRUE
      |         ELSE doc_id % 3 <> 0 END AS present
      |  FROM documents)
      |SELECT doc_id, md5(t) AS h, lang, CAST(5 AS BIGINT) AS read_version
      |FROM s WHERE present ORDER BY doc_id""".stripMargin

  /** q200 — EXACTLY-ONCE STREAMING SINK into the versioned table: the
    * events fixture replays as a file stream through REAL micro-batches
    * (maxFilesPerTrigger=2 over a 6-file fixture, so ≥3 triggers), and
    * `foreachBatch` commits each batch into a Delta table via
    * [[graft.sources.DeltaLog.commitAppendIdempotent]] keyed by the batch
    * id — then immediately DELIVERS THE SAME BATCH AGAIN, simulating the
    * at-least-once redelivery every sink must tolerate after a failure.
    * The committed `txn` action makes the duplicate a no-op, so the
    * table holds each event exactly once; the per-type aggregate over the
    * final snapshot hash-matches the oracle computed from the raw events
    * table — any double-append would double the counts and fail the gate.
    *
    * Scale: each commit is one parquet write (adds only, no rewrite);
    * idempotence costs a log replay, never a data read. This is the
    * produce path that turns a stream into the q192/q195 commit log —
    * sink, time travel, and CDC read compose.
    */
  /** q200's carved watch directory (build-once, Bench-hoistable). */
  private[graft] def q200Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q200", Seq("events")) { root =>
      Tables(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(6)
        .write.parquet(s"$root/watch")
    }

  def q200StreamTableSink(spark: SparkSession, dir: String): DataFrame = {
    val fix = q200Fixture(spark, dir)
    val base = ReplayFixtures.runRoot(dir, "q200")
    val ss = ReplayFixtures.replaySession(spark)
    val t = s"$base/tbl"
    val sch = ss.read.parquet(s"$fix/watch").schema
    val q = ss.readStream.schema(sch)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$fix/watch")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        DeltaLog.commitAppendIdempotent(ss, t, batch, "q200", bid)
        // at-least-once redelivery: same batch id arrives again — the
        // committed txn action makes this a detected no-op
        DeltaLog.commitAppendIdempotent(ss, t, batch, "q200", bid)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    DeltaLog.read(spark, t)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Oracle: the same aggregate over the raw events — exactly-once means
    * the streamed table IS the source, duplicates and losses both break
    * the hash.
    */
  val q200Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  round(sum(value), 2) AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q268 — EXACTLY-ONCE STREAMING SINK into a DELTA table: the q200
    * contract re-run against the wire format any Delta reader shares.
    * The events fixture replays as real micro-batches, and foreachBatch
    * commits each through [[graft.sources.DeltaLog
    * .commitAppendIdempotent]] — a `txn {appId, version}` action rides
    * every commit, and the immediately re-delivered duplicate (the
    * at-least-once failure simulation) is a DETECTED NO-OP because the
    * app's cursor already covers it. After the stream, the table
    * checkpoints, the ENTIRE JSON tail is trimmed (standard log
    * retention), and batch 0 is delivered a THIRD time: the checkpoint
    * carries the txn rows, so the replay still refuses — `replay_noop`
    * pins it. Exactly-once table contents from an at-least-once world,
    * end to end in the public protocol; idempotence costs a driver-side
    * log replay, never a data read.
    */
  def q268DeltaIdempotentSink(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val fix = q200Fixture(spark, dir)
    val base = ReplayFixtures.runRoot(dir, "q268")
    val ss = ReplayFixtures.replaySession(spark)
    val delta = s"$base/delta"
    val sch = ss.read.parquet(s"$fix/watch").schema
    val q = ss.readStream.schema(sch)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$fix/watch")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        DeltaLog.commitAppendIdempotent(batch.sparkSession, delta,
          batch.toDF(), "q268-sink", bid)
        // at-least-once redelivery: same (appId, version) — detected no-op
        DeltaLog.commitAppendIdempotent(batch.sparkSession, delta,
          batch.toDF(), "q268-sink", bid)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // checkpoint + trim the whole JSON tail, then deliver batch 0 AGAIN:
    // the cursor must survive in the checkpoint's txn rows
    val cv = DeltaLog.checkpoint(spark, delta)
    (0L to cv).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(delta, "_delta_log", f"$v%020d.json")))
    val vAfter = DeltaLog.commitAppendIdempotent(spark, delta,
      spark.read.parquet(s"$fix/watch").limit(0), "q268-sink", 0L)
    DeltaLog.read(spark, delta)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .withColumn("replay_noop", lit(if (vAfter == cv) 1L else 0L))
      .orderBy(col("event_type"))
  }

  /** Oracle: q200's — exactly-once means the streamed Delta table IS the
    * source — plus the post-trim replay refusal pinned.
    */
  val q268Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  round(sum(value), 2) AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  CAST(1 AS BIGINT) AS replay_noop
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q202 — IVM FROM THE CHANGE FEED: the consumer loop the table layer
    * exists for. A per-lang (doc count, char sum) rollup is materialized
    * at snapshot v1, then refreshed to v4 by aggregating ONLY the keyed
    * diff `DeltaLog.diff(1, 4)` — insert adds its contribution, delete retracts the
    * PRE-IMAGE the feed carries (`old_*` columns), update contributes the
    * difference — and merging the langs-sized delta into the v1 rollup.
    * The oracle recomputes the rollup directly from the reconstructed v4
    * snapshot, so the hash match proves the incremental identity
    * rollup(v1) ⊕ Δ(changes) = rollup(v4) cross-engine, with the feed —
    * not the q145-style raw batch — as the delta source. At 100 TB the
    * refresh reads the file-pruned delta and a langs-sized state row
    * set; the table is never rescanned.
    */
  def q202IvmFromChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = versionedDocsTable(spark, dir)
    val base = DeltaLog.read(spark, t, Some(1L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("sum_chars"))
    // retract the pre-image, add the post-image: updates that move a row
    // across groups (lang change) debit the OLD group and credit the new
    val ch = DeltaLog.diff(spark, t, Seq("doc_id"), 1L, 4L)
    val retract = ch.filter(col("change_type") =!= "insert")
      .select(coalesce(col("old_lang"), col("lang")).as("lang"),
        lit(-1L).as("dd"),
        (-length(coalesce(col("old_text"), col("text"))).cast("long")).as("dc"))
    val credit = ch.filter(col("change_type") =!= "delete")
      .select(col("lang"), lit(1L).as("dd"),
        length(col("text")).cast("long").as("dc"))
    val delta = retract.unionByName(credit)
      .groupBy(col("lang"))
      .agg(sum(col("dd")).as("d_docs"), sum(col("dc")).as("d_chars"))
    base.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L))).as("sum_chars"))
      .filter(col("n_docs") > 0)
      .orderBy(col("lang"))
  }

  /** Oracle: the v4 rollup recomputed from scratch over the reconstructed
    * snapshot — the IVM identity's other side.
    */
  val q202Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' v4'
      |         WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t,
      |    CASE WHEN doc_id % 6 = 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 5 = 0 THEN TRUE
      |         WHEN doc_id % 7 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 THEN TRUE
      |         ELSE doc_id % 3 <> 0 END AS present
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(length(t)) AS BIGINT) AS sum_chars
      |FROM s WHERE present GROUP BY lang ORDER BY lang""".stripMargin

  /** q229 — LINEAR-SKETCH IVM: maintain a Count-Min sketch THROUGH the CDC
    * feed instead of rebuilding it — possible precisely because CMS is a
    * LINEAR transform of the frequency vector (Cormode & Muthukrishnan
    * 2005): an insert adds its tokens' contributions, a delete SUBTRACTS
    * the pre-image's (the old_* columns the q195 feed carries), an update
    * does both — and counter tables merge by elementwise sum. This is the
    * sketch the table layer can keep fresh under DELETES, where HLL/KMV
    * structurally cannot (max-merge forgets nothing): the deletable-
    * summary story every GDPR-era pipeline needs (q214 erases the rows;
    * this keeps the derived sketch consistent without a rescan).
    *
    * The q137 CMS shape (4 md5 hash rows × 64 buckets) builds over the
    * token stream of versioned-table snapshot v1, the delta aggregates
    * ONLY the keyed diff `DeltaLog.diff(1, 4)` (file-pruned, ± token
    * contributions), and the
    * merged counters hash-match the oracle's from-scratch CMS over the
    * reconstructed v4 snapshot — the identity CMS(v1) ⊕ Δ(feed) = CMS(v4)
    * proved cross-engine. Zero cells drop on both sides (a from-scratch
    * build never emits them; exactness guarantees merged cells hit 0, not
    * negative).
    *
    * Scale: the delta pays changes-sized token work, never table-sized;
    * counters are 256 rows whatever the corpus.
    */
  def q229CmsIvm(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.TextOps.{normText, wsTokens}
    val t = versionedDocsTable(spark, dir)
    val cmsJ = explode(array((0 until 4).map(lit(_)): _*)).as("j")
    def counters(df: DataFrame, textCol: String, weightCol: org.apache.spark.sql.Column) = df
      .select(explode(wsTokens(normText(col(textCol)))).as("tok"), weightCol.as("w"))
      .select(col("w"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("tok")), 17, 13), 16, 10).cast("long").as("h2"))
      .select(col("w"), col("h1"), col("h2"), cmsJ)
      .groupBy(col("j"), expr("(h1 + j * h2) % 64").as("bucket"))
      .agg(sum(col("w")).as("cnt"))
    val base = counters(DeltaLog.read(spark, t, Some(1L)), "text", lit(1L))
    val ch = DeltaLog.diff(spark, t, Seq("doc_id"), 1L, 4L)
    val delta = counters(
      ch.filter(col("change_type") =!= "delete")
        .select(col("text").as("txt"), lit(1L).as("w0"))
        .unionByName(ch.filter(col("change_type") =!= "insert")
          .select(col("old_text").as("txt"), lit(-1L).as("w0"))),
      "txt", col("w0"))
    base.select(col("j"), col("bucket"), col("cnt"))
      .join(delta.select(col("j"), col("bucket"), col("cnt").as("d")),
        Seq("j", "bucket"), "full_outer")
      .select(col("j"), col("bucket"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L))).as("cnt"))
      .filter(col("cnt") =!= 0)
      .orderBy(col("j"), col("bucket"))
  }

  /** Oracle: the from-scratch CMS over the reconstructed v4 snapshot (the
    * q196 reconstruction CASEs) — equality IS the linear-IVM identity.
    */
  val q229Sql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' v4'
      |         WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t,
      |    CASE WHEN doc_id % 6 = 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 5 = 0 THEN TRUE
      |         WHEN doc_id % 7 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 THEN TRUE
      |         ELSE doc_id % 3 <> 0 END AS present
      |  FROM documents),
      |toks AS (
      |  SELECT unnest(list_filter(string_split_regex(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), '\s+'), x -> x <> '')) AS tok
      |  FROM s WHERE present),
      |h AS (
      |  SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(md5(tok), 17, 13))::BIGINT AS h2
      |  FROM toks),
      |j AS (SELECT unnest([0, 1, 2, 3]) AS j)
      |SELECT j, (h1 + j * h2) % 64 AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |FROM h CROSS JOIN j
      |GROUP BY 1, 2
      |ORDER BY j, bucket""".stripMargin

  /** q230 — SNAPSHOT-ISOLATED STREAMING ENRICHMENT: a stream joined
    * against the versioned table READ AT A PINNED VERSION, with a
    * CONCURRENT WRITER committing mid-stream. The reproducibility property
    * this proves is the one production pipelines silently lack when they
    * enrich against "the current table": here every micro-batch joins the
    * same immutable v3 file set — the pin is the file list itself, so
    * commits v4/v5 landing between triggers change NOTHING — and the
    * mid-stream commit is real (foreachBatch publishes a new version
    * after the first batch; a hard require() proves the table DID move
    * while the output stayed v3-pure). The oracle reconstructs the v3
    * snapshot and the whole join in SQL: any leak of the newer commit
    * breaks the hash.
    *
    * Scale: the pinned side is a parquet read like any other; at 100 TB
    * it broadcasts if dimension-sized or shuffle-joins if not — pinning
    * costs nothing but the log replay. This row closes
    * the loop between the streaming family (q133's enrich) and the table
    * layer (q192's time travel): the same snapshot contract, composed.
    */
  /** q230's carved purchase stream (build-once, Bench-hoistable). */
  private[graft] def q230Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q230", Seq("events")) { root =>
      Tables(spark, dir, "events").filter(col("event_type") === "purchase")
        .repartition(3).write.parquet(s"$root/purch")
    }

  def q230PinnedEnrich(spark: SparkSession, dir: String): DataFrame = {
    val fix = q230Fixture(spark, dir)
    val base = ReplayFixtures.runRoot(dir, "q230")
    val ss = ReplayFixtures.replaySession(spark)
    val t = versionedDocsTable(ss, dir, tag = "q230")
    val v0 = DeltaLog.currentVersion(t) // 4 on first build; grows with re-runs below
    // the PIN: v3's immutable file list, resolved once
    val dim = DeltaLog.read(ss, t, Some(3L))
      .select(pmod(col("doc_id"), lit(1000L)).as("user_key"),
        md5(col("text")).as("text_h"), col("lang"))
      .groupBy(col("user_key"))
      .agg(min(col("text_h")).as("text_h"), min(col("lang")).as("lang"))
    val stream = graft.streaming.EventStream.readEventStream(
      ss, s"$fix/purch", maxFilesPerTrigger = 2)
      .withColumn("user_key", pmod(col("user_id"), lit(1000L)))
    val q = stream.join(dim, "user_key")
      .select(col("event_id"), col("user_id"), col("text_h"), col("lang"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        batch.write.mode("append").parquet(s"$base/out")
        if (bid == 0) {
          // the concurrent writer: a real commit lands between triggers
          val ch = Tables(ss, dir, "documents").limit(50)
            .select(col("doc_id"), lit("upsert").as("op"),
              concat(col("text"), lit(" concurrent")).as("text"), col("lang"))
          DeltaLog.mergeInto(ss, t, ch, Seq("doc_id"), ops = true)
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    require(DeltaLog.currentVersion(t) > v0,
      "q230 must demonstrate a real mid-stream commit — the table did not move")
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, text_h STRING, lang STRING")
      .parquet(s"$base/out")
      .orderBy(col("event_id"))
  }

  /** Oracle: the v3 snapshot reconstruction (q192's CASEs) collapsed to
    * the user_key dimension, joined to the purchase events — v3-pure by
    * construction; the " concurrent" upsert must be invisible.
    */
  val q230Sql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN text || ' v3'
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN text || ' v2'
      |         ELSE text END AS t,
      |    CASE WHEN doc_id % 5 = 0 AND doc_id % 9 <> 0 THEN TRUE
      |         WHEN doc_id % 9 = 0 THEN FALSE
      |         WHEN doc_id % 4 = 0 AND doc_id % 7 <> 0 THEN TRUE
      |         WHEN doc_id % 7 = 0 THEN FALSE
      |         ELSE doc_id % 3 <> 0 END AS present
      |  FROM documents),
      |dim AS (
      |  SELECT doc_id % 1000 AS user_key, min(md5(t)) AS text_h, min(lang) AS lang
      |  FROM s WHERE present GROUP BY 1)
      |SELECT e.event_id, e.user_id, d.text_h, d.lang
      |FROM events e JOIN dim d ON e.user_id % 1000 = d.user_key
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin

  /** q214's erasure-request predicate modulus: keys with
    * h60(key:gdpr) % 20 == 0 (~5%) file requests — deterministic, so the
    * oracle recomputes the request set from the source table.
    */
  private[graft] val Q214ReqMod = 20L

  /** q214 — GDPR ERASURE PROPAGATION ("right to be forgotten", GDPR
    * art. 17) on the versioned table: the deletion class every lakehouse
    * must implement where a plain `filter` is NOT enough, because time
    * travel deliberately keeps history readable. The pipeline: (1) a
    * customer table commits as v1; (2) the erasure batch — every subject
    * whose deterministic request flag fires — merges as v2 deletes
    * (copy-on-write: only the files holding a requested key are
    * rewritten, so no live file still holds an erased row); (3)
    * `vacuum(retainFrom = 2)` reclaims the pre-erasure files, so the
    * subjects' bytes are GONE from storage, not merely unreferenced — the
    * legal requirement, and exactly why every lakehouse pairs deletes
    * with a vacuum horizon.
    *
    * The audit row proves each phase from live state: `survivors_after`
    * re-probes the post-erasure snapshot for every requested key (must be
    * 0); `v1_readable_after_vacuum` verifies the pre-erasure snapshot is
    * no longer reconstructable (its rewritten files are deleted —
    * reading v1 now fails); the counts tie the erased population back to
    * the source-table predicate the oracle recomputes independently.
    *
    * Scale: the erasure merge reads and rewrites only the files holding a
    * requested key; vacuum is log replay + file deletes, data-size-free.
    * At 100 TB this is the nightly compliance job: batched requests, one
    * merge, one vacuum past the retention window.
    */
  /** q214's erase-then-vacuum table, built once per (JVM, sf dir) —
    * exposed so Bench can hoist the build out of the timed region.
    */
  private[graft] def q214Table(spark: SparkSession, dir: String): String = {
    val reqPred = graft.functions.ColFns.h60(
      concat(col("c_custkey").cast("string"), lit(":gdpr"))) % Q214ReqMod === 0
    ReplayFixtures.once("q214", dir) { root =>
      val c = Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val t = freshTable(root, c.schema)
      DeltaLog.commitAppend(t, c)
      val requests = c.filter(reqPred)
        .select(col("c_custkey"), lit("delete").as("op"),
          col("c_name"), col("c_mktsegment"))
      DeltaLog.mergeInto(spark, t, requests, Seq("c_custkey"), Some(1L), ops = true)
      DeltaLog.vacuum(spark, t, retainFromVersion = 2L)
      t
    }
  }

  def q214Erasure(spark: SparkSession, dir: String): DataFrame = {
    val reqPred = graft.functions.ColFns.h60(
      concat(col("c_custkey").cast("string"), lit(":gdpr"))) % Q214ReqMod === 0
    val t = q214Table(spark, dir)
    // "v1 unreadable" is probed at the LOG level: every data path v1's
    // snapshot declares live must be gone from disk. Exactly the
    // condition the former `t.read(1L).count()` try/catch detected
    // (PATH_NOT_FOUND), but without building a deliberately-failing Spark
    // plan — a failed analysis in an Observation-bearing session makes
    // Spark's ObservationManager listener re-raise the failure as an
    // ERROR-level stack in the log of the NEXT observed query (the
    // round-12 bench-tail pollution, traced here)
    val v1Readable = DeltaLog.snapshotFiles(spark, t, Some(1L))
      .forall(p => graft.table.Fs.exists(graft.table.Fs.resolve(t, p)))
    val src = Tables(spark, dir, "customer")
      .agg(count(lit(1)).as("n_before"),
        count(when(reqPred, 1)).as("n_requests"))
    DeltaLog.read(spark, t)
      .agg(count(lit(1)).as("n_after"),
        count(when(reqPred, 1)).as("survivors_after"))
      .crossJoin(broadcast(src))
      .select(col("n_before"), col("n_requests"), col("n_after"),
        col("survivors_after"), lit(v1Readable).as("v1_readable_after_vacuum"))
  }

  /** Oracle: the erased population from the source predicate; survivors
    * must be zero and the pre-erasure snapshot unreadable — constants the
    * engine can only match by actually erasing and actually vacuuming.
    */
  val q214Sql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_before,
       |  CAST(count(CASE WHEN req THEN 1 END) AS BIGINT) AS n_requests,
       |  CAST(count(*) - count(CASE WHEN req THEN 1 END) AS BIGINT) AS n_after,
       |  CAST(0 AS BIGINT) AS survivors_after,
       |  FALSE AS v1_readable_after_vacuum
       |FROM (
       |  SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':gdpr'), 1, 15))::BIGINT
       |    % $Q214ReqMod = 0 AS req
       |  FROM customer)""".stripMargin

  /** q206 — ARBITRARY STATEFUL PROCESSING via Spark 4's
    * `transformWithState` ([[graft.streaming.EventStream.RunningStatsProcessor]]):
    * per-user running (count, sum, max) prefix stats over integer cents
    * with an online spike flag, maintained in a typed RocksDB `ValueState`
    * and replayed through REAL micro-batches (one time-range file per
    * trigger, so state genuinely carries users across batches). The
    * fixture range-partitions the event files by (ts, event_id) and the
    * processor sorts within each delivery, so every user's events stream
    * in global time order and the emitted prefix rows are independent of
    * where batch boundaries fall — the batch-windows oracle (row_number /
    * prefix sum / prefix max per user) must match bit-for-bit, spike flag
    * included. This is the v2 state API the q140/q165 family's built-in
    * operators sit on, driven directly: the shape for online per-entity
    * models (rate limiters, anomaly scores, feature freshness) at
    * billions of keys.
    */
  def q206TransformWithState(spark: SparkSession, dir: String): DataFrame = {
    val fix = ReplayFixtures.ensure(dir, "q206", Seq("events")) { root =>
      Tables(spark, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .repartitionByRange(3, col("ts_us"), col("event_id"))
        .sortWithinPartitions(col("ts_us"), col("event_id"))
        .write.parquet(s"$root/watch")
      // the file stream orders by MTIME, and a parquet write stamps all
      // parts in the same millisecond — force strictly increasing mtimes
      // in range order so each trigger delivers the next time slice
      // (path order is NOT a FileStreamSource tie-break)
      val t0 = 1700000000000L
      Option(new java.io.File(s"$root/watch").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) => f.setLastModified(t0 + i * 600000L) }
    }
    val base = ReplayFixtures.runRoot(dir, "q206")
    val ss = ReplayFixtures.replaySession(spark)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    val sch = ss.read.parquet(s"$fix/watch").schema
    val in = ss.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$fix/watch")
      .as[graft.streaming.EventStream.TwsEvent]
    val out = s"$base/out"
    val q = graft.streaming.EventStream.runningStatsStream(in)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet")
      .option("path", out)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out)
      .select(col("user_id"), col("event_id"), col("nth"),
        col("cum_cents"), col("max_cents"), col("spike"))
      .orderBy(col("user_id"), col("nth"))
  }

  /** Oracle: the same prefix stats as batch windows per user in
    * (ts, event_id) order — the stream's cross-batch state carry must
    * reproduce them exactly.
    */
  val q206Sql: String =
    """SELECT user_id, event_id,
      |  CAST(row_number() OVER w AS BIGINT) AS nth,
      |  CAST(sum(cents) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
      |  CAST(max(cents) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS max_cents,
      |  coalesce(cents * (row_number() OVER w - 1) >
      |    2 * (sum(cents) OVER (w ROWS UNBOUNDED PRECEDING) - cents), FALSE) AS spike
      |FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
      |ORDER BY user_id, nth""".stripMargin

  /** q208 — EVENT-TIME TIMERS and EXPIRY EMISSION
    * ([[graft.streaming.EventStream.InactivityExpiryProcessor]]): the
    * emit-on-SILENCE shape — each user re-arms one inactivity timer at
    * `last_seen + 90 days` per delivery; when the watermark passes it,
    * the expiry callback emits the user's (event count, last-seen) and
    * clears the state. No aggregation operator expresses this: the
    * trigger is the absence of data. The replay drives real multi-batch
    * progress (range files in forced-mtime order) and a far-future
    * sentinel advances the watermark past every live timer, so each user
    * fires exactly once and the batch groupBy is the exact oracle; the
    * per-batch update is commutative (count + max), so batch layout is
    * invisible. The 90-day gap exceeds the fixture's span on purpose —
    * mid-stream expiry would make the output depend on where batch
    * boundaries fall, the q140 sentinel lesson applied to timers.
    */
  def q208StateTimers(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 90L * 86400L * 1000L
    val fix = ReplayFixtures.ensure(dir, "q208", Seq("events")) { root =>
      val events = Tables(spark, dir, "events")
      val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
      events.select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
        .repartitionByRange(3, col("ts_us"), col("event_id"))
        .sortWithinPartitions(col("ts_us"), col("event_id"))
        .write.parquet(s"$root/watch")
      def parts() = new java.io.File(s"$root/watch").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val realFiles = parts().map(_.getName).toSet
      val t0 = 1700000000000L
      parts().sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) => f.setLastModified(t0 + i * 600000L) }
      // the far-future sentinel: advances the watermark past every
      // last_seen + gap, so all timers fire before the stream drains
      val sentinelUs = maxUs + 4000L * 86400L * 1000000L
      events.limit(1)
        .select(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
          timestamp_micros(lit(sentinelUs)).as("ts"), lit(sentinelUs).as("ts_us"))
        .coalesce(1).write.mode("append").parquet(s"$root/watch")
      parts().filterNot(f => realFiles(f.getName))
        .foreach(f => f.setLastModified(t0 + 10 * 600000L))
    }
    val base = ReplayFixtures.runRoot(dir, "q208")
    val ss = ReplayFixtures.replaySession(spark)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    val sch = ss.read.parquet(s"$fix/watch").schema
    val in = ss.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$fix/watch")
      .withWatermark("ts", "0 seconds")
      .as[graft.streaming.EventStream.TimedEvent]
    val out = s"$base/out"
    val q = graft.streaming.EventStream.inactivityExpiryStream(in, gapMs)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet").option("path", out)
      .start()
    try q.processAllAvailable() finally q.stop()
    // the sentinel's own timer never fires (nothing advances past IT) —
    // filtered OUTSIDE the streaming plan, the q174 pushdown lesson
    spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"), col("last_ts_us"))
      .orderBy(col("user_id"))
  }

  /** Oracle: expiry fired exactly once per user after the sentinel, so
    * the emitted summaries are the plain per-user aggregate.
    */
  val q208Sql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  max(epoch_us(ts)) AS last_ts_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q208_state_timers" -> q208StateTimers _,
    "q206_transform_with_state" -> q206TransformWithState _,
    "q202_ivm_from_changes" -> q202IvmFromChanges _,
    "q229_cms_ivm" -> q229CmsIvm _,
    "q230_pinned_enrich" -> q230PinnedEnrich _,
    "q214_erasure" -> q214Erasure _,
    "q200_stream_table_sink" -> q200StreamTableSink _,
    "q195_table_changes" -> q195TableChanges _,
    "q236_cdc_mirror" -> q236CdcMirror _,
    "q238_join_ivm" -> q238JoinIvm _,
    "q239_table_compaction" -> q239Compaction _,
    "q240_stream_upsert" -> q240StreamUpsert _,
    "q241_delta_adopt" -> q241DeltaAdopt _,
    "q245_delta_optimize" -> q245DeltaOptimize _,
    "q261_delta_skipping" -> q261DeltaSkipping _,
    "q264_delta_delete_vectors" -> q264DeltaDeleteVectors _,
    "q265_delta_merge" -> q265DeltaMerge _,
    "q266_change_feed" -> q266ChangeFeed _,
    "q267_feed_store_sync" -> q267FeedStoreSync _,
    "q268_delta_idempotent_sink" -> q268DeltaIdempotentSink _,
    "q269_change_feed_stream" -> q269ChangeFeedStream _,
    "q271_feed_sig_sync" -> q271FeedSigSync _,
    "q273_mapped_delete" -> q273MappedDelete _,
    "q274_mapped_merge" -> q274MappedMerge _,
    "q275_mapped_evolution" -> q275MappedEvolution _,
    "q276_mapped_skipping" -> q276MappedSkipping _,
    "q277_dv_feed_stream" -> q277DvFeedStream _,
    "q278_idmode_stream" -> q278IdModeStream _,
    "q280_feed_catchup" -> q280FeedCatchup _,
    "q281_ntz_foreign_read" -> q281NtzForeignRead _,
    "q282_v2_checkpoint_read" -> q282V2CheckpointRead _,
    "q283_stream_latest_start" -> q283StreamLatestStart _,
    "q284_mapped_rename_drop" -> q284MappedRenameDrop _,
    "q287_type_widening_read" -> q287TypeWideningRead _,
    "q288_variant_read" -> q288VariantRead _,
    "q246_delta_changes" -> q246DeltaChanges _,
    "q248_delta_stream" -> q248DeltaStreamRead _,
    "q249_incremental_lexstore" -> q249IncrementalLexStore _,
    "q250_incremental_sigstore" -> q250IncrementalSigStore _,
    "q254_compact_lexstore" -> q254CompactLexStore _,
    "q255_erase_lexstore" -> q255EraseLexStore _,
    "q256_erase_sigstore" -> q256EraseSigStore _,
    "q196_table_maintenance" -> q196TableMaintenance _,
    "q192_time_travel" -> q192TimeTravel _,
    "q189_schema_evolution" -> q189SchemaEvolution _,
    "q174_stream_outer_join_replay" -> q174StreamOuterJoinReplay _,
    "q165_stream_dedup_replay" -> q165StreamDedupReplay _,
    "q140_session_window_replay" -> q140SessionWindowReplay _,
    "q145_incremental_agg" -> q145IncrementalAgg _,
    "q152_streaming_ivm" -> q152StreamingIvm _,
    "q133_stream_enrich_replay" -> q133StreamEnrichReplay _,
    "q134_cdc_apply" -> q134CdcApply _,
    "q110_snapshot_diff" -> q110SnapshotDiff _,
    "q112_stream_join_replay" -> q112StreamJoinReplay _,
    "q89_stream_replay" -> q89StreamReplay _,
    "q66_custom_parser" -> q66CustomParser _,
    "q60_csv_roundtrip" -> q60CsvRoundtrip _,
    "q61_fw_roundtrip" -> q61FwRoundtrip _,
    "q62_route_status" -> q62RouteStatus _,
    "q63_run_summary" -> q63RunSummary _,
    "q64_delimited_parse" -> q64DelimitedParse _,
    "q65_batch_status" -> q65BatchStatus _)

  val oracles: Map[String, String] = Map(
    "q208_state_timers" -> q208Sql,
    "q206_transform_with_state" -> q206Sql,
    "q202_ivm_from_changes" -> q202Sql,
    "q229_cms_ivm" -> q229Sql,
    "q230_pinned_enrich" -> q230Sql,
    "q214_erasure" -> q214Sql,
    "q200_stream_table_sink" -> q200Sql,
    "q195_table_changes" -> q195Sql,
    "q236_cdc_mirror" -> q236Sql,
    "q238_join_ivm" -> q238Sql,
    "q239_table_compaction" -> q239Sql,
    "q240_stream_upsert" -> q240Sql,
    "q241_delta_adopt" -> q241Sql,
    "q245_delta_optimize" -> q245Sql,
    "q261_delta_skipping" -> q261Sql,
    "q264_delta_delete_vectors" -> q264Sql,
    "q265_delta_merge" -> q265Sql,
    "q266_change_feed" -> q266Sql,
    "q267_feed_store_sync" -> overFeedMerged(CorpusOps.q247Sql),
    "q268_delta_idempotent_sink" -> q268Sql,
    "q269_change_feed_stream" -> q266Sql,
    "q271_feed_sig_sync" -> overFeedMerged(Dedup.q40Sql),
    "q273_mapped_delete" -> q273Sql,
    "q274_mapped_merge" -> q274Sql,
    "q275_mapped_evolution" -> q275Sql,
    "q276_mapped_skipping" -> q276Sql,
    "q277_dv_feed_stream" -> q277Sql,
    "q278_idmode_stream" -> q278Sql,
    "q280_feed_catchup" -> q280Sql,
    "q281_ntz_foreign_read" -> q281Sql,
    "q282_v2_checkpoint_read" -> q282Sql,
    "q283_stream_latest_start" -> q283Sql,
    "q284_mapped_rename_drop" -> q284Sql,
    "q287_type_widening_read" -> q287Sql,
    "q288_variant_read" -> q288Sql,
    "q246_delta_changes" -> q246Sql,
    "q248_delta_stream" -> q248Sql,
    "q249_incremental_lexstore" -> CorpusOps.q56Sql,
    "q250_incremental_sigstore" -> Dedup.q40Sql,
    "q254_compact_lexstore" -> CorpusOps.q247Sql,
    "q255_erase_lexstore" -> overSurvivors(CorpusOps.q247Sql),
    "q256_erase_sigstore" -> overSurvivors(Dedup.q40Sql),
    "q196_table_maintenance" -> q196Sql,
    "q192_time_travel" -> q192Sql,
    "q189_schema_evolution" -> q189Sql,
    "q174_stream_outer_join_replay" -> q174Sql,
    "q165_stream_dedup_replay" -> q165Sql,
    "q140_session_window_replay" -> q140Sql,
    "q145_incremental_agg" -> q145Sql,
    "q152_streaming_ivm" -> q145Sql,
    "q133_stream_enrich_replay" -> q133Sql,
    "q134_cdc_apply" -> q134Sql,
    "q110_snapshot_diff" -> q110Sql,
    "q112_stream_join_replay" -> q112Sql,
    "q89_stream_replay" -> q89Sql,
    "q66_custom_parser" -> q66Sql,
    "q60_csv_roundtrip" -> q60Sql,
    "q61_fw_roundtrip" -> q61Sql,
    "q62_route_status" -> q62Sql,
    "q63_run_summary" -> q63Sql,
    "q64_delimited_parse" -> q64Sql,
    "q65_batch_status" -> q65Sql)
}
