package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Sinks, Sources}

class SourcesSpec extends SparkTestBase {

  /** Every message down a throwable's cause chain — refusal assertions
    * on stream failures, which arrive wrapped in engine exceptions.
    */
  private def chain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq


  test("csv source: PERMISSIVE mode captures corrupt records as rows") {
    val dir = Files.createTempDirectory("graft-csv")
    Files.write(dir.resolve("d.csv"), "1,aa\n2,bb\nnotanum,cc\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val df = Sources.csv(spark, dir.toString, schema)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.count(r => !r.isNullAt(2)) == 1, "one corrupt record captured, job not failed")
  }

  test("json lines source with declared schema") {
    val dir = Files.createTempDirectory("graft-json")
    Files.write(dir.resolve("d.json"), """{"id":1,"v":"a"}
{"id":2,"v":"b"}
""".getBytes)
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    assert(Sources.jsonLines(spark, dir.toString, schema).count() == 2)
  }

  test("binary file source reads payload bytes with glob pruning") {
    val dir = Files.createTempDirectory("graft-bin")
    Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.txt"), Array[Byte](9))
    val df = Sources.binaryFiles(spark, dir.toString, glob = "*.img")
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3))
  }

  test("differential: Spark CSV reader and fidelity tokenizer agree on RFC lines, diverge on single quotes") {
    import graft.ingest.Parsers
    val rfc = Seq(
      """a,b,c""",
      """x,"quoted,comma",z""",
      """1, spaced ,3""",
      """,,""")
    val dir = Files.createTempDirectory("graft-diff")
    Files.write(dir.resolve("d.csv"), rfc.mkString("\n").getBytes)
    val schema = StructType(Seq("c1", "c2", "c3").map(StructField(_, StringType)))
    val sparkRows = Sources.csv(spark, dir.toString, schema.add("_corrupt_record", StringType))
      .select("c1", "c2", "c3").collect()
      .map(r => (0 to 2).map(i => Option(r.getString(i)).getOrElse("")).toVector)
    val mine = rfc.map(l => Parsers.tokenizeCsv(l).get.map(_.trim))
    // Spark keeps surrounding spaces by default; normalize both to trimmed
    assert(sparkRows.map(_.map(_.trim)).toSeq == mine)
    // the reference extension: single-quoted fields — OUR parser honors them
    // (lib/parsers.js:153), Spark's RFC reader does not
    assert(Parsers.tokenizeCsv("a,'b,c',d").contains(Vector("a", "b,c", "d")))
  }

  test("orc round-trip preserves rows and pushes filters") {
    val out = Files.createTempDirectory("graft-orc").toString + "/t"
    Tables(spark, sfDir, "nation").write.orc(out)
    val back = Sources.orc(spark, out).filter(col("n_regionkey") === 1)
    val s = back.queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters") && s.contains("n_regionkey"), s)
    assert(back.count() ==
      Tables(spark, sfDir, "nation").filter(col("n_regionkey") === 1).count())
  }

  test("avro round-trip: exact row equality, nulls and binary included") {
    val out = Files.createTempDirectory("graft-avro").toString + "/t"
    val docs = Tables(spark, sfDir, "documents")
    graft.sources.AvroIO.write(docs, out)
    val back = graft.sources.AvroIO.read(spark, out, docs.schema)
    assert(back.schema == docs.schema)
    val a = docs.orderBy(col("doc_id")).collect()
    val b = back.orderBy(col("doc_id")).collect()
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => x == y }, "byte-identical round-trip")

    // every supported type + nulls survive the union encoding
    val out2 = Files.createTempDirectory("graft-avro2").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("bo", BooleanType),
      StructField("s", StringType), StructField("bin", BinaryType)))
    val rows = java.util.List.of(
      org.apache.spark.sql.Row(1L, 7, 2.5, 1.5f, true, "x", Array[Byte](1, 2)),
      org.apache.spark.sql.Row(2L, null, null, null, null, null, null))
    val typed = spark.createDataFrame(rows, schema)
    graft.sources.AvroIO.write(typed, out2)
    val typedBack = graft.sources.AvroIO.read(spark, out2, schema)
      .orderBy(col("id")).collect()
    assert(typedBack.length == 2)
    assert(typedBack(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2))
    assert(typedBack(0).getString(5) == "x" && typedBack(0).getBoolean(4))
    assert((1 to 6).forall(typedBack(1).isNullAt),
      s"nulls must survive: ${typedBack(1)}")
  }

  test("xml round-trip preserves rows and values (Spark 4 core xml source)") {
    val out = Files.createTempDirectory("graft-xml").toString + "/t"
    val nation = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    nation.write.format("xml").option("rowTag", "nation").save(out)
    val back = Sources.xml(spark, out, rowTag = "nation",
      schema = Some(nation.schema))
    val got = back.collect().map(r =>
      (r.getAs[Long]("n_nationkey"), r.getAs[String]("n_name"), r.getAs[Long]("n_regionkey"))).toSet
    val want = nation.collect().map(r =>
      (r.getAs[Long]("n_nationkey"), r.getAs[String]("n_name"), r.getAs[Long]("n_regionkey"))).toSet
    assert(got == want, "xml round-trip must preserve every row")
  }

  test("partitioned parquet sink enables partition pruning on read") {
    val out = Files.createTempDirectory("graft-part").toString
    Sinks.partitionedParquet(
      Tables(spark, sfDir, "orders"), out, Seq("o_orderstatus"))
    val pruned = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val s = pruned.queryExecution.executedPlan.toString
    // partition filter appears as a pruning predicate, not a data filter
    assert(s.contains("PartitionFilters") && s.contains("o_orderstatus"), s)
    assert(pruned.count() ==
      Tables(spark, sfDir, "orders").filter(col("o_orderstatus") === "F").count())
  }

  test("bucketed table join on bucket key plans without shuffling the bucketed side") {
    spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_lineitem_bkt")
    // a previously failed run can leave the managed location behind
    Seq("graft_orders_bkt", "graft_lineitem_bkt").foreach { t =>
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Sinks.bucketedTable(Tables(spark, sfDir, "orders"), "graft_orders_bkt", "o_orderkey", 4)
    Sinks.bucketedTable(Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity"),
      "graft_lineitem_bkt", "l_orderkey", 4)
    val j = spark.table("graft_lineitem_bkt")
      .join(spark.table("graft_orders_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    j.collect()
    val nodes = j.queryExecution.executedPlan.toString
    // with matching bucketing on both sides the join itself needs no exchange
    assert(!nodes.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not re-shuffle the fact side:\n$nodes")
  }

  test("DeltaLog: append/replace/time-travel replay; checkpoint equals full replay; commit race loses loudly") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltalog").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(3)) === i)
    assert(DeltaLog.currentVersion(root) == -1L)
    assert(DeltaLog.commitAppend(root, part(0)) == 0L)
    assert(DeltaLog.commitAppend(root, part(1)) == 1L)
    val n0 = part(0).count(); val n1 = part(1).count(); val n2 = part(2).count()
    assert(DeltaLog.read(spark, root, Some(0L)).count() == n0)
    assert(DeltaLog.read(spark, root, Some(1L)).count() == n0 + n1)
    // REPLACE: drop v1's files, add residue 2 — remove actions must replay
    val v1Extra = DeltaLog.snapshotFiles(spark, root, Some(1L))
      .filterNot(DeltaLog.snapshotFiles(spark, root, Some(0L)).toSet)
    assert(DeltaLog.commitReplace(root, v1Extra, part(2)) == 2L)
    assert(DeltaLog.read(spark, root).count() == n0 + n2,
      "replace must drop the removed files' rows")
    // protocol files look right: %020d.json commits + protocol/metaData on v0
    val v0Lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    assert(v0Lines.get(0).contains("\"protocol\"") &&
      v0Lines.get(1).contains("\"schemaString\""),
      s"commit 0 must carry protocol+metaData: $v0Lines")
    // checkpoint + tail: replay from the checkpoint equals full replay
    val fullV2 = DeltaLog.snapshotFiles(spark, root, Some(2L))
    assert(DeltaLog.checkpoint(spark, root) == 2L)
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(
      root, "_delta_log", f"${2L}%020d.checkpoint.parquet")),
      "a Delta checkpoint is one parquet FILE")
    DeltaLog.commitAppend(root, part(1))
    assert(DeltaLog.snapshotFiles(spark, root, Some(2L)).toSet == fullV2.toSet,
      "checkpoint replay must reconstruct the same live set")
    assert(DeltaLog.read(spark, root).count() == n0 + n2 + n1)
    // pre-checkpoint time travel still works (the checkpoint is a
    // shortcut, not a history truncation)
    assert(DeltaLog.read(spark, root, Some(1L)).count() == n0 + n1)
    // two writers who both based work on v3 race on v4: the loser's
    // commit throws instead of clobbering (optimistic concurrency)
    val v3 = DeltaLog.currentVersion(root)
    assert(DeltaLog.commitAppend(root, part(0), Some(v3)) == v3 + 1)
    intercept[java.util.ConcurrentModificationException] {
      DeltaLog.commitAppend(root, part(0), Some(v3))
    }
  }

  test("DeltaLog: a writer that loses the commit race deletes the data and " +
      "change files it wrote — only the winner's directories remain") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-lostrace").toString + "/tbl"
    def attemptDirs(under: String, v: Long): Seq[String] =
      Option(new java.io.File(root, under).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith(f"c$v%05d-"))
    val rows = spark.range(0, 10).select(col("id"))
    DeltaLog.commitAppend(root, rows)                                  // v0
    assert(DeltaLog.commitAppend(root, rows, Some(0L)) == 1L)          // winner
    intercept[java.util.ConcurrentModificationException] {
      DeltaLog.commitAppend(root, rows, Some(0L))                      // loser
    }
    val live = DeltaLog.snapshotFiles(spark, root).map(_.takeWhile(_ != '/')).toSet
    assert(attemptDirs("", 1L).size == 1 && live(attemptDirs("", 1L).head),
      s"expected only the winning attempt's directory: ${attemptDirs("", 1L)}")
    // a row-retracting writer with the change data feed on also writes
    // change files; the losing attempt takes those with it
    val base = DeltaLog.setTableProperties(root, Map("delta.enableChangeDataFeed" -> "true"))
    assert(DeltaLog.deleteWhere(spark, root, col("id") === 3L, Some(base))._1 == base + 1)
    intercept[java.util.ConcurrentModificationException] {
      DeltaLog.deleteWhere(spark, root, col("id") === 4L, Some(base))
    }
    assert(attemptDirs("_change_data", base + 1).size == 1,
      s"expected only the winner's change files: ${attemptDirs("_change_data", base + 1)}")
    assert(DeltaLog.read(spark, root).count() == 18L) // two appends of 0..9, id 3 deleted
  }

  test("DeltaLog OPTIMIZE: dataChange=false rewrite — identical rows, fewer files, time travel intact") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltaopt").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(3)) === i)
    (0 to 2).foreach(i => DeltaLog.commitAppend(root, part(i).repartition(3)))
    val preV = DeltaLog.currentVersion(root)
    val preFiles = DeltaLog.snapshotFiles(spark, root, Some(preV))
    val preRows = DeltaLog.read(spark, root, Some(preV))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val v = DeltaLog.commitOptimize(spark, root, targetFiles = 2)
    assert(v == preV + 1)
    // the rewrite is a physical re-layout: same rows, fewer files
    val postFiles = DeltaLog.snapshotFiles(spark, root, Some(v))
    assert(postFiles.size == 2 && preFiles.size == 9,
      s"expected 9 -> 2 files, got ${preFiles.size} -> ${postFiles.size}")
    assert(postFiles.toSet.intersect(preFiles.toSet).isEmpty,
      "optimize must tombstone every old file")
    val postRows = DeltaLog.read(spark, root, Some(v))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(postRows.sameElements(preRows), "optimize must not change the row set")
    // protocol fidelity: EVERY action in the optimize commit says
    // dataChange=false — the marker a streaming consumer keys its
    // skip-this-commit decision on
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json"))
    assert(lines.size == preFiles.size + 2, s"9 removes + 2 adds expected: $lines")
    lines.forEach { l =>
      if (l.nonEmpty) assert(l.contains("\"dataChange\":false"),
        s"optimize actions must be dataChange=false: $l")
    }
    // time travel to the fragmented version still resolves the OLD files
    assert(DeltaLog.snapshotFiles(spark, root, Some(preV)).toSet == preFiles.toSet,
      "removes are tombstones, not history deletions")
  }

  test("DeltaLog changesSince: skips dataChange=false commits, resumes at any cursor; naive reader double-counts") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltacdc").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(3)) === i)
    DeltaLog.commitAppend(root, part(0))            // v0
    DeltaLog.commitAppend(root, part(1))            // v1
    DeltaLog.commitOptimize(spark, root)            // v2: rewrite, no logical change
    DeltaLog.commitAppend(root, part(2))            // v3
    val n = Tables(spark, sfDir, "documents").count()
    // full-history CDC read == the latest snapshot (append-only history)
    val all = DeltaLog.changesSince(spark, root, -1L)
    assert(all.count() == n, "flag-honoring consumer must see each row once")
    // a NAIVE reader that ingests every add double-counts the rewrite
    val naivePaths = (0L to 3L).flatMap(v =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
        root, "_delta_log", f"$v%020d.json")).toArray.map(_.toString)
        .filter(_.contains("\"add\""))
        .map(l => l.split("\"path\":\"")(1).split("\"")(0)))
      .map(p => s"$root/$p")
    assert(spark.read.parquet(naivePaths: _*).count() ==
      n + part(0).count() + part(1).count(),
      "ignoring dataChange=false must double-count the optimized rows — the flag is load-bearing")
    // cursor resumability: any split point composes to the same set,
    // including a cursor ON the optimize commit
    Seq(0L, 1L, 2L).foreach { c =>
      val got = DeltaLog.changesSince(spark, root, -1L, Some(c)).count() +
        DeltaLog.changesSince(spark, root, c).count()
      assert(got == n, s"cursor $c must neither drop nor replay a commit")
    }
    // empty range: typed empty frame, not a zero-column crash
    val empty = DeltaLog.changesSince(spark, root, 2L, Some(2L))
    assert(empty.isEmpty && empty.columns.contains("doc_id"))
  }

  test("DeltaStream source: versions are offsets, OPTIMIZE skipped, restart resumes without replay") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltastream").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(3)) === i)
    DeltaLog.commitAppend(root, part(0))            // v0
    DeltaLog.commitAppend(root, part(1))            // v1
    DeltaLog.commitOptimize(spark, root)            // v2: must contribute NOTHING
    val run = Files.createTempDirectory("graft-deltastream-run").toString
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.DeltaStream].getName)
        .option("path", root).option("maxVersionsPerTrigger", 1L)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$run/sink")
        .option("checkpointLocation", s"$run/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val n01 = part(0).count() + part(1).count()
    val first = spark.read.parquet(s"$run/sink")
    assert(first.count() == n01,
      "the optimize commit's adds must not be ingested — each row exactly once")
    assert(first.select(col("doc_id")).distinct().count() == n01,
      "no duplicates from the rewrite commit")
    // new commits land after the first drain; a restart from the same
    // checkpoint must pick up ONLY the new versions (offsets restored
    // through deserializeOffset, never rewound)
    DeltaLog.commitAppend(root, part(2))            // v3
    drain()
    val all = spark.read.parquet(s"$run/sink")
    val n = n01 + part(2).count()
    assert(all.count() == n, "restart must resume at the committed version")
    assert(all.select(col("doc_id")).distinct().count() == n,
      "no version replayed across the restart")
    // batching invariance: one big trigger (maxVersionsPerTrigger covers
    // the whole log) accumulates the same set as version-per-trigger
    val run2 = Files.createTempDirectory("graft-deltastream-one").toString
    val q2 = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 100L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run2/sink")
      .option("checkpointLocation", s"$run2/ckpt")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val one = spark.read.parquet(s"$run2/sink")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val many = all.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(one.sameElements(many),
      "trigger batching must be invisible to the accumulated row set")
  }

  test("DeltaLog schema evolution: widened append emits metaData; old files null-fill; time travel keeps each version's schema") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltaevo").toString + "/tbl"
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang")).filter(col("doc_id") < 100)
    val widened = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("score"))
      .filter(col("doc_id") >= 100 && col("doc_id") < 200)
    DeltaLog.commitAppend(root, base)       // v0: (doc_id, lang)
    DeltaLog.commitAppend(root, widened)    // v1: + score — must evolve
    // v1's commit carries a fresh metaData action under the SAME table id
    val v0Meta = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "_delta_log", f"${0L}%020d.json")).get(1)
    val v1Lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "_delta_log", f"${1L}%020d.json"))
    assert(v1Lines.get(0).contains("\"metaData\"") && v1Lines.get(0).contains("score"),
      s"widened append must publish the evolved schema: $v1Lines")
    val id = "\"id\":\"[^\"]+\"".r
    assert(id.findFirstIn(v0Meta) == id.findFirstIn(v1Lines.get(0)),
      "evolution must keep the table id")
    // latest snapshot: 3 columns, pre-evolution rows null-fill score
    val latest = DeltaLog.read(spark, root)
    assert(latest.columns.toSeq == Seq("doc_id", "lang", "score"))
    assert(latest.filter(col("doc_id") < 100 && col("score").isNull).count() == base.count(),
      "pre-evolution rows must surface the new column as null, not vanish")
    assert(latest.filter(col("score").isNotNull).count() == widened.count())
    // time travel to v0 reads v0's OWN schema
    assert(DeltaLog.read(spark, root, Some(0L)).columns.toSeq == Seq("doc_id", "lang"))
    // a same-schema append emits NO metaData action
    DeltaLog.commitAppend(root, widened.limit(5))
    val v2Lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "_delta_log", f"${2L}%020d.json"))
    assert(!v2Lines.toString.contains("\"metaData\""),
      "an unevolved append must not republish metaData")
    // the CDC read straddling the evolution null-fills too
    val cdc = DeltaLog.changesSince(spark, root, -1L)
    assert(cdc.columns.contains("score") &&
      cdc.filter(col("score").isNull).count() == base.count())
  }

  test("DeltaLog vacuum: frees pre-horizon files only; retained time travel survives, older reads fail") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltavac").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(3)) === i)
    DeltaLog.commitAppend(root, part(0))            // v0
    DeltaLog.commitAppend(root, part(1))            // v1
    DeltaLog.commitOptimize(spark, root)            // v2 tombstones v0/v1 files
    val preFiles = DeltaLog.snapshotFiles(spark, root, Some(1L))
    val n = DeltaLog.read(spark, root, Some(2L)).count()
    val deleted = DeltaLog.vacuum(spark, root, retainFromVersion = 2L)
    // exactly the files live only before the horizon are gone from disk
    assert(deleted.toSet == preFiles.toSet, s"expected $preFiles, deleted $deleted")
    deleted.foreach(p => assert(!new java.io.File(s"$root/$p").exists()))
    // the retained snapshot still reads in full
    assert(DeltaLog.read(spark, root, Some(2L)).count() == n)
    // pre-horizon time travel now fails at read time (files are gone),
    // matching Delta's post-VACUUM contract — the log is untouched
    intercept[Exception] {
      DeltaLog.read(spark, root, Some(1L)).collect()
    }
  }

  test("DeltaLog: replays a FOREIGN hand-authored log — multi-part checkpoint, " +
      "remove-then-re-add across the checkpoint, dataChange=false compaction, stats/txn noise") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-delta-foreign").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val data = Seq(
      ("f1.parquet", 0L until 3L), ("f2.parquet", 10L until 14L),
      ("f1c.parquet", 0L until 3L)) // f1c = f1 compacted (same rows)
    val schemaJson = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType))).json
    val sizes = data.map { case (name, ids) =>
      val df = spark.createDataFrame(ids.map(i => (i, s"l$i"))).toDF("doc_id", "lang")
      val tmp = s"$root/.tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, name))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      name -> java.nio.file.Paths.get(root, name).toFile.length()
    }.toMap
    def commit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(logDir.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    def add(p: String, change: Boolean) =
      s"""{"add":{"path":"$p","partitionValues":{},"size":${sizes(p)},""" +
        s""""modificationTime":1700000000000,"dataChange":$change,""" +
        s""""stats":"{\\"numRecords\\":9}","tags":{"w":"foreign"}}}"""
    def remove(p: String, change: Boolean) =
      s"""{"remove":{"path":"$p","deletionTimestamp":1700000000001,"dataChange":$change}}"""
    val meta = """{"metaData":{"id":"aaaa-bbbb","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(schemaJson)},""" +
      """"partitionColumns":[],"configuration":{},"createdTime":1700000000000}}"""
    // v0: header + f1 + f2 (commitInfo-first, the foreign convention)
    commit(0, Seq("""{"commitInfo":{"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta, add("f1.parquet", change = true), add("f2.parquet", change = true)))
    // v1: remove f2 — will be RE-ADDED after the checkpoint boundary
    commit(1, Seq("""{"commitInfo":{"operation":"DELETE"}}""",
      remove("f2.parquet", change = true)))
    // v2: dataChange=false COMPACTION — f1 rewritten as f1c
    commit(2, Seq("""{"commitInfo":{"operation":"OPTIMIZE"}}""",
      remove("f1.parquet", change = false), add("f1c.parquet", change = false)))
    // multi-part checkpoint @ v2: part 1 = protocol+metaData, part 2 =
    // live add (with foreign stats/tags fields) PLUS a remove TOMBSTONE
    // for f2 — tombstones are vacuum state, a replayer must ignore them
    val fAdd = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType), StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType))))
    val fRemove = StructType(Seq(StructField("path", StringType),
      StructField("deletionTimestamp", LongType), StructField("dataChange", BooleanType)))
    val fMeta = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType), StructField("createdTime", LongType)))
    val fProto = StructType(Seq(StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val ckptSchema = StructType(Seq(StructField("protocol", fProto),
      StructField("metaData", fMeta), StructField("add", fAdd),
      StructField("remove", fRemove)))
    def writeCkptPart(i: Int, of: Int, rows: Seq[Row]): Unit = {
      val tmp = s"$root/.ckpt-tmp"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ckptSchema)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        logDir.resolve(f"${2L}%020d.checkpoint.$i%010d.$of%010d.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    writeCkptPart(1, 2, Seq(
      Row(Row(1, 2), null, null, null),
      Row(null, Row("aaaa-bbbb", schemaJson, 1700000000000L), null, null)))
    writeCkptPart(2, 2, Seq(
      Row(null, null, Row("f1c.parquet", Map.empty[String, String], sizes("f1c.parquet"),
        1700000000000L, false, """{"numRecords":3}""", Map("w" -> "foreign")), null),
      Row(null, null, null, Row("f2.parquet", 1700000000001L, true))))
    java.nio.file.Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":2,"parts":2}""".getBytes("UTF-8"))
    // log cleanup: the pre-checkpoint JSON commits are GONE — replay at
    // v2+ must come entirely from the checkpoint parts
    (0L to 2L).foreach(v => java.nio.file.Files.delete(logDir.resolve(f"$v%020d.json")))
    // v3: RE-ADD f2 (same path removed at v1) plus txn/commitInfo noise
    commit(3, Seq("""{"commitInfo":{"operation":"WRITE"}}""",
      """{"txn":{"appId":"foreign-app","version":9}}""",
      add("f2.parquet", change = true)))

    assert(DeltaLog.currentVersion(root) == 3L)
    assert(DeltaLog.snapshotFiles(spark, root, Some(2L)) == Seq("f1c.parquet"),
      "checkpoint-only replay must see exactly the compacted live set")
    assert(DeltaLog.snapshotFiles(spark, root).toSet ==
      Set("f1c.parquet", "f2.parquet"),
      "the re-added path must come back after the checkpoint boundary")
    assert(DeltaLog.read(spark, root, Some(2L)).count() == 3)
    val latest = DeltaLog.read(spark, root)
    assert(latest.count() == 7)
    assert(latest.columns.toSeq == Seq("doc_id", "lang"))

    // a snapshot with NO live files still reads as an EMPTY TYPED frame
    // (schemaString from metaData), never a zero-column frame
    val root2 = Files.createTempDirectory("graft-delta-empty").toString + "/tbl"
    val log2 = java.nio.file.Paths.get(root2, "_delta_log")
    java.nio.file.Files.createDirectories(log2)
    java.nio.file.Files.write(log2.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta)
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val empty = DeltaLog.read(spark, root2)
    assert(empty.columns.toSeq == Seq("doc_id", "lang"))
    assert(empty.filter(col("lang").isNotNull).count() == 0)
  }

  test("DeltaLog: own checkpoint carries protocol/metaData + full add rows — " +
      "a follower of _last_checkpoint alone resolves schema and live files") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-ckpt").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(3)) === i)
    DeltaLog.commitAppend(root, part(0))
    DeltaLog.commitAppend(root, part(1))
    DeltaLog.checkpoint(spark, root)
    // a reader that follows _last_checkpoint and NEVER reads the JSON tail
    val lc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", "_last_checkpoint")), "UTF-8")
    val v = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lc).get("version").asLong()
    val ck = spark.read.parquet(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.checkpoint.parquet").toString)
    assert(ck.filter(col("protocol").isNotNull).count() == 1,
      "checkpoint must carry the protocol action")
    val md = ck.filter(col("metaData").isNotNull)
      .select(col("metaData.schemaString")).collect()
    assert(md.length == 1 && md(0).getString(0).contains("doc_id"),
      "checkpoint must carry metaData with the schemaString")
    val adds = ck.filter(col("add").isNotNull)
      .select("add.path", "add.size", "add.dataChange").collect()
    assert(adds.nonEmpty && adds.forall(r => r.getLong(1) > 0L),
      "checkpoint add rows must carry real file sizes")
    assert(adds.map(_.getString(0)).toSet ==
      DeltaLog.snapshotFiles(spark, root, Some(v)).toSet)
  }

  test("DeltaLog: checkpoint-bounded history — append, changesSince and vacuum " +
      "survive trimmed pre-checkpoint JSON (standard foreign log retention)") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-trimmed").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(4)) === i)
    DeltaLog.commitAppend(root, part(0))  // v0 (header)
    DeltaLog.commitAppend(root, part(1))  // v1
    val ckptV = DeltaLog.checkpoint(spark, root) // @ v1
    assert(ckptV == 1L)
    // log retention trims EVERY pre-checkpoint JSON commit — the
    // checkpoint parquet is now the only carrier of protocol + metaData
    (0L to 1L).foreach(v => java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")))
    // append still works: latestMetaData resolves through the checkpoint
    // (driver-side parquet-mr, no SparkSession) instead of dying on the
    // missing commit 0 — and a same-schema append must not republish
    // metaData (it found the real schema, not "no metaData")
    val v2 = DeltaLog.commitAppend(root, part(2))
    assert(v2 == 2L)
    assert(!java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "_delta_log", f"$v2%020d.json")).toString.contains("\"metaData\""),
      "same-schema append on a trimmed history must not republish metaData")
    val n = part(0).count() + part(1).count() + part(2).count()
    assert(DeltaLog.read(spark, root).count() == n)
    // an EVOLVED append still detects the schema change against the
    // checkpoint-resolved schema and publishes fresh metaData
    val widened = part(3).withColumn("score", length(col("lang")).cast("long"))
    val v3 = DeltaLog.commitAppend(root, widened)
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      root, "_delta_log", f"$v3%020d.json")).get(0).contains("score"))
    assert(DeltaLog.read(spark, root).columns.contains("score"))
    // the streaming-source schema follows the evolution (latest metaData,
    // never commit 0's — which is gone here anyway)
    assert(DeltaLog.latestSchema(root).fieldNames.toSeq ==
      Seq("doc_id", "lang", "score"))
    // CDC read across the trimmed range: missing commits read as empty,
    // the post-checkpoint tail still serves
    assert(DeltaLog.changesSince(spark, root, -1L).count() ==
      part(2).count() + part(3).count())
    // vacuum survives the trimmed history and deletes nothing live
    val deleted = DeltaLog.vacuum(spark, root, retainFromVersion = 2L)
    assert(deleted.isEmpty, s"nothing is pre-horizon garbage here: $deleted")
    assert(DeltaLog.read(spark, root).count() == n + widened.count())
  }

  test("DeltaLog: vacuum with a horizon below a trimmed checkpoint keeps the " +
      "checkpoint's live files") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-trimmed-vac").toString + "/tbl"
    def part(i: Int) = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .filter(pmod(col("doc_id"), lit(4)) === i)
    DeltaLog.commitAppend(root, part(0))  // v0
    DeltaLog.commitAppend(root, part(1))  // v1
    assert(DeltaLog.checkpoint(spark, root) == 1L)
    (0L to 1L).foreach(v => java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")))
    DeltaLog.commitAppend(root, part(2))  // v2
    val n = DeltaLog.read(spark, root).count()
    assert(n == part(0).count() + part(1).count() + part(2).count())
    // the replay at v0 folds nothing (commit 0 is gone), yet v1's live set
    // — recorded only by the checkpoint — is live at every retained version
    val deleted = DeltaLog.vacuum(spark, root, retainFromVersion = 0L)
    assert(deleted.isEmpty, s"checkpointed live files were deleted: $deleted")
    assert(DeltaLog.read(spark, root).count() == n)
  }

  test("DeltaLog txn (SetTransaction): re-delivered batches are detected no-ops, " +
      "apps have independent cursors, and the cursor survives checkpoint + trim") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-txn").toString + "/tbl"
    def ids(a: Long, b: Long) = spark.range(a, b).select(col("id"))
    assert(DeltaLog.txnVersion(spark, root, "appA").isEmpty)
    assert(DeltaLog.commitAppendIdempotent(spark, root, ids(0, 10), "appA", 0L) == 0L)
    assert(DeltaLog.txnVersion(spark, root, "appA").contains(0L))
    // at-least-once redelivery: same (app, version) — nothing written
    assert(DeltaLog.commitAppendIdempotent(spark, root, ids(0, 10), "appA", 0L) == 0L)
    assert(DeltaLog.read(spark, root).count() == 10L)
    assert(DeltaLog.commitAppendIdempotent(spark, root, ids(10, 20), "appA", 1L) == 1L)
    // a different app id is an independent cursor
    assert(DeltaLog.commitAppendIdempotent(spark, root, ids(20, 25), "appB", 0L) == 2L)
    assert(DeltaLog.read(spark, root).count() == 25L)
    // the cursor survives a checkpoint + full JSON trim — a trimmed
    // history must not re-admit a replayed batch
    val cv = DeltaLog.checkpoint(spark, root)
    (0L to cv).foreach(v => Files.delete(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(DeltaLog.txnVersion(spark, root, "appA").contains(1L))
    assert(DeltaLog.commitAppendIdempotent(spark, root, ids(0, 10), "appA", 1L) == cv)
    assert(DeltaLog.read(spark, root).count() == 25L, "replayed batch must not land")
    // a genuinely new version still commits
    DeltaLog.commitAppendIdempotent(spark, root, ids(25, 30), "appA", 2L)
    assert(DeltaLog.read(spark, root).count() == 30L)
  }

  test("DeltaLog: protocol refusal gate — deletion-vector / column-mapping " +
      "tables refuse loudly instead of misreading") {
    import graft.sources.DeltaLog
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType))).json
    def authorTable(protocol: String, configuration: String): String = {
      val root = Files.createTempDirectory("graft-delta-proto").toString + "/tbl"
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      val meta = """{"metaData":{"id":"cafe-0001","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
        s""""partitionColumns":[],"configuration":$configuration}}"""
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
        Seq(protocol, meta).mkString("", "\n", "\n").getBytes("UTF-8"))
      root
    }
    // reader version 3 with deletionVectors is now SUPPORTED (the read
    // path row-filters DV'd files — its own test below): declaration
    // alone must not refuse
    val dv = authorTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      "{}")
    assert(DeltaLog.read(spark, dv).columns.toSeq == Seq("doc_id"))
    assert(DeltaLog.latestSchema(dv).fieldNames.toSeq == Seq("doc_id"))
    // an UNKNOWN reader feature: replay semantics this reader does not
    // implement — refuse, never misread
    val vc = authorTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["icebergCompatV9"],"writerFeatures":["icebergCompatV9"]}}""",
      "{}")
    val e1 = intercept[UnsupportedOperationException] { DeltaLog.read(spark, vc) }
    assert(e1.getMessage.contains("minReaderVersion=3") &&
      e1.getMessage.contains("icebergCompatV9") &&
      e1.getMessage.contains("columnMapping, deletionVectors, timestampNtz"),
      e1.getMessage)
    // the stream source refuses the same table at schema resolution
    val e1s = intercept[UnsupportedOperationException] { DeltaLog.latestSchema(vc) }
    assert(e1s.getMessage.contains("minReaderVersion=3"))
    // an UNKNOWN column-mapping mode (a future protocol's) still refuses —
    // 'none', 'name' AND 'id' are the supported set (id-mode reads bind by
    // parquet field id; its own test below)
    val cm = authorTable(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"delta.columnMapping.mode":"fancy-future-mode"}""")
    val e2 = intercept[UnsupportedOperationException] { DeltaLog.read(spark, cm) }
    assert(e2.getMessage.contains("delta.columnMapping.mode=fancy-future-mode") &&
      e2.getMessage.contains("supports modes 'none', 'name' and 'id'"), e2.getMessage)
    // a plain reader-version-1 table with benign configuration still reads
    val ok = authorTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"delta.appendOnly":"false"}""")
    assert(DeltaLog.read(spark, ok).columns.toSeq == Seq("doc_id"))
  }

  test("DeltaLog: protocol refusal survives a CHECKPOINTED history — readerFeatures " +
      "recovered from the checkpoint row; mrv>=3 with unrecoverable features refuses") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaJson = StructType(Seq(StructField("doc_id", LongType))).json
    // author a FOREIGN single-part checkpoint carrying the protocol row
    // (the JSON tail above it holds only data commits — the normal shape
    // after log retention trims the pre-checkpoint history)
    def authorCheckpointed(protoRow: org.apache.spark.sql.Row,
        protoSchema: StructType): String = {
      val root = Files.createTempDirectory("graft-delta-ckpt-proto").toString + "/tbl"
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      val ckptSchema = StructType(Seq(
        StructField("protocol", protoSchema),
        StructField("metaData", StructType(Seq(
          StructField("id", StringType),
          StructField("schemaString", StringType),
          StructField("partitionColumns", ArrayType(StringType)),
          StructField("configuration", MapType(StringType, StringType)))))))
      val rows = Seq(
        org.apache.spark.sql.Row(protoRow, null),
        org.apache.spark.sql.Row(null, org.apache.spark.sql.Row(
          "dv-0001", schemaJson, Seq.empty[String], Map.empty[String, String])))
      val tmp = s"$root/.ckpt-tmp"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ckptSchema)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        logDir.resolve(f"${0L}%020d.checkpoint.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      java.nio.file.Files.write(logDir.resolve("_last_checkpoint"),
        """{"version":0,"size":2}""".getBytes("UTF-8"))
      // post-checkpoint tail: one data-only commit — NO protocol/metaData
      java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"),
        ("""{"add":{"path":"f1.parquet","partitionValues":{},"size":10,""" +
          """"modificationTime":1700000000000,"dataChange":true}}""" + "\n")
          .getBytes("UTF-8"))
      root
    }
    // an UNSUPPORTED feature declared in the CHECKPOINT protocol row: the
    // stream schema gate must refuse — a scalar-only fallback would
    // reconstruct {"minReaderVersion":3} featureless and misread
    val dvRoot = authorCheckpointed(
      org.apache.spark.sql.Row(3, 7, Seq("icebergCompatV9"), Seq("icebergCompatV9")),
      StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))
    val e1 = intercept[UnsupportedOperationException] { DeltaLog.latestSchema(dvRoot) }
    assert(e1.getMessage.contains("minReaderVersion=3") &&
      e1.getMessage.contains("icebergCompatV9"), e1.getMessage)
    // mrv=3 whose checkpoint schema carries NO readerFeatures column at
    // all (a lossy foreign checkpoint): the features CANNOT be
    // materialized, so the gate must refuse rather than assume none
    val lossyRoot = authorCheckpointed(
      org.apache.spark.sql.Row(3, 7),
      StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))
    val e2 = intercept[UnsupportedOperationException] { DeltaLog.latestSchema(lossyRoot) }
    assert(e2.getMessage.contains("minReaderVersion=3") &&
      e2.getMessage.contains("<absent>"), e2.getMessage)
    // and OUR OWN checkpoint round-trips features: a supported
    // columnMapping-featured protocol checkpointed by this writer still
    // resolves (no false refusal after the fallback)
    val okRoot = authorCheckpointed(
      org.apache.spark.sql.Row(3, 7, Seq("columnMapping"), Seq("columnMapping")),
      StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))
    assert(DeltaLog.latestSchema(okRoot).fieldNames.toSeq == Seq("doc_id"))
  }

  test("DeltaLog: OWN multi-part checkpoint — header in part 1, adds round-robin, " +
      "trimmed-history replay and stats skipping identical to single-part") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-mpc").toString + "/tbl"
    (0 until 5).foreach(i =>
      DeltaLog.commitAppend(root, spark.range(i * 10L, (i + 1) * 10L)
        .select(col("id").as("doc_id")).coalesce(1)))
    val before = DeltaLog.read(spark, root).orderBy(col("doc_id")).collect().toSeq
    assert(DeltaLog.checkpoint(spark, root, parts = 3) == 4L)
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    (1 to 3).foreach(i => assert(java.nio.file.Files.isRegularFile(
      logDir.resolve(f"${4L}%020d.checkpoint.$i%010d.${3}%010d.parquet")),
      s"part $i of 3 must exist"))
    val lc = new String(java.nio.file.Files.readAllBytes(
      logDir.resolve("_last_checkpoint")), "UTF-8")
    assert(lc.contains(""""parts":3"""), lc)
    // trim EVERY JSON commit: the three parts are now the only carrier
    (0L to 4L).foreach(v => java.nio.file.Files.delete(
      logDir.resolve(f"$v%020d.json")))
    assert(DeltaLog.read(spark, root).orderBy(col("doc_id")).collect().toSeq == before)
    // stats still skip across the multi-part boundary
    assert(DeltaLog.filesMatching(spark, root, col("doc_id") === 25L).size == 1)
    assert(DeltaLog.readWhere(spark, root, col("doc_id") === 25L)
      .collect().map(_.getLong(0)).toSeq == Seq(25L))
    // and the metaData-derived gates still resolve (checkpoint fallback)
    assert(DeltaLog.latestSchema(root).fieldNames.toSeq == Seq("doc_id"))
  }

  test("DeltaLog data skipping: stats prune files exactly; foreign stats honored; " +
      "partition values prune; unsupported predicates read everything, correctly") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-skip").toString + "/tbl"
    // three commits with disjoint id ranges and overlapping lang sets
    DeltaLog.commitAppend(root, spark.createDataFrame(Seq(
      (1L, "en", 1.5), (2L, "de", 2.5))).toDF("id", "lang", "w").coalesce(1))
    DeltaLog.commitAppend(root, spark.createDataFrame(Seq(
      (10L, "en", 0.5), (11L, "fr", 9.5))).toDF("id", "lang", "w").coalesce(1))
    DeltaLog.commitAppend(root, spark.createDataFrame(Seq(
      (20L, "zh", 5.0), (21L, null.asInstanceOf[String], 6.0)))
      .toDF("id", "lang", "w").coalesce(1))
    def filesFor(p: org.apache.spark.sql.Column) =
      DeltaLog.filesMatching(spark, root, p).size
    def same(p: org.apache.spark.sql.Column): Unit = {
      val skip = DeltaLog.readWhere(spark, root, p)
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      val full = DeltaLog.read(spark, root).filter(p)
        .orderBy(col("id")).collect().map(_.toSeq).toSeq
      assert(skip == full, s"readWhere must equal read().filter for $p")
    }
    // long range: exactly one file each
    assert(filesFor(col("id") === 10L) == 1)
    assert(filesFor(col("id") > 11L) == 1)
    assert(filesFor(col("id") <= 2L) == 1)
    assert(filesFor(col("id") >= 2L && col("id") < 11L) == 2)
    // string + double envelopes prune too (null in lang does not poison
    // the envelope — nulls can never satisfy a comparison)
    assert(filesFor(col("lang") === "fr") == 1)
    assert(filesFor(col("w") > 6.5) == 1)
    // reversed literal-first order
    assert(filesFor(lit(20L) <= col("id")) == 1)
    for (p <- Seq(col("id") === 10L, col("id") >= 2L && col("id") < 11L,
      col("lang") === "fr", col("w") > 6.5, lit(20L) <= col("id"))) same(p)
    // unsupported conjunct: everything reads, result exact
    assert(filesFor(col("id") % 10L === 0L) == 3)
    same(col("id") % 10L === 0L)
    // no file matches: empty result, zero files
    assert(filesFor(col("id") === 500L) == 0)
    assert(DeltaLog.readWhere(spark, root, col("id") === 500L).count() == 0L)
    // stats survive our own checkpoint + a full JSON trim
    DeltaLog.checkpoint(spark, root)
    (0L to 2L).foreach(v => java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(filesFor(col("id") === 10L) == 1,
      "stats must ride the checkpoint across a log trim")
    same(col("id") === 10L)
    // FOREIGN stats: hand-author an add whose stats string delta-spark
    // wrote — the reader must prune from it without ever opening the file
    val froot = Files.createTempDirectory("graft-delta-skip-foreign").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(froot, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    val meta = """{"metaData":{"id":"skip-1","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
      """"partitionColumns":[],"configuration":{}}}"""
    val stats = """{\"numRecords\":3,\"minValues\":{\"id\":100},\"maxValues\":{\"id\":200},\"nullCount\":{\"id\":0}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta,
        s"""{"add":{"path":"ghost.parquet","partitionValues":{},"size":10,""" +
          s""""modificationTime":0,"dataChange":true,"stats":"$stats"}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    // the data file does NOT exist — pruning must happen from the stats
    // alone, so a predicate outside [100, 200] succeeds without touching it
    assert(DeltaLog.filesMatching(spark, froot, col("id") === 5L).isEmpty)
    assert(DeltaLog.readWhere(spark, froot, col("id") === 5L).count() == 0L)
    // PARTITION-VALUE pruning: the layout columns answer exactly, null
    // partition values skip (no row in such a file satisfies a comparison)
    val proot = Files.createTempDirectory("graft-delta-skip-part").toString + "/tbl"
    DeltaLog.commitAppendPartitioned(proot, spark.createDataFrame(Seq(
      (1L, "en"), (2L, "de"), (3L, null.asInstanceOf[String])))
      .toDF("id", "lang"), Seq("lang"))
    assert(DeltaLog.filesMatching(spark, proot, col("lang") === "de").size == 1)
    assert(DeltaLog.readWhere(spark, proot, col("lang") === "de")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("DeltaLog: CREATE a partitioned table — commit 0 records partitionColumns, " +
      "later appends route by the log's layout, mismatched layouts refuse") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-create-part").toString + "/tbl"
    val df1 = spark.range(0L, 8L).select(col("id").as("doc_id"),
      (col("id") % 2).cast("string").as("shard"))
    assert(DeltaLog.commitAppendPartitioned(root, df1, Seq("shard")) == 0L)
    // the metaData action spells the layout — any foreign reader sees it
    val commit0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json")), "UTF-8")
    assert(commit0.contains(""""partitionColumns":["shard"]"""), commit0)
    assert(commit0.contains(""""shard":"0"""") && commit0.contains(""""shard":"1""""),
      s"add actions must carry the partition values:\n$commit0")
    // a LATER plain append routes by the log's own layout — no
    // partitioning argument needed (or allowed to disagree)
    val df2 = spark.range(8L, 12L).select(col("id").as("doc_id"),
      (col("id") % 2).cast("string").as("shard"))
    assert(DeltaLog.commitAppend(root, df2) == 1L)
    val all = DeltaLog.read(spark, root).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(all.toSeq == (0L until 12L).map(i => (i, (i % 2).toString)))
    // partition-pruned read sees only its shard
    assert(DeltaLog.read(spark, root).filter(col("shard") === "1").count() == 6L)
    // disagreeing layout on an existing table refuses loudly
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commitAppendPartitioned(root, df2, Seq("doc_id"))
    }
    assert(e.getMessage.contains("partitioned by shard"), e.getMessage)
  }

  test("DeltaLog: PARTITIONED foreign tables — partition columns decode from " +
      "partitionValues on batch/CDC/stream reads; writes refuse; checkpoint keeps them") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory("graft-delta-part").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    // logical schema INCLUDES the partition columns; the data files hold
    // only doc_id — lang and bucket live in each add's partitionValues
    val schemaJson = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("bucket", LongType))).json
    val sizes = Seq("en0.parquet" -> (0L until 3L), "fr1.parquet" -> (10L until 14L),
      "nn.parquet" -> (20L until 22L))
      .map { case (name, ids) =>
        val df = spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")
        val tmp = s"$root/.tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, name))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
        name -> java.nio.file.Paths.get(root, name).toFile.length()
      }.toMap
    val meta = """{"metaData":{"id":"part-0001","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
      """"partitionColumns":["lang","bucket"],"configuration":{}}}"""
    def add(p: String, pv: String) =
      s"""{"add":{"path":"$p","partitionValues":$pv,"size":${sizes(p)},""" +
        """"modificationTime":1700000000000,"dataChange":true}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta,
        add("en0.parquet", """{"lang":"en","bucket":"0"}"""))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"),
      // fr partition plus a NULL partition value (Delta spells it as JSON null)
      Seq(add("fr1.parquet", """{"lang":"fr","bucket":"1"}"""),
        add("nn.parquet", """{"lang":null,"bucket":"2"}"""))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    // batch read: partition columns populated and TYPED from the add actions
    val out = DeltaLog.read(spark, root)
    assert(out.columns.toSeq == Seq("doc_id", "lang", "bucket"))
    val got = out.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
    val expected =
      (0L until 3L).map(i => (i, "en", 0L)) ++
        (10L until 14L).map(i => (i, "fr", 1L)) ++
        (20L until 22L).map(i => (i, null: String, 2L))
    assert(got.toSeq == expected)
    // partition-column predicates work (and prune to the right rows)
    assert(DeltaLog.read(spark, root).filter(col("lang") === "fr").count() == 4)
    // time travel sees only v0's partition
    assert(DeltaLog.read(spark, root, Some(0L))
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
    // CDC read carries the partition columns too
    assert(DeltaLog.changesSince(spark, root, 0L).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq ==
      ((10L until 14L).map(i => (i, "fr")) ++ (20L until 22L).map(i => (i, null: String))))
    // the STREAM source decodes partitionValues per file
    val run = Files.createTempDirectory("graft-delta-part-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$run/sink")
    assert(streamed.columns.toSeq == Seq("doc_id", "lang", "bucket"))
    assert(streamed.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
      .toSeq == expected)
    // a checkpoint preserves partitionValues: trim the JSON history and
    // the replay must still decode the partitions from the checkpoint
    assert(DeltaLog.checkpoint(spark, root) == 1L)
    (0L to 1L).foreach(v => java.nio.file.Files.delete(
      logDir.resolve(f"$v%020d.json")))
    assert(DeltaLog.read(spark, root).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
      .toSeq == expected)
    // CHECKPOINT-ONLY metaData (the normal foreign shape: metaData
    // precedes the checkpoint, retention trims the JSON): every
    // metaData-derived gate must resolve through the checkpoint — the
    // WRITER must route rows into partition directories and emit
    // partitionValues per file group (with only-tail metaData resolution
    // it saw "unpartitioned" here and wrote unprunable flat files), and
    // a fresh stream must decode partition values (not null-fill them)
    val appendV = DeltaLog.commitAppend(root, spark.createDataFrame(Seq(
      (40L, "zz", 4L), (41L, null.asInstanceOf[String], 5L)))
      .toDF("doc_id", "lang", "bucket"))
    assert(appendV == 2L)
    val afterAppend = DeltaLog.read(spark, root)
      .filter(col("doc_id") >= 40L).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
    assert(afterAppend.toSeq == Seq((40L, "zz", 4L), (41L, null: String, 5L)),
      "a partitioned append must round-trip, null partition values included")
    // the committed add actions carry real partitionValues (not {})
    val commit2 = new String(java.nio.file.Files.readAllBytes(
      logDir.resolve(f"${2L}%020d.json")), "UTF-8")
    assert(commit2.contains(""""lang":"zz"""") && commit2.contains(""""bucket":"4""""),
      s"add actions must spell the partition values:\n$commit2")
    assert(commit2.contains(""""lang":null"""),
      s"a null partition value is JSON null:\n$commit2")
    // a fresh post-trim commit: the stream's file inventory finds ONLY
    // this JSON commit (pre-checkpoint files are the snapshot a new
    // consumer bootstraps from), and its partition values must decode —
    // which requires latestSchema/latestPartitionColumns to have found
    // the partition columns in the checkpoint
    val deDf = spark.createDataFrame(Seq(Tuple1(30L), Tuple1(31L))).toDF("doc_id")
    val tmp2 = s"$root/.tmp2"
    deDf.coalesce(1).write.mode("overwrite").parquet(tmp2)
    val part2 = new java.io.File(tmp2).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part2.toPath, java.nio.file.Paths.get(root, "de3.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
    val deSize = java.nio.file.Paths.get(root, "de3.parquet").toFile.length()
    java.nio.file.Files.write(logDir.resolve(f"${3L}%020d.json"),
      (s"""{"add":{"path":"de3.parquet","partitionValues":{"lang":"de","bucket":"3"},""" +
        s""""size":$deSize,"modificationTime":1700000000000,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    assert(DeltaLog.latestPartitionColumns(root) == Seq("lang", "bucket"),
      "partition columns must resolve through the checkpoint after a trim")
    val run2 = Files.createTempDirectory("graft-delta-part-run2").toString
    val q2 = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 10L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run2/sink").option("checkpointLocation", s"$run2/ckpt")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$run2/sink")
      .filter(col("doc_id") >= 30L).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
      .toSeq == Seq((30L, "de", 3L), (31L, "de", 3L),
        (40L, "zz", 4L), (41L, null: String, 5L)),
      "stream over a checkpoint-only partitioned table must decode " +
        "partitionValues from both foreign and own-writer commits")
  }

  test("DeltaStream: date partition values and INT64 timestamp columns decode; " +
      "stream equals batch read") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory("graft-delta-ts").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val schemaJson = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("day", DateType))).json
    // data file: (doc_id, ts) as INT64 micros — the partitioned day is a
    // partition value, not a file column
    val saved = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    val size = try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val df = spark.createDataFrame(Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456")),
        (2L, java.sql.Timestamp.valueOf("2024-03-01 23:59:59.0")))).toDF("doc_id", "ts")
      val tmp = s"$root/.tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, "d0.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      java.nio.file.Paths.get(root, "d0.parquet").toFile.length()
    } finally saved.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val meta = """{"metaData":{"id":"ts-0001","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
      """"partitionColumns":["day"],"configuration":{}}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta,
        s"""{"add":{"path":"d0.parquet","partitionValues":{"day":"2024-03-01"},""" +
          s""""size":$size,"modificationTime":1700000000000,"dataChange":true}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val batch = DeltaLog.read(spark, root).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDate(2).toString))
    assert(batch.toSeq == Seq(
      (1L, "2024-03-01 10:30:00.123456", "2024-03-01"),
      (2L, "2024-03-01 23:59:59.0", "2024-03-01")))
    val run = Files.createTempDirectory("graft-delta-ts-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$run/sink").orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDate(2).toString))
    assert(streamed.toSeq == batch.toSeq,
      "the stream must decode timestamps and date partition values exactly like batch")
  }

  test("DeltaStream: TIMESTAMP partition values decode in the SESSION timezone — " +
      "stream equals batch under a non-UTC spark.sql.session.timeZone") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory("graft-delta-tstz").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val schemaJson = StructType(Seq(
      StructField("doc_id", LongType), StructField("hr", TimestampType))).json
    val df = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L))).toDF("doc_id")
    val tmp = s"$root/.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, "h0.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val size = java.nio.file.Paths.get(root, "h0.parquet").toFile.length()
    val meta = """{"metaData":{"id":"tz-0001","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
      """"partitionColumns":["hr"],"configuration":{}}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta,
        s"""{"add":{"path":"h0.parquet","partitionValues":{"hr":"2024-03-01 10:30:00"},""" +
          s""""size":$size,"modificationTime":1700000000000,"dataChange":true}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    // a partition-value wall time means DIFFERENT instants under
    // different session zones; batch decodes via lit(str).cast(timestamp)
    // under the session conf — the stream reader must agree, not pin UTC
    val savedTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val batch = DeltaLog.read(spark, root).orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      val run = Files.createTempDirectory("graft-delta-tstz-run").toString
      val q = spark.readStream
        .format(classOf[graft.streaming.DeltaStream].getName)
        .option("path", root).option("maxVersionsPerTrigger", 1L)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.read.parquet(s"$run/sink").orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      assert(streamed.toSeq == batch.toSeq,
        s"stream ${streamed.toSeq} must equal batch ${batch.toSeq} under a non-UTC session tz")
      // and the instant itself is the New York reading of the wall time
      val expectedMillis = java.time.LocalDateTime.parse("2024-03-01T10:30:00")
        .atZone(java.time.ZoneId.of("America/New_York")).toInstant.toEpochMilli
      assert(batch.head._2 == expectedMillis, s"batch instant ${batch.head._2}")
    } finally spark.conf.set("spark.sql.session.timeZone", savedTz)
  }

  test("DeltaLog: column mapping 'name' mode — a foreign mapped table reads, " +
      "CDC-reads and STREAMS under logical names; writes into it refuse") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // logical (doc_id BIGINT, lang STRING) stored physically as
    // (col-7a3f, col-91bc) — the rename-stable indirection mapping exists for
    def fieldMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("doc_id", LongType, nullable = true, fieldMeta(1, "col-7a3f")),
      StructField("lang", StringType, nullable = true, fieldMeta(2, "col-91bc"))))
    def authorMapped(protocol: String): String = {
      val root = Files.createTempDirectory("graft-delta-cm").toString + "/tbl"
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      // data files spell the PHYSICAL names
      val sizes = Seq("f1.parquet" -> (0L until 4L), "f2.parquet" -> (10L until 13L))
        .map { case (name, ids) =>
          val df = spark.createDataFrame(ids.map(i => (i, s"l$i")))
            .toDF("col-7a3f", "col-91bc")
          val tmp = s"$root/.tmp"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, name))
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
          name -> java.nio.file.Paths.get(root, name).toFile.length()
        }.toMap
      val meta = """{"metaData":{"id":"cm-0001","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${mapper.writeValueAsString(logical.json)},""" +
        """"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name",""" +
        """"delta.columnMapping.maxColumnId":"2"}}}"""
      def add(p: String) =
        s"""{"add":{"path":"$p","partitionValues":{},"size":${sizes(p)},""" +
          """"modificationTime":1700000000000,"dataChange":true}}"""
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
        Seq(protocol, meta, add("f1.parquet")).mkString("", "\n", "\n").getBytes("UTF-8"))
      java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"),
        (add("f2.parquet") + "\n").getBytes("UTF-8"))
      root
    }
    val root = authorMapped(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")
    // batch read: logical names, physical values
    val out = DeltaLog.read(spark, root)
    assert(out.columns.toSeq == Seq("doc_id", "lang"))
    assert(out.orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      ((0L until 4L) ++ (10L until 13L)).map(i => (i, s"l$i")))
    // CDC read across the same mapping
    assert(DeltaLog.changesSince(spark, root, 0L).orderBy(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq == (10L until 13L))
    // time travel keeps the mapping too
    assert(DeltaLog.read(spark, root, Some(0L)).count() == 4)
    // the STREAM source surfaces logical names and all rows
    val run = Files.createTempDirectory("graft-delta-cm-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$run/sink")
    assert(streamed.columns.toSeq == Seq("doc_id", "lang"))
    assert(streamed.orderBy(col("doc_id")).collect().map(_.getLong(0)).toSeq ==
      ((0L until 4L) ++ (10L until 13L)))
    // APPENDS into a mapped table write the PHYSICAL layout: the new
    // file carries physical column names (+ field ids), interleaving
    // with the foreign files indistinguishably; the logical read unions
    val av = DeltaLog.commitAppend(root,
      spark.range(1).select((col("id") + 100L).as("doc_id"), lit("xx").as("lang"))
        .coalesce(1))
    val merged = DeltaLog.read(spark, root)
    assert(merged.count() == 8)
    assert(merged.filter(col("lang") === "xx").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
    val newFile = DeltaLog.snapshotFiles(spark, root, Some(av))
      .filterNot(Set("f1.parquet", "f2.parquet"))
    assert(newFile.size == 1)
    val rawNew = spark.read.parquet(s"$root/${newFile.head}")
    assert(rawNew.columns.toSeq == Seq("col-7a3f", "col-91bc"),
      s"appended file must spell PHYSICAL names, got ${rawNew.columns.toSeq}")
    // schema EVOLUTION on a mapped table MINTS a fresh mapping id from
    // delta.columnMapping.maxColumnId and a col-<uuid> physical name
    val ev = DeltaLog.commitAppend(root,
      spark.range(1).select((col("id") + 200L).as("doc_id"),
        lit("yy").as("lang"), lit(7L).as("extra")))
    val evolved = DeltaLog.read(spark, root, Some(ev))
    assert(evolved.columns.toSeq == Seq("doc_id", "lang", "extra"))
    assert(evolved.filter(col("extra").isNotNull).count() == 1L,
      "the minted column must bind the new file's physical name")
    assert(evolved.filter(col("doc_id") === 200L && col("extra") === 7L).count() == 1L)
    assert(evolved.filter(col("extra").isNull).count() == 8L,
      "pre-evolution files must null-fill the minted column")
    val extraField = DeltaLog.latestSchema(root)("extra")
    assert(extraField.metadata.getLong("delta.columnMapping.id") == 3L,
      "id must continue from maxColumnId=2")
    assert(extraField.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    // dropping or retyping a mapped column still refuses (owner's intent)
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.commitAppend(root,
        spark.range(1).select(col("id").as("doc_id")))
    }
    assert(e.getMessage.contains("drop or retype"), e.getMessage)
    // row-level verbs run on mapped tables: DELETE retracts via DVs
    // without rewriting the foreign files
    val filesBefore = DeltaLog.snapshotFiles(spark, root).toSet
    val (dv, nDel) = DeltaLog.deleteWhere(spark, root, col("doc_id") === 0L)
    assert(nDel == 1L)
    assert(DeltaLog.snapshotFiles(spark, root, Some(dv)).toSet == filesBefore,
      "mapped DELETE must not rewrite data files")
    assert(DeltaLog.read(spark, root).filter(col("doc_id") === 0L).count() == 0L)
    // nested minting: a struct-typed fresh column mints an id +
    // physicalName for EVERY nested field (PROTOCOL.md requires it — a
    // bare-children schemaString bricks the table for its owning engine),
    // the counter advancing across the whole mint
    DeltaLog.commitAppend(root,
      spark.range(1).select((col("id") + 300L).as("doc_id"),
        lit("ww").as("lang"), lit(5L).as("extra"),
        struct(lit(1L).as("a"), lit("x").as("b")).as("meta")))
    val metaField = DeltaLog.latestSchema(root)("meta")
    assert(metaField.metadata.getLong("delta.columnMapping.id") == 4L)
    val inner = metaField.dataType.asInstanceOf[StructType]
    inner.fields.foreach { nf =>
      assert(nf.metadata.contains("delta.columnMapping.id") &&
        nf.metadata.getString("delta.columnMapping.physicalName")
          .startsWith("col-"),
        s"nested field ${nf.name} must mint its own id + physicalName")
    }
    val allIds = {
      def ids(dt: org.apache.spark.sql.types.DataType): Seq[Long] = dt match {
        case s: StructType => s.fields.toSeq.flatMap(f =>
          (if (f.metadata.contains("delta.columnMapping.id"))
            Seq(f.metadata.getLong("delta.columnMapping.id")) else Seq.empty) ++
            ids(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => ids(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          ids(m.keyType) ++ ids(m.valueType)
        case _ => Seq.empty
      }
      ids(DeltaLog.latestSchema(root))
    }
    assert(allIds.distinct.size == allIds.size,
      s"mapping ids must be unique across the whole schema: $allIds")
    // the read binds the nested PHYSICAL names back to logical
    assert(DeltaLog.read(spark, root)
      .filter(col("meta.a") === 1L && col("meta.b") === "x").count() == 1L)
    // reader protocol 3 with columnMapping as the ONLY reader feature is
    // the same supported surface
    val v3 = authorMapped(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""")
    assert(DeltaLog.read(spark, v3).count() == 7)
  }

  test("DeltaLog: column mapping 'id' mode — parquet columns bind by FIELD " +
      "ID even when file names differ from the recorded physicalName; " +
      "appends stamp ids into new files") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    def fieldMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("doc_id", LongType, nullable = true, fieldMeta(1, "col-aaaa")),
      StructField("lang", StringType, nullable = true, fieldMeta(2, "col-bbbb"))))
    val root = Files.createTempDirectory("graft-delta-cmid").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    // the data file's column NAMES are neither logical nor physicalName —
    // only the FIELD IDS match the mapping (the true id-mode shape: a
    // name-based bind would read nulls or throw)
    def idMeta(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val fileSchema = StructType(Seq(
      StructField("weird_x", LongType, nullable = true, idMeta(1)),
      StructField("weird_y", StringType, nullable = true, idMeta(2))))
    val rows = (0L until 5L).map(i => org.apache.spark.sql.Row(i, s"l$i"))
    val tmp = s"$root/.tmp"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), fileSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(root, "f1.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val meta = """{"metaData":{"id":"cmid-01","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jm.writeValueAsString(logical.json)},""" +
      """"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id",""" +
      """"delta.columnMapping.maxColumnId":"2"}}}"""
    val sz = java.nio.file.Paths.get(root, "f1.parquet").toFile.length()
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""", meta,
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
          """"modificationTime":1700000000000,"dataChange":true}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val out = DeltaLog.read(spark, root)
    assert(out.columns.toSeq == Seq("doc_id", "lang"))
    assert(out.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (0L until 5L).map(i => (i, s"l$i")),
      "id-mode columns must bind by field id, not by name")
    // append: the new file carries the physical names AND the field ids,
    // so both id-binding and name-binding foreign readers accept it
    DeltaLog.commitAppend(root,
      spark.range(1).select((col("id") + 50L).as("doc_id"), lit("zz").as("lang")))
    val merged = DeltaLog.read(spark, root)
    assert(merged.count() == 6)
    assert(merged.filter(col("lang") === "zz").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq == Seq(50L))
    // the STREAM source binds id-mode columns by the file footer's
    // parquet FIELD ID (the foreign file's names — weird_x/weird_y —
    // match neither logical nor physical names, so a name bind would
    // null-fill every row), and physical-name-binds the engine-appended
    // file the same way its stamped ids allow
    val run = Files.createTempDirectory("graft-delta-cmid-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$run/sink")
    assert(streamed.columns.toSeq == Seq("doc_id", "lang"))
    assert(streamed.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      ((0L until 5L).map(i => (i, s"l$i")) :+ ((50L, "zz"))),
      "id-mode stream must bind by field id, not by name")
  }

  test("DeltaStream: streams under the EVOLVED schema — post-evolution " +
      "columns surface, pre-evolution files null-fill") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-deltastream-evo").toString + "/tbl"
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang")).filter(col("doc_id") < 50)
    val widened = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("score"))
      .filter(col("doc_id") >= 50 && col("doc_id") < 100)
    DeltaLog.commitAppend(root, base)     // v0: (doc_id, lang)
    DeltaLog.commitAppend(root, widened)  // v1: + score (evolution)
    val run = Files.createTempDirectory("graft-deltastream-evo-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink")
      .option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(s"$run/sink")
    assert(out.columns.toSeq == Seq("doc_id", "lang", "score"),
      "the stream must bind to the latest metaData schema, not commit 0's")
    assert(out.count() == base.count() + widened.count())
    assert(out.filter(col("doc_id") < 50 && col("score").isNull).count() == base.count(),
      "pre-evolution files must null-fill the evolved column")
    assert(out.filter(col("score").isNotNull).count() == widened.count())
  }

  /** A table whose v0 checkpoint carries `n` add rows (file i covers
    * k ∈ [10i, 10i+9]) — the bounded-driver fixtures' shared builder.
    */
  private def writeBigCheckpointTable(root: String, n: Int): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val schemaJson = StructType(Seq(StructField("k", LongType))).json
    val metaStr = """{"metaData":{"id":"cccc-dddd","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(schemaJson)},""" +
      """"partitionColumns":[],"configuration":{}}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
        metaStr + "\n").getBytes("UTF-8"))
    val fAdd = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val fMeta = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType)))
    val fProto = StructType(Seq(StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val ckptSchema = StructType(Seq(StructField("protocol", fProto),
      StructField("metaData", fMeta), StructField("add", fAdd)))
    val addRows = (0 until n).map { i =>
      Row(null, null, Row(f"f$i%05d.parquet", Map.empty[String, String], 100L,
        true,
        s"""{"numRecords":10,"minValues":{"k":${i * 10}},"maxValues":{"k":${i * 10 + 9}}}"""))
    }
    val header = Seq(Row(Row(1, 2), null, null),
      Row(null, Row("cccc-dddd", schemaJson), null))
    val tmp = s"$root/.ckpt-tmp"
    spark.createDataFrame(
        spark.sparkContext.parallelize(header ++ addRows, 4), ckptSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      logDir.resolve(f"${0L}%020d.checkpoint.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    java.nio.file.Files.write(logDir.resolve("_last_checkpoint"),
      s"""{"version":0,"size":${n + 2}}""".getBytes("UTF-8"))
    ()
  }

  test("BOUNDED-DRIVER replay: a 10⁴-add checkpoint prunes DISTRIBUTED — " +
      "the driver collects only the pruned set, tail reconciliation intact") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-delta-bigckpt").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    writeBigCheckpointTable(root, 10000)

    // point lookup: ONE file survives, and the driver collected ONE row
    // of the 10⁴ — replay state bounded by the PRUNED set, not the table
    assert(DeltaLog.filesMatching(spark, root, col("k") === 55555L) ==
      Seq("f05555.parquet"))
    assert(DeltaLog.lastPrunedCollectedAdds == 1L,
      s"driver collected ${DeltaLog.lastPrunedCollectedAdds} add rows for a " +
        "1-file predicate — checkpoint pruning must happen on executors")
    // range: two tail files
    assert(DeltaLog.filesMatching(spark, root, col("k") >= 99980L).toSet ==
      Set("f09998.parquet", "f09999.parquet"))
    assert(DeltaLog.lastPrunedCollectedAdds == 2L)
    // tail reconciliation composes with the distributed checkpoint side:
    // v1 removes the matching file and adds a replacement covering the key
    java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"),
      ("""{"remove":{"path":"f05555.parquet","dataChange":true}}""" + "\n" +
        """{"add":{"path":"r0.parquet","partitionValues":{},"size":100,"dataChange":true,""" +
        """"stats":"{\"numRecords\":10,\"minValues\":{\"k\":55550},\"maxValues\":{\"k\":55559}}"}}""" +
        "\n").getBytes("UTF-8"))
    assert(DeltaLog.filesMatching(spark, root, col("k") === 55555L) ==
      Seq("r0.parquet"))
    assert(DeltaLog.lastPrunedCollectedAdds == 1L)
  }

  test("BOUNDED-DRIVER feed derivation: a full-file remove on a 10⁴-add " +
      "table replays ONLY the removed paths — never the snapshot") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-feed-bigrm").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    writeBigCheckpointTable(root, 10000)
    // v1: a dataChange=true FULL remove of two files, no re-add — the feed
    // must derive two delete entries from their prior incarnations
    java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"),
      ("""{"remove":{"path":"f00007.parquet","dataChange":true}}""" + "\n" +
        """{"remove":{"path":"f09998.parquet","dataChange":true}}""" +
        "\n").getBytes("UTF-8"))
    // the feed reads the removed incarnations: give them real files
    def dataFile(name: String, ks: Seq[Long]): Unit = {
      graft.queries.ReplayFixtures.moveInParquet(
        spark.createDataFrame(ks.map(Tuple1(_))).toDF("k"), root, name)
      ()
    }
    dataFile("f00007.parquet", 70L until 80L)
    dataFile("f09998.parquet", 99980L until 99990L)
    def feedRows(from: Long, to: Long) = {
      val feed = DeltaLog.readChangeFeed(spark, root, from, to)
      val collected = DeltaLog.lastFeedReplayCollectedAdds
      (feed.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).sorted.toSeq, collected)
    }
    val (v1Rows, v1Collected) = feedRows(0L, 1L)
    assert(v1Rows == ((70L until 80L) ++ (99980L until 99990L)).map((_, "delete", 1L)))
    // the pruned replay collected exactly the removed paths' add rows —
    // a full replay(v0) here would have materialized all 10⁴
    assert(v1Collected == 2L,
      s"driver materialized $v1Collected add rows for a 2-path remove " +
        "derivation — feed replay must prune")
    // tail reconciliation: a remove of a path RE-ADDED in the tail (with
    // a replacement DV-less add) derives the re-added incarnation, and a
    // remove of a never-lived path derives nothing
    dataFile("g0.parquet", Seq(5L, 6L))
    java.nio.file.Files.write(logDir.resolve(f"${2L}%020d.json"),
      ("""{"add":{"path":"g0.parquet","partitionValues":{},"size":64,"dataChange":true}}""" +
        "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(logDir.resolve(f"${3L}%020d.json"),
      ("""{"remove":{"path":"g0.parquet","dataChange":true}}""" + "\n" +
        """{"remove":{"path":"never-lived.parquet","dataChange":true}}""" +
        "\n").getBytes("UTF-8"))
    val (v3Rows, v3Collected) = feedRows(2L, 3L)
    assert(v3Rows == Seq((5L, "delete", 3L), (6L, "delete", 3L)))
    assert(v3Collected == 1L)
  }

  test("snapshot cache: a table DELETED and REBUILT at the same path and " +
      "version — with its commit JSON trimmed behind a checkpoint — never " +
      "serves the old build's snapshot") {
    import graft.sources.DeltaLog
    val base = Files.createTempDirectory("graft-snapcache").toString
    val root = s"$base/tbl"
    def build(tag: String): Unit = {
      DeltaLog.commitAppend(root,
        spark.range(0, 10).select(col("id"), lit(tag).as("tag")))
      DeltaLog.commitAppend(root,
        spark.range(10, 20).select(col("id"), lit(tag).as("tag")))
      DeltaLog.checkpoint(spark, root)
      // trim the JSON tail — the checkpoint now carries the history, so
      // the cache fingerprint cannot come from the commit files
      (0L to 1L).foreach { v =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
          root, "_delta_log", f"$v%020d.json")); ()
      }
    }
    build("first")
    assert(DeltaLog.read(spark, root).filter(col("tag") === "first").count() == 20L)
    // rebuild at the SAME path, same version count, different data files
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    build("second")
    val again = DeltaLog.read(spark, root)
    assert(again.count() == 20L &&
      again.filter(col("tag") === "second").count() == 20L,
      "a rebuilt table served the previous build's cached snapshot")
  }

  test("one log replay: a cache-miss read over a single-part, multi-part or " +
      "v2-manifest checkpoint runs at most one Spark job, a cold pruned read " +
      "at most one, and latestSchema none") {
    import graft.sources.DeltaLog
    def jobsDuring(body: => Unit): Seq[String] = {
      val listener = new ConstructionJobs
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        spark.sparkContext.parallelize(Seq(1), 1).count() // marker
        listener.beforeMarker().map(_._1)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def table(shape: String)(checkpoint: String => Unit): (String, String) = {
      val root = Files.createTempDirectory("graft-replayjobs").toString + "/tbl"
      (0 until 3).foreach(i => DeltaLog.commitAppend(root,
        spark.range(i * 10L, (i + 1) * 10L).select(col("id").as("k")).coalesce(1)))
      checkpoint(root)
      shape -> root
    }
    // a fresh copy has no snapshot-cache entry: the cache key is the path
    def cold(root: String): String = {
      val copy = Files.createTempDirectory("graft-replayjobs-cold").toString + "/tbl"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root), new java.io.File(copy))
      copy
    }
    Seq(
      table("single-part")(r => { DeltaLog.checkpoint(spark, r); () }),
      table("multi-part")(r => { DeltaLog.checkpoint(spark, r, parts = 3); () }),
      table("v2 parquet manifest")(r =>
        graft.queries.IngestOps.authorV2Checkpoint(spark, r, 2L, jsonManifest = false))
    ).foreach { case (shape, root) =>
      val (r1, r2, r3) = (cold(root), cold(root), cold(root))
      var files = Seq.empty[String]
      val read = jobsDuring { DeltaLog.read(spark, r1); () }
      val pruned = jobsDuring { files = DeltaLog.filesMatching(spark, r2, col("k") === 15L) }
      val schema = jobsDuring { DeltaLog.latestSchema(r3); () }
      assert(read.size <= 1, s"$shape: cache-miss read ran ${read.size} jobs: ${read.mkString(" // ")}")
      assert(pruned.size <= 1, s"$shape: cold filesMatching ran ${pruned.size} jobs: ${pruned.mkString(" // ")}")
      assert(schema.isEmpty, s"$shape: latestSchema ran jobs: ${schema.mkString(" // ")}")
      assert(files.size == 1, s"$shape: stats must prune to one file, got $files")
      assert(DeltaLog.read(spark, r1).count() == 30L, shape)
    }
  }

  test("OBJECT-STORE SEAM: the commit/maintenance layer (sources/ + table/) " +
      "never touches java.nio.file — all I/O goes through the Hadoop Fs seam") {
    // java.nio.file only works on a local POSIX filesystem; a cluster
    // whose tables live on HDFS/S3A could not run any commit or
    // maintenance verb written against it. The seam is graft.table.Fs;
    // this gate keeps the layer on it. (Comments may MENTION the
    // forbidden API; code lines may not.)
    val dirs = Seq("src/main/scala/graft/sources", "src/main/scala/graft/table")
    val offenders = dirs.flatMap { d =>
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.endsWith(".scala"))
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
          val bad = src.linesIterator.zipWithIndex.filter { case (l, _) =>
            val t = l.trim
            !t.startsWith("*") && !t.startsWith("//") &&
              l.contains("java.nio.file")
          }.map { case (l, i) => s"${f.getName}:${i + 1}: ${l.trim}" }.toSeq
          bad
        }
    }
    assert(offenders.isEmpty,
      "java.nio.file usage in the FS-seam layer:\n" + offenders.mkString("\n"))
  }

  test("Hadoop seam: Delta commits, DVs, checkpoints, store maintenance and " +
      "versioned tables all round-trip under file:// URIs") {
    import graft.sources.DeltaLog
    import graft.table.StoreMaint
    val dir = Files.createTempDirectory("graft-fsuri").toString
    // Delta: append / DV delete / checkpoint / append-past-checkpoint
    val root = "file://" + dir + "/tbl"
    DeltaLog.commitAppend(root, spark.range(0, 100).toDF("id").repartition(2))
    assert(DeltaLog.read(spark, root).count() == 100L)
    val (_, n) = DeltaLog.deleteWhere(spark, root, col("id") < 10)
    assert(n == 10L && DeltaLog.read(spark, root).count() == 90L)
    DeltaLog.checkpoint(spark, root)
    DeltaLog.commitAppend(root, spark.range(100, 120).toDF("id"))
    assert(DeltaLog.read(spark, root).count() == 110L)
    assert(DeltaLog.readWhere(spark, root, col("id") >= 100).count() == 20L)
    // store maintenance: erase + compact under a file:// store root
    val store = "file://" + dir + "/store/part"
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("g"))
      .repartition(6).write.parquet(store)
    assert(StoreMaint.eraseWhere(spark, store, Seq.empty, col("g") === 3) > 0L)
    assert(spark.read.parquet(store).filter(col("g") === 3).count() == 0L)
    assert(spark.read.parquet(store).count() == 1000L - 143L)
    assert(StoreMaint.compact(spark, store, Seq.empty, 1L << 20) > 0L)
    assert(spark.read.parquet(store).count() == 1000L - 143L)
    // versioned table: create / init / op-aware merge / time travel
    val vt = "file://" + dir + "/vt"
    val base = spark.range(0, 50).select(col("id"), (col("id") * 2).as("v"))
    DeltaLog.create(vt, base.schema)
    val v1 = DeltaLog.commitAppend(vt, base)
    val (v2, _, _) = DeltaLog.mergeInto(spark, vt, spark.range(0, 5)
      .select(col("id"), lit("upsert").as("op"), lit(-1L).as("v")), Seq("id"),
      Some(v1), ops = true)
    assert(DeltaLog.read(spark, vt, Some(v2)).filter(col("v") === -1).count() == 5L)
    assert(DeltaLog.read(spark, vt, Some(v1)).filter(col("v") === -1).count() == 0L)
  }

  test("mapped + PARTITIONED table: DELETE retracts via DVs keeping the " +
      "physical-named layout; OPTIMIZE re-spells it; time travel intact") {
    import graft.sources.DeltaLog
    graft.queries.IngestOps.q276Fixture(spark, sfDir)
    val root = Files.createTempDirectory("graft-mapped-part").toString + "/delta"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(
        graft.queries.ReplayFixtures.fixtureRootFor(sfDir, "q276") + "/delta"),
      new java.io.File(root))
    val before = DeltaLog.read(spark, root).count()
    val hits = DeltaLog.read(spark, root)
      .filter(pmod(col("doc_id"), lit(7)) === 0).count()
    assert(hits > 0)
    val filesBefore = DeltaLog.snapshotFiles(spark, root).toSet
    assert(filesBefore.forall(_.contains("col-l0003=")),
      "fixture files must live in physical-named partition directories")
    // DELETE through the mapping + the layout: hit files DV'd in place
    val (dv, nDel) = DeltaLog.deleteWhere(spark, root,
      pmod(col("doc_id"), lit(7)) === 0)
    assert(nDel == hits)
    assert(DeltaLog.snapshotFiles(spark, root, Some(dv)).toSet == filesBefore,
      "mapped partitioned DELETE must not rewrite data files")
    val after = DeltaLog.read(spark, root)
    assert(after.count() == before - hits)
    assert(after.filter(pmod(col("doc_id"), lit(7)) === 0).count() == 0L)
    // OPTIMIZE rewrites survivors into fresh files that keep the PHYSICAL
    // partition spelling (a logical-named directory would split the
    // table across two layouts) and purges the DVs
    val ov = DeltaLog.commitOptimize(spark, root)
    val filesAfter = DeltaLog.snapshotFiles(spark, root, Some(ov))
    assert(filesAfter.forall(_.contains("col-l0003=")),
      s"optimized files must keep physical partition dirs: $filesAfter")
    assert(filesAfter.toSet.intersect(filesBefore).isEmpty,
      "OPTIMIZE must publish fresh files")
    assert(DeltaLog.read(spark, root, Some(ov)).count() == before - hits)
    // partition pruning still works on the rewritten layout
    assert(DeltaLog.filesMatching(spark, root, col("lang") === "en",
      Some(ov)).forall(_.contains("col-l0003=en")))
    // time travel through the mapped history: pre-delete snapshot intact
    assert(DeltaLog.read(spark, root, Some(dv - 1)).count() == before)
  }

  test("DeltaStream skipChangeCommits: retracting commits (DV rewrites, " +
      "dataChange removes) contribute NOTHING instead of refusing; later " +
      "appends still stream") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-skipchange").toString + "/tbl"
    DeltaLog.commitAppend(root,
      spark.range(0, 30).select(col("id")).coalesce(1))            // v0
    DeltaLog.deleteWhere(spark, root, col("id") < 10)              // v1: DV
    DeltaLog.commitAppend(root,
      spark.range(100, 110).select(col("id")).coalesce(1))         // v2
    // without the option the adds-only read refuses on the DV commit
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.changesSince(spark, root, -1L).count()
    }
    assert(e.getMessage.contains("skipChangeCommits"), e.getMessage)
    // with it, the stream drains v0 + v2 and silently drops v1 — the
    // consumer declared appends-only and accepts missing the retraction
    val run = Files.createTempDirectory("graft-skipchange-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root)
      .option("skipChangeCommits", "true")
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.read.parquet(s"$run/sink")
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 30L) ++ (100L until 110L)),
      s"v0 and v2 appends must stream, the v1 DV rewrite must be skipped: $ids")
  }

  test("mapped RENAME/DROP: metaData-only commits — physicalName and id " +
      "stay fixed so OLD and NEW files bind; partition list renames; " +
      "re-added dropped names re-mint; plain tables refuse") {
    import graft.sources.DeltaLog
    graft.queries.IngestOps.q273Fixture(spark, sfDir)
    val root = Files.createTempDirectory("graft-renamedrop").toString + "/delta"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(
        graft.queries.ReplayFixtures.fixtureRootFor(sfDir, "q273") + "/delta"),
      new java.io.File(root))
    val before = DeltaLog.read(spark, root).count()
    val lenBefore = DeltaLog.read(spark, root)
      .agg(sum(length(col("text")))).head.getLong(0)
    val filesBefore = DeltaLog.snapshotFiles(spark, root).toSet
    // RENAME text -> body: zero data files touched, same rows, old files
    // bind through the unchanged physicalName
    DeltaLog.renameColumn(root, "text", "body")
    assert(DeltaLog.snapshotFiles(spark, root).toSet == filesBefore,
      "rename must be metaData-only")
    val renamed = DeltaLog.read(spark, root)
    assert(renamed.columns.toSeq == Seq("doc_id", "body", "lang"))
    assert(renamed.count() == before)
    assert(renamed.agg(sum(length(col("body")))).head.getLong(0) == lenBefore)
    val bodyField = DeltaLog.latestSchema(root)("body")
    assert(bodyField.metadata.getString("delta.columnMapping.physicalName")
      == "col-t0002" &&
      bodyField.metadata.getLong("delta.columnMapping.id") == 2L,
      "rename must keep physicalName + id — that IS the feature")
    // appends under the NEW name bind the SAME mapping (no mint)
    val extra = Tables(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(11)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        col("text").as("body"), col("lang"))
    DeltaLog.commitAppend(root, extra)
    assert(DeltaLog.read(spark, root).count() == before + extra.count())
    assert(DeltaLog.latestSchema(root)("body")
      .metadata.getString("delta.columnMapping.physicalName") == "col-t0002")
    // rename collision refuses
    intercept[IllegalArgumentException] {
      DeltaLog.renameColumn(root, "doc_id", "body")
    }
    // DROP lang: metaData-only; re-appending a column NAMED lang re-mints
    // a FRESH id + physicalName (old bytes never resurrect)
    DeltaLog.dropColumns(root, Seq("lang"))
    val dropped = DeltaLog.read(spark, root)
    assert(dropped.columns.toSeq == Seq("doc_id", "body"))
    assert(dropped.count() == before + extra.count())
    DeltaLog.commitAppend(root,
      extra.select((col("doc_id") + 2000000L).as("doc_id"), col("body"),
        lit("zz").as("lang")))
    val relang = DeltaLog.latestSchema(root)("lang")
    assert(relang.metadata.getLong("delta.columnMapping.id") > 3L &&
      relang.metadata.getString("delta.columnMapping.physicalName") != "col-l0003",
      "a re-added dropped name must mint fresh, never rebind old bytes")
    // old rows' re-added lang null-fills; only the new slice carries zz
    assert(DeltaLog.read(spark, root).filter(col("lang") === "zz").count() ==
      extra.count())
    // PARTITION-column rename updates the logical list and pruning follows
    graft.queries.IngestOps.q276Fixture(spark, sfDir)
    val proot = Files.createTempDirectory("graft-renpart").toString + "/delta"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(
        graft.queries.ReplayFixtures.fixtureRootFor(sfDir, "q276") + "/delta"),
      new java.io.File(proot))
    DeltaLog.renameColumn(proot, "lang", "language")
    assert(DeltaLog.latestPartitionColumns(proot) == Seq("language"))
    val en = DeltaLog.read(spark, proot).filter(col("language") === "en").count()
    assert(en > 0)
    assert(DeltaLog.filesMatching(spark, proot, col("language") === "en")
      .forall(_.contains("col-l0003=en")),
      "pruning must translate the RENAMED logical name to the fixed physical")
    // dropping a partition column refuses; plain tables refuse outright
    intercept[IllegalArgumentException] {
      DeltaLog.dropColumns(proot, Seq("language"))
    }
    val plain = Files.createTempDirectory("graft-renplain").toString + "/tbl"
    DeltaLog.commitAppend(plain, spark.range(0, 5).select(col("id").as("k")))
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.renameColumn(plain, "k", "kk")
    }
    assert(e.getMessage.contains("not column-mapped"), e.getMessage)
  }

  test("DeltaStream startingVersion: 'latest' serves the PINNED snapshot " +
      "(DVs honored) as batch zero then tails only NEW commits; a numeric " +
      "start tails from that version; offsets restart-stable") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-startv").toString + "/tbl"
    // a 21-version history a naive v0-replay consumer CANNOT serve: the
    // last commit is a DV DELETE, which the adds-only path refuses — only
    // the snapshot bootstrap reads this table as a stream
    (0 until 20).foreach { i =>
      DeltaLog.commitAppend(root,
        spark.range(i * 10L, i * 10L + 10L).select(col("id").as("k")).coalesce(1))
    }
    DeltaLog.deleteWhere(spark, root, col("k") % 10 === 3L) // v20: DV
    val expectSnap = DeltaLog.read(spark, root)
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    assert(expectSnap.size == 180)
    val run = Files.createTempDirectory("graft-startv-run").toString
    def startStream() = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root)
      .option("startingVersion", "latest")
      .option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$run/sink")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq == expectSnap,
      "batch zero must be exactly the pinned snapshot, DV-deleted rows excluded")
    // new commits after the pin tail normally — RESTARTED from the same
    // checkpoint (offsets must deserialize and resume past the snapshot)
    DeltaLog.commitAppend(root,
      spark.range(1000L, 1010L).select(col("id").as("k")).coalesce(1)) // v21
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(s"$run/sink")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    assert(after == (expectSnap ++ (1000L until 1010L)).sorted,
      "the restart must deliver ONLY the post-pin commit — no snapshot replay")
    // numeric startingVersion: a consumer resuming at a known cursor
    val run2 = Files.createTempDirectory("graft-startv-num").toString
    val q3 = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root)
      .option("startingVersion", "21")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run2/sink").option("checkpointLocation", s"$run2/ckpt")
      .start()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(s"$run2/sink")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq ==
      (1000L until 1010L),
      "startingVersion=21 must deliver exactly commit 21")
    // CRASH-BEFORE-COMMIT restart: the engine re-runs the first batch
    // with the WAL'd END offset after a writer committed meanwhile. The
    // snapshot must serve at the END pin: at the newer version it would
    // deliver the new commit's rows in the first batch AND again when the
    // tail reads past the pin.
    import org.apache.spark.sql.execution.streaming.SerializedOffset
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val src = new graft.streaming.DeltaStream().createSource(spark.sqlContext,
      s"$run/meta", None, "deltastream",
      Map("path" -> root, "startingVersion" -> "latest"))
    val first = src.getBatch(None, SerializedOffset("20"))
    assert(first.isStreaming)
    val pinned = first.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.map(_.getLong(0)).collect().sorted.toSeq
    }
    assert(pinned == expectSnap,
      "the first batch must be exactly v20's rows, pinned by its end offset")
    // offsets read back from the offset log parse from their JSON and
    // pace the tail one version per trigger
    assert(src.asInstanceOf[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]
      .latestOffset(SerializedOffset("20"), ReadLimit.allAvailable()).json() == "21")
  }

  test("DeltaStream startingTimestamp: commits at or after the timestamp " +
      "deliver; an all-older history tails only NEW commits; exclusive " +
      "with startingVersion") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-startts").toString + "/tbl"
    (0 until 3).foreach { i =>
      DeltaLog.commitAppend(root,
        spark.range(i * 10L, i * 10L + 10L).select(col("id").as("k"))
          .coalesce(1))
    }
    // force the commit clock: v0=t1000, v1=t2000, v2=t3000 (seconds)
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    (0 until 3).foreach { v =>
      assert(logDir.resolve(f"$v%020d.json").toFile
        .setLastModified((v + 1) * 1000000L))
    }
    def drain(opts: Map[String, String], runTag: String): Seq[Long] = {
      val run = Files.createTempDirectory(s"graft-startts-$runTag").toString
      var r = spark.readStream
        .format(classOf[graft.streaming.DeltaStream].getName)
        .option("path", root)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream.format("parquet")
        .option("path", s"$run/sink")
        .option("checkpointLocation", s"$run/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$run/sink")
        .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    }
    // at-or-after t2000: v1 and v2 deliver, v0 does not
    assert(drain(Map("startingTimestamp" -> "1970-01-01T00:33:20Z"), "mid")
      == (10L until 30L), "commits at or after the timestamp must deliver")
    // every commit predates the timestamp: NOTHING replays — the stream
    // tails only commits that land after it starts
    val run = Files.createTempDirectory("graft-startts-far").toString
    def startFar() = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root)
      .option("startingTimestamp", "2099-01-01") // the bare-date form
      .load().writeStream.format("parquet")
      .option("path", s"$run/sink")
      .option("checkpointLocation", s"$run/ckpt").start()
    val qf = startFar()
    try {
      qf.processAllAvailable() // pre-start history: nothing available
      DeltaLog.commitAppend(root,
        spark.range(100L, 105L).select(col("id").as("k")).coalesce(1)) // v3
      qf.processAllAvailable() // the live tail delivers the new commit
    } finally qf.stop()
    assert(spark.read.parquet(s"$run/sink")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 105L),
      "an all-older history must deliver only post-start commits")
    // exclusive with startingVersion — refuses at stream start
    val e = intercept[Exception] {
      drain(Map("startingTimestamp" -> "2099-01-01T00:00:00Z",
        "startingVersion" -> "1"), "both")
    }
    assert(chain(e).exists(_.contains("mutually exclusive")),
      chain(e).mkString(" | "))
  }

  test("timestampNtz reader feature: a feature-listed foreign table batch-reads, " +
      "partition-decodes and STREAMS; the writer declares the feature on NTZ " +
      "schemas; unknown reader features still refuse") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val base = Files.createTempDirectory("graft-ntz").toString
    val root = s"$base/tbl"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // foreign-authored: schema (k long, ts timestamp_ntz), partitioned by
    // an NTZ day column — minReaderVersion 3 + readerFeatures [timestampNtz]
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("ts", TimestampNTZType),
      StructField("day", TimestampNTZType)))
    val data = spark.range(0, 6).select(col("id").as("k"),
      to_timestamp_ntz(concat(lit("2024-03-01 10:00:0"), col("id"))).as("ts"))
    val tmp = s"$root/.tmp"
    data.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(root, "f1.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val sz = new java.io.File(s"$root/f1.parquet").length()
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""" + "\n" +
      """{"metaData":{"id":"ntz-tbl","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(schema.json)},""" +
        """"partitionColumns":["day"],"configuration":{}}}""" + "\n" +
      s"""{"add":{"path":"f1.parquet","partitionValues":{"day":"2024-03-01 00:00:00"},""" +
        s""""size":$sz,"modificationTime":0,"dataChange":true}}""" + "\n"
      ).getBytes("UTF-8"))
    // batch: NTZ data column round-trips, NTZ partition value decodes as
    // a ZONELESS wall time (no session-timezone shift)
    val out = DeltaLog.read(spark, root)
    assert(out.schema("ts").dataType == TimestampNTZType)
    assert(out.count() == 6L)
    assert(out.filter(col("ts") === to_timestamp_ntz(lit("2024-03-01 10:00:03")))
      .select(col("k")).collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(out.select(col("day")).distinct().collect()
      .map(_.getAs[java.time.LocalDateTime](0)).toSeq ==
      Seq(java.time.LocalDateTime.parse("2024-03-01T00:00")))
    // stream equals batch
    val run = Files.createTempDirectory("graft-ntz-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$run/sink")
    assert(streamed.schema("ts").dataType == TimestampNTZType)
    assert(streamed.select(col("k"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1))).sortBy(_._1).toSeq ==
      out.select(col("k"), col("ts")).collect()
        .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1))).sortBy(_._1).toSeq)
    // our own writer: a fresh table created from an NTZ frame DECLARES the
    // feature (reader 3 / writer 7) — the schemaString alone would be a
    // protocol violation a strict foreign reader rejects
    val own = s"$base/own"
    DeltaLog.commitAppend(own, data)
    val v0 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(own, "_delta_log", f"${0L}%020d.json"))
    assert(v0.get(0).contains("\"timestampNtz\"") &&
      v0.get(0).contains("\"minReaderVersion\":3"), v0.get(0))
    assert(DeltaLog.read(spark, own).count() == 6L)
    // an UNKNOWN feature alongside still refuses
    val bad = s"$base/bad"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(bad, "_delta_log"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bad, "_delta_log", f"${0L}%020d.json"), (
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz","icebergCompatV9"]}}""" + "\n" +
      """{"metaData":{"id":"bad","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(schema.json)},""" +
        """"partitionColumns":[],"configuration":{}}}""" + "\n").getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.read(spark, bad).count()
    }
    assert(e.getMessage.contains("icebergCompatV9"), e.getMessage)
  }

  test("typeWidening reader feature: a pre-widen file's INT32/FLOAT/DATE " +
      "values read as BIGINT/DOUBLE/TIMESTAMP_NTZ beside the post-widen " +
      "file — batch and stream agree; narrow values promote losslessly") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory("graft-widen").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    def moveIn(df: org.apache.spark.sql.DataFrame, name: String): Long =
      graft.queries.ReplayFixtures.moveInParquet(df, root, name)
    // narrow file: k INT32, score FLOAT, d DATE
    val sz1 = moveIn(spark.range(0, 5).select(
      col("id").cast("int").as("k"),
      (col("id") * 3).cast("float").as("score"),
      expr("date_add(date'2024-01-01', cast(id as int))").as("d")),
      "f1.parquet")
    // wide file: k INT64, score DOUBLE, d TIMESTAMP_NTZ
    val sz2 = moveIn(spark.range(5, 8).select(
      col("id").as("k"),
      (col("id") * 3).cast("double").as("score"),
      expr("timestampadd(HOUR, cast(id as int), " +
        "to_timestamp_ntz('2024-02-01 00:00:00'))").as("d")),
      "f2.parquet")
    val narrow = StructType(Seq(StructField("k", IntegerType),
      StructField("score", FloatType), StructField("d", DateType)))
    val wide = StructType(Seq(StructField("k", LongType),
      StructField("score", DoubleType), StructField("d", TimestampNTZType)))
    def metaOf(s: StructType) =
      """{"metaData":{"id":"widen","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(s.json)},""" +
        """"partitionColumns":[],"configuration":{}}}"""
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz","typeWidening"],""" +
        """"writerFeatures":["timestampNtz","typeWidening"]}}""" + "\n" +
      metaOf(narrow) + "\n" +
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,""" +
        """"modificationTime":0,"dataChange":true}}""" + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.json"), (
      metaOf(wide) + "\n" +
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$sz2,""" +
        """"modificationTime":0,"dataChange":true}}""" + "\n").getBytes("UTF-8"))
    val out = DeltaLog.read(spark, root)
    assert(out.schema("k").dataType == LongType)
    assert(out.schema("score").dataType == DoubleType)
    assert(out.schema("d").dataType == TimestampNTZType)
    val rows = out.orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getAs[java.time.LocalDateTime](2)))
    assert(rows.map(_._1).toSeq == (0L until 8L), rows.mkString(","))
    assert(rows.map(_._2).toSeq == (0L until 8L).map(_ * 3.0))
    // pre-widen DATEs surface as their midnight naive timestamp
    assert(rows(2)._3 == java.time.LocalDateTime.parse("2024-01-03T00:00"))
    assert(rows(6)._3 == java.time.LocalDateTime.parse("2024-02-01T06:00"))
    // the stream serves the same promoted frame
    val run = Files.createTempDirectory("graft-widen-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).option("maxVersionsPerTrigger", 1L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$run/sink")
    assert(streamed.schema("k").dataType == LongType &&
      streamed.schema("d").dataType == TimestampNTZType)
    assert(streamed.orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getAs[java.time.LocalDateTime](2))).toSeq == rows.toSeq,
      "stream must equal batch across the widened schema")
  }

  test("variantType reader feature: a foreign table's VARIANT column " +
      "batch-reads with typed extraction and streams exactly like the " +
      "batch read") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory("graft-variant").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val sz = graft.queries.ReplayFixtures.moveInParquet(
      spark.range(0, 6).select(col("id").as("k"),
        expr("parse_json(to_json(named_struct('a', id * 2, 'b', " +
          "concat('x', cast(id as string)))))").as("v")),
      root, "f1.parquet")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", VariantType)))
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["variantType-preview"],""" +
        """"writerFeatures":["variantType-preview"]}}""" + "\n" +
      """{"metaData":{"id":"variant","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(schema.json)},""" +
        """"partitionColumns":[],"configuration":{}}}""" + "\n" +
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
        """"modificationTime":0,"dataChange":true}}""" + "\n").getBytes("UTF-8"))
    val out = DeltaLog.read(spark, root)
    assert(out.schema("v").dataType == VariantType)
    val got = out.select(col("k"),
        expr("variant_get(v, '$.a', 'long')").as("a"),
        expr("variant_get(v, '$.b', 'string')").as("b"))
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == (0L until 6L).map(i => (i, i * 2, s"x$i")),
      got.mkString(","))
    // the stream serves the batch read's frame: the VARIANT leaf streams
    val run = Files.createTempDirectory("graft-variant-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    def rendered(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), expr("to_json(v)")).orderBy(col("k")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val streamed = spark.read.parquet(s"$run/sink")
    assert(streamed.schema("v").dataType == VariantType)
    assert(rendered(streamed) == rendered(out), "stream must equal batch")
  }

  test("DeltaStream: a foreign table's INT96 timestamp column streams " +
      "exactly like the batch read") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = Files.createTempDirectory("graft-int96").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val saved = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    val sz = try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      graft.queries.ReplayFixtures.moveInParquet(
        spark.range(0, 5).select(col("id").as("k"),
          expr("timestamp_micros(1700000000123456 + id * 3600000000)").as("ts")),
        root, "f1.parquet")
    } finally saved.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", TimestampType)))
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
      """{"metaData":{"id":"int96","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(schema.json)},""" +
        """"partitionColumns":[],"configuration":{}}}""" + "\n" +
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
        """"modificationTime":0,"dataChange":true}}""" + "\n").getBytes("UTF-8"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("k")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSeq
    val batch = rows(DeltaLog.read(spark, root))
    assert(batch.size == 5 && batch.head._2.endsWith(".123456"), batch.mkString(","))
    val run = Files.createTempDirectory("graft-int96-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root).load()
      .writeStream.format("parquet")
      .option("path", s"$run/sink").option("checkpointLocation", s"$run/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(rows(spark.read.parquet(s"$run/sink")) == batch, "stream must equal batch")
  }

  /** Author a v2-spec checkpoint — delegates to the shared
    * [[graft.queries.IngestOps.authorV2Checkpoint]] (the q282 fixture's
    * author), so the spec and the oracle fixture can never diverge.
    */
  private def writeV2Checkpoint(root: String, v: Long,
      jsonManifest: Boolean): Unit =
    graft.queries.IngestOps.authorV2Checkpoint(spark, root, v, jsonManifest)

  test("v2Checkpoint: manifest + sidecar layout replays — PARQUET and JSON " +
      "manifests, trimmed history reads through it, stats still prune, " +
      "tail commits compose") {
    import graft.sources.DeltaLog
    Seq(false, true).foreach { jsonManifest =>
      val root = Files.createTempDirectory(
        s"graft-v2ckpt-$jsonManifest").toString + "/tbl"
      DeltaLog.commitAppend(root,
        spark.range(0, 50).select(col("id").as("k")).coalesce(1))   // v0
      DeltaLog.commitAppend(root,
        spark.range(50, 100).select(col("id").as("k")).coalesce(1)) // v1
      writeV2Checkpoint(root, 1L, jsonManifest)
      // retention trim: the JSON commits are GONE — the v2 checkpoint is
      // the only carrier of the table state
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.delete(logDir.resolve(f"${0L}%020d.json"))
      java.nio.file.Files.delete(logDir.resolve(f"${1L}%020d.json"))
      assert(DeltaLog.currentVersion(root) == 1L)
      assert(DeltaLog.read(spark, root).count() == 100L,
        s"manifest flavor jsonManifest=$jsonManifest")
      assert(DeltaLog.read(spark, root)
        .agg(sum(col("k"))).head.getLong(0) == (0L until 100L).sum)
      // stats written by the original appends still prune through the
      // sidecar read (distributed for the parquet path)
      val hit = DeltaLog.filesMatching(spark, root, col("k") === 75L)
      assert(hit.size == 1, s"stats must prune to one file, got $hit")
      // a tail append composes with the checkpoint replay
      DeltaLog.commitAppend(root,
        spark.range(100, 120).select(col("id").as("k")).coalesce(1)) // v2
      assert(DeltaLog.read(spark, root).count() == 120L)
      assert(DeltaLog.read(spark, root, Some(1L)).count() == 100L)
    }
  }

  test("adds-only read refuses by DEFAULT on dataChange=true removes — a " +
      "pure remove would be silently MISSED, a remove+re-add rewrite " +
      "DOUBLE-DELIVERED; skipChangeCommits is the explicit opt-in") {
    import graft.sources.DeltaLog
    // pure full-file remove (no re-add): previously dropped silently
    val root1 = Files.createTempDirectory("graft-rmrefuse1").toString + "/tbl"
    DeltaLog.commitAppend(root1,
      spark.range(0, 20).select(col("id")).coalesce(1))            // v0
    val doomed = DeltaLog.snapshotFiles(spark, root1)
    DeltaLog.commitReplace(root1, doomed,
      spark.range(0, 0).select(col("id")))                          // v1
    val e1 = intercept[UnsupportedOperationException] {
      DeltaLog.changesSince(spark, root1, -1L).count()
    }
    assert(e1.getMessage.contains("removes data") &&
      e1.getMessage.contains("skipChangeCommits"), e1.getMessage)
    // dataChange=true remove+re-add rewrite (no DV): previously the adds
    // were delivered AGAIN — rows the consumer already ingested at v0
    val root2 = Files.createTempDirectory("graft-rmrefuse2").toString + "/tbl"
    DeltaLog.commitAppend(root2,
      spark.range(0, 20).select(col("id")).coalesce(1))            // v0
    DeltaLog.commitReplace(root2, DeltaLog.snapshotFiles(spark, root2),
      spark.range(0, 20).select(col("id")).coalesce(1))            // v1
    val e2 = intercept[UnsupportedOperationException] {
      DeltaLog.changesSince(spark, root2, -1L).count()
    }
    assert(e2.getMessage.contains("removes data"), e2.getMessage)
    // a range that stops BEFORE the retracting commit still serves the
    // append-only prefix (the refusal is per-range, not per-table); the
    // skipChangeCommits opt-in path is pinned by the stream test above
    assert(DeltaLog.changesSince(spark, root2, -1L, Some(0L)).count() == 20L)
  }

  test("Fs.createNew on a non-local filesystem: PROBE-OR-REFUSE — a store " +
      "that declares no conditional-create capability refuses (two racing " +
      "committers could both win); with the capability — or the explicit " +
      "operator override — it commits and still excludes the loser") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mockcap.impl", classOf[MockCapFs].getName)
    hconf.setBoolean("fs.mockcap.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-mockcap").toString
    val commit = s"mockcap:$dir/00000000000000000001.json"
    // capability absent: refuse LOUDLY, leave nothing behind
    MockCapFs.capable = false
    val e = intercept[UnsupportedOperationException] {
      graft.table.Fs.createNew(commit, "x".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("atomic create-no-overwrite"), e.getMessage)
    assert(!new java.io.File(s"$dir/00000000000000000001.json").exists(),
      "a refused commit must not leave bytes behind")
    // capability declared: the happy path commits...
    MockCapFs.capable = true
    graft.table.Fs.createNew(commit, "winner".getBytes("UTF-8"))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/00000000000000000001.json")),
      "UTF-8") == "winner")
    // ...and an existing path still excludes the second writer
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      graft.table.Fs.createNew(commit, "loser".getBytes("UTF-8"))
    }
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/00000000000000000001.json")),
      "UTF-8") == "winner", "the losing writer must not clobber the commit")
    // operator override: a capability-less store admits commits ONLY when
    // the configuration says its create(overwrite=false) is known-atomic
    MockCapFs.capable = false
    hconf.setBoolean(graft.table.Fs.AssumeAtomicCreateKey, true)
    try graft.table.Fs.createNew(s"mockcap:$dir/00000000000000000002.json",
      "y".getBytes("UTF-8"))
    finally hconf.unset(graft.table.Fs.AssumeAtomicCreateKey)
    assert(new java.io.File(s"$dir/00000000000000000002.json").exists())
  }

  test("table-features protocol upgrade DECLARES legacy-implied features: a " +
      "(2,5) mapped table's first DV delete lists columnMapping alongside " +
      "deletionVectors — never undeclares what the table uses") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    def fieldMeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("doc_id", LongType, nullable = true, fieldMeta(1, "col-aa11")),
      StructField("lang", StringType, nullable = true, fieldMeta(2, "col-bb22"))))
    val root = Files.createTempDirectory("graft-cm-upg").toString + "/tbl"
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    val df = spark.createDataFrame((0L until 6L).map(i => (i, s"l$i")))
      .toDF("col-aa11", "col-bb22")
    val tmp = s"$root/.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(root, "f1.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val sz = java.nio.file.Paths.get(root, "f1.parquet").toFile.length()
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"), (
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
      """{"metaData":{"id":"cm-upg","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jm.writeValueAsString(logical.json)},""" +
        """"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name",""" +
        """"delta.columnMapping.maxColumnId":"2"}}}""" + "\n" +
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,""" +
        """"modificationTime":1700000000000,"dataChange":true}}""" +
      "\n").getBytes("UTF-8"))
    val (dv, n) = DeltaLog.deleteWhere(spark, root, col("doc_id") === 3L)
    assert(n == 1L)
    // the upgrade commit's protocol: reader 2 implied columnMapping,
    // writer 5 implied appendOnly/invariants/checkConstraints/
    // changeDataFeed/generatedColumns/columnMapping — ALL must survive
    // the move to (3,7), or a spec-compliant foreign reader sees an
    // un-mapped table and binds logical names against col-XXXX files
    val proto = java.nio.file.Files
      .readAllLines(logDir.resolve(f"$dv%020d.json")).toArray.map(_.toString)
      .find(_.contains("\"protocol\"")).map(jm.readTree).get.get("protocol")
    import scala.jdk.CollectionConverters._
    val rf = proto.get("readerFeatures").elements().asScala.map(_.asText()).toSet
    val wf = proto.get("writerFeatures").elements().asScala.map(_.asText()).toSet
    assert(rf == Set("columnMapping", "deletionVectors"), rf.toString)
    assert(Set("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
      "generatedColumns", "columnMapping", "deletionVectors").subsetOf(wf),
      wf.toString)
    // and the table still reads correctly under the mapping
    assert(DeltaLog.read(spark, root).orderBy(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 4L, 5L))
  }

  test("q189 schema evolution: merged read nulls missing columns, loses and invents nothing") {
    val rows = graft.queries.IngestOps.q189SchemaEvolution(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val e = Tables(spark, sfDir, "events")
    val total = e.count()
    assert(rows.map(_.getAs[Long]("n")).sum == total, "merged read must cover every row once")
    rows.foreach { r =>
      // generation accounting partitions each group exactly
      assert(r.getAs[Long]("with_props") == r.getAs[Long]("with_v2"),
        "gen-2 rows carry BOTH added columns")
      assert(r.getAs[Long]("with_props") + r.getAs[Long]("old_generation") == r.getAs[Long]("n"),
        "every row is exactly one generation")
    }
  }
}

/** A non-local test FileSystem for the createNew probe spec: delegates
  * storage to RawLocalFileSystem but reports scheme `mockcap` (so
  * [[graft.table.Fs.createNew]] takes its object-store branch, not the
  * O_EXCL local one) and answers the conditional-create capability probe
  * from the [[MockCapFs.capable]] switch — a store that can, or cannot,
  * guarantee atomic create-no-overwrite, at the test's choosing.
  */
class MockCapFs extends org.apache.hadoop.fs.FilterFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem()) {
  override def getScheme: String = "mockcap"
  override def getUri: java.net.URI = java.net.URI.create("mockcap:///")
  // RawLocal's own checkPath rejects the mockcap scheme (pathToFile runs
  // it internally), so delegation strips the scheme down to the absolute
  // path component — this FS's whole job is to be "not local" to the
  // probe while storing bytes locally
  override def checkPath(path: org.apache.hadoop.fs.Path): Unit = ()
  private def local(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(p.toUri.getPath)
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(local(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  // the read-side probes a store gate makes (exists/isFile, manifest read)
  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = super.getFileStatus(local(f))
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = super.open(local(f), bufferSize)
  override def hasPathCapability(path: org.apache.hadoop.fs.Path,
      capability: String): Boolean =
    capability == "fs.option.create.conditional.overwrite" && MockCapFs.capable
}

object MockCapFs {
  @volatile var capable: Boolean = false
}
