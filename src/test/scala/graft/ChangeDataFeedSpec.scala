package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.DeltaLog

/** The Delta CHANGE DATA FEED: cdc actions + `_change_data/` files
  * authored by deleteWhere/mergeInto under `delta.enableChangeDataFeed`,
  * derived inserts/deletes for cdc-less commits, dataChange=false
  * invisibility, and the refusal gate for non-derivable DV commits.
  */
class ChangeDataFeedSpec extends SparkTestBase {

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/tbl"

  test("feed end-to-end: derived inserts, cdc delete rows, merge pre/post/insert " +
      "rows, optimize invisible, full-range union") {
    val root = tmpTable("graft-cdf")
    DeltaLog.commitAppend(root,
      spark.range(0, 40).select(col("id"), (col("id") % 4).as("b")).repartition(2))
    // v0 has no cdc actions: inserts DERIVE from its adds
    val f0 = DeltaLog.readChangeFeed(spark, root, -1L, 0L)
    assert(f0.count() == 40L &&
      f0.filter(col("_change_type") === "insert").count() == 40L)
    assert(f0.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    val v1 = DeltaLog.setTableProperties(root,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(v1 == 1L && DeltaLog.cdfEnabled(root))
    // the property commit raised the writer protocol
    val p1 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    assert(p1.contains(""""minWriterVersion":4"""), p1)
    // DELETE publishes change files; the feed reads THEM, not the DV adds
    val (v2, n2) = DeltaLog.deleteWhere(spark, root, col("b") === 1)
    assert(n2 == 10L)
    val f2 = DeltaLog.readChangeFeed(spark, root, v1, v2)
    assert(f2.count() == 10L)
    assert(f2.filter(col("_change_type") === "delete" && col("b") === 1).count() == 10L)
    assert(new java.io.File(s"$root/_change_data").exists())
    // MERGE: 5 updates (ids 0,4,8,12,16 — all alive, b=0), 5 inserts
    val src = spark.range(0, 5).select((col("id") * 4).as("id"), lit(9L).as("b"))
      .union(spark.range(100, 105).select(col("id"), lit(7L).as("b")))
    val (v3, m3, i3) = DeltaLog.mergeInto(spark, root, src, Seq("id"))
    assert(m3 == 5L && i3 == 5L)
    val f3 = DeltaLog.readChangeFeed(spark, root, v2, v3)
    assert(f3.filter(col("_change_type") === "update_preimage").count() == 5L)
    assert(f3.filter(col("_change_type") === "update_postimage").count() == 5L)
    assert(f3.filter(col("_change_type") === "insert").count() == 5L)
    // preimage carries the OLD values, postimage the NEW
    assert(f3.filter(col("_change_type") === "update_preimage" &&
      col("b") === 9).count() == 0L)
    assert(f3.filter(col("_change_type") === "update_postimage" &&
      col("b") === 9).count() == 5L)
    // OPTIMIZE is dataChange=false end-to-end: invisible to the feed
    val v4 = DeltaLog.commitOptimize(spark, root, targetFiles = 1)
    assert(DeltaLog.readChangeFeed(spark, root, v3, v4).count() == 0L)
    // the full range is the union of every commit's changes
    assert(DeltaLog.readChangeFeed(spark, root, -1L, v4).count() == 65L)
  }

  test("op-aware merge feeds update pre/post-images, deletes and inserts") {
    val root = tmpTable("graft-cdf-ops")
    DeltaLog.commitAppend(root,
      spark.range(0, 40).select(col("id"), (col("id") % 4).as("b")).repartition(2))
    val v1 = DeltaLog.setTableProperties(root, Map("delta.enableChangeDataFeed" -> "true"))
    // upsert 0..4 (matched), delete 10..12 (matched) and 50 (absent),
    // upsert 100..101 (new); the copy-on-write commit carries cdc files
    val batch = spark.range(0, 5).select(col("id"), lit("upsert").as("op"), lit(9L).as("b"))
      .union(spark.range(10, 13).select(col("id"), lit("delete").as("op"), lit(0L).as("b")))
      .union(spark.range(50, 51).select(col("id"), lit("delete").as("op"), lit(0L).as("b")))
      .union(spark.range(100, 102).select(col("id"), lit("upsert").as("op"), lit(7L).as("b")))
    val (v2, matched, inserted) =
      DeltaLog.mergeInto(spark, root, batch, Seq("id"), ops = true)
    assert(matched == 8L && inserted == 2L)
    val f = DeltaLog.readChangeFeed(spark, root, v1, v2)
    def n(t: String) = f.filter(col("_change_type") === t).count()
    assert(n("update_preimage") == 5L && n("update_postimage") == 5L)
    assert(n("delete") == 3L && n("insert") == 2L && f.count() == 15L,
      "rows of rewritten files that no batch key touched must not surface")
    assert(f.filter(col("_change_type") === "update_preimage" && col("b") === 9L).count() == 0L)
    assert(DeltaLog.read(spark, root).count() == 40L - 3L + 2L)
  }

  test("derived full-file deletes honor the removed incarnation's deletion vector; " +
      "cdc-less DV commits derive exactly the newDv \\ oldDv rows") {
    val root = tmpTable("graft-cdf-derived")
    DeltaLog.commitAppend(root,
      spark.range(0, 30).select(col("id")).coalesce(1))
    DeltaLog.setTableProperties(root, Map("delta.enableChangeDataFeed" -> "true"))
    val (v2, _) = DeltaLog.deleteWhere(spark, root, col("id") < 10)
    // a cdc-LESS rewrite of the DV'd file: remove+add with dataChange=true
    val paths = DeltaLog.snapshotFiles(spark, root)
    val v3 = DeltaLog.commitReplace(root, paths, DeltaLog.read(spark, root))
    val f = DeltaLog.readChangeFeed(spark, root, v2, v3)
    // the 10 DV-deleted rows must NOT re-announce as deletes
    assert(f.filter(col("_change_type") === "delete").count() == 20L)
    assert(f.filter(col("_change_type") === "delete" && col("id") < 10).count() == 0L)
    assert(f.filter(col("_change_type") === "insert").count() == 20L)
    // a DV retraction with NO change files DERIVES: the {remove(P, oldDv),
    // add(P, newDv)} pair resolves to the rows at positions newDv \ oldDv
    val root2 = tmpTable("graft-cdf-nofeed")
    DeltaLog.commitAppend(root2,
      spark.range(0, 20).select(col("id")).coalesce(1))               // v0
    DeltaLog.deleteWhere(spark, root2, col("id") < 5)                 // v1
    DeltaLog.deleteWhere(spark, root2, col("id") < 8)                 // v2 (overlap)
    val f2 = DeltaLog.readChangeFeed(spark, root2, -1L, 2L)
    assert(f2.filter(col("_change_type") === "insert").count() == 20L)
    assert(f2.filter(col("_change_type") === "delete" &&
      col("_commit_version") === 1L).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    // v2 announces ONLY the newly-deleted rows 5..7 — emitting the full
    // new DV would re-announce 0..4
    assert(f2.filter(col("_change_type") === "delete" &&
      col("_commit_version") === 2L).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (5L until 8L))
  }

  test("STREAMED change feed == batch readChangeFeed — cdc files, derived " +
      "inserts, and executor-side DV-honoring derived deletes") {
    val root = tmpTable("graft-cdf-stream")
    DeltaLog.commitAppend(root,
      spark.range(0, 30).select(col("id")).coalesce(1))                    // v0
    DeltaLog.setTableProperties(root,
      Map("delta.enableChangeDataFeed" -> "true"))                         // v1
    DeltaLog.deleteWhere(spark, root, col("id") < 10)                      // v2: cdc
    // v3: cdc-LESS rewrite of the DV'd file — the stream must DERIVE the
    // deletes and skip the DV'd row indexes on the executor
    val paths = DeltaLog.snapshotFiles(spark, root)
    DeltaLog.commitReplace(root, paths, DeltaLog.read(spark, root))
    // v4: merge — cdc pre/post/insert rows
    val (v4, m4, i4) = DeltaLog.mergeInto(spark, root,
      spark.range(25, 35).select(col("id"), lit("m").as("v")), Seq("id"))
    val base = Files.createTempDirectory("graft-cdf-stream-run").toString
    val q = spark.readStream
      .format(classOf[graft.streaming.DeltaStream].getName)
      .option("path", root)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", 2L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("_change_type"), col("_commit_version"))
        .orderBy(col("_commit_version"), col("_change_type"), col("id"))
        .collect().toSeq
    val streamed = canon(spark.read.parquet(s"$base/sink"))
    val batch = canon(DeltaLog.readChangeFeed(spark, root, -1L, v4))
    assert(streamed == batch,
      s"stream and batch feed must agree: ${streamed.size} vs ${batch.size}")
    // the derived delete at v3 must not re-announce the DV'd rows
    assert(!streamed.exists(r => r.getLong(2) == 3L &&
      r.getString(1) == "delete" && r.getLong(0) < 10L),
      "executor-side DV skip failed: already-deleted rows re-announced")
    assert(streamed.count(r => r.getLong(2) == 3L && r.getString(1) == "delete") == 20)
    assert(m4 == 5L && i4 == 5L)
  }

  test("feed on a PARTITIONED table: change files route through the table layout " +
      "and partition columns reconstruct on read") {
    val root = tmpTable("graft-cdf-part")
    DeltaLog.commitAppendPartitioned(root,
      spark.range(0, 100).select(col("id"), (col("id") % 2).as("p")).repartition(1),
      createPartitionBy = Seq("p"))
    DeltaLog.setTableProperties(root, Map("delta.enableChangeDataFeed" -> "true"))
    val (v2, n) = DeltaLog.deleteWhere(spark, root, col("id") < 20)
    assert(n == 20L)
    val f = DeltaLog.readChangeFeed(spark, root, 1L, v2)
    assert(f.count() == 20L)
    // partition column values reconstruct on the change rows
    assert(f.filter(col("p") === 0).count() == 10L)
    assert(f.filter(col("p") === 1).count() == 10L)
    // the change files themselves are partitioned like the table
    val cd = new java.io.File(s"$root/_change_data")
    assert(cd.exists() && cd.listFiles().exists(d =>
      d.isDirectory && d.listFiles().exists(_.getName.startsWith("p="))))
  }

  test("CDF protocol upgrade on a feature-listed table: readerFeatures " +
      "emitted ONLY at minReaderVersion >= 3 (PROTOCOL.md), preserved at 3") {
    // mwv=7 with mrv=1 is legal (writer features without reader features);
    // the upgrade must not invent a readerFeatures array strict foreign
    // readers would reject
    val root = tmpTable("graft-cdf-proto1")
    DeltaLog.commitAppend(root, spark.range(0, 5).toDF("id"))
    Files.write(java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json"),
      java.util.Arrays.asList("""{"protocol":{"minReaderVersion":1,""" +
        """"minWriterVersion":7,"writerFeatures":["invariants"]}}"""))
    val v = DeltaLog.setTableProperties(root,
      Map("delta.enableChangeDataFeed" -> "true"))
    val pj = new String(Files.readAllBytes(java.nio.file.Paths.get(
      root, "_delta_log", f"$v%020d.json")), "UTF-8")
    assert(pj.contains(""""changeDataFeed"""") &&
      !pj.contains(""""readerFeatures""""), pj)
    assert(DeltaLog.read(spark, root).count() == 5L)
    // at mrv=3 (a DV'd table) the existing readerFeatures ARE carried
    val root3 = tmpTable("graft-cdf-proto3")
    DeltaLog.commitAppend(root3, spark.range(0, 10).toDF("id"))
    DeltaLog.deleteWhere(spark, root3, col("id") === 0) // upgrades to mrv 3
    val v3 = DeltaLog.setTableProperties(root3,
      Map("delta.enableChangeDataFeed" -> "true"))
    val pj3 = new String(Files.readAllBytes(java.nio.file.Paths.get(
      root3, "_delta_log", f"$v3%020d.json")), "UTF-8")
    assert(pj3.contains(""""readerFeatures":["deletionVectors"]""") &&
      pj3.contains(""""changeDataFeed""""), pj3)
  }
}
