package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DeletionVectors, DeltaLog}

/** The Delta deletion-vector stack: the portable RoaringBitmapArray /
  * Z85 codec, foreign DV'd table reads (inline and sidecar storage),
  * replay's (path, dvId) exact-match reconciliation, the `deleteWhere`
  * row-level DELETE, `purgeDeletionVectors`, checkpoint carriage, vacuum
  * of orphaned sidecars, and the incremental-consumer refusal gate.
  */
class DeletionVectorsSpec extends SparkTestBase {

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/tbl"

  // -------------------------------------------------------------------
  // codec
  // -------------------------------------------------------------------

  test("z85 codec round-trips and rejects misaligned / invalid input") {
    val bytes = Array.tabulate(32)(i => (i * 37 % 251).toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes)).toSeq == bytes.toSeq)
    intercept[IllegalArgumentException] { DeletionVectors.z85Encode(Array[Byte](1, 2, 3)) }
    intercept[IllegalArgumentException] { DeletionVectors.z85Decode("abcd") }
    intercept[IllegalArgumentException] { DeletionVectors.z85Decode("ab~de") }
  }

  test("RoaringBitmapArray round-trips array, bitmap, and multi-bitmap shapes") {
    // array containers (sparse), a dense container (>4096 lows → bitmap),
    // positions above 2^32 (second 32-bit bitmap), duplicates collapse
    val sparse = Array[Long](0L, 1L, 5L, 65536L, 1000000L)
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(sparse)).toSeq == sparse.toSeq)
    val dense = (0L until 5000L).toArray
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(dense)).toSeq == dense.toSeq)
    val high = Array[Long](3L, (1L << 32) + 7L, (2L << 32) + 9L)
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(high)).toSeq == high.toSeq)
    assert(DeletionVectors.deserialize(
      DeletionVectors.serialize(Array(4L, 4L, 2L))).toSeq == Seq(2L, 4L))
    assert(DeletionVectors.deserialize(
      DeletionVectors.serialize(Array.empty[Long])).isEmpty)
  }

  test("run-container decode: a foreign writer's run-compressed bitmap reads back") {
    // hand-author SerialCookie (12347) + run bitset: one run container
    // covering [10, 20] — the shape our writer never emits but every
    // spec-conforming reader must accept
    val buf = java.nio.ByteBuffer.allocate(4 + 8 + 4 + 1 + 4 + 2 + 3 * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1681511377) // magic
    buf.putLong(1L)        // one 32-bit bitmap
    buf.putInt(12347 | (0 << 16)) // cookie, n-1=0 in upper bits
    buf.put(1.toByte)      // run flag bitset: container 0 is a run
    buf.putShort(0.toShort); buf.putShort(10.toShort) // key 0, card-1=10 (11 values)
    // n=1 < NoOffsetThreshold and run format → no offsets
    buf.putShort(1.toShort)                    // 1 run
    buf.putShort(10.toShort); buf.putShort(10.toShort) // start 10, length 10
    assert(DeletionVectors.deserialize(buf.array()).toSeq == (10L to 20L).toSeq)
  }

  test("DV sidecar files round-trip with CRC + size + cardinality verification") {
    val root = Files.createTempDirectory("graft-dvfile").toString
    val pos = Array[Long](1L, 7L, 4096L, 99999L)
    val d = DeletionVectors.writeDvFile(root, pos)
    assert(d.storageType == "u" && d.cardinality == 4L)
    assert(DeletionVectors.readPositions(root, d).toSeq == pos.sorted.toSeq)
    // corrupt one payload byte → CRC refusal (silent misread is data loss)
    val path = java.nio.file.Paths.get(DeletionVectors.dvPath(root, d))
    val bytes = Files.readAllBytes(path)
    bytes(6) = (bytes(6) ^ 0x1).toByte
    Files.write(path, bytes)
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.readPositions(root, d)
    }
    assert(e.getMessage.contains("checksum"), e.getMessage)
    // inline descriptors skip the file entirely
    val i = DeletionVectors.inlineDescriptor(pos)
    assert(i.storageType == "i")
    assert(DeletionVectors.readPositions("/nonexistent", i).toSeq == pos.sorted.toSeq)
  }

  // -------------------------------------------------------------------
  // deleteWhere end-to-end
  // -------------------------------------------------------------------

  test("deleteWhere: row-level DELETE without rewriting data files; " +
      "time travel, protocol upgrade, second delete unions the DV") {
    val root = tmpTable("graft-dv-del")
    DeltaLog.commitAppend(root,
      spark.range(0, 100).select(col("id"), (col("id") % 10).as("bucket"))
        .repartition(4))
    val dataFilesBefore = DeltaLog.snapshotFiles(spark, root).toSet
    val (v1, n1) = DeltaLog.deleteWhere(spark, root, col("bucket") === 3)
    assert(v1 == 1L && n1 == 10L)
    // same data files — only DVs changed
    assert(DeltaLog.snapshotFiles(spark, root).toSet == dataFilesBefore,
      "a DV delete must not rewrite data files")
    val after = DeltaLog.read(spark, root)
    assert(after.count() == 90L)
    assert(after.filter(col("bucket") === 3).count() == 0L)
    // time travel to the pre-delete version still sees all rows
    assert(DeltaLog.read(spark, root, Some(0L)).count() == 100L)
    // the commit upgraded the protocol to declare the feature
    val v1Json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    assert(v1Json.contains(""""minReaderVersion":3""") &&
      v1Json.contains(""""deletionVectors""""), v1Json)
    // second delete on overlapping files UNIONS positions (a file's DV is
    // its complete deleted set) and counts only NEWLY deleted rows —
    // bucket<=3 re-matches the 10 already-deleted rows
    val (v2, n2) = DeltaLog.deleteWhere(spark, root, col("bucket") <= 3)
    assert(v2 == 2L && n2 == 30L, s"got ($v2, $n2)")
    assert(DeltaLog.read(spark, root).count() == 60L)
    assert(DeltaLog.read(spark, root, Some(1L)).count() == 90L)
    // only ONE protocol action ever published (second commit sees it declared)
    val v2Json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${2L}%020d.json")), "UTF-8")
    assert(!v2Json.contains(""""protocol""""), v2Json)
    // zero-hit delete publishes nothing
    val (v3, n3) = DeltaLog.deleteWhere(spark, root, col("bucket") === 42)
    assert(v3 == 2L && n3 == 0L)
    // NULL predicate rows are KEPT (SQL DELETE semantics)
    val (v4, n4) = DeltaLog.deleteWhere(spark, root,
      when(col("bucket") === 5, lit(null).cast("boolean")).otherwise(col("bucket") === 6))
    assert(v4 == 3L && n4 == 10L)
    assert(DeltaLog.read(spark, root).filter(col("bucket") === 5).count() == 10L)
  }

  test("deleteWhere on a PARTITIONED table: partitionValues preserved, " +
      "partition-column predicates work, large DVs go to sidecar files") {
    val root = tmpTable("graft-dv-part")
    DeltaLog.commitAppendPartitioned(root,
      spark.range(0, 1000).select(col("id"), (col("id") % 4).as("p"))
        .repartition(1),
      createPartitionBy = Seq("p"))
    // 250 hits per partition-0 file → exceeds the 128 inline threshold
    val (v1, n1) = DeltaLog.deleteWhere(spark, root, col("p") === 0)
    assert(v1 == 1L && n1 == 250L)
    val after = DeltaLog.read(spark, root)
    assert(after.count() == 750L && after.filter(col("p") === 0).count() == 0L)
    // the DV'd add kept its partitionValues: a partition-pruned read of a
    // surviving partition is unaffected, and the DV'd partition is empty
    assert(DeltaLog.readWhere(spark, root, col("p") === 1).count() == 250L)
    // sidecar storage for the big bitmap
    val v1Json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    assert(v1Json.contains(""""storageType":"u""""), v1Json)
    assert(new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")), "sidecar file written")
    // value predicate across partitions
    val (_, n2) = DeltaLog.deleteWhere(spark, root, col("id") < 100)
    assert(n2 == 75L, s"100 ids below 100, 25 already deleted in p=0: $n2")
    assert(DeltaLog.read(spark, root).count() == 675L)
  }

  // -------------------------------------------------------------------
  // foreign interop + replay reconciliation
  // -------------------------------------------------------------------

  test("foreign DV'd table reads: inline descriptor filters rows; replay " +
      "matches removes by (path, dvId) so commit line order never matters") {
    val root = tmpTable("graft-dv-foreign")
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    Files.createDirectories(logDir)
    // one data file, rows 0..9
    spark.range(0, 10).select(col("id").as("doc_id")).coalesce(1)
      .write.parquet(s"$root/d0")
    val part = new java.io.File(s"$root/d0").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val rel = s"d0/${part.getName}"
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType))).json
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val d = DeletionVectors.inlineDescriptor(Array(2L, 5L))
    def dvJson(d: DeletionVectors.Descriptor) =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    Files.write(logDir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      """{"metaData":{"id":"dv-f-1","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
        """"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$rel","partitionValues":{},"size":${part.length},""" +
        """"modificationTime":0,"dataChange":true}}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaLog.read(spark, root).count() == 10L)
    // DELETE commit written ADD-FIRST then the remove of the dv-less
    // incarnation — exact-match reconciliation must keep the new add
    Files.write(logDir.resolve(f"${1L}%020d.json"), Seq(
      s"""{"add":{"path":"$rel","partitionValues":{},"size":${part.length},""" +
        s""""modificationTime":0,"dataChange":true,"deletionVector":${dvJson(d)}}}""",
      s"""{"remove":{"path":"$rel","deletionTimestamp":0,"dataChange":true}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val rows = DeltaLog.read(spark, root).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L), rows.toSeq)
    // a remove naming the DV'd incarnation DOES kill it
    Files.write(logDir.resolve(f"${2L}%020d.json"),
      (s"""{"remove":{"path":"$rel","deletionTimestamp":0,"dataChange":true,""" +
        s""""deletionVector":${dvJson(d)}}}""" + "\n").getBytes("UTF-8"))
    assert(DeltaLog.read(spark, root).count() == 0L)
  }

  // -------------------------------------------------------------------
  // purge, optimize, checkpoint, vacuum, incremental gate
  // -------------------------------------------------------------------

  test("purgeDeletionVectors rewrites ONLY the DV'd subset; OPTIMIZE also purges; " +
      "checkpoints carry DVs across a log trim; vacuum sweeps orphaned sidecars") {
    val root = tmpTable("graft-dv-purge")
    // two separate appends → disjoint file sets; delete only touches the second
    DeltaLog.commitAppend(root,
      spark.range(0, 300).select(col("id"), lit("a").as("tag")).coalesce(1))
    DeltaLog.commitAppend(root,
      spark.range(300, 600).select(col("id"), lit("b").as("tag")).coalesce(1))
    val untouched = DeltaLog.snapshotFiles(spark, root)
      .filter(_.nonEmpty).toSet
    val (_, n) = DeltaLog.deleteWhere(spark, root, col("id") >= 400)
    assert(n == 200L)
    // checkpoint NOW (DVs live), then trim the JSON history: the
    // checkpoint is the only carrier — deleted rows must stay deleted
    val cv = DeltaLog.checkpoint(spark, root)
    (0L to cv).foreach(v => Files.delete(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(DeltaLog.read(spark, root).count() == 400L,
      "checkpoint must carry deletionVector descriptors")
    // purge: only the DV'd file is rewritten
    val before = DeltaLog.snapshotFiles(spark, root).toSet
    val pv = DeltaLog.purgeDeletionVectors(spark, root)
    val after = DeltaLog.snapshotFiles(spark, root).toSet
    assert(DeltaLog.read(spark, root).count() == 400L)
    val keptAsIs = before.intersect(after)
    assert(keptAsIs.exists(untouched.contains),
      s"the un-DV'd file must survive the purge untouched: $before -> $after")
    assert((after -- before).nonEmpty, "the DV'd file was rewritten")
    // purge is dataChange=false end-to-end: an incremental consumer
    // skips it (and no longer trips over the DV gate afterwards)
    val changed = DeltaLog.changesSince(spark, root, cv, Some(pv))
    assert(changed.isEmpty, s"purge must be invisible to CDC: ${changed.count()} rows")
    // idempotent: nothing left to purge
    assert(DeltaLog.purgeDeletionVectors(spark, root) == pv)
    // vacuum beyond the DV'd history reclaims the orphaned sidecar
    val orphans = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).map(_.getName).toSet
    assert(orphans.nonEmpty, "the big DV went to a sidecar file")
    val deleted = DeltaLog.vacuum(spark, root, retainFromVersion = pv)
    assert(orphans.forall(o => deleted.contains(o)),
      s"orphaned DV sidecars must be vacuumed: deleted=$deleted orphans=$orphans")
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")))
    assert(DeltaLog.read(spark, root).count() == 400L, "live data untouched")
  }

  test("mergeInto: matched target rows retract via DVs (no file rewrite), " +
      "source lands as new files; duplicate source keys refuse; DVs union " +
      "across successive merges") {
    val root = tmpTable("graft-dv-merge")
    DeltaLog.commitAppend(root,
      spark.range(0, 100).select(col("id"), lit("old").as("v")).repartition(2))
    val filesBefore = DeltaLog.snapshotFiles(spark, root).toSet
    val source = spark.range(50, 120).select(col("id"), lit("new").as("v"))
    val (v1, matched, inserted) = DeltaLog.mergeInto(spark, root, source, Seq("id"))
    assert(v1 == 1L && matched == 50L && inserted == 20L, s"($v1, $matched, $inserted)")
    val t = DeltaLog.read(spark, root)
    assert(t.count() == 120L)
    assert(t.filter(col("v") === "new").count() == 70L)
    assert(t.filter(col("id") < 50 && col("v") === "old").count() == 50L)
    // the original data files were NOT rewritten — only DV'd
    assert(filesBefore.subsetOf(DeltaLog.snapshotFiles(spark, root).toSet))
    // time travel: the pre-merge snapshot has no 'new' rows
    assert(DeltaLog.read(spark, root, Some(0L))
      .filter(col("v") === "new").count() == 0L)
    // duplicate source keys: which copy wins is undefined — refuse
    val e = intercept[IllegalArgumentException] {
      DeltaLog.mergeInto(spark, root, source.union(source), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    // a second merge UNIONS DVs on already-DV'd files
    val (v2, m2, i2) = DeltaLog.mergeInto(spark, root,
      spark.range(0, 10).select(col("id"), lit("x").as("v")), Seq("id"))
    assert(v2 == 2L && m2 == 10L && i2 == 0L, s"($v2, $m2, $i2)")
    val t2 = DeltaLog.read(spark, root)
    assert(t2.count() == 120L)
    assert(t2.filter(col("v") === "x").count() == 10L)
    assert(t2.filter(col("v") === "old").count() == 40L)
    // empty source is a no-op
    assert(DeltaLog.mergeInto(spark, root,
      spark.range(0, 0).select(col("id"), lit("z").as("v")), Seq("id")) == ((2L, 0L, 0L)))
  }

  test("OPTIMIZE on a DV'd table compacts to survivor rows and retires the DVs; " +
      "incremental consumption of a DV commit refuses loudly") {
    val root = tmpTable("graft-dv-opt")
    DeltaLog.commitAppend(root,
      spark.range(0, 200).select(col("id")).repartition(3))
    val (dv, _) = DeltaLog.deleteWhere(spark, root, col("id") % 2 === 0)
    // the DV commit retracts rows (dataChange=true remove + DV'd re-add):
    // an incremental consumer would resurrect deleted rows — refuse and
    // point at the consumers that CAN serve it
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.changesSince(spark, root, 0L, Some(dv))
    }
    assert(e.getMessage.contains("removes data") &&
      e.getMessage.contains("readChangeFeed") &&
      e.getMessage.contains("skipChangeCommits"), e.getMessage)
    val ov = DeltaLog.commitOptimize(spark, root, targetFiles = 1)
    assert(DeltaLog.read(spark, root).count() == 100L)
    assert(DeltaLog.read(spark, root).filter(col("id") % 2 === 0).count() == 0L)
    // post-optimize snapshot has no DVs → incremental reads work again
    // (from the optimize version on; the optimize itself is dataChange=false)
    assert(DeltaLog.changesSince(spark, root, dv, Some(ov)).isEmpty)
  }

  test("DV delete in a table root containing URI-encodable characters " +
      "(space, '%', '+'): deleted rows stay deleted — the anti-join key " +
      "decodes _metadata.file_path before stripping the root") {
    // _metadata.file_path renders percent-encoded; an undecoded strip
    // would produce a never-matching join key and silently RESURRECT
    // every DV-deleted row in such a root
    val root = Files.createTempDirectory("graft dv %enc").toString + "/t bl+x"
    DeltaLog.commitAppend(root, spark.range(0, 50).toDF("id").repartition(2))
    val (_, n) = DeltaLog.deleteWhere(spark, root, col("id") < 10)
    assert(n == 10L)
    val after = DeltaLog.read(spark, root)
    assert(after.count() == 40L,
      "DV-deleted rows resurrected in a URI-encodable table root")
    assert(after.filter(col("id") < 10).count() == 0L)
    // second delete unions correctly through the same decoded key
    val (_, n2) = DeltaLog.deleteWhere(spark, root, col("id") < 20)
    assert(n2 == 10L && DeltaLog.read(spark, root).count() == 30L)
  }

  test("a foreign add whose deletionVector node is malformed (missing " +
      "required fields) refuses loudly instead of resurrecting its rows") {
    val root = tmpTable("graft-dv-malformed")
    DeltaLog.commitAppend(root, spark.range(0, 10).toDF("id"))
    val file = DeltaLog.snapshotFiles(spark, root).head
    // a descriptor node PRESENT but lacking storageType/pathOrInlineDv:
    // defaulting cardinality to 0 would read it as "no DV" — a misread
    val line = s"""{"add":{"path":"$file","size":1,"partitionValues":{},""" +
      """"dataChange":true,"deletionVector":{"cardinality":5}}}"""
    Files.write(java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json"),
      java.util.Arrays.asList(line))
    val e = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, root).count()
    }
    assert(e.getMessage.contains("malformed deletionVector"), e.getMessage)
  }
}
