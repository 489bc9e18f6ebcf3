package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.DeltaLog

/** Versioned-table behaviour on [[DeltaLog]]: op-aware keyed merges (the
  * q192 family's commit verb), time travel, the keyed diff, maintenance
  * (checkpoint, OPTIMIZE, layout rewrite, vacuum) and the exactly-once
  * sink protocols, all on a table created schema-only at v0 so its first
  * data commit is v1.
  */
class DeltaTableSpec extends SparkTestBase {

  private def freshRoot(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_dtspec_$tag"
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    p
  }

  private def docs = Tables(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"), col("lang"))

  private def snap(df: DataFrame): Map[Long, String] =
    df.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** A table created with the docs schema at v0 and `base` as v1. */
  private def initTable(tag: String, base: DataFrame): String = {
    val root = freshRoot(tag)
    DeltaLog.create(root, docs.schema)
    assert(DeltaLog.commitAppend(root, base) == 1L)
    root
  }

  private def read(root: String, v: Long): DataFrame =
    DeltaLog.read(spark, root, Some(v))

  private def merge(root: String, batch: DataFrame, expected: Long): Long =
    DeltaLog.mergeInto(spark, root, batch, Seq("doc_id"), Some(expected), ops = true)._1

  private def upserts(df: DataFrame, suffix: String): DataFrame =
    df.select(col("doc_id"), lit("upsert").as("op"),
      concat(col("text"), lit(suffix)).as("text"), col("lang"))

  /** delete where doc_id % delMod = 0, upsert text + suffix where % upMod = 0 */
  private def batch(delMod: Int, upMod: Int, suffix: String): DataFrame = docs
    .filter(pmod(col("doc_id"), lit(upMod)) === 0 ||
      pmod(col("doc_id"), lit(delMod)) === 0)
    .select(col("doc_id"),
      when(pmod(col("doc_id"), lit(delMod)) === 0, "delete").otherwise("upsert").as("op"),
      concat(col("text"), lit(suffix)).as("text"), col("lang"))

  /** The JSON actions of commit `v`. */
  private def actions(root: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.io.Source.fromFile(f"$root/_delta_log/$v%020d.json", "UTF-8")
      .getLines().filter(_.nonEmpty).map(l => mapper.readTree(l)).toList
  }

  test("op-aware merge chain: every pinned version reconstructs its snapshot") {
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val t = initTable("chain", base)
    assert(DeltaLog.currentVersion(t) == 1L)
    val s1 = snap(base)

    // v2: delete %7, upsert " v2" where %4
    assert(merge(t, batch(7, 4, " v2"), 1L) == 2L)
    val s2expect = (s1 -- s1.keys.filter(_ % 7 == 0)) ++
      docs.filter(pmod(col("doc_id"), lit(4)) === 0 && pmod(col("doc_id"), lit(7)) =!= 0)
        .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("text") + " v2"))
    assert(snap(read(t, 2L)) == s2expect, "v2 snapshot = base - deletes + upserts")

    // v3: upsert " v3" where %5 (no deletes)
    assert(merge(t, upserts(docs.filter(pmod(col("doc_id"), lit(5)) === 0), " v3"), 2L) == 3L)
    val s3expect = s2expect ++
      docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("text") + " v3"))
    assert(snap(read(t, 3L)) == s3expect)

    // TIME TRAVEL: committing v3 must not disturb any pinned older read
    assert(snap(read(t, 1L)) == s1, "v1 is immutable after later commits")
    assert(snap(read(t, 2L)) == s2expect, "v2 is immutable after later commits")
    assert(snap(DeltaLog.read(spark, t)) == s3expect)
    assert(read(t, 0L).count() == 0L, "v0 is the schema-only create commit")
    assert(DeltaLog.currentVersion(t) == 3L)
  }

  test("a one-key merge rewrites only its hit file; the rest carry over") {
    val t = initTable("onekey", docs.repartition(4))
    val v1Files = DeltaLog.snapshotFiles(spark, t, Some(1L))
    assert(v1Files.size == 4)
    val oneKey = docs.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), lit("upsert").as("op"), lit("rewritten").as("text"), col("lang"))
    merge(t, oneKey, 1L)
    val acts = actions(t, 2L)
    val removed = acts.filter(_.has("remove")).map(_.get("remove").get("path").asText())
    val adds = acts.filter(_.has("add")).map(_.get("add"))
    assert(removed.size == 1 && adds.nonEmpty && adds.forall(!_.has("deletionVector")),
      s"one hit file => 1 remove, plain re-adds, got $acts")
    // copy-on-write pruned to the hit file: the other three v1 files back
    // the v2 snapshot by reference
    val live2Files = DeltaLog.snapshotFiles(spark, t, Some(2L)).toSet
    assert(live2Files == v1Files.toSet - removed.head ++ adds.map(_.get("path").asText()))
    val live2 = read(t, 2L)
    assert(live2.filter(col("text") === "rewritten").count() == 1L)
    assert(live2.count() == docs.count())
  }

  test("two-writer race: the loser's commit is rejected, the winner's stands") {
    val t = initTable("race", docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    def mkBatch(tag: String) = upserts(docs.filter(pmod(col("doc_id"), lit(4)) === 0), tag)
    // both writers read version 1 and merge concurrently; writer A publishes
    assert(merge(t, mkBatch(" by-A"), 1L) == 2L)
    // writer B, still holding version 1, must be REJECTED at the commit —
    // not silently clobber A's commit
    val ex = intercept[java.util.ConcurrentModificationException] {
      merge(t, mkBatch(" by-B"), 1L)
    }
    assert(ex.getMessage.contains("committed concurrently"))
    // A's commit is intact; B's orphaned data is invisible to every reader
    assert(DeltaLog.currentVersion(t) == 2L)
    val texts = read(t, 2L).filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.nonEmpty && texts.forall(_.endsWith(" by-A")))
    // and B can retry on the fresh version, the optimistic-concurrency loop
    assert(merge(t, mkBatch(" by-B"), 2L) == 3L)
    assert(read(t, 3L).filter(col("text").endsWith(" by-B")).count() > 0)
    assert(read(t, 2L).filter(col("text").endsWith(" by-B")).count() == 0,
      "retry lands in v3; pinned v2 still shows A only")
  }

  test("diff(vA, vB) emits the exact typed diff between the two snapshots") {
    val t = initTable("diff", docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    merge(t, batch(7, 4, " v2"), 1L)
    merge(t, upserts(docs.filter(pmod(col("doc_id"), lit(5)) === 0), " v3"), 2L)

    // reference diff from the materialized snapshots
    val s1 = snap(read(t, 1L))
    val s3 = snap(read(t, 3L))
    val expect = (s1.keySet ++ s3.keySet).toSeq.flatMap { k =>
      (s1.get(k), s3.get(k)) match {
        case (None, Some(tx)) => Some((k, "insert", tx))
        case (Some(tx), None) => Some((k, "delete", tx))
        case (Some(a), Some(b)) if a != b => Some((k, "update", b))
        case _ => None
      }
    }.sortBy(_._1)
    val d13 = DeltaLog.diff(spark, t, Seq("doc_id"), 1L, 3L)
    val got = d13.select(col("doc_id"), col("change_type"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == expect, "file-pruned diff equals the full snapshot diff")
    assert(expect.exists(_._2 == "insert") && expect.exists(_._2 == "delete")
      && expect.exists(_._2 == "update"), "fixture exercises all three types")
    // pre-image contract: deletes/updates carry old_*, inserts carry NULL
    val pre = d13.select(col("change_type"), col("old_text"), col("text")).collect()
    assert(pre.filter(_.getString(0) != "insert").forall(!_.isNullAt(1)),
      "retractable changes must carry the pre-image")
    assert(pre.filter(_.getString(0) == "insert").forall(_.isNullAt(1)))
    assert(pre.filter(_.getString(0) == "update")
      .forall(r => r.getString(1) != r.getString(2)),
      "an update's pre-image differs from its post-image")
    // from v0 (the empty create commit): everything live at vB is an insert
    val sinceEver = DeltaLog.diff(spark, t, Seq("doc_id"), 0L, 3L)
    assert(sinceEver.filter(col("change_type") =!= "insert").count() == 0L)
    assert(sinceEver.count() == s3.size)
  }

  test("checkpoint is a replay shortcut: reads before and after it agree") {
    val few = docs.orderBy(col("doc_id")).limit(200)
    val t = initTable("ckpt", few)
    (1 to 6).foreach { i =>
      merge(t, upserts(few.filter(pmod(col("doc_id"), lit(5)) === (i % 5)), s" u$i"), i.toLong)
    }
    val before = (1L to 7L).map(v => v -> snap(read(t, v))).toMap
    assert(DeltaLog.checkpoint(spark, t) == 7L)
    // post-checkpoint commit replays from the checkpoint, not version 0
    merge(t, upserts(few.filter(pmod(col("doc_id"), lit(5)) === 2), " u7"), 7L)
    // every pinned pre-checkpoint read is unchanged (checkpoint is not a
    // history truncation), and the post-checkpoint snapshot is correct
    (1L to 7L).foreach(v => assert(snap(read(t, v)) == before(v), s"v$v"))
    val s8 = snap(read(t, 8L))
    assert(s8.exists(_._2.endsWith(" u7")))
    assert(s8.size == before(7L).size)
  }

  test("OPTIMIZE compacts fragmented files content-identically, time-travel-safe") {
    val t = initTable("optimize", docs.filter(pmod(col("doc_id"), lit(16)) >= 8).coalesce(1))
    (1 to 3).foreach { k =>
      DeltaLog.commitAppendIdempotent(spark, t,
        docs.filter(pmod(col("doc_id"), lit(16)) < 8 &&
          col("doc_id") >= (k - 1) * 100 && col("doc_id") < k * 100).coalesce(1),
        "optimize-spec", k.toLong)
    }
    val v4 = DeltaLog.currentVersion(t)
    val before = snap(read(t, v4))
    assert(DeltaLog.snapshotFiles(spark, t, Some(v4)).size > 1, "fixture must be fragmented")
    val v5 = DeltaLog.commitOptimize(spark, t, targetFiles = 1)
    assert(v5 == v4 + 1)
    assert(DeltaLog.snapshotFiles(spark, t, Some(v5)).size == 1, "one live file after")
    assert(snap(read(t, v5)) == before, "compaction must move bytes and nothing else")
    assert(snap(read(t, v4)) == before, "pre-compaction time travel must survive")
    // the rewrite is marked as no logical change on every action
    val fileActs = actions(t, v5).flatMap(n => Seq("add", "remove").flatMap(k => Option(n.get(k))))
    assert(fileActs.nonEmpty && fileActs.forall(!_.get("dataChange").asBoolean()))
  }

  test("layout rewrite changes layout, not content; later merges still apply") {
    val t = initTable("layout", docs.repartition(16))
    val s1 = snap(read(t, 1L))
    val v2 = DeltaLog.commitRewriteLayout(spark, t, _.repartition(4, col("doc_id")), Some(1L))
    assert(v2 == 2L)
    assert(snap(read(t, 2L)) == s1, "the layout rewrite preserves logical content")
    assert(snap(read(t, 1L)) == s1, "pinned pre-rewrite read still works")
    val files2 = DeltaLog.snapshotFiles(spark, t, Some(2L))
    assert(files2.size <= 4 && files2.nonEmpty)
    assert(files2.toSet.intersect(DeltaLog.snapshotFiles(spark, t, Some(1L)).toSet).isEmpty)
    // a one-key merge after the rewrite lands on the new layout
    val oneKey = docs.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), lit("upsert").as("op"), lit("rewritten").as("text"), col("lang"))
    assert(merge(t, oneKey, 2L) == 3L)
    assert(read(t, 3L).filter(col("text") === "rewritten").count() == 1L)
    assert(read(t, 3L).count() == s1.size)
  }

  test("commitAppendIdempotent is a no-op on micro-batch replay") {
    val t = freshRoot("append")
    val part = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i % 3)
    // the first batch creates the table (commit 0)
    assert(DeltaLog.commitAppendIdempotent(spark, t, part(0), "sink", 0L) == 0L)
    assert(DeltaLog.txnVersion(spark, t, "sink").contains(0L))
    val n1 = DeltaLog.read(spark, t).count()
    assert(DeltaLog.commitAppendIdempotent(spark, t, part(1), "sink", 1L) == 1L)
    val n2 = DeltaLog.read(spark, t).count()
    assert(n2 > n1)
    // failure replay: foreachBatch re-delivers batch 1 with the same id —
    // the committed txn action makes the re-append a no-op
    assert(DeltaLog.commitAppendIdempotent(spark, t, part(1), "sink", 1L) == 1L,
      "replayed batch must not commit a new version")
    assert(DeltaLog.currentVersion(t) == 1L)
    assert(DeltaLog.read(spark, t).count() == n2, "no duplicate rows from the replay")
    // and the next genuine batch proceeds
    assert(DeltaLog.commitAppendIdempotent(spark, t, part(2), "sink", 2L) == 2L)
  }

  test("merge with txn: replayed batch is a no-op; keyed updates converge") {
    val t = initTable("mergetxn", docs.orderBy(col("doc_id")).limit(60))
    def ch(rows: Seq[(Long, String, String, String)]) =
      spark.createDataFrame(rows).toDF("doc_id", "op", "text", "lang")
    def mergeBatch(rows: Seq[(Long, String, String, String)], bid: Long): Long =
      DeltaLog.mergeInto(spark, t, ch(rows), Seq("doc_id"), ops = true,
        txn = Some(("upsert-sink", bid)))._1
    val b0 = Seq((1L, "upsert", "one-v1", "en"), (2L, "upsert", "two-v1", "en"))
    assert(mergeBatch(b0, 0L) == 2L)
    assert(DeltaLog.txnVersion(spark, t, "upsert-sink").contains(0L))
    val s1 = snap(DeltaLog.read(spark, t))
    // failure replay: same batch id re-delivered — detected no-op, same
    // version, same content
    assert(mergeBatch(b0, 0L) == 2L)
    assert(DeltaLog.currentVersion(t) == 2L && snap(DeltaLog.read(spark, t)) == s1,
      "replayed merge must not change state")
    // batch 1 touches the same keys in the opposite order plus a delete:
    // later batch wins per key regardless of row order within the batch
    assert(mergeBatch(Seq((2L, "upsert", "two-v2", "en"),
      (1L, "delete", "one-v1", "en")), 1L) == 3L)
    val s2 = snap(DeltaLog.read(spark, t))
    assert(!s2.contains(1L), "deleted key must be gone")
    assert(s2(2L) == "two-v2", "later batch's upsert must win")
    // replay of the OLDER batch after a newer one committed: still a no-op
    assert(mergeBatch(Seq((1L, "upsert", "one-v1", "en")), 0L) == 3L)
    assert(snap(DeltaLog.read(spark, t)) == s2, "stale replay must not resurrect state")
  }

  test("vacuum reclaims pre-horizon files; horizon reads survive") {
    val few = docs.orderBy(col("doc_id")).limit(100)
    val t = initTable("vacuum", few)
    def mkBatch(tag: String) = upserts(few.filter(pmod(col("doc_id"), lit(4)) === 0), tag)
    merge(t, mkBatch(" a"), 1L)
    // a losing writer's files are never referenced by any commit
    intercept[java.util.ConcurrentModificationException] { merge(t, mkBatch(" loser"), 1L) }
    val v3 = DeltaLog.commitOptimize(spark, t, targetFiles = 1)
    merge(t, mkBatch(" b"), v3)
    val preHorizon = (DeltaLog.snapshotFiles(spark, t, Some(1L)) ++
      DeltaLog.snapshotFiles(spark, t, Some(2L))).toSet
    val s3 = snap(read(t, 3L))
    val s4 = snap(read(t, 4L))
    val deleted = DeltaLog.vacuum(spark, t, retainFromVersion = 3L)
    assert(preHorizon.nonEmpty && preHorizon.subsetOf(deleted.toSet),
      "every data file live only before the horizon must be reclaimed")
    assert(preHorizon.forall(p => !new java.io.File(s"$t/$p").exists()))
    // horizon reads intact after GC, and the loser never surfaces
    assert(snap(read(t, 3L)) == s3)
    assert(snap(read(t, 4L)) == s4)
    assert(!s4.values.exists(_.endsWith(" loser")))
  }

  test("op-aware merges reject schema-drifting batches") {
    val t = initTable("drift", docs.orderBy(col("doc_id")).limit(50))
    val drifting = docs.limit(10)
      .select(col("doc_id"), lit("upsert").as("op"),
        col("text"), col("lang"), lit(1).as("extra_col"))
    val ex = intercept[IllegalArgumentException] { merge(t, drifting, 1L) }
    assert(ex.getMessage.contains("do not match table columns"))
    val missing = docs.limit(10)
      .select(col("doc_id"), lit("upsert").as("op"), col("text"))
    intercept[IllegalArgumentException] { merge(t, missing, 1L) }
    // the table is untouched by the rejected merges
    assert(DeltaLog.currentVersion(t) == 1L)
    assert(DeltaLog.latestSchema(t).fieldNames.toSeq == Seq("doc_id", "text", "lang"))
  }

  test("delete wins over upsert for the same key within one batch") {
    val t = initTable("delwin", docs.orderBy(col("doc_id")).limit(20))
    val ids = docs.orderBy(col("doc_id")).limit(2).collect().map(_.getLong(0))
    val s0 = spark
    import s0.implicits._
    val b = Seq(
      (ids(0), "upsert", "should not survive", "en"),
      (ids(0), "delete", "x", "en"),
      (ids(1), "upsert", "survives", "en"))
      .toDF("doc_id", "op", "text", "lang")
    merge(t, b, 1L)
    val s = snap(read(t, 2L))
    assert(!s.contains(ids(0)), "delete wins on overlap")
    assert(s(ids(1)) == "survives")
  }

  test("CDC mirror interop: bootstrap + diff apply equals the native snapshot") {
    val t = initTable("mirror", docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    val v2 = merge(t, batch(7, 4, " v2"), 1L)
    val v3 = merge(t, batch(9, 5, " v3"), v2)

    // the q236 apply: anti-join out every changed key, union in the
    // non-delete payloads — the generic MERGE an external engine runs
    def applyFeed(mirror: DataFrame, vA: Long, vB: Long) = {
      val feed = DeltaLog.diff(spark, t, Seq("doc_id"), vA, vB)
        .select(col("doc_id"), col("change_type"), col("text"), col("lang"))
      mirror.join(feed.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(feed.filter(col("change_type") =!= "delete")
          .select(col("doc_id"), col("text"), col("lang")))
    }
    val native = snap(read(t, v3))

    // bootstrap at v1, sync (1, 3]
    val fromV1 = applyFeed(read(t, 1L), 1L, v3)
    assert(snap(fromV1) == native, "v1 bootstrap + full diff must equal the snapshot")

    // IDEMPOTENT: re-applying the same diff to the synced mirror is a no-op
    assert(snap(applyFeed(fromV1, 1L, v3)) == native, "re-applied diff must be a no-op")

    // PIN-INVARIANT: a later bootstrap with the shorter diff lands on the
    // same table — migration can start from any pinned snapshot
    val fromV2 = applyFeed(read(t, 2L), 2L, v3)
    assert(snap(fromV2) == native, "v2 bootstrap + tail diff must equal the snapshot")
  }

  test("q214 erasure: survivors zero, pre-erasure snapshot unreadable") {
    val r1 = graft.queries.IngestOps.q214Erasure(spark, sfDir).collect()
    assert(r1.length === 1)
    val r = r1.head
    assert(r.getAs[Long]("n_requests") > 0L, "the fixture must contain erasure requests")
    assert(r.getAs[Long]("survivors_after") === 0L,
      "no requested subject may survive in the post-erasure snapshot")
    assert(r.getAs[Long]("n_after") === r.getAs[Long]("n_before") - r.getAs[Long]("n_requests"))
    assert(!r.getAs[Boolean]("v1_readable_after_vacuum"),
      "vacuum past the erasure commit must make the pre-erasure snapshot unreconstructable")
    // idempotent across calls in one JVM (memoized fixture, read-only audit)
    val r2 = graft.queries.IngestOps.q214Erasure(spark, sfDir).collect()
    assert(r2.map(_.toSeq).toSeq === r1.map(_.toSeq).toSeq)
  }

  test("ReplayFixtures.once: one build per (tag, dir) in a JVM, one root") {
    val tag = s"oncespec${System.nanoTime()}"
    var builds = 0
    def fixture(dir: String): String =
      graft.queries.ReplayFixtures.once(tag, dir) { root => builds += 1; root }
    val a = fixture(sfDir)
    assert(fixture(sfDir) == a && builds == 1)
    val b = fixture(s"$sfDir-other")
    assert(b != a && builds == 2)
    assert(fixture(sfDir) == a && fixture(s"$sfDir-other") == b && builds == 2)
  }

  test("cloned-fixture queries: two runs return identical rows and leave the " +
      "frozen source's files untouched") {
    import graft.queries.{IngestOps, LayoutOps}
    def listing(root: String): Seq[(String, Long)] = {
      val p = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> java.nio.file.Files.size(f))
        .toSeq.sorted
      finally s.close()
    }
    val q264 = () => s"${IngestOps.q264Fixture(spark, sfDir)}/delta"
    val cases: Seq[(String, () => String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
      ("q239", () => IngestOps.q239Table(spark, sfDir), IngestOps.q239Compaction),
      ("q245", () => s"${IngestOps.q245Fixture(spark, sfDir)}/delta", IngestOps.q245DeltaOptimize),
      ("q264", q264, IngestOps.q264DeltaDeleteVectors),
      ("q265", q264, IngestOps.q265DeltaMerge),
      ("q266", q264, IngestOps.q266ChangeFeed),
      ("q270", () => s"${LayoutOps.q270Fixture(spark, sfDir)}/delta", LayoutOps.q270ZorderOptimize),
      ("q273", () => s"${IngestOps.q273Fixture(spark, sfDir)}/delta", IngestOps.q273MappedDelete))
    cases.foreach { case (q, source, run) =>
      val src = source()
      val before = listing(src)
      assert(before.exists(_._1.startsWith("_delta_log")), s"$q: $src is not a Delta table")
      val r1 = run(spark, sfDir).collect().toSeq
      val r2 = run(spark, sfDir).collect().toSeq
      assert(r1.nonEmpty && r1 == r2, s"$q: a second run saw a different table")
      assert(listing(src) == before, s"$q: the runs changed the source fixture $src")
    }
  }
}
