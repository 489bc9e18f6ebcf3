package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance verbs for the engine's derived parquet stores (the lexical
  * store's `dl/`/`postings/`/`maxscore/`, the signature store's
  * `sigs/`/`bands/`/`pairs/`, the ANN store's list-partitioned
  * postings): file-level copy-on-write erasure, bin-packed small-file
  * compaction, and the change-feed apply loop that drives a store's
  * erase and append steps from a Delta change data feed.
  *
  * Every verb that rewrites a part re-stamps it in the store's
  * [[StoreManifest]] ([[StoreManifest.bumpPart]]), so a part recorded as
  * derived from the rewritten one stops being served until its own
  * writer refreshes it; the verbs never decide what may be read.
  *
  * Erasure and compaction operate at FILE granularity, the same unit
  * every lakehouse maintenance protocol uses (Delta OPTIMIZE / GDPR
  * delete, Iceberg rewrite_data_files): a rewrite touches only the files
  * that need it, every untouched file stays byte-identical in place, and
  * the data pass is a distributed Spark job — the driver handles only the
  * file MANIFEST (the listing), never rows.
  *
  * All filesystem verbs route through [[Fs]] (the Hadoop `FileSystem`
  * seam): publication here is staged-file move-in + candidate delete —
  * on HDFS the renames are atomic; on an object store where they are
  * not, the same file-set change publishes as a `dataChange=false` Delta
  * commit ([[graft.sources.DeltaLog.commitRewrite]]) and this module's
  * staging protocol is the mechanical half it shares.
  */
object StoreMaint {

  /** Every data file under `path` (recursive), excluding markers. */
  def dataFiles(path: String): Seq[String] =
    Fs.listFilesRecursive(path).collect {
      case (p, _) if p.endsWith(".parquet") => p
    }

  /** Count of data files under `path` — the quantity scan cost degrades
    * with (footer reads, task scheduling) and compaction exists to bound.
    */
  def dataFileCount(path: String): Long = dataFiles(path).size.toLong

  private def touchSuccess(path: String): Unit =
    Fs.touch(Fs.resolve(path, "_SUCCESS"))

  /** CHANGE-FEED APPLY: replay a Delta change data feed
    * ([[graft.sources.DeltaLog.readChangeFeed]]) into a derived store one
    * commit version at a time, IN ORDER, and within each version
    * RETRACTIONS BEFORE ARRIVALS: the version's `delete`/`update_preimage`
    * keys go to `erase` (one column, distinct `key`s; called for every
    * version) before its `insert`/`update_postimage` rows (`key` +
    * `payload` columns) go to `append` (skipped when there are none). A
    * merge's update is its preimage leaving and its postimage landing,
    * and a key deleted at v and re-inserted at v' must survive — both
    * hold only in this order. Each store passes its own steps; the feed
    * is persisted for the walk, and driver state is its distinct version
    * list, checkpoint-cadence sized.
    */
  def applyFeed(feed: DataFrame, key: String, payload: Seq[String])(
      erase: DataFrame => Unit, append: DataFrame => Unit): Unit = {
    val fd = feed.select((Seq("_commit_version", "_change_type", key) ++ payload).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val versions = fd.select(col("_commit_version")).distinct()
        .orderBy(col("_commit_version")).collect().map(_.getLong(0))
      versions.foreach { v =>
        val slice = fd.filter(col("_commit_version") === v)
        erase(slice.filter(col("_change_type").isin("delete", "update_preimage"))
          .select(col(key)).distinct())
        val born = slice.filter(col("_change_type").isin("insert", "update_postimage"))
          .select((key +: payload).map(col): _*)
        if (born.limit(1).count() > 0) append(born)
      }
    } finally { fd.unpersist(); () }
  }

  /** FILE-LEVEL COPY-ON-WRITE ERASURE: remove every row matching `hit`
    * from the parquet table at `path`, rewriting ONLY the files that
    * contain at least one matching row. This is the erasure-propagation
    * primitive for derived stores — at 100 TB the derived artifacts (an
    * inverted index's postings, a dedup store's signatures) ARE the
    * compliance surface, and a "right to be forgotten" request that
    * rewrote the whole store per batch would be a full-table write per
    * nightly job instead of one bounded by the subjects' footprint.
    *
    * Protocol (the q214 copy-on-write merge at file granularity):
    *  1. one distributed scan finds the DISTINCT FILES holding matching
    *     rows (`input_file_name()` + the predicate — filter pushdown and
    *     partition pruning apply, so a predicate keyed to the table's
    *     partition scheme touches only its partitions); the collected
    *     hit list is manifest-sized, the same driver frame every
    *     lakehouse delete materializes;
    *  2. the hit files ALONE are re-read (partition columns recovered via
    *     `basePath`) and their surviving rows written to a staging dir
    *     with the same partitioning;
    *  3. staged files move into place, hit files are deleted, `_SUCCESS`
    *     is bumped so freshness contracts see the new version.
    *
    * Returns the number of rewritten (hit) files — 0 means the predicate
    * matched nothing and the store was not touched at all.
    */
  def eraseWhere(spark: SparkSession, path: String,
      partitionCols: Seq[String], hit: Column): Long = {
    // null-safe on BOTH sides: a row where the predicate evaluates to
    // NULL is not a hit (<=> true is false), and it must be KEPT when its
    // file is rewritten for other rows' sake — a plain !hit would drop it
    // from the survivors too, silently deleting rows the request never
    // named. `hit <=> true` / `!(hit <=> true)` partition every row.
    val hitTrue = hit <=> lit(true)
    val hitFiles = spark.read.parquet(path)
      .withColumn("__file", input_file_name())
      .filter(hitTrue)
      .select(col("__file")).distinct()
      // input_file_name() renders a PERCENT-ENCODED URI — decode it, or a
      // store path containing a space/'%' makes the hit re-read fail and
      // the delete a silent no-op (the erasure verb must never "succeed"
      // while the subject's rows remain)
      .collect().map(r => Fs.fromUriString(r.getString(0))).toSeq
    if (hitFiles.isEmpty) return 0L
    val survivors = spark.read.option("basePath", path)
      .parquet(hitFiles: _*)
      .filter(!hitTrue)
    cowPublish(path, partitionCols, hitFiles, survivors)
  }

  /** [[eraseWhere]] keyed by a FRAME of subject keys instead of a Column
    * predicate — the CDC-consumer shape: a change feed's deleted keys
    * arrive as a DataFrame of arbitrary size, and an `isin` literal list
    * would put every key on the driver and in the plan. The hit scan is
    * a semi-join (AQE broadcasts a small key set; a huge erasure batch
    * shuffles like any join), survivors anti-join, same file-level
    * copy-on-write publish: only files holding a subject's rows rewrite.
    */
  def eraseKeys(spark: SparkSession, path: String, partitionCols: Seq[String],
      keyCol: String, keys: DataFrame): Long = {
    if (!Fs.isDir(path)) return 0L
    val k = keys.select(col(keyCol)).distinct()
    val hitFiles = spark.read.parquet(path)
      .withColumn("__file", input_file_name())
      .join(k, Seq(keyCol), "left_semi")
      .select(col("__file")).distinct()
      // input_file_name() renders a PERCENT-ENCODED URI — decode it, or a
      // store path containing a space/'%' makes the hit re-read fail and
      // the delete a silent no-op (the erasure verb must never "succeed"
      // while the subject's rows remain)
      .collect().map(r => Fs.fromUriString(r.getString(0))).toSeq
    if (hitFiles.isEmpty) return 0L
    val survivors = spark.read.option("basePath", path)
      .parquet(hitFiles: _*)
      .join(k, Seq(keyCol), "left_anti")
    cowPublish(path, partitionCols, hitFiles, survivors)
  }

  /** The copy-on-write publish both erase verbs share: staged survivors
    * in, hit files out, marker + manifest bumped.
    */
  private def cowPublish(path: String, partitionCols: Seq[String],
      hitFiles: Seq[String],
      survivors: DataFrame): Long = {
    val staging = path + ".cow"
    Fs.deleteRecursive(staging)
    val w = survivors.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging)
    dataFiles(staging).foreach { f =>
      val rel = Fs.relativize(staging, f)
      val dest = Fs.resolve(path, rel)
      Fs.mkdirs(Fs.parent(dest))
      Fs.rename(f, dest, overwrite = true)
    }
    hitFiles.foreach(Fs.delete(_))
    Fs.deleteRecursive(staging)
    touchSuccess(path)
    StoreManifest.bumpPart(path)
    hitFiles.size.toLong
  }

  /** BIN-PACKED SMALL-FILE COMPACTION of the parquet table at `path`:
    * rewrite the accumulated per-trigger SMALL files into
    * `targetBytes`-sized outputs, preserving `partitionCols` layout.
    *
    * SMALL-FILE-AWARE: only files under `targetBytes` are rewrite
    * candidates, and only where merging is possible — a partition
    * directory holding a single small file is already as packed as this
    * pass can make it. Files at/over target (and lone small files) are
    * CARRIED untouched: never read, never moved, byte-identical after
    * the pass. That makes the maintenance job's own cost proportional to
    * the small-file TAIL, not the store — a 100 TB postings store
    * compacted nightly re-copies its fresh appends, not 100 TB — and a
    * second pass over an already-compacted store is a literal no-op
    * (returns 0, bumps nothing). This is the same candidate discipline
    * Delta OPTIMIZE applies with its minFileSize threshold.
    *
    * The rewrite itself is the q178 compaction planner made physical:
    * with `openCostInBytes = 0` and `maxPartitionBytes = targetBytes`,
    * Spark's FileSourceScan split planner runs EXACTLY the planner's
    * discipline — cumulative bytes next-fit into target-sized bins, one
    * scan task per bin — so each task reads one bin's small files and
    * writes one compacted file, with NO shuffle anywhere (the rewrite
    * moves bytes once, scan to writer, the Delta/Iceberg OPTIMIZE shape).
    * Re-running on an unchanged listing reproduces the identical binning
    * (idempotent maintenance).
    *
    * Publication is staged-file move-in + candidate delete (see class
    * note for the object-store analogue). Results are byte-for-byte the
    * same rows — callers' correctness gates (oracle hashes) must not
    * move. Returns the number of small files rewritten (0 = no-op).
    */
  def compact(spark: SparkSession, path: String,
      partitionCols: Seq[String], targetBytes: Long): Long = {
    // candidates: under-target files in directories where a merge is
    // possible (>= 2 small files share the directory — with partitionBy
    // output routing, files can only ever merge within their partition)
    val candidates = Fs.listFilesRecursive(path)
      .collect { case (p, sz) if p.endsWith(".parquet") && sz < targetBytes => p }
      .groupBy(Fs.parent).values.filter(_.size >= 2).flatten.toSeq
    if (candidates.isEmpty) return 0L
    val staging = path + ".opt"
    Fs.deleteRecursive(staging)
    val conf = spark.conf
    // maxPartitionBytes = target and openCost = 0 make the split planner's
    // bin exactly `targetBytes` of real data; minPartitionNum = 1 stops the
    // planner shrinking bins to fill idle cores (bytesPerCore) — compaction
    // wants target-sized outputs, not cluster-width outputs
    val tuned = Seq(
      "spark.sql.files.maxPartitionBytes" -> targetBytes.toString,
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.minPartitionNum" -> "1")
    val saved = tuned.map { case (k, _) => k -> conf.getOption(k) }
    try {
      tuned.foreach { case (k, v) => conf.set(k, v) }
      // basePath recovers the partition columns from the candidate
      // files' directory layout, exactly like eraseWhere's hit read
      val df = spark.read.option("basePath", path)
        .parquet(candidates: _*)
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(staging)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    // publish: staged outputs in (fresh UUID part names — no collision
    // with carried files), candidates out, marker bumped
    dataFiles(staging).foreach { f =>
      val rel = Fs.relativize(staging, f)
      val dest = Fs.resolve(path, rel)
      Fs.mkdirs(Fs.parent(dest))
      Fs.rename(f, dest, overwrite = true)
    }
    candidates.foreach(Fs.delete(_))
    Fs.deleteRecursive(staging)
    touchSuccess(path)
    StoreManifest.bumpPart(path)
    candidates.size.toLong
  }
}
