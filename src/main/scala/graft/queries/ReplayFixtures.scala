package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The ONE module that names, builds and reuses query fixtures. Every
  * fixture root lives under `java.io.tmpdir` with the `graft_` prefix,
  * in one of three lifetimes:
  *
  *   - SHARED, [[ensure]] (`graft_fix_<name>_<sf>`): built once per
  *     (query, sf) and reused by every JVM. The replay queries
  *     (q89/q112/q133/q140/q143/q152/q165/q174/q187) and the lakehouse
  *     fixtures stage deterministic inputs here — carved parquet/text
  *     sides, sentinel rows, forced modification times, hand-authored
  *     Delta logs — that are IDENTICAL for every run at a given scale
  *     factor, so only the STREAM or the verb runs per call. Contract:
  *       - freshness: the `_FIXTURE_OK` marker must be newer than every
  *         source table the fixture derives from — a regenerated corpus
  *         can never serve a stale fixture (same contract as the q40
  *         minhash signature store);
  *       - restoration: the marker records the carved file list, and
  *         reuse DELETES any file a previous replay appended into the
  *         fixture tree (q174's in-run drain sentinels, q152's v1+
  *         rollups), restoring the carved state exactly — including the
  *         carve-time modification times the FileStreamSource replay
  *         order depends on, which the files keep because restoration
  *         never rewrites them.
  *   - PER JVM, [[once]] (`graft_<tag>_<jvm>_<sf>`): built on first use
  *     in this JVM, memoized, and handed to every later call — the
  *     versioned tables, derived stores and staged layouts whose
  *     consumers only read them (version-pinned reads, published stores).
  *     A stale copy from an earlier JVM is wiped before the build.
  *   - PER CALL, [[runRoot]] (`graft_run_<name>_<jvm>_<sf>`): wiped on
  *     every call — checkpoints, sinks, and the [[cloneInto]] copies a
  *     mutating verb runs against, so every replay starts from offset
  *     zero and every run pays the real verb against the frozen input.
  *
  * Per-JVM and per-call roots carry a per-JVM tag: two concurrent JVMs
  * sharing a fixed path would delete each other's live files mid-read
  * (observed as FILE_NOT_EXIST when a test suite and a bench run
  * overlap). Deleting `graft_*` under tmpdir forces every fixture to
  * rebuild.
  */
private[graft] object ReplayFixtures {

  private def sfTag(dir: String) = dir.replaceAll("[^A-Za-z0-9.]", "_")

  private def tmpDir = System.getProperty("java.io.tmpdir")

  /** Per-JVM suffix of the [[once]] and [[runRoot]] roots: unique per
    * JVM, stable within it.
    */
  private lazy val jvmTag: String = java.util.UUID.randomUUID().toString.take(8)

  /** Shared fixture root for (query, sf) — stable across runs and JVMs. */
  def fixtureRootFor(dir: String, name: String): String =
    s"$tmpDir/graft_fix_${name}_${sfTag(dir)}"

  /** Per-call scratch root (checkpoints, sinks, clones) for (query, sf). */
  def runRootFor(dir: String, name: String): String =
    s"$tmpDir/graft_run_${name}_${jvmTag}_${sfTag(dir)}"

  private def wipe(root: String): Unit = {
    val f = new java.io.File(root)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private val memo = scala.collection.mutable.HashMap.empty[(String, String), Any]

  /** The per-JVM fixture `tag` for sf `dir`: on the first call in this
    * JVM, wipe its root and run `build(root)`; every call returns that
    * first build's result.
    */
  def once[T](tag: String, dir: String)(build: String => T): T = synchronized {
    memo.get((tag, dir)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val root = s"$tmpDir/graft_${tag}_${jvmTag}_${sfTag(dir)}"
        wipe(root)
        val v = build(root)
        memo((tag, dir)) = v
        v
    }
  }

  /** Hard-link clone of the fixture subtree `src` into a fresh
    * [[runRoot]] for `runName`, returning the clone's path (the run root
    * plus `src`'s last path segment). Metadata-only work — one link
    * syscall per file, never data bytes — falling back to a copy on
    * filesystems without hard links. The verbs that run on a clone only
    * add files and never rewrite one in place, so the frozen source is
    * never disturbed and every run (each bench repeat included) pays the
    * real verb, never the idempotent no-op a second run on one root
    * would be.
    */
  def cloneInto(src: String, runName: String, dir: String): String = {
    val from = Paths.get(src)
    val to = Paths.get(runRoot(dir, runName)).resolve(from.getFileName)
    Files.walk(from).forEach { (p: Path) =>
      val rel = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(rel)
      else
        try Files.createLink(rel, p)
        catch { case _: UnsupportedOperationException => Files.copy(p, rel); () }
    }
    to.toString
  }

  /** Write `df` as ONE parquet file at `dir/name` (`name` may name
    * subdirectories, created as needed) and return its size — the foreign-table-fixture primitive (a
    * hand-authored Delta log needs files at exact paths, not a Spark
    * output directory). One definition instead of a per-fixture copy of
    * the write-to-temp / find-the-part / move / clean dance.
    */
  def moveInParquet(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): Long = {
    val tmp = s"$dir/.tmp-movein"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"no parquet part written under $tmp"))
    val dest = Paths.get(dir, name)
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    dest.toFile.length()
  }

  private def latestMtime(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.lastModified
    else (f.lastModified +: f.listFiles().map(latestMtime)).max

  private def regularFiles(root: Path): Vector[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toVector
    finally s.close()
  }

  /** Return the fixture root for (query, sf), running `build(root)` only
    * when the fixture is absent or staler than any of the `sources`
    * tables under `dir`. On reuse, files not present at carve completion
    * are deleted (see restoration contract above).
    */
  def ensure(dir: String, name: String, sources: Seq[String])(
      build: String => Unit): String = synchronized {
    val root = fixtureRootFor(dir, name)
    val rootPath = Paths.get(root)
    val marker = rootPath.resolve("_FIXTURE_OK")
    val srcM = sources
      .map(t => latestMtime(new java.io.File(s"$dir/$t.parquet"))).max
    if (Files.exists(marker) && marker.toFile.lastModified() >= srcM) {
      val keep = Files.readAllLines(marker).asScala.toSet + "_FIXTURE_OK"
      regularFiles(rootPath).foreach { p =>
        if (!keep(rootPath.relativize(p).toString)) Files.delete(p)
      }
      // sweep directories a previous run created and the file pass just
      // emptied (q152's v1+ rollups): a leftover empty dir still blocks a
      // non-overwrite parquet write. Deepest-first so parents empty out.
      val dirStream = Files.walk(rootPath)
      val dirs =
        try dirStream.iterator().asScala
          .filter(p => Files.isDirectory(p) && p != rootPath).toVector
        finally dirStream.close()
      dirs.sortBy(-_.getNameCount).foreach { d =>
        val ls = Files.list(d)
        val empty = try !ls.iterator().hasNext finally ls.close()
        if (empty) Files.delete(d)
      }
    } else {
      wipe(root)
      Files.createDirectories(rootPath)
      build(root)
      val rels = regularFiles(rootPath)
        .map(p => rootPath.relativize(p).toString)
        .filterNot(_ == "_FIXTURE_OK").sorted
      Files.write(marker, rels.asJava)
    }
    root
  }

  /** Fresh per-call scratch root: wiped and recreated on every call. */
  def runRoot(dir: String, name: String): String = {
    val root = runRootFor(dir, name)
    wipe(root)
    new java.io.File(root).mkdirs()
    root
  }

  /** A session for ONE replay stream: the parent's runtime conf cloned
    * (state-store provider overrides included — `newSession` alone would
    * drop them), with shuffle/state partitions sized to the replay's
    * keyed state instead of the session's scan parallelism. A stateful
    * micro-batch commits EVERY state partition on EVERY trigger, so a
    * small-state replay at the batch engine's 32 shuffle partitions pays
    * 32 store commits per trigger for state that fits in a handful — the
    * partition count is a per-stream deployment knob (sized UP for a
    * 100 TB feed's billions of keys, down for a replay), not a global.
    * Isolated per query so concurrently-running suites on the shared
    * session never see the override.
    *
    * Default = 2, measured this round over the replay block
    * (q174/q240/q112/q208/q206/q200/q140/q165, sf0.1, 32 cores, scoped
    * medians): 8 partitions → 30.5 s, 4 → 26.3, 2 → 25.4, 1 → 26.2 —
    * per-trigger store-commit overhead dominates down to 2, below which
    * the lost cross-store parallelism wins. State partitioning never
    * changes results (hash layout only); every replay oracle re-verified.
    */
  def replaySession(spark: org.apache.spark.sql.SparkSession,
      statePartitions: Int = 2): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => } // static conf
    }
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // The state-store PROVIDER stays the HDFS-backed default here: switching
    // every replay to RocksDB was measured this round (sf0.1, 32 cores,
    // scoped medians) and REGRESSED the block 25.4 → 28.9 s — worst on the
    // stream-stream join (q174 4.1 → 6.1 s), whose four stores per
    // partition each pay RocksDB instance setup per trigger for state that
    // fits in a few KB. The transformWithState queries (q206/q208) keep
    // their per-query RocksDB override — the v2 API requires it.
    s
  }
}
