package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** THE OBJECT-STORAGE SEAM — every filesystem touch of the table/store
  * layer (Delta log commits and checkpoints, store maintenance staging,
  * manifests, versioned-table markers) routed through the Hadoop
  * `FileSystem` API instead of `java.nio.file`. The DataFrame reads and
  * writes were always FS-agnostic (Spark paths); this closes the gap for
  * the COMMIT and MAINTENANCE surface, so a cluster whose tables live on
  * HDFS/S3A/GCS can run every verb the local sandbox runs:
  *
  *   - [[createNew]] is create-no-overwrite — the single-winner commit
  *     race. Atomic on HDFS (namenode create); on S3A it maps to
  *     conditional PUT on recent Hadoop versions; on the local FS it is
  *     what `CREATE_NEW` was.
  *   - [[replaceAtomic]] is write-temp + rename-with-OVERWRITE via
  *     `FileContext` — the pointer-swap publish (`_last_checkpoint`,
  *     `_store_manifest.json`) where a reader must see the old or the
  *     complete new content, never a torn write.
  *   - Listings ([[listFiles]]) use the FS LIST contract — the only
  *     metadata source that is contractual on object stores (mtimes are
  *     not, which is why freshness lives in [[StoreManifest]] counters).
  *
  * Paths are plain strings: scheme-less strings resolve against
  * `fs.defaultFS` (the local FS in the sandbox, so every existing caller
  * is unchanged), `file://` / `hdfs://` / `s3a://` URIs route to their
  * scheme's FileSystem. The Hadoop configuration comes from the active
  * SparkSession when one exists (cluster credentials, endpoint overrides)
  * and a vanilla `Configuration` otherwise (driver-side string work
  * before any session, and executor-side sidecar reads).
  */
object Fs {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse {
        // EXECUTOR-SIDE fallback (task threads have no active session):
        // rebuild the session's `spark.hadoop.*` overlay from the
        // executor's SparkConf — SparkEnv ships it to every executor, so
        // credentials/endpoints configured on the driver reach the
        // executor-side sidecar reads (DV bitmap decode) too
        val c = new Configuration()
        Option(org.apache.spark.SparkEnv.get).foreach { env =>
          env.conf.getAll.foreach { case (k, v) =>
            if (k.startsWith("spark.hadoop."))
              c.set(k.stripPrefix("spark.hadoop."), v)
          }
        }
        c
      }

  /** Session Hadoop configuration (driver) / reconstructed overlay
    * (executor) — for callers that drive Hadoop APIs directly (parquet
    * footer reads) and must see the same credentials this seam uses.
    */
  private[graft] def hadoopConf: Configuration = conf

  /** Hadoop path from a string spelling (scheme-less → default FS). */
  def hp(s: String): HPath = new HPath(s)

  private def fsOf(p: HPath): FileSystem = p.getFileSystem(conf) match {
    // the checksummed local wrapper shadows every write with a `.crc`
    // sidecar — java.nio-equivalent semantics (and listing/fingerprint
    // hygiene) want the RAW filesystem; HDFS/S3A pass through untouched
    case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
    case other => other
  }

  /** The fully-qualified spelling (scheme + authority resolved). */
  def qualified(s: String): String = {
    val p = hp(s)
    fsOf(p).makeQualified(p).toString
  }

  /** The DECODED absolute path component, scheme stripped — what a
    * decoded `_metadata.file_path` contains for this root, whatever URI
    * spelling the caller used (`/x`, `file:///x`, `hdfs://nn/x`).
    */
  def absPathNoScheme(s: String): String = {
    val p = hp(s)
    fsOf(p).makeQualified(p).toUri.getPath
  }

  def exists(s: String): Boolean = { val p = hp(s); fsOf(p).exists(p) }

  /** (isFile, length, mtimeMillis) in ONE metadata call, None when the
    * path does not exist — callers probing a file's fingerprint must not
    * pay three round-trips on an object store.
    */
  def fileStatus(s: String): Option[(Boolean, Long, Long)] = {
    val p = hp(s)
    try {
      val st = fsOf(p).getFileStatus(p)
      Some((st.isFile, st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** A path string as returned by Spark's `input_file_name()` — a
    * PERCENT-ENCODED URI — normalized to the decoded Path spelling the
    * rest of this seam (and Spark's own path resolution) expects. A
    * scheme-less string passes through unchanged.
    */
  def fromUriString(s: String): String = {
    val u = try java.net.URI.create(s) catch { case NonFatal(_) => return s }
    if (u.getScheme == null) s else new HPath(u).toString
  }

  def isFile(s: String): Boolean = {
    val p = hp(s)
    val fs = fsOf(p)
    fs.exists(p) && fs.getFileStatus(p).isFile
  }

  def isDir(s: String): Boolean = {
    val p = hp(s)
    val fs = fsOf(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  def size(s: String): Long = { val p = hp(s); fsOf(p).getFileStatus(p).getLen }

  def mtimeMillis(s: String): Long = {
    val p = hp(s)
    fsOf(p).getFileStatus(p).getModificationTime
  }

  def setMtimeMillis(s: String, t: Long): Unit = {
    val p = hp(s)
    fsOf(p).setTimes(p, t, -1L)
  }

  /** Immediate children (files and directories) as full path strings;
    * empty for a missing or non-directory path.
    */
  def list(dir: String): Seq[String] = {
    val p = hp(dir)
    val fs = fsOf(p)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.toString)
  }

  /** Immediate children with (path, isFile, length, mtimeMillis) in ONE
    * list call — the fingerprint listing cache keys are built from.
    */
  def listDetailed(dir: String): Seq[(String, Boolean, Long, Long)] = {
    val p = hp(dir)
    val fs = fsOf(p)
    try fs.listStatus(p).toIndexedSeq.map(st =>
      (st.getPath.toString, st.isFile, st.getLen, st.getModificationTime))
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Every FILE under `dir`, recursive, as (full path, size) — one LIST
    * walk, the manifest-sized frame maintenance verbs plan from.
    */
  def listFilesRecursive(dir: String): Seq[(String, Long)] = {
    val p = hp(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) return Seq.empty
    if (fs.getFileStatus(p).isFile)
      return Seq((fs.makeQualified(p).toString, fs.getFileStatus(p).getLen))
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) out += ((st.getPath.toString, st.getLen))
    }
    out.result()
  }

  def readBytes(s: String): Array[Byte] = {
    val p = hp(s)
    val in = fsOf(p).open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  def readString(s: String): String = new String(readBytes(s), "UTF-8")

  def readLines(s: String): Seq[String] =
    readString(s).split("\n", -1).toIndexedSeq.filter(_.nonEmpty)

  /** Overwrite-or-create write (NOT a publish primitive — use
    * [[createNew]] for commits and [[replaceAtomic]] for pointer swaps).
    */
  def write(s: String, bytes: Array[Byte]): Unit = {
    val p = hp(s)
    val out = fsOf(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Hadoop path capabilities an atomic create-no-overwrite is accepted
    * under on a non-local, non-HDFS store. The spelling is Hadoop's own
    * `Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE`
    * (verified against the bundled hadoop-client-api 3.4.2 jar — the
    * builder-option key doubles as the `hasPathCapability` probe under
    * Hadoop's shared option/capability namespace convention; S3A with
    * conditional-PUT support answers it). The `.etag` variant is the
    * etag-conditioned overwrite, also sufficient evidence the store does
    * conditional writes.
    */
  private val ConditionalCreateCapabilities = Seq(
    "fs.option.create.conditional.overwrite",
    "fs.option.create.conditional.overwrite.etag")

  /** Hadoop configuration key that OVERRIDES the conditional-create
    * probe — the operator's documented escape hatch for a store whose
    * create(overwrite=false) is known-atomic but which predates the
    * capability strings. Setting it on a store where the create is
    * check-then-act re-opens the two-winner commit race; that trade is
    * the operator's to make, never this seam's default.
    */
  private[graft] val AssumeAtomicCreateKey = "graft.fs.assume.atomic.create"

  /** CREATE-NO-OVERWRITE — the single-winner commit race. Throws
    * `org.apache.hadoop.fs.FileAlreadyExistsException` when the path
    * exists. The guarantee must be ATOMIC, and each substrate earns it
    * differently:
    *
    *  - LOCAL: a true O_EXCL create — RawLocalFileSystem's
    *    `create(overwrite = false)` is check-then-act, so two racing
    *    commit publishers could BOTH win and silently clobber each
    *    other; `File.createNewFile()` (atomic at the OS level) restores
    *    the exclusive-create guarantee `CREATE_NEW` provided.
    *  - HDFS: the namenode makes `create(p, false)` exclusive.
    *  - OBJECT STORES: `create(p, false)` is only atomic where the store
    *    implements a conditional PUT — PROBED via `hasPathCapability`
    *    ([[ConditionalCreateCapabilities]]); a store that cannot declare
    *    it REFUSES loudly (a check-then-act fallback here would let two
    *    Delta committers of the same version both "win").
    *    [[AssumeAtomicCreateKey]] is the operator override for stores
    *    with known-atomic creates and no capability string.
    */
  def createNew(s: String, bytes: Array[Byte]): Unit = {
    val p = hp(s)
    fsOf(p) match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val f = new java.io.File(absPathNoScheme(s))
        if (!f.createNewFile())
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(s)
        val out = new java.io.FileOutputStream(f)
        try out.write(bytes) finally out.close()
      case fs =>
        val scheme = Option(fs.getUri).flatMap(u => Option(u.getScheme))
          .getOrElse("")
        // known-atomic schemes beyond the capability probe: HDFS (namenode
        // exclusivity), ABFS/ABFSS (hierarchical-namespace create is
        // atomic — ADLS Gen2's whole pitch). NOT viewfs: a mount table is
        // a generic client-side indirection whose entries can point at
        // s3a/gs where create-exclusive is NOT atomic — trusting the
        // viewfs scheme would reopen the doubled-commit race behind an
        // alias; a viewfs-over-HDFS deployment opts in via
        // [[AssumeAtomicCreateKey]]. GCS and S3A stay probe-or-refuse:
        // their atomicity is a conditional-PUT capability, not a
        // namespace property.
        val KnownAtomicSchemes = Set("hdfs", "abfs", "abfss")
        val atomic = KnownAtomicSchemes(scheme) ||
          conf.getBoolean(AssumeAtomicCreateKey, false) ||
          ConditionalCreateCapabilities.exists(c =>
            try fs.hasPathCapability(p, c)
            catch { case _: IllegalArgumentException => false })
        if (!atomic)
          throw new UnsupportedOperationException(
            s"Fs.createNew $s: filesystem scheme '$scheme' declares no " +
              "atomic create-no-overwrite (probed " +
              ConditionalCreateCapabilities.mkString(", ") + ") — an " +
              "exists()+create() fallback would let two racing committers " +
              "of the same version both win, silently clobbering a " +
              s"commit. Set $AssumeAtomicCreateKey=true in the Hadoop " +
              "configuration ONLY if this store's create(overwrite=false) " +
              "is known to be atomic")
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
    }
  }

  /** Write-temp + rename-with-OVERWRITE: the atomic pointer swap. */
  def replaceAtomic(s: String, bytes: Array[Byte]): Unit = {
    val p = hp(s)
    val tmp = new HPath(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}")
    write(tmp.toString, bytes)
    rename(tmp.toString, s, overwrite = true)
  }

  /** Rename within one filesystem. `overwrite = true` uses the
    * `FileContext` OVERWRITE rename (atomic where the FS supports it);
    * without it an existing destination refuses.
    */
  def rename(src: String, dst: String, overwrite: Boolean = false): Unit = {
    val sp = hp(src); val dp = hp(dst)
    if (overwrite) {
      val fc = FileContext.getFileContext(fsOf(sp).getUri, conf)
      fc.rename(fc.makeQualified(sp), fc.makeQualified(dp),
        Options.Rename.OVERWRITE)
    } else {
      val fs = fsOf(sp)
      if (fs.exists(dp))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(dst)
      if (!fs.rename(sp, dp))
        throw new java.io.IOException(s"rename $src -> $dst failed")
    }
  }

  def mkdirs(s: String): Unit = { val p = hp(s); fsOf(p).mkdirs(p); () }

  def delete(s: String): Boolean = {
    val p = hp(s)
    fsOf(p).delete(p, false)
  }

  def deleteRecursive(s: String): Boolean = {
    val p = hp(s)
    fsOf(p).delete(p, true)
  }

  /** Create-if-absent then bump mtime — the `_SUCCESS` marker verb. */
  def touch(s: String): Unit = {
    val p = hp(s)
    val fs = fsOf(p)
    if (!fs.exists(p)) { val out = fs.create(p, false); out.close() }
    fs.setTimes(p, System.currentTimeMillis(), -1L)
  }

  /** Parent path string (empty for a root). */
  def parent(s: String): String =
    Option(hp(s).getParent).map(_.toString).getOrElse("")

  /** Last path segment. */
  def name(s: String): String = hp(s).getName

  /** `child` resolved under `dir`. */
  def resolve(dir: String, child: String): String =
    new HPath(hp(dir), child).toString

  /** `full` relative to `base` (both qualified first) — the staging-dir
    * relativize used when staged outputs move into a store.
    */
  def relativize(base: String, full: String): String = {
    val b = absPathNoScheme(base).stripSuffix("/") + "/"
    val f = absPathNoScheme(full)
    require(f.startsWith(b), s"$full is not under $base")
    f.drop(b.length)
  }
}
