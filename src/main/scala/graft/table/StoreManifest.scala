package graft.table

import scala.jdk.CollectionConverters._

/** PER-STORE VERSION MANIFEST — the freshness contract for the engine's
  * derived stores (lexical store, signature store), replacing file-mtime
  * probes. On object storage mtimes carry no ordering contract (a
  * multipart copy, a lifecycle transition, or a replicated PUT can all
  * reset them), and the engine's maxscore trust decision is
  * CORRECTNESS-adjacent: trusting stale BM25 impact bounds breaks WAND's
  * upper-bound invariant. So freshness is recorded explicitly, the
  * versioned-commit discipline of [[graft.sources.DeltaLog]] applied to
  * the stores:
  *
  *   - `<store>/_store_manifest.json` holds a MONOTONIC counter and the
  *     counter value at which each part (`dl`, `postings`, `maxscore`,
  *     `sigs`, `bands`, `pairs`) was last written. "maxscore is at least
  *     as new as postings" is a pure integer compare — no filesystem
  *     metadata consulted.
  *   - The corpus a store was derived FROM is pinned by a LISTING
  *     FINGERPRINT (sorted relative-path + size of the corpus parquet's
  *     data files): any rewrite of the corpus changes its part-file names
  *     (new UUIDs) or sizes, so equality of fingerprints is the
  *     object-storage-safe restatement of "store not older than corpus" —
  *     LIST results are contractual where mtimes are not. (The real-infra
  *     analogue is recording the corpus Delta/Iceberg snapshot id.)
  *
  * All I/O goes through [[Fs]] (the Hadoop `FileSystem` seam), so a store
  * rooted at `file://`, `hdfs://` or `s3a://` runs the same protocol.
  * Publication is temp-file + atomic rename: a reader sees the previous
  * manifest or the complete new one. Writers bump through
  * [[bump]]/[[bumpPart]]; a store WITHOUT a manifest is simply never
  * trusted (readers fall back to their exact cold paths), so a legacy or
  * foreign directory can't serve stale state.
  */
object StoreManifest {

  private val Name = "_store_manifest.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestPath(storeRoot: String): String =
    Fs.resolve(storeRoot, Name)

  private case class State(counter: Long, versions: Map[String, Long],
      corpus: Option[String])

  private def readState(storeRoot: String): State = {
    val p = manifestPath(storeRoot)
    if (!Fs.isFile(p)) return State(0L, Map.empty, None)
    val node = mapper.readTree(Fs.readBytes(p))
    val versions = Option(node.get("versions")).map { v =>
      v.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    State(Option(node.get("counter")).map(_.asLong()).getOrElse(0L),
      versions, Option(node.get("corpus")).map(_.asText()))
  }

  private def writeState(storeRoot: String, s: State): Unit = {
    Fs.mkdirs(storeRoot)
    val root = mapper.createObjectNode()
    root.put("counter", s.counter)
    val v = root.putObject("versions")
    s.versions.toSeq.sortBy(_._1).foreach { case (k, n) => v.put(k, n) }
    s.corpus.foreach(root.put("corpus", _))
    Fs.replaceAtomic(manifestPath(storeRoot), mapper.writeValueAsBytes(root))
  }

  /** Record that `parts` were just (re)written: one counter increment,
    * every named part stamped with it. Returns the new counter.
    */
  def bump(storeRoot: String, parts: Seq[String]): Long = synchronized {
    val s = readState(storeRoot)
    val n = s.counter + 1
    writeState(storeRoot, s.copy(counter = n,
      versions = s.versions ++ parts.map(_ -> n)))
    n
  }

  /** [[bump]] keyed by a part DIRECTORY path (`<store>/<part>`) — the
    * shape [[StoreMaint]]'s generic per-part maintenance verbs see.
    */
  def bumpPart(partPath: String): Long =
    bump(Fs.parent(partPath), Seq(Fs.name(partPath)))

  /** True iff BOTH parts are stamped and `part` is at least as new as
    * `baseline`. Absent manifest / absent stamps → false (never trust).
    */
  def partFresh(storeRoot: String, part: String, baseline: String): Boolean = {
    val v = readState(storeRoot).versions
    (v.get(part), v.get(baseline)) match {
      case (Some(a), Some(b)) => a >= b
      case _ => false
    }
  }

  /** Listing fingerprint of a parquet table directory: md5 over the
    * sorted (relative path, size) of its data files. Pure LIST metadata —
    * no mtimes, no content reads; a rewrite changes part-file UUIDs, an
    * append adds entries, so equality pins the exact file set the store
    * was built from.
    */
  def corpusFingerprint(tablePath: String): String = {
    if (!Fs.isDir(tablePath)) return "absent"
    val listing = Fs.listFilesRecursive(tablePath)
      .filter { case (p, _) =>
        val n = Fs.name(p)
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map { case (p, sz) => s"${Fs.relativize(tablePath, p)}:$sz" }
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Pin the corpus fingerprint a store was derived from. */
  def recordCorpus(storeRoot: String, fingerprint: String): Unit = synchronized {
    val s = readState(storeRoot)
    writeState(storeRoot, s.copy(corpus = Some(fingerprint)))
  }

  /** True iff the store records exactly this corpus fingerprint. */
  def corpusMatches(storeRoot: String, fingerprint: String): Boolean =
    readState(storeRoot).corpus.contains(fingerprint)
}
