package graft.table

import scala.jdk.CollectionConverters._

/** PER-STORE VERSION MANIFEST — the one gate that decides whether a part
  * of a derived store (lexical store, signature store, ANN store, fleet
  * artifacts) may be served. Writers stamp parts through [[bump]]; every
  * reader asks [[servable]], which answers with the part's path or
  * nothing. No reader probes markers, counters or the corpus itself.
  *
  * Freshness is recorded, never inferred from file mtimes: on object
  * storage mtimes carry no ordering contract (a multipart copy, a
  * lifecycle transition or a replicated PUT can all reset them), and
  * some of these decisions are correctness-adjacent — trusting stale
  * BM25 impact bounds breaks WAND's upper-bound invariant. So the
  * versioned-commit discipline of [[graft.sources.DeltaLog]] is applied
  * to the stores:
  *
  *   - `<store>/_store_manifest.json` holds a MONOTONIC counter and the
  *     counter value at which each part (`dl`, `postings`, `maxscore`,
  *     `sigs`, `centroids-g1`, ...) was last written, plus the parts each
  *     one was DERIVED FROM as its writer recorded them. "maxscore is at
  *     least as new as postings" is a pure integer compare.
  *   - The corpus a store was derived from is pinned by a LISTING
  *     FINGERPRINT (sorted relative path + size of the corpus parquet's
  *     data files; size + mtime for a single-file corpus): a rewrite
  *     changes part-file names (new UUIDs) or sizes, an append adds
  *     entries, so fingerprint equality is the object-storage-safe
  *     restatement of "store not older than corpus" — LIST results are
  *     contractual where mtime ORDER is not. (The real-infra analogue is
  *     recording the corpus Delta/Iceberg snapshot id.)
  *
  * A part is served only when it is stamped, its `_SUCCESS` marker
  * exists, every part it was recorded as derived from is stamped and no
  * newer than it, and — when the reader names a corpus — the pinned
  * fingerprint equals the corpus's current one. A store without a
  * manifest is never trusted, so a legacy or foreign directory cannot
  * serve stale state; readers fall back to their exact cold paths.
  *
  * All I/O goes through [[Fs]] (the Hadoop `FileSystem` seam), so a store
  * rooted at `file://`, `hdfs://` or `s3a://` runs the same protocol.
  * Publication is temp-file + atomic rename: a reader sees the previous
  * manifest or the complete new one.
  */
object StoreManifest {

  private val Name = "_store_manifest.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private case class State(counter: Long, versions: Map[String, Long],
      from: Map[String, Seq[String]], corpus: Option[String])

  private def readState(storeRoot: String): State = {
    val p = Fs.resolve(storeRoot, Name)
    if (!Fs.isFile(p)) return State(0L, Map.empty, Map.empty, None)
    val node = mapper.readTree(Fs.readBytes(p))
    def fields(key: String) = Option(node.get(key)).iterator
      .flatMap(_.fields().asScala).map(e => e.getKey -> e.getValue)
    State(Option(node.get("counter")).map(_.asLong()).getOrElse(0L),
      fields("versions").map { case (k, v) => k -> v.asLong() }.toMap,
      fields("from").map { case (k, v) =>
        k -> v.elements().asScala.map(_.asText()).toSeq }.toMap,
      Option(node.get("corpus")).map(_.asText()))
  }

  private def writeState(storeRoot: String, s: State): Unit = {
    Fs.mkdirs(storeRoot)
    val root = mapper.createObjectNode()
    root.put("counter", s.counter)
    val v = root.putObject("versions")
    s.versions.toSeq.sortBy(_._1).foreach { case (k, n) => v.put(k, n) }
    val f = root.putObject("from")
    s.from.toSeq.sortBy(_._1).foreach { case (k, ds) =>
      val a = f.putArray(k); ds.foreach(a.add) }
    s.corpus.foreach(root.put("corpus", _))
    Fs.replaceAtomic(Fs.resolve(storeRoot, Name), mapper.writeValueAsBytes(root))
  }

  /** Record that `parts` were just (re)written: one counter increment,
    * every named part stamped with it. A non-empty `from` records the
    * parts they were derived from (a layout rewrite passes none and keeps
    * what was recorded); `corpus` pins the fingerprint of the corpus
    * table they were derived from. Returns the new counter.
    */
  def bump(storeRoot: String, parts: Seq[String], from: Seq[String] = Nil,
      corpus: Option[String] = None): Long = synchronized {
    val s = readState(storeRoot)
    val n = s.counter + 1
    writeState(storeRoot, State(n, s.versions ++ parts.map(_ -> n),
      if (from.isEmpty) s.from else s.from ++ parts.map(_ -> from),
      corpus.map(corpusFingerprint).orElse(s.corpus)))
    n
  }

  /** [[bump]] keyed by a part DIRECTORY path (`<store>/<part>`) — the
    * shape [[StoreMaint]]'s generic per-part maintenance verbs see.
    */
  def bumpPart(partPath: String): Long =
    bump(Fs.parent(partPath), Seq(Fs.name(partPath)))

  /** THE GATE: the path of `part` under `storeRoot` when it may be
    * served, else None. Reads the manifest once; see the object note for
    * the four conditions. `corpus` names the corpus table the caller
    * serves for; it is listed only after every cheaper condition holds.
    */
  def servable(storeRoot: String, part: String,
      corpus: Option[String] = None): Option[String] = {
    val s = readState(storeRoot)
    val path = Fs.resolve(storeRoot, part)
    s.versions.get(part).filter { n =>
      s.from.getOrElse(part, Nil).forall(d => s.versions.get(d).exists(_ <= n)) &&
        Fs.isFile(Fs.resolve(path, "_SUCCESS")) &&
        corpus.forall(c => s.corpus.contains(corpusFingerprint(c)))
    }.map(_ => path)
  }

  /** Listing fingerprint of a parquet table: md5 over the sorted
    * (relative path, size) of a table directory's data files — pure LIST
    * metadata, no content reads; a rewrite changes part-file UUIDs, an
    * append adds entries, so equality pins the exact file set the store
    * was built from. A single-file table has no part names to change, so
    * its size and mtime stand in (compared for equality, never ordered).
    */
  private def corpusFingerprint(tablePath: String): String =
    Fs.fileStatus(tablePath) match {
      case None => "absent"
      case Some((true, len, mtime)) => s"file:$len:$mtime"
      case Some(_) =>
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
}
