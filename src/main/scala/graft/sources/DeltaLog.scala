package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MINIMAL DELTA-PROTOCOL TRANSACTION LOG — reader and writer for the
  * PUBLIC Delta Lake log format (the delta-io PROTOCOL.md wire format),
  * with no foreign jar: the `WireBus` move applied to table formats. A
  * Delta table is parquet data files plus `_delta_log/`:
  *
  *   - `%020d.json` — one commit per version: newline-delimited JSON
  *     actions (`protocol`, `metaData`, `add {path, size, ...}`,
  *     `remove {path, ...}`, `commitInfo`, `txn`);
  *   - `%020d.checkpoint.parquet` (single-part) or
  *     `%020d.checkpoint.%010d.%010d.parquet` (multi-part) — the live
  *     action set compacted at a version, so replay is bounded by
  *     checkpoint cadence, not table lifetime;
  *   - `_last_checkpoint` — JSON pointer `{"version": N[, "parts": P]}`
  *     to the newest checkpoint.
  *
  * The snapshot at version v is the adds of commits 0..v minus the
  * removes (last action per path wins). This is the engine's one commit
  * protocol for versioned state — the q192-family tables, the streaming
  * sinks and the BatchRun store all commit here. INBOUND,
  * `read(root, v)` materializes a snapshot another engine committed
  * (SourcesSpec replays a hand-authored foreign log with multi-part
  * checkpoints, remove-then-re-add across a checkpoint boundary,
  * `dataChange=false` compaction commits, and stats/tags fields this
  * writer never emits; q241 adopts a table written by [[commitAppend]] /
  * [[commitReplace]] into a fresh one); OUTBOUND, the writer publishes
  * commits any Delta reader accepts — checkpoints carry the
  * protocol/metaData actions and the full add schema PROTOCOL.md
  * requires, and `_last_checkpoint` is published via write-temp +
  * ATOMIC_MOVE so a reader never observes a torn pointer — with the same
  * atomic put-if-absent race on the commit file that object-store Delta
  * writers use.
  *
  * Scale: every snapshot comes out of one replay ([[fold]]) over one
  * `_delta_log` listing. The checkpoint's protocol/metaData/txn/sidecar
  * actions are read on the driver with parquet-mr, decoding only the
  * pages whose statistics show such an action (work bounded by a page,
  * not by the live-file count); the JSON tail is driver-side string work
  * sized by versions since the last checkpoint, and the checkpoint's add
  * rows are the one distributed scan — a full
  * or pruned replay runs at most one Spark job, a metadata-only replay
  * none. Data files are never listed from storage — the log IS the
  * listing, the property that makes Delta-shaped tables usable on
  * object stores at 100 TB.
  */
object DeltaLog {

  import StatsPrune.{CmpOp, CmpEq, CmpLt, CmpLe, CmpGt, CmpGe}
  import graft.table.Fs

  private def logDir(root: String): String = Fs.resolve(root, "_delta_log")
  private def commitPath(root: String, v: Long): String =
    Fs.resolve(logDir(root), f"$v%020d.json")
  private def checkpointPath(root: String, v: Long): String =
    Fs.resolve(logDir(root), f"$v%020d.checkpoint.parquet")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val CommitName = """^(\d+)\.json$""".r

  /** Checkpoint part files per version: single-part
    * `V.checkpoint.parquet` and multi-part `V.checkpoint.I.N.parquet`
    * (PROTOCOL.md both). A multi-part group missing any of its N parts is
    * ignored — an interrupted foreign writer must not poison replay.
    */
  private val CkptName =
    """^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$""".r

  /** V2-spec checkpoint MANIFEST: `V.checkpoint.<uuid>.{parquet,json}`
    * (PROTOCOL.md v2Checkpoint). One segment between `checkpoint` and the
    * extension — a classic multi-part name has TWO ten-digit segments, so
    * the patterns never overlap (UUIDs carry dashes). The manifest holds
    * protocol/metaData/txn plus `sidecar` actions naming the add-row
    * parquet files under `_delta_log/_sidecars/`; adds may also ride
    * inline (the no-sidecar compat shape).
    */
  private val V2CkptName =
    """^(\d{20})\.checkpoint\.([0-9a-zA-Z_-]+)\.(parquet|json)$""".r

  private final case class LogFile(path: String, len: Long, mtime: Long)

  /** ONE `_delta_log` listing, the only one a replay makes: the JSON
    * commits by version and the COMPLETE checkpoint groups by version,
    * each file with the (length, mtime) the snapshot-cache fingerprint
    * hashes. A v2 manifest is complete by itself (a missing sidecar fails
    * the read loudly, never silently); a classic checkpoint at the same
    * version wins over it — both are complete snapshots, and the classic
    * read needs no manifest.
    */
  private final case class LogListing(commits: Map[Long, LogFile],
      checkpoints: Map[Long, Seq[LogFile]]) {

    /** Highest committed version, -1 if the table does not exist. A
      * checkpoint at V proves commit V happened even when log retention
      * has trimmed the JSON commit itself, so the version lattice is the
      * max over BOTH file families — otherwise an append to a
      * fully-trimmed history would restart at version 0 and corrupt the
      * table.
      */
    val latest: Long =
      (commits.keysIterator ++ checkpoints.keysIterator).foldLeft(-1L)(math.max)

    def checkpointAtOrBelow(v: Long): Option[(Long, Seq[LogFile])] = {
      val cs = checkpoints.filter(_._1 <= v)
      if (cs.isEmpty) None else Some(cs.maxBy(_._1))
    }

    /** (file count, 64-bit hash) over the (name, size, mtime) of EXACTLY
      * the files a replay of version v reads — the newest checkpoint group
      * ≤ v plus the JSON tail above it. A table deleted and REBUILT at the
      * same path (fixtures do this) must never serve the old build's
      * snapshot: one file's (size, mtime) can collide under coarse
      * object-store mtime granularity, the whole replay input at once is
      * another matter. Hashing only the replay slice keeps the work
      * bounded by checkpoint cadence, not table lifetime; a checkpoint
      * landing later at some c ≤ v changes the slice, and that miss just
      * replays to the same snapshot.
      */
    def fingerprint(v: Long): (Long, Long) = {
      val ckpt = checkpointAtOrBelow(v)
      val from = ckpt.fold(-1L)(_._1)
      var n = 0L
      var h = 1125899906842597L
      def mix(x: Long): Unit = { h = h * 31 + x }
      def file(id: Long, f: LogFile): Unit = { n += 1; mix(id); mix(f.len); mix(f.mtime) }
      ckpt.toSeq.flatMap(_._2).foreach(f => file(Fs.name(f.path).hashCode.toLong, f))
      commits.toSeq.filter { case (c, _) => c > from && c <= v }.sortBy(_._1)
        .foreach { case (c, f) => file(c, f) }
      (n, h)
    }
  }

  private def listLog(root: String): LogListing = {
    val files = Fs.listDetailed(logDir(root)).collect {
      case (p, true, len, mt) => (Fs.name(p), LogFile(p, len, mt))
    }
    val commits = files.collect { case (CommitName(v), f) => v.toLong -> f }.toMap
    val classic = files.collect {
      case (name @ CkptName(v, _, of), f) => (v.toLong, Option(of).map(_.toInt), name, f)
    }.groupBy(_._1).flatMap { case (v, grp) =>
      val (multi, single) = grp.partition(_._2.isDefined)
      multi.groupBy(_._2.get).collectFirst { case (n, parts) if parts.size == n => parts }
        .orElse(single.headOption.map(Seq(_)))
        .map(parts => v -> parts.sortBy(_._3).map(_._4))
    }
    val v2 = files.collect {
      case (name @ V2CkptName(v, _, ext), f) => (v.toLong, ext != "parquet", name, f)
    }.groupBy(_._1).map { case (v, grp) =>
      v -> Seq(grp.minBy(t => (t._2, t._3))._4)
    }
    LogListing(commits, v2 ++ classic)
  }

  /** Highest committed version, -1 if the table does not exist (see
    * [[LogListing.latest]]).
    */
  def currentVersion(root: String): Long = listLog(root).latest

  /** The stream start OFFSET for `startingTimestamp` = `tsMillis`
    * (delta-spark's semantics: changes committed at or after the
    * timestamp deliver): (lowest version whose commit-file mtime is
    * ≥ tsMillis) − 1, or — when every commit predates the timestamp —
    * the newest version seen, so the consumer tails only what arrives
    * next. Resolution is by commit-file modification time, the only
    * clock a foreign table is guaranteed to carry. Both halves derive
    * from ONE log listing: a second listing would race a commit landing
    * in between — its mtime is ≥ ts, yet the fallback would skip past it
    * forever. Commit mtimes are non-decreasing on any sanely-clocked
    * store, so the scan takes the min matching version; a clock wobble
    * over-delivers, never under-delivers.
    */
  private[graft] def startOffsetForTimestamp(root: String,
      tsMillis: Long): Long = {
    val log = listLog(root)
    val hits = log.commits.collect { case (v, f) if f.mtime >= tsMillis => v }
    if (hits.nonEmpty) hits.min - 1L else log.latest
  }

  /** One live data file: relative path, size, and the add action's
    * partitionValues (empty for unpartitioned tables; keys are PHYSICAL
    * names on column-mapped tables; a null value is a null partition
    * value).
    */
  private[sources] case class AddFile(path: String, size: Long,
      partitionValues: Map[String, String],
      stats: Option[String] = None,
      dv: Option[DeletionVectors.Descriptor] = None)

  /** Replayed state at a version: live adds in first-add order plus the
    * latest metaData schemaString seen (checkpoint or tail), and the
    * latest txn (SetTransaction) version per application id.
    */
  private case class Snapshot(adds: Seq[AddFile],
      schemaJson: Option[String], metaDataJson: Option[String],
      protocolJson: Option[String],
      txns: Map[String, Long] = Map.empty)

  /** Parse a `deletionVector` descriptor node (from an add/remove action
    * or a checkpoint row rendered back to JSON). Absent/null → None. A
    * PRESENT node missing any required field (PROTOCOL.md: storageType,
    * pathOrInlineDv, sizeInBytes, cardinality) refuses loudly — treating
    * a malformed foreign descriptor as "no DV" would resurrect every row
    * that DV deletes, a silent misread this reader never risks.
    */
  private def parseDvNode(n: com.fasterxml.jackson.databind.JsonNode)
      : Option[DeletionVectors.Descriptor] =
    Option(n).filterNot(_.isNull).map { d =>
      val missing = Seq("storageType", "pathOrInlineDv", "sizeInBytes",
        "cardinality").filterNot(k => d.has(k) && !d.get(k).isNull)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        "DeltaLog: malformed deletionVector descriptor (missing " +
          s"${missing.mkString(", ")}): $d — refusing rather than " +
          "resurrecting its deleted rows")
      DeletionVectors.Descriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong())
    }

  private def jsonDv(action: com.fasterxml.jackson.databind.JsonNode)
      : Option[DeletionVectors.Descriptor] =
    Option(action.get("deletionVector")).flatMap(parseDvNode)

  /** Tolerant read of a maybe-present commit file. Every "is the commit
    * still there?" probe in this module is check-then-act against a
    * concurrent retention trim — [[Fs.isFile]] can say yes and the read
    * still find nothing. The FileNotFound catch IS the probe, one RPC
    * cheaper and race-free: a mid-flight trim reads as the missing-file
    * case the caller already tolerates, never as an error.
    */
  private def readLinesIfExists(path: String): Seq[String] =
    try Fs.readLines(path)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** A commit file the caller REQUIRES (change-feed ranges must not
    * silently skip a version): missing — including deleted between any
    * earlier probe and this read — refuses with the feed-range message.
    */
  private def readCommitLinesOrRefuse(root: String, v: Long): Seq[String] =
    try Fs.readLines(commitPath(root, v))
    catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"DeltaLog $root: commit $v is missing — the feed range reaches " +
            "past retained history; start from a snapshot instead")
    }

  private def jsonPartitionValues(a: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(a.get("partitionValues")).map { pv =>
      pv.fields().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }.toMap
    }.getOrElse(Map.empty)

  /** One add-action JSON node as an [[AddFile]] — THE parse, shared by
    * every path that meets an add as JSON (checkpoint manifest inline
    * adds, commit-tail adds). A new add field (stats spelling, baseRowId,
    * ...) lands here once instead of drifting across copies.
    */
  private def jsonAddFile(a: com.fasterxml.jackson.databind.JsonNode): AddFile =
    AddFile(a.get("path").asText(),
      if (a.has("size")) a.get("size").asLong() else 0L,
      jsonPartitionValues(a),
      // delta-spark spells stats as a JSON STRING field
      Option(a.get("stats")).filterNot(_.isNull).map(n =>
        if (n.isTextual) n.asText() else n.toString),
      jsonDv(a))

  /** Bounded per-(table, version) SNAPSHOT CACHE. A committed version's
    * log content is immutable (publish is create-new), so (root, version)
    * identifies a snapshot — fingerprinted by [[LogListing.fingerprint]]
    * so a table recreated at the same path cannot serve a stale entry.
    * Without it every read re-reads the checkpoint and re-parses the JSON
    * tail — minutes of driver work PER QUERY on a 10⁵-file table.
    * LRU-bounded; full and metadata-only snapshots are kept apart.
    */
  private val SnapCacheCap = 32
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long, Boolean, Long, Long), Snapshot](
        SnapCacheCap, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Boolean, Long, Long), Snapshot])
          : Boolean = size() > SnapCacheCap
    }

  private def snapKey(root: String, log: LogListing, v: Long,
      withAdds: Boolean): (String, Long, Boolean, Long, Long) = {
    val (n, h) = log.fingerprint(v)
    (Fs.qualified(root), v, withAdds, n, h)
  }

  private def cachedSnapshot(key: (String, Long, Boolean, Long, Long))
      : Option[Snapshot] =
    snapCache.synchronized(Option(snapCache.get(key)))

  /** Which live adds a replay keeps: `keep` tests one add. The checkpoint
    * add scan applies `pushdown` when given, else `keep` itself over each
    * decoded row, on executors, so only survivors reach the driver.
    */
  private final case class AddFilter(spark: SparkSession,
      keep: AddFile => Boolean, pushdown: Option[Column] = None)

  private def allAdds(spark: SparkSession): AddFilter =
    AddFilter(spark, _ => true, Some(lit(true)))

  private def addsAt(spark: SparkSession, paths: Set[String]): AddFilter =
    // isInCollection compiles to InSet above Spark's in-threshold — a
    // 10⁴-path probe is ONE distributed filter pushed into the scan
    AddFilter(spark, a => paths(a.path), Some(col("path").isInCollection(paths)))

  /** The adds that can possibly satisfy `conjuncts`, by
    * [[StatsPrune.mayMatch]] (on executors the stats JSON parses inside
    * the task).
    */
  private def addsMayMatch(spark: SparkSession,
      conjuncts: Seq[(String, CmpOp, Any)], partCols: Set[String]): AddFilter =
    AddFilter(spark, a => conjuncts.forall { case (n, op, vv) =>
      StatsPrune.mayMatch(a.partitionValues, a.stats, n, op, vv, partCols)
    })

  /** THE LOG REPLAY — every snapshot this module serves comes out of this
    * one fold. From `log` (one listing) it takes the newest checkpoint
    * ≤ v, reads it with [[readCheckpoint]], then folds the JSON commits
    * above it. Adds and removes reconcile by PROTOCOL.md's (path, dvId)
    * rule, last action wins: a remove kills exactly the incarnation whose
    * deletionVector uniqueId it names (both-absent matches). A DELETE
    * commit is {remove(P, oldDv), add(P, newDv)} and its line order is
    * not guaranteed — exact matching makes replay order-independent: the
    * stale remove never kills the new add. `adds` = None replays only
    * metaData/protocol/txn (no add is parsed, no Spark job runs); with a
    * filter, the adds it rejects never enter the live set. Removes inside
    * a checkpoint are VACUUM tombstones, not live-set state, and
    * [[readCheckpoint]] never reads them. A commit missing inside the
    * range is tolerated: a retention sweep is not atomic, and a
    * mid-flight trim must not fail a read.
    *
    * Returns the snapshot, the add rows the distributed checkpoint scan
    * collected, and the adds the driver kept from manifest and tail.
    */
  private def fold(root: String, log: LogListing, v: Long,
      adds: Option[AddFilter]): (Snapshot, Long, Long) = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var schemaJson: Option[String] = None
    var metaDataJson: Option[String] = None
    var protocolJson: Option[String] = None
    val txns = scala.collection.mutable.Map.empty[String, Long]
    var driverAdds = 0L
    def applyAction(node: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (node.has("add")) adds.foreach { f =>
        val a = jsonAddFile(node.get("add"))
        // the new incarnation replaces any prior one; if IT is filtered
        // out, the prior (now dead) entry must not linger
        if (f.keep(a)) { live(a.path) = a; driverAdds += 1 }
        else { live.remove(a.path); () }
      } else if (node.has("remove")) {
        if (adds.isDefined) {
          val rm = node.get("remove")
          val p = rm.get("path").asText()
          val rid = jsonDv(rm).map(_.uniqueId).getOrElse("")
          live.get(p).foreach { a =>
            if (a.dv.map(_.uniqueId).getOrElse("") == rid) { live.remove(p); () }
          }
        }
      } else if (node.has("metaData")) {
        metaDataJson = Some(node.get("metaData").toString)
        if (node.get("metaData").has("schemaString"))
          schemaJson = Some(node.get("metaData").get("schemaString").asText())
      } else if (node.has("protocol"))
        protocolJson = Some(node.get("protocol").toString)
      else if (node.has("txn")) {
        val t = node.get("txn")
        txns(t.get("appId").asText()) = t.get("version").asLong()
      }
    val ckpt = log.checkpointAtOrBelow(v)
    var scanned = 0L
    ckpt.foreach { case (_, parts) =>
      val cp = readCheckpoint(root, parts.map(_.path), withAdds = adds.isDefined)
      cp.actions.foreach(applyAction)
      adds.foreach { f =>
        val rows = scanCheckpointAdds(f, cp.addFiles, cp.addTypes)
        scanned = rows.size.toLong
        rows.foreach(a => live(a.path) = a)
      }
    }
    (ckpt.fold(-1L)(_._1) + 1L to v).foreach { i =>
      readLinesIfExists(commitPath(root, i)).foreach { line =>
        if (line.nonEmpty) applyAction(mapper.readTree(line))
      }
    }
    (Snapshot(live.values.toIndexedSeq, schemaJson, metaDataJson, protocolJson,
      txns.toMap), scanned, driverAdds)
  }

  /** One checkpoint as the driver reads it: its non-add actions as action
    * JSON nodes (protocol, metaData, txn, sidecar — and a v2 manifest's
    * inline adds), plus, when the replay wants adds, the parquet files
    * holding the add rows and the `add` column type each file's footer
    * declares.
    */
  private final case class CheckpointRead(
      actions: Seq[com.fasterxml.jackson.databind.JsonNode],
      addFiles: Seq[String],
      addTypes: Seq[org.apache.parquet.schema.GroupType])

  /** Classic checkpoints: the parts' protocol/metaData/txn columns are
    * read on the driver, their add rows by the distributed scan. A v2
    * manifest is read whole on the driver (it carries no add rows beyond
    * the inline compat shape), and its `sidecar` actions name the files
    * the distributed scan reads; sidecar counts are bounded by checkpoint
    * part sizing, never by table file counts.
    */
  private def readCheckpoint(root: String, parts: Seq[String],
      withAdds: Boolean): CheckpointRead = {
    parts match {
      case Seq(m) if V2CkptName.matches(Fs.name(m)) =>
        val wanted = Set("protocol", "metaData", "txn", "sidecar") ++
          (if (withAdds) Set("add") else Set.empty)
        val actions =
          if (m.endsWith(".json"))
            Fs.readLines(m).filter(_.nonEmpty).map(mapper.readTree)
              .filter(n => wanted.exists(n.has))
          else parquetActions(m, wanted)._1
        val sidecars =
          if (!withAdds) Seq.empty
          else actions.filter(_.has("sidecar")).map { n =>
            val p = n.get("sidecar").get("path").asText()
            if (p.contains("://") || p.startsWith("/")) p
            else Fs.resolve(Fs.resolve(logDir(root), "_sidecars"), p)
          }
        CheckpointRead(actions, sidecars,
          sidecars.flatMap(s => parquetActions(s, Set.empty)._2))
      case _ =>
        val read = parts.map(p => parquetActions(p, Set("protocol", "metaData", "txn")))
        CheckpointRead(read.flatMap(_._1),
          if (withAdds) parts else Seq.empty,
          if (withAdds) read.flatMap(_._2) else Seq.empty)
    }
  }

  /** The non-null `columns` actions of one checkpoint parquet file as
    * action JSON nodes — driver-side parquet-mr, only those columns
    * decoded — and the file's `add` column type from the same footer.
    * The read carries an "any scalar leaf of those columns is non-null"
    * filter, so row-group statistics and page column indexes skip the
    * add rows: a classic checkpoint's header sits in its first rows, and
    * the driver decodes those pages, not one record per live file.
    */
  private def parquetActions(file: String, columns: Set[String])
      : (Seq[com.fasterxml.jackson.databind.JsonNode],
        Option[org.apache.parquet.schema.GroupType]) = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val input = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(Fs.hp(file), Fs.hadoopConf)
    val footer = {
      val r = ParquetFileReader.open(input)
      try r.getFooter finally r.close()
    }
    val schema = footer.getFileMetaData.getSchema
    val groups = schema.getFields.asScala.toSeq.filterNot(_.isPrimitive)
    val addType = groups.find(_.getName == "add").map(_.asGroupType())
    val wanted = groups.filter(f => columns(f.getName))
    if (wanted.isEmpty) return (Seq.empty, addType)
    val proj = new org.apache.parquet.schema.MessageType(schema.getName, wanted.asJava)
    // filter predicates cannot name repeated leaves, and a column name
    // is dot-split (a foreign `stats_parsed` field may hold a dot); every
    // action this module reads has a plain scalar leaf (minReaderVersion,
    // id, appId, path)
    val nonNull = proj.getColumns.asScala.toSeq
      .filter(d => d.getMaxRepetitionLevel == 0 && !d.getPath.exists(_.contains(".")))
      .flatMap { d =>
        val p = d.getPath.mkString(".")
        d.getPrimitiveType.getPrimitiveTypeName match {
          case INT32 => Some(FilterApi.notEq(FilterApi.intColumn(p),
            null.asInstanceOf[java.lang.Integer]))
          case INT64 => Some(FilterApi.notEq(FilterApi.longColumn(p),
            null.asInstanceOf[java.lang.Long]))
          case BINARY => Some(FilterApi.notEq(FilterApi.binaryColumn(p),
            null.asInstanceOf[org.apache.parquet.io.api.Binary]))
          case _ => None
        }
      }
    val filter =
      if (nonNull.isEmpty) FilterCompat.NOOP
      else FilterCompat.get(nonNull.reduce[org.apache.parquet.filter2.predicate
        .FilterPredicate](FilterApi.or))
    val reader = ParquetFileReader.open(input, footer,
      org.apache.parquet.HadoopReadOptions.builder(Fs.hadoopConf)
        .withRecordFilter(filter).build(),
      input.newStream())
    try {
      reader.setRequestedSchema(proj)
      val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(proj, schema)
      val out = Seq.newBuilder[com.fasterxml.jackson.databind.JsonNode]
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages,
          new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(proj),
          filter)
        var i = 0L
        while (i < pages.getRowCount) {
          // null: a record the filter rejected
          val g = records.read()
          if (g != null) (0 until proj.getFieldCount).foreach { f =>
            if (g.getFieldRepetitionCount(f) > 0)
              out += mapper.createObjectNode().set[com.fasterxml.jackson.databind.JsonNode](
                proj.getFieldName(f), groupToJson(g.getGroup(f, 0)))
          }
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
      (out.result(), addType)
    } finally reader.close()
  }

  /** One parquet-mr group as its action JSON node. Scalars keep their
    * parquet types (ints stay JSON numbers), LIST groups (3-level, or the
    * legacy repeated-primitive spelling) become JSON arrays, MAP key_value
    * groups become JSON objects; other nested groups recurse. Every field
    * survives: after a log-retention trim the checkpoint is the ONLY
    * carrier of partition columns, column-mapping mode and readerFeatures,
    * and a lossy read would report "unpartitioned, unmapped, featureless"
    * — the exact misread the gates exist to stop.
    */
  private def groupToJson(g: org.apache.parquet.example.data.Group)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val node = mapper.createObjectNode()
    val gt = g.getType
    def primNode(i: Int, j: Int): com.fasterxml.jackson.databind.JsonNode = {
      val pt = gt.getType(i).asPrimitiveType().getPrimitiveTypeName
      pt match {
        case INT32 => node.numberNode(g.getInteger(i, j))
        case INT64 => node.numberNode(g.getLong(i, j))
        case BOOLEAN => node.booleanNode(g.getBoolean(i, j))
        case DOUBLE => node.numberNode(g.getDouble(i, j))
        case FLOAT => node.numberNode(g.getFloat(i, j))
        case _ => node.textNode(g.getValueToString(i, j))
      }
    }
    (0 until gt.getFieldCount).foreach { i =>
      val ft = gt.getType(i)
      val n = g.getFieldRepetitionCount(i)
      if (n > 0) {
        val ann = Option(ft.getLogicalTypeAnnotation)
        if (ft.isPrimitive) {
          if (ft.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)) {
            val arr = node.putArray(ft.getName)
            (0 until n).foreach(j => arr.add(primNode(i, j)))
          } else
            // set[T] is generically typed — never ascribe its result
            node.set[com.fasterxml.jackson.databind.JsonNode](
              ft.getName, primNode(i, 0))
        } else if (ann.contains(LogicalTypeAnnotation.listType())) {
          // 3-level list: group (LIST) { repeated group list { element } };
          // legacy 2-level: group (LIST) { repeated <primitive> element }
          val arr = node.putArray(ft.getName)
          val lg = g.getGroup(i, 0)
          val legacy = lg.getType.getType(0).isPrimitive
          (0 until lg.getFieldRepetitionCount(0)).foreach { j =>
            if (legacy) arr.add(lg.getValueToString(0, j))
            else {
              val eg = lg.getGroup(0, j)
              if (eg.getFieldRepetitionCount(0) > 0)
                arr.add(eg.getValueToString(0, 0))
              else arr.addNull()
            }
          }
        } else if (ann.contains(LogicalTypeAnnotation.mapType())) {
          // map: group (MAP) { repeated group key_value { key; value } }
          val mg = g.getGroup(i, 0)
          val obj = node.putObject(ft.getName)
          (0 until mg.getFieldRepetitionCount(0)).foreach { j =>
            val kv = mg.getGroup(0, j)
            val key = kv.getValueToString(0, 0)
            if (kv.getType.getFieldCount > 1 && kv.getFieldRepetitionCount(1) > 0)
              obj.put(key, kv.getValueToString(1, 0))
            else obj.putNull(key)
          }
        } else node.set[com.fasterxml.jackson.databind.JsonNode](
          ft.getName, groupToJson(g.getGroup(i, 0)))
      }
    }
    node
  }

  /** The checkpoint's add rows that pass `f`, collected in ONE Spark
    * job. The read schema is the union of the `add` fields the files'
    * footers declare (converted the way Spark's own inference converts
    * them), so no schema-inference job runs and a part missing a field
    * null-fills it instead of hiding it from the other parts; fields are
    * probed, never assumed — pre-round-13 checkpoints carried only an
    * add.path column.
    */
  private def scanCheckpointAdds(f: AddFilter, files: Seq[String],
      addTypes: Seq[org.apache.parquet.schema.GroupType]): Seq[AddFile] = {
    if (files.isEmpty || addTypes.isEmpty) return Seq.empty
    val conv = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(f.spark.sessionState.conf)
    val wanted = Set("path", "size", "partitionValues", "stats", "deletionVector")
    val addType = StructType(addTypes.flatMap { t =>
      conv.convert(new org.apache.parquet.schema.MessageType("add", t))("add")
        .dataType.asInstanceOf[StructType].fields
    }.filter(fd => wanted(fd.name)).distinctBy(_.name).map(_.copy(nullable = true)))
    def field(name: String, present: Column, absent: Column): Column =
      (if (addType.fieldNames.contains(name)) present else absent).as(name)
    val adds = f.spark.read.schema(StructType(Seq(StructField("add", addType))))
      .parquet(files: _*)
      .filter(col("add").isNotNull)
      .select(col("add.path").as("path"),
        field("size", col("add.size").cast("long"), lit(0L)),
        field("partitionValues", col("add.partitionValues"),
          lit(null).cast("map<string,string>")),
        field("stats", col("add.stats").cast("string"), lit(null).cast("string")),
        field("deletionVector", to_json(col("add.deletionVector")),
          lit(null).cast("string")))
    val keep = f.keep
    val rows = f.pushdown
      .fold(adds.filter((r: Row) => keep(ckptAdd(r))))(c => adds.filter(c)).collect()
    rows.toIndexedSeq.map { r =>
      ckptAdd(r).copy(dv =
        if (r.isNullAt(4)) None else parseDvNode(mapper.readTree(r.getString(4))))
    }
  }

  /** One row of the checkpoint add scan as an [[AddFile]], its deletion
    * vector left unparsed (column 4 holds it as JSON).
    */
  private def ckptAdd(r: Row): AddFile =
    AddFile(r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) Map.empty[String, String] else r.getMap[String, String](2).toMap,
      if (r.isNullAt(3)) None else Some(r.getString(3)))

  /** `version` checked against the listing's bound (default: latest). */
  private def versionIn(root: String, log: LogListing,
      version: Option[Long]): Long = {
    require(log.latest >= 0, s"no Delta log at $root")
    val v = version.getOrElse(log.latest)
    require(v >= 0 && v <= log.latest, s"version $v out of range [0, ${log.latest}]")
    v
  }

  /** The snapshot at `v` through the cache: a full snapshot with
    * `spark`, the metadata-only one (no add parsed, no Spark job)
    * without — which a cached full snapshot also serves. Not run through
    * the protocol gate; [[replay]] is the reader's entry point.
    */
  private def snapshotAt(root: String, log: LogListing, v: Long,
      spark: Option[SparkSession]): Snapshot = {
    val key = snapKey(root, log, v, withAdds = spark.isDefined)
    cachedSnapshot(key)
      .orElse(if (spark.isEmpty) cachedSnapshot(key.copy(_3 = true)) else None)
      .getOrElse {
        val snap = fold(root, log, v, spark.map(allAdds))._1
        snapCache.synchronized { snapCache.put(key, snap); () }
        snap
      }
  }

  /** The full snapshot at `version` (default: latest) from one log
    * listing, through the cache and the protocol refusal gate.
    */
  private def replay(spark: SparkSession, root: String,
      version: Option[Long]): Snapshot = {
    val log = listLog(root)
    val snap = snapshotAt(root, log, versionIn(root, log, version), Some(spark))
    validateReadable(root, snap.protocolJson, snap.metaDataJson)
    snap
  }

  /** The metadata-only snapshot at the latest version, None when the
    * table does not exist. No protocol gate: writers read through it.
    */
  private def latestMeta(root: String): Option[Snapshot] = {
    val log = listLog(root)
    if (log.latest < 0) None else Some(snapshotAt(root, log, log.latest, None))
  }

  /** [[replay]] restricted to `paths` — the live INCARNATIONS of exactly
    * those paths at `version`. The change feed's full-remove derivation
    * needs ONLY the removed paths' prior state (their partitionValues +
    * deletion vector); the path predicate pushes into the checkpoint
    * scan, so only matching rows reach the driver and the driver cost is
    * changes-sized: O(|paths| + tail). Never cached — each call is one
    * bounded probe, and caching keyed on arbitrary path sets would just
    * thrash the snapshot LRU.
    */
  private def replayForPaths(spark: SparkSession, root: String,
      version: Long, paths: Set[String]): Seq[AddFile] = {
    if (paths.isEmpty) return Seq.empty
    val (snap, scanned, kept) =
      fold(root, listLog(root), version, Some(addsAt(spark, paths)))
    lastFeedReplayCollectedAdds = scanned + kept
    snap.adds
  }

  /** Add rows the last [[replayForPaths]] materialized driver-side —
    * the audit counter the bounded-driver FEED gate reads: a derived
    * full-remove on a 10⁴-file table must collect O(removed paths), not
    * O(files). -1 until the first pruned feed replay runs.
    */
  @volatile private[graft] var lastFeedReplayCollectedAdds: Long = -1L

  /** PROTOCOL REFUSAL GATE — a loud, cheap error instead of a silent
    * misread. Supported reader surface: protocol 1 (plain parquet,
    * last-action-wins replay), protocol 2 (column mapping — 'name' mode
    * implemented in [[readUnderSchema]]: the scan binds physical names
    * and the projection renames back to logical), and protocol 3 ONLY
    * when every declared readerFeature is `columnMapping`,
    * `deletionVectors`, `timestampNtz` (one more leaf type — the scan and
    * partition decode carry it) or `v2Checkpoint` (manifest + sidecar
    * layout, read by [[readCheckpoint]]) (DV'd files are row-filtered through
    * `_metadata.row_index` anti-joins in [[readAdds]]; the adds-only
    * incremental path still refuses DV commits — see [[changedFileAdds]]
    * — while the change feed, batch and streamed, DERIVES their
    * retractions; 'id'-mode mapping reads via parquet field-id binding).
    * Everything else — unknown reader features — refuses with a pinned
    * message, because a silent misread is data corruption. The
    * columnMapping metaData key is checked independently of the protocol
    * version: a buggy writer can set one without the other.
    */
  private def validateReadable(root: String, protocolJson: Option[String],
      metaDataJson: Option[String]): Unit = {
    protocolJson.map(mapper.readTree).foreach { p =>
      val mrv = Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
      val featsField = Option(p.get("readerFeatures"))
      val feats = featsField.toSeq
        .flatMap(_.elements().asScala.map(_.asText()))
      val unsupported = feats.filterNot(
        Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
          "typeWidening", "typeWidening-preview",
          "variantType", "variantType-preview"))
      // PROTOCOL.md: minReaderVersion>=3 REQUIRES readerFeatures — a
      // protocol row where the list cannot be materialized (a lossy
      // foreign checkpoint) must refuse, not default to "no features":
      // an absent list is exactly where an unknown feature would hide.
      if (mrv > 3 || (mrv == 3 && (featsField.isEmpty || unsupported.nonEmpty))) {
        val fs =
          if (feats.nonEmpty) s", readerFeatures=${feats.mkString("[", ",", "]")}"
          else if (mrv >= 3 && featsField.isEmpty) ", readerFeatures=<absent>"
          else ""
        throw new UnsupportedOperationException(
          s"DeltaLog $root: unsupported reader protocol minReaderVersion=$mrv$fs; " +
            "this reader supports minReaderVersion<=2 and reader features " +
            "columnMapping, deletionVectors, timestampNtz, v2Checkpoint, " +
            "typeWidening and variantType")
      }
    }
    val mode = columnMappingMode(metaDataJson)
    if (mode != "none" && mode != "name" && mode != "id")
      throw new UnsupportedOperationException(
        s"DeltaLog $root: unsupported table feature delta.columnMapping.mode=$mode; " +
          "this reader supports modes 'none', 'name' and 'id'")
  }

  // -----------------------------------------------------------------------
  // Column mapping ('name' mode, reader protocol 2): parquet data files
  // store PHYSICAL field names (delta.columnMapping.physicalName in the
  // schemaString metadata — assigned at mapping-enable time, stable across
  // logical RENAMEs, which is the feature's whole point); readers bind the
  // physical schema and project back to logical names.
  // -----------------------------------------------------------------------

  /** The LATEST metaData's mapping mode. */
  private[graft] def latestColumnMappingMode(root: String): String =
    columnMappingMode(latestMetaDataJson(root))

  private def columnMappingMode(metaDataJson: Option[String]): String =
    metaDataJson.map(mapper.readTree).flatMap(m =>
      Option(m.get("configuration"))
        .flatMap(c => Option(c.get("delta.columnMapping.mode")))
        .map(_.asText())).getOrElse("none")

  private def physicalNameOf(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema as the DATA FILES spell it: every (arbitrarily nested)
    * struct field renamed to its physicalName, CARRYING the mapping id as
    * `parquet.field.id` metadata — on 'id'-mode tables Spark's parquet
    * reader (with `spark.sql.parquet.fieldId.read.enabled`) binds columns
    * by that id rather than by name, and the writer stamps it into new
    * files so foreign id-mode readers bind them too. Types and order
    * untouched.
    */
  private def toPhysical(dt: DataType, withFieldIds: Boolean = false): DataType =
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        // stamped ONLY where id binding is wanted: id-mode reads and all
        // mapped writes — a name-mode READ schema carrying ids would make
        // Spark refuse the foreign table's id-less files outright
        if (withFieldIds && f.metadata.contains("delta.columnMapping.id"))
          b.putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        StructField(physicalNameOf(f), toPhysical(f.dataType, withFieldIds),
          f.nullable, b.build())
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = toPhysical(a.elementType, withFieldIds))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = toPhysical(m.keyType, withFieldIds),
          valueType = toPhysical(m.valueType, withFieldIds))
      case other => other
    }

  /** The metaData's partitionColumns (logical names, empty when absent). */
  private def partitionColumnsOf(metaDataJson: Option[String]): Seq[String] =
    metaDataJson.map(mapper.readTree).flatMap(m =>
      Option(m.get("partitionColumns")).map(_.elements().asScala.map(_.asText()).toSeq))
      .getOrElse(Seq.empty)

  /** Read a snapshot's / change-range's add files under the metaData
    * schema, honoring BOTH reader-side layout indirections:
    *
    *  - COLUMN MAPPING ('name' mode): the scan binds the PHYSICAL schema
    *    (so schema-evolution null-fill works against the field names the
    *    files actually contain) and one projection renames back to
    *    logical — a positional struct cast, exact because physical and
    *    logical trees differ only in names;
    *  - PARTITIONED tables: partition columns are NOT stored in the data
    *    files — they live in each add action's partitionValues (keyed by
    *    physical name on mapped tables). The read is ONE flat scan of
    *    every file plus a BROADCAST (file → partition values) frame
    *    joined on the scanned file identity and cast to the logical
    *    types — plan size independent of the partition-value count (a
    *    union-per-value plan blows up driver planning on a
    *    date-partitioned table). Without the decoration, a foreign
    *    partitioned table would silently read its partition columns as
    *    all-null — a misread, not an error. Partition PRUNING is
    *    log-based, not plan-based: [[readWhere]] prunes the add list by
    *    partitionValues (exact) and stats (bounding) BEFORE this scan is
    *    planned, the same split delta-spark makes.
    *
    * Empty file sets return an empty frame with the LOGICAL schema.
    */
  /** A scanned file's TABLE-RELATIVE path — `_metadata.file_path` with
    * the scheme and table root stripped, matching the add action's own
    * `path` spelling (basenames alone are ambiguous: a partitioned write
    * reuses one task's part-file name across partition directories).
    */
  private def relPathCol(root: String): org.apache.spark.sql.Column = {
    // `_metadata.file_path` renders as a PERCENT-ENCODED URI (SparkPath),
    // so a root or partition directory containing a space / '%' /
    // non-ASCII char would never match the add action's raw path — and a
    // never-matching anti-join key silently resurrects DV-deleted rows.
    // Decode first. Literal '+' is legal unencoded in a URI path and must
    // survive (url_decode is form-decoding where '+' means space), so it
    // is pre-escaped to %2B before decoding.
    val decoded = url_decode(regexp_replace(col("_metadata.file_path"),
      lit("\\+"), lit("%2B")))
    val prefix = Fs.absPathNoScheme(root) + "/"
    val stripped = regexp_replace(decoded,
      lit("^.*?" + java.util.regex.Pattern.quote(prefix)), lit(""))
    // loud guard: a scanned path that does not contain the table root
    // refuses instead of feeding a never-matching join key downstream
    when(stripped === decoded, raise_error(concat(
        lit(s"DeltaLog: scanned file path outside table root $prefix: "),
        decoded)))
      .otherwise(stripped)
  }

  /** The deleted (relative path, row index) pairs named by `dvAdds`'
    * descriptors, decoded ON EXECUTORS (one task reads one bitmap; the
    * positions of a file's DV never transit the driver). Broadcast when
    * the descriptors' summed cardinality is join-build-side small — the
    * common case: a DV holds the deleted MINORITY of a file's rows.
    */
  private def dvDeletedPositions(spark: SparkSession, root: String,
      dvAdds: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    val descs = dvAdds.map { a =>
      val d = a.dv.get
      (a.path, d.storageType, d.pathOrInlineDv,
        d.offset.map(_.toLong).getOrElse(-1L), d.sizeInBytes, d.cardinality)
    }
    val df = spark.createDataset(descs)
      .flatMap { case (name, st, p, off, sz, card) =>
        val d = DeletionVectors.Descriptor(st, p,
          if (off < 0L) None else Some(off.toInt), sz, card)
        DeletionVectors.readPositions(root, d).iterator.map(pos => (name, pos))
      }.toDF("__dv_file", "__dv_pos")
    // broadcast gate in BYTES, not positions: each row carries the full
    // relative file path string, so a wide delete across many files can
    // dwarf the 8-byte position — estimate (path + long + row overhead)
    // per position and fall back to a shuffle join above ~128 MB
    val estBytes = dvAdds.map { a =>
      a.dv.get.cardinality * (8L + a.path.length + 16L)
    }.sum
    if (estBytes <= (128L << 20)) broadcast(df) else df
  }

  /** [[dvDeletedPositions]] with a COMMIT-VERSION tag per row — the
    * grouped change-feed read diffs every version's {newDv \ oldDv} in
    * ONE frame keyed (`__dv_v`, `__dv_file`, `__dv_pos`) instead of one
    * positions frame per version. Same executor-side decode, same
    * broadcast-bytes gate.
    */
  private def dvDeletedPositionsTagged(spark: SparkSession, root: String,
      entries: Seq[(Long, AddFile)]): DataFrame = {
    import spark.implicits._
    val descs = entries.map { case (v, a) =>
      val d = a.dv.get
      (v, a.path, d.storageType, d.pathOrInlineDv,
        d.offset.map(_.toLong).getOrElse(-1L), d.sizeInBytes, d.cardinality)
    }
    val df = spark.createDataset(descs)
      .flatMap { case (v, name, st, p, off, sz, card) =>
        val d = DeletionVectors.Descriptor(st, p,
          if (off < 0L) None else Some(off.toInt), sz, card)
        DeletionVectors.readPositions(root, d).iterator.map(pos => (v, name, pos))
      }.toDF("__dv_v", "__dv_file", "__dv_pos")
    val estBytes = entries.map { case (_, a) =>
      a.dv.get.cardinality * (16L + a.path.length + 16L)
    }.sum
    if (estBytes <= (128L << 20)) broadcast(df) else df
  }

  /** Scan `adds` under the snapshot schema (mapping + partition decode as
    * documented on [[readAdds]]). With `withPos` the result carries two
    * extra columns — `__dv_file` (table-relative path) and `__dv_pos`
    * (0-based row index from `_metadata.row_index`) — the join key the
    * deletion-vector anti-join and [[deleteWhere]]'s hit scan both use.
    * With `withFile` (implied by `withPos`) only `__dv_file` rides along —
    * the decoration key the grouped change-feed read joins its broadcast
    * file→version frame on.
    */
  private def scanAdds(spark: SparkSession, root: String, adds: Seq[AddFile],
      schemaJson: Option[String], metaDataJson: Option[String],
      withPos: Boolean, withFile: Boolean = false): DataFrame = {
    val logical = schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val mode = columnMappingMode(metaDataJson)
    val mapped = logical.isDefined && (mode == "name" || mode == "id")
    // id mode binds parquet columns by FIELD ID, not name: the physical
    // schema [[toPhysical]] builds carries `parquet.field.id` metadata,
    // and this flag makes Spark's parquet reader honor it. The flag is
    // SQLConf-scoped and therefore STICKY for the session — a per-read
    // `.option(...)` was MEASURED and does not work (ParquetFileFormat
    // re-reads the session SQLConf at planning time, overriding reader
    // options), and save/restore would break the LAZY frame this method
    // returns (the scan plans at first action, after any restore). Safe
    // by construction: only schemas that carry parquet.field.id metadata
    // are affected, this module stamps them only on id-mode reads (the
    // logical projection below strips them from the returned frame), and
    // ignoreMissing keeps id-less files on name matching (both for
    // id-mode files a sloppy writer produced and for any other read in
    // the session)
    if (mapped && mode == "id") {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    }
    val partCols = partitionColumnsOf(metaDataJson)
    val metaCols: Seq[org.apache.spark.sql.Column] =
      if (withPos) Seq(relPathCol(root).as("__dv_file"),
        col("_metadata.row_index").as("__dv_pos"))
      else if (withFile) Seq(relPathCol(root).as("__dv_file"))
      else Seq.empty
    def scanFlat(paths: Seq[String]): DataFrame = logical match {
      case Some(ls) if mapped =>
        val ps = toPhysical(ls, withFieldIds = mode == "id").asInstanceOf[StructType]
        spark.read.schema(ps).parquet(paths: _*)
          .select(ls.fields.zip(ps.fields).map { case (lf, pf) =>
            col(pf.name).cast(lf.dataType).as(lf.name)
          }.toIndexedSeq ++ metaCols: _*)
      case Some(ls) =>
        spark.read.schema(ls).parquet(paths: _*)
          .select(ls.fieldNames.map(col).toIndexedSeq ++ metaCols: _*)
      case None =>
        spark.read.parquet(paths: _*).select(col("*") +: metaCols: _*)
    }
    if (partCols.isEmpty || logical.isEmpty)
      return scanFlat(adds.map(a => s"$root/${a.path}"))
    // PARTITIONED read: ONE flat scan of every file + a BROADCAST
    // (file → partitionValues) frame joined on the scanned file identity.
    // The former union-of-one-scan-per-partition-value plan was
    // partition-COUNT-dependent — a date-partitioned table with a
    // thousand values planned a thousand-child union of FileSourceScans
    // (driver planning blowup, codegen splits, no shared scan). This plan
    // is one scan + one broadcast hash join whatever the layout: the
    // partition columns decode from the add actions' strings exactly as
    // the typed literals did (same cast, same session-timezone rules).
    val ls = logical.get
    val partSet = partCols.toSet
    val dataSchema = StructType(ls.fields.filterNot(f => partSet(f.name)))
    val dataPhys =
      if (mapped) toPhysical(dataSchema, withFieldIds = mode == "id").asInstanceOf[StructType]
      else dataSchema
    val partFields = ls.fields.filter(f => partSet(f.name))
    val pvSchema = StructType(
      StructField("__pv_file", org.apache.spark.sql.types.StringType,
        nullable = false) +:
      partFields.map(f => StructField(s"__pv_${f.name}",
        org.apache.spark.sql.types.StringType, nullable = true)).toIndexedSeq)
    val pvRows = adds.map { a =>
      Row.fromSeq(a.path +: partFields.map { f =>
        val key = if (mapped) physicalNameOf(f) else f.name
        a.partitionValues.get(key).orNull
      }.toIndexedSeq)
    }
    val pvDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema))
    // `_metadata.*` resolves on the scan relation — capture the file
    // identity (and row index) BEFORE the join
    val scanBase = spark.read.schema(dataPhys)
      .parquet(adds.map(a => s"$root/${a.path}"): _*)
      .withColumn("__pv_file", relPathCol(root))
    val scanPos =
      if (withPos) scanBase.withColumn("__dv_pos", col("_metadata.row_index"))
      else scanBase
    val joined = scanPos.join(pvDf, Seq("__pv_file"))
    val cols = ls.fields.map { f =>
      if (partSet(f.name)) col(s"__pv_${f.name}").cast(f.dataType).as(f.name)
      else {
        val phys = if (mapped) physicalNameOf(f) else f.name
        col(phys).cast(f.dataType).as(f.name)
      }
    }
    val posCols: Seq[org.apache.spark.sql.Column] =
      if (withPos) Seq(col("__pv_file").as("__dv_file"), col("__dv_pos"))
      else if (withFile) Seq(col("__pv_file").as("__dv_file"))
      else Seq.empty
    joined.select(cols.toIndexedSeq ++ posCols: _*)
  }

  /** With `keepFile` each surviving row also carries `__dv_file` (its
    * table-relative source path) — the grouped change-feed read's
    * decoration key; both the plain and the DV-survivor branch emit it,
    * so the union stays name-aligned.
    */
  private def readAdds(spark: SparkSession, root: String, adds: Seq[AddFile],
      schemaJson: Option[String], metaDataJson: Option[String],
      keepFile: Boolean = false): DataFrame = {
    val logical = schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      logical.getOrElse(new StructType()))
    if (adds.isEmpty) return empty
    // deletion vectors: a DV'd file's rows are scanned WITH their row
    // index and anti-joined against the decoded deleted positions —
    // row-level invalidation without rewriting the gigabyte the rows
    // live in. Plain files take the unchanged direct-scan path.
    val (dvAdds, plain) = adds.partition(_.dv.exists(_.cardinality > 0))
    val plainDf =
      if (plain.isEmpty) None
      else Some(scanAdds(spark, root, plain, schemaJson, metaDataJson,
        withPos = false, withFile = keepFile))
    val dvDf =
      if (dvAdds.isEmpty) None
      else {
        // membership guard on the anti-join key: every scanned __dv_file
        // must be one of the DV'd add paths — a derivation mismatch (e.g.
        // an encoding scheme this reader has not seen) must refuse, not
        // silently return the deleted rows. InSet-sized; above the cap the
        // root-containment guard inside relPathCol still applies.
        val known = dvAdds.map(_.path)
        val scanned = scanAdds(spark, root, dvAdds, schemaJson, metaDataJson,
          withPos = true)
        val guarded =
          if (known.size > 65536) scanned
          else scanned.withColumn("__dv_file",
            when(col("__dv_file").isin(known: _*), col("__dv_file"))
              .otherwise(raise_error(concat(
                lit("DeltaLog: DV scan surfaced a file outside the DV'd " +
                  "add set (path-derivation mismatch would resurrect " +
                  "deleted rows): "), col("__dv_file")))))
        val survivors = guarded
          .join(dvDeletedPositions(spark, root, dvAdds),
            Seq("__dv_file", "__dv_pos"), "left_anti")
        Some(
          if (keepFile) survivors.drop("__dv_pos")
          else survivors.drop("__dv_file", "__dv_pos"))
      }
    Seq(plainDf, dvDf).flatten.reduce(_.unionByName(_))
  }

  /** Live data-file paths (relative to `root`) at `version` (default:
    * latest): replay from the newest checkpoint at or below the version,
    * then the JSON commit tail. Order is first-add order, stable across
    * replays.
    */
  def snapshotFiles(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[String] =
    replay(spark, root, version).adds.map(_.path)

  /** The snapshot exactly as `version` committed it — Delta time travel.
    * A snapshot with no live files returns an EMPTY frame typed by the
    * metaData schemaString (never a zero-column frame a caller's column
    * selection would throw on).
    */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val snap = replay(spark, root, version)
    // read under the snapshot's OWN metaData schema (never the first
    // file's): after schema evolution a snapshot mixes file layouts, and
    // columns absent from pre-evolution files must surface as nulls, not
    // silently vanish; column-mapped tables bind physical names and
    // project back to logical (readUnderSchema)
    readAdds(spark, root, snap.adds, snap.schemaJson, snap.metaDataJson)
  }

  /** DATA-SKIPPING read: a snapshot read whose file list is pruned by
    * the predicate BEFORE any scan is planned — per-file min/max stats
    * (the add actions' `stats` JSON, [[fileStatsJson]] on our own writes,
    * delta-spark's on foreign tables) answer "can this file possibly hold
    * a matching row?", and partition values answer it exactly for the
    * layout columns. The full predicate is still applied to the surviving
    * rows, so the result is EXACTLY `read(...).filter(predicate)` — the
    * skipping is a pure I/O optimization, the lakehouse sibling of
    * partition pruning, and at 100 TB the difference between a selective
    * query reading its few matching files and scanning the table.
    *
    * Prunable conjuncts: `=`, `<`, `<=`, `>`, `>=` between a column and a
    * literal (either order) over long/int/double/boolean/string columns.
    * Anything else — and any file with no usable stats for the column —
    * conservatively reads. NULL semantics make skipping safe: a
    * comparison is never satisfied by a NULL row, so min/max over the
    * non-null values bounds every row that could pass.
    */
  def readWhere(spark: SparkSession, root: String, predicate: org.apache.spark.sql.Column,
      version: Option[Long] = None): DataFrame = {
    val (kept, meta) = prunedSnapshot(spark, root, predicate, version)
    readAdds(spark, root, kept, meta.schemaJson, meta.metaDataJson)
      .filter(predicate)
  }

  /** Files a [[readWhere]] with this predicate would read — the audit
    * surface specs and scale rows gate skipping on.
    */
  private[graft] def filesMatching(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      version: Option[Long] = None): Seq[String] =
    prunedSnapshot(spark, root, predicate, version)._1.map(_.path)

  /** Add rows the last pruned read's checkpoint scan COLLECTED to the
    * driver — the audit counter the bounded-driver gate reads (-1: the
    * last pruned read never touched a checkpoint distributively, e.g. a
    * cache hit or a checkpoint-less table).
    */
  @volatile private[graft] var lastPrunedCollectedAdds: Long = -1L

  /** The (pruned live adds, meta-only snapshot) a predicate read needs.
    * BOUNDED-DRIVER contract: on a checkpointed table the metaData comes
    * from the metadata-only replay (no Spark job), and the one [[fold]]
    * then runs with [[addsMayMatch]] as its filter — the checkpoint's add
    * rows are pruned DISTRIBUTED (stats JSON parsed on executors,
    * [[StatsPrune.mayMatch]] verbatim) in ONE job, and only the SURVIVORS
    * are collected; commit-tail adds prune through the same test on the
    * driver. Driver state and JSON parsing scale with the pruned set
    * plus the commit tail, never the table's file count (10⁵–10⁶ add
    * rows at 100 TB). A cached full snapshot short-circuits to a driver
    * filter (already materialized, no job needed); a checkpoint-less
    * table replays its (tail-sized) log in full and is cached.
    */
  private def prunedSnapshot(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, version: Option[Long])
      : (Seq[AddFile], Snapshot) = {
    val log = listLog(root)
    val v = versionIn(root, log, version)
    def gated(snap: Snapshot): Snapshot = {
      validateReadable(root, snap.protocolJson, snap.metaDataJson); snap
    }
    def driverFilter(snap: Snapshot): (Seq[AddFile], Snapshot) = {
      val (conjuncts, partCols) =
        prunablePhysical(spark, predicate, snap.schemaJson, snap.metaDataJson)
      lastPrunedCollectedAdds = -1L
      (snap.adds.filter(addsMayMatch(spark, conjuncts, partCols).keep), snap)
    }
    def full(): Snapshot = gated(snapshotAt(root, log, v, Some(spark)))
    cachedSnapshot(snapKey(root, log, v, withAdds = true)) match {
      case Some(snap) => driverFilter(gated(snap))
      case None if log.checkpointAtOrBelow(v).isEmpty => driverFilter(full())
      case None =>
        val meta = gated(snapshotAt(root, log, v, None))
        val (conjuncts, partCols) =
          prunablePhysical(spark, predicate, meta.schemaJson, meta.metaDataJson)
        if (conjuncts.isEmpty) driverFilter(full())
        else {
          val (pruned, scanned, _) =
            fold(root, log, v, Some(addsMayMatch(spark, conjuncts, partCols)))
          lastPrunedCollectedAdds = scanned
          (pruned.adds, meta)
        }
    }
  }

  /** Prunable conjuncts + partition columns spelled PHYSICALLY. On a
    * column-mapped table the add actions' partitionValues keys and the
    * stats JSON columns carry physical names, so the logical conjunct
    * names must translate before [[StatsPrune.mayMatch]] sees them —
    * without this a mapped table silently loses ALL data skipping (the
    * logical names match nothing, every file conservatively reads). A
    * conjunct whose column has no top-level physical spelling drops,
    * which only widens the read.
    */
  private def prunablePhysical(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      schemaJson: Option[String], metaDataJson: Option[String])
      : (Seq[(String, CmpOp, Any)], Set[String]) = {
    val conjuncts = prunableConjuncts(spark, predicate, schemaJson)
    val partColsLogical = partitionColumnsOf(metaDataJson)
    if (columnMappingMode(metaDataJson) == "none")
      (conjuncts, partColsLogical.toSet)
    else {
      val ls = schemaJson
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(new StructType())
      val phys = ls.fields.map(f => f.name -> physicalNameOf(f)).toMap
      (conjuncts.flatMap { case (n, op, vv) =>
        phys.get(n).map(p => (p, op, vv))
      }, partColsLogical.flatMap(phys.get).toSet)
    }
  }

  /** Resolve + fold the predicate against a ONE-ROW dummy frame with the
    * table's schema and harvest the optimized Filter condition — Spark's
    * own analyzer does the name binding and literal casting (Spark 4
    * Columns wrap lazy ColumnNodes, so the raw node tree is not the
    * typed comparison classes). Driver-only: a LocalRelation analyzes
    * and optimizes without submitting any job.
    */
  private def prunableConjuncts(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      schemaJson: Option[String]): Seq[(String, CmpOp, Any)] =
    schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType]) match {
      case None => Seq.empty
      case Some(st) =>
        val dummy = spark.createDataFrame(
          java.util.Arrays.asList(Row.fromSeq(Seq.fill(st.size)(null))), st)
        // the ANALYZED plan — the optimizer would constant-fold the whole
        // filter against the dummy LocalRelation's rows and erase it
        val cond =
          try dummy.filter(predicate).queryExecution.analyzed.collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition
          }
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        cond.toSeq.flatMap(splitConjuncts).flatMap(asSimpleComparison)
    }

  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** (column, op, literal) for the prunable comparison shapes; the
    * literal normalizes to Long / Double / Boolean / String. Column
    * references may be unresolved (col("x")) or resolved (df("x")).
    */
  private def asSimpleComparison(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, CmpOp, Any)] = {
    import org.apache.spark.sql.catalyst.expressions._
    def nameOf(x: Expression): Option[String] = x match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.nameParts.mkString("."))
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litOf(x: Expression): Option[Any] = {
      // the analyzed tree may wrap the literal in an implicit Cast for
      // type promotion; any foldable side evaluates driver-side
      val v = x match {
        case Literal(l, _) => l
        case other if other.foldable && other.deterministic =>
          try other.eval(null) catch { case NonFatal(_) => null }
        case _ => null
      }
      v match {
        case null => None
        case i: java.lang.Integer => Some(i.longValue())
        case l: java.lang.Long => Some(l.longValue())
        case s: java.lang.Short => Some(s.longValue())
        case b: java.lang.Byte => Some(b.longValue())
        case f: java.lang.Float => Some(f.doubleValue())
        case d: java.lang.Double => Some(d.doubleValue())
        case b: java.lang.Boolean => Some(b.booleanValue())
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case s: String => Some(s)
        case _ => None
      }
    }
    def mk(l: Expression, r: Expression, op: CmpOp, flip: CmpOp) =
      (nameOf(l), litOf(r), nameOf(r), litOf(l)) match {
        case (Some(n), Some(v), _, _) => Some((n, op, v))
        case (_, _, Some(n), Some(v)) => Some((n, flip, v))
        case _ => None
      }
    e match {
      case EqualTo(l, r) => mk(l, r, CmpEq, CmpEq)
      case LessThan(l, r) => mk(l, r, CmpLt, CmpGt)
      case LessThanOrEqual(l, r) => mk(l, r, CmpLe, CmpGe)
      case GreaterThan(l, r) => mk(l, r, CmpGt, CmpLt)
      case GreaterThanOrEqual(l, r) => mk(l, r, CmpGe, CmpLe)
      case _ => None
    }
  }

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  /** Publish commit `v` atomically (put-if-absent on the commit file —
    * the same single-winner race Delta writers run on object stores). A
    * writer that loses the race deletes its attempt's data directory
    * `dir` and the `_change_data/` directory of the same name: no commit
    * references their files, and [[vacuum]] works from the log, so
    * nothing else would ever reclaim them.
    */
  private def publish(root: String, v: Long, actions: Seq[String],
      dir: Option[String] = None): Unit = {
    Fs.mkdirs(logDir(root))
    try
      Fs.createNew(commitPath(root, v),
        actions.mkString("", "\n", "\n").getBytes("UTF-8"))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        dir.foreach(d => Seq(d, s"_change_data/$d").foreach(p =>
          Fs.deleteRecursive(Fs.resolve(root, p))))
        throw new java.util.ConcurrentModificationException(
          s"DeltaLog $root: version $v was committed concurrently")
    }
  }

  /** The directory one commit attempt at `v` writes its data files under
    * (its change files go under `_change_data/` + the same name) —
    * unique per attempt, so [[publish]] can delete a lost attempt's
    * files and nobody else's.
    */
  private def attemptDir(v: Long): String =
    f"c$v%05d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Write `df`'s rows as parquet under `sub` (an [[attemptDir]]) and
    * return (relativePath, size, partitionValues) per data file. With
    * `partCols` non-empty the write is PARTITIONED exactly as the Delta
    * protocol prescribes: the partition columns are NOT stored in the
    * data files (Spark's partitionBy already excludes them — the same
    * data schema [[readAdds]] reconstructs on read), and each file's
    * values are decoded from its Hive-style directory segments
    * (`col=value`, URL-encoded, `__HIVE_DEFAULT_PARTITION__` = null)
    * into the add action's partitionValues map — the reader's own
    * decode, inverted.
    */
  private case class WrittenFile(path: String, size: Long,
      partitionValues: Map[String, String], stats: Option[String])

  /** Serializes the session-conf save/force/restore around mapped
    * (field-id-stamped) data-file writes — see [[writeDataFiles]].
    */
  private object FieldIdWriteLock

  private def writeDataFiles(root: String, sub: String, df: DataFrame,
      partCols: Seq[String] = Seq.empty): Seq[WrittenFile] = {
    def doWrite(): Unit =
      if (partCols.nonEmpty) {
        val missing = partCols.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"commit into a partitioned table needs its partition columns; " +
            s"missing: ${missing.mkString(", ")}")
        df.write.partitionBy(partCols: _*).parquet(s"$root/$sub")
      } else df.write.parquet(s"$root/$sub")
    if (df.schema.fields.exists(_.metadata.contains("parquet.field.id"))) {
      // a mapped-layout frame ([[toPhysicalDf]] stamped ids into its
      // schema metadata) must land with ids in the FOOTERS so id-mode
      // readers bind the new files. Spark's write default already stamps
      // them, but a session that disabled the flag must not silently
      // produce id-less mapped files — force it for exactly this (eager)
      // write and restore the caller's setting after, never leaving a
      // sticky session conf behind. The save/set/restore mutates the
      // SHARED session SQLConf, which is not thread-safe — serialized
      // under [[FieldIdWriteLock]] so two concurrent mapped writes in
      // one session cannot interleave a restore into each other's write
      // (a truly concurrent UNRELATED write on the same session could
      // still observe the forced value mid-flight; for it the flag is
      // also Spark's own default, so the observation is harmless).
      val spark = df.sparkSession
      val key = "spark.sql.parquet.fieldId.write.enabled"
      FieldIdWriteLock.synchronized {
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try doWrite()
        finally saved match {
          case Some(prev) => spark.conf.set(key, prev)
          case None => spark.conf.unset(key)
        }
      }
    } else doWrite()
    val base = Fs.resolve(root, sub)
    val files = Fs.listFilesRecursive(base).filter { case (p, _) =>
      val n = Fs.name(p)
      n.startsWith("part-") && n.endsWith(".parquet")
    }
    files.map { case (p, size) =>
      val rel = Fs.relativize(base, p)
      val segs = rel.split("/")
      val pv = segs.dropRight(1).toSeq
        .filter(_.contains("="))
        .map { seg =>
          val k = seg.substring(0, seg.indexOf('='))
          val raw = java.net.URLDecoder.decode(
            seg.substring(seg.indexOf('=') + 1), "UTF-8")
          k -> (if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw)
        }.toMap
      WrittenFile(s"$sub/$rel", size, pv, fileStatsJson(p))
    }.sortBy(_.path).toIndexedSeq
  }

  private def dvJson(d: DeletionVectors.Descriptor): String =
    s"""{"storageType":${jstr(d.storageType)},""" +
      s""""pathOrInlineDv":${jstr(d.pathOrInlineDv)}""" +
      d.offset.map(o => s""","offset":$o""").getOrElse("") +
      s""","sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  private def addAction(path: String, size: Long,
      dataChange: Boolean = true,
      partitionValues: Map[String, String] = Map.empty,
      stats: Option[String] = None,
      dv: Option[DeletionVectors.Descriptor] = None): String = {
    val pv = partitionValues.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${jstr(k)}:${if (v == null) "null" else jstr(v)}"
    }.mkString("{", ",", "}")
    val st = stats.map(s => s""","stats":${jstr(s)}""").getOrElse("")
    val dvs = dv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
    s"""{"add":{"path":${jstr(path)},"partitionValues":$pv,"size":$size,""" +
      s""""modificationTime":0,"dataChange":$dataChange$st$dvs}}"""
  }

  /** Per-file DATA-SKIPPING STATS, computed driver-side from the parquet
    * FOOTER (row-group column statistics aggregated across row groups —
    * one footer read per file, never a data scan) and spelled exactly as
    * delta-spark's add-action `stats` JSON string:
    * `{"numRecords":N,"minValues":{..},"maxValues":{..},"nullCount":{..}}`.
    * Only top-level primitive columns with valid footer statistics
    * appear; a column absent from the maps simply cannot prune. This is
    * the metadata half of data skipping — the lakehouse sibling of
    * partition pruning, and at 100 TB the difference between a selective
    * query reading its few matching files and reading the table.
    */
  private def fileStatsJson(file: String): Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val footer =
      // the SESSION Hadoop configuration, never a bare Configuration: a
      // table on s3a/hdfs whose credentials live in spark.hadoop.* would
      // otherwise fail the footer read into the catch-all and silently
      // commit STATS-LESS adds — every selective read degrades to a
      // table scan with no error surfaced
      try org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        Fs.hadoopConf,
        new org.apache.hadoop.fs.Path(file.toString))
      catch { case NonFatal(_) => return None }
    val md = footer.getFileMetaData
    val schema = md.getSchema
    var numRecords = 0L
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val maxs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val nulls = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val blocks = footer.getBlocks.asScala
    blocks.foreach(b => numRecords += b.getRowCount)
    (0 until schema.getFieldCount).foreach { i =>
      val f = schema.getType(i)
      if (f.isPrimitive) {
        val name = f.getName
        val prim = f.asPrimitiveType().getPrimitiveTypeName
        val isString = Option(f.getLogicalTypeAnnotation).exists(_.isInstanceOf[
          LogicalTypeAnnotation.StringLogicalTypeAnnotation])
        val colStats = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == name).map(_.getStatistics))
        if (colStats.nonEmpty && colStats.forall(s =>
          s != null && !s.isEmpty && s.hasNonNullValue)) {
          // aggregate min/max across row groups on RAW typed values,
          // render (and quote strings) only at the end — aggregating
          // rendered text would order escapes, not values
          def typed(v: Any): Option[Any] = (prim, v) match {
            case (INT32 | INT64, n: Number) => Some(n.longValue())
            case (DOUBLE | FLOAT, n: Number) => Some(n.doubleValue())
            case (BOOLEAN, b: java.lang.Boolean) => Some(b.booleanValue())
            case (BINARY, b: org.apache.parquet.io.api.Binary) if isString =>
              Some(b.toStringUsingUTF8)
            case _ => None
          }
          val lo = colStats.flatMap(s => typed(s.genericGetMin))
          val hi = colStats.flatMap(s => typed(s.genericGetMax))
          if (lo.size == colStats.size && hi.size == colStats.size) {
            def render(v: Any): String = v match {
              case s: String => jstr(s)
              case other => other.toString
            }
            // long string envelopes (a document text column) would bloat
            // every commit; delta-spark truncates at 32 chars with a
            // prefix-successor max — we simply omit the column (it then
            // cannot prune, which is safe)
            val tooLong = (lo ++ hi).exists {
              case str: String => str.length > 64
              case _ => false
            }
            val ord: Ordering[Any] = ((a: Any, b: Any) => (a, b) match {
              case (x: Long, y: Long) => java.lang.Long.compare(x, y)
              case (x: Double, y: Double) => java.lang.Double.compare(x, y)
              case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
              case (x: String, y: String) => x.compareTo(y)
              case _ => 0
            }): Ordering[Any]
            if (!tooLong) {
              mins(name) = render(lo.min(ord))
              maxs(name) = render(hi.max(ord))
              nulls(name) = colStats.map(_.getNumNulls).sum
            }
          }
        }
      }
    }
    def obj(m: scala.collection.Map[String, String]) =
      m.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    Some(s"""{"numRecords":$numRecords,"minValues":${obj(mins)},""" +
      s""""maxValues":${obj(maxs)},""" +
      s""""nullCount":{${nulls.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")}}}""")
  }

  private def removeAction(path: String, dataChange: Boolean = true,
      dv: Option[DeletionVectors.Descriptor] = None): String = {
    val dvs = dv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
    s"""{"remove":{"path":${jstr(path)},"deletionTimestamp":0,"dataChange":$dataChange$dvs}}"""
  }

  /** A `cdc` action (PROTOCOL.md "Add CDC File"): names one change-data
    * file under `_change_data/`. Always `dataChange=false` — the change
    * files DESCRIBE the commit's logical change, they are not part of
    * the table's data.
    */
  private def cdcAction(path: String, size: Long,
      partitionValues: Map[String, String]): String = {
    val pv = partitionValues.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${jstr(k)}:${if (v == null) "null" else jstr(v)}"
    }.mkString("{", ",", "}")
    s"""{"cdc":{"path":${jstr(path)},"partitionValues":$pv,"size":$size,""" +
      """"dataChange":false}}"""
  }

  /** Whether the table opted into the change data feed
    * (`delta.enableChangeDataFeed` in the metaData configuration —
    * delta-spark's own switch). Row-retracting writers (deleteWhere,
    * mergeInto) consult this to decide whether to publish change files.
    */
  private[graft] def cdfEnabled(root: String): Boolean =
    latestMetaDataJson(root).map(mapper.readTree).exists { m =>
      Option(m.get("configuration"))
        .flatMap(c => Option(c.get("delta.enableChangeDataFeed")))
        .exists(n => !n.isNull && n.asText() == "true")
    }

  /** Merge `props` into the table's metaData configuration in one
    * commit (delta-spark's ALTER TABLE SET TBLPROPERTIES). Enabling the
    * change data feed also raises the writer protocol to what the
    * feature demands (minWriterVersion 4, or the `changeDataFeed`
    * writerFeature on feature-listed protocols) so foreign writers
    * below it refuse rather than commit feed-less changes.
    */
  def setTableProperties(root: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "no properties to set")
    require(currentVersion(root) >= 0, s"no Delta log at $root")
    val metaJson = latestMetaDataJson(root).getOrElse(
      throw new IllegalArgumentException(s"no metaData action in Delta log at $root"))
    val node = mapper.readTree(metaJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val conf = Option(node.get("configuration"))
      .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
      .getOrElse(node.putObject("configuration"))
    props.foreach { case (k, v) => conf.put(k, v) }
    node.set[com.fasterxml.jackson.databind.JsonNode]("configuration", conf)
    val protoUpgrade: Seq[String] =
      if (props.get("delta.enableChangeDataFeed").contains("true")) {
        val cur = latestProtocolJson(root).map(mapper.readTree)
        val mrv = cur.map(_.get("minReaderVersion").asInt()).getOrElse(1)
        val mwv = cur.map(_.get("minWriterVersion").asInt()).getOrElse(2)
        val wfeats = cur.toSeq.flatMap(p =>
          Option(p.get("writerFeatures")).toSeq
            .flatMap(_.elements().asScala.map(_.asText())))
        if (mwv >= 7 && !wfeats.contains("changeDataFeed")) {
          val rfeats = cur.toSeq.flatMap(p =>
            Option(p.get("readerFeatures")).toSeq
              .flatMap(_.elements().asScala.map(_.asText())))
          def jarr(xs: Seq[String]) =
            xs.distinct.sorted.map(jstr).mkString("[", ",", "]")
          // PROTOCOL.md allows a readerFeatures array ONLY at
          // minReaderVersion 3 — emitting one on a lower reader version
          // makes strict foreign readers reject the upgraded table
          val rf = if (mrv >= 3) s""""readerFeatures":${jarr(rfeats)},"""
            else ""
          Seq(s"""{"protocol":{"minReaderVersion":$mrv,"minWriterVersion":$mwv,""" +
            rf + s""""writerFeatures":${jarr(wfeats :+ "changeDataFeed")}}}""")
        } else if (mwv < 4)
          Seq(s"""{"protocol":{"minReaderVersion":$mrv,"minWriterVersion":4}}""")
        else Seq.empty
      } else Seq.empty
    val next = currentVersion(root) + 1
    publish(root, next, protoUpgrade :+ s"""{"metaData":${node.toString}}""")
    next
  }

  /** RENAME a column on a COLUMN-MAPPED table — a metaData-ONLY commit
    * rewriting the field's LOGICAL name while `physicalName` and the
    * mapping id stay fixed, which is the entire point of name mapping:
    * every existing data file keeps binding, zero bytes rewrite, and the
    * next read (old files and new) surfaces the new name. Nested fields
    * via a dotted path (`a.b`). Refuses on unmapped tables (a plain
    * table's files spell logical names — renaming would orphan every
    * file; delta-spark refuses identically), on a missing source field,
    * and on a sibling-name collision. Partition-column renames update
    * the metaData's partitionColumns list in the same action (the list
    * is logical; partitionValues keys are physical and unaffected).
    */
  def renameColumn(root: String, oldName: String, newName: String): Long = {
    val (node, schema) = mappedSchemaForEdit(root, s"rename $oldName")
    val path = oldName.split('.').toSeq
    require(newName.nonEmpty && !newName.contains("."),
      s"new name must be a bare field name, got '$newName'")
    var found = false
    val edited = editFieldAt(schema, path) { f =>
      found = true
      Some(f.copy(name = newName))
    }
    require(found, s"DeltaLog $root: no column '$oldName' to rename")
    publishMetaDataEdit(root, node, edited, renames = Map(path.last -> newName),
      renamedPath = path)
  }

  /** DROP columns on a COLUMN-MAPPED table — a metaData-ONLY commit
    * removing the fields from the schemaString; data files are untouched
    * (readers simply stop binding the dropped physical columns — the
    * mapped sibling of delta-spark's DROP COLUMN). The dropped bytes
    * still exist in the files: physical erasure stays [[purgeDeletionVectors]]
    * / rewrite territory, exactly as in delta-spark. Refuses on unmapped
    * tables, partition columns, missing fields, and dropping the last
    * column.
    */
  def dropColumns(root: String, names: Seq[String]): Long = {
    require(names.nonEmpty, "no columns to drop")
    val (node, schema) = mappedSchemaForEdit(root,
      s"drop ${names.mkString(",")}")
    val partCols = partitionColumnsOf(Some(node.toString)).toSet
    names.foreach(n => require(!partCols(n),
      s"DeltaLog $root: cannot drop partition column '$n' — rewrite the " +
        "layout (commitRewriteLayout) first"))
    var edited = schema
    names.foreach { n =>
      var found = false
      edited = editFieldAt(edited, n.split('.').toSeq) { _ =>
        found = true; None
      }
      require(found, s"DeltaLog $root: no column '$n' to drop")
    }
    require(edited.fields.nonEmpty,
      s"DeltaLog $root: dropping ${names.mkString(",")} would leave an " +
        "empty schema")
    publishMetaDataEdit(root, node, edited)
  }

  /** The (metaData node, typed schema) of a table whose schema may be
    * EDITED in place — refuses unmapped tables: their files spell
    * logical names, so a rename/drop would orphan or resurrect columns.
    */
  private def mappedSchemaForEdit(root: String, what: String)
      : (com.fasterxml.jackson.databind.node.ObjectNode, StructType) = {
    require(currentVersion(root) >= 0, s"no Delta log at $root")
    val metaJson = latestMetaDataJson(root).getOrElse(
      throw new IllegalArgumentException(s"no metaData action in Delta log at $root"))
    val mode = columnMappingMode(Some(metaJson))
    if (mode == "none")
      throw new UnsupportedOperationException(
        s"DeltaLog $root: cannot $what — the table is not column-mapped; " +
          "its data files spell logical names, so a metaData-only " +
          "rename/drop would orphan them (enable column mapping first)")
    val node = mapper.readTree(metaJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val schema = DataType.fromJson(
      node.get("schemaString").asText()).asInstanceOf[StructType]
    (node, schema)
  }

  /** Apply `f` to the field at `path` (dotted-nested); `None` drops it.
    * Collision-checked: the edited level must not end with two fields of
    * one name.
    */
  private def editFieldAt(schema: StructType, path: Seq[String])(
      f: StructField => Option[StructField]): StructType = {
    def editStruct(st: StructType, p: Seq[String]): StructType = {
      val out = st.fields.toSeq.flatMap { sf =>
        if (sf.name != p.head) Some(sf)
        else if (p.size == 1) f(sf)
        else sf.dataType match {
          case inner: StructType =>
            Some(sf.copy(dataType = editStruct(inner, p.tail)))
          case other => throw new IllegalArgumentException(
            s"field '${p.head}' is not a struct (${other.simpleString}) — " +
              s"cannot descend to '${p.tail.mkString(".")}'")
        }
      }
      val dup = out.groupBy(_.name).collectFirst { case (n, fs) if fs.size > 1 => n }
      dup.foreach(n => throw new IllegalArgumentException(
        s"rename collides with existing column '$n'"))
      StructType(out)
    }
    editStruct(schema, path)
  }

  private def publishMetaDataEdit(root: String,
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      schema: StructType,
      renames: Map[String, String] = Map.empty,
      renamedPath: Seq[String] = Seq.empty): Long = {
    node.put("schemaString", schema.json)
    // a TOP-LEVEL partition-column rename updates the logical list
    if (renames.nonEmpty && renamedPath.size == 1) {
      val pcs = partitionColumnsOf(Some(node.toString))
      if (pcs.exists(renames.contains)) {
        val arr = node.putArray("partitionColumns")
        pcs.foreach(p => arr.add(renames.getOrElse(p, p)))
      }
    }
    val next = currentVersion(root) + 1
    publish(root, next, Seq(s"""{"metaData":${node.toString}}"""))
    next
  }

  private def metaDataAction(id: String, schemaJson: String,
      partitionColumns: Seq[String] = Seq.empty): String = {
    val pc = partitionColumns.map(jstr).mkString("[", ",", "]")
    s"""{"metaData":{"id":${jstr(id)},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schemaJson)},""" +
      s""""partitionColumns":$pc,"configuration":{}}}"""
  }

  /** TimestampNTZType anywhere in the schema (nested included) —
    * PROTOCOL.md gates the type behind the `timestampNtz` feature, so a
    * writer emitting it must declare reader 3 / writer 7.
    */
  private def containsNtz(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.TimestampNTZType => true
    case s: StructType => s.fields.exists(f => containsNtz(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsNtz(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      containsNtz(m.keyType) || containsNtz(m.valueType)
    case _ => false
  }

  private def headerActions(schema: StructType,
      partitionColumns: Seq[String] = Seq.empty): Seq[String] = Seq(
    if (containsNtz(schema))
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}"""
    else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
    metaDataAction(java.util.UUID.randomUUID().toString, schema.json,
      partitionColumns))

  /** The protocol upgrade an append EVOLVING a timestamp_ntz column into
    * an existing table must carry (the [[featureProtocolUpgrade]] rule:
    * feature lists merged, legacy-implied features folded in, never
    * replaced; empty when already declared or when the write schema has
    * no NTZ).
    */
  private def ntzProtocolActions(root: String,
      writeSchema: StructType): Seq[String] =
    if (!containsNtz(writeSchema)) Seq.empty
    else featureProtocolUpgrade(root, "timestampNtz", readerGated = true)

  /** The one table-features protocol upgrade rule (PROTOCOL.md): moving
    * a table to minReaderVersion 3 / minWriterVersion 7 must DECLARE
    * every feature the table already uses — the explicit lists when the
    * old protocol had them, plus the features its LEGACY version pair
    * implied (reader 2 = columnMapping; writer 2..6 accumulate
    * appendOnly/invariants, checkConstraints, changeDataFeed/
    * generatedColumns, columnMapping, identityColumns). An upgrade that
    * listed only the new feature would UNDECLARE e.g. columnMapping on a
    * (2, 5) mapped table — a spec-compliant foreign reader then binds
    * logical names against physical col-XXXX files and reads all-null.
    * Empty when `feature` is already declared (reader-gated features
    * check readerFeatures; writer-only ones check writerFeatures).
    */
  private def featureProtocolUpgrade(root: String, feature: String,
      readerGated: Boolean): Seq[String] = {
    val cur = latestProtocolJson(root).map(mapper.readTree)
    def feats(key: String): Seq[String] = cur.toSeq.flatMap(p =>
      Option(p.get(key)).toSeq
        .flatMap(_.elements().asScala.map(_.asText())))
    val readerFeats = feats("readerFeatures")
    val writerFeats = feats("writerFeatures")
    if ((if (readerGated) readerFeats else writerFeats).contains(feature))
      return Seq.empty
    def ver(key: String, dflt: Int): Int =
      cur.flatMap(p => Option(p.get(key)).map(_.asInt(dflt))).getOrElse(dflt)
    val mrv = ver("minReaderVersion", 1)
    val mwv = ver("minWriterVersion", 2)
    // legacy-implied features: only when the OLD protocol predates the
    // features lists (a features-era protocol's lists are authoritative)
    val impliedReader =
      if (mrv >= 3) Seq.empty
      else if (mrv >= 2) Seq("columnMapping") else Seq.empty
    val impliedWriter =
      if (mwv >= 7) Seq.empty
      else Seq(
        2 -> Seq("appendOnly", "invariants"),
        3 -> Seq("checkConstraints"),
        4 -> Seq("changeDataFeed", "generatedColumns"),
        5 -> Seq("columnMapping"),
        6 -> Seq("identityColumns")
      ).collect { case (v, fs) if mwv >= v => fs }.flatten
    def jarr(xs: Seq[String]) = xs.distinct.sorted.map(jstr).mkString("[", ",", "]")
    val newReader =
      readerFeats ++ impliedReader ++ (if (readerGated) Seq(feature) else Seq.empty)
    val newWriter = writerFeats ++ impliedWriter :+ feature
    Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      s""""readerFeatures":${jarr(newReader)},""" +
      s""""writerFeatures":${jarr(newWriter)}}}""")
  }

  /** The latest metaData action as its full JSON string — a view of the
    * metadata-only replay at the latest version ([[latestMeta]]), so it
    * agrees with replay on checkpointed tables: after a log-retention
    * trim the checkpoint is the only carrier of the metaData, and every
    * metaData-derived gate (schema, partition columns, column-mapping
    * mode) resolves through this.
    */
  private def latestMetaDataJson(root: String): Option[String] =
    latestMeta(root).flatMap(_.metaDataJson)

  /** The latest protocol action as its full JSON string, readerFeatures
    * INCLUDED (a scalar-only fallback would let a checkpointed
    * deletion-vector table pass the refusal gate and resurrect DV-deleted
    * rows).
    */
  private def latestProtocolJson(root: String): Option[String] =
    latestMeta(root).flatMap(_.protocolJson)

  /** The latest metaData action's (table id, schemaString). */
  private def latestMetaData(root: String): Option[(String, String)] =
    latestMetaDataJson(root).map(mapper.readTree)
      .filter(m => m.has("id") && m.has("schemaString"))
      .map(m => (m.get("id").asText(), m.get("schemaString").asText()))

  /** The table's CURRENT schema resolved entirely driver-side (the
    * metadata-only replay, no Spark job) — what the streaming source
    * binds to, so a stream over an EVOLVED table sees the latest field
    * list, not commit 0's. Runs the protocol refusal gate first: a stream
    * must refuse a deletion-vector or column-mapping table exactly like
    * the batch reader.
    */
  private[graft] def latestSchema(root: String): StructType = {
    val meta = latestMeta(root).getOrElse(
      throw new IllegalArgumentException(s"no Delta log at $root"))
    validateReadable(root, meta.protocolJson, meta.metaDataJson)
    meta.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"no metaData action in Delta log at $root"))
  }

  /** SCHEMA EVOLUTION for this commit: the (metaData actions, logical
    * WRITE schema) an append of `df` into `root` publishes — empty
    * actions + the table's own schema when nothing evolves.
    *
    * PLAIN tables: a differing frame schema replaces the schemaString IN
    * PLACE on the latest metaData node (id, format, partitionColumns and
    * configuration pass through verbatim — a fresh minimal metaData here
    * would silently strip a partitioned table's layout on its first
    * evolution), and the frame's own schema is the write schema.
    *
    * COLUMN-MAPPED tables: evolution means MINTING — each field the
    * table has never seen gets a fresh mapping id continuing from
    * `delta.columnMapping.maxColumnId` and a `col-<uuid>` physical name
    * (delta-spark's own algorithm), existing fields keep their ids, and
    * the configuration's maxColumnId advances in the same metaData
    * action. Only ADD-column evolution is supported: a rename, retype or
    * drop needs the owning engine's intent, not an append's, so those
    * still refuse loudly. Field comparison is by name + TYPE TEXT
    * (`.sql` renders metadata-free at every nesting level — the table's
    * fields carry delta.columnMapping metadata the user's frame never
    * has). The returned schema carries the mapping metadata the physical
    * write ([[toPhysicalDf]]) spells; minted fields are nullable, since
    * pre-evolution files null-fill them on read.
    */
  private def evolutionFor(root: String, df: DataFrame)
      : (Seq[String], StructType) = {
    val metaJson = latestMetaDataJson(root)
    val ls = latestMetaData(root)
      .map(m => DataType.fromJson(m._2).asInstanceOf[StructType])
      .getOrElse(new StructType())
    if (columnMappingMode(metaJson) == "none") {
      latestMetaData(root) match {
        case Some((_, schema)) if schema != df.schema.json =>
          val node = mapper.readTree(metaJson.get)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          node.put("schemaString", df.schema.json)
          (Seq(s"""{"metaData":${node.toString}}"""), df.schema)
        case _ => (Seq.empty, df.schema)
      }
    } else {
      val dfTypes = df.schema.fields.map(f => f.name -> f.dataType.sql).toMap
      val tblNames = ls.fields.map(_.name).toSet
      val missing = ls.fields.map(_.name).filterNot(dfTypes.contains)
      val retyped = ls.fields
        .filter(f => dfTypes.get(f.name).exists(_ != f.dataType.sql))
        .map(_.name)
      if (missing.nonEmpty || retyped.nonEmpty)
        throw new UnsupportedOperationException(
          s"DeltaLog $root: this write would drop or retype mapped " +
            s"columns (absent: ${missing.mkString(",")}; retyped: " +
            s"${retyped.mkString(",")}) — renames/retypes/drops on a " +
            "column-mapped table need the owning engine's intent; only " +
            "add-column evolution (fresh mapping ids) is supported")
      val fresh = df.schema.fields.filterNot(f => tblNames(f.name))
      if (fresh.isEmpty) (Seq.empty, ls)
      else {
        // ids continue from the configuration's maxColumnId, floored by
        // the highest id the schema itself carries — a foreign table
        // whose writer under-maintained the counter must never mint a
        // DUPLICATE id (id-mode readers would bind two columns)
        val confNode0 = metaJson.map(mapper.readTree)
          .flatMap(m => Option(m.get("configuration")))
        val confMax = confNode0
          .flatMap(c => Option(c.get("delta.columnMapping.maxColumnId")))
          .filterNot(_.isNull)
          .flatMap(n => scala.util.Try(n.asText().toLong).toOption)
          .getOrElse(0L)
        def maxIdIn(dt: DataType): Long = dt match {
          case s: StructType => (0L +: s.fields.toSeq.map { f =>
            math.max(
              if (f.metadata.contains("delta.columnMapping.id"))
                f.metadata.getLong("delta.columnMapping.id") else 0L,
              maxIdIn(f.dataType))
          }).max
          case a: org.apache.spark.sql.types.ArrayType => maxIdIn(a.elementType)
          case m: org.apache.spark.sql.types.MapType =>
            math.max(maxIdIn(m.keyType), maxIdIn(m.valueType))
          case _ => 0L
        }
        val base = math.max(confMax, maxIdIn(ls))
        // minting RECURSES: PROTOCOL.md requires EVERY nested field of a
        // mapped schema to carry its own id + physicalName — a minted
        // struct column whose children stay bare would publish a
        // schemaString the owning engine's own mapping checks reject,
        // bricking the table. Ids assign in traversal order (field before
        // its children), the counter shared across the whole mint.
        var cursor = base
        def nextId(): Long = { cursor += 1; cursor }
        def mintMeta(m: org.apache.spark.sql.types.Metadata)
            : org.apache.spark.sql.types.Metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(m)
            .putLong("delta.columnMapping.id", nextId())
            .putString("delta.columnMapping.physicalName",
              s"col-${java.util.UUID.randomUUID()}")
            .build()
        def mintDt(dt: DataType): DataType = dt match {
          case s: StructType => StructType(s.fields.map { nf =>
            val meta = mintMeta(nf.metadata)
            StructField(nf.name, mintDt(nf.dataType), nullable = true, meta)
          })
          case a: org.apache.spark.sql.types.ArrayType =>
            a.copy(elementType = mintDt(a.elementType))
          case m: org.apache.spark.sql.types.MapType =>
            m.copy(keyType = mintDt(m.keyType), valueType = mintDt(m.valueType))
          case other => other
        }
        val minted = fresh.map { f =>
          val meta = mintMeta(f.metadata)
          StructField(f.name, mintDt(f.dataType), nullable = true, meta)
        }
        val evolved = StructType(ls.fields ++ minted)
        val node = mapper.readTree(metaJson.get)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        node.put("schemaString", evolved.json)
        val confNode = Option(node.get("configuration"))
          .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
          .getOrElse(node.putObject("configuration"))
        confNode.put("delta.columnMapping.maxColumnId", cursor.toString)
        node.set[com.fasterxml.jackson.databind.JsonNode]("configuration", confNode)
        (Seq(s"""{"metaData":${node.toString}}"""), evolved)
      }
    }
  }

  /** `df` respelled as the DATA FILES of a mapped table must spell it:
    * physical field names + `parquet.field.id` metadata (stamped into
    * the written footers so id-mode readers bind the new files — the
    * stamping conf is forced, scoped and restored inside
    * [[writeDataFiles]]). Nested renames ride the positional struct
    * cast. `extraCols` pass through UNMAPPED — the CDC `_change_type`
    * column is not a table column and rides change files under its own
    * name, exactly as delta-spark spells it on mapped tables.
    */
  private def toPhysicalDf(df: DataFrame, ls: StructType,
      extraCols: Seq[String] = Seq.empty): DataFrame = {
    val phys = toPhysical(ls, withFieldIds = true).asInstanceOf[StructType]
    df.select(ls.fields.zip(phys.fields).map { case (lf, pf) =>
      col(lf.name).cast(pf.dataType).as(pf.name, pf.metadata)
    }.toIndexedSeq ++ extraCols.map(col): _*)
  }

  /** The (frame, partition columns) as the table's data files must spell
    * them: on a column-mapped table the PHYSICAL layout under
    * `writeSchema` — the table's logical schema, or the EVOLVED one when
    * this commit evolves ([[evolutionFor]] returns it) — with partition
    * directories keyed by physicalName; on a plain table the identity.
    * Every data-file-writing verb routes through this, which is what
    * makes DELETE/MERGE/OPTIMIZE/purge first-class on mapped tables.
    */
  private def toWriteLayout(root: String, df: DataFrame,
      writeSchema: StructType, extraCols: Seq[String] = Seq.empty)
      : (DataFrame, Seq[String]) = {
    val partCols = latestPartitionColumns(root)
    if (columnMappingMode(latestMetaDataJson(root)) == "none") (df, partCols)
    else (toPhysicalDf(df, writeSchema, extraCols),
      partCols.map(c => physicalNameOf(writeSchema(c))))
  }

  /** The latest metaData's partition columns. Driver string work. */
  private[graft] def latestPartitionColumns(root: String): Seq[String] =
    partitionColumnsOf(latestMetaDataJson(root))

  /** Create an EMPTY table: a schema-only commit 0 (protocol + metaData,
    * no data files), so the first data commit lands at version 1 and an
    * empty snapshot still carries the schema every later merge is checked
    * against. Throws ConcurrentModificationException if commit 0 exists.
    */
  def create(root: String, schema: StructType): Long = {
    publish(root, 0L, headerActions(schema))
    0L
  }

  /** Append `df` as the next commit (commit 0 creates the table and
    * carries the protocol/metaData actions; a later commit whose schema
    * differs carries a fresh metaData action — schema evolution).
    * `expectedVersion` is the optimistic-concurrency seam every Delta
    * writer runs: pass the version the work was based on and the commit
    * lands at exactly `expectedVersion + 1` or throws
    * ConcurrentModificationException if another writer got there first;
    * None means "latest right now". Returns the committed version.
    */
  def commitAppend(root: String, df: DataFrame,
      expectedVersion: Option[Long] = None): Long =
    commitAppendPartitioned(root, df, Seq.empty, expectedVersion)

  /** [[commitAppend]] that CREATES a partitioned table when it writes
    * commit 0 (`createPartitionBy` names the layout columns, recorded in
    * the metaData action's partitionColumns exactly as a foreign writer
    * would). On an EXISTING table the layout always comes from the log's
    * own metaData — a mismatched `createPartitionBy` is refused loudly
    * rather than silently splitting the table across two layouts.
    */
  def commitAppendPartitioned(root: String, df: DataFrame,
      createPartitionBy: Seq[String],
      expectedVersion: Option[Long] = None): Long = {
    val next = expectedVersion.getOrElse(currentVersion(root)) + 1
    val dir = attemptDir(next)
    val (header, wls) =
      if (next == 0L) (headerActions(df.schema, createPartitionBy), df.schema)
      else {
        val (h, s) = evolutionFor(root, df)
        (ntzProtocolActions(root, s) ++ h, s)
      }
    val partCols =
      if (next == 0L) createPartitionBy else latestPartitionColumns(root)
    if (next > 0L && createPartitionBy.nonEmpty && createPartitionBy != partCols)
      throw new IllegalArgumentException(
        s"DeltaLog $root: table is partitioned by ${partCols.mkString(",")} — " +
          s"cannot append with layout ${createPartitionBy.mkString(",")}")
    // COLUMN-MAPPED tables: write the PHYSICAL layout — fields renamed to
    // their physicalName with parquet field ids stamped, partition
    // directories (and thus partitionValues keys) physical-named — so the
    // new files interleave with the foreign ones indistinguishably. The
    // write schema is the EVOLVED one when this commit minted new ids.
    val (wdf, wPartCols) =
      if (next == 0L) (df, partCols) else toWriteLayout(root, df, wls)
    val adds = writeDataFiles(root, dir, wdf, wPartCols)
    publish(root, next,
      header ++ adds.map(w =>
        addAction(w.path, w.size, partitionValues = w.partitionValues,
          stats = w.stats)), Some(dir))
    next
  }

  /** The latest committed SetTransaction version for `appId`, or None if
    * the app never committed — the read half of the txn idempotence
    * protocol. Driver-side log replay (checkpoints carry txn rows, so a
    * trimmed history keeps the cursor).
    */
  def txnVersion(spark: SparkSession, root: String, appId: String): Option[Long] =
    if (currentVersion(root) < 0) None
    else replay(spark, root, None).txns.get(appId)

  /** IDEMPOTENT APPEND — the Delta streaming-sink exactly-once protocol
    * (PROTOCOL.md SetTransaction; delta-spark's `txnAppId`/`txnVersion`
    * options): the commit carries a `txn {appId, version}` action, and a
    * re-delivered batch whose version is ≤ the app's recorded cursor is
    * a DETECTED NO-OP (returns the current table version, writes
    * nothing). At-least-once delivery + this check = exactly-once table
    * contents, in the wire format any Delta reader/writer shares
    * ([[mergeInto]]'s `txn` is the keyed-upsert half). The check and the publish
    * race safely: the commit lands via put-if-absent at the version the
    * cursor was read at, so a concurrent writer advancing the log forces
    * ConcurrentModificationException and the retry re-reads the cursor.
    */
  def commitAppendIdempotent(spark: SparkSession, root: String,
      df: DataFrame, appId: String, version: Long): Long = {
    val base = currentVersion(root)
    val already = base >= 0 &&
      replay(spark, root, Some(base)).txns.get(appId).exists(_ >= version)
    if (already) return base
    val next = base + 1
    val dir = attemptDir(next)
    val (header, wls) =
      if (next == 0L) (headerActions(df.schema), df.schema)
      else {
        val (h, s) = evolutionFor(root, df)
        (ntzProtocolActions(root, s) ++ h, s)
      }
    val (wdf, wPartCols) =
      if (next == 0L) (df, Seq.empty[String]) else toWriteLayout(root, df, wls)
    val adds = writeDataFiles(root, dir, wdf, wPartCols)
    publish(root, next,
      header ++
        Seq(s"""{"txn":{"appId":${jstr(appId)},"version":$version,"lastUpdated":0}}""") ++
        adds.map(w => addAction(w.path, w.size,
          partitionValues = w.partitionValues, stats = w.stats)), Some(dir))
    next
  }

  /** Remove `removePaths` (relative) and append `addDf`'s files in ONE
    * commit — the rewrite shape (compaction, copy-on-write update) every
    * Delta writer publishes. Returns the committed version.
    */
  def commitReplace(root: String,
      removePaths: Seq[String], addDf: DataFrame,
      expectedVersion: Option[Long] = None): Long = {
    val base = expectedVersion.getOrElse(currentVersion(root))
    val next = base + 1
    val dir = attemptDir(next)
    // resolve each removed path's LIVE incarnation so the remove carries
    // its deletionVector when one exists — replay's exact-match rule
    // would otherwise keep a DV'd file alive through a dv-less remove
    val liveDv: Map[String, Option[DeletionVectors.Descriptor]] =
      replay(addDf.sparkSession, root, Some(base)).adds
        .map(a => a.path -> a.dv).toMap
    val (header0, wls) = evolutionFor(root, addDf)
    val header = ntzProtocolActions(root, wls) ++ header0
    val (wdf, wPartCols) = toWriteLayout(root, addDf, wls)
    val adds = writeDataFiles(root, dir, wdf, wPartCols)
    publish(root, next,
      header ++
        removePaths.map(p => removeAction(p, dv = liveDv.getOrElse(p, None))) ++
        adds.map(w =>
          addAction(w.path, w.size, partitionValues = w.partitionValues,
            stats = w.stats)), Some(dir))
    next
  }

  /** OPTIMIZE: rewrite the current live file set into `targetFiles`
    * compacted files in ONE commit whose remove AND add actions all carry
    * `dataChange=false` — the protocol's "no logical change" marker, so a
    * streaming reader tailing the log may skip the commit entirely while
    * batch readers see the identical row set in fewer files. Time travel
    * to any pre-optimize version still resolves the old files (removes
    * are tombstones, not deletions). Returns the committed version.
    *
    * Scale shape: the rewrite reads only the live files of one snapshot
    * and is embarrassingly parallel across partition directories in a
    * real deployment; the log cost is one commit regardless of data size.
    */
  def commitOptimize(spark: SparkSession, root: String,
      targetFiles: Int = 1, expectedVersion: Option[Long] = None): Long =
    commitRewriteLayout(spark, root, _.coalesce(targetFiles), expectedVersion)

  /** OPTIMIZE under a caller-supplied LAYOUT: rewrite the live snapshot
    * through `layout` — any pure row-preserving reordering/partitioning,
    * Z-ORDER clustering being the canonical one — in one
    * `dataChange=false` commit. Identical protocol contract to plain
    * [[commitOptimize]] (its `coalesce` IS this verb's trivial layout):
    * streams/CDC skip the commit, time travel keeps the old files,
    * removes carry DV identities so the rewrite doubles as a purge. The
    * rewritten files' stats recompute from their own footers, so the
    * envelopes are exactly as tight as the layout makes them — which is
    * the point: OPTIMIZE ZORDER BY buys every future multi-dimension
    * predicate its file skipping ([[graft.queries.LayoutOps
    * .zorderDelta]] supplies the Morton layout).
    *
    * Scale: the rewrite reads one snapshot's live files once and writes
    * them once; a range layout adds one sampling pass + one exchange —
    * the price is paid at maintenance cadence, the skipping is collected
    * on every read after.
    */
  def commitRewriteLayout(spark: SparkSession, root: String,
      layout: DataFrame => DataFrame,
      expectedVersion: Option[Long] = None): Long = {
    val base = expectedVersion.getOrElse(currentVersion(root))
    require(base >= 0, s"no Delta log at $root to optimize")
    val liveAdds = replay(spark, root, Some(base)).adds
    require(liveAdds.nonEmpty, s"nothing to optimize at $root@$base")
    val next = base + 1
    val dir = attemptDir(next)
    // on a partitioned table the rewrite re-partitions by the table
    // layout (the supplied layout applies within it); partition values
    // re-derive from the directory segments exactly like an append's. On
    // a DV'd table `read` already yields only SURVIVING rows, and each
    // remove carries its incarnation's deletionVector so replay's
    // exact-match rule retires it — OPTIMIZE doubles as a DV purge. On a
    // column-mapped table the read is logical and the write re-spells the
    // physical layout (toWriteLayout), so OPTIMIZE is mapping-preserving.
    val (wdf, wPartCols) = toWriteLayout(root,
      layout(read(spark, root, Some(base))), latestSchema(root))
    val adds = writeDataFiles(root, dir, wdf, wPartCols)
    publish(root, next,
      liveAdds.map(a => removeAction(a.path, dataChange = false, dv = a.dv)) ++
        adds.map(w => addAction(w.path, w.size, dataChange = false,
          partitionValues = w.partitionValues, stats = w.stats)), Some(dir))
    next
  }

  /** The protocol action a DV-writing commit must carry when the table
    * does not already declare the feature: PROTOCOL.md requires
    * minReaderVersion=3 + readerFeatures∋deletionVectors and
    * minWriterVersion=7 + writerFeatures∋deletionVectors before any add
    * may reference a deletionVector ([[featureProtocolUpgrade]] — lists
    * merged, legacy-implied features folded in, never replaced; empty
    * when already declared).
    */
  private def dvProtocolActions(root: String): Seq[String] =
    featureProtocolUpgrade(root, "deletionVectors", readerGated = true)

  /** Row-level DELETE via deletion vectors — rows where `pred` is TRUE
    * (null-safe: a NULL predicate keeps the row, SQL DELETE semantics)
    * are invalidated by (re)writing each hit file's DV. No data file is
    * read-modified-rewritten: a 100-row delete against a 1 GB file costs
    * a few KB of bitmap plus one commit — at 100 TB the difference
    * between row deletes being routine and being a table rewrite.
    * Published exactly as delta-spark's DELETE: per hit file one remove
    * carrying the OLD dv identity and one add of the SAME
    * path/size/stats with the new DV (old deleted positions ∪ new hits —
    * a file's descriptor names its COMPLETE deleted set), plus the
    * protocol upgrade declaring the feature on first use. Returns
    * (committedVersion, rowsDeleted); zero hits publishes nothing and
    * returns (base, 0).
    *
    * Scale shape: the hit scan is predicate-pushed parquet over live
    * files only; bitmaps are built and written ON EXECUTORS (rows
    * clustered per file, one streamed pass — a file's positions never
    * transit the driver); driver state is one descriptor row per HIT
    * FILE, the same order as any commit's add list. Small DVs inline
    * into the log itself ("i" storage); large ones become UUID-named
    * sidecar files ("u").
    */
  def deleteWhere(spark: SparkSession, root: String, pred: Column,
      expectedVersion: Option[Long] = None): (Long, Long) = {
    import spark.implicits._
    val base = expectedVersion.getOrElse(currentVersion(root))
    require(base >= 0, s"no Delta log at $root to delete from")
    val snap = replay(spark, root, Some(base))
    if (snap.adds.isEmpty) return (base, 0L)
    val byPath: Map[String, AddFile] = snap.adds.map(a => a.path -> a).toMap
    val dvAdds = snap.adds.filter(_.dv.exists(_.cardinality > 0))
    val existing =
      if (dvAdds.isEmpty)
        spark.emptyDataset[(String, Long)].toDF("__dv_file", "__dv_pos")
      else dvDeletedPositions(spark, root, dvAdds)
    // hits = live rows matching pred: scan WITH row index, drop rows the
    // current DVs already deleted (their re-matching must not count as
    // new deletions or force a no-op DV rewrite). With the change data
    // feed on, the hit rows are consumed twice (bitmap pass + change
    // files), so they persist — hit-sized, never table-sized.
    val cdf = cdfEnabled(root)
    val hitScan = scanAdds(spark, root, snap.adds, snap.schemaJson,
        snap.metaDataJson, withPos = true)
      .filter(pred <=> lit(true))
    val hitRows0 =
      (if (cdf) hitScan
       else hitScan.select(col("__dv_file"), col("__dv_pos")))
        .join(existing, Seq("__dv_file", "__dv_pos"), "left_anti")
    val hitRows = if (cdf) hitRows0.persist() else hitRows0
    try {
      val descRows = dvRewriteRows(spark, root,
        hitRows.select(col("__dv_file"), col("__dv_pos")), existing)
      if (descRows.isEmpty) return (base, 0L)
      val rowsDeleted = descRows.map(_._7).sum
      val next = base + 1
      val dir = attemptDir(next)
      val cdcActions =
        if (!cdf) Seq.empty[String]
        else {
          // change files spell the same layout as data files — physical
          // names on a mapped table, `_change_type` riding through as-is
          val (cdcDf, cdcPart) = toWriteLayout(root,
            hitRows.drop("__dv_file", "__dv_pos")
              .withColumn("_change_type", lit("delete")),
            latestSchema(root), extraCols = Seq("_change_type"))
          writeDataFiles(root, s"_change_data/$dir", cdcDf, cdcPart)
            .map(w => cdcAction(w.path, w.size, w.partitionValues))
        }
      publish(root, next,
        dvProtocolActions(root) ++ dvPairActions(byPath, descRows) ++ cdcActions, Some(dir))
      (next, rowsDeleted)
    } finally { if (cdf) { hitRows.unpersist(); () } }
  }

  /** Per hit file, the NEW deletion-vector descriptor covering `hits` ∪
    * `existing` — one streamed pass on executors: positions arrive
    * clustered and sorted per file, each flush serializes one bitmap
    * (task memory bounds at one file's deleted-row set, never the
    * operation's total). Returns one driver row per file with ≥1 NEW
    * hit: (relPath, storageType, pathOrInlineDv, offset|-1, sizeInBytes,
    * cardinality, newHitCount) — commit-sized, never data-sized.
    */
  private def dvRewriteRows(spark: SparkSession, root: String,
      hits: DataFrame, existing: DataFrame)
      : Array[(String, String, String, Long, Int, Long, Long)] = {
    import spark.implicits._
    hits.withColumn("__new", lit(true))
      .union(existing.withColumn("__new", lit(false)))
      .repartition(col("__dv_file"))
      .sortWithinPartitions("__dv_file", "__dv_pos")
      .as[(String, Long, Boolean)]
      .mapPartitions { it =>
        val out = Seq.newBuilder[(String, String, String, Long, Int, Long, Long)]
        var cur: String = null
        var pos = Array.newBuilder[Long]
        var newCnt = 0L
        def flush(): Unit = if (cur != null && newCnt > 0) {
          val ps = pos.result()
          val d =
            if (ps.length <= 128) DeletionVectors.inlineDescriptor(ps)
            else DeletionVectors.writeDvFile(root, ps)
          out += ((cur, d.storageType, d.pathOrInlineDv,
            d.offset.map(_.toLong).getOrElse(-1L), d.sizeInBytes,
            d.cardinality, newCnt))
        }
        it.foreach { case (f, p, isNew) =>
          if (f != cur) { flush(); cur = f; pos = Array.newBuilder[Long]; newCnt = 0L }
          pos += p
          if (isNew) newCnt += 1
        }
        flush()
        out.result().iterator
      }.collect()
  }

  /** The remove+add action pair per DV-rewritten file: the remove names
    * the OLD incarnation's dv identity (replay's exact-match rule), the
    * add re-publishes the SAME path/size/stats under the new descriptor.
    */
  private def dvPairActions(byPath: Map[String, AddFile],
      descRows: Array[(String, String, String, Long, Int, Long, Long)])
      : Seq[String] =
    descRows.toSeq.flatMap { case (name, st, p, off, sz, card, _) =>
      val a = byPath(name)
      val d = DeletionVectors.Descriptor(st, p,
        if (off < 0L) None else Some(off.toInt), sz, card)
      Seq(removeAction(a.path, dv = a.dv),
        addAction(a.path, a.size, partitionValues = a.partitionValues,
          stats = a.stats, dv = Some(d)))
    }

  /** PURGE deletion vectors (delta-spark's `REORG TABLE … APPLY (PURGE)`):
    * rewrite ONLY the DV'd files' SURVIVING rows into fresh plain files in
    * one `dataChange=false` commit. Unlike [[commitOptimize]] this never
    * touches un-DV'd files — I/O is proportional to the DV'd subset, the
    * small-file-aware-compaction doctrine applied to row-level deletes.
    * After the purge the snapshot carries no DVs, so incremental/stream
    * consumers refused by the DV gate can resume from it. Returns the
    * committed version (= base when there is nothing to purge).
    */
  def purgeDeletionVectors(spark: SparkSession, root: String,
      expectedVersion: Option[Long] = None): Long = {
    val base = expectedVersion.getOrElse(currentVersion(root))
    require(base >= 0, s"no Delta log at $root to purge")
    val snap = replay(spark, root, Some(base))
    val dvAdds = snap.adds.filter(_.dv.exists(_.cardinality > 0))
    if (dvAdds.isEmpty) return base
    val next = base + 1
    val dir = attemptDir(next)
    val survivors = readAdds(spark, root, dvAdds, snap.schemaJson, snap.metaDataJson)
    val (wdf, wPartCols) = toWriteLayout(root, survivors, latestSchema(root))
    val adds = writeDataFiles(root, dir, wdf, wPartCols)
    publish(root, next,
      dvAdds.map(a => removeAction(a.path, dataChange = false, dv = a.dv)) ++
        adds.map(w => addAction(w.path, w.size, dataChange = false,
          partitionValues = w.partitionValues, stats = w.stats)), Some(dir))
    next
  }

  /** MERGE INTO (upsert): `WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` — target rows whose `keyCols` match a source
    * row are REPLACED by it, source rows matching nothing are INSERTED,
    * unmatched target rows are untouched. One commit: the matched target
    * rows retract via deletion vectors (their files are NOT rewritten —
    * the [[deleteWhere]] machinery fed by a key semi-join instead of a
    * predicate) and the whole source lands as fresh data files. This is
    * the lakehouse's most-used write verb, and the DV basis is what
    * makes it affordable: a 1000-row upsert against a 100 TB target
    * costs the hit scan + KB of bitmaps + source-sized writes, never a
    * hit-file rewrite. Duplicate merge keys in the SOURCE refuse (the
    * same ambiguity delta-spark rejects: which copy should win is
    * undefined); duplicate keys in the TARGET are all retracted and
    * replaced by the one source row. Returns (committedVersion,
    * matchedTargetRows, insertedSourceRows); an empty source publishes
    * nothing and returns (base, 0, 0).
    *
    * With `ops` the source is a CDC CHANGE BATCH: key + payload columns
    * plus `op` ∈ {upsert, delete}. `delete` wins over `upsert` for one
    * key within the batch (one row per key survives, so duplicate keys
    * are resolved, not refused); every batch key's target rows retract
    * and only the upsert rows land, so deleting an absent key is a no-op.
    * The payload columns must be exactly the table's (an empty table's
    * come from its [[create]] commit): a drifting batch is refused, never
    * evolved into the schema by a merge. A change batch is applied
    * COPY-ON-WRITE instead of by deletion vectors: only the files that
    * hold a batch key are rewritten (their other rows plus the upserts),
    * every other file carries over by reference. Change tables are read
    * — time travel, [[diff]] — far more often than written, so their
    * snapshots stay plain scans, and a deleted row's bytes leave every
    * live file, which is what lets [[vacuum]] physically erase them.
    *
    * With `txn = Some((appId, batchId))` the commit carries a `txn`
    * action, and a batch whose id is at or below the app's recorded one
    * is a detected no-op returning (base, 0, 0) — the
    * [[commitAppendIdempotent]] protocol for exactly-once keyed upsert
    * sinks, check and upsert landing in the same atomic commit.
    *
    * Scale shape: one live-row scan of the target (predicate/column
    * pruning apply; the key join is AQE-planned), bitmaps built on
    * executors, driver state one descriptor per hit file. The matched
    * frame is persisted (matched-sized, not target-sized) because both
    * the bitmap pass and the insert count consume it. A copy-on-write
    * batch scans the target's keys once to find the hit files and then
    * reads and rewrites only those.
    */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String],
      expectedVersion: Option[Long] = None,
      ops: Boolean = false,
      txn: Option[(String, Long)] = None): (Long, Long, Long) = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    val missing = keyCols.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"merge source lacks key columns: ${missing.mkString(", ")}")
    val base = expectedVersion.getOrElse(currentVersion(root))
    require(base >= 0, s"no Delta log at $root to merge into")
    val replayed = txn.exists { case (app, id) =>
      replay(spark, root, Some(base)).txns.get(app).exists(_ >= id)
    }
    if (replayed) return (base, 0L, 0L)
    val changes = if (ops) resolveOps(root, source, keyCols) else source
    // the source is consumed by the count, the duplicate-key check, two
    // key joins, the data-file write, and the CDC write — persist it so
    // a nondeterministic source cannot make those views of it mutually
    // inconsistent (delta-spark materializes the merge source for the
    // same reason)
    changes.persist()
    try { mergeIntoPersisted(spark, root, changes, keyCols, base, ops, txn) }
    finally { changes.unpersist(); () }
  }

  /** An `ops` change batch checked against the table's columns (names
    * and types) and reduced to one row per key, a delete winning over an
    * upsert; columns come back in table order, then `op`.
    */
  private def resolveOps(root: String, source: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(source.columns.contains("op"),
      "an ops merge source needs an `op` column (upsert | delete)")
    def typed(fs: Seq[StructField]) = fs.map(f => s"${f.name}: ${f.dataType.sql}").sorted
    val table = latestSchema(root).fields.toSeq
    val batch = source.schema.fields.toSeq.filterNot(_.name == "op")
    require(typed(batch) == typed(table),
      s"DeltaLog $root: change batch columns ${typed(batch).mkString("[", ", ", "]")} " +
        s"do not match table columns ${typed(table).mkString("[", ", ", "]")}; " +
        "schema evolution requires an explicit rewrite, not a merge")
    val tableCols = table.map(_.name)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(when(col("op") === "delete", 0).otherwise(1))
    source.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select((tableCols :+ "op").map(col): _*)
  }

  private def mergeIntoPersisted(spark: SparkSession, root: String,
      changes: DataFrame, keyCols: Seq[String], base: Long, ops: Boolean,
      txn: Option[(String, Long)]): (Long, Long, Long) = {
    import spark.implicits._
    val changeCount = changes.count()
    if (changeCount == 0L) return (base, 0L, 0L)
    if (!ops) {
      val dupKeys = changes.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
      require(dupKeys == 0L,
        s"merge source has duplicate keys on (${keyCols.mkString(", ")}) — " +
          "which copy should win is undefined; de-duplicate the source first")
    }
    // the rows that land; with ops the deletes only retract
    val source =
      if (ops) changes.filter(col("op") === "upsert").drop("op") else changes
    val txnActions = txn.toSeq.map { case (app, id) =>
      s"""{"txn":{"appId":${jstr(app)},"version":$id,"lastUpdated":0}}"""
    }
    val snap = replay(spark, root, Some(base))
    val next = base + 1
    val dir = attemptDir(next)
    // evolution + mapped layout resolve ONCE: the source lands under the
    // evolved logical schema, physically spelled on mapped tables; an ops
    // batch was checked against the table schema and never evolves it
    val (evoActions, wls) =
      if (ops) (Seq.empty[String], latestSchema(root)) else evolutionFor(root, source)
    def writeAdds(df: DataFrame): Seq[String] = {
      val (w, partCols) = toWriteLayout(root, df, wls)
      writeDataFiles(root, dir, w, partCols).map(f => addAction(f.path, f.size,
        partitionValues = f.partitionValues, stats = f.stats))
    }
    if (snap.adds.isEmpty) {
      publish(root, next, evoActions ++ txnActions ++ writeAdds(source), Some(dir))
      return (next, 0L, if (ops) source.count() else changeCount)
    }
    val srcKeys = changes.select(keyCols.map(col): _*)
    // the change-data files of this merge, from the retracted target rows
    // (every column): a retracted row whose key only had a delete leaves
    // for good, the rest are update pre-images
    def cdcActions(retracted: DataFrame, retractedKeys: DataFrame): Seq[String] = {
      val ct = "_change_type"
      val preTyped =
        if (!ops) retracted.withColumn(ct, lit("update_preimage"))
        else retracted.join(source.select(keyCols.map(col): _*)
            .withColumn("__up", lit(true)), keyCols, "left")
          .withColumn(ct, when(col("__up"), lit("update_preimage"))
            .otherwise(lit("delete")))
          .drop("__up")
      // allowMissingColumns: a schema-evolving merge's preimage rows
      // carry the PRE-evolution fields — they null-fill the new ones
      val changeDf = preTyped
        .unionByName(source.join(retractedKeys, keyCols, "left_semi")
          .withColumn(ct, lit("update_postimage")),
          allowMissingColumns = true)
        .unionByName(source.join(retractedKeys, keyCols, "left_anti")
          .withColumn(ct, lit("insert")),
          allowMissingColumns = true)
      val (cdcDf, cdcPart) = toWriteLayout(root, changeDf, wls,
        extraCols = Seq(ct))
      writeDataFiles(root, s"_change_data/$dir", cdcDf, cdcPart)
        .map(w => cdcAction(w.path, w.size, w.partitionValues))
    }
    val cdf = cdfEnabled(root)
    if (ops) {
      // COPY-ON-WRITE, pruned to the files holding a batch key: each hit
      // file's surviving rows minus the batch keys are rewritten together
      // with the upserts, every other file carries over by reference. No
      // deletion vector is written, so readers of the new version scan
      // plain files, and a retracted row's bytes leave the live set (what
      // lets vacuum physically erase it)
      val live = readAdds(spark, root, snap.adds, snap.schemaJson,
        snap.metaDataJson, keepFile = true)
      val hits = live.join(srcKeys, keyCols, "left_semi")
        .groupBy(col("__dv_file")).count().as[(String, Long)].collect().toMap
      val hitAdds = snap.adds.filter(a => hits.contains(a.path))
      val hitRows = readAdds(spark, root, hitAdds, snap.schemaJson, snap.metaDataJson)
      val retracted = hitRows.join(srcKeys, keyCols, "left_semi")
      val inserted = source
        .join(retracted.select(keyCols.map(col): _*), keyCols, "left_anti").count()
      val adds = writeAdds(hitRows.join(srcKeys, keyCols, "left_anti").unionByName(source))
      publish(root, next,
        txnActions ++
          hitAdds.map(a => removeAction(a.path, dv = a.dv)) ++
          adds ++
          (if (cdf) cdcActions(retracted, retracted.select(keyCols.map(col): _*).distinct())
           else Seq.empty), Some(dir))
      return (next, hits.values.sum, inserted)
    }
    val byPath: Map[String, AddFile] = snap.adds.map(a => a.path -> a).toMap
    val dvAdds = snap.adds.filter(_.dv.exists(_.cardinality > 0))
    val existing =
      if (dvAdds.isEmpty)
        spark.emptyDataset[(String, Long)].toDF("__dv_file", "__dv_pos")
      else dvDeletedPositions(spark, root, dvAdds)
    // with the change data feed on the matched rows are also the
    // update_preimage, so the scan keeps every column; otherwise it
    // prunes to keys + position
    val matched = scanAdds(spark, root, snap.adds, snap.schemaJson,
        snap.metaDataJson, withPos = true)
      .join(existing, Seq("__dv_file", "__dv_pos"), "left_anti")
      .join(srcKeys, keyCols, "left_semi")
      .select((if (cdf) Seq(col("*"))
        else keyCols.map(col) ++ Seq(col("__dv_file"), col("__dv_pos"))): _*)
      .persist()
    try {
      val matchedKeysDf = matched.select(keyCols.map(col): _*).distinct()
      val matchedKeyCount = matchedKeysDf.count()
      val descRows = dvRewriteRows(spark, root,
        matched.select(col("__dv_file"), col("__dv_pos")), existing)
      val matchedRows = descRows.map(_._7).sum
      val adds = writeAdds(source)
      publish(root, next,
        evoActions ++ txnActions ++
          (if (descRows.isEmpty) Seq.empty else dvProtocolActions(root)) ++
          dvPairActions(byPath, descRows) ++
          adds ++
          (if (cdf) cdcActions(matched.drop("__dv_file", "__dv_pos"), matchedKeysDf)
           else Seq.empty), Some(dir))
      (next, matchedRows, changeCount - matchedKeyCount)
    } finally { matched.unpersist(); () }
  }

  /** KEYED NET DIFF between snapshots `fromVersion` and `toVersion`: one
    * row per key whose row differs, typed `change_type` ∈ {insert,
    * update, delete}, carrying the `toVersion` payload (the `fromVersion`
    * one for deletes) plus `old_<col>` pre-image columns (NULL for
    * inserts) — what an incremental consumer needs to retract the old
    * contribution. Unlike [[readChangeFeed]] it needs no change data feed
    * and nets out every commit in between. A file live in BOTH snapshots
    * under the same deletion vector holds the same rows on both sides,
    * so (keys being unique per snapshot) it cannot carry a difference and
    * is never read: the cost follows the files the commits in between
    * touched, not the table. Version 0 of a [[create]]d table is empty,
    * so a diff from 0 reports every live row as an insert. Both sides
    * read under the `toVersion` schema.
    */
  def diff(spark: SparkSession, root: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && fromVersion < toVersion &&
      toVersion <= currentVersion(root),
      s"need 0 <= from < to <= ${currentVersion(root)}, got ($fromVersion, $toVersion)")
    val (a, b) = (replay(spark, root, Some(fromVersion)),
      replay(spark, root, Some(toVersion)))
    def ident(f: AddFile) = (f.path, f.dv)
    val shared = a.adds.map(ident).toSet.intersect(b.adds.map(ident).toSet)
    val payload = DataType.fromJson(b.schemaJson.get).asInstanceOf[StructType]
      .fieldNames.toSeq.filterNot(keyCols.contains)
    def side(s: Snapshot, tag: String): DataFrame =
      readAdds(spark, root, s.adds.filterNot(f => shared(ident(f))),
        b.schemaJson, b.metaDataJson)
        .select(keyCols.map(col) ++ Seq(lit(true).as(s"__in_$tag")) ++
          payload.map(c => col(c).as(s"__${tag}_$c")): _*)
    val (o, n) = (side(a, "o"), side(b, "n"))
    val oldStruct = struct(payload.map(c => col(s"__o_$c")): _*)
    val newStruct = struct(payload.map(c => col(s"__n_$c")): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__in_o").isNull, "insert")
          .when(col("__in_n").isNull, "delete")
          .when(!(oldStruct <=> newStruct), "update"))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("change_type")) ++
        payload.map { c =>
          when(col("change_type") === "delete", col(s"__o_$c"))
            .otherwise(col(s"__n_$c")).as(c)
        } ++ payload.map(c => col(s"__o_$c").as(s"old_$c")): _*)
  }

  /** ONE commit's change classification — the single place the feed's
    * derivation rules live; [[readChangeFeed]] (and through it the
    * streamed feed) is its only consumer. `cdc` non-empty short-circuits
    * everything else — a commit's change files are its complete,
    * authoritative description.
    * `dvRewrites` pairs each {remove(P, oldDv), add(P, newDv)} as
    * (the add carrying the NEW descriptor, the OLD descriptor): the
    * commit's retraction is exactly the positions newDv \ oldDv.
    * `freshAdds` keep their own DV (inserts announce only surviving
    * rows). `fullRemovePaths` excludes ONLY the rewrite paths: a remove
    * whose path is re-added WITHOUT a new DV (a same-path overwrite,
    * pathological but legal) still deletes its prior incarnation in full.
    */
  private final case class FeedCommitChanges(
      cdc: Seq[AddFile],
      dvRewrites: Seq[(AddFile, Option[DeletionVectors.Descriptor])],
      freshAdds: Seq[AddFile],
      fullRemovePaths: Set[String])

  private def classifyFeedCommit(
      lines: Seq[com.fasterxml.jackson.databind.JsonNode]): FeedCommitChanges = {
    def changed(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
      !node.has("dataChange") || node.get("dataChange").asBoolean(true)
    val cdc = lines.filter(_.has("cdc")).map { n =>
      val c = n.get("cdc")
      AddFile(c.get("path").asText(),
        Option(c.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
        jsonPartitionValues(c))
    }
    if (cdc.nonEmpty) return FeedCommitChanges(cdc, Seq.empty, Seq.empty, Set.empty)
    val adds = lines.collect {
      case n if n.has("add") && changed(n.get("add")) => jsonAddFile(n.get("add"))
    }
    val removeDvByPath: Map[String, Option[DeletionVectors.Descriptor]] =
      lines.collect {
        case n if n.has("remove") && changed(n.get("remove")) =>
          val rm = n.get("remove")
          rm.get("path").asText() -> jsonDv(rm)
      }.toMap
    val (dvRewrites, freshAdds) = adds.partition(a =>
      a.dv.exists(_.cardinality > 0) && removeDvByPath.contains(a.path))
    FeedCommitChanges(
      Seq.empty,
      dvRewrites.map(a =>
        (a, removeDvByPath(a.path).filter(_.cardinality > 0))),
      freshAdds,
      removeDvByPath.keySet -- dvRewrites.map(_.path).toSet)
  }

  /** THE CHANGE DATA FEED (delta-spark's `readChangeFeed`): every
    * row-level change committed in versions (fromVersion, toVersion],
    * typed `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage, plus `_commit_version`. A commit carrying `cdc`
    * actions is read from its change files ONLY — the writer's complete,
    * authoritative change description ([[deleteWhere]]/[[mergeInto]]
    * publish them when `delta.enableChangeDataFeed` is set). A commit
    * without cdc actions DERIVES: `dataChange=true` adds are inserts of
    * their SURVIVING rows; `dataChange=true` removes with no same-commit
    * re-add are full-file deletes, read from the removed incarnation at
    * the PRIOR version with its deletion vector honored (already-deleted
    * rows do not re-announce); a {remove(P, oldDv), add(P, newDv)} DV
    * REWRITE pair — a cdc-less [[deleteWhere]]/[[mergeInto]] commit, or
    * a foreign writer's — derives its deletes as exactly the rows at
    * positions newDv \ oldDv, decoded on executors.
    * `dataChange=false` commits (OPTIMIZE, purge) contribute nothing. This is the consumer the
    * adds-only CDC read cannot serve: downstream state that must track
    * updates and deletes (materialized views, sync targets, erasure
    * propagation) without rescanning the table.
    *
    * PLAN SHAPE — O(1) scans whatever the version count: the per-version
    * classification is driver-side JSON work, but the FRAMES group across
    * the whole range — one scan over every cdc change file + a broadcast
    * file→version decoration joined on the scanned file identity (the
    * [[scanAdds]] partitioned-read idiom), one grouped read for fresh
    * adds, one grouped read for derived full-file removes (their prior
    * incarnations resolved by the PRUNED [[replayForPaths]], never a full
    * snapshot), and ONE scan of the distinct DV-rewritten paths joined to
    * a version-tagged {newDv \ oldDv} positions frame (a DV rewrite
    * re-adds the SAME physical file, so its data scan is
    * version-independent — the version rides in on the positions join).
    * A consumer catching up over thousands of commits used to plan a
    * thousands-child union of separate scans (driver planning blowup,
    * codegen splits, no shared scan); now it plans ≤4 grouped frames.
    * The one escape hatch: a path touched the SAME WAY in several
    * versions of the range (re-added after a full remove, cdc path
    * reuse) makes the file→version decoration non-functional for that
    * path, so exactly those paths fall back to per-version frames —
    * pathological layouts stay correct, common histories stay O(1).
    *
    * Scale: per-version work is changes-sized (change files or the
    * commit's own adds/removes), never snapshot-sized; the only replay
    * is at a derived remove, pruned to the removed paths.
    */
  def readChangeFeed(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val log = listLog(root)
    val cur = log.latest
    require(fromVersion >= -1 && fromVersion <= toVersion && toVersion <= cur,
      s"feed range ($fromVersion, $toVersion] out of [0, $cur]")
    val meta = snapshotAt(root, log, cur, None)
    validateReadable(root, meta.protocolJson, meta.metaDataJson)
    val schemaJson = meta.schemaJson
    val metaJson = meta.metaDataJson
    val feedSchema = StructType(
      schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType].fields)
        .getOrElse(Array.empty[StructField]).toIndexedSeq :+
        StructField("_change_type", StringType))
    val feedSchemaJson = Some(feedSchema.json)
    // ---- classification: driver-side, changes-sized ----
    val classified = ((fromVersion + 1) to toVersion).map { v =>
      v -> classifyFeedCommit(
        readCommitLinesOrRefuse(root, v).map(mapper.readTree))
    }
    val cdcAll = classified.flatMap { case (v, fc) => fc.cdc.map(v -> _) }
    val freshAll = classified.flatMap { case (v, fc) => fc.freshAdds.map(v -> _) }
    val rewriteAll = classified.flatMap { case (v, fc) =>
      fc.dvRewrites.map { case (a, o) => (v, a, o) }
    }
    val removeAll = classified.flatMap { case (v, fc) =>
      replayForPaths(spark, root, v - 1, fc.fullRemovePaths).map(v -> _)
    }
    // ---- grouped frames ----
    def versionFrame(entries: Seq[(Long, AddFile)]): DataFrame =
      broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(entries.map { case (v, a) =>
          Row(a.path, v)
        }.toIndexedSeq, 1),
        StructType(Seq(
          StructField("__dv_file", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false)))))
    def grouped(entries: Seq[(Long, AddFile)],
        scan: Seq[AddFile] => DataFrame,
        changeType: Option[String]): Seq[DataFrame] = {
      if (entries.isEmpty) return Seq.empty
      def typed(df: DataFrame): DataFrame =
        changeType.fold(df)(ct => df.withColumn("_change_type", lit(ct)))
      val dup = entries.groupBy(_._2.path).filter(_._2.size > 1).keySet
      val (coll, uniq) = entries.partition(e => dup(e._2.path))
      val uniqDf =
        if (uniq.isEmpty) Seq.empty
        else Seq(typed(scan(uniq.map(_._2))
          .join(versionFrame(uniq), Seq("__dv_file"))
          .drop("__dv_file")))
      // per-version fallback for same-path-several-versions collisions
      val collDf = coll.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, es) =>
        typed(scan(es.map(_._2)).drop("__dv_file")
          .withColumn("_commit_version", lit(v)))
      }
      uniqDf ++ collDf
    }
    val cdcDf = grouped(cdcAll,
      adds => scanAdds(spark, root, adds, feedSchemaJson, metaJson,
        withPos = false, withFile = true),
      changeType = None)
    // readAdds (not a bare scan): a fresh file CARRYING a deletion vector
    // announces only its surviving rows
    val insDf = grouped(freshAll,
      adds => readAdds(spark, root, adds, schemaJson, metaJson,
        keepFile = true),
      changeType = Some("insert"))
    val remDf = grouped(removeAll,
      adds => readAdds(spark, root, adds, schemaJson, metaJson,
        keepFile = true),
      changeType = Some("delete"))
    val dvDf =
      if (rewriteAll.isEmpty) Seq.empty
      else {
        val newPos = dvDeletedPositionsTagged(spark, root,
          rewriteAll.map { case (v, a, _) => (v, a) })
        val olds = rewriteAll.flatMap { case (v, a, oldDv) =>
          oldDv.map(d => (v, a.copy(dv = Some(d))))
        }
        val diff =
          if (olds.isEmpty) newPos
          else newPos.join(dvDeletedPositionsTagged(spark, root, olds),
            Seq("__dv_v", "__dv_file", "__dv_pos"), "left_anti")
        val distinctAdds = rewriteAll.map(_._2)
          .groupBy(_.path).toSeq.sortBy(_._1)
          .map(_._2.head.copy(dv = None))
        val scan = scanAdds(spark, root, distinctAdds,
          schemaJson, metaJson, withPos = true)
        Seq(scan.join(diff, Seq("__dv_file", "__dv_pos"))
          .drop("__dv_file", "__dv_pos")
          .withColumnRenamed("__dv_v", "_commit_version")
          .withColumn("_change_type", lit("delete")))
      }
    val frames = cdcDf ++ insDf ++ dvDf ++ remDf
    if (frames.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(feedSchema.fields.toIndexedSeq :+
          StructField("_commit_version", LongType)))
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `dataChange=true` adds in (fromVersion, toVersion], with their
    * partitionValues — the file inventory behind [[changesSince]].
    * With `skipChangeCommits` (delta-spark's own stream option) a commit
    * that RETRACTS rows — any `dataChange=true` remove, or any add
    * carrying a deletion vector — contributes NOTHING instead of
    * refusing: the consumer has declared it only wants appends and
    * accepts missing the rewritten rows. Without it EVERY retracting
    * commit refuses loudly — a DV add and a dataChange=true remove alike
    * (an adds-only read cannot express the retraction; delivering a
    * rewrite commit's adds would double-deliver its rows, and dropping
    * a pure remove would miss a DELETE).
    */
  private[sources] def changedFileAdds(root: String,
      fromVersion: Long, toVersion: Long,
      skipChangeCommits: Boolean = false): Seq[AddFile] =
    (math.max(fromVersion + 1, 0L) to toVersion).flatMap { v =>
      // a commit trimmed by log retention (pre-checkpoint JSON on a
      // foreign table) reads as empty, not as an error: its adds are
      // compacted into the checkpoint a caller consuming history from
      // before the horizon must start from anyway
      val lines = readLinesIfExists(commitPath(root, v))
        .filter(_.nonEmpty).map(mapper.readTree)
      def changed(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
        !node.has("dataChange") || node.get("dataChange").asBoolean(true)
      val adds = lines.collect {
        case n if n.has("add") && changed(n.get("add")) => n.get("add")
      }
      val hasRemove =
        lines.exists(n => n.has("remove") && changed(n.get("remove")))
      val retracts =
        adds.exists(a => jsonDv(a).exists(_.cardinality > 0)) || hasRemove
      if (skipChangeCommits && retracts) Seq.empty
      else if (hasRemove)
        // a dataChange=true REMOVE retracts rows an incremental consumer
        // may have already delivered: silently dropping it would MISS a
        // full-file DELETE, and delivering the commit's adds would
        // DOUBLE-DELIVER a remove+re-add rewrite's rows — both silent
        // corruption. Refuse by default (delta-spark's own stream
        // contract); skipChangeCommits is the explicit appends-only
        // opt-in, readChangeFeed the consumer that serves the retraction.
        throw new UnsupportedOperationException(
          s"DeltaLog $root: commit $v removes data (dataChange=true) — " +
            "an adds-only incremental read cannot express the " +
            "retraction; consume the change feed (readChangeFeed, which " +
            "derives the deleted rows) or opt into skipChangeCommits to " +
            "drop retracting commits entirely")
      else adds.map { a =>
        // a DV add row-level-invalidates a file an incremental
        // consumer may have ALREADY DELIVERED — appends cannot
        // express that, so refuse loudly instead of resurrecting
        // deleted rows downstream (snapshot reads handle DVs fine)
        if (jsonDv(a).exists(_.cardinality > 0))
          throw new UnsupportedOperationException(
            s"DeltaLog $root: commit $v adds ${a.get("path").asText()} " +
              "with a deletion vector — an adds-only incremental read " +
              "cannot express the retraction; consume the change feed " +
              "(readChangeFeed, which derives the deleted rows) or opt " +
              "into skipChangeCommits to drop retracting commits entirely")
        jsonAddFile(a)
      }
    }

  /** Rows ADDED by `dataChange=true` commits in versions (fromVersion,
    * toVersion] — the incremental (CDC-read) consumption path of the log.
    * `dataChange=false` commits (OPTIMIZE rewrites) are SKIPPED ENTIRELY:
    * their adds re-house rows an incremental consumer already ingested,
    * so a reader that processed them would double-count every row — the
    * executable meaning of the protocol flag [[commitOptimize]] writes.
    * A commit that retracts rows refuses, or with `skipChangeCommits`
    * contributes nothing ([[changedFileAdds]]); [[readChangeFeed]] is the
    * read that serves retractions. Returns an empty typed frame when no
    * qualifying commit exists.
    *
    * Scale: reads only the files the qualifying commits added — work is
    * changes-sized, never snapshot-sized, which is what makes a log-
    * tailing consumer viable against a 100 TB table.
    */
  def changesSince(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Option[Long] = None,
      skipChangeCommits: Boolean = false): DataFrame = {
    val log = listLog(root)
    val hi = versionIn(root, log, toVersion)
    // the range's files may straddle a schema evolution — read under the
    // upper version's metaData schema so early files null-fill; mapped /
    // partitioned tables decode exactly like the snapshot read. The
    // metadata-only snapshot keeps the call changes-sized.
    val meta = snapshotAt(root, log, hi, None)
    validateReadable(root, meta.protocolJson, meta.metaDataJson)
    readAdds(spark, root, changedFileAdds(root, fromVersion, hi, skipChangeCommits),
      meta.schemaJson, meta.metaDataJson)
  }

  /** VACUUM: physically delete data files that are live in NO version ≥
    * `retainFromVersion` — the storage-reclaim half of [[commitOptimize]]
    * (an OPTIMIZE tombstones the old files; vacuum is what actually frees
    * the bytes, after which time travel BEFORE the retain horizon is
    * gone). Returns the deleted relative paths. The log itself is never
    * touched — a post-vacuum replay of an old version fails at read time,
    * exactly like Delta after `VACUUM ... RETAIN`.
    */
  def vacuum(spark: SparkSession, root: String,
      retainFromVersion: Long): Seq[String] = {
    val log = listLog(root)
    val cur = log.latest
    require(retainFromVersion >= 0 && retainFromVersion <= cur,
      s"retain horizon $retainFromVersion out of range [0, $cur]")
    val commits = (0L to cur).map { v =>
      v -> readLinesIfExists(commitPath(root, v)).filter(_.nonEmpty).map(mapper.readTree)
    }
    def addsIn(nodes: Seq[com.fasterxml.jackson.databind.JsonNode]) =
      nodes.filter(_.has("add")).map(_.get("add"))
    // the keep set: a file live in some version ≥ the horizon is live AT
    // the horizon, added by a commit after it, or live at a checkpoint in
    // (horizon, cur] — once log retention trims the JSON below such a
    // checkpoint, it is the only record of that version's live set (the
    // replay at the horizon then folds nothing)
    val laterAdds = commits.filter(_._1 > retainFromVersion).flatMap(c => addsIn(c._2))
    val retained = replay(spark, root, Some(retainFromVersion)) +:
      log.checkpoints.keys.toSeq.sorted.filter(c => c > retainFromVersion && c <= cur)
        .map(c => replay(spark, root, Some(c)))
    val keep = retained.flatMap(_.adds.map(_.path)).toSet ++
      laterAdds.map(_.get("path").asText())
    // the ever-added candidate set: the newest checkpoint's live set (the
    // only record of pre-horizon files once log retention trims JSON),
    // plus adds from every still-present JSON commit. Missing commit
    // files are tolerated, so a trimmed foreign history cannot fail the
    // sweep, and on such a table the JSON scan IS bounded by retention
    // (= checkpoint cadence); on an untrimmed local table the
    // opportunistic full scan is what lets a first-ever vacuum reclaim
    // files removed before the first checkpoint existed.
    val ckptSnap = log.checkpointAtOrBelow(cur).map(c => replay(spark, root, Some(c._1)))
    val ckptLive = ckptSnap.toSeq.flatMap(_.adds.map(_.path))
    // DV sidecars ride the same sweep, LOG-DERIVED like the data files
    // (never a storage listing): a "u"/"p" descriptor on any add/remove
    // action is a candidate; one a kept add references is kept. Only
    // files under the table root are deleted — an absolute "p"
    // descriptor may point outside the table.
    def dvFileOf(d: DeletionVectors.Descriptor): Option[String] =
      if (d.storageType == "i") None
      else {
        val p = graft.table.Fs.absPathNoScheme(DeletionVectors.dvPath(root, d))
        val r = graft.table.Fs.absPathNoScheme(root).stripSuffix("/") + "/"
        if (p.startsWith(r)) Some(p.drop(r.length)) else None
      }
    val keepDv = (retained.flatMap(_.adds).flatMap(_.dv) ++ laterAdds.flatMap(jsonDv))
      .flatMap(dvFileOf).toSet
    val tailActions = commits.flatMap(_._2)
    val all = (ckptLive ++ addsIn(tailActions).map(_.get("path").asText())).distinct
    val allDv = (ckptSnap.toSeq.flatMap(_.adds.flatMap(_.dv)) ++
      tailActions.flatMap { node =>
        Seq("add", "remove").flatMap(k =>
          if (node.has(k)) jsonDv(node.get(k)) else None)
      }).flatMap(dvFileOf).distinct
    val doomed = all.filterNot(keep) ++ allDv.filterNot(keepDv)
    doomed.foreach(p => Fs.delete(Fs.resolve(root, p)))
    doomed
  }

  /** The checkpoint parquet schema PROTOCOL.md prescribes: one action per
    * row, exactly one of the struct columns non-null. Minimal but
    * complete — protocol, metaData (id/format/schemaString/
    * partitionColumns/configuration), add (path/partitionValues/size/
    * modificationTime/dataChange) — so a foreign reader that follows
    * `_last_checkpoint` and never reads the pre-checkpoint JSON can still
    * resolve the table's protocol, schema, and live files.
    */
  private val CkptSchema = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      // a DV'd add's descriptor — after a log trim the checkpoint is the
      // only carrier, and dropping it would RESURRECT the deleted rows
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    // latest SetTransaction per appId — a trimmed history must not reset
    // a streaming sink's idempotence cursor
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType))))))

  /** Compact the live set at the current version into a parquet
    * checkpoint and point `_last_checkpoint` at it — future replays read
    * the checkpoint plus the commit tail only. The checkpoint carries the
    * protocol and metaData actions plus full add rows (not just paths),
    * and `_last_checkpoint` is swapped in via temp-file + ATOMIC_MOVE,
    * so a foreign reader arriving mid-publish sees either the previous
    * pointer or the complete new one.
    */
  def checkpoint(spark: SparkSession, root: String): Long =
    checkpoint(spark, root, parts = 1)

  /** [[checkpoint]] with a MULTI-PART layout (`V.checkpoint.%010d.%010d
    * .parquet`, PROTOCOL.md's large-table shape — delta-spark splits
    * checkpoints so no single writer task owns a 100 TB table's whole
    * action set): part 1 carries the protocol + metaData header, add
    * rows round-robin across all parts, `_last_checkpoint` declares
    * `parts`. The reader ([[listLog]]) already requires a COMPLETE
    * part group, so an interrupted multi-part publish is invisible.
    */
  def checkpoint(spark: SparkSession, root: String, parts: Int): Long = {
    val v = currentVersion(root)
    require(v >= 0, s"no Delta log at $root to checkpoint")
    val snap = replay(spark, root, Some(v))
    val protoRow = {
      val p = snap.protocolJson.map(mapper.readTree)
      // reader/writerFeatures pass through VERBATIM (null when absent):
      // after a log trim the checkpoint is the only carrier, and a
      // features-less protocol row would let a minReaderVersion=3 table
      // slip past the refusal gate as "featureless"
      def feats(f: String) = p.flatMap(n => Option(n.get(f)))
        .map(_.elements().asScala.map(_.asText()).toSeq).orNull
      Row(Row(p.map(_.get("minReaderVersion").asInt()).getOrElse(1),
        p.map(_.get("minWriterVersion").asInt()).getOrElse(2),
        feats("readerFeatures"), feats("writerFeatures")), null, null, null)
    }
    val metaRow = {
      val m = snap.metaDataJson.map(mapper.readTree)
      def str(f: String) = m.flatMap(n => Option(n.get(f))).map(_.asText()).orNull
      // partitionColumns and configuration pass through VERBATIM: once
      // log retention trims the JSON tail, the checkpoint is the only
      // carrier — dropping them here would make a partitioned (or
      // column-mapped) table silently read as a plain one after a trim
      val partCols = m.flatMap(n => Option(n.get("partitionColumns")))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
      val conf = m.flatMap(n => Option(n.get("configuration")))
        .map(_.fields().asScala.map(e =>
          e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
        .getOrElse(Map.empty[String, String])
      Row(null, Row(
        Option(str("id")).getOrElse(java.util.UUID.randomUUID().toString),
        Row("parquet", Map.empty[String, String]),
        snap.schemaJson.orNull,
        partCols, conf), null, null)
    }
    val addRows = snap.adds.map { a =>
      // stats and deletionVector pass through VERBATIM — after a log trim
      // the checkpoint is the only carrier: dropped stats turn every
      // selective read back into a full-table scan; a dropped DV
      // resurrects its deleted rows
      Row(null, null, Row(a.path, a.partitionValues, a.size, 0L, true,
        a.stats.orNull,
        a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull),
        null)
    }
    val txnRows = snap.txns.toSeq.sortBy(_._1).map { case (app, tv) =>
      Row(null, null, null, Row(app, tv))
    }
    require(parts >= 1, s"checkpoint parts must be >= 1, got $parts")
    // each Delta checkpoint part is ONE parquet file, not a directory:
    // write via a scratch dir and move the part into place
    def writeOnePart(rows: Seq[Row], dest: String): Unit = {
      val tmp = s"$root/_delta_log/.ckpt-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), CkptSchema)
        .write.parquet(tmp)
      val part = Fs.listFilesRecursive(tmp).map(_._1)
        .find(f => Fs.name(f).startsWith("part-") && f.endsWith(".parquet"))
        .getOrElse(sys.error(s"checkpoint write produced no parquet part in $tmp"))
      Fs.rename(part, dest, overwrite = true)
      Fs.deleteRecursive(tmp)
    }
    if (parts == 1)
      writeOnePart(protoRow +: metaRow +: (txnRows ++ addRows),
        checkpointPath(root, v))
    else
      (1 to parts).foreach { i =>
        val mine = addRows.zipWithIndex.collect {
          case (r, j) if j % parts == i - 1 => r
        }
        val header = if (i == 1) Seq(protoRow, metaRow) ++ txnRows else Seq.empty
        writeOnePart(header ++ mine,
          Fs.resolve(logDir(root), f"$v%020d.checkpoint.$i%010d.$parts%010d.parquet"))
      }
    // _last_checkpoint publishes via write-temp + atomic rename: a reader
    // sees the previous pointer or the complete new one, never torn bytes
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    Fs.replaceAtomic(Fs.resolve(logDir(root), "_last_checkpoint"),
      s"""{"version":$v,"size":${snap.adds.size + snap.txns.size + 2}$partsField}"""
        .getBytes("UTF-8"))
    v
  }
}

/** The stats/partition skipping decision — "can this file possibly hold
  * a row satisfying (column op literal)?" — factored OUT of [[DeltaLog]]
  * into its own serializable-by-static-access module so the DISTRIBUTED
  * checkpoint-pruning path can run it inside a task closure without
  * capturing (or serializing) the DeltaLog singleton and its driver
  * state (snapshot cache, etc.). Shared verbatim by the driver path
  * ([[DeltaLog.readWhere]]'s tail pruning) and the executor path, so the
  * two can never drift.
  */
private[sources] object StatsPrune {

  sealed trait CmpOp extends Serializable
  case object CmpEq extends CmpOp
  case object CmpLt extends CmpOp
  case object CmpLe extends CmpOp
  case object CmpGt extends CmpOp
  case object CmpGe extends CmpOp

  // per-JVM (module init on each executor) — never serialized
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Partition columns answer exactly (one value per file — a NULL
    * partition value satisfies no comparison, so the file skips); data
    * columns answer from the stats envelope; anything unresolvable reads.
    */
  def mayMatch(partitionValues: Map[String, String],
      stats: Option[String], name: String, op: CmpOp, v: Any,
      partCols: Set[String]): Boolean = {
    def cmp(x: Any, y: Any): Option[Int] = (x, y) match {
      case (a: Long, b: Long) => Some(java.lang.Long.compare(a, b))
      case (a: Long, b: Double) => Some(java.lang.Double.compare(a.toDouble, b))
      case (a: Double, b: Long) => Some(java.lang.Double.compare(a, b.toDouble))
      case (a: Double, b: Double) => Some(java.lang.Double.compare(a, b))
      case (a: Boolean, b: Boolean) => Some(java.lang.Boolean.compare(a, b))
      case (a: String, b: String) => Some(a.compareTo(b))
      case _ => None
    }
    def decide(lo: Any, hi: Any): Boolean =
      (cmp(v, lo), cmp(v, hi)) match {
        case (Some(cl), Some(ch)) => op match {
          case CmpEq => cl >= 0 && ch <= 0
          case CmpLt => cl > 0 // some value < v exists iff min < v
          case CmpLe => cl >= 0
          case CmpGt => ch < 0 // some value > v exists iff max > v
          case CmpGe => ch <= 0
        }
        case _ => true
      }
    if (partCols(name)) {
      partitionValues.get(name) match {
        case None => true // layout unknown for this file: read
        case Some(null) => false // all rows NULL here: no comparison passes
        case Some(s) =>
          val typed: Any = v match {
            case _: Long => try s.toLong catch { case NonFatal(_) => return true }
            case _: Double => try s.toDouble catch { case NonFatal(_) => return true }
            case _: Boolean => try s.toBoolean catch { case NonFatal(_) => return true }
            case _ => s
          }
          cmp(typed, v) match {
            case Some(c) => op match {
              case CmpEq => c == 0
              case CmpLt => c < 0
              case CmpLe => c <= 0
              case CmpGt => c > 0
              case CmpGe => c >= 0
            }
            case None => true
          }
      }
    } else stats match {
      case None => true
      case Some(json) =>
        val node = try mapper.readTree(json) catch { case NonFatal(_) => return true }
        // a zero-row file matches nothing, whatever the predicate
        if (Option(node.get("numRecords")).exists(n =>
          n.isIntegralNumber && n.asLong() == 0L)) return false
        def bound(kind: String): Option[Any] =
          Option(node.get(kind)).flatMap(m => Option(m.get(name))).flatMap { n =>
            if (n.isNull) None
            else if (n.isIntegralNumber) Some(n.asLong())
            else if (n.isNumber) Some(n.asDouble())
            else if (n.isBoolean) Some(n.asBoolean())
            else if (n.isTextual) Some(n.asText())
            else None
          }
        (bound("minValues"), bound("maxValues")) match {
          case (Some(lo), Some(hi)) => decide(lo, hi)
          case _ => true
        }
    }
  }
}
