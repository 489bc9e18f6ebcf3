package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.queries.{CorpusOps, Dedup, IngestOps}
import graft.table.StoreMaint

/** Layout maintenance + erasure propagation on the derived stores:
  * compaction reduces the files every plan actually reads without moving
  * a single result; erasure leaves NO residue in any store table,
  * rewrites only the files that held the subjects' rows, and the cleaned
  * store is indistinguishable from one built cold from the surviving
  * corpus.
  */
class StoreMaintSpec extends SparkTestBase {

  private def docs = Tables(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))

  private def pred(id: org.apache.spark.sql.Column) = IngestOps.erasePred(id)

  /** Files the EXECUTED plan read, summed over every file scan (post
    * partition-pruning — the store's hash-bucket pruning shows up here).
    */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case _ => p +: p.children.flatMap(all)
    }
    all(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
      .sum
  }

  test("freshness is MANIFEST-driven: forward/backdating file mtimes can no " +
      "longer make a stale maxscore trusted; a corpus rewrite with backdated " +
      "mtimes still invalidates the store") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import java.nio.file.attribute.FileTime
    def planOf(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    def setAllMtimes(root: String, t: Long): Unit = {
      import scala.jdk.CollectionConverters._
      val s = JFiles.walk(JPaths.get(root))
      try s.iterator().asScala.foreach(p =>
        JFiles.setLastModifiedTime(p, FileTime.fromMillis(t)))
      finally s.close()
    }
    // --- intra-store: maxscore vs postings -------------------------------
    val store = Files.createTempDirectory("graft_manifest").toString + "/lexstore"
    CorpusOps.appendLexStore(docs.filter(col("doc_id") % 2 === 0), store)
    CorpusOps.refreshMaxScores(spark, store)
    assert(planOf(CorpusOps.wandTopKFromStore(spark, store)).contains("maxscore"),
      "a freshly refreshed store must serve the impact bounds")
    // append AFTER the refresh -> bounds stale (global stats moved)
    CorpusOps.appendLexStore(docs.filter(col("doc_id") % 2 === 1), store)
    val expected = CorpusOps.wandTopKFromStore(spark, store).collect().toSeq
    assert(!planOf(CorpusOps.wandTopKFromStore(spark, store)).contains("maxscore"),
      "stale bounds must not be read")
    // FORWARD-date everything under maxscore/ (and backdate postings/):
    // under the old mtime probe this made the stale table look fresh —
    // the manifest's integer stamps must be immune to both
    setAllMtimes(s"$store/maxscore", System.currentTimeMillis() + 3600L * 1000)
    setAllMtimes(s"$store/postings", 1000000000000L)
    assert(!planOf(CorpusOps.wandTopKFromStore(spark, store)).contains("maxscore"),
      "mtime forgery must not resurrect stale impact bounds")
    assert(CorpusOps.wandTopKFromStore(spark, store).collect().toSeq == expected)
    // a real refresh restores trust
    CorpusOps.refreshMaxScores(spark, store)
    assert(planOf(CorpusOps.wandTopKFromStore(spark, store)).contains("maxscore"))
    assert(CorpusOps.wandTopKFromStore(spark, store).collect().toSeq == expected)
    // --- store vs corpus: listing fingerprint ----------------------------
    val corpus = Files.createTempDirectory("graft_manifest_corpus").toString
    docs.limit(50).write.parquet(s"$corpus/documents.parquet")
    CorpusOps.writeLexStore(spark, corpus)
    assert(!planOf(CorpusOps.q56Bm25(spark, corpus)).contains("documents.parquet"),
      "a just-built store must serve retrieval")
    // REWRITE the corpus (different file set), then BACKDATE every file —
    // the old probe compared store _SUCCESS mtime >= corpus mtime, so a
    // backdated rewrite served stale state; the fingerprint can't be fooled
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$corpus/documents.parquet"))
    docs.limit(20).write.parquet(s"$corpus/documents.parquet")
    setAllMtimes(s"$corpus/documents.parquet", 1000000000000L)
    assert(planOf(CorpusOps.q56Bm25(spark, corpus)).contains("documents.parquet"),
      "a rewritten corpus must invalidate the store even with backdated mtimes")
  }

  test("applyFeed: a lexical and a signature store synced from a change feed " +
      "(insert, update, delete, delete then re-insert) equal stores built " +
      "from the final table") {
    import graft.sources.DeltaLog
    val base = Files.createTempDirectory("graft_feedsync").toString
    val delta = s"$base/delta"
    val d = docs.filter(col("doc_id") < 60)
    DeltaLog.commitAppend(delta, d)                                     // v0
    DeltaLog.setTableProperties(delta,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    DeltaLog.deleteWhere(spark, delta, pmod(col("doc_id"), lit(3)) === 0) // v2
    // %5 docs update; the %5 ∧ %3 ones were deleted at v2 and come back;
    // the shifted %9 docs are new
    val mx = d.agg(max(col("doc_id"))).head.getLong(0)
    val source = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", concat(lit("U:"), col("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(9)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(mx + 1)))
    val (v3, _, _) = DeltaLog.mergeInto(spark, delta, source, Seq("doc_id"))
    val feed = DeltaLog.readChangeFeed(spark, delta, -1L, v3)
    assert(feed.select(col("_change_type")).distinct().collect().map(_.getString(0)).toSet ==
      Set("insert", "delete", "update_preimage", "update_postimage"))
    val fin = DeltaLog.read(spark, delta).select(col("doc_id"), col("text"))
    assert(fin.filter(col("doc_id") === 15L).count() == 1L,
      "a doc deleted at v2 and merged back at v3 must be live")
    def rows(store: String, part: String): Seq[String] =
      spark.read.parquet(s"$store/$part").collect().map(_.toString).sorted.toSeq

    val lexSynced = s"$base/lex_synced"
    CorpusOps.syncLexStoreFromFeed(spark, lexSynced, feed)
    val lexDirect = s"$base/lex_direct"
    CorpusOps.appendLexStore(fin, lexDirect)
    CorpusOps.refreshMaxScores(spark, lexDirect)
    Seq("dl", "postings", "maxscore").foreach { part =>
      assert(rows(lexSynced, part) == rows(lexDirect, part), s"lexical store $part")
    }
    assert(graft.table.StoreManifest.servable(lexSynced, "maxscore").isDefined)

    val sigSynced = s"$base/sig_synced"
    Dedup.syncSigStoreFromFeed(spark, sigSynced, feed)
    val sigDirect = s"$base/sig_direct"
    Dedup.appendSigStore(fin, sigDirect)
    Seq("sigs", "bands").foreach { part =>
      assert(rows(sigSynced, part) == rows(sigDirect, part), s"signature store $part")
    }
  }

  test("eraseWhere: rows where the predicate evaluates to NULL are KEPT, " +
      "even when their file is rewritten for other rows") {
    val dir = Files.createTempDirectory("graft_erase_null").toString + "/t"
    // one file holding a matching row, a non-matching row, AND a row
    // whose predicate value is NULL — the CoW rewrite of that file must
    // retain the NULL row (it was never named by the request)
    spark.createDataFrame(Seq(
      (1L, "bad"), (2L, "good"), (3L, null.asInstanceOf[String])))
      .toDF("id", "tag").coalesce(1).write.parquet(dir)
    val rewritten = StoreMaint.eraseWhere(spark, dir, Seq.empty,
      col("tag") === "bad")
    assert(rewritten == 1L)
    val left = spark.read.parquet(dir).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(left.toSeq == Seq((2L, "good"), (3L, null)),
      s"null-predicate rows must survive the rewrite, got ${left.toSeq}")
  }

  /** nio view of an Fs-listing path string (file:/... or plain). */
  private def nio(p: String): java.nio.file.Path = {
    val u = java.net.URI.create(p)
    if (u.getScheme == null) java.nio.file.Paths.get(p)
    else java.nio.file.Paths.get(u)
  }

  test("eraseKeys: frame-keyed erase rewrites only files holding a subject, " +
      "matches the predicate erase, and is a no-op on a miss") {
    def keyDf(ids: Long*): DataFrame =
      spark.range(0, 1000).filter(col("id").isin(ids: _*)).select(col("id"))
    val dir = Files.createTempDirectory("graft_erase_keys").toString + "/t"
    // two files: ids 0-9 and 10-19 — keys hitting only the first file
    // must leave the second byte-identical in place
    spark.range(0, 10).select(col("id"), lit("a").as("tag"))
      .coalesce(1).write.parquet(dir)
    spark.range(10, 20).select(col("id"), lit("b").as("tag"))
      .coalesce(1).write.mode("append").parquet(dir)
    val before = StoreMaint.dataFiles(dir)
      .map(p => nio(p).getFileName.toString -> Files.getLastModifiedTime(nio(p))).toMap
    val rewritten = StoreMaint.eraseKeys(spark, dir, Seq.empty, "id",
      keyDf(2L, 5L, 7L))
    assert(rewritten == 1L, s"only the file holding ids 2/5/7: $rewritten")
    val after = spark.read.parquet(dir)
    assert(after.count() == 17L)
    assert(after.filter(col("id").isin(2L, 5L, 7L)).count() == 0L)
    // the untouched file is the SAME file (not rewritten bytes)
    val untouched = before.filter { case (n, _) =>
      StoreMaint.dataFiles(dir).exists(p =>
        nio(p).getFileName.toString == n &&
          Files.getLastModifiedTime(nio(p)) == before(n))
    }
    assert(untouched.nonEmpty, "the b-file must carry byte-identical")
    // missing keys: no file rewrites
    assert(StoreMaint.eraseKeys(spark, dir, Seq.empty, "id",
      keyDf(999L)) == 0L)
    // equivalence with the predicate erase on a fresh copy
    val dir2 = Files.createTempDirectory("graft_erase_keys2").toString + "/t"
    spark.range(0, 20).select(col("id"), lit("x").as("tag"))
      .repartition(2).write.parquet(dir2)
    StoreMaint.eraseWhere(spark, dir2, Seq.empty, col("id") % 4 === 0)
    val dir3 = Files.createTempDirectory("graft_erase_keys3").toString + "/t"
    spark.range(0, 20).select(col("id"), lit("x").as("tag"))
      .repartition(2).write.parquet(dir3)
    StoreMaint.eraseKeys(spark, dir3, Seq.empty, "id",
      spark.range(0, 20).filter(col("id") % 4 === 0).select(col("id")))
    assert(spark.read.parquet(dir2).orderBy("id").collect().toSeq ==
      spark.read.parquet(dir3).orderBy("id").collect().toSeq)
  }

  test("compact is SMALL-FILE-AWARE: full-sized files carry byte-identical, " +
      "a second pass is a no-op, and post-append maintenance I/O is " +
      "proportional to the small-file tail") {
    import java.nio.file.{Files => JFiles}
    val dir = Files.createTempDirectory("graft_compact_aware").toString + "/t"
    // 8 small appends -> 8 small files
    (0L until 8L).foreach(i =>
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir))
    assert(StoreMaint.dataFileCount(dir) == 8L)
    val before = spark.read.parquet(dir).orderBy(col("id")).collect().toSeq
    // target far above every file: all 8 merge into one output
    val n1 = StoreMaint.compact(spark, dir, Seq.empty, 512L << 20)
    assert(n1 == 8L)
    assert(StoreMaint.dataFileCount(dir) == 1L)
    assert(spark.read.parquet(dir).orderBy(col("id")).collect().toSeq == before)
    val state1 = StoreMaint.dataFiles(dir)
      .map(f => (nio(f).toString, JFiles.size(nio(f)), JFiles.getLastModifiedTime(nio(f)))).toSet
    // SECOND pass: one under-target file per directory — nothing can
    // merge, so the pass must be a literal no-op (0 rewritten, every
    // file untouched in place); the old full-table rewrite re-copied
    // the whole store here, which at 100 TB is the maintenance job
    // defeating its own purpose
    assert(StoreMaint.compact(spark, dir, Seq.empty, 512L << 20) == 0L)
    assert(StoreMaint.dataFiles(dir)
      .map(f => (nio(f).toString, JFiles.size(nio(f)), JFiles.getLastModifiedTime(nio(f)))).toSet == state1,
      "an already-compacted store must carry every file byte-identical in place")
    // fresh small appends: maintenance rewrites ONLY the new tail — the
    // compacted file is over... still under target here, so guard it by
    // making it ineligible: its directory holds it plus the new smalls,
    // all under target, so they merge together (the tail plus the one
    // existing under-target output — bounded by the append, not the store)
    (0L until 3L).foreach(i =>
      spark.range(1000 + i * 10, 1010 + i * 10).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir))
    val n3 = StoreMaint.compact(spark, dir, Seq.empty, 512L << 20)
    assert(n3 == 4L, s"expected the 3 new small files + 1 small output, got $n3")
    val all = spark.read.parquet(dir).orderBy(col("id")).collect().map(_.getLong(0))
    assert(all.length == before.size + 30)
    // PARTITIONED: an over-target file carries even when its partition
    // gains small neighbors? (files >= target are never candidates)
    val pdir = Files.createTempDirectory("graft_compact_part").toString + "/t"
    spark.range(0, 200).select(col("id"), (col("id") % 2).as("b"))
      .repartition(4).write.partitionBy("b").parquet(pdir)
    // tiny target: everything is "over target" -> no-op
    assert(StoreMaint.compact(spark, pdir, Seq("b"), 1L) == 0L)
  }

  test("lex store compaction: >=4x fewer files read by q56/q247 plans, " +
      "hash-equal results, refreshed bounds prune at least as hard") {
    val store = Files.createTempDirectory("graft_lexcompact").toString + "/lexstore"
    (0L until 8L).foreach(i =>
      CorpusOps.appendLexStore(docs.filter(pmod(col("doc_id"), lit(8L)) === i), store))
    val preBm25 = CorpusOps.bm25FromIncremental(spark, store).collect().toSeq
    val (preSurvF, preTopkF) = CorpusOps.wandFromStorePair(spark, store)
    val preTopk = preTopkF.collect().toSeq
    val preSurv = preSurvF.count() // fallback-derived bounds: maxscore/ absent
    val preFiles = filesRead(CorpusOps.bm25FromIncremental(spark, store)) +
      filesRead(CorpusOps.wandFromStorePair(spark, store)._2)

    CorpusOps.compactLexStore(spark, store)

    val postBm25F = CorpusOps.bm25FromIncremental(spark, store)
    val (postSurvF, postTopkF) = CorpusOps.wandFromStorePair(spark, store)
    assert(postBm25F.collect().toSeq == preBm25,
      "compaction must not move a single BM25 row")
    assert(postTopkF.collect().toSeq == preTopk,
      "compaction must not move the WAND ranking")
    val postFiles = filesRead(CorpusOps.bm25FromIncremental(spark, store)) +
      filesRead(CorpusOps.wandFromStorePair(spark, store)._2)
    assert(preFiles >= 4 * postFiles,
      s"post-compaction plans must read >=4x fewer files: $preFiles -> $postFiles")
    // the physical store shrank too, not just the pruned read set
    assert(StoreMaint.dataFileCount(s"$store/dl") <= 2,
      "dl/ should compact from 8 append files to a couple")
    // prune effectiveness: the refreshed metadata equals the bounds the
    // fallback derives (recomputed from the same postings), so the
    // survivor set must not grow — and the gate must actually cut
    val postSurv = postSurvF.count()
    assert(postSurv <= preSurv,
      s"refreshed bounds must prune at least as hard: $preSurv -> $postSurv")
    val candidates = spark.read.parquet(s"$store/dl").count()
    assert(postSurv < candidates, "the ub gate must prune below the corpus size")
  }

  test("stale maxscore is never used: a post-refresh append falls back to " +
      "derived bounds until the next refresh, results exact throughout") {
    val store = Files.createTempDirectory("graft_lexstale").toString + "/lexstore"
    (0L until 3L).foreach(i =>
      CorpusOps.appendLexStore(docs.filter(pmod(col("doc_id"), lit(4L)) === i), store))
    CorpusOps.refreshMaxScores(spark, store)
    // one more append AFTER the refresh: the stored bounds are now computed
    // from stale global stats — not valid upper bounds — and must be ignored
    CorpusOps.appendLexStore(docs.filter(pmod(col("doc_id"), lit(4L)) === 3), store)
    val staleServed = CorpusOps.wandTopKFromStore(spark, store).collect().toSeq
    // reference: the same store with CURRENT metadata
    CorpusOps.refreshMaxScores(spark, store)
    val fresh = CorpusOps.wandTopKFromStore(spark, store).collect().toSeq
    assert(staleServed == fresh,
      "the stale-metadata read must fall back to exact derived bounds")
    // and the full-corpus single-append store agrees (batching invariance)
    val whole = Files.createTempDirectory("graft_lexwhole").toString + "/lexstore"
    CorpusOps.appendLexStore(docs, whole)
    assert(CorpusOps.wandTopKFromStore(spark, whole).collect().toSeq == fresh)
  }

  test("lex store erasure is file-level copy-on-write: a single doc's erase " +
      "rewrites only its batch x term-bucket files, everything else stays put") {
    val store = Files.createTempDirectory("graft_lexcow").toString + "/lexstore"
    (0L until 8L).foreach(i =>
      CorpusOps.appendLexStore(docs.filter(pmod(col("doc_id"), lit(8L)) === i), store))
    val victim = docs.select(min(col("doc_id"))).collect()(0).getLong(0)
    def inv(path: String): Map[String, Long] =
      StoreMaint.dataFiles(path).map(p => nio(p).toString -> Files.size(nio(p))).toMap
    val hitFiles = spark.read.parquet(s"$store/postings")
      .withColumn("__f", input_file_name()).filter(col("doc_id") === victim)
      .select("__f").distinct().collect()
      .map(r => java.nio.file.Paths.get(java.net.URI.create(r.getString(0))).toString).toSet
    val preInv = inv(s"$store/postings")
    // one doc lives in ONE append batch: at least the other 7 batches'
    // files — whatever bucket they are in — must be untouched
    assert(hitFiles.nonEmpty && hitFiles.size * 2 < preInv.size,
      s"fixture must leave most files unhit: ${hitFiles.size} of ${preInv.size}")

    CorpusOps.eraseLexStore(spark, store, id => id === victim)

    val postInv = inv(s"$store/postings")
    for ((f, sz) <- preInv if !hitFiles.contains(f))
      assert(postInv.get(f).contains(sz), s"untouched file rewritten or lost: $f")
    assert(hitFiles.forall(f => !postInv.contains(f)), "hit files must be gone")
    assert(spark.read.parquet(s"$store/postings")
      .filter(col("doc_id") === victim).count() == 0)
    assert(spark.read.parquet(s"$store/dl")
      .filter(col("doc_id") === victim).count() == 0)
  }

  test("lex store erasure: zero residue in dl/postings/maxscore and the " +
      "cleaned store equals a cold store built from the survivors") {
    val store = Files.createTempDirectory("graft_lexerase").toString + "/lexstore"
    CorpusOps.appendLexStore(docs, store)
    CorpusOps.refreshMaxScores(spark, store)

    CorpusOps.eraseLexStore(spark, store, pred)

    // (a) no store table contains an erased doc_id — or a term that only
    // erased docs carried (per-term metadata rows are derived content too)
    assert(spark.read.parquet(s"$store/dl").filter(pred(col("doc_id"))).count() == 0)
    assert(spark.read.parquet(s"$store/postings").filter(pred(col("doc_id"))).count() == 0)
    val survivorVocab = docs.filter(!pred(col("doc_id")))
      .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), "\\s+")).as("t"))
      .filter(col("t") =!= "").distinct().collect().map(_.getString(0)).toSet
    val msTerms = spark.read.parquet(s"$store/maxscore")
      .select("term").collect().map(_.getString(0)).toSet
    assert(msTerms == survivorVocab,
      "maxscore must cover exactly the surviving vocabulary")
    // (b) results over the cleaned store == a store built cold from survivors
    val cold = Files.createTempDirectory("graft_lexcold").toString + "/lexstore"
    CorpusOps.appendLexStore(docs.filter(!pred(col("doc_id"))), cold)
    CorpusOps.refreshMaxScores(spark, cold)
    assert(CorpusOps.wandTopKFromStore(spark, store).collect().toSeq ==
      CorpusOps.wandTopKFromStore(spark, cold).collect().toSeq)
    assert(CorpusOps.bm25FromIncremental(spark, store).collect().toSeq ==
      CorpusOps.bm25FromIncremental(spark, cold).collect().toSeq)
  }

  test("layout maintenance composes with the REAL q249 stream run: compacting " +
      "the store the triggers built shrinks it, BM25 and WAND results unchanged") {
    val bm = IngestOps.q249IncrementalLexStore(spark, sfDir).collect().toSeq
    val store = graft.queries.ReplayFixtures.runRootFor(sfDir, "q249") + "/lexstore"
    assert(new java.io.File(s"$store/postings").isDirectory,
      "the q249 run must leave its incremental store behind")
    val preFiles = StoreMaint.dataFileCount(s"$store/postings") +
      StoreMaint.dataFileCount(s"$store/dl")
    val preWand = CorpusOps.wandTopKFromStore(spark, store).collect().toSeq

    CorpusOps.compactLexStore(spark, store)

    val postFiles = StoreMaint.dataFileCount(s"$store/postings") +
      StoreMaint.dataFileCount(s"$store/dl")
    assert(postFiles < preFiles,
      s"compaction must shrink the per-trigger file count: $preFiles -> $postFiles")
    assert(CorpusOps.bm25FromIncremental(spark, store).collect().toSeq == bm,
      "the q249 BM25 result must not move across compaction")
    assert(CorpusOps.wandTopKFromStore(spark, store).collect().toSeq == preWand,
      "the WAND ranking must not move across compaction")
    // the refresh left store-served impact metadata behind
    assert(new java.io.File(s"$store/maxscore/_SUCCESS").exists())
  }

  test("sig store erasure: zero residue in sigs/bands/pairs, candidates == " +
      "cold survivor build; compaction leaves the pair set untouched") {
    val store = Files.createTempDirectory("graft_sigerase").toString + "/sigstore"
    (0L until 4L).foreach(i =>
      Dedup.appendSigStore(docs.filter(pmod(col("doc_id"), lit(4L)) === i), store))
    Dedup.pairsFromIncremental(spark, store)
      .write.mode("overwrite").parquet(s"$store/pairs")

    Dedup.eraseSigStore(spark, store, pred)

    assert(spark.read.parquet(s"$store/sigs").filter(pred(col("doc_id"))).count() == 0)
    assert(spark.read.parquet(s"$store/bands").filter(pred(col("doc_id"))).count() == 0)
    assert(spark.read.parquet(s"$store/pairs")
      .filter(pred(col("id_a")) || pred(col("id_b"))).count() == 0)
    val cleaned = Dedup.pairsFromIncremental(spark, store)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    val cold = Files.createTempDirectory("graft_sigcold").toString + "/sigstore"
    Dedup.appendSigStore(docs.filter(!pred(col("doc_id"))), cold)
    assert(cleaned == Dedup.pairsFromIncremental(spark, cold)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq,
      "cleaned store must equal the cold survivor build")
    // layout maintenance on the cleaned store: fewer files, same candidates
    val preFiles = StoreMaint.dataFileCount(s"$store/bands")
    Dedup.compactSigStore(spark, store)
    assert(StoreMaint.dataFileCount(s"$store/bands") < preFiles)
    assert(Dedup.pairsFromIncremental(spark, store)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq == cleaned)
  }

  test("eraseWhere in a store path containing URI-encodable characters: the " +
      "hit re-read works and the hit files are genuinely deleted") {
    // input_file_name() renders a percent-encoded URI; an undecoded hit
    // list makes the re-read fail or — worse — the delete a silent no-op
    // while the erasure verb reports success
    val dir = Files.createTempDirectory("graft erase %enc").toString + "/s tore"
    spark.range(0, 100).select(col("id"), (col("id") % 4).as("g"))
      .repartition(4).write.parquet(dir)
    val filesBefore = StoreMaint.dataFileCount(dir)
    val n = StoreMaint.eraseWhere(spark, dir, Seq.empty, col("g") === 1)
    assert(n > 0L)
    assert(spark.read.parquet(dir).filter(col("g") === 1).count() == 0L,
      "erased rows must be gone from an encodable-path store")
    assert(spark.read.parquet(dir).count() == 75L)
    assert(StoreMaint.dataFileCount(dir) <= filesBefore,
      "hit files must be deleted, not duplicated beside their rewrites")
  }

  test("q272 ANN store: erased subjects never surface as neighbors, appended " +
      "vectors do, and a stale postings manifest REFUSES to serve") {
    import graft.queries.Similarity
    val out = Similarity.q272AnnStoreSearch(spark, sfDir).collect()
    assert(out.nonEmpty)
    // the CDF-erased subjects (vec_id % 37 == 3) must never be neighbors
    assert(!out.exists(_.getAs[Number]("neighbor_id").longValue % 37 == 3),
      "a feed-erased vector surfaced as a neighbor — erasure did not propagate")
    // the store postings hold no erased rows and DO hold appended ones
    val store = Similarity.q272Store(spark, sfDir)
    val postings = spark.read.parquet(s"$store/postings")
    assert(postings.filter(col("vec_id") % 37 === 3).count() == 0L)
    assert(postings.filter(col("vec_id") % 5 === 4).count() > 0L,
      "the appended 5th of the corpus must be searchable")
    // every posting's list id is a known centroid label
    val cents = spark.read.parquet(s"$store/centroids")
      .select(col("c_label").cast("long")).collect().map(_.getLong(0)).toSet
    assert(postings.select(col("list").cast("long")).distinct().collect()
      .forall(r => cents(r.getLong(0))))
    // STALENESS REFUSAL: centroids newer than postings means assignments
    // were made under a different quantizer — serving would mis-route
    graft.table.StoreManifest.bump(store, Seq("centroids"))
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.q272AnnStoreSearch(spark, sfDir)
      }
      assert(e.getMessage.contains("STALE"), e.getMessage)
    } finally {
      graft.table.StoreManifest.bump(store, Seq("postings")); ()
    }
    assert(Similarity.q272AnnStoreSearch(spark, sfDir).collect().length == out.length)
  }

  test("q279 ANN quantizer REBUILD: generation-1 dirs + atomic pointer cutover, " +
      "old generation untouched, staleness refusal on the NEW parts, and " +
      "fully-erased probed lists serve an empty top-k (never throw)") {
    import graft.queries.Similarity
    val out = Similarity.q279AnnRebuildSearch(spark, sfDir).collect()
    assert(out.nonEmpty)
    val store = Similarity.q279Store(spark, sfDir)
    // the cutover swapped the pointer to generation 1 and left the old
    // generation's dirs on disk, whole (a crash mid-rebuild would have
    // left the pointer on them)
    assert(graft.table.Fs.readString(s"$store/_active_gen").trim == "1")
    assert(graft.table.Fs.isDir(s"$store/centroids-g1") &&
      graft.table.Fs.isDir(s"$store/postings-g1"))
    assert(graft.table.Fs.isDir(s"$store/centroids") &&
      graft.table.Fs.isDir(s"$store/postings"),
      "the rebuild must not destroy the previous generation")
    // g1 postings were reassigned against g1 centroids: manifest-fresh
    assert(graft.table.StoreManifest.servable(store, "postings-g1").isDefined)
    // the Lloyd step conserves vectors: g1 postings hold exactly the g0 set
    val g0 = spark.read.parquet(s"$store/postings").select(col("vec_id"))
    val g1 = spark.read.parquet(s"$store/postings-g1").select(col("vec_id"))
    assert(g1.count() == g0.count() && g1.except(g0).count() == 0L)
    // staleness refusal tracks the ACTIVE generation's parts
    graft.table.StoreManifest.bump(store, Seq("centroids-g1"))
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.q279AnnRebuildSearch(spark, sfDir)
      }
      assert(e.getMessage.contains("STALE"), e.getMessage)
    } finally {
      graft.table.StoreManifest.bump(store, Seq("postings-g1")); ()
    }
    assert(Similarity.q279AnnRebuildSearch(spark, sfDir).collect().length == out.length)
    // ADVICE r16: a probed list directory emptied of every file (a CoW
    // erase of its last row) or never created must serve an EMPTY top-k,
    // not throw "unable to infer schema" — erase EVERY vector and search
    val base = java.nio.file.Files.createTempDirectory("graft-ann-empty").toString
    val empty = s"$base/annstore"
    val e = Tables(spark, sfDir, "embeddings")
    Similarity.buildAnnStore(spark, empty, e)
    import org.apache.spark.sql.functions.lit
    graft.table.StoreMaint.eraseKeys(spark, s"$empty/postings", Seq("list"),
      "vec_id", e.select(col("vec_id")))
    val res = Similarity.annSearchFrom(spark, sfDir, empty)
    assert(res.columns.toSeq == Seq("query_id", "rk", "neighbor_id", "cosine"))
    assert(res.count() == 0L, "an emptied store must serve zero neighbors")
    // ...and a RETRAIN over nothing refuses loudly instead of dying in
    // schema inference or publishing an empty quantizer
    val er = intercept[IllegalArgumentException] {
      Similarity.rebuildAnnStore(spark, empty)
    }
    assert(er.getMessage.contains("nothing to retrain"), er.getMessage)
  }

  test("ANN erasure covers EVERY generation (the old one kept for crash " +
      "safety included); vacuumAnnStoreGenerations retires it afterwards") {
    import graft.queries.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft-ann-gens").toString
    val store = s"$base/annstore"
    val e = Tables(spark, sfDir, "embeddings")
    Similarity.buildAnnStore(spark, store, e)                    // gen 0
    Similarity.rebuildAnnStore(spark, store)                     // gen 1 active
    val subject = e.agg(min(col("vec_id"))).head.getLong(0)
    val feed = e.filter(col("vec_id") === subject)
      .select(col("vec_id"), lit("delete").as("_change_type"))
    val rewritten = Similarity.syncAnnStoreFromFeed(spark, store, feed)
    assert(rewritten >= 2L,
      s"the erase must rewrite files in BOTH generations, rewrote $rewritten")
    // zero residue in EITHER generation — the pre-rebuild postings kept
    // for crash safety carry the same erasure obligation
    Seq("postings", "postings-g1").foreach { p =>
      assert(spark.read.parquet(s"$store/$p")
        .filter(col("vec_id") === subject).count() == 0L,
        s"erased subject still readable in $p")
    }
    // the reclaim verb drops exactly the non-active generation
    val dropped = Similarity.vacuumAnnStoreGenerations(store)
    assert(dropped == Seq("centroids", "postings"), dropped.toString)
    assert(!graft.table.Fs.isDir(s"$store/postings") &&
      graft.table.Fs.isDir(s"$store/postings-g1"))
    // the active generation still serves after the vacuum
    assert(Similarity.annSearchFrom(spark, sfDir, store).count() > 0L)
  }

  test("ANN rebuild HARDENING on a severely drifted store: re-seed keeps the " +
      "quantizer's arity, the recall gate ABORTS a one-step rebuild at a bar " +
      "the ITERATED rebuild clears, and an aborted generation never serves") {
    import graft.queries.Similarity
    import org.apache.spark.sql.functions.col
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(d =>
        if (d == 0) math.cos(r).toFloat
        else if (d == 1) math.sin(r).toFloat else 0f)
    }
    val ss = spark
    import ss.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ann-drift").toString
    val store = s"$base/annstore"
    // generation 0: tight clusters at 0° and 76° — a sane quantizer for
    // the ORIGINAL corpus, whose 38° midline will mis-split the drifted
    // one
    val init = ((0 until 10).map(i => (5000L + i, 0L, vec(0.1 * i))) ++
      (0 until 10).map(i => (6000L + i, 1L, vec(76.0 + 0.1 * i)))).toDF(
      "vec_id", "label", "embedding")
    Similarity.buildAnnStore(spark, store, init)
    // DRIFT: the originals are erased; the new corpus is two moderate
    // clusters G1 (30°..46°) and G2 (54°..70°) with a 46°–54° gap. The
    // frozen 38° boundary splits G1 mid-cluster, so the CURRENT
    // assignment is stale in exactly the way one mean step cannot fully
    // cure: after one Lloyd round the boundary lands ~45° — still inside
    // G1 — and only further rounds walk it into the gap. The SENTINEL
    // queries (lowest vec_ids 0..3 = 46°,45°,44°,43°) sit on that
    // mid-drift boundary: their true top-5 straddle it, so nprobe=1
    // recall is ruined by the one-step quantizer and whole under the
    // converged one.
    graft.table.StoreMaint.eraseKeys(spark, s"$store/postings",
      Seq("list"), "vec_id", init.select(col("vec_id")))
    val g1 = (0 until 4).map(i => (i.toLong, 0L, vec(46.0 - i))) ++
      (0 until 13).map(j => (100L + j, 0L, vec(30.0 + j)))
    val g2 = (0 until 17).map(j => (200L + j, 0L, vec(54.0 + j)))
    val drifted = (g1 ++ g2).toDF("vec_id", "label", "embedding")
    Similarity.appendAnnStore(drifted.select(col("vec_id"), col("embedding")),
      store)
    // A/B the candidate quantizers WITHOUT a gate on cloned stores: one
    // Lloyd step from the stale assignment vs iterate-to-tolerance
    def clone(tag: String): String = {
      val c = s"$base/$tag"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(store), new java.io.File(c))
      c
    }
    val s1 = clone("one-step")
    Similarity.rebuildAnnStore(spark, s1, maxIters = 1, recallGate = 0.0)
    val s8 = clone("iterated")
    Similarity.rebuildAnnStore(spark, s8, maxIters = 8, moveTol = 0.0,
      recallGate = 0.0)
    val r1 = Similarity.annStoreRecall(spark, s1, k = 5, nprobe = 1,
      nQueries = 4)
    val r8 = Similarity.annStoreRecall(spark, s8, k = 5, nprobe = 1,
      nQueries = 4)
    assert(r8 > r1 + 0.05,
      f"iterating must materially improve drifted recall: one-step $r1%.3f " +
        f"vs iterated $r8%.3f")
    // THE GATE, on the original store: a bar between the two measured
    // recalls refuses the one-step rebuild...
    val bar = (r1 + r8) / 2.0
    val e = intercept[IllegalStateException] {
      Similarity.rebuildAnnStore(spark, store, maxIters = 1,
        recallGate = bar, recallProbe = 1, recallQueries = 4)
    }
    assert(e.getMessage.contains("ABORTED"), e.getMessage)
    // ...the aborted generation is torn down, the pointer never moved,
    // and generation 0 still serves
    assert(!graft.table.Fs.isFile(s"$store/_active_gen"),
      "an aborted rebuild must not move the active-generation pointer")
    assert(!graft.table.Fs.isDir(s"$store/postings-g1") &&
      !graft.table.Fs.isDir(s"$store/centroids-g1"),
      "an aborted generation's dirs must be torn down")
    assert(spark.read.parquet(s"$store/postings").count() == 34L,
      "generation 0 must keep serving after an aborted rebuild")
    // ...and the ITERATED rebuild clears the same bar and cuts over
    val gen = Similarity.rebuildAnnStore(spark, store, maxIters = 8,
      moveTol = 0.0, recallGate = bar, recallProbe = 1, recallQueries = 4)
    assert(gen == 1L)
    assert(graft.table.Fs.readString(s"$store/_active_gen").trim == "1")
    assert(spark.read.parquet(s"$store/centroids-g1").count() == 2L)
    // RE-SEED keeps the quantizer's arity: a store whose erasure emptied
    // one list entirely must rebuild back to k centroids, max-min-seeded
    // from the surviving list's spread — never silently shrink
    val store2 = s"$base/reseed"
    Similarity.buildAnnStore(spark, store2, init)
    graft.table.StoreMaint.eraseKeys(spark, s"$store2/postings",
      Seq("list"), "vec_id", init.select(col("vec_id")))
    Similarity.appendAnnStore(
      (0 until 10).map(i => (i.toLong, 0L, vec(60.0 + 0.1 * i)))
        .toDF("vec_id", "label", "embedding")
        .select(col("vec_id"), col("embedding")), store2)
    Similarity.rebuildAnnStore(spark, store2, maxIters = 1, recallGate = 0.0)
    assert(spark.read.parquet(s"$store2/centroids-g1").count() == 2L,
      "re-seed must keep the stored arity after a list empties")
  }
}
