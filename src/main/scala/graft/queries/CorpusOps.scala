package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-construction operators a training-data pipeline runs between
  * cleaning and export: lexical retrieval (BM25), mixture rebalancing
  * (temperature sampling), benchmark decontamination at n-gram granularity,
  * and deterministic shard assignment for the final training shuffle.
  *
  * Cross-engine exactness discipline (every query here is hash-compared
  * against DuckDB): all scores are built from integer aggregates combined
  * with only IEEE-correctly-rounded operations (`+ - * /`, `sqrt`,
  * int64→double conversion) — never `ln`/`exp`/`pow`, whose libm results
  * may differ by an ulp between the JVM and DuckDB's C runtime. BM25's log
  * IDF is replaced by its rational core for this reason (documented at
  * [[q56Bm25]]).
  */
object CorpusOps {

  import TextOps.{normText, wsTokens}

  /** The engine-portable md5-60 hash family, shared via [[ColFns.h60]]. */
  private def h60(c: org.apache.spark.sql.Column) = graft.functions.ColFns.h60(c)

  // ---------------------------------------------------------------------
  // Lexical corpus store (SURVEY §9): (doc_id, dl) + (term, doc_id, tf,
  // positions) — POSITIONAL postings since v2 (phrase/proximity queries)
  // ---------------------------------------------------------------------

  /** Bump when the tokenizer or store schema changes shape — a store
    * written by older code must read as ABSENT, never as silently-wrong
    * postings (same contract as the MinHash signature store's version).
    * v2: postings carry the sorted 1-based `positions` array per
    * (doc, term) — Lucene's .prx analogue; tf = size(positions) kept as a
    * scalar so frequency consumers never touch the array.
    * v3: adds `maxscore/` — per term, its document frequency and the
    * maximum QUANTIZED BM25 impact over its postings (Anh–Moffat impact
    * quantization; Lucene's per-block impact metadata analogue), the
    * ingest artifact that lets q247 prune candidates by score upper
    * bound without touching their postings.
    * v5: the store manifest records what each part was derived from
    * (`maxscore/` from `postings/`); a manifest written without that
    * record would serve a stale `maxscore/`.
    */
  private val LexStoreFormatVersion = 5

  /** `postings/` is hash-partitioned on the term, 64 ways: a keyword
    * query prunes to its terms' partitions at the FILE level — the
    * partitioned-parquet analogue of an inverted index's segment fan-out
    * (local-mode stand-in for warehouse `bucketBy`, like `bands/` in the
    * signature store).
    */
  private[graft] val LexPostingBuckets = 64

  /** On-disk lexical store root for one corpus: `dl/` is (doc_id, dl);
    * `postings/` is (doc_id, term, tf) partitioned by `pbkt =
    * h60(term) mod 64`. Built ONCE per corpus at ingest time (Bench's
    * untimed hook), consumed by q56 BM25, q108 keyword extraction and
    * q121 index construction — at 100 TB this is the difference between
    * one corpus tokenize per INGEST and one per QUERY.
    */
  def lexStorePathFor(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_lexstore_v${LexStoreFormatVersion}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Query prefixes that consume the lexical store — harnesses consult
    * this to decide whether a run needs the store at all.
    */
  val lexConsumers: Set[String] =
    Set("q56", "q108", "q121", "q242", "q244", "q247", "q251", "q252", "q253",
      "q257", "q258", "q259", "q260", "q262")

  /** Kill switch for the store READ path. [[graft.ScaleSmoke]] sets it
    * false: its 1×-vs-10× ratios time the COLD tokenize on both sides.
    */
  @volatile private[graft] var lexStoreEnabled = true

  /** Scala-side twin of [[graft.functions.ColFns.h60]], for computing a
    * LITERAL query term's posting partition driver-side so the store read
    * prunes to exactly that partition. Must stay in lockstep with
    * ColFns.h60 (first 15 hex chars of md5, base-16 as long).
    */
  private[queries] def h60Scala(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private[queries] def lexBucketOf(term: String): Long =
    math.floorMod(h60Scala(term), LexPostingBuckets.toLong)

  /** Quantized BM25 impact (Anh–Moffat): the q56 rational core's double,
    * scaled by 10¹² and floored to a BIGINT. The products run in DOUBLE,
    * not BIGINT: 44·f·nTokens·(2(nDocs−nT)+1) exceeds Long.MaxValue on
    * large corpora (≈5·10²⁰ at ~100× with high-tf terms), where Spark's
    * non-ANSI BIGINT would WRAP silently while the DuckDB oracle raises —
    * a Spark-only score corruption no gate would trip on. Every IEEE-754
    * double op (left-associated multiplies/adds, ONE division, ×1e12,
    * floor) is correctly rounded and restated in the IDENTICAL order by
    * the oracles, so both engines still produce the same integer — which
    * keeps every downstream aggregate (sum per doc, max per term, the
    * q247 threshold compare) order-free integer math. The two small
    * factors (2(nDocs−nT)+1 and 2·nT+1) stay exact BIGINT and convert to
    * double losslessly (≪ 2⁵³ at any supported scale).
    */
  private[queries] def bm25ImpactQ(f: org.apache.spark.sql.Column,
      dl: org.apache.spark.sql.Column, nT: org.apache.spark.sql.Column,
      nDocs: org.apache.spark.sql.Column,
      nTokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val num = lit(44.0) * f * nTokens *
      (lit(2L) * (nDocs - nT) + lit(1L)).cast("double")
    val den = (lit(20.0) * f * nTokens + lit(6.0) * nTokens
      + lit(18.0) * dl * nDocs) * (lit(2L) * nT + lit(1L)).cast("double")
    floor(num / den * lit(1e12))
  }

  /** Materialize the lexical store: ONE tokenize pass over the corpus
    * feeds the tables (the token arrays persist across the writes).
    */
  def writeLexStore(spark: SparkSession, dir: String): Unit = {
    val store = lexStorePathFor(dir)
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(normText(col("text"))).as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dls = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
      dls.write.mode("overwrite").parquet(s"$store/dl")
      // positional postings: the collect_list buffer is per (doc, term) —
      // bounded by ONE document's length, never corpus-sized (unlike the
      // per-TERM postings buffer q121 had to excise)
      val posts = toks
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "term")))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("p0") + 1)).as("positions"))
      posts
        .withColumn("pbkt", pmod(h60(col("term")), lit(LexPostingBuckets.toLong)))
        .write.mode("overwrite").partitionBy("pbkt").parquet(s"$store/postings")
    } finally { toks.unpersist(blocking = true); () }
    // pin the exact corpus file set this store indexes — the freshness
    // probe is listing-fingerprint equality, never mtime ordering
    graft.table.StoreManifest.bump(store, Seq("dl", "postings"),
      corpus = Some(s"$dir/documents.parquet"))
    refreshMaxScores(spark, store)
  }

  /** (Re)compute the `maxscore/` per-term impact metadata from the
    * store's CURRENT `dl/` + `postings/`: df and the max quantized impact
    * over each term's postings — Lucene's per-block impact analogue,
    * computed with the global (N, T, df) so query-time upper bounds are
    * exactly comparable to query-time scores. One full-postings scoring
    * pass, paid at index build / compaction cadence like a real engine's;
    * the table is vocab-sized. This IS the refresh job the incremental
    * store defers to: impacts are non-monotone in the drifting global
    * stats, so they are recomputed here — never appended — and stamped
    * as derived from `postings/`, so the manifest serves them only while
    * no later write has moved `postings/` past them.
    */
  def refreshMaxScores(spark: SparkSession, store: String): Unit = {
    val dls = spark.read.parquet(s"$store/dl")
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    val p = spark.read.parquet(s"$store/postings")
      .select(col("doc_id"), col("term"), col("tf"))
    // df via a map-side-combinable agg + term-keyed join, NOT a window:
    // a stopword's term partition is corpus-sized and a window over it
    // would sort the whole postings list in one task
    val dfF = p.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    p.join(dls, Seq("doc_id")).join(dfF, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("q", bm25ImpactQ(col("tf"), col("dl"), col("n_t"),
        col("n_docs"), col("n_tokens")))
      .groupBy(col("term"))
      .agg(max(col("n_t")).as("df"), max(col("q")).as("max_q"))
      .withColumn("pbkt", pmod(h60(col("term")), lit(LexPostingBuckets.toLong)))
      .write.mode("overwrite").partitionBy("pbkt").parquet(s"$store/maxscore")
    graft.table.StoreManifest.bump(store, Seq("maxscore"), from = Seq("postings"))
  }

  /** LAYOUT MAINTENANCE for an incrementally-built lexical store — the
    * composition [[appendLexStore]] defers to, now wired: bin-pack the
    * per-trigger small files of `dl/` and `postings/` into
    * `targetBytes`-sized outputs ([[graft.table.StoreMaint.compact]] —
    * the q178 next-fit discipline run by the scan's own split planner,
    * zero shuffle), then recompute `maxscore/` with the post-append
    * global (N, T, df) so the WAND read path gets store-served upper
    * bounds again. Row contents are untouched; every retrieval oracle
    * must hash-match across a compaction.
    */
  def compactLexStore(spark: SparkSession, store: String,
      targetBytes: Long = 32L << 20): Unit = {
    graft.table.StoreMaint.compact(spark, s"$store/dl", Seq.empty, targetBytes)
    graft.table.StoreMaint.compact(spark, s"$store/postings", Seq("pbkt"), targetBytes)
    refreshMaxScores(spark, store)
  }

  /** END-TO-END MAINTENANCE CAMPAIGN over one fresh incremental store —
    * the scale harness's audit surface for the maintenance verbs
    * themselves (their cost model is asserted in prose everywhere else):
    * append the corpus in 8 batches, bin-pack compact, erase a doc
    * subset with copy-on-write, refresh the impact metadata, and serve
    * q247 from the result. Runs EAGERLY (the verbs are writes) and
    * returns a small AUDIT frame — one row per verb with the files it
    * saw/rewrote and its wall seconds — so a 100× campaign row exposes
    * each verb's own scaling, not just the total: append must tile with
    * data, compact with the small-file tail it just created, erase with
    * the subjects' file footprint, and the final read with the query
    * terms' postings.
    */
  def maintenanceCampaign(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.StoreMaint
    val store = s"${System.getProperty("java.io.tmpdir")}/graft_maintcamp_" +
      s"${java.util.UUID.randomUUID().toString.take(8)}/lexstore"
    def files() = StoreMaint.dataFileCount(s"$store/dl") +
      StoreMaint.dataFileCount(s"$store/postings")
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      val (_, tAppend) = timed {
        (0L until 8L).foreach(i =>
          appendLexStore(docs.filter(pmod(col("doc_id"), lit(8L)) === i), store))
      }
      val preCompact = files()
      val (nCompacted, tCompact) = timed {
        StoreMaint.compact(spark, s"$store/dl", Seq.empty, 32L << 20) +
          StoreMaint.compact(spark, s"$store/postings", Seq("pbkt"), 32L << 20)
      }
      val postCompact = files()
      val pred = graft.queries.IngestOps.erasePred(col("doc_id"))
      val (nErased, tErase) = timed {
        StoreMaint.eraseWhere(spark, s"$store/dl", Seq.empty, pred) +
          StoreMaint.eraseWhere(spark, s"$store/postings", Seq("pbkt"), pred)
      }
      val (_, tRefresh) = timed { refreshMaxScores(spark, store) }
      val ((qRows, qTop), tQuery) = timed {
        val rows = wandTopKFromStore(spark, store).collect()
        (rows.length.toLong, rows.headOption.map(_.getLong(2)).getOrElse(-1L))
      }
      val audit = Seq(
        ("append_8_batches", preCompact, preCompact, 0L, tAppend),
        ("compact_binpack", preCompact, postCompact, nCompacted, tCompact),
        ("erase_cow", postCompact, files(), nErased, tErase),
        ("refresh_maxscore", files(), files(), 0L, tRefresh),
        ("q247_from_store", qRows, qTop, 0L, tQuery))
      // per-verb audit to stderr so the scale harness's log carries the
      // files/secs breakdown alongside the wall-ratio row
      audit.foreach { case (v, fb, fa, fr, sec) =>
        System.err.println(
          f"[maint-campaign] $v%-18s files_before=$fb%-5d files_after=$fa%-5d " +
            f"files_rewritten=$fr%-5d secs=$sec%.2f")
      }
      spark.createDataFrame(audit)
        .toDF("verb", "files_before", "files_after", "files_rewritten", "secs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(store).getParentFile)
    }
  }

  /** ERASURE PROPAGATION into the lexical store (the q214 "right to be
    * forgotten" contract extended to the DERIVED artifact — at 100 TB the
    * index that still serves an erased document's tokens and positions
    * fails the obligation the table layer just honored): remove every
    * trace of the docs matching `pred` from `dl/` and `postings/` via
    * file-level copy-on-write (only files containing the subjects'
    * rows rewrite — the postings footprint of a doc batch is bounded by
    * its term buckets), then RECOMPUTE `maxscore/` from the surviving
    * postings: the global (N, T, df) all shrank, and a term that
    * occurred only in erased docs must vanish from the metadata too —
    * per-term rows are themselves derived content.
    */
  def eraseLexStore(spark: SparkSession, store: String,
      pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    graft.table.StoreMaint.eraseWhere(spark, s"$store/dl", Seq.empty, pred(col("doc_id")))
    graft.table.StoreMaint.eraseWhere(spark, s"$store/postings", Seq("pbkt"), pred(col("doc_id")))
    refreshMaxScores(spark, store)
  }

  /** Append ONE micro-batch of documents to an incremental lexical store
    * at `store` (q249's foreachBatch body): documents are immutable, so
    * per-doc postings are disjoint across batches and APPEND IS MERGE —
    * no read-modify-write, no compaction needed for correctness. Work is
    * batch-sized; the postings stay hash-partitioned on the term so the
    * incremental store prunes exactly like the batch-built one. The one
    * cost correctness doesn't see is FILE COUNT — each trigger appends a
    * file per partition — which is exactly what the engine's layout
    * maintenance exists for: the q178 bin-packing planner schedules the
    * rewrite and a q245-style dataChange=false pass publishes it without
    * disturbing downstream consumers.
    *
    * Deliberately NOT appended here: the `maxscore/` impact metadata.
    * Impacts depend on the GLOBAL (N, T, df), which drift with every
    * batch, and the BM25 core is non-monotone in them — a stale max_q is
    * not guaranteed to stay an upper bound. Recompute it at compaction
    * cadence; q247 stays exact meanwhile because its fallback derives
    * bounds from the current postings.
    */
  def appendLexStore(batch: DataFrame, store: String): Unit = {
    val toks = batch
      .select(col("doc_id"), wsTokens(normText(col("text"))).as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
        .write.mode("append").parquet(s"$store/dl")
      toks.select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "term")))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("p0") + 1)).as("positions"))
        .withColumn("pbkt", pmod(h60(col("term")), lit(LexPostingBuckets.toLong)))
        .write.mode("append").partitionBy("pbkt").parquet(s"$store/postings")
    } finally { toks.unpersist(blocking = true); () }
    // the postings stamp moving past maxscore's is exactly what makes the
    // read path distrust the (now stale-stats) impact bounds
    graft.table.StoreManifest.bump(store, Seq("dl", "postings"))
  }

  /** CDC-DRIVEN DERIVED-STORE SYNC: apply a Delta CHANGE DATA FEED
    * ([[graft.sources.DeltaLog.readChangeFeed]]) to the lexical store —
    * the consumer that keeps a retrieval index consistent with a table
    * that takes row-level updates and deletes, paying CHANGES-SIZED work
    * per version instead of the rebuild a snapshot diff would cost.
    * [[graft.table.StoreMaint.applyFeed]] owns the version order; this
    * store's steps: retracted keys erase from `dl/` and `postings/` via
    * the file-level copy-on-write semi-join, arrivals append through
    * [[appendLexStore]] (documents are immutable per incarnation, so
    * append is merge). One impact recompute at the end —
    * [[refreshMaxScores]]' globals drift with every slice, and stale
    * bounds are not upper bounds.
    */
  def syncLexStoreFromFeed(spark: SparkSession, store: String,
      feed: DataFrame): Unit = {
    graft.table.StoreMaint.applyFeed(feed, "doc_id", Seq("text"))(
      erase = { gone =>
        graft.table.StoreMaint.eraseKeys(spark, s"$store/dl", Seq.empty,
          "doc_id", gone)
        graft.table.StoreMaint.eraseKeys(spark, s"$store/postings",
          Seq("pbkt"), "doc_id", gone)
      },
      append = appendLexStore(_, store))
    refreshMaxScores(spark, store)
  }

  /** CATCH-UP feed apply — the consumer shape for a derived store that
    * slept through MANY commits: instead of [[syncLexStoreFromFeed]]'s
    * per-version replay (correct for small deltas, O(versions) CoW
    * rewrites on a long range), the feed COLLAPSES to its net effect per
    * doc — the newest change wins (within one version a postimage beats
    * its preimage; a same-version delete+insert nets to the insert, the
    * remove+re-add commit shape) — then ONE erase of every touched doc
    * and ONE append of the final-born rows. Cost is changes-sized
    * whatever the version count, the apply-side twin of
    * [[graft.sources.DeltaLog.readChangeFeed]]'s O(1)-scan grouped plan.
    * An EMPTY store bootstraps for free (the erase verbs no-op on absent
    * dirs), so this is also the from-scratch derive.
    */
  def catchupLexStoreFromFeed(spark: SparkSession, store: String,
      feed: DataFrame): Unit = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("_commit_version").desc, col("__born").desc)
    val net = feed.select(col("doc_id"), col("text"),
        col("_commit_version"),
        when(col("_change_type").isin("insert", "update_postimage"), 1)
          .otherwise(0).as("__born"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = net.select(col("doc_id"))
      graft.table.StoreMaint.eraseKeys(spark, s"$store/dl", Seq.empty,
        "doc_id", touched)
      graft.table.StoreMaint.eraseKeys(spark, s"$store/postings",
        Seq("pbkt"), "doc_id", touched)
      val born = net.filter(col("__born") === 1)
        .select(col("doc_id"), col("text"))
      if (born.limit(1).count() > 0) appendLexStore(born, store)
    } finally { net.unpersist(); () }
    // a FRESH store catching up over a delete-only range never created
    // dl/ (erase no-ops on absent dirs, nothing was born) — an empty
    // store is the correct outcome, not a PATH_NOT_FOUND in the
    // max-score refresh
    if (graft.table.Fs.isDir(s"$store/dl")) refreshMaxScores(spark, store)
  }

  /** The 120-commit catch-up fixture, one per (JVM, dir): the documents
    * corpus committed into a Delta table as 110 per-residue appends plus
    * 10 deletion-vector DELETEs (each retracting one doc_id%100 residue
    * of 90..99) — the month-offline history a derived-store consumer
    * catches up over. Immutable to its consumers.
    */
  private[queries] def catchupDelta(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q280camp", dir) { root =>
      import graft.sources.DeltaLog
      val delta = s"$root/delta"
      val d = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      (0 until 110).foreach { r =>
        DeltaLog.commitAppend(delta, d.filter(pmod(col("doc_id"), lit(110)) === r))
      }
      (0 until 10).foreach { k =>
        DeltaLog.deleteWhere(spark, delta,
          pmod(col("doc_id"), lit(100)) === (90 + k))
      }
      delta
    }

  /** The CATCH-UP CAMPAIGN (scale row): bootstrap a FRESH lexical store
    * from the 120-commit feed in one read — the grouped-plan
    * [[graft.sources.DeltaLog.readChangeFeed]] over every version, the
    * net-effect [[catchupLexStoreFromFeed]] apply, then the q56 probe
    * served from the caught-up store. The commit history is a hoisted
    * ingest fixture (one per JVM+dir); the TIMED region is exactly what
    * a consumer pays after a long sleep. The scale claim: cost tiles
    * with CHANGE VOLUME (the corpus), never with version count × table
    * size — the per-version union plan this round replaced would pay 120
    * scan setups before reading a row.
    */
  def feedCatchupCampaign(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = catchupDelta(spark, dir)
    val store = s"${ReplayFixtures.runRoot(dir, "q280run")}/lexstore"
    val feed = DeltaLog.readChangeFeed(spark, delta, -1L,
      DeltaLog.currentVersion(delta))
    catchupLexStoreFromFeed(spark, store, feed)
    bm25FromIncremental(spark, store)
  }

  /** q56's BM25 served from an INCREMENTALLY-built store (q249): dl and
    * the query terms' pruned postings partitions, same pipeline, same
    * oracle — how the store accumulated is invisible to retrieval.
    */
  def bm25FromIncremental(spark: SparkSession, store: String): DataFrame = {
    val docs = spark.read.parquet(s"$store/dl")
    val bkts = Q56Terms.map(lexBucketOf).distinct
    val tf = spark.read.parquet(s"$store/postings")
      .filter(col("pbkt").isin(bkts: _*) && col("term").isin(Q56Terms: _*))
      .select(col("doc_id"), col("term").as("token"), col("tf").as("f"))
    bm25From(docs, tf)
  }

  /** Per-term (df, max_q) impact metadata for literal `terms`, pruned to
    * their hash partitions — None when the store is absent/stale (q247
    * then derives the bounds from the query terms' scored postings:
    * exact either way, the store just makes the prune free).
    */
  private[queries] def maxScoresFor(spark: SparkSession, dir: String,
      terms: Seq[String]): Option[DataFrame] =
    lexStored(spark, dir, "maxscore").map { m =>
      val bkts = terms.map(lexBucketOf).distinct
      m.filter(col("pbkt").isin(bkts: _*) && col("term").isin(terms: _*))
        .select(col("term"), col("max_q"))
    }

  /** One store table read back when the kill switch is on and the store
    * manifest serves it for the corpus's CURRENT file set
    * ([[graft.table.StoreManifest.servable]]); `maxscore/` additionally
    * only while no append has moved `postings/` past it.
    */
  private def lexStored(spark: SparkSession, dir: String, part: String): Option[DataFrame] =
    Option.when(lexStoreEnabled)(lexStorePathFor(dir))
      .flatMap(graft.table.StoreManifest.servable(_, part, Some(s"$dir/documents.parquet")))
      .map(spark.read.parquet(_))

  /** The corpus (doc_id, text) scan for the STORE-OFF tokenize fallbacks,
    * fanned out when (and only when) its physical split count is below the
    * session's parallelism ([[graft.operators.Fanout.rebalance]] — an
    * exact no-op at scale, where the corpus has more row groups than
    * cores). The r18 verdict's #5: a single-row-group corpus file
    * otherwise runs the whole tokenize (regex normalize + split + explode)
    * in ONE task — the same unsplittable-input hazard q33 had. Only
    * ScaleSmoke's cold (store-disabled) rows pay these paths today; the
    * bench/Verify always run store-served.
    */
  private def corpusTextFanned(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Fanout.rebalance(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** (doc_id, dl) — the store's `dl/` when fresh, else one scan-side pass
    * over the corpus text.
    */
  private[queries] def docLengths(spark: SparkSession, dir: String): DataFrame =
    lexStored(spark, dir, "dl").getOrElse(
      corpusTextFanned(spark, dir).select(col("doc_id"),
        size(wsTokens(normText(col("text")))).cast("long").as("dl")))

  /** (doc_id, term, tf) over the whole vocabulary — the store's
    * `postings/` when fresh, else tokenize + partial-agg in session.
    */
  private[queries] def termFreqs(spark: SparkSession, dir: String): DataFrame =
    lexStored(spark, dir, "postings")
      .map(_.select(col("doc_id"), col("term"), col("tf")))
      .getOrElse(
        corpusTextFanned(spark, dir)
          .select(col("doc_id"), explode(wsTokens(normText(col("text")))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))

  /** (doc_id, term, tf) for literal `terms` only — pruned to the terms'
    * posting PARTITIONS when served by the store (the driver computes each
    * term's h60 bucket, so the scan touches ≤|terms| of the 64 partitions);
    * falls back to a token-filtered tokenize pass.
    */
  private[queries] def termFreqsFor(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame =
    lexStored(spark, dir, "postings") match {
      case Some(p) =>
        val bkts = terms.map(lexBucketOf).distinct
        p.filter(col("pbkt").isin(bkts: _*) && col("term").isin(terms: _*))
          .select(col("doc_id"), col("term"), col("tf"))
      case None =>
        corpusTextFanned(spark, dir)
          .select(col("doc_id"), explode(wsTokens(normText(col("text")))).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    }

  /** (doc_id, term, pos) — 1-based token positions for literal `terms`
    * only. Served by the v2 store's positional postings (pruned to the
    * terms' hash partitions, positions array exploded) when fresh; falls
    * back to a position-enumerating tokenize pass. Either way the frame
    * is O(matching postings) BEFORE any shuffle — the phrase operator
    * never moves corpus tokens.
    */
  private[queries] def termPositions(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame =
    lexStored(spark, dir, "postings") match {
      case Some(p) if p.columns.contains("positions") =>
        val bkts = terms.map(lexBucketOf).distinct
        p.filter(col("pbkt").isin(bkts: _*) && col("term").isin(terms: _*))
          .select(col("doc_id"), col("term"), explode(col("positions")).as("pos"))
      case _ =>
        corpusTextFanned(spark, dir)
          .select(col("doc_id"),
            posexplode(wsTokens(normText(col("text")))).as(Seq("p0", "term")))
          .filter(col("term").isin(terms: _*))
          .select(col("doc_id"), col("term"), (col("p0") + 1).as("pos"))
    }

  // ---------------------------------------------------------------------
  // q56: BM25 keyword search (rational-IDF variant)
  // ---------------------------------------------------------------------

  /** Query terms: literal keywords from the corpus vocabulary. At scale the
    * term list is the small side by construction (a user query), so the
    * token filter prunes the exploded stream BEFORE any shuffle.
    */
  private val Q56Terms = Seq("vector", "merge", "stream")

  /** BM25 top-10 docs per query term, k1 = 6/5, b = 3/4.
    *
    * Exactness: the standard `ln((N - n_t + 0.5) / (n_t + 0.5) + 1)` IDF is
    * replaced by its rational core `(2(N - n_t) + 1) / (2 n_t + 1)` — same
    * monotonicity in n_t (so the SAME ranking per term), but expressible as
    * one BIGINT numerator and denominator. With k1 = 6/5, b = 3/4 and
    * avgdl = T/N (T = corpus tokens, N = docs):
    *
    *   score = 44·f·T·(2(N − n_t) + 1)
    *         / [(20·f·T + 6·T + 18·dl·N) · (2·n_t + 1)]
    *
    * — every factor an exact BIGINT, the final value ONE double division
    * (IEEE-exact on both engines). Overflow headroom: the numerator is
    * ≈ 88·f·T·N; at 100 TB (T ≈ 2·10¹³, N ≈ 10¹¹) per-shard scoring (the
    * deployment §9 pattern) keeps it under 2⁶³.
    *
    * Scale shape: corpus stats (N, T) are a one-row broadcast agg (the q94
    * scalar-subquery idiom); the explode is filtered to query terms before
    * the (doc_id, token) shuffle, so shuffle bytes are O(matching
    * postings), not O(corpus tokens); the doc-length lookup BROADCASTS the
    * tiny postings frame against the corpus scan (the big side never
    * shuffles); df comes from a window over the already-tiny joined frame.
    */
  def q56Bm25(spark: SparkSession, dir: String): DataFrame = {
    // served from the persisted lexical store when fresh (dl + pruned
    // postings partitions — the corpus TEXT is never read or tokenized;
    // PlanSpec gates that no documents scan appears in the plan), with a
    // tokenize fallback when the store is absent
    bm25From(docLengths(spark, dir),
      termFreqsFor(spark, dir, Q56Terms)
        .select(col("doc_id"), col("term").as("token"), col("tf").as("f")))
  }

  /** The q56 scoring pipeline over explicit (doc_id, dl) and
    * (doc_id, token, f) frames — shared by the per-corpus store path and
    * q249's incrementally-maintained store.
    */
  private[queries] def bm25From(docs: DataFrame, tf: DataFrame): DataFrame = {
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    val postings = docs.join(broadcast(tf), Seq("doc_id"))
    val nT = count(lit(1)).over(Window.partitionBy(col("token")))
    val scored = postings.crossJoin(broadcast(stats))
      .withColumn("n_t", nT)
      // DOUBLE products for the same overflow reason as [[bm25ImpactQ]];
      // order matches the oracle's restatement op for op
      .withColumn("num",
        lit(44.0) * col("f") * col("n_tokens") *
          (lit(2L) * (col("n_docs") - col("n_t")) + lit(1L)).cast("double"))
      .withColumn("den",
        (lit(20.0) * col("f") * col("n_tokens") + lit(6.0) * col("n_tokens")
          + lit(18.0) * col("dl") * col("n_docs")) *
          (lit(2L) * col("n_t") + lit(1L)).cast("double"))
      .withColumn("score", col("num") / col("den"))
    val rk = row_number().over(
      Window.partitionBy(col("token")).orderBy(col("score").desc, col("doc_id")))
    scored.withColumn("rk", rk.cast("long"))
      .filter(col("rk") <= 10)
      .select(col("token"), col("rk"), col("doc_id"), col("score"))
      .orderBy(col("token"), col("rk"))
  }

  val q56Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS dl
      |  FROM documents),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM docs),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS f FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS token
      |    FROM documents)
      |  WHERE token IN ('vector', 'merge', 'stream')
      |  GROUP BY doc_id, token),
      |scored AS (
      |  SELECT t.token, t.doc_id,
      |    CAST(44 AS DOUBLE) * t.f * s.n_tokens * CAST(2 * (s.n_docs - count(*) OVER (PARTITION BY t.token)) + 1 AS DOUBLE)
      |    / ((CAST(20 AS DOUBLE) * t.f * s.n_tokens + CAST(6 AS DOUBLE) * s.n_tokens + CAST(18 AS DOUBLE) * d.dl * s.n_docs)
      |       * CAST(2 * count(*) OVER (PARTITION BY t.token) + 1 AS DOUBLE)) AS score
      |  FROM tf t JOIN docs d USING (doc_id) CROSS JOIN stats s)
      |SELECT token, CAST(rk AS BIGINT) AS rk, doc_id, score FROM (
      |  SELECT token, doc_id, score,
      |    row_number() OVER (PARTITION BY token ORDER BY score DESC, doc_id) AS rk
      |  FROM scored)
      |WHERE rk <= 10 ORDER BY token, rk""".stripMargin

  // ---------------------------------------------------------------------
  // q57: temperature (sqrt) mixture rebalancing
  // ---------------------------------------------------------------------

  /** Per-language sqrt-temperature downsampling (the α = 0.5 mixture-
    * rebalancing rule): a language with n docs keeps each doc with
    * probability min(1, sqrt(C / n)), C = 100 — expected kept count
    * min(n, sqrt(C·n)), i.e. dominant languages are suppressed toward the
    * square root of their size while small ones pass through whole.
    *
    * Membership is decided per doc by the recomputable md5-60-bit hash
    * fraction (same determinism contract as the q84 split: any job can
    * recompute the sample from the id alone — no stored assignment table,
    * which at 100 TB means the sample is a FILTER, not a materialization).
    * Exactness: p = least(1.0, sqrt(100.0 / n)) uses only correctly-rounded
    * ops; the hash fraction divides a 60-bit integer by 2⁶⁰. Hashes within
    * 128 of 2⁶⁰ round UP to exactly 1.0 in double (ulp there is 256), so
    * the p_keep >= 1 case is short-circuited explicitly — otherwise an
    * under-cap language could drop ~1e-16 of its docs, violating the
    * pass-through-whole contract.
    * Scale shape: one tiny per-lang count agg broadcast back, then a pure
    * scan-side projection + filter; the final per-lang rollup partial-aggs.
    */
  def q57TemperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("p_keep", least(lit(1.0), sqrt(lit(100.0) / col("n_docs"))))
    val hashFrac = h60(col("doc_id")).cast("double") / lit(1152921504606846976.0) // 2^60
    d.join(broadcast(counts), Seq("lang"))
      .withColumn("keep", col("p_keep") >= 1.0 || hashFrac < col("p_keep"))
      .groupBy(col("lang"))
      .agg(
        first(col("n_docs")).as("n_docs"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        first(col("p_keep")).as("p_keep"))
      .orderBy(col("lang"))
  }

  val q57Sql: String =
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_docs,
      |    least(1.0, sqrt(100.0 / count(*))) AS p_keep
      |  FROM documents GROUP BY lang)
      |SELECT d.lang, c.n_docs,
      |  count(CASE WHEN c.p_keep >= 1.0
      |             OR CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
      |             / 1152921504606846976.0 < c.p_keep THEN 1 END) AS n_kept,
      |  c.p_keep
      |FROM documents d JOIN counts c USING (lang)
      |GROUP BY d.lang, c.n_docs, c.p_keep ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q58: n-gram benchmark decontamination
  // ---------------------------------------------------------------------

  /** Benchmark decontamination at 4-gram granularity (the GPT-3/PaLM-style
    * n-gram overlap rule, scaled down from 13-grams to suit the fixture's
    * ~100-token small-vocabulary docs): every corpus doc sharing at least
    * one 4-token shingle with the benchmark set (here: every 37th doc) is
    * reported with its distinct-overlap count.
    *
    * Scale shape: the benchmark side is SMALL BY CONSTRUCTION (eval sets
    * are fixed-size, not corpus-sized) — its distinct shingle dictionary is
    * built once and broadcast, so the corpus side never shuffles its
    * exploded shingles: explode → broadcast-hash-join → per-doc partial
    * count-distinct. The corpus side's only wide exchange is the per-doc_id
    * aggregation of MATCHED shingles (rare by definition). A bloom-filter
    * pre-pass adds nothing here because the broadcast join IS already the
    * exact set-membership test at dictionary sizes an eval set can reach.
    */
  def q58Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val sh = d.select(col("doc_id"), explode(Dedup.shingles(col("text"), 4)).as("sh"))
    val bench = sh.filter(col("doc_id") % 37 === 0).select(col("sh")).distinct()
    sh.filter(col("doc_id") % 37 =!= 0)
      .join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  val q58Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
      |    ELSE list_distinct([array_to_string(toks[i:i+3], ' ') FOR i IN range(1, CAST(len(toks) AS INTEGER) - 2)]) END) AS sh
      |  FROM toks),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0)
      |SELECT c.doc_id, count(DISTINCT c.sh) AS n_hits
      |FROM sh c JOIN bench b USING (sh)
      |WHERE c.doc_id % 37 <> 0
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q59: deterministic shard assignment for training export
  // ---------------------------------------------------------------------

  /** The final training-data "global shuffle": every doc gets a
    * (shard, position) from the md5-60-bit hash — shard = h mod 16,
    * position = rank of h within the shard (doc_id tiebreak). The ordering
    * is pseudo-random but fully deterministic and recomputable, which is
    * what a resumable 100 TB export needs: any writer can regenerate its
    * shard's exact order with no coordination.
    *
    * Scale shape: ONE hash-partition exchange on shard (parallelism =
    * shard count — sized to the output file count at scale, the §9 knob),
    * per-shard sort bounded by shard size = n/16 with hash-uniform
    * (skew-free) occupancy; no global sort, no driver state.
    */
  def q59ShardExport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), h60(col("doc_id")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(16L)))
    val pos = row_number().over(
      Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
    d.withColumn("pos", pos.cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  val q59Sql: String =
    """SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id FROM (
      |  SELECT doc_id, h % 16 AS shard,
      |    row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS pos
      |  FROM (SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |        FROM documents))
      |ORDER BY shard, pos""".stripMargin

  /** Postings-list cap per term for q121. */
  private[graft] val Q121MaxPostings = 20

  /** q121: inverted-index construction — the index-build half of the
    * retrieval stack whose query half is q56 BM25: per term, its document
    * frequency, total term frequency, and the first [[Q121MaxPostings]]
    * doc ids of its SORTED postings list as an array column. The cap
    * bounds row width for the head of the Zipf curve (a stopword's full
    * postings list is corpus-sized — a real index shards those across
    * segment files, so the preview cap is the honest single-row cut);
    * `df` always reflects the FULL count. One explode, one (doc, term)
    * partial agg, one term-keyed agg — vocab-sized output. The postings
    * render as a comma-joined string (a parquet index would store the
    * array; the driver's hash gate compares scalars, so the query
    * serializes deterministically).
    */
  def q121InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    // the (doc_id, term, tf) stage is the lexical store's postings table
    // when fresh — index construction then reads the ingest artifact
    // instead of re-tokenizing the corpus
    val tf = termFreqs(spark, dir)
    // df/ttf: plain scalar partial agg — per-term state is two counters
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("ttf"))
    // postings preview: the min-Q121MaxPostings doc_ids per term through
    // the native TopKPerKey (bounded map-side heaps), NOT a
    // collect_list-then-slice — a stopword's corpus-sized postings list
    // must never occupy one non-spillable aggregation buffer. Only the
    // surviving ≤cap rows per term reach the (bounded) list build.
    val head = graft.plans.TopK.perKey(
      tf.select(col("term"), col("doc_id")),
      Seq("term"), Seq("doc_id" -> true), k = Q121MaxPostings)
    val postings = head.groupBy(col("term"))
      .agg(concat_ws(",",
        sort_array(collect_list(col("doc_id")))).as("postings"))
    stats.join(postings, Seq("term"))
      .select(col("term"), col("df"), col("ttf"), col("postings"))
      .orderBy(col("term"))
  }

  val q121Sql: String =
    s"""SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf,
       |  array_to_string((list(doc_id ORDER BY doc_id))[1:$Q121MaxPostings], ',') AS postings
       |FROM (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS term
       |    FROM documents)
       |  GROUP BY doc_id, term)
       |GROUP BY term ORDER BY term""".stripMargin

  // ---------------------------------------------------------------------
  // q247: WAND/MaxScore pruned top-k — quantized-impact upper bounds
  // ---------------------------------------------------------------------

  /** Result depth for the pruned multi-term top-k. */
  private[graft] val Q247K = 10

  /** q247: TOP-K disjunctive retrieval with WAND/MaxScore pruning over
    * QUANTIZED impacts — the doc score is Σ over matched query terms of
    * [[bm25ImpactQ]] (integer impacts make every aggregate order-free and
    * the prune an exact integer compare, no float epsilon). The pruning
    * protocol, batch-shaped:
    *
    *   1. θ = the K-th best EXACT score among docs matching the RAREST
    *      query term (a valid lower bound on the final K-th score —
    *      K-th best of a subset ≤ K-th best overall);
    *   2. every candidate's upper bound ub(d) = Σ max_q(t) over its
    *      matched terms, with max_q from the store's ingest-time impact
    *      metadata (Lucene per-block impacts analogue) — ub(d) ≥
    *      score(d) because max is over the FULL term postings;
    *   3. only survivors (ub ≥ θ) are ever scored: their postings join
    *      doc lengths; pruned docs never touch the dl table.
    *
    * Safety: d in the true top-K ⇒ score(d) ≥ K-th overall ≥ θ and
    * ub(d) ≥ score(d) ⇒ d survives — the pruned result EQUALS the brute
    * one (spec-asserted, and the oracle restates the brute ranking, so
    * any unsafe prune breaks the hash). Fewer than K seeds ⇒ θ = −∞ ⇒
    * no pruning, still exact.
    *
    * Scale: the candidate frame is postings-of-query-terms-sized; the
    * expensive stage (dl join + scoring) runs only on seeds + survivors.
    * The two driver-side collects are bounded: 3 df rows, K seed rows —
    * the documented q55/q220 pattern.
    */
  def q247WandTopK(spark: SparkSession, dir: String): DataFrame =
    q247Pipeline(spark, dir)._2

  /** Diagnostic for the spec: how many docs survive the upper-bound gate
    * (must be strictly fewer than the docs matching any query term, or
    * the prune stopped cutting).
    */
  private[graft] def q247SurvivorCount(spark: SparkSession, dir: String): Long =
    q247Pipeline(spark, dir)._1.count()

  /** The single query is the batch engine's 1-row special case: one
    * literal query (query_id 0, [[Q56Terms]]) through [[wandTopKBatch]],
    * query_id projected away. This retires the per-query driver
    * round-trips the standalone pipeline used for θ and df — the batch
    * path derives both inside the DAG — while the literal terms keep the
    * store reads partition-pruned.
    */
  private def q247Pipeline(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Q56Terms.map(t => org.apache.spark.sql.Row(0L, t)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
    val (survivors, topk) =
      wandTopKBatch(spark, dir, one, Q247K, literalTerms = Some(Q56Terms))
    (survivors,
      topk.select(col("rk"), col("doc_id"), col("score"), col("n_terms"))
        .orderBy(col("rk")))
  }

  // ---------------------------------------------------------------------
  // q253: batch-of-queries WAND — a fleet of queries scored in ONE DAG
  // ---------------------------------------------------------------------

  private[graft] val Q253NumQueries = 120
  private[graft] val Q253TermsPerQuery = 3
  private[graft] val Q253MaxVocab = 1024
  private[graft] val Q253Strides = 5

  /** The q253 query fleet, derived deterministically from the corpus
    * vocabulary so the DuckDB oracle can restate it: rank the top
    * [[Q253MaxVocab]] terms by (df DESC, term) — TakeOrdered, never a
    * global vocab sort; the rank window sees only those ≤1024 rows —
    * then assign query i the terms at ranks
    * `(i + j·(i mod 5 + 1)) mod v + 1` for j = 0..2: three terms per
    * query, bases sweeping the vocabulary, five stride shapes so the
    * fleets overlap realistically. DISTINCT guards the (query_id, term)
    * pair contract when a stride wraps onto itself on a tiny vocabulary.
    * In production the queries table is an INPUT (decontamination
    * probes, eval suites); this builder exists so the driver-checked
    * query is self-contained and data-derived.
    */
  def q253Queries(spark: SparkSession, dir: String): DataFrame = {
    val ranked = rankedVocab(spark, dir)
    val v = ranked.agg(count(lit(1)).as("v"))
    fleetHub(spark.range(Q253NumQueries).select(col("id").as("query_id"))
      .crossJoin(spark.range(Q253TermsPerQuery).select(col("id").as("j")))
      .crossJoin(broadcast(v))
      .withColumn("r",
        (col("query_id") + col("j") * (col("query_id") % Q253Strides + lit(1L)))
          % col("v") + lit(1L))
      .join(broadcast(ranked), col("rn") === col("r"))
      .select(col("query_id"), col("term")).distinct())
  }

  /** Materialize a FLEET-SIZED hub frame (the derived queries table —
    * ≤ fleet × terms-per-query rows) once per top-level query build via an
    * eager localCheckpoint, so every downstream reference is a row-sized
    * LogicalRDD scan instead of another embedded copy of the
    * vocabulary-ranking DAG. The fleet DAG references this frame ~13× in
    * q253 and ~28× in q262; AQE's runtime exchange reuse already
    * deduplicated the EXECUTION, but Catalyst + per-wave AQE re-planning
    * still paid for every embedded copy (r18 event logs: ~40% of q262 is
    * driver think time; guide §3.3 — very large plans make planning itself
    * the bottleneck, and localCheckpoint is the guide's own remedy).
    *
    * This is ONE driver-side action per FLEET BUILD — O(1) in the query
    * axis (10⁴ decontamination probes still cost the same one
    * materialization), which is the scale property the old zero-action
    * contract existed to protect; PlanSpec's gate now counts these
    * fleet-constant jobs instead of forbidding them. NOT result caching:
    * the frame is rebuilt from the parquet inputs on every call (Bench's
    * cold sweep drops the blocks between repeats, and each repeat
    * checkpoints its own fresh frame inside the timed region).
    */
  private def fleetHub(qt: DataFrame): DataFrame = qt.localCheckpoint()

  /** The top-[[Q253MaxVocab]] vocabulary ranked by (df DESC, term), as
    * (rn, term) — the frame both fleet-derivation builders ([[q253Queries]],
    * [[q260Queries]]) embed MANY times (every tfq/qrare/qterms reference in
    * the fleet DAG carries a copy). Served from the store's vocab-sized
    * `maxscore/` metadata when fresh: its `df` column is BY CONSTRUCTION the
    * same per-term posting count ([[refreshMaxScores]] writes
    * `max(n_t)` over `n_t = count(*) per term`, a constant within the
    * group), so the ranking is identical — but each embedded copy of this
    * subtree is then a vocab-sized scan + TakeOrdered instead of a full
    * postings scan + aggregation exchange. At r18's capture the fleet
    * plans embedded this subtree up to ~60× (q262: 16,103 plan lines, 358
    * scans), so the per-copy size directly bounds Catalyst/AQE replanning
    * time — guide §3.3/§7.3 (very large plans make planning itself the
    * bottleneck). Falls back to the postings aggregation when the store is
    * absent (identical values, ScaleSmoke's cold rows).
    */
  private def rankedVocab(spark: SparkSession, dir: String): DataFrame = {
    val byDf = lexStored(spark, dir, "maxscore") match {
      case Some(m) => m.select(col("term"), col("df").as("n_t"))
      case None => termFreqs(spark, dir)
        .groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    }
    byDf.orderBy(col("n_t").desc, col("term")).limit(Q253MaxVocab)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("n_t").desc, col("term"))).cast("long"))
      .select(col("rn"), col("term"))
  }

  /** BATCH WAND/MaxScore: the q247 pruning protocol applied per query_id
    * over a `queries(query_id, term)` table (distinct pairs), every query
    * scored in ONE DAG — zero per-query driver round-trips, and plan
    * construction performs no Spark action (PlanSpec-gated). Returns
    * (survivors, topk).
    *
    * Per query: θ = the k-th best EXACT score among the docs matching the
    * query's rarest term — a windowed seed ranking (row_number ≤ k, the
    * WindowGroupLimit idiom, then a per-query count/min agg); upper bound
    * ub(q,d) = Σ max_q(t) over d's matched terms from the store's
    * ingest-time impact metadata; only survivors (ub ≥ θ) reach the
    * dl-join + scoring stage. Safety is q247's argument per query
    * partition: d in query q's true top-k ⇒ score ≥ k-th ≥ θ_q and
    * ub ≥ score ⇒ d survives, so the pruned result EQUALS the brute one
    * (the oracle restates the brute ranking). A query with fewer than k
    * seeds gets θ = −∞ — unpruned but exact — for that query alone.
    *
    * Scale: candidates live in (query_id, doc_id) space — postings of
    * query terms fanned out only to the queries using them; df, θ, and
    * rarest-term frames are queries-sized broadcasts derived inside the
    * plan; the expensive scoring touches seeds + survivors only. The
    * QUERY axis adds no driver work — 10⁴ decontamination probes cost
    * the same number of Spark actions as one query: zero until collect.
    * `literalTerms` (when the query terms are compile-time literals)
    * keeps the posting/maxscore store reads pruned to the terms' hash
    * partitions, exactly like the single-query path.
    */
  def wandTopKBatch(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = Q247K,
      literalTerms: Option[Seq[String]] = None): (DataFrame, DataFrame) = {
    val docs = docLengths(spark, dir)
    val qt = queries.select(col("query_id"), col("term"))
    // postings of every query term (partition-pruned when terms are literal)
    val tfq0 = literalTerms match {
      case Some(ts) => termFreqsFor(spark, dir, ts)
      case None => termFreqs(spark, dir)
        .join(broadcast(qt.select(col("term")).distinct()), Seq("term"), "leftsemi")
    }
    // per-term upper bounds: the store's ingest-time metadata when fresh
    val maxs = literalTerms match {
      case Some(ts) => maxScoresFor(spark, dir, ts)
      case None => lexStored(spark, dir, "maxscore").map(
        _.join(broadcast(qt.select(col("term")).distinct()), Seq("term"), "leftsemi")
          .select(col("term"), col("max_q")))
    }
    wandCore(docs, tfq0, qt, maxs, k)
  }

  /** [[wandTopKBatch]] served from an EXPLICIT store path (an
    * incrementally-built / compacted / erased lexical store rather than
    * the corpus dir's canonical fixture): `dl/` and the query terms'
    * `postings/` partitions feed the identical pruning protocol. The
    * `maxscore/` metadata is read ONLY when the store manifest serves it
    * ([[graft.table.StoreManifest.servable]]) — impacts are non-monotone
    * in the global stats, so bounds computed before a later append are
    * NOT valid upper bounds; a stale table falls back to deriving exact
    * bounds from the current postings (same values the refresh would
    * write), and [[compactLexStore]] / [[refreshMaxScores]] restores the
    * store-served prune.
    */
  def wandTopKBatchFrom(spark: SparkSession, store: String, queries: DataFrame,
      k: Int = Q247K,
      literalTerms: Option[Seq[String]] = None): (DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$store/dl")
    val posts = spark.read.parquet(s"$store/postings")
    val qt = queries.select(col("query_id"), col("term"))
    val tfq0 = literalTerms match {
      case Some(ts) =>
        val bkts = ts.map(lexBucketOf).distinct
        posts.filter(col("pbkt").isin(bkts: _*) && col("term").isin(ts: _*))
          .select(col("doc_id"), col("term"), col("tf"))
      case None => posts.select(col("doc_id"), col("term"), col("tf"))
        .join(broadcast(qt.select(col("term")).distinct()), Seq("term"), "leftsemi")
    }
    val maxs = graft.table.StoreManifest.servable(store, "maxscore").map { p =>
      val m = spark.read.parquet(p)
      literalTerms match {
        case Some(ts) =>
          val bkts = ts.map(lexBucketOf).distinct
          m.filter(col("pbkt").isin(bkts: _*) && col("term").isin(ts: _*))
            .select(col("term"), col("max_q"))
        case None => m
          .join(broadcast(qt.select(col("term")).distinct()), Seq("term"), "leftsemi")
          .select(col("term"), col("max_q"))
      }
    }
    wandCore(docs, tfq0, qt, maxs, k)
  }

  /** The q247-shaped single-query ranking ([[Q56Terms]], top [[Q247K]])
    * served from an explicit store via [[wandTopKBatchFrom]] — the
    * compaction / erasure queries' read surface. Must hash-match
    * [[q247Sql]] restated over whatever corpus the store now indexes.
    */
  def wandTopKFromStore(spark: SparkSession, store: String): DataFrame =
    wandTopKBatchFrom(spark, store, oneQueryFrame(spark),
      Q247K, literalTerms = Some(Q56Terms))._2
      .select(col("rk"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy(col("rk"))

  /** Diagnostic twin of [[wandTopKFromStore]] for the prune-effectiveness
    * gates: the (survivors, topk) pair.
    */
  private[graft] def wandFromStorePair(spark: SparkSession,
      store: String): (DataFrame, DataFrame) =
    wandTopKBatchFrom(spark, store, oneQueryFrame(spark),
      Q247K, literalTerms = Some(Q56Terms))

  private def oneQueryFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Q56Terms.map(t => org.apache.spark.sql.Row(0L, t)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))

  /** The shared pruning/scoring DAG over explicit frames: `docs`
    * (doc_id, dl), `tfq0` (doc_id, term, tf) already restricted to the
    * query terms, `qt` (query_id, term), and optional per-term stored
    * bounds (term, max_q). See [[wandTopKBatch]] for the protocol and
    * safety argument.
    */
  private def wandCore(docs: DataFrame, tfq0: DataFrame, qt: DataFrame,
      storedMaxs: Option[DataFrame], k: Int): (DataFrame, DataFrame) = {
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    // global df per query term — the same idf the full scoring uses
    val dfQ = tfq0.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    // candidate postings per (query, doc)
    val tfq = tfq0.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("term"), col("doc_id"), col("tf").as("f"))
    // exact scores for a (query_id, doc_id) subset: ONLY these pairs'
    // postings ever join the dl table
    def scorePairs(pairs: DataFrame): DataFrame =
      tfq.join(pairs, Seq("query_id", "doc_id"))
        .join(broadcast(dfQ), Seq("term"))
        .join(docs, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("q", bm25ImpactQ(col("f"), col("dl"), col("n_t"),
          col("n_docs"), col("n_tokens")))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("q")).cast("long").as("score"), count(lit(1)).as("n_terms"))
    // rarest term per query — the batch twin of q247's (n_t, term) min
    val qrare = qt.join(dfQ, Seq("term"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("n_t").asc, col("term"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("term"))
    val seeds = tfq.join(broadcast(qrare), Seq("query_id", "term"))
      .select(col("query_id"), col("doc_id"))
    // θ per query from the windowed seed ranking: k-th best where a full
    // top-k exists, −∞ otherwise
    // θ stays LAZY (one row per query, but materializing it was measured
    // this round: q253 4.6→5.2, q258 5.5→6.4, q247 1.5→2.1 — the eager
    // barrier serializes seed scoring against the ub aggregation AQE
    // otherwise overlaps, and q247's small plan pays the barrier for no
    // re-planning win; reverted)
    val thetas = scorePairs(seeds)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rn") <= k)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("nseed"), min(col("score")).as("kth"))
      .select(col("query_id"),
        when(col("nseed") === k, col("kth"))
          .otherwise(lit(Long.MinValue)).as("theta"))
    // per-term upper bounds: the store's ingest-time metadata, else
    // derived from the query terms' scored postings (identical values —
    // the store just makes the prune free)
    val maxs = storedMaxs.getOrElse(
      tfq0.join(broadcast(dfQ), Seq("term"))
        .join(docs, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("q", bm25ImpactQ(col("tf"), col("dl"), col("n_t"),
          col("n_docs"), col("n_tokens")))
        .groupBy(col("term")).agg(max(col("q")).as("max_q")))
    val survivors = tfq.join(broadcast(maxs), Seq("term"))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(col("max_q")).as("ub"))
      .join(broadcast(thetas), Seq("query_id"))
      .filter(col("ub") >= col("theta"))
      .select(col("query_id"), col("doc_id"))
    val topk = scorePairs(survivors)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy(col("query_id"), col("rk"))
    (survivors, topk)
  }

  /** q253: the WAND fleet — [[Q253NumQueries]] data-derived queries
    * through [[wandTopKBatch]] in one DAG. The driver's oracle restates
    * the brute per-query ranking, so any unsafe prune on ANY query breaks
    * the hash.
    */
  def q253WandBatch(spark: SparkSession, dir: String): DataFrame =
    wandTopKBatch(spark, dir, q253Queries(spark, dir))._2

  /** MATERIALIZE the fleet artifacts once — `queries/` (query_id, term)
    * and `topk/` (the ranked frame) under `out` — so every downstream
    * consumer ([[q257FleetEvalFrom]] scorecard, [[q258FleetSnippetsFrom]]
    * snippets, ad-hoc inspection) reads ONE ranking instead of
    * re-deriving the fleet DAG per surface. The bench keeps the cold
    * per-query derivation (its honesty rule: every row re-derives its
    * own inputs); production pays the fleet DAG once per fleet, which is
    * the whole point of batching the query axis. Versions stamp through
    * the store manifest like every other derived artifact.
    */
  def fleetArtifacts(spark: SparkSession, dir: String, out: String): Unit = {
    q253Queries(spark, dir).write.mode("overwrite").parquet(s"$out/queries")
    val queries = spark.read.parquet(s"$out/queries")
    wandTopKBatch(spark, dir, queries)._2
      .write.mode("overwrite").parquet(s"$out/topk")
    // pin the corpus the ranking was computed over: a consumer must be
    // able to tell "this topk ranks THAT corpus" without trusting mtimes
    graft.table.StoreManifest.bump(out, Seq("queries", "topk"),
      corpus = Some(s"$dir/documents.parquet"))
  }

  /** One fleet artifact read back; refused when the store manifest does
    * not serve it for the corpus's current file set — a ranking over
    * yesterday's corpus silently serving today's queries is wrong
    * results, not slow ones.
    */
  private def fleetArtifact(spark: SparkSession, dir: String,
      artifacts: String, part: String): DataFrame =
    spark.read.parquet(graft.table.StoreManifest
      .servable(artifacts, part, Some(s"$dir/documents.parquet"))
      .getOrElse(throw new IllegalArgumentException(
        s"fleet artifacts at $artifacts are STALE: the corpus at $dir has " +
          "changed since they were materialized — re-run fleetArtifacts")))

  /** Brute restatement of the fleet: the same derived queries (row_number
    * over (df DESC, term) restates TakeOrdered-then-rank exactly), every
    * candidate scored, ranked per query. No pruning — so a WAND bug on
    * any of the 120 queries is a hash mismatch.
    */
  /** The q253 fleet restatement's CTE chain through `agg` (query_id,
    * doc_id, score, n_terms) — shared by the ranking oracle (q253) and
    * the fleet-eval oracle (q257).
    */
  private val q253CtesSql: String = {
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM docs),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS f FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS term
       |    FROM documents)
       |  GROUP BY doc_id, term),
       |vocab AS (SELECT term, count(*) AS n_t FROM tf GROUP BY term),
       |cap AS (
       |  SELECT term, n_t, rn FROM (
       |    SELECT term, n_t,
       |      row_number() OVER (ORDER BY n_t DESC, term) AS rn
       |    FROM vocab)
       |  WHERE rn <= $Q253MaxVocab),
       |vc AS (SELECT count(*) AS v FROM cap),
       |idx AS (
       |  SELECT p.query_id,
       |    (p.query_id + p.j * (p.query_id % $Q253Strides + 1)) % vc.v + 1 AS r
       |  FROM (SELECT q.range AS query_id, j.range AS j
       |        FROM range($Q253NumQueries) q, range($Q253TermsPerQuery) j) p
       |  CROSS JOIN vc),
       |qt AS (
       |  SELECT DISTINCT i.query_id, c.term, c.n_t
       |  FROM idx i JOIN cap c ON c.rn = i.r),
       |sc AS (
       |  SELECT q.query_id, t.doc_id,
       |    CAST(floor(
       |      CAST(44 AS DOUBLE) * t.f * s.n_tokens * CAST(2 * (s.n_docs - q.n_t) + 1 AS DOUBLE)
       |      / ((CAST(20 AS DOUBLE) * t.f * s.n_tokens + CAST(6 AS DOUBLE) * s.n_tokens + CAST(18 AS DOUBLE) * d.dl * s.n_docs)
       |         * CAST(2 * q.n_t + 1 AS DOUBLE))
       |      * 1e12) AS BIGINT) AS qq
       |  FROM tf t JOIN qt q USING (term) JOIN docs d USING (doc_id) CROSS JOIN stats s),
       |agg AS (
       |  SELECT query_id, doc_id, CAST(sum(qq) AS BIGINT) AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM sc GROUP BY query_id, doc_id)""".stripMargin
  }

  val q253Sql: String =
    s"""$q253CtesSql
       |SELECT query_id, rk, doc_id, score, n_terms FROM (
       |  SELECT query_id, doc_id, score, n_terms,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |  FROM agg)
       |WHERE rk <= $Q247K ORDER BY query_id, rk""".stripMargin

  val q247Sql: String = {
    val in = Q56Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM docs),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS f FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS term
       |    FROM documents)
       |  WHERE term IN ($in)
       |  GROUP BY doc_id, term),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(floor(
       |      CAST(44 AS DOUBLE) * t.f * s.n_tokens * CAST(2 * (s.n_docs - count(*) OVER (PARTITION BY t.term)) + 1 AS DOUBLE)
       |      / ((CAST(20 AS DOUBLE) * t.f * s.n_tokens + CAST(6 AS DOUBLE) * s.n_tokens + CAST(18 AS DOUBLE) * d.dl * s.n_docs)
       |         * CAST(2 * count(*) OVER (PARTITION BY t.term) + 1 AS DOUBLE))
       |      * 1e12) AS BIGINT) AS q
       |  FROM tf t JOIN docs d USING (doc_id) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id, CAST(sum(q) AS BIGINT) AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM sc GROUP BY doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
       |  doc_id, score, n_terms
       |FROM agg ORDER BY score DESC, doc_id LIMIT $Q247K""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q251: retrieval evaluation — exact precision/recall over the ranking
  // ---------------------------------------------------------------------

  /** Relevance threshold: a doc is relevant iff it matches at least this
    * many of the query's terms (derived labels — deterministic, so both
    * engines agree without a judgment file).
    */
  private[graft] val Q251RelMin = 2

  /** q251: RANKING EVALUATION of the q247 top-K — the offline-eval table
    * every retrieval pipeline materializes: per rank, the doc, its
    * relevance label, precision@k and recall@k. Labels derive
    * deterministically from the data (rel = matched query terms;
    * relevant ⇔ rel ≥ [[Q251RelMin]]), so the oracle restates them with
    * no judgment file. Metrics stay cross-engine exact by construction:
    * precision@k = hits/k and recall@k = hits/total are ONE
    * correctly-rounded division per row — never a float aggregate, and
    * no nDCG-style `log2` whose libm result could differ by an ulp.
    *
    * Scale: the ranking is q247's (pruned, store-served); the label join
    * touches only the K ranked docs; the relevant-total is one count over
    * the query terms' postings frame. Eval cost is ranking cost + ε.
    */
  def q251RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val topk = q247WandTopK(spark, dir)
    val totalRel = termFreqsFor(spark, dir, Q56Terms)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      .filter(col("nt") >= Q251RelMin).count()
    val w = Window.orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    topk
      .withColumn("rel", (col("n_terms") >= Q251RelMin).cast("int"))
      .withColumn("hits", sum(col("rel")).over(w).cast("long"))
      .withColumn("prec_at_k",
        col("hits").cast("double") / col("rk").cast("double"))
      .withColumn("recall_at_k",
        col("hits").cast("double") / lit(totalRel).cast("double"))
      .select(col("rk"), col("doc_id"), col("rel"), col("hits"),
        col("prec_at_k"), col("recall_at_k"))
      .orderBy(col("rk"))
  }

  val q251Sql: String = {
    // the q247 ranking restated, then labels + running metrics
    val in = Q56Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM docs),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS f FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS term
       |    FROM documents)
       |  WHERE term IN ($in)
       |  GROUP BY doc_id, term),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(floor(
       |      CAST(44 AS DOUBLE) * t.f * s.n_tokens * CAST(2 * (s.n_docs - count(*) OVER (PARTITION BY t.term)) + 1 AS DOUBLE)
       |      / ((CAST(20 AS DOUBLE) * t.f * s.n_tokens + CAST(6 AS DOUBLE) * s.n_tokens + CAST(18 AS DOUBLE) * d.dl * s.n_docs)
       |         * CAST(2 * count(*) OVER (PARTITION BY t.term) + 1 AS DOUBLE))
       |      * 1e12) AS BIGINT) AS q
       |  FROM tf t JOIN docs d USING (doc_id) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id, CAST(sum(q) AS BIGINT) AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM sc GROUP BY doc_id),
       |topk AS (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
       |    doc_id, n_terms
       |  FROM agg ORDER BY score DESC, doc_id LIMIT $Q247K),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_rel FROM agg
       |        WHERE n_terms >= $Q251RelMin)
       |SELECT rk, doc_id, CAST(n_terms >= $Q251RelMin AS INT) AS rel,
       |  CAST(sum(CAST(n_terms >= $Q251RelMin AS INT))
       |       OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits,
       |  CAST(sum(CAST(n_terms >= $Q251RelMin AS INT))
       |       OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |    / CAST(rk AS DOUBLE) AS prec_at_k,
       |  CAST(sum(CAST(n_terms >= $Q251RelMin AS INT))
       |       OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |    / CAST(t.total_rel AS DOUBLE) AS recall_at_k
       |FROM topk CROSS JOIN tot t
       |ORDER BY rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q257: fleet retrieval evaluation — q251's contract at batch scale
  // ---------------------------------------------------------------------

  /** q257 — FLEET RETRIEVAL EVALUATION: q251's offline-eval contract
    * applied to the whole q253 fleet, one eval row per query, everything
    * derived in DAGs with ZERO per-query driver work (q251's
    * driver-counted `totalRel` becomes a per-query agg + join). Per
    * query: its WAND top-k through [[wandTopKBatch]], the deterministic
    * relevance label (matched terms ≥ [[Q251RelMin]] — no judgment
    * file), hits@k, the per-query relevant-doc total over the FULL
    * candidate set, and exact P@k / R@k as ONE correctly-rounded
    * division each (R@k guarded to 0 for queries with no relevant doc —
    * both engines restate the guard, so no inf/NaN divergence). This is
    * the eval-suite shape a training-data pipeline actually runs:
    * thousands of queries, one scorecard frame, no driver loop.
    */
  def q257FleetEval(spark: SparkSession, dir: String): DataFrame = {
    val queries = q253Queries(spark, dir)
    val qt = queries.select(col("query_id"), col("term"))
    val (_, topk) = wandTopKBatch(spark, dir, queries)
    fleetEvalCore(spark, dir, qt, topk)
  }

  /** [[q257FleetEval]] served from MATERIALIZED fleet artifacts (see
    * [[fleetArtifacts]]): the scorecard re-derives nothing — queries and
    * the ranked frame come off disk ([[fleetArtifact]] refuses stale
    * ones), only the label joins run. The cold
    * entry point above stays the bench surface (the cold-sweep honesty
    * rule); this is the production shape, where one ranked frame feeds
    * scorecard + snippets.
    */
  def q257FleetEvalFrom(spark: SparkSession, dir: String,
      artifacts: String): DataFrame =
    fleetEvalCore(spark, dir,
      fleetArtifact(spark, dir, artifacts, "queries").select(col("query_id"), col("term")),
      fleetArtifact(spark, dir, artifacts, "topk"))

  private def fleetEvalCore(spark: SparkSession, dir: String,
      qt: DataFrame, topk: DataFrame): DataFrame = {
    // per-query relevant totals over ALL candidates (not just top-k):
    // docs matching >= RelMin of the query's terms — agg + broadcast
    // join, the batch twin of q251's bounded driver count
    val nrel = termFreqs(spark, dir)
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("nt"))
      .filter(col("nt") >= Q251RelMin)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    topk
      .withColumn("rel", (col("n_terms") >= Q251RelMin).cast("int"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(col("rel")).cast("long").as("hits_at_k"))
      .join(nrel, Seq("query_id"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("p_at_k", col("hits_at_k").cast("double") / col("k").cast("double"))
      .withColumn("r_at_k",
        when(col("n_rel") > 0,
          col("hits_at_k").cast("double") / col("n_rel").cast("double"))
          .otherwise(lit(0.0)))
      .select(col("query_id"), col("k"), col("hits_at_k"), col("n_rel"),
        col("p_at_k"), col("r_at_k"))
      .orderBy(col("query_id"))
  }

  /** Oracle: the fleet CTE chain through `agg`, then per-query top-k,
    * labels, totals, and the guarded divisions — brute per query, so a
    * wrong ranking OR a wrong label total on any of the 120 queries
    * breaks the hash.
    */
  val q257Sql: String =
    s"""$q253CtesSql,
       |topk AS (
       |  SELECT query_id, doc_id, n_terms FROM (
       |    SELECT query_id, doc_id, n_terms,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |    FROM agg)
       |  WHERE rk <= $Q247K),
       |nrel AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM agg WHERE n_terms >= $Q251RelMin GROUP BY query_id),
       |ev AS (
       |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(CAST(t.n_terms >= $Q251RelMin AS INT)) AS BIGINT) AS hits_at_k
       |  FROM topk t GROUP BY t.query_id)
       |SELECT e.query_id, e.k, e.hits_at_k,
       |  CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
       |  CAST(e.hits_at_k AS DOUBLE) / CAST(e.k AS DOUBLE) AS p_at_k,
       |  CASE WHEN coalesce(n.n_rel, 0) > 0
       |       THEN CAST(e.hits_at_k AS DOUBLE) / CAST(n.n_rel AS DOUBLE)
       |       ELSE 0.0 END AS r_at_k
       |FROM ev e LEFT JOIN nrel n USING (query_id)
       |ORDER BY e.query_id""".stripMargin

  // ---------------------------------------------------------------------
  // q258: fleet snippet spans — generic minimum covering window per query
  // ---------------------------------------------------------------------

  /** (doc_id, term, pos) for DATA-DERIVED term/doc sets (frames, not
    * literal lists — so no partition pruning; the store still saves the
    * tokenize), the batch twin of [[termPositions]]. Both prunes apply
    * BEFORE the positions explode — the fleet surfaces' terms are top-df
    * by construction, so an unpruned explode would enumerate a large
    * fraction of all corpus positions only to throw most of it away.
    */
  private def positionsFor(spark: SparkSession, dir: String,
      terms: Option[DataFrame], docs: Option[DataFrame]): DataFrame = {
    val all = positionsAll(spark, dir)
    val byDoc = docs.fold(all)(d =>
      all.join(broadcast(d.select(col("doc_id")).distinct()), Seq("doc_id"), "leftsemi"))
    val pruned = terms.fold(byDoc)(t =>
      byDoc.join(broadcast(t.select(col("term")).distinct()), Seq("term"), "leftsemi"))
    pruned.select(col("doc_id"), col("term"), explode(col("positions")).as("pos"))
  }

  /** The raw positional postings, (doc_id, term, positions) — the store's
    * v2 arrays when fresh, else one tokenize pass. Shared by
    * [[positionsFor]] and the fleet span/text stages, which apply their
    * prune by joining the result-page frame DIRECTLY (one reference to the
    * expensive upstream DAG) instead of a separate semi-join prune + later
    * re-join of the same frame.
    */
  private def positionsAll(spark: SparkSession, dir: String): DataFrame =
    lexStored(spark, dir, "postings") match {
      case Some(p) if p.columns.contains("positions") =>
        p.select(col("doc_id"), col("term"), col("positions"))
      case _ =>
        corpusTextFanned(spark, dir)
          .select(col("doc_id"), wsTokens(normText(col("text"))).as("ws"))
          .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "term")))
          .groupBy(col("doc_id"), col("term"))
          .agg(sort_array(collect_list(col("p0") + 1)).as("positions"))
    }

  /** q258 — FLEET SNIPPET SPANS: q252's highlight primitive rebased on the
    * batch surface — for every q253 query and each of its top-k docs
    * matching ALL the query's terms, the minimum-width token window
    * covering one occurrence of each term. q252's fixed three-way
    * occurrence join cannot express a variable per-query term set, so the
    * window comes from the CLASSIC minimum-covering construction instead:
    * every occurrence is an END candidate; for each end e, the tightest
    * covering window ending at e starts at min over terms of (that term's
    * latest occurrence ≤ e); a window covers iff all plen terms have such
    * an occurrence; the per-doc best is the lexicographic (span, start)
    * min — ties break toward the earliest window, q252's rule.
    *
    * "Latest occurrence of term t ≤ end e" is computed with the as-of
    * union + running-max idiom (the [[Temporal.q70]] shape), NOT a
    * position self-join: replicate each end once per query term (occ
    * NULL), union that with the terms' own occurrences (occ = pos), and a
    * single running max per (query, doc, term) ordered by (pos, is_end)
    * carries the term's latest position onto every end row it passes.
    * That is O(P·|terms|) rows where P is the query terms' occurrence
    * count in one ranked doc — the former qp⋈qp self-join on bare
    * (query, doc) was O(P²), which tracks doc length squared for the
    * fleet's top-df terms (PlanSpec gates the self-join's return). Every
    * stage is bounded by the ranked docs' own occurrence counts over at
    * most fleet × k docs — result-page-sized, never corpus-shaped, and no
    * per-query driver work anywhere.
    */
  def q258FleetSnippets(spark: SparkSession, dir: String): DataFrame = {
    val queries = q253Queries(spark, dir)
    val qt = queries.select(col("query_id"), col("term"))
    val (_, topk) = wandTopKBatch(spark, dir, queries)
    fleetSnippetsCore(spark, dir, qt, topk)
  }

  /** [[q258FleetSnippets]] served from MATERIALIZED fleet artifacts (see
    * [[fleetArtifacts]]) — the span stage runs over the stored ranked
    * frame instead of re-deriving the whole fleet DAG.
    */
  def q258FleetSnippetsFrom(spark: SparkSession, dir: String,
      artifacts: String): DataFrame =
    fleetSnippetsCore(spark, dir,
      fleetArtifact(spark, dir, artifacts, "queries").select(col("query_id"), col("term")),
      fleetArtifact(spark, dir, artifacts, "topk"))

  private def fleetSnippetsCore(spark: SparkSession, dir: String,
      qt: DataFrame, topk: DataFrame): DataFrame = {
    val qsz = qt.groupBy(col("query_id")).agg(count(lit(1)).as("plen"))
    // ranked docs matching ALL the query's terms (q252's contract) —
    // RESULT-PAGE-SIZED (≤ fleet × k rows), materialized once like the
    // queries hub: the span stage below is otherwise planned as one DAG
    // with the whole fleet-ranking chain inside it, and every AQE wave of
    // the span stage re-plans that chain too. Cutting here caps the span
    // stage's plan at its own operators. Same one-action-per-fleet-build
    // scale argument as [[fleetHub]].
    val full = (topk.join(broadcast(qsz), Seq("query_id"))
      .filter(col("n_terms") === col("plen"))
      .select(col("query_id"), col("rk"), col("doc_id"))
      ).localCheckpoint()
    // doc prune for the positions explode: exactly the RANKED docs
    // (fleet × k ids, broadcast). The fleet's terms are top-df by
    // construction — their postings are the longest lists in the store —
    // so any looser prune (e.g. "docs matching all of some query's
    // terms") leaves the explode near-corpus-sized; this one bounds it by
    // the result page. `full` (the ENTIRE fleet-ranking DAG) is referenced
    // exactly ONCE: the former shape (semi-join doc prune + a later
    // re-join of `full` to attach rk) embedded the ranking DAG twice, and
    // while AQE's runtime exchange reuse deduplicates the execution,
    // Catalyst/AQE replanning still pays for every embedded copy — r18's
    // event logs put ~40% of q262 in exactly that driver think time
    // (guide §3.3: plan size itself becomes the bottleneck). Joining the
    // broadcast result-page frame directly is the same prune (inner join
    // on the key the semi-join pruned on), the same rows, one copy.
    // Membership (query_id, term) ∈ qt is applied BEFORE the positions
    // explode, so only query-term arrays ever unnest.
    val qp = positionsAll(spark, dir)
      .join(broadcast(full), Seq("doc_id"))
      .join(broadcast(qt), Seq("query_id", "term"))
      .select(col("query_id"), col("doc_id"), col("rk"), col("term"),
        explode(col("positions")).as("pos0"))
      .select(col("query_id"), col("doc_id"), col("rk"), col("term"),
        col("pos0").cast("long").as("pos"))
    // as-of union + running-max: occurrences carry their own position as
    // occ; each end candidate is replicated once per query term with occ
    // NULL. Both event kinds are generated in a SINGLE pass over qp (an
    // array explode against the query's broadcast term list — a union of
    // two selects over qp would execute the qp subtree, fleet DAG
    // included, twice). Ordering occurrences (is_end=0) before the end
    // row at the same position keeps the contract inclusive (an
    // occurrence AT the end position covers it). After the window, each
    // end row's lp IS "that term's latest occurrence ≤ end" — NULL when
    // the term has not appeared yet, so count(lp) is the covering count.
    val qterms = qt.groupBy(col("query_id"))
      .agg(sort_array(collect_list(col("term"))).as("qterms"))
    val ev = qp
      .join(broadcast(qterms), Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("rk"), col("pos"),
        explode(concat(
          array(struct(col("term").as("term"),
            col("pos").as("occ"), lit(0).as("is_end"))),
          transform(col("qterms"), t => struct(t.as("term"),
            lit(null).cast("long").as("occ"), lit(1).as("is_end")))
        )).as("e"))
      .select(col("query_id"), col("doc_id"), col("rk"), col("pos"),
        col("e.term").as("term"), col("e.occ").as("occ"),
        col("e.is_end").as("is_end"))
    val asofW = Window.partitionBy(col("query_id"), col("doc_id"), col("term"))
      .orderBy(col("pos"), col("is_end"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastp = ev
      .withColumn("lp", max(col("occ")).over(asofW))
      .filter(col("is_end") === 1)
      .select(col("query_id"), col("doc_id"), col("rk"),
        col("pos").as("endp"), col("term"), col("lp"))
    val spans = lastp.groupBy(col("query_id"), col("doc_id"), col("rk"), col("endp"))
      .agg(count(col("lp")).as("ncov"), min(col("lp")).as("start"))
      .join(broadcast(qsz), Seq("query_id"))
      .filter(col("ncov") === col("plen"))
      .withColumn("span", col("endp") - col("start") + 1)
    spans.groupBy(col("query_id"), col("doc_id"), col("rk"))
      .agg(min(struct(col("span"), col("start"))).as("best"))
      .select(col("query_id"), col("rk"), col("doc_id"),
        col("best.span").as("span_len"), col("best.start").as("span_start"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Oracle: the fleet CTE chain, then the identical classic construction
    * brute per (query, doc) — per-end tightest windows, covering test
    * against the query's term count, (span, start)-lexicographic best.
    */
  val q258Sql: String =
    s"""$q253CtesSql,
       |toks2 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS tl
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(tl) AS term,
       |        unnest(range(1, len(tl) + 1)) AS pos FROM toks2),
       |qsz AS (SELECT query_id, CAST(count(*) AS BIGINT) AS plen FROM qt GROUP BY query_id),
       |topk AS (
       |  SELECT query_id, doc_id, n_terms, rk FROM (
       |    SELECT query_id, doc_id, n_terms, score,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |    FROM agg)
       |  WHERE rk <= $Q247K),
       |fullm AS (
       |  SELECT t.query_id, t.rk, t.doc_id
       |  FROM topk t JOIN qsz z USING (query_id) WHERE t.n_terms = z.plen),
       |qp AS (
       |  SELECT q.query_id, f.doc_id, f.rk, p.term, p.pos
       |  FROM p JOIN qt q ON q.term = p.term
       |  JOIN fullm f ON f.query_id = q.query_id AND f.doc_id = p.doc_id),
       |lastp AS (
       |  SELECT e.query_id, e.doc_id, e.pos AS endp, p2.term, max(p2.pos) AS lp
       |  FROM qp e JOIN qp p2
       |    ON p2.query_id = e.query_id AND p2.doc_id = e.doc_id AND p2.pos <= e.pos
       |  GROUP BY 1, 2, 3, 4),
       |cov AS (
       |  SELECT query_id, doc_id, endp, count(*) AS ncov, min(lp) AS start
       |  FROM lastp GROUP BY 1, 2, 3),
       |spans AS (
       |  SELECT c.query_id, c.doc_id, c.endp - c.start + 1 AS span, c.start
       |  FROM cov c JOIN qsz z USING (query_id) WHERE c.ncov = z.plen),
       |best AS (
       |  SELECT query_id, doc_id, min(span) AS span_len FROM spans GROUP BY 1, 2)
       |SELECT f.query_id, f.rk, f.doc_id,
       |  CAST(b.span_len AS BIGINT) AS span_len,
       |  CAST(min(s.start) AS BIGINT) AS span_start
       |FROM best b
       |JOIN spans s ON s.query_id = b.query_id AND s.doc_id = b.doc_id
       |  AND s.span = b.span_len
       |JOIN fullm f ON f.query_id = b.query_id AND f.doc_id = b.doc_id
       |GROUP BY f.query_id, f.rk, f.doc_id, b.span_len
       |ORDER BY f.query_id, f.rk""".stripMargin

  /** q262 — FLEET SNIPPET TEXT: q258's minimum covering spans
    * MATERIALIZED as the page-ready token windows — the last step of the
    * retrieval product (a search UI renders strings, not offsets). The
    * ranked docs' token streams are RECONSTRUCTED from the store's
    * positional postings ((term, positions) exploded and re-sorted by
    * position — the corpus text is never read), restricted to the fleet's
    * ranked docs BEFORE the explode; each doc's tokens join its spans
    * (the fleet × k span frame broadcasts) and one sorted collect per
    * (query, doc) emits the window. Work is bounded by the ranked docs'
    * lengths × their span count — result-page-sized, never corpus-shaped.
    */
  def q262FleetSnippetText(spark: SparkSession, dir: String): DataFrame =
    snippetTextCore(spark, dir, q258FleetSnippets(spark, dir))

  /** [[q262FleetSnippetText]] served from MATERIALIZED fleet artifacts
    * (see [[fleetArtifacts]]): the spans come from
    * [[q258FleetSnippetsFrom]]'s stored-ranking path, so the heaviest
    * bench row's production shape re-derives NO fleet DAG — one ranked
    * frame feeds scorecard, spans and page text. Stale artifacts REFUSE
    * ([[fleetArtifact]]).
    */
  def q262FleetSnippetTextFrom(spark: SparkSession, dir: String,
      artifacts: String): DataFrame =
    snippetTextCore(spark, dir, q258FleetSnippetsFrom(spark, dir, artifacts))

  private def snippetTextCore(spark: SparkSession, dir: String,
      spans: DataFrame): DataFrame = {
    // `spans` — the ENTIRE q258 chain, fleet ranking included — is
    // referenced exactly ONCE: the former shape (distinct-doc semi-join
    // prune + a later broadcast re-join of the same frame) embedded the
    // q258 DAG twice, doubling q262's plan for zero extra information.
    // The broadcast inner join on doc_id IS the doc prune; the span-window
    // filter runs after the positions explode exactly as before. The spans
    // frame is result-page-sized (fleet × k rows) and is materialized once
    // (same one-action-per-fleet-build scale argument as [[fleetHub]]) so
    // the text stage's plan is its own operators, not the whole upstream
    // chain re-planned at every AQE wave.
    positionsAll(spark, dir)
      .join(broadcast(spans.localCheckpoint()), Seq("doc_id"))
      .select(col("query_id"), col("rk"), col("doc_id"),
        col("span_len"), col("span_start"),
        col("term"), explode(col("positions")).as("pos"))
      .filter(col("pos") >= col("span_start") &&
        col("pos") < col("span_start") + col("span_len"))
      .groupBy(col("query_id"), col("rk"), col("doc_id"),
        col("span_len"), col("span_start"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("pos"), col("term")))),
          e => e.getField("term"))).as("snippet"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Oracle: q258's whole CTE chain as `sp`, then the DuckDB list slice
    * of the tokenized doc — a reconstruction bug (wrong order, missing
    * token, off-by-one window) breaks the hash on any of the fleet's
    * 1,100+ snippets.
    */
  val q262Sql: String = {
    val body = q258Sql.stripSuffix("\nORDER BY f.query_id, f.rk")
    val idx = body.lastIndexOf("SELECT f.query_id")
    val ctes = body.substring(0, idx).trim.stripSuffix(",")
    val select = body.substring(idx)
    s"""$ctes,
       |sp AS (
       |$select)
       |SELECT sp.query_id, sp.rk, sp.doc_id, sp.span_len, sp.span_start,
       |  array_to_string(t.tl[sp.span_start:sp.span_start + sp.span_len - 1], ' ') AS snippet
       |FROM sp JOIN toks2 t USING (doc_id)
       |ORDER BY sp.query_id, sp.rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q252: snippet spans — minimum covering window over the top-k docs
  // ---------------------------------------------------------------------

  /** q252: SNIPPET SPANS for the result page — for each q247 top-K doc
    * that matches ALL query terms, the minimum-width token window
    * containing one occurrence of each (the highlight primitive every
    * search UI runs over its k results, never over the corpus). Spans
    * come from the positional store: one pruned-partition read per query
    * term, restricted to the K ranked docs, then a per-doc combination
    * bounded by the doc's OWN occurrence counts (k · f_a·f_b·f_c rows —
    * result-page-sized, corpus-independent). The argmin is the
    * lexicographic (span, start) minimum, so ties break deterministically
    * toward the earliest window.
    */
  def q252SnippetSpans(spark: SparkSession, dir: String): DataFrame = {
    val topk = q247WandTopK(spark, dir).select(col("rk"), col("doc_id"))
    val pos = termPositions(spark, dir, Q56Terms)
      .join(broadcast(topk), Seq("doc_id"))
    def occ(t: String, alias: String) =
      pos.filter(col("term") === t).select(col("doc_id"), col("pos").as(alias))
    val Seq(t0, t1, t2) = Q56Terms
    val spans = occ(t0, "pa").join(occ(t1, "pb"), Seq("doc_id"))
      .join(occ(t2, "pc"), Seq("doc_id"))
      .withColumn("span",
        (greatest(col("pa"), col("pb"), col("pc"))
          - least(col("pa"), col("pb"), col("pc")) + 1).cast("long"))
      .withColumn("start",
        least(col("pa"), col("pb"), col("pc")).cast("long"))
    spans.groupBy(col("doc_id"))
      .agg(min(struct(col("span"), col("start"))).as("best"))
      .select(col("doc_id"), col("best.span").as("span_len"),
        col("best.start").as("span_start"))
      .join(topk, Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("span_len"), col("span_start"))
      .orderBy(col("rk"))
  }

  val q252Sql: String = {
    val Seq(t0, t1, t2) = Q56Terms
    val in = Q56Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens FROM docs),
       |toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS tl
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(tl) AS term,
       |        unnest(range(1, len(tl) + 1)) AS pos FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS f FROM p
       |       WHERE term IN ($in) GROUP BY doc_id, term),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(floor(
       |      CAST(44 AS DOUBLE) * t.f * s.n_tokens * CAST(2 * (s.n_docs - count(*) OVER (PARTITION BY t.term)) + 1 AS DOUBLE)
       |      / ((CAST(20 AS DOUBLE) * t.f * s.n_tokens + CAST(6 AS DOUBLE) * s.n_tokens + CAST(18 AS DOUBLE) * d.dl * s.n_docs)
       |         * CAST(2 * count(*) OVER (PARTITION BY t.term) + 1 AS DOUBLE))
       |      * 1e12) AS BIGINT) AS q
       |  FROM tf t JOIN docs d USING (doc_id) CROSS JOIN stats s),
       |agg AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS score FROM sc GROUP BY doc_id),
       |topk AS (
       |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
       |    doc_id
       |  FROM agg ORDER BY score DESC, doc_id LIMIT $Q247K),
       |spans AS (
       |  SELECT a.doc_id,
       |    greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) + 1 AS span,
       |    least(a.pos, b.pos, c.pos) AS start
       |  FROM (SELECT doc_id, pos FROM p WHERE term = '$t0') a
       |  JOIN (SELECT doc_id, pos FROM p WHERE term = '$t1') b USING (doc_id)
       |  JOIN (SELECT doc_id, pos FROM p WHERE term = '$t2') c USING (doc_id)
       |  JOIN topk USING (doc_id)),
       |m AS (SELECT doc_id, min(span) AS span_len FROM spans GROUP BY doc_id)
       |SELECT t.rk, m.doc_id, CAST(m.span_len AS BIGINT) AS span_len,
       |  CAST(min(s.start) AS BIGINT) AS span_start
       |FROM spans s JOIN m ON s.doc_id = m.doc_id AND s.span = m.span_len
       |JOIN topk t ON t.doc_id = m.doc_id
       |GROUP BY t.rk, m.doc_id, m.span_len
       |ORDER BY t.rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q242: phrase retrieval over the positional postings store
  // ---------------------------------------------------------------------

  /** Literal query phrases. The second repeats a term — the case where
    * the adjacency intersect must key on the PHRASE SLOT (idx), not the
    * term string, or a single occurrence would satisfy both slots.
    */
  private[graft] val Q242Phrases = Seq("merge batch part", "table table")

  /** q242: exact PHRASE search — the proximity rung of the retrieval
    * stack above q56's bag-of-words BM25, served by the v2 lexical
    * store's positional postings. A phrase of terms t_0..t_{L-1} matches
    * doc d at start s iff t_i occurs at position s+i for every i — the
    * diagonal trick q130's substring extension uses, applied to query
    * terms: shift every posting position by its phrase slot
    * (start = pos − idx) and a start where all L distinct slots appear is
    * a match. Output: (phrase, doc_id, hits, first_pos), every occurrence
    * counted, ordered for the driver's hash gate.
    *
    * Scale shape: the postings read prunes to the query terms' hash
    * partitions (≤|terms| of 64 — file-level pruning, the corpus TEXT is
    * never read; PlanSpec-gated); the exploded position stream is
    * O(matching postings); the (phrase, doc, start) partial agg is
    * map-side combinable and the per-group state is one small bitset of
    * slots. The query frame (phrase, term, idx, plen) broadcasts — rows =
    * total phrase tokens, a user query by construction.
    */
  def q242PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qrows = Q242Phrases.flatMap { ph =>
      val ts = ph.split(" ")
      ts.zipWithIndex.map { case (t, i) => (ph, t.toLowerCase, i.toLong) }
    }
    // the literal special case of the FLEET matcher: query_id = the
    // phrase string, positions read through the literal-term path so the
    // postings scan keeps its hash-partition pruning
    val ph = qrows.toDF("query_id", "term", "slot")
    val allTerms = qrows.map(_._2).distinct
    phraseMatchCore(termPositions(spark, dir, allTerms), ph)
      .select(col("query_id").as("phrase"), col("doc_id"),
        col("hits"), col("first_pos"))
      .orderBy(col("phrase"), col("doc_id"))
  }

  /** The slot-keyed diagonal phrase intersect over a
    * `phrases(query_id, slot, term)` frame — the FLEET-GENERIC core both
    * [[q242PhraseSearch]] (literal phrases) and [[q259PhraseFleet]]
    * (a data-derived phrase table) specialize. A phrase of terms
    * t_0..t_{L-1} matches doc d at start s iff t_i occurs at position
    * s+i for every slot i: shift every posting position by its slot
    * (start = pos − slot) and a start where all L DISTINCT slots appear
    * is a match (slot-keyed, so a repeated term cannot satisfy two slots
    * with one occurrence). Per-query L comes from the frame itself, so
    * term counts may vary across the fleet.
    *
    * Scale shape: ONE DAG for any number of phrases — the phrase frame
    * broadcasts (query tokens by construction), the exploded position
    * stream is O(matching postings), the (query, doc, start) partial agg
    * is map-side combinable with one small slot-bitset per group, and
    * the query axis adds zero driver work.
    */
  private def phraseMatchCore(positions: DataFrame, ph: DataFrame): DataFrame = {
    val plen = ph.groupBy(col("query_id"))
      .agg(countDistinct(col("slot")).as("plen"))
    positions
      .join(broadcast(ph), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"),
        (col("pos").cast("long") - col("slot").cast("long")).as("start"))
      .agg(countDistinct(col("slot")).as("nslot"))
      .join(broadcast(plen), Seq("query_id"))
      .filter(col("nslot") === col("plen"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("hits"), min(col("start")).cast("long").as("first_pos"))
  }

  private[graft] val Q259NumPhrases = 120
  private[graft] val Q259PhraseLen = 3

  /** q259 — FLEET PHRASE SEARCH: [[q242PhraseSearch]]'s exact-phrase
    * matching generalized to a DATA-DERIVED phrase table, the same
    * batch-axis move [[q253WandBatch]] made on q247. The fleet is the
    * first [[Q259PhraseLen]] tokens of the [[Q259NumPhrases]]
    * smallest-id documents long enough to donate one (decontamination's
    * exact shape: benchmark prompts are themselves document prefixes
    * probed against the training corpus in bulk) — derived from the
    * store's own positional postings (positions ≤ L for the selected
    * docs), never the corpus text. Every phrase matches at least its
    * donor doc, so the output exercises hits/first_pos across the whole
    * fleet. ONE DAG, zero per-phrase driver work (PlanSpec-gated);
    * q242 is the literal 2-row special case of the same core.
    */
  def q259PhraseFleet(spark: SparkSession, dir: String): DataFrame = {
    val donors = docLengths(spark, dir)
      .filter(col("dl") >= Q259PhraseLen)
      .orderBy(col("doc_id")).limit(Q259NumPhrases) // TakeOrdered, distributed
      .select(col("doc_id"))
    // rank the (tiny) selected frame into query ids; the window runs
    // over Q259NumPhrases rows, never the corpus
    val sel = donors.withColumn("query_id",
      row_number().over(Window.orderBy(col("doc_id"))).cast("long") - 1L)
    val ph = positionsFor(spark, dir, None, Some(sel))
      .filter(col("pos") <= Q259PhraseLen)
      .join(broadcast(sel), Seq("doc_id"))
      .select(col("query_id"), (col("pos").cast("long") - 1L).as("slot"), col("term"))
    val positions = positionsFor(spark, dir, Some(ph), None)
    phraseMatchCore(positions, ph)
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** Oracle: tokenize, derive the same 120 document-prefix phrases, then
    * the identical slot-keyed diagonal intersect brute per (phrase, doc,
    * start) — a wrong slot key, a miscounted repeated term, or a wrong
    * donor selection on any of the 120 breaks the hash.
    */
  val q259Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sel AS (
       |  SELECT doc_id, toks, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS query_id
       |  FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= $Q259PhraseLen
       |        ORDER BY doc_id LIMIT $Q259NumPhrases)),
       |ph AS (
       |  SELECT query_id, unnest(toks[1:$Q259PhraseLen]) AS term,
       |    unnest(range(0, $Q259PhraseLen)) AS slot
       |  FROM sel),
       |p AS (SELECT doc_id, unnest(toks) AS term,
       |        unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |m AS (
       |  SELECT ph.query_id, p.doc_id, p.pos - ph.slot AS start
       |  FROM p JOIN ph ON ph.term = p.term
       |  GROUP BY ph.query_id, p.doc_id, p.pos - ph.slot
       |  HAVING count(DISTINCT ph.slot) = $Q259PhraseLen)
       |SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS hits,
       |  CAST(min(start) AS BIGINT) AS first_pos
       |FROM m GROUP BY query_id, doc_id
       |ORDER BY query_id, doc_id""".stripMargin

  val q242Sql: String = {
    val vals = Q242Phrases.flatMap { ph =>
      val ts = ph.split(" ")
      ts.zipWithIndex.map { case (t, i) => s"('$ph', '$t', $i, ${ts.length})" }
    }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS term,
       |        unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |q AS (SELECT * FROM (VALUES $vals) AS q(phrase, term, idx, plen)),
       |m AS (
       |  SELECT q.phrase, p.doc_id, p.pos - q.idx AS start
       |  FROM p JOIN q ON q.term = p.term
       |  GROUP BY q.phrase, p.doc_id, p.pos - q.idx, q.plen
       |  HAVING count(DISTINCT q.idx) = q.plen)
       |SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS hits,
       |  CAST(min(start) AS BIGINT) AS first_pos
       |FROM m GROUP BY phrase, doc_id
       |ORDER BY phrase, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q244: proximity co-occurrence — banded position join, no range join
  // ---------------------------------------------------------------------

  /** Proximity window (tokens) and the query terms (q56's keyword set —
    * proximity is the next ranking signal over the same query).
    */
  private[graft] val Q244Window = 5
  private[graft] val Q244Terms = Seq("vector", "merge", "stream")

  /** q244: PROXIMITY co-occurrence — for every unordered pair of query
    * terms, each document's count of position pairs within
    * [[Q244Window]] tokens and the closest distance. The proximity rung
    * between q56's bag-of-words scoring and q242's exact adjacency
    * (Lucene's sloppy phrase, Indri's #uwN operator).
    *
    * The position-distance predicate |pa − pb| ≤ W is a RANGE join —
    * the shape that degenerates to a nested-loop at scale. It is made
    * equi by BANDING: pb's band is a single key `pb div W`, and any pa
    * within W lies in band `pa div W` ± 1, so the left side explodes ×3
    * and the join runs on (doc_id, band) — each qualifying pair is found
    * EXACTLY once (pb's band is unique), no dedup pass needed. PlanSpec
    * gates that no cartesian/nested-loop appears. Cost: positions of the
    * query terms only (store-pruned partitions), ×3 band fan-out, one
    * equi-join — O(matching postings), corpus never scanned.
    */
  def q244ProximityPairs(spark: SparkSession, dir: String): DataFrame = {
    // the literal special case of the FLEET matcher: one query frame,
    // positions through the literal path (hash-partition pruning kept),
    // query_id projected away
    val spark2 = spark
    import spark2.implicits._
    val qt = Q244Terms.map(t => (0L, t)).toDF("query_id", "term")
    proximityCore(termPositions(spark, dir, Q244Terms), qt, Q244Window)
      .select(col("term_a"), col("term_b"), col("doc_id"),
        col("npairs"), col("min_dist"))
      .orderBy(col("term_a"), col("term_b"), col("doc_id"))
  }

  /** The banded proximity intersect over a `queries(query_id, term)`
    * frame — the FLEET-GENERIC core [[q244ProximityPairs]] (literal
    * terms) and [[q260ProximityFleet]] (a data-derived query table)
    * specialize. For every query and each unordered pair of ITS terms:
    * per-doc count of position pairs within `w` tokens and the closest
    * distance. The |pa − pb| ≤ w range predicate is made equi by BANDING
    * (band = pos div w; a qualifying partner lies in band ± 1, left side
    * explodes ×3, each pair found exactly once since pb's band is
    * unique) and the join keys on (query_id, doc_id, band) so pairs
    * never cross queries. ONE DAG for any number of queries; the
    * per-term query assignment broadcasts; position rows fan out only by
    * the queries actually sharing a term.
    */
  private def proximityCore(positions: DataFrame, qt: DataFrame,
      w: Int): DataFrame = {
    // Both sides of the banded self-join are THIS frame; the two
    // references are NOT identical subtrees (the left adds the ×3 band
    // explode), so AQE's runtime exchange reuse cannot collapse them and
    // each side recomputes the store read + positions explode + fanout.
    // A MEMORY_AND_DISK persist here was MEASURED BOTH WAYS in r18 and
    // rejected: sf0.1 bench 4.2 → 3.4 s, but the 100× campaign's
    // steady-state wall rose ~16 % (176 → 204 s; materializing the
    // exploded positions costs more than re-running the map-only explode
    // once the frame is big) — a local-only win that regresses at scale.
    // The recompute is the scale-correct trade.
    val withQ = positions.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term"),
        col("pos").cast("long").as("pos"))
    val right = withQ.select(col("query_id"), col("doc_id"),
      col("term").as("term_b"), col("pos").as("pb"),
      expr(s"pos div $w").as("band"))
    val left = withQ.select(col("query_id"), col("doc_id"),
        col("term").as("term_a"), col("pos").as("pa"),
        expr(s"pos div $w").as("b0"))
      .withColumn("band", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
    left.join(right, Seq("query_id", "doc_id", "band"))
      .filter(col("term_a") < col("term_b") && abs(col("pa") - col("pb")) <= w)
      .groupBy(col("query_id"), col("term_a"), col("term_b"), col("doc_id"))
      .agg(count(lit(1)).as("npairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
  }

  private[graft] val Q260NumQueries = 120
  private[graft] val Q260VocabLo = 17L

  /** The q260 fleet: [[Q260NumQueries]] 3-term queries over the
    * MID-FREQUENCY vocabulary band (df ranks [[Q260VocabLo]]..
    * [[Q253MaxVocab]], clamped for tiny corpora) — proximity queries in
    * practice probe content words, not stopwords, and the band keeps the
    * pair surface postings-shaped rather than stopword-quadratic. Same
    * affine stride assignment as [[q253Queries]], restated verbatim by
    * the oracle.
    */
  def q260Queries(spark: SparkSession, dir: String): DataFrame = {
    val ranked = rankedVocab(spark, dir)
    val v = ranked.agg(count(lit(1)).as("v"))
    fleetHub(spark.range(Q260NumQueries.toLong).select(col("id").as("query_id"))
      .crossJoin(spark.range(Q253TermsPerQuery.toLong).select(col("id").as("j")))
      .crossJoin(broadcast(v))
      .withColumn("lo", least(lit(Q260VocabLo), col("v")))
      .withColumn("r", col("lo") +
        (col("query_id") + col("j") * (col("query_id") % Q253Strides + lit(1L)))
          % (col("v") - col("lo") + lit(1L)))
      .join(broadcast(ranked), col("rn") === col("r"))
      .select(col("query_id"), col("term")).distinct())
  }

  /** q260 — FLEET PROXIMITY: [[q244ProximityPairs]]'s banded
    * co-occurrence generalized to a data-derived query table, completing
    * the batch axis across the retrieval stack (q253 scoring, q257 eval,
    * q258 snippets, q259 phrases, q260 proximity). One DAG, zero
    * per-query driver work.
    */
  def q260ProximityFleet(spark: SparkSession, dir: String): DataFrame = {
    val qt = q260Queries(spark, dir)
    proximityCore(positionsFor(spark, dir, Some(qt), None), qt, Q244Window)
      .orderBy(col("query_id"), col("term_a"), col("term_b"), col("doc_id"))
  }

  /** Oracle: the fleet construction restated over the q253 vocabulary
    * CTEs (mid-band clamp included), then the brute per-(query, doc)
    * position join — a banding bug on any query breaks the hash.
    */
  val q260Sql: String =
    s"""$q253CtesSql,
       |t2 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |p2 AS (SELECT doc_id, unnest(toks) AS term,
       |        unnest(range(1, len(toks) + 1)) AS pos FROM t2),
       |idx2 AS (
       |  SELECT q.range AS query_id, j.range AS j
       |  FROM range($Q260NumQueries) q, range($Q253TermsPerQuery) j),
       |qt2 AS (
       |  SELECT DISTINCT i.query_id, c.term
       |  FROM (SELECT query_id,
       |          least($Q260VocabLo, vc.v)
       |            + (query_id + j * (query_id % $Q253Strides + 1))
       |              % (vc.v - least($Q260VocabLo, vc.v) + 1) AS r
       |        FROM idx2 CROSS JOIN vc) i
       |  JOIN cap c ON c.rn = i.r),
       |f2 AS (SELECT q.query_id, p2.doc_id, p2.term, p2.pos
       |       FROM p2 JOIN qt2 q USING (term)),
       |j2 AS (
       |  SELECT a.query_id, a.term AS term_a, b.term AS term_b, a.doc_id,
       |    abs(a.pos - b.pos) AS d
       |  FROM f2 a JOIN f2 b
       |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
       |   AND a.term < b.term AND abs(a.pos - b.pos) <= $Q244Window)
       |SELECT query_id, term_a, term_b, doc_id,
       |  CAST(count(*) AS BIGINT) AS npairs, CAST(min(d) AS BIGINT) AS min_dist
       |FROM j2 GROUP BY query_id, term_a, term_b, doc_id
       |ORDER BY query_id, term_a, term_b, doc_id""".stripMargin

  val q244Sql: String = {
    val in = Q244Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS term,
       |        unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |f AS (SELECT * FROM p WHERE term IN ($in)),
       |j AS (
       |  SELECT a.term AS term_a, b.term AS term_b, a.doc_id,
       |    abs(a.pos - b.pos) AS d
       |  FROM f a JOIN f b
       |    ON a.doc_id = b.doc_id AND a.term < b.term
       |   AND abs(a.pos - b.pos) <= $Q244Window)
       |SELECT term_a, term_b, doc_id, CAST(count(*) AS BIGINT) AS npairs,
       |  CAST(min(d) AS BIGINT) AS min_dist
       |FROM j GROUP BY term_a, term_b, doc_id
       |ORDER BY term_a, term_b, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q162: hybrid retrieval — reciprocal-rank fusion of dense + lexical
  // ---------------------------------------------------------------------

  /** RRF constant (Cormack et al. 2009's k = 60) and result depth. */
  private[graft] val Q162RrfK = 60
  private[graft] val Q162TopK = 5

  /** q162: HYBRID query-by-example retrieval — the production ranker shape
    * where a dense leg (embedding cosine) and a lexical leg (MinHash
    * signature similarity from the on-disk store) each rank the corpus per
    * query doc, and reciprocal-rank fusion combines them:
    * score = Σ_legs 1/(k + rank_leg), k = [[Q162RrfK]] — rank-based, so no
    * score calibration between legs is needed (the reason RRF is the
    * default fusion everywhere). A doc missing from a leg (the lexical leg
    * is SPARSE — only banded candidates rank) contributes nothing from it.
    *
    * Exactness: each leg's rank is an integer; per-row 1/(k+r) is one
    * correctly-rounded division and the fused score adds the two terms —
    * all per-row scalar math, bit-identical cross-engine. Queries are
    * embeddings with vec_id < 10 (doc_id ≡ vec_id in the fixture).
    *
    * Scale shape: the dense leg here is the brute q50 baseline (broadcast
    * queries, corpus never shuffles for scoring) so the oracle can restate
    * it exactly; at 100 TB each leg is already a top-k' LIST (IVF-PQ q129
    * for dense, the banded store pairs for lexical — both built), and the
    * fusion below is unchanged: it only ever touches queries × k' rows.
    */
  def q162HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val corpus = e.select(col("vec_id").as("doc_id"), col("embedding").as("d_emb"))
    val wD = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("doc_id"))
    val dense = corpus.crossJoin(broadcast(queries))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.VectorExpressions.cosineSim(col("q_emb"), col("d_emb")))
      .withColumn("r_dense", row_number().over(wD))
      .select(col("query_id"), col("doc_id"), col("r_dense"))
    val cand = Dedup.minhashCandidates(spark, dir)
    // pairs are unordered; expose each pair from its query side (a pair of
    // two query docs contributes one row per side)
    val lex0 = cand.filter(col("id_a") < 10)
      .select(col("id_a").as("query_id"), col("id_b").as("doc_id"), col("est_jaccard"))
      .unionByName(cand.filter(col("id_b") < 10)
        .select(col("id_b").as("query_id"), col("id_a").as("doc_id"), col("est_jaccard")))
    val wL = Window.partitionBy(col("query_id")).orderBy(col("est_jaccard").desc, col("doc_id"))
    val lex = lex0.withColumn("r_lex", row_number().over(wL))
      .select(col("query_id"), col("doc_id"), col("r_lex"))
    val wF = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    dense.join(lex, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(Q162RrfK) + col("r_dense")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(Q162RrfK) + col("r_lex")), lit(0.0)))
      .withColumn("rk", row_number().over(wF).cast("long"))
      .filter(col("rk") <= Q162TopK)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf").as("rrf_score"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q162Sql: String = {
    val cos = "list_sum(list_transform(list_zip(q.embedding, d.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))" +
      " / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      " * sqrt(list_sum(list_transform(d.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    s"""${Dedup.minhashCoreSql},
       |lex0 AS (
       |  SELECT id_a AS query_id, id_b AS doc_id, est_jaccard FROM ests WHERE id_a < 10
       |  UNION ALL
       |  SELECT id_b AS query_id, id_a AS doc_id, est_jaccard FROM ests WHERE id_b < 10),
       |lex AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY est_jaccard DESC, doc_id) AS r_lex
       |  FROM lex0),
       |dense AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, d.vec_id) AS r_dense
       |  FROM embeddings q JOIN embeddings d ON d.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |fused AS (
       |  SELECT query_id, doc_id,
       |    coalesce(1.0 / ($Q162RrfK + r_dense), 0) + coalesce(1.0 / ($Q162RrfK + r_lex), 0) AS rrf
       |  FROM dense FULL OUTER JOIN lex USING (query_id, doc_id))
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, rrf AS rrf_score FROM (
       |  SELECT fused.*, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused)
       |WHERE rk <= $Q162TopK ORDER BY query_id, rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q166: bigram-LM perplexity scoring (integer-bits surprisal)
  // ---------------------------------------------------------------------

  /** Keep documents at or below this mean surprisal (milli-bits/bigram) —
    * ≈ the dev-fixture corpus median; a deployment derives it from a
    * quantile of the score column (q74/q153 machinery).
    */
  private[queries] val Q166KeepMbits = 4320L

  /** q166 — LM-perplexity quality filtering (the CCNet recipe): train an
    * add-one-smoothed bigram model ON the corpus, score every document by
    * its mean per-bigram surprisal, flag the low-perplexity half to keep.
    * Too-surprising text under a corpus LM is boilerplate-free gibberish;
    * too-predictable is template spam — either way the score is THE
    * standard model-based quality signal between heuristics (q31) and a
    * learned classifier.
    *
    * Exactness (the file-head discipline — no `ln`): surprisal is the
    * INTEGER log2 of the inverse smoothed probability,
    * `bits = floor(log2((c1 + V) div (c2 + 1)))`, computed as
    * `length(bin(q)) − 1` — a string length, bit-exact on both engines.
    * Mean surprisal is within 1 bit/bigram of the float cross-entropy,
    * which ranks identically for filtering purposes and hash-compares
    * exactly.
    *
    * Scale shape: ONE corpus tokenize feeds both the model build and the
    * scoring stream. Model = bigram counts c2 (one shuffle on (w1, w2),
    * partial-agg'd map-side), with prefix counts c1 DERIVED from c2 and
    * vocab V a one-row broadcast — no second corpus scan. c1 attaches to
    * c2 model-side (vocab-sparse frame), so scoring pays exactly one
    * corpus-stream shuffle: the (w1, w2) count-attach join. At 100 TB the
    * model table persists bucketed by (w1, w2) once per corpus snapshot
    * and every scoring batch joins against it — the q68 amortization
    * contract applied to an LM.
    */
  def q166BigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(normText(col("text"))).as("toks"))
    val big = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks)-1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = toks.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val model = c2.join(c1, "w1")
    big.join(model, Seq("w1", "w2")).crossJoin(broadcast(v))
      .withColumn("bits", (length(bin(expr("(c1 + v) div (c2 + 1)"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .withColumn("mean_mbits", expr("sum_bits * 1000L div n_bigrams"))
      .withColumn("keep", (col("mean_mbits") <= Q166KeepMbits).cast("int"))
      .orderBy(col("doc_id"))
  }

  val q166Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, p[1] AS w1, p[2] AS w2
       |  FROM (SELECT doc_id, unnest(list_zip(toks[1:-2], toks[2:])) AS p FROM t WHERE len(toks) >= 2)),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM (SELECT unnest(toks) AS tok FROM t)),
       |s AS (
       |  SELECT doc_id, length(bin((c1 + v) // (c2 + 1))) - 1 AS bits
       |  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
       |SELECT doc_id, n_bigrams, sum_bits, mean_mbits,
       |  CAST(mean_mbits <= $Q166KeepMbits AS INT) AS keep
       |FROM (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(bits) AS BIGINT) AS sum_bits,
       |    CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS mean_mbits
       |  FROM s GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q209: Kneser-Ney smoothed LM perplexity (exact-rational surprisal)
  // ---------------------------------------------------------------------

  /** q209's keep threshold in milli-bits/bigram — ≈ the dev-fixture corpus
    * median of the KN score; a deployment derives it from a quantile of the
    * score column (q74/q153 machinery), exactly as [[Q166KeepMbits]].
    */
  private[queries] val Q209KeepMbits = 4000L

  /** q209 — KNESER-NEY SMOOTHED bigram-LM perplexity scoring, the
    * state-of-the-art count-based smoothing (Kneser & Ney 1995; Chen &
    * Goodman 1999) and the model family CCNet actually ships for
    * perplexity-based corpus filtering. Where q166's add-one model backs
    * off to a UNIFORM unigram, KN backs off to the CONTINUATION
    * distribution — "how many distinct contexts does w appear after?" —
    * which stops high-frequency-but-context-bound tokens (the "Francisco"
    * problem) from inflating the backoff mass. Interpolated form with
    * absolute discount d = 3/4:
    *
    *   P(w2|w1) = (c2 − d)/c1 + (d · N1L(w1)/c1) · (N1R(w2)/Ntot)
    *
    * with c2 = bigram count, c1 = Σ c2 over w1's continuations, N1L(w1) =
    * distinct continuations of w1, N1R(w2) = distinct left-contexts of w2,
    * Ntot = total distinct bigram types. Scoring the training corpus means
    * every scored bigram has c2 ≥ 1, so no unseen-event branch is needed.
    *
    * Exactness (the file-head discipline — no `ln`): with d = 3/4 the
    * probability is the exact integer rational
    *   num = (4·c2 − 3)·Ntot + 3·N1L(w1)·N1R(w2),  den = 4·c1·Ntot
    * and the surprisal is `bits = floor(log2(den/num))` =
    * `length(bin(den div num)) − 1` — valid because P ≤ 1 ⇒ den div num
    * ≥ 1, and for x ≥ 1, floor(log2(floor(x))) = floor(log2(x)). Every
    * intermediate is ≤ 4·c1·Ntot — Long-safe at fixture scale; at
    * petabyte token counts swap the numerator to DECIMAL(38) in both
    * engines (the q175 remark).
    *
    * Scale shape: ONE corpus tokenize feeds model build and scoring (the
    * q166 contract). The model is the c2 frame plus three DERIVED
    * vocab-sized aggregates — (c1, N1L) in one groupBy(w1), N1R in one
    * groupBy(w2), Ntot a one-row broadcast — so the corpus pays exactly
    * one extra shuffle vs q166 (the N1R attach, vocab-keyed not
    * corpus-keyed). At 100 TB the assembled model table persists bucketed
    * by (w1, w2) once per snapshot and every scoring batch joins it.
    */
  def q209KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(normText(col("text"))).as("toks"))
    val big = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks)-1), " +
          "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val left = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1l"))
    val right = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val ntot = c2.agg(count(lit(1)).as("ntot"))
    val model = c2.join(left, "w1").join(right, "w2")
    big.join(model, Seq("w1", "w2")).crossJoin(broadcast(ntot))
      .withColumn("bits", (length(bin(expr(
        "(4 * c1 * ntot) div ((4 * c2 - 3) * ntot + 3 * n1l * n1r)"))) - 1)
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .withColumn("mean_mbits", expr("sum_bits * 1000L div n_bigrams"))
      .withColumn("keep", (col("mean_mbits") <= Q209KeepMbits).cast("int"))
      .orderBy(col("doc_id"))
  }

  val q209Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, p[1] AS w1, p[2] AS w2
       |  FROM (SELECT doc_id, unnest(list_zip(toks[1:-2], toks[2:])) AS p FROM t WHERE len(toks) >= 2)),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1l
       |        FROM c2 GROUP BY 1),
       |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM c2 GROUP BY 1),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM c2),
       |s AS (
       |  SELECT doc_id,
       |    length(bin((4 * c1 * ntot) // ((4 * c2 - 3) * ntot + 3 * n1l * n1r))) - 1 AS bits
       |  FROM b JOIN c2 USING (w1, w2) JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN nt)
       |SELECT doc_id, n_bigrams, sum_bits, mean_mbits,
       |  CAST(mean_mbits <= $Q209KeepMbits AS INT) AS keep
       |FROM (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(bits) AS BIGINT) AS sum_bits,
       |    CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS mean_mbits
       |  FROM s GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q209_kneser_ney" -> q209KneserNey _,
    "q166_bigram_surprisal" -> q166BigramSurprisal _,
    "q121_inverted_index" -> q121InvertedIndex _,
    "q242_phrase_search" -> q242PhraseSearch _,
    "q244_proximity_pairs" -> q244ProximityPairs _,
    "q247_wand_topk" -> q247WandTopK _,
    "q253_wand_batch" -> q253WandBatch _,
    "q257_fleet_eval" -> q257FleetEval _,
    "q258_fleet_snippets" -> q258FleetSnippets _,
    "q259_phrase_fleet" -> q259PhraseFleet _,
    "q262_fleet_snippet_text" -> q262FleetSnippetText _,
    "q260_proximity_fleet" -> q260ProximityFleet _,
    "q251_retrieval_eval" -> q251RetrievalEval _,
    "q252_snippet_spans" -> q252SnippetSpans _,
    "q56_bm25_search" -> q56Bm25 _,
    "q57_temperature_sample" -> q57TemperatureSample _,
    "q58_decontaminate" -> q58Decontaminate _,
    "q59_shard_export" -> q59ShardExport _,
    "q162_hybrid_rrf" -> q162HybridRrf _)

  val oracles: Map[String, String] = Map(
    "q209_kneser_ney" -> q209Sql,
    "q166_bigram_surprisal" -> q166Sql,
    "q121_inverted_index" -> q121Sql,
    "q242_phrase_search" -> q242Sql,
    "q244_proximity_pairs" -> q244Sql,
    "q247_wand_topk" -> q247Sql,
    "q253_wand_batch" -> q253Sql,
    "q257_fleet_eval" -> q257Sql,
    "q258_fleet_snippets" -> q258Sql,
    "q259_phrase_fleet" -> q259Sql,
    "q262_fleet_snippet_text" -> q262Sql,
    "q260_proximity_fleet" -> q260Sql,
    "q251_retrieval_eval" -> q251Sql,
    "q252_snippet_spans" -> q252Sql,
    "q56_bm25_search" -> q56Sql,
    "q57_temperature_sample" -> q57Sql,
    "q58_decontaminate" -> q58Sql,
    "q59_shard_export" -> q59Sql,
    "q162_hybrid_rrf" -> q162Sql)
}
