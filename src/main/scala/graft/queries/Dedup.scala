package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

import graft.Tables

/** Near-duplicate detection for training-data curation, built to the scale
  * contract: NEVER an all-pairs cross join. Every fuzzy method reduces to
  * "compute a per-document signature (narrow, codegen'd), shuffle once on a
  * bucket key, compare only within buckets" — the LSH pattern that holds at
  * 100 TB because candidate generation is O(n · bands), not O(n²).
  *
  * Signatures use xxhash64 (codegen'd Catalyst expression) — deterministic
  * across runs/executors, no fitted model state.
  */
object Dedup {

  import TextOps.{normText, wsTokens}

  /** Distinct word-token set per doc — the shingle universe for MinHash /
    * Jaccard. (Unigram shingles; word n-grams are `shingles(c, n)`.)
    */
  def tokenSet(c: Column): Column = array_distinct(wsTokens(normText(c)))

  /** Word n-gram shingles. The token array is lambda-bound: the slice
    * lambda references it once per shingle, which without binding re-ran
    * the regex tokenization per element (measured 8.7 s -> sub-second for
    * 5k docs at sf0.1).
    */
  def shingles(c: Column, n: Int): Column =
    graft.functions.ColFns.bound(wsTokens(normText(c))) { toks =>
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
    }

  import graft.functions.ColFns.bound

  /** MinHash signature of an array of shingles: sig(j) = min over shingles
    * of xxhash64(j, shingle). One narrow projection, no shuffle, no fitted
    * model. The shingle array is lambda-bound so it is built once per row,
    * not once per hash function (see ColFns.bound).
    */
  def minhashSig(shingleCol: Column, k: Int): Column =
    bound(shingleCol) { sh =>
      transform(sequence(lit(0), lit(k - 1)),
        j => array_min(transform(sh, s => xxhash64(j, s))))
    }

  /** LSH band keys: md5_60 of "b:sig[slice] csv" per band — all codegen'd
    * builtins (md5/conv/concat_ws), signature bound once per row, and
    * recomputable verbatim in DuckDB (see q40Sql).
    */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    bound(sig) { s =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => graft.functions.ColFns.h60(concat(b.cast("string"), lit(":"),
          concat_ws(",", transform(slice(s, b * rows + 1, lit(rows)), x => x.cast("string"))))))
    }

  private val K = 32; private val BANDS = 8; private val ROWS = 4

  /** Scala-side shingling + MinHash for the hot path: Catalyst higher-order
    * functions are interpreted per element, so a scalar-heavy loop like
    * "hash every shingle k times" is strictly faster as a typed map
    * (measured 3.4 s -> sub-second for the sf0.1 signature pass). Tokens
    * match `shingles()` exactly: lowercase, split on whitespace, distinct
    * word n-grams.
    *
    * Hash family: Kirsch-Mitzenmacher double hashing over ONE md5 per
    * shingle — h_j(s) = (h1 + j·h2) mod 2^60 with h1 = the digest's first
    * 60 bits and h2 = its next 52 bits. One digest per shingle instead of
    * k (a 32× cut of the dominant signature-pass cost), and every quantity
    * is a hex-substring of md5(s) plus BIGINT-safe arithmetic (j·h2 < 2^57,
    * sums < 2^61 — no overflow in DuckDB, whose BIGINT overflow THROWS), so
    * the SIGNATURES and BAND KEYS stay exactly recomputable in SQL and q40
    * keeps its full oracle.
    */
  def minhashSigRows(spark: SparkSession, docs: DataFrame, n: Int, k: Int): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val sh: Iterator[String] =
        if (toks.length < n) Iterator(toks.mkString(" "))
        else (0 to toks.length - n).iterator.map(i => toks.slice(i, i + n).mkString(" ")).distinct
      val sig = Array.fill(k)(Long.MaxValue)
      sh.foreach { s =>
        md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        val h1 = hash60(d)
        val h2 = hash52(d)
        var h = h1
        var j = 0
        while (j < k) {
          if (h < sig(j)) sig(j) = h
          h = (h + h2) & Mask60 // (h1 + j·h2) mod 2^60, incrementally
          j += 1
        }
      }
      (id, sig)
    }.toDF("doc_id", "sig")
  }

  private val Mask60 = (1L << 60) - 1

  /** MinHash + LSH candidate pairs with signature-estimated Jaccard —
    * un-limited. Pipeline: per-doc signature over word 3-gram shingles
    * (narrow) -> explode 8 band keys -> shuffle on (band, key) ->
    * within-bucket pairing on IDS ONLY -> distinct pairs -> join signatures
    * back for the estimate.
    *
    * Scale guards (the difference between O(n·bands) and accidental O(n²)):
    *   - 3-gram shingles, not unigram token sets: discriminative enough
    *     that unrelated docs don't share band keys (a small-vocabulary
    *     corpus makes unigram sets nearly identical across documents);
    *   - oversized buckets (> maxBucket docs) are dropped — a bucket that
    *     big is non-discriminative by definition and would contribute
    *     O(bucket²) candidate pairs; real near-dup clusters stay far below
    *     the cap once shingles are discriminative;
    *   - the bucket self-join carries only (band, key, doc_id); the
    *     32-element signatures join back AFTER pair dedup.
    */
  /** Session-scoped memo of the candidate-pair frame per (session, dir,
    * cap): q40, q45 (greedy apply) and q46 (connected components) all
    * consume the SAME signature → banding → pairing stage. At 100 TB that
    * stage is materialized once as a signature/pair table and every dedup
    * policy reads it — the memo is the in-session analogue, so the stage
    * computes once per corpus instead of once per query. Keyed on the
    * session object: a fresh session rebuilds rather than reading another
    * session's cached plan. Entries of stopped sessions are evicted on the
    * next lookup, so the map cannot pin dead sessions for the JVM lifetime.
    *
    * Staleness hazard (deliberate, same as a materialized signature table):
    * rewriting the parquet under `dir` within a session keeps serving the
    * cached candidate pairs until [[clearCandidateCache]] is called — the
    * cache key is the path, not the file contents.
    */
  /** Bounded insertion-ordered memo of persisted frames. All mutation is
    * under the cache's own lock, so the check-evict-insert sequence is
    * ATOMIC: a racing caller can never have its just-returned frame
    * unpersisted mid-query by another thread's eviction (r12 ADVICE), and
    * hitting the bound evicts only the OLDEST entries — never the entry
    * being requested, never the whole cache. Unpersist is BLOCKING
    * (round 12): the r11 bench's own harness_drift flag showed
    * non-blocking eviction leaking each repeat's MEMORY_AND_DISK blocks
    * into the next repeat's heap, so the same measurement varied
    * 5.7–45.9 s with unchanged code. Unpersist is best-effort per entry
    * (a stopped session throws; that must not leave the map
    * half-cleared).
    */
  private final class FrameCache[K](stale: K => Boolean) {
    private val m = new java.util.LinkedHashMap[K, DataFrame]()
    private def drop(df: DataFrame): Unit =
      try df.unpersist(blocking = true) catch { case NonFatal(_) => () }
    def getOrBuild(k: K)(build: => DataFrame): DataFrame = synchronized {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (stale(e.getKey)) { drop(e.getValue); it.remove() }
      }
      val hit = m.get(k)
      if (hit != null) hit
      else {
        while (m.size >= MaxCachedFrames) {
          val oldest = m.entrySet().iterator().next()
          drop(oldest.getValue)
          m.remove(oldest.getKey)
        }
        val df = build
        m.put(k, df)
        df
      }
    }
    def clear(): Unit = synchronized {
      m.values.forEach(drop)
      m.clear()
    }
  }

  private val candCache =
    new FrameCache[(SparkSession, String, Int)](_._1.sparkContext.isStopped)

  /** Drop all memoized candidate frames — benchmarks that must time the
    * COLD build (e.g. [[graft.ScaleSmoke]]) call this between
    * measurements (see [[FrameCache]] for the blocking-unpersist story).
    */
  def clearCandidateCache(): Unit = {
    candCache.clear()
    shingleCache.clear()
  }

  /** q211's persisted corpus shingle frame, memoized per (session, dir)
    * like [[candCache]] so repeated calls in a long-lived session reuse
    * ONE persisted frame instead of accumulating abandoned ones (round-9
    * ADVICE); cleared by [[clearCandidateCache]], so Bench still times the
    * cold build.
    */
  private val shingleCache =
    new FrameCache[(SparkSession, String)](_._1.sparkContext.isStopped)

  /** Hard bound on memoized persisted frames per cache (shingle and
    * candidate): a long-lived session touching many corpus dirs must not
    * accumulate one persisted frame per dir forever — past the bound the
    * OLDEST entries are dropped (blocking) until under the bound, trading
    * one recompute for a bounded block-manager footprint (r10 ADVICE).
    */
  private val MaxCachedFrames = 8

  private[graft] def shingleFrame(spark: SparkSession, dir: String): DataFrame =
    // (doc_id, sz, token) with per-doc SET semantics. Shuffle-free by
    // construction (round 12): uniqueness of (doc_id, token) is per-doc, so
    // array_distinct inside the scan row replaces the corpus-wide
    // distinct() shuffle, and sz = |set| rides along from the same array —
    // consumers (q182/q211) no longer pay a groupBy(doc_id) + join to
    // recover sizes. At 100 TB this frame is a pure map stage.
    shingleCache.getOrBuild((spark, dir))(
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("sz"),
          explode(col("ts")).as("token"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def minhashCandidates(spark: SparkSession, dir: String, maxBucket: Int = 256): DataFrame = {
    candCache.getOrBuild((spark, dir, maxBucket))(
      storedPart(spark, dir, maxBucket, "pairs")
        .getOrElse(buildMinhashCandidates(spark, dir, maxBucket))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Bump when the signature pipeline (hash family, shingle n, K/BANDS/ROWS,
    * pair schema) or what the store manifest records changes shape — a
    * store written by older code must read as ABSENT, never as
    * silently-wrong candidates. v3: the manifest records `pairs/` as
    * derived from `sigs/` and `bands/`.
    */
  private val StoreFormatVersion = 3

  /** On-disk signature store root for one (corpus, cap): the SURVEY §9
    * artifact. `sigs/` is the per-doc MinHash signature table; `bands/` the
    * exploded (band, key, doc_id) banding table, partitioned by `band` —
    * local-mode's analogue of warehouse `bucketBy(n, "key")` (hive bucketing
    * needs a metastore table; partition-pruned parquet gives the same
    * read-side file locality); `pairs/` the deduped candidate pairs with
    * signature-estimated Jaccard that every dedup/graph policy consumes.
    */
  def signatureStorePathFor(dir: String, maxBucket: Int = 256): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sigstore_v${StoreFormatVersion}_mb${maxBucket}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Query prefixes that consume [[minhashCandidates]] — harnesses consult
    * this to decide whether a run needs the signature store at all.
    */
  val candidateConsumers: Set[String] =
    Set("q40", "q45", "q46", "q68", "q101", "q104", "q123", "q150", "q161", "q162",
      "q164", "q169", "q170", "q263")

  /** Kill switch for the store READ path. [[graft.ScaleSmoke]] sets it false:
    * its 1×-vs-10× ratios time the COLD candidate build on both sides, and a
    * store left behind by a Bench run at the 1× dir would fake the 1× time
    * and blow every ratio past the gate.
    */
  @volatile private[graft] var signatureStoreEnabled = true

  /** Materialize the signature store for a corpus: one Scala-side hashing
    * pass writes `sigs/`, then banding + pairing derive `bands/` and
    * `pairs/` FROM the written signatures (the artifact is its own input —
    * no second hashing pass). Called once per corpus at ingest time
    * (Verify's materializer hook; Bench's untimed setup); every
    * [[minhashCandidates]] consumer — q40/q45/q46/q68 dedup policies, the
    * q101/q104/q150 graph family, q123 calibration — then reads `pairs/`
    * instead of re-running signature → banding → pairing cold. At 100 TB
    * this is the difference between one corpus-sized hashing job per
    * INGEST and one per QUERY; incremental batches (q68's shape) hash only
    * the new batch and bucket-join its band keys against `bands/`.
    */
  def writeSignatureStore(spark: SparkSession, dir: String, maxBucket: Int = 256): Unit = {
    val store = signatureStorePathFor(dir, maxBucket)
    minhashSigRows(spark, Tables(spark, dir, "documents"), n = 3, k = K)
      .write.mode("overwrite").parquet(s"$store/sigs")
    val sigs = spark.read.parquet(s"$store/sigs")
    bandBuckets(sigs, maxBucket)
      .write.mode("overwrite").partitionBy("band").parquet(s"$store/bands")
    val buckets = spark.read.parquet(s"$store/bands")
      .select(col("band"), col("key"), col("doc_id"))
    pairCandidates(sigs, buckets)
      .write.mode("overwrite").parquet(s"$store/pairs")
    graft.table.StoreManifest.bump(store, Seq("sigs", "bands"))
    graft.table.StoreManifest.bump(store, Seq("pairs"), from = Seq("sigs", "bands"),
      corpus = Some(s"$dir/documents.parquet"))
  }

  /** Append ONE micro-batch of documents to an incremental signature store
    * at `store` (q250's foreachBatch body): per-doc signatures and UNCAPPED
    * band rows are pure projections of the new docs, so append IS merge —
    * the expensive stage (shingling + K hashes per shingle) is paid once
    * per document ever. The bucket cap is NOT applied here because it is
    * non-monotone under arrival: a bucket's fate is decided by its FINAL
    * size, so capping per batch would emit pairs the batch build excludes;
    * [[pairsFromIncremental]] applies it at read time over the accumulated
    * table instead. Per-trigger file growth is layout maintenance's
    * problem (q178 planner + q245-style dataChange=false rewrite), not a
    * correctness concern — appends never conflict.
    */
  def appendSigStore(batch: DataFrame, store: String): Unit = {
    val sigs = minhashSigRows(batch.sparkSession, batch, n = 3, k = K)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sigs.write.mode("append").parquet(s"$store/sigs")
      sigs.select(col("doc_id"),
          posexplode(bandKeys(col("sig"), BANDS, ROWS)).as(Seq("band", "key")))
        .write.mode("append").partitionBy("band").parquet(s"$store/bands")
    } finally { sigs.unpersist(blocking = true); () }
    graft.table.StoreManifest.bump(store, Seq("sigs", "bands"))
  }

  /** LAYOUT MAINTENANCE for an incrementally-built signature store: the
    * per-trigger small files of `sigs/` and the band-partitioned `bands/`
    * bin-pack into `targetBytes`-sized outputs
    * ([[graft.table.StoreMaint.compact]] — q178's next-fit discipline run
    * by the scan's split planner, zero shuffle). Row contents are
    * untouched, so [[pairsFromIncremental]] — and q40's oracle — must
    * hash-match across a compaction.
    */
  def compactSigStore(spark: SparkSession, store: String,
      targetBytes: Long = 32L << 20): Unit = {
    graft.table.StoreMaint.compact(spark, s"$store/sigs", Seq.empty, targetBytes)
    graft.table.StoreMaint.compact(spark, s"$store/bands", Seq("band"), targetBytes)
  }

  /** ERASURE PROPAGATION into the signature store (q214's "right to be
    * forgotten" contract on the DERIVED dedup artifact): remove the docs
    * matching `pred` from `sigs/` and `bands/` — and from a materialized
    * `pairs/` table, where a pair dies when EITHER side is erased — via
    * file-level copy-on-write ([[graft.table.StoreMaint.eraseWhere]]):
    * only files containing the subjects' rows rewrite, bounded by the
    * erased docs' band footprint. A MinHash signature is derived content
    * under every deletion regime — it reconstructs set membership of the
    * doc's shingles — so it falls under the same obligation as the text.
    */
  def eraseSigStore(spark: SparkSession, store: String,
      pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    graft.table.StoreMaint.eraseWhere(spark, s"$store/sigs", Seq.empty, pred(col("doc_id")))
    graft.table.StoreMaint.eraseWhere(spark, s"$store/bands", Seq("band"), pred(col("doc_id")))
    if (graft.table.Fs.isDir(s"$store/pairs"))
      graft.table.StoreMaint.eraseWhere(spark, s"$store/pairs", Seq.empty,
        pred(col("id_a")) || pred(col("id_b")))
  }

  /** CDC-DRIVEN SYNC of the signature store — [[graft.queries.CorpusOps
    * .syncLexStoreFromFeed]]'s contract on the dedup artifact, through the
    * same [[graft.table.StoreMaint.applyFeed]] loop (a deleted-then-
    * reinserted doc survives with its NEW signature): retracted keys
    * erase from `sigs/`, `bands/`, and a materialized `pairs/` (a pair
    * dies when EITHER side retracts) via the frame-keyed copy-on-write
    * [[graft.table.StoreMaint.eraseKeys]]; arrivals re-hash through
    * [[appendSigStore]] — an UPDATED doc's signature is recomputed from
    * its new text, not patched. Per-version work is changes-sized; the
    * store never reads the table.
    */
  def syncSigStoreFromFeed(spark: SparkSession, store: String,
      feed: DataFrame): Unit =
    graft.table.StoreMaint.applyFeed(feed, "doc_id", Seq("text"))(
      erase = { gone =>
        graft.table.StoreMaint.eraseKeys(spark, s"$store/sigs", Seq.empty,
          "doc_id", gone)
        graft.table.StoreMaint.eraseKeys(spark, s"$store/bands", Seq("band"),
          "doc_id", gone)
        if (graft.table.Fs.isDir(s"$store/pairs")) {
          graft.table.StoreMaint.eraseKeys(spark, s"$store/pairs", Seq.empty,
            "id_a", gone.withColumnRenamed("doc_id", "id_a"))
          graft.table.StoreMaint.eraseKeys(spark, s"$store/pairs", Seq.empty,
            "id_b", gone.withColumnRenamed("doc_id", "id_b"))
        }
      },
      append = appendSigStore(_, store))

  /** Candidate pairs from an incrementally-built store: the bucket cap and
    * bucket-local pairing run over the ACCUMULATED sigs/bands tables —
    * the same [[pairCandidates]] stage the batch build runs, over provably
    * identical inputs, so the pair set cannot depend on how the corpus
    * was batched.
    */
  def pairsFromIncremental(spark: SparkSession, store: String,
      maxBucket: Int = 256): DataFrame = {
    val sigs = spark.read.parquet(s"$store/sigs")
    pairCandidates(sigs,
      capBuckets(spark.read.parquet(s"$store/bands"), maxBucket))
  }

  /** The bucket cap as a map-side-combinable agg + equi-join, NOT a
    * window over (band, key): a degenerate hot bucket under the window
    * becomes ONE straggler task buffering the whole bucket, while the
    * count agg partial-aggregates wherever its rows sit (the
    * [[CorpusOps]] df idiom). Semantics identical — a bucket survives
    * iff its FINAL size is ≤ maxBucket.
    */
  private def capBuckets(bands: DataFrame, maxBucket: Int): DataFrame = {
    val sizes = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select(col("band"), col("key"))
    bands.join(sizes, Seq("band", "key"))
      .select(col("band"), col("key"), col("doc_id"))
  }

  /** One store table read back when the kill switch is on and the store
    * manifest serves it for the corpus's CURRENT file set
    * ([[graft.table.StoreManifest.servable]]) — a rewritten corpus must
    * never serve stale state, the same contract a warehouse table carries.
    */
  private def storedPart(spark: SparkSession, dir: String, maxBucket: Int, part: String): Option[DataFrame] =
    Option.when(signatureStoreEnabled)(signatureStorePathFor(dir, maxBucket))
      .flatMap(graft.table.StoreManifest.servable(_, part, Some(s"$dir/documents.parquet")))
      .map(spark.read.parquet(_))

  /** The corpus signature table: the store's `sigs/` when fresh (hash once
    * per INGEST, the artifact's whole point), else one in-session pass.
    */
  private[queries] def corpusSigs(spark: SparkSession, dir: String): DataFrame =
    storedPart(spark, dir, 256, "sigs").getOrElse(
      minhashSigRows(spark, Tables(spark, dir, "documents"), n = 3, k = K))

  /** Cap-filtered (band, key, doc_id) banding of a signature frame —
    * the cap runs through [[capBuckets]]' agg + join (never a window).
    */
  private def bandBuckets(sigs: DataFrame, maxBucket: Int): DataFrame =
    capBuckets(
      sigs.select(col("doc_id"),
        posexplode(bandKeys(col("sig"), BANDS, ROWS)).as(Seq("band", "key"))),
      maxBucket)

  /** Bucket-local pairing + signature-match estimate over prepared
    * signature and banding frames — shared by the cold build and the store
    * writer so the two paths cannot diverge.
    */
  private def pairCandidates(sigs: DataFrame, buckets: DataFrame): DataFrame = {
    val pairs = buckets.as("a")
      .join(buckets.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / K, 4).as("est_jaccard"))
  }

  private def buildMinhashCandidates(spark: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    val d = Tables(spark, dir, "documents")
    // the signature frame feeds three plan branches (banding + both sides of
    // the pair-signature join); persist so it computes once (~32 longs/doc)
    val sigs = minhashSigRows(spark, d, n = 3, k = K)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairCandidates(sigs, bandBuckets(sigs, maxBucket))
  }

  /** Query surface for the candidates: top pairs, deterministic order. */
  def q40MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashCandidates(spark, dir)
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)

  /** Full SQL restatement of the MinHash+LSH candidate pipeline (shared by
    * q40 and q68): md5-derived hash family (h_j = (md5_60(shingle) +
    * j·md5_52(shingle)) mod 2^60, the Kirsch-Mitzenmacher double hash) and
    * band keys make every stage — signatures, banding, bucket cap, pair
    * dedup, signature-match estimate — exactly recomputable in DuckDB.
    * Ends with the `ests` CTE (id_a, id_b, est_jaccard); callers append
    * their own tail (and optional further CTEs).
    */
  /** The signature + banding prefix (CTEs `toks` → `sigs` → `bands`) —
    * shared by the within-corpus candidate chain below and the
    * cross-corpus linkage oracle, which caps and pairs DIFFERENTLY.
    */
  private[queries] val minhashSigBandsSql: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '') AS tl
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2] AS s
       |    FROM (SELECT doc_id, tl, unnest(range(1, len(tl) - 1)) AS i FROM toks WHERE len(tl) >= 3)
       |    UNION ALL
       |    SELECT doc_id, array_to_string(tl, ' ') AS s FROM toks WHERE len(tl) < 3)),
       |hs AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
       |    ('0x' || substr(md5(s), 17, 13))::BIGINT AS h2
       |  FROM sh),
       |hj AS (
       |  SELECT doc_id, j, min((h1 + j * h2) % 1152921504606846976) AS h
       |  FROM hs, range($K) r(j) GROUP BY doc_id, j),
       |sigs AS (SELECT doc_id, list(h ORDER BY j) AS sig FROM hj GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b,
       |    ('0x' || substr(md5(CAST(b AS VARCHAR) || ':' ||
       |      array_to_string(list_transform(sig[b*$ROWS+1 : b*$ROWS+$ROWS], x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT AS key
       |  FROM sigs, range($BANDS) rb(b))""".stripMargin

  private[queries] val minhashCoreSql: String =
    s"""WITH $minhashSigBandsSql,
       |bsz AS (SELECT b, key, count(*) AS n FROM bands GROUP BY b, key),
       |bk AS (SELECT bands.doc_id, bands.b, bands.key FROM bands JOIN bsz USING (b, key) WHERE bsz.n <= 256),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM bk a JOIN bk b2 ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id),
       |ests AS (
       |  SELECT id_a, id_b,
       |    round(CAST(len(list_filter(range(1, ${K + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $K, 4) AS est_jaccard
       |  FROM pairs p JOIN sigs sa ON sa.doc_id = p.id_a JOIN sigs sb ON sb.doc_id = p.id_b)""".stripMargin

  val q40Sql: String =
    s"""$minhashCoreSql
       |SELECT id_a, id_b, est_jaccard FROM ests
       |ORDER BY est_jaccard DESC, id_a, id_b LIMIT 100""".stripMargin

  /** Incremental dedup: match a NEW batch (doc_id ≡ 0 mod 3 stands in for
    * "today's crawl") against the EXISTING corpus (everything else) — for
    * each new doc, its best existing near-duplicate at est_jaccard ≥ 0.5,
    * from the same MinHash+LSH candidate machinery as q40.
    *
    * This is the shape a 100 TB pipeline actually runs day to day: the
    * existing side's signatures and band keys live in a materialized
    * signature store (the in-session [[minhashCandidates]] memo is its
    * stand-in — same contract: hash once, reuse every batch), so only the
    * new batch is shingled/hashed, and banding joins new band keys against
    * the stored ones. Cross-batch candidate generation stays bucket-local
    * (never all-pairs), and the per-new-doc argmax is a window over the
    * already-tiny match set.
    */
  def q68IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isNewA = col("id_a") % 3 === 0
    val isNewB = col("id_b") % 3 === 0
    val matches = minhashCandidates(spark, dir)
      .filter(isNewA =!= isNewB)
      .select(
        when(isNewA, col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(isNewA, col("id_b")).otherwise(col("id_a")).as("existing_id"),
        col("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("new_id"))
      .orderBy(col("est_jaccard").desc, col("existing_id"))
    matches.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("new_id"), col("existing_id"), col("est_jaccard"))
      .orderBy(col("new_id"))
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space (the shared k-means assignment machinery —
    * scan-side argmax against the broadcast centroid model), then rank
    * pairwise cosines ONLY within each cluster and surface the top
    * per-cluster near-duplicate pairs (id_a < id_b: the id_b side is the
    * dedup candidate, id_a its survivor). Ranked rather than thresholded —
    * this fixture's embedding space is near-orthogonal by construction, so
    * a fixed cosine cut would be degenerate; real deployments set the
    * threshold on this same ranked list.
    *
    * Scale shape: the blocking IS the clustering — pairwise work is
    * per-cluster O((n/k)²), never corpus all-pairs, and k is the dial that
    * bounds the block (SemDeDup's own argument); assignment adds no corpus
    * shuffle (PlanSpec-gated for q67), and the per-cluster ranking windows
    * shuffle only pair ids + scores.
    */
  def q98SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables(spark, dir, "embeddings")
    val assigned = e.crossJoin(broadcast(Similarity.centsModel(e)))
      .select(col("vec_id"), col("embedding"),
        (-Similarity.bestCentroid.getField("col2")).as("cluster"))
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("cos").desc, col("id_a"), col("id_b"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      // native codegen'd cosine: float-float inputs, identical doubles to
      // the HOF form (q50's exact oracle pass is the proof) at codegen speed
      .withColumn("cos", Similarity.nativeCosine(spark)(col("emb_a"), col("emb_b")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("cluster"), col("rk").cast("long").as("rk"),
        col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("cluster"), col("rk"))
  }

  val q98Sql: String = {
    def cosPair(x: String, y: String): String =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))" +
        s" / (sqrt(list_sum(list_transform($x, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))" +
        s" * sqrt(list_sum(list_transform($y, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    val assignCos = cosPair("e.embedding", "c.centroid")
    val pairCos = cosPair("ea.embedding", "eb.embedding")
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, c.label AS cluster,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $assignCos DESC, c.label) AS rk
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rk = 1)
       |SELECT cluster, CAST(rk AS BIGINT) AS rk, id_a, id_b, cosine FROM (
       |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
       |    round($pairCos, 4) AS cosine,
       |    row_number() OVER (PARTITION BY a.cluster ORDER BY $pairCos DESC, a.vec_id, b.vec_id) AS rk
       |  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id)
       |WHERE rk <= 3 ORDER BY cluster, rk""".stripMargin
  }

  val q68Sql: String =
    s"""$minhashCoreSql,
       |split AS (
       |  SELECT CASE WHEN id_a % 3 = 0 THEN id_a ELSE id_b END AS new_id,
       |         CASE WHEN id_a % 3 = 0 THEN id_b ELSE id_a END AS existing_id,
       |         est_jaccard
       |  FROM ests
       |  WHERE (id_a % 3 = 0) <> (id_b % 3 = 0) AND est_jaccard >= 0.5)
       |SELECT new_id, existing_id, est_jaccard FROM (
       |  SELECT split.*, row_number() OVER (PARTITION BY new_id ORDER BY est_jaccard DESC, existing_id) AS rk
       |  FROM split)
       |WHERE rk = 1 ORDER BY new_id""".stripMargin

  /** The user-facing dedup operator: remove near-duplicates above a
    * similarity threshold, keeping the smallest doc_id of each duplicate
    * group (greedy by id: a doc is dropped iff it is near-dup of ANY
    * smaller-id doc — deterministic, one anti-join, no iterative
    * connected-components pass; at 100 TB this is the standard
    * single-sweep policy).
    */
  def dedupDocuments(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val losers = minhashCandidates(spark, dir)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as("doc_id")) // id_a < id_b: the larger id loses
      .distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Where q45 materializes its loser set so the oracle can read it back.
    * Suffixed with the sf dir so a bench run at another scale factor between
    * the Verify dump and the DuckDB compare cannot clobber the sf0.01 file
    * the oracle reads.
    */
  def q45LosersPathFor(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q45_losers_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Greedy-policy loser set (deterministic from the corpus alone). */
  def q45Losers(spark: SparkSession, dir: String): DataFrame =
    minhashCandidates(spark, dir)
      .filter(col("est_jaccard") >= 0.8)
      .select(col("id_b").as("doc_id")) // id_a < id_b: the larger id loses
      .distinct()

  /** Verify-time hook: materialize the loser set the oracle reads back.
    * Kept OUT of the query fn so Bench times the dedup apply itself, not a
    * parquet write, and written unpartitioned (no coalesce(1) single-task
    * funnel — the oracle globs the directory).
    */
  def q45MaterializeLosers(spark: SparkSession, dir: String): Unit =
    q45Losers(spark, dir).write.mode("overwrite").parquet(q45LosersPathFor(dir))

  /** Surviving-corpus summary after near-dup removal. The loser set is
    * hash-based (engine-private, ScalaTest-covered invariants); the APPLY
    * step — anti-join + survivor aggregation — is driver-checked because
    * [[q45MaterializeLosers]] dumps the identical deterministic loser set
    * as parquet at Verify time for the oracle to read back.
    */
  def q45DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    docs.join(q45Losers(spark, dir), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** Placeholder [[graft.Verify]] substitutes with the actual per-sf losers
    * path at dump time, so the oracle compares correctly at ANY scale factor.
    */
  val Q45LosersToken = "__Q45_LOSERS__"

  val q45Sql: String =
    s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet('$Q45LosersToken/*.parquet'))
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Exact n-gram (token-set) Jaccard within CONTENT-REFINED blocks. The
    * block key is (lang, source, band, min-token-hash): metadata alone is
    * not a scale-safe blocking key — a (lang, source) slice grows with the
    * corpus (at 100 TB, ("en", "web") IS the corpus), so within-block
    * pairing on it is quadratic in corpus density. Composing in the
    * per-band MINIMUM token hash (the 1-row MinHash of the token set, KM
    * double-hash family — h_b(t) = md5_60(t) + b·md5_52(t) mod 2^60) makes
    * the block content-defined: docs pair only when they agree on a band's
    * min token, which near-dups do with probability ≈ their Jaccard per
    * band ([[Q41Bands]] = 2 bands ⇒ recall 1−(1−j)² — 96% at j = 0.8,
    * higher for the top-of-list pairs the query surfaces), while unrelated
    * docs land in different buckets. Bucket sizes then track near-dup
    * CLUSTER sizes, not corpus density — pair work stays ~linear as the
    * corpus grows (the round-6 smoke showed the metadata-only key going
    * 14× super-linear at 10× density; this is the fix). Scoring is still
    * EXACT token-set Jaccard — only candidate generation is LSH-refined.
    */
  /** Shared knobs for q41 — referenced by BOTH the Spark side and the
    * generated oracle SQL so they can never silently diverge between the
    * engines at any scale factor.
    */
  val Q41MaxBlock = 1024
  private[graft] val Q41Bands = 2

  /** The q41 bucket frame: one row per (doc, band) with the composite
    * content block key — shared by the pairing query and the dropped-block
    * audit. Typed Scala map for the hashing (the [[minhashSigRows]]
    * rationale: Catalyst higher-order functions interpret per element — a
    * per-token md5 loop is strictly faster as a typed map; measured 3.8 s
    * → ~1 s for the sf0.1 bucket pass). One md5 per token, both KM hash
    * legs read from the digest; tokens match [[tokenSet]] exactly.
    */
  private def q41Buckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Q41Bands
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .flatMap { case (id, lang, src, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct
        if (toks.isEmpty) Iterator.empty
        else {
          val mins = Array.fill(bands)(Long.MaxValue)
          toks.foreach { t =>
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val h2 = hash52(d)
            var h = hash60(d)
            var b = 0
            while (b < bands) {
              if (h < mins(b)) mins(b) = h
              h = (h + h2) & Mask60 // (h1 + b·h2) mod 2^60, incrementally
              b += 1
            }
          }
          (0 until bands).iterator.map(b => (id, lang, src, b, mins(b)))
        }
      }
      .toDF("doc_id", "lang", "source", "band", "minh")
  }

  def q41NgramJaccard(spark: SparkSession, dir: String, maxBlock: Int = Q41MaxBlock): DataFrame = {
    // Bucket cap — same policy as the LSH maxBucket guard: a bucket bigger
    // than the cap means a near-dup cluster (or boilerplate min token) too
    // hot for exact pairing; it is dropped and q41DroppedBlocks reports it.
    val capped = q41Buckets(spark, dir)
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("source"), col("band"), col("minh"))))
      .filter(col("bsz") <= maxBlock)
      .select(col("lang"), col("source"), col("band"), col("minh"), col("doc_id"))
    val key = Seq("lang", "source", "band", "minh")
    val pairs = capped.withColumnRenamed("doc_id", "id_a")
      .join(capped.withColumnRenamed("doc_id", "id_b"), key)
      .filter(col("id_a") < col("id_b"))
      .select(col("lang"), col("id_a"), col("id_b"))
      .distinct()
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokenSet(col("text")).as("toks"))
    pairs
      .join(toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .select(col("lang"), col("id_a"), col("id_b"),
        round(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(50)
  }

  /** Buckets q41 dropped under its cap — surface them so truncation is
    * never silent (a dropped bucket means "this min-token cluster needs
    * the full-signature LSH pipeline, not exact pairing").
    */
  def q41DroppedBlocks(spark: SparkSession, dir: String, maxBlock: Int = Q41MaxBlock): DataFrame =
    q41Buckets(spark, dir)
      .groupBy(col("lang"), col("source"), col("band"), col("minh"))
      .agg(count(lit(1)).as("block_size"))
      .filter(col("block_size") > maxBlock)
      .orderBy(col("block_size").desc, col("lang"), col("source"), col("band"), col("minh"))

  /** 60-bit token hash = first 15 hex chars of MD5. Chosen over FNV/xxhash
    * because BOTH engines compute it exactly — DuckDB:
    * `('0x' || substr(md5(t), 1, 15))::BIGINT` — which makes the whole
    * SimHash signature oracle-checkable, and 60 bits keeps it positive in a
    * signed BIGINT on both sides.
    */
  def md5Hash60(md: java.security.MessageDigest, s: String): Long =
    hash60(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** First 15 hex chars (60 bits) of an md5 digest. */
  private def hash60(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Hex chars 17-29 (52 bits) of an md5 digest — the `h2` stride of the
    * double-hashing family; 52 bits keeps j·h2 (j < 32) under 2^57 so the
    * oracle's BIGINT arithmetic cannot overflow.
    */
  private def hash52(d: Array[Byte]): Long = {
    var h = 0L
    var i = 8
    while (i < 14) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(14) & 0xf0L) >>> 4)
  }

  /** Connected components over a near-dup pair list: min-label propagation
    * (each node repeatedly adopts the smallest component id among itself
    * and its neighbors) — the clustering policy when "duplicate of a
    * duplicate" chains must collapse into ONE surviving doc per cluster,
    * vs [[dedupDocuments]]'s single-sweep greedy policy.
    *
    * Scale shape: each iteration is one shuffled equi-join + one min-agg;
    * convergence needs O(graph diameter) rounds (near-dup clusters are
    * shallow — a handful), and the driver only ever sees a changed-count.
    * This is the Pregel-style iteration Spark runs driver-coordinated.
    *
    * MEASURED AND REJECTED: composing TWO propagation steps per driver
    * action (to halve the per-round scheduling floor) made sf0.1 q46 go
    * 7.5 s → 13.1 s. The step-1 labels feed BOTH step-2 branches (the join
    * and the union), and a lazily-persisted frame referenced twice inside
    * ONE action computes twice — the cache only helps ACROSS actions, and
    * exchange reuse does not cover the post-shuffle aggregate. Forcing the
    * intermediate with its own count() restores one action per step, i.e.
    * the original loop. One step per action is the floor-minimal shape.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Explode each pair into both directed edges in ONE scan — a self-union
    // would recompute the (expensive) candidate-pair pipeline twice when
    // the cache is first populated.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-round cost note: at small graph sizes each round is dominated by
    // driver-side planning + task scheduling (~1 s/round at local[32]), not
    // by data — measured by re-running the loop with shuffle parallelism
    // sized to the edge count, which changed nothing outside noise. AQE
    // already coalesces the tiny shuffles, so no manual partition tuning
    // here; at real scale the rounds are data-bound and the one join + one
    // agg per round IS the minimal work.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var cached = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // One join + one aggregation per round: each node's self row carries
      // its current label in `own` (null on neighbor rows), so min(comp)
      // gives the propagated label and max(own) recovers the old one —
      // no second join to detect convergence.
      val contrib = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("comp"), lit(null).cast("long").as("own"))
        .union(labels.select(col("id"), col("comp"), col("comp").as("own")))
      val next = contrib.groupBy(col("id"))
        .agg(min(col("comp")).as("newComp"), max(col("own")).as("oldComp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // ONE driver action per round: the convergence count also
      // materializes `next`, so the parent cache can be dropped safely
      changed = next.filter(col("newComp") < col("oldComp")).count()
      cached.unpersist()
      cached = next
      labels = next.select(col("id"), col("newComp").as("comp"))
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** INCREMENTAL connected-components maintenance: fold a batch of NEW
    * pairs into an existing (id, comp) labeling WITHOUT re-running CC
    * over the old edge set — the label-graph CONTRACTION every
    * incremental dedup pipeline needs (at 100 TB "a nightly batch
    * arrived" must not mean "re-cluster the corpus"):
    *
    *  1. map each new pair's endpoints to their CURRENT component labels
    *     (an id the labeling has never seen is its own label — exactly
    *     how batch CC seeds);
    *  2. the distinct (label_a, label_b) pairs form the CONTRACTED
    *     label graph — nodes are components, sized by the components the
    *     batch TOUCHES plus its new ids, never by the corpus;
    *  3. run the ordinary min-label CC on that tiny graph (round count
    *     bounded by the contracted diameter);
    *  4. remap: every old id whose component merged takes the merged
    *     minimum; new ids take theirs; untouched ids keep their rows.
    *
    * Labels stay the MIN id of each component (min over merged old
    * minimums and new ids = the global min), so the result is
    * bit-identical to a from-scratch CC over old ∪ new — which is
    * exactly what the q263 oracle compares against.
    */
  def ccIncrementalUpdate(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("comp"))
    val contracted = newPairs
      .join(l.select(col("id").as("id_a"), col("comp").as("ca")), Seq("id_a"), "left")
      .join(l.select(col("id").as("id_b"), col("comp").as("cb")), Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      // EAGER lineage cut: the contracted graph is batch-sized, and its
      // plan drags the full labeling + candidate lineage into every CC
      // round below — localCheckpoint pins the tiny edge list as concrete
      // partitions so the loop's per-round work is loop-sized
      .localCheckpoint(true)
    // merged: contracted-node (old label or new id) -> new minimum label
    val merged = connectedComponents(contracted)
      .select(col("id").as("node"), col("comp").as("mcomp"))
    val updatedOld = l
      .join(merged, l("comp") === merged("node"), "left")
      .select(l("id"), coalesce(col("mcomp"), l("comp")).as("comp"))
    val newIds = newPairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      .join(l, Seq("id"), "left_anti")
    val newLabeled = newIds
      .join(merged, newIds("id") === merged("node"), "left")
      .select(newIds("id"), coalesce(col("mcomp"), newIds("id")).as("comp"))
    updatedOld.unionByName(newLabeled)
  }

  /** q263 — INCREMENTAL DEDUP-CC MAINTENANCE: the corpus's near-dup pairs
    * split into an OLD edge set (both endpoints in the first 4/5 of doc
    * ids) and a NEW batch (any pair touching the last fifth — the
    * nightly-arrival shape); batch CC labels the old graph once, then
    * [[ccIncrementalUpdate]] folds the new pairs in through the
    * contracted label graph. The output is q46's per-lang survivor
    * summary computed from the INCREMENTALLY-maintained labels — and the
    * oracle is q46's own from-scratch loser set, so any divergence
    * between maintenance and recompute (a missed merge, a stale remap, a
    * wrong minimum) breaks the hash.
    */
  def q263IncrementalCC(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashCandidates(spark, dir)
      .filter(col("est_jaccard") >= threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(5L)) === 4L
      val oldPairs = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
      val newPairs = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
      val labels = ccIncrementalUpdate(connectedComponents(oldPairs), newPairs)
      val losers = labels.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      Tables(spark, dir, "documents")
        .join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    } finally { pairs.unpersist(); () }
  }

  /** Oracle: identical to q46's — the from-scratch CC loser set. The
    * registered query maintains labels incrementally; the oracle
    * recomputes them whole. Equality IS the maintenance contract.
    */
  lazy val q263Sql: String = q46Sql

  /** Cluster-aware dedup: drop every doc that is not the minimum id of its
    * near-dup connected component (docs in no pair survive untouched).
    */
  def dedupDocumentsCC(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    Tables(spark, dir, "documents")
      .join(ccLosers(spark, dir, threshold), Seq("doc_id"), "left_anti")

  /** Non-survivors under the connected-components policy: every doc that is
    * not the minimum id of its near-dup component (deterministic from the
    * corpus alone, like [[q45Losers]]).
    */
  def ccLosers(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    connectedComponents(
        minhashCandidates(spark, dir).filter(col("est_jaccard") >= threshold))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))

  /** Where q46 materializes its CC loser set for the oracle (per-sf path,
    * same clobber-proofing as [[q45LosersPathFor]]).
    */
  def q46LosersPathFor(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q46_losers_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Placeholder [[graft.Verify]] substitutes with the per-sf CC losers
    * path at dump time.
    */
  val Q46LosersToken = "__Q46_LOSERS__"

  def q46MaterializeLosers(spark: SparkSession, dir: String): Unit =
    ccLosers(spark, dir).write.mode("overwrite").parquet(q46LosersPathFor(dir))

  /** Surviving-corpus summary under the cluster-collapse (connected
    * components) policy — the driver-checked row for [[dedupDocumentsCC]]:
    * chains of near-dups collapse to ONE survivor per component, so where a
    * doc's smallest component member is not a direct neighbor this summary
    * differs from q45's greedy sweep.
    */
  def q46DedupCC(spark: SparkSession, dir: String): DataFrame =
    dedupDocumentsCC(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))

  val q46Sql: String =
    s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet('$Q46LosersToken/*.parquet'))
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** SimHash: 60-bit signature where bit i is the sign of the summed token
    * hash bits. Computed per-row with typed Scala (narrow map — the
    * per-record imperative case); bucketed by the top 16 bits for banding.
    */
  def simhash60(tokens: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](60)
    tokens.foreach { t =>
      val h = md5Hash60(md, t)
      var bit = 0
      while (bit < 60) { if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1; bit += 1 }
    }
    var out = 0L
    var bit = 0
    while (bit < 60) { if (acc(bit) >= 0) out |= (1L << bit); bit += 1 }
    out
  }

  def q42Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(normText(col("text"))).as("toks"))
      .as[(Long, Seq[String])]
    d.map { case (id, toks) => (id, simhash60(toks)) }
      .toDF("doc_id", "simhash")
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 44))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTEs recomputing the md5-based SimHash signature in SQL:
    * per-token 60-bit hash, per-bit signed counts, sign-bit assembly.
    */
  private val simhashSigSql: String = {
    val sums = (0 until 60).map(b =>
      s"CAST(sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$b").mkString(", ")
    val bits = (0 until 60).map(b => s"(CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks WHERE tok <> ''),
       |bitsums AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bits AS simhash FROM bitsums)""".stripMargin
  }

  val q42Sql: String =
    s"""WITH $simhashSigSql
       |SELECT doc_id, simhash, simhash >> 44 AS bucket FROM sig ORDER BY doc_id""".stripMargin

  val q43Sql: String =
    s"""WITH $simhashSigSql,
       |sb AS (SELECT doc_id, simhash, simhash >> 44 AS bucket FROM sig)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |ORDER BY hamming, id_a, id_b LIMIT 100""".stripMargin

  /** SimHash near-dup pairs: bucket by top-16 bits, compare hamming distance
    * within buckets only (bit_count of xor — codegen'd).
    */
  def q43SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = q42Simhash(spark, dir)
    val a = sigs.select(col("bucket"), col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sigs.select(col("bucket"), col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Embedding near-dup: random-hyperplane LSH buckets (deterministic seeded
    * planes), cosine computed only within buckets. The 100 TB path: one
    * narrow signature pass + one shuffle on the 6-bit bucket key.
    */
  def embeddingNearDup(spark: SparkSession, dir: String, nBits: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val withB = Similarity.withBucket(e, nBits = nBits)
      .select(col("bucket"), col("vec_id"), col("embedding"))
    val a = withB.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = withB.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.nativeCosine(spark)(col("e_a"), col("e_b")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(50)
  }

  def q44EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(spark, dir, nBits = 6)

  /** Oracle: recompute the hyperplane bucket in SQL from the same seeded
    * plane literals ([[Similarity.bucketSql]]) and the pair cosine with the
    * q50-proven fold order.
    */
  val q44Sql: String = {
    val cos = "list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))" +
      " / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      " * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cos, 4) AS cosine
       |FROM embeddings a JOIN embeddings b
       |  ON a.vec_id < b.vec_id
       | AND ${Similarity.bucketSql("a.embedding", 6)} = ${Similarity.bucketSql("b.embedding", 6)}
       |ORDER BY cosine DESC, id_a, id_b LIMIT 50""".stripMargin
  }

  /** SimHash hamming cut for a q123 "near-dup" verdict (of 60 bits). */
  private[graft] val Q123Hamming = 16L

  /** q123: dedup-method agreement — the operational report that tells you
    * whether MinHash (est_jaccard ≥ 0.5) and SimHash (hamming ≤
    * [[Q123Hamming]] within top-16-bit buckets) are flagging the SAME
    * pairs: `both` is the high-confidence kill list, the `*_only` counts
    * calibrate the two thresholds against each other before anyone
    * deletes 10% of a 100 TB corpus on one method's say-so. One
    * full-outer join of two pair sets that are already bucket-bounded —
    * the report costs less than either detector.
    */
  def q123DedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashCandidates(spark, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), lit(1).as("mh"))
    val sigs = q42Simhash(spark, dir)
    val a = sigs.select(col("bucket"), col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sigs.select(col("bucket"), col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val sh = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= Q123Hamming)
      .select(col("id_a"), col("id_b"), lit(1).as("sh"))
    mh.join(sh, Seq("id_a", "id_b"), "full_outer")
      .withColumn("method",
        when(col("mh").isNotNull && col("sh").isNotNull, "both")
          .when(col("mh").isNotNull, "minhash_only")
          .otherwise("simhash_only"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("method"))
  }

  // the two shared CTE chains both define a `toks` CTE — the simhash chain
  // is renamed when composed so the combined WITH stays well-formed
  val q123Sql: String =
    s"""$minhashCoreSql,
       |mh AS (SELECT id_a, id_b FROM ests WHERE est_jaccard >= 0.5),
       |${simhashSigSql.replace("toks", "shtoks")},
       |sb AS (SELECT doc_id, simhash, simhash >> 44 AS bucket FROM sig),
       |shp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $Q123Hamming)
       |SELECT method, count(*) AS n_pairs FROM (
       |  SELECT CASE
       |    WHEN m.id_a IS NOT NULL AND s.id_a IS NOT NULL THEN 'both'
       |    WHEN m.id_a IS NOT NULL THEN 'minhash_only'
       |    ELSE 'simhash_only' END AS method
       |  FROM mh m FULL OUTER JOIN shp s ON m.id_a = s.id_a AND m.id_b = s.id_b)
       |GROUP BY method ORDER BY method""".stripMargin

  /** q130 knobs: anchors are [[Q130K]]-token shingles; anchors occurring
    * more than [[Q130AnchorCap]] times corpus-wide are dropped (boilerplate
    * — they would fan the anchor join out quadratically and a span made
    * ONLY of such text is exactly what q47 already measures); a shared
    * span counts when it reaches [[Q130MinSpan]] tokens.
    */
  private[graft] val Q130K = 5
  private[graft] val Q130MinSpan = 10L
  private[graft] val Q130AnchorCap = 64L

  /** q130: SUBSTRING-level exact dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") — find every ≥
    * [[Q130MinSpan]]-token span shared verbatim between two documents, the
    * train-data staple the doc-level family (exact/MinHash/SimHash/
    * semantic) cannot see: two long articles sharing one lifted paragraph
    * are NOT near-dups, but the paragraph still leaks across a train/test
    * split and gets memorized.
    *
    * Engine restatement of their suffix-array scan: anchor on every
    * [[Q130K]]-token shingle (narrow scan-side explode), bucket the corpus
    * by anchor text — the ONE shuffle, never all-pairs; a corpus-frequency
    * cap bounds each bucket and drops boilerplate anchors — then extend
    * matches WITHOUT re-touching text: positions of matching anchors for a
    * doc pair lie on a diagonal (pa − pb); consecutive positions on one
    * diagonal are one contiguous shared span of (run + K − 1) tokens, found
    * by the classic gaps-and-islands `pa − row_number()` grouping. Keys
    * after the anchor join are (doc_a, doc_b, diag) — output-sized, so the
    * span extension adds no corpus-sized shuffle. At 100 TB the anchor
    * table is the big intermediate: it is a projection of (hash, doc, pos)
    * — ~16 bytes/token — and the cap is enforced before any pairing.
    *
    * Emits per ordered pair the longest shared span and how many maximal
    * ≥-threshold ALIGNMENT runs exist — the review list a curation pass
    * cuts from. n_spans counts runs per diagonal: internally-periodic
    * shared text ("x y x y …") matches at several alignments and
    * contributes one run per alignment, so treat n_spans as a match-mass
    * indicator, not a count of disjoint regions (max_span_tokens is the
    * per-pair severity number; disjoint-region counting would need
    * interval merging across diagonals for marginal review value).
    */
  def q130SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    substringSpans(Tables(spark, dir, "documents"))

  /** The q130 pipeline over any (doc_id, text) frame — split out so the
    * planted-duplicate spec can feed a hand-built corpus.
    */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("l"))
      .filter(size(col("l")) >= Q130K)
    val sh = d
      .select(col("doc_id"), explode(sequence(lit(1), size(col("l")) - (Q130K - 1))).as("pos"), col("l"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("l"), col("pos"), lit(Q130K)), " ").as("sh"))
    // corpus-frequency cap: one count over the anchor bucketing the join
    // needs anyway; > cap ⇒ boilerplate, dropped BEFORE any pairing
    val capped = sh
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("cnt") <= Q130AnchorCap)
      .select(col("doc_id"), col("pos"), col("sh"))
    val a = capped.select(col("sh"), col("doc_id").as("doc_a"), col("pos").as("pa"))
    val b = capped.select(col("sh"), col("doc_id").as("doc_b"), col("pos").as("pb"))
    val m = a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    val wRun = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
    val spans = m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("run_id", col("pa") - row_number().over(wRun))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("run_id"))
      .agg((count(lit(1)) + (Q130K - 1)).as("span_tokens"))
    spans.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_tokens")).as("max_span_tokens"),
        sum(when(col("span_tokens") >= Q130MinSpan, 1L).otherwise(0L)).as("n_spans"))
      .filter(col("max_span_tokens") >= Q130MinSpan)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q130Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l FROM documents),
       |sh AS (
       |  SELECT doc_id, i AS pos, array_to_string(l[i : i + ${Q130K - 1}], ' ') AS sh
       |  FROM d, unnest(range(1, len(l) - ${Q130K - 2})) t(i)
       |  QUALIFY count(*) OVER (PARTITION BY sh) <= $Q130AnchorCap),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT doc_a, doc_b, pa - pb AS diag,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS run_id
       |  FROM m),
       |spans AS (
       |  SELECT doc_a, doc_b, count(*) + ${Q130K - 1} AS span_tokens
       |  FROM runs GROUP BY doc_a, doc_b, diag, run_id)
       |SELECT doc_a, doc_b,
       |  CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
       |  CAST(count(*) FILTER (WHERE span_tokens >= $Q130MinSpan) AS BIGINT) AS n_spans
       |FROM spans GROUP BY doc_a, doc_b HAVING max(span_tokens) >= $Q130MinSpan
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Where q169 materializes the q161 matched-pairs table for the oracle
    * (per-sf path, same clobber-proofing as [[q45LosersPathFor]]).
    */
  def q169PairsPathFor(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q169_pairs_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Placeholder [[graft.Verify]] substitutes with the per-sf pairs path. */
  val Q169PairsToken = "__Q169_PAIRS__"

  def q169MaterializePairs(spark: SparkSession, dir: String): Unit =
    q161RecordLinkage(spark, dir)
      .write.mode("overwrite").parquet(q169PairsPathFor(dir))

  /** q169 — GOLDEN-RECORD survivorship, the merge step after q161's
    * linkage: for every (feed record, master record) match, build the
    * merged record by FIELD-LEVEL precedence rules — content fields by
    * completeness (the longer text wins, ties to the feed side A),
    * identity fields by master precedence (the established B-side lang
    * survives, with a conflict flag for stewardship), lineage as the
    * concatenated source trail. This is the MDM "survivorship" contract:
    * linkage decides WHICH records are the same entity, survivorship
    * decides what the one surviving row SAYS.
    *
    * Scale shape: the pairs frame is the tiny side by construction (one
    * row per matched feed record), so both field lookups BROADCAST it
    * against the documents scan — the corpus never shuffles, and the
    * rules are pure per-row column expressions (codegen'd, no UDF).
    */
  def q169Survivorship(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val a = d.select(col("doc_id").as("id_a"), col("lang").as("lang_a"),
      col("source").as("source_a"), col("n_chars").as("n_chars_a"))
    val b = d.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
      col("source").as("source_b"), col("n_chars").as("n_chars_b"))
    q161RecordLinkage(spark, dir)
      .join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        when(col("n_chars_a") >= col("n_chars_b"), "A").otherwise("B").as("text_from"),
        col("lang_b").as("lang"),
        (col("lang_a") =!= col("lang_b")).cast("int").as("lang_conflict"),
        concat(col("source_a"), lit("+"), col("source_b")).as("sources"),
        greatest(col("n_chars_a"), col("n_chars_b")).as("n_chars"))
      .orderBy(col("id_a"))
  }

  val q169Sql: String =
    s"""SELECT p.id_a, p.id_b, p.est_jaccard,
       |  CASE WHEN a.n_chars >= b.n_chars THEN 'A' ELSE 'B' END AS text_from,
       |  b.lang AS lang,
       |  CAST(a.lang <> b.lang AS INT) AS lang_conflict,
       |  a.source || '+' || b.source AS sources,
       |  greatest(a.n_chars, b.n_chars) AS n_chars
       |FROM read_parquet('$Q169PairsToken/*.parquet') p
       |JOIN documents a ON a.doc_id = p.id_a
       |JOIN documents b ON b.doc_id = p.id_b
       |ORDER BY p.id_a""".stripMargin

  /** Where q164 materializes the near-dup component table for the oracle
    * (per-sf path, same clobber-proofing as [[q45LosersPathFor]]).
    */
  def q164CompsPathFor(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q164_comps_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Placeholder [[graft.Verify]] substitutes with the per-sf comps path. */
  val Q164CompsToken = "__Q164_COMPS__"

  def q164MaterializeComps(spark: SparkSession, dir: String): Unit =
    connectedComponents(
        minhashCandidates(spark, dir).filter(col("est_jaccard") >= 0.5))
      .write.mode("overwrite").parquet(q164CompsPathFor(dir))

  /** Per-doc (comp, split) assignment for q164 — the LEAKAGE-SAFE train/
    * val/test split: q84's md5-bucket rule, but keyed on the near-dup
    * CONNECTED COMPONENT id instead of the doc id, so a document and every
    * transitive near-duplicate of it land in the SAME split by
    * construction. Doc-keyed splitting leaks: a near-dup pair split across
    * train and test means the model is evaluated on paraphrases of its
    * training data — the contamination q58 hunts between corpus and
    * benchmarks, recreated INSIDE the corpus by the split itself. Docs in
    * no near-dup pair are their own singleton component (comp = doc_id).
    */
  private[graft] def q164DocSplits(spark: SparkSession, dir: String): DataFrame = {
    val comps = connectedComponents(
        minhashCandidates(spark, dir).filter(col("est_jaccard") >= 0.5))
      .withColumnRenamed("id", "doc_id")
    val bucket = graft.functions.ColFns.h60(col("comp")) % 100
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
  }

  /** q164: the per-split report — doc and component counts. The driver-
    * checked surface; the oracle recomputes the split rule from the
    * materialized component table ([[q164MaterializeComps]]), and the
    * QueriesSpec leakage gate proves zero ≥ 0.5 candidate pairs cross
    * splits (true by construction: same component ⇒ same split).
    */
  def q164LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    q164DocSplits(spark, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("comp")).as("n_components"))
      .orderBy(col("split"))

  val q164Sql: String =
    s"""SELECT split, count(*) AS n_docs,
       |  CAST(count(DISTINCT comp) AS BIGINT) AS n_components
       |FROM (
       |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, comp
       |  FROM (
       |    SELECT coalesce(c.comp, d.doc_id) AS comp,
       |      ('0x' || substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
       |    FROM documents d
       |    LEFT JOIN read_parquet('$Q164CompsToken/*.parquet') c ON d.doc_id = c.id))
       |GROUP BY split ORDER BY split""".stripMargin

  /** A-side source prefixes for q161 — the "new crawl feed" corpus. */
  private[graft] val Q161ASources = Seq("src0", "src1", "src2", "src3", "src4")
  private[graft] val Q161Threshold = 0.5

  /** Cross-corpus fuzzy record linkage over precomputed signature frames:
    * band A's keys against B's (A×B only — never within-corpus), cap each
    * side's oversized buckets, dedup candidate ids, estimate Jaccard from
    * the signatures, then keep each LEFT row's best match at or above the
    * threshold (argmax per id_a, ties to the smallest id_b). The entity-
    * resolution shape [[minhashCandidates]] cannot express: its pairs are
    * one corpus joined to itself on `id_a < id_b`, while linkage joins TWO
    * differently-keyed datasets and must answer "which existing record is
    * THIS new record", one row per matched left id.
    *
    * Scale shape: candidate generation is bucket-local on both sides
    * (O(|A|·bands + |B|·bands) exploded rows, one shuffle on the band
    * key), per-side caps bound every bucket join, and the per-left argmax
    * windows over the already-tiny match set. With B's signatures served
    * from the on-disk store, a daily A-batch hashes only itself — the q68
    * incremental contract, generalized to two corpora.
    */
  def linkBySigs(sigsA: DataFrame, sigsB: DataFrame, threshold: Double,
      maxBucket: Int = 256): DataFrame = {
    def bands(sigs: DataFrame) = sigs
      .select(col("doc_id"), posexplode(bandKeys(col("sig"), BANDS, ROWS)).as(Seq("band", "key")))
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
      .filter(col("bsz") <= maxBucket)
      .select(col("band"), col("key"), col("doc_id"))
    val cand = bands(sigsA).withColumnRenamed("doc_id", "id_a")
      .join(bands(sigsB).withColumnRenamed("doc_id", "id_b"), Seq("band", "key"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val scored = cand
      .join(sigsA.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigsB.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / K, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id_a"))
      .orderBy(col("est_jaccard").desc, col("id_b"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Record linkage over two (doc_id, text) frames — signatures computed
    * in-session on both sides (the spec's planted-match entry point).
    */
  def linkCorpora(spark: SparkSession, a: DataFrame, b: DataFrame,
      threshold: Double, maxBucket: Int = 256): DataFrame =
    linkBySigs(minhashSigRows(spark, a, n = 3, k = K),
      minhashSigRows(spark, b, n = 3, k = K), threshold, maxBucket)

  /** q161: link the [[Q161ASources]] slice (a "new crawl feed") against the
    * REST of the corpus — for each feed doc, its best existing match at
    * est_jaccard ≥ [[Q161Threshold]]. Both sides' signatures come from
    * [[corpusSigs]] (the store when fresh), so the query costs banding +
    * bucket joins, not a hashing pass.
    */
  def q161RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    val sigs = corpusSigs(spark, dir).join(src, "doc_id")
    val isA = col("source").isin(Q161ASources: _*)
    linkBySigs(
        sigs.filter(isA).select(col("doc_id"), col("sig")),
        sigs.filter(!isA).select(col("doc_id"), col("sig")),
        Q161Threshold)
      .orderBy(col("id_a"))
  }

  val q161Sql: String = {
    val inA = Q161ASources.map(s => s"'$s'").mkString(", ")
    s"""WITH $minhashSigBandsSql,
       |src AS (SELECT doc_id, source IN ($inA) AS is_a FROM documents),
       |ba AS (
       |  SELECT b, key, doc_id FROM (
       |    SELECT bands.*, count(*) OVER (PARTITION BY b, key) AS n
       |    FROM bands JOIN src USING (doc_id) WHERE is_a)
       |  WHERE n <= 256),
       |bb AS (
       |  SELECT b, key, doc_id FROM (
       |    SELECT bands.*, count(*) OVER (PARTITION BY b, key) AS n
       |    FROM bands JOIN src USING (doc_id) WHERE NOT is_a)
       |  WHERE n <= 256),
       |cand AS (
       |  SELECT DISTINCT ba.doc_id AS id_a, bb.doc_id AS id_b
       |  FROM ba JOIN bb ON ba.b = bb.b AND ba.key = bb.key),
       |scored AS (
       |  SELECT id_a, id_b,
       |    round(CAST(len(list_filter(range(1, ${K + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $K, 4) AS est_jaccard
       |  FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, est_jaccard FROM (
       |  SELECT scored.*, row_number() OVER (PARTITION BY id_a ORDER BY est_jaccard DESC, id_b) AS rk
       |  FROM scored WHERE est_jaccard >= $Q161Threshold)
       |WHERE rk = 1 ORDER BY id_a""".stripMargin
  }

  /** q182's Jaccard threshold as a fraction n/10 (7 → 0.7). */
  private[graft] val Q182ThreshTenths = 7L

  /** q182 — EXACT set-similarity self-join by PREFIX FILTERING (Chaudhuri
    * et al. 2006 SSJoin / Bayardo et al. 2007 AllPairs): find every
    * document pair whose 3-gram shingle sets have Jaccard ≥ 0.7 — the
    * same measure q41 estimates through capped buckets — with a
    * NO-FALSE-NEGATIVES guarantee and no caps. The trick: order each
    * set's tokens by GLOBAL rarity (df asc, token asc — a strict total
    * order); if J(a,b) ≥ t then |a∩b| ≥ ⌈t·|s|⌉ for each side s, so by
    * pigeonhole the globally-first shared token sits within the first
    * |s| − ⌈t·|s|⌉ + 1 tokens of BOTH sorted lists — candidates need only
    * a token-equi-join over those short prefixes. A length filter
    * (10·min ≥ 7·max — J ≥ 0.7 is impossible across a bigger size gap)
    * prunes further, then candidates verify by exact shared-token count:
    * J ≥ 0.7 ⇔ 17·shared ≥ 7·(|a|+|b|), all integral.
    *
    * Scale: posting lists in the candidate join are the RAREST tokens'
    * (that is what rarity-first prefixes mean), so the join is bucket-
    * local like every dedup here — but EXACT where q41 drops hot blocks
    * and audits them. Ceil arithmetic is `(7·sz + 9) div 10` on both
    * engines; jacc_bp is an integer division of two counts.
    */
  def q182SetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same memoized frame q211 reads — one tokenize pass per (session,
    // corpus) serves both set-similarity operators
    val sh = shingleFrame(spark, dir)
    val dfreq = sh.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("token"))
    val pref = sh.join(dfreq, "token") // sz rides in the shingle frame
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= col("sz") - expr(s"(${Q182ThreshTenths} * sz + 9) div 10") + 1)
      .select(col("doc_id"), col("token"), col("sz"))
    val cand = pref.select(col("doc_id").as("id_a"), col("token"), col("sz").as("sz_a"))
      .join(pref.select(col("doc_id").as("id_b"), col("token"), col("sz").as("sz_b")), "token")
      .filter(col("id_a") < col("id_b"))
      .filter(lit(10) * least(col("sz_a"), col("sz_b")) >=
        lit(Q182ThreshTenths) * greatest(col("sz_a"), col("sz_b")))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("token")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("token")), Seq("id_b", "token"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(lit(10 + Q182ThreshTenths) * col("shared") >=
        lit(Q182ThreshTenths) * (col("sz_a") + col("sz_b")))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"), col("shared"),
        expr("10000 * shared div (sz_a + sz_b - shared)").as("jacc_bp"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q182Sql: String =
    s"""WITH tl AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS token
       |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tl WHERE len(toks) >= 3)
       |    UNION ALL
       |    SELECT doc_id, array_to_string(toks, ' ') AS token FROM tl WHERE len(toks) < 3)),
       |df AS (SELECT token, count(*) AS df FROM sh GROUP BY token),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
       |ord AS (
       |  SELECT s.doc_id, s.token, z.sz,
       |    row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.token) AS rn
       |  FROM sh s JOIN df d USING (token) JOIN sz z USING (doc_id)),
       |pref AS (
       |  SELECT doc_id, token, sz FROM ord
       |  WHERE rn <= sz - ($Q182ThreshTenths * sz + 9) // 10 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b
       |  FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id
       |  WHERE 10 * least(a.sz, b.sz) >= $Q182ThreshTenths * greatest(a.sz, b.sz)),
       |ver AS (
       |  SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, CAST(count(*) AS BIGINT) AS shared
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.id_a
       |  JOIN sh y ON y.doc_id = c.id_b AND y.token = x.token
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, sz_a, sz_b, shared,
       |  10000 * shared // (sz_a + sz_b - shared) AS jacc_bp
       |FROM ver
       |WHERE ${10 + Q182ThreshTenths} * shared >= $Q182ThreshTenths * (sz_a + sz_b)
       |ORDER BY id_a, id_b""".stripMargin

  /** q211 containment threshold in tenths: keep (a, b) with
    * |Sa∩Sb| ≥ 0.8·|Sa|.
    */
  private[graft] val Q211ContainTenths = 8

  /** q211 — ASYMMETRIC CONTAINMENT JOIN: pairs (a, b) where a fraction ≥
    * t of a's shingles also appear in b — C(a→b) = |Sa∩Sb|/|Sa| ≥ t. This
    * is the QUOTE/EXCERPT detector symmetric Jaccard (q182) is blind to: a
    * 50-shingle quote inside a 5000-shingle article has Jaccard ≈ 0.01 but
    * containment 1.0, and the Lee et al. dedup papers treat exactly this
    * class (boilerplate wrappers, syndicated excerpts) as the residue
    * exact-dup passes miss.
    *
    * Prefix filter, ONE-SIDED (the containment variant of the q182
    * AllPairs filter): if a misses at most ⌊(1−t)·|Sa|⌋ of its shingles in
    * b, then any fixed ordering of Sa has a shared shingle among its first
    * k_a = |Sa| − ⌈t·|Sa|⌉ + 1 elements — so joining only a's k_a-prefix
    * against the FULL inverted index catches every qualifying pair (no
    * false negatives; the asymmetry means the index side takes no prefix
    * cut, which is precisely why the probe side's must be rarest-first).
    * Ordering by ascending global df makes candidate volume
    * Σ_{tok ∈ prefix(a)} df(tok) — each probe pays its rarest shingles'
    * document frequencies, the same economics as q182's rarity-ordered
    * prefixes. Verification counts shared shingles per candidate and keeps
    * 10·shared ≥ [[Q211ContainTenths]]·|Sa| — integral throughout;
    * containment crosses engines as basis points.
    *
    * Scale: the inverted index is the corpus shingle frame (built once,
    * same frame q182 reads); candidates are token-equi-joins, never
    * all-pairs; both directions of a mutually-containing pair emit — the
    * operator is directional by design.
    */
  def q211ContainmentJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingle frame feeds df, sizes, the prefix, AND both verification
    // joins — persisted via the session-keyed memo so the
    // tokenize+explode+distinct runs once per (session, corpus), not 4×
    // per call and never once-per-call abandoned (Bench.coldSweep drops it
    // between measurements)
    val sh = shingleFrame(spark, dir)
    val dfreq = sh.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("token"))
    val pref = sh.join(dfreq, "token") // sz rides in the shingle frame
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= col("sz") - expr(s"($Q211ContainTenths * sz + 9) div 10") + 1)
      .select(col("doc_id").as("id_a"), col("token"), col("sz").as("sz_a"))
    // SIZE FILTER ahead of the exploded verify (guide §3 — reduce the big
    // side before shuffling it): shared ≤ |Sb|, so 10·shared ≥ 8·|Sa|
    // requires 10·|Sb| ≥ 8·|Sa| — a candidate with a too-small b can never
    // verify. `sz` already rides on every shingle row, so the bound costs
    // one comparison per candidate row and prunes BEFORE the distinct
    // exchange and the Σ sz_a verification join. Values unchanged (the
    // dropped pairs fail the final filter identically — oracle re-checked).
    val cand = pref
      .join(sh.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("token")), "token")
      .filter(col("id_a") =!= col("id_b") &&
        lit(10) * col("sz_b") >= lit(Q211ContainTenths) * col("sz_a"))
      .select(col("id_a"), col("id_b"), col("sz_a"))
      .distinct()
    // verification counts shared shingles per candidate via the EXPLODED
    // equi-join (re-join sh on both ids, hash-aggregate per pair) — the
    // q182 verification kernel. Round 11 ran the array alternative
    // (collect_set per doc, array_intersect per pair): it carries each
    // candidate as one row, but BOTH full token-set arrays ride every
    // candidate row through the join shuffle, and the bench's own
    // harness_drift flag convicted it — the same measurement varied
    // 5.7–45.9 s with heap history (GC-bound), and at 100× the per-row
    // arrays are an OOM, not a slowdown. The exploded stream is
    // Σ_cand sz_a SMALL (id, id, token) rows: map-side partial counts,
    // spillable hash aggregation, no aggregation buffer ever holds more
    // than a tally — memory-flat at any scale.
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("token")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("token")), Seq("id_b", "token"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"))
      .agg(count(lit(1)).as("shared"))
      .filter(lit(10) * col("shared") >= lit(Q211ContainTenths) * col("sz_a"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("shared"),
        expr("10000 * shared div sz_a").as("contain_bp"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q211Sql: String =
    s"""WITH tl AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS token
       |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tl WHERE len(toks) >= 3)
       |    UNION ALL
       |    SELECT doc_id, array_to_string(toks, ' ') AS token FROM tl WHERE len(toks) < 3)),
       |df AS (SELECT token, count(*) AS df FROM sh GROUP BY token),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
       |ord AS (
       |  SELECT s.doc_id, s.token, z.sz,
       |    row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.token) AS rn
       |  FROM sh s JOIN df d USING (token) JOIN sz z USING (doc_id)),
       |pref AS (
       |  SELECT doc_id AS id_a, token, sz AS sz_a FROM ord
       |  WHERE rn <= sz - ($Q211ContainTenths * sz + 9) // 10 + 1),
       |cand AS (
       |  SELECT DISTINCT p.id_a, s.doc_id AS id_b, p.sz_a
       |  FROM pref p JOIN sh s ON s.token = p.token AND s.doc_id <> p.id_a),
       |ver AS (
       |  SELECT c.id_a, c.id_b, c.sz_a, CAST(count(*) AS BIGINT) AS shared
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.id_a
       |  JOIN sh y ON y.doc_id = c.id_b AND y.token = x.token
       |  GROUP BY 1, 2, 3)
       |SELECT id_a, id_b, sz_a, shared, 10000 * shared // sz_a AS contain_bp
       |FROM ver
       |WHERE 10 * shared >= $Q211ContainTenths * sz_a
       |ORDER BY id_a, id_b""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q211_containment_join" -> q211ContainmentJoin _,
    "q182_setsim_join" -> q182SetSimJoin _,
    "q123_dedup_agreement" -> q123DedupAgreement _,
    "q40_dedup_minhash_lsh" -> q40MinhashLsh _,
    "q41_dedup_ngram_jaccard" -> ((s: SparkSession, dir: String) => q41NgramJaccard(s, dir)),
    "q45_dedup_apply" -> q45DedupApply _,
    "q46_dedup_cc" -> q46DedupCC _,
    "q42_dedup_simhash" -> q42Simhash _,
    "q43_dedup_simhash_pairs" -> q43SimhashPairs _,
    "q44_dedup_embedding" -> q44EmbeddingNearDup _,
    "q68_incremental_dedup" -> q68IncrementalDedup _,
    "q263_incremental_cc" -> ((s: SparkSession, d: String) => q263IncrementalCC(s, d)),
    "q98_semantic_dedup" -> q98SemanticDedup _,
    "q130_substring_dedup" -> q130SubstringDedup _,
    "q161_record_linkage" -> q161RecordLinkage _,
    "q164_leakage_safe_split" -> q164LeakageSafeSplit _,
    "q169_survivorship" -> q169Survivorship _)

  /** Every dedup query is oracle-checked: Jaccard and pair cosines restate
    * directly in SQL, the SimHash and MinHash hash families are md5-based
    * specifically so DuckDB can recompute signatures and band keys, and
    * q45's loser set round-trips through parquet.
    */
  val oracles: Map[String, String] = Map(
    "q211_containment_join" -> q211Sql,
    "q182_setsim_join" -> q182Sql,
    "q123_dedup_agreement" -> q123Sql,
    "q40_dedup_minhash_lsh" -> q40Sql,
    "q42_dedup_simhash" -> q42Sql,
    "q43_dedup_simhash_pairs" -> q43Sql,
    "q44_dedup_embedding" -> q44Sql,
    "q45_dedup_apply" -> q45Sql,
    "q46_dedup_cc" -> q46Sql,
    "q41_dedup_ngram_jaccard" -> q41SqlFor(Q41MaxBlock),
    "q68_incremental_dedup" -> q68Sql,
    "q263_incremental_cc" -> q263Sql,
    "q98_semantic_dedup" -> q98Sql,
    "q130_substring_dedup" -> q130Sql,
    "q161_record_linkage" -> q161Sql,
    "q164_leakage_safe_split" -> q164Sql,
    "q169_survivorship" -> q169Sql)

  /** Verify-time side-effects: engine-private stages the oracles read back
    * as parquet — run once at dump time, never inside a query fn. The
    * signature store writes FIRST so the loser-set materializers (and every
    * query fn after them) consume the artifact rather than rebuilding the
    * candidate pipeline.
    */
  val materializers: Seq[(SparkSession, String) => Unit] =
    Seq((s, d) => writeSignatureStore(s, d), q45MaterializeLosers _,
      q46MaterializeLosers _, q164MaterializeComps _, q169MaterializePairs _)

  /** q41 oracle parameterized on the bucket cap — recomputes the composite
    * (lang, source, band, min-token-hash) block key and the `bsz <=
    * maxBlock` filter verbatim, so oracle equivalence holds by construction
    * at ANY scale factor, and a low-cap differential run (maxBlock=8 both
    * sides) can exercise the dropped-bucket path against DuckDB directly.
    */
  def q41SqlFor(maxBlock: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, source,
       |    list_distinct(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, lang, source, unnest(toks) AS t FROM toks),
       |th AS (
       |  SELECT doc_id, lang, source,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h1,
       |    ('0x' || substr(md5(t), 17, 13))::BIGINT AS h2
       |  FROM tok),
       |mins AS (
       |  SELECT doc_id, lang, source, b, min((h1 + b * h2) % 1152921504606846976) AS minh
       |  FROM th, range($Q41Bands) r(b) GROUP BY 1, 2, 3, 4),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT m.*, count(*) OVER (PARTITION BY lang, source, b, minh) AS bsz FROM mins m)
       |  WHERE bsz <= $maxBlock),
       |pairs AS (
       |  SELECT DISTINCT a.lang, a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM capped a JOIN capped b2
       |    ON a.lang = b2.lang AND a.source = b2.source AND a.b = b2.b
       |   AND a.minh = b2.minh AND a.doc_id < b2.doc_id)
       |SELECT pairs.lang AS lang, id_a, id_b,
       |  round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |    / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
       |FROM pairs
       |JOIN toks ta ON ta.doc_id = pairs.id_a
       |JOIN toks tb ON tb.doc_id = pairs.id_b
       |ORDER BY jaccard DESC, id_a, id_b LIMIT 50""".stripMargin
}
