package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for the training-data pipeline, all built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs in the hot path, so
  * every query stays inside WholeStageCodegen and scales linearly with
  * input bytes (scan-bound at 100 TB).
  */
object TextOps {

  /** Normalized text: lowercase, collapse whitespace, trim. */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace tokens with empties removed. */
  def wsTokens(c: Column): Column = filter(split(c, "\\s+"), t => length(t) > 0)

  /** BPE-ish pre-tokenizer token count: word-char runs plus single
    * punctuation marks — `regexp_extract_all` with the same pattern is
    * portable across engines (no lookbehind).
    */
  def regexTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Term frequencies across the corpus: explode + count — the scale path
    * is partial aggregation per partition then one shuffle on token.
    */
  def q30TokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(explode(wsTokens(normText(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  val q30Sql: String =
    """SELECT token, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
      |  FROM documents)
      |WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin

  /** Per-document quality features: token count, char count, average word
    * length, stopword ratio, all-scalar single pass.
    */
  def q31QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
    val toks = wsTokens(normText(col("text")))
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isInCollection(stop)))
    d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        nTok.cast("long").as("n_tokens"),
        // per-row int/int division: identical IEEE result on any engine
        (length(regexp_replace(col("text"), "\\s", "")).cast("double") / greatest(nTok, lit(1))).as("avg_word_len"),
        (nStop.cast("double") / greatest(nTok, lit(1))).as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  val q31Sql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_actual,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / greatest(len(toks), 1) AS avg_word_len,
      |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
      |    / greatest(len(toks), 1) AS stopword_ratio
      |FROM (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS toks
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Document fingerprint: md5 of normalized text — the exact-dedup content
    * key (md5 is identical across engines, so it oracles cleanly; xxhash64
    * is the cheaper in-engine variant used by Dedup).
    */
  def q32Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), md5(normText(col("text"))).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val q32Sql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language-ID: character/stopword n-gram heuristic, deterministic.
    * Scores each language by stopword hits + diacritic signal; emits the
    * argmax. Expressed as a codegen'd CASE cascade (no UDF). No SQL oracle
    * (heuristic, not ANSI-expressible compactly) — rows-only check.
    */
  def q33LangId(spark: SparkSession, dir: String): DataFrame = {
    // rebalance: 20+ rlike probes per row are fan-out work inside the
    // scan stage — on the single-row-group corpus file they otherwise run
    // in ONE task (r18: 2.2 s → 0.6 s; exact no-op on a many-split table)
    val d = graft.operators.Fanout.rebalance(Tables(spark, dir, "documents"))
    val t = normText(col("text"))
    def hits(words: Seq[String]): Column =
      words.map(w => when(t.rlike(s"\\b$w\\b"), 1).otherwise(0)).reduce(_ + _)
    val enScore = hits(Seq("the", "and", "of", "to", "a", "is"))
    val esScore = hits(Seq("el", "la", "de", "que", "y", "en")) +
      when(t.rlike("[áéíóúñ¿¡]"), 3).otherwise(0)
    val deScore = hits(Seq("der", "die", "das", "und", "ist", "nicht")) +
      when(t.rlike("[äöüß]"), 3).otherwise(0)
    val frScore = hits(Seq("le", "les", "des", "est", "une", "et")) +
      when(t.rlike("[àâçèêëîïôùû]"), 2).otherwise(0)
    d.select(
        col("doc_id"), col("lang").as("declared_lang"),
        when(enScore >= esScore && enScore >= deScore && enScore >= frScore && enScore > 0, "en")
          .when(esScore >= deScore && esScore >= frScore && esScore > 0, "es")
          .when(deScore >= frScore && deScore > 0, "de")
          .when(frScore > 0, "fr")
          .otherwise("und").as("detected_lang"))
      .orderBy(col("doc_id"))
  }

  /** N-char-gram profile per document: leading char bigrams as a language
    * signature (the n-gram half of lang-ID), token-level.
    */
  def q34CharNgrams(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(explode(wsTokens(normText(col("text")))).as("token"))
      .filter(length(col("token")) >= 2)
      .select(substring(col("token"), 1, 2).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(30)
  }

  val q34Sql: String =
    """SELECT bigram, count(*) AS n FROM (
      |  SELECT substring(token, 1, 2) AS bigram FROM (
      |    SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
      |    FROM documents)
      |  WHERE length(token) >= 2)
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30""".stripMargin

  /** Corpus stats by language and source — the monitoring rollup a training
    * pipeline runs per ingest batch.
    */
  def q35CorpusStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    // avg in integer hundredths ((100*sum) div n): exact on both engines,
    // where round(avg,2) sits on float boundaries and DuckDB's sum over INT
    // yields HUGEINT — both hash-mismatch vs Spark.
    d.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .select(
        col("lang"), col("source"), col("n_docs"), col("total_chars"),
        expr("(total_text_len * 100L) div n_docs").as("avg_text_len_c"))
      .orderBy(col("lang"), col("source"))
  }

  val q35Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(length(text)) AS BIGINT) * 100 // count(*) AS avg_text_len_c
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Regex token counting (BPE-ish pre-tokenizer) per doc. */
  def q36TokenCountRegex(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), regexTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken): rolling
    * Rabin-Karp hashes over character k-grams, then the minimum hash in
    * each sliding window of w — a position-robust fingerprint set whose
    * overlap survives local edits (the plagiarism/near-dup standard).
    * Scalar-heavy per-row loop -> typed Scala (see Dedup.minhashSigRows).
    */
  def winnowingFingerprint(text: String, k: Int = 5, w: Int = 4): Array[Long] = {
    val t = text.toLowerCase.replaceAll("\\s+", " ").trim
    if (t.length < k) return Array(t.hashCode.toLong)
    val B = 257L; val M = 1000000007L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = pow * B % M; i += 1 }
    val n = t.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = (h * B + t.charAt(i)) % M; i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = ((h - t.charAt(i - 1) * pow % M + M * B) % M * B + t.charAt(i + k - 1)) % M
      hs(i) = h
      i += 1
    }
    // min per window of w, record-rightmost-on-tie (standard winnowing)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var s = 0
    while (s + w <= n) {
      var m = hs(s); var j = s + 1
      while (j < s + w) { if (hs(j) <= m) m = hs(j); j += 1 }
      out += m
      s += 1
    }
    if (out.isEmpty) Array(hs.min) else out.toArray
  }

  /** Per-doc winnowing fingerprint count + first selected hash — rows-only
    * (engine-specific hashing); determinism + edit-robustness tested.
    */
  def q37Winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val fp = winnowingFingerprint(t)
        (id, fp.length.toLong, fp.head)
      }
      .toDF("doc_id", "n_fingerprints", "first_fp")
      .orderBy(col("doc_id"))
  }

  /** Unigram-rarity score — the cheap LM-quality proxy a curation pipeline
    * runs before any model-based scoring: how common a document's tokens are
    * in its own corpus (low mean frequency = rare/noisy text). The unigram
    * table is one hash aggregation; the rejoin is a shuffled equi-join on the
    * token key that AQE can broadcast when the vocabulary is small. Scored in
    * exact integer space (mean corpus frequency in thousandths via integer
    * division) so the oracle hash-matches — no floating log/perplexity drift.
    */
  def q38UnigramRarity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val toks = d.select(col("doc_id"), explode(wsTokens(normText(col("text")))).as("t"))
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
    toks.join(cnt, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("total_tok_freq"))
      .select(col("doc_id"), col("n_tokens"), col("total_tok_freq"),
        expr("(total_tok_freq * 1000L) div n_tokens").as("mean_freq_m"))
      .orderBy(col("doc_id"))
  }

  val q38Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS t
      |  FROM documents),
      |tk AS (SELECT doc_id, t FROM tok WHERE t <> ''),
      |cnt AS (SELECT t, count(*) AS c FROM tk GROUP BY t)
      |SELECT doc_id, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS total_tok_freq,
      |  CAST(sum(c) AS BIGINT) * 1000 // count(*) AS mean_freq_m
      |FROM tk JOIN cnt USING (t) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle: the Rabin-Karp hash is polynomial mod 1000000007, so DuckDB
    * recomputes it in closed form (c0·257⁴ + … + c4 mod p ≡ the rolling
    * update), takes the per-window min, and dedups — fingerprint counts and
    * the first selected hash match exactly. (The <k and <k+w-1 short-text
    * fallbacks in [[winnowingFingerprint]] are unreachable on any fixture:
    * min normalized text length is 44.)
    */
  val q37Sql: String =
    """WITH t AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      |p AS (SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i FROM t),
      |hs AS (SELECT doc_id, i,
      |    (ord(substr(t, i, 1)) * 4362470401
      |     + ord(substr(t, i + 1, 1)) * 16974593
      |     + ord(substr(t, i + 2, 1)) * 66049
      |     + ord(substr(t, i + 3, 1)) * 257
      |     + ord(substr(t, i + 4, 1))) % 1000000007 AS h
      |  FROM p),
      |win AS (SELECT doc_id, i,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
      |    max(i) OVER (PARTITION BY doc_id) AS maxi
      |  FROM hs)
      |SELECT doc_id, CAST(count(DISTINCT mh) AS BIGINT) AS n_fingerprints,
      |  CAST(min(CASE WHEN i = 1 THEN mh END) AS BIGINT) AS first_fp
      |FROM win WHERE i <= maxi - 3
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C4-style repetition filter: the fraction of a document's word
    * TRIGRAMS that are repeats of an earlier trigram in the same document —
    * the classic "remove boilerplate / TV-static text" quality signal for
    * training-data curation. Per-lang aggregate plus a flagged-doc count at
    * the 10% threshold; the dup fraction is kept integer-exact (basis
    * points via `div`) so both engines compare without float rounding.
    * Pure narrow projection + one aggregation shuffle.
    */
  def q39Repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("lang"),
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ").as("toks"))
      .withColumn("grams",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .otherwise(expr("array()")))
      .select(col("lang"),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_uniq"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("total_grams"),
        sum(col("n_grams") - col("n_uniq")).as("dup_grams"),
        // greatest(n_grams, 1): zero-gram docs can't flag, and neither
        // engine hits integer division by zero. BIGINT before the *10000:
        // size() is Int and DuckDB len() is BIGINT — without the cast a
        // doc with >~214k duplicate trigrams wraps on the Spark side only
        sum(when(expr("(CAST(n_grams - n_uniq AS BIGINT) * 10000) div greatest(n_grams, 1)") > 1000, 1L)
          .otherwise(0L)).as("n_flagged"))
      .orderBy(col("lang"))
  }

  val q39Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len(toks) >= 3
      |         THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |         ELSE [] END AS grams
      |  FROM t),
      |s AS (SELECT lang, len(grams) AS n_grams, len(list_distinct(grams)) AS n_uniq FROM g)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_grams) AS BIGINT) AS total_grams,
      |  CAST(sum(n_grams - n_uniq) AS BIGINT) AS dup_grams,
      |  CAST(count(*) FILTER (WHERE (n_grams - n_uniq) * 10000 // greatest(n_grams, 1) > 1000) AS BIGINT) AS n_flagged
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** q29: per-language heavy-hitter tokens via the native Misra-Gries
    * sketch aggregate ([[graft.functions.MisraGriesTopK]]). k=64 exceeds
    * the corpus vocabulary, so the sketch runs in its exact regime and the
    * counts equal a full groupBy — which is what the oracle restates. The
    * lossy regime (k below distinct count: frequency guarantee, bounded
    * undercount) is covered in OperatorsSpec.
    *
    * Scale shape: per-partition state is <= k counters regardless of input
    * size; the shuffle moves one k-entry summary per partition per lang —
    * top tokens over 100 TB without shuffling the token stream.
    */
  def q29HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("token"))
    d.select(col("lang"), explode(wsTokens(normText(col("text")))).as("token"))
      .groupBy(col("lang"))
      .agg(call_function("mg_topk", col("token"), lit(64)).as("hh"))
      .select(col("lang"), explode(col("hh")).as("e"))
      .select(col("lang"), col("e.token").as("token"), col("e.est").as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("lang"), col("rk"))
  }

  val q29Sql: String =
    """SELECT lang, token, cnt, rk FROM (
      |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rk
      |  FROM (
      |    SELECT lang,
      |      unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), x -> x <> '')) AS token
      |    FROM documents)
      |  GROUP BY lang, token)
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  /** q102: collocation mining — the Church–Hanks (1990) association pass a
    * phrase/tokenizer-merge pipeline runs over the corpus: for every
    * adjacent token bigram seen at least [[Q102MinCount]] times, its LIFT
    * (= exp(PMI)) = P(ab) / (P(a)·P(b)), top 50 strongest associations.
    *
    * Lift rather than log-PMI keeps the arithmetic engine-portable: every
    * input is an exact integer count, the products are formed as doubles in
    * a fixed association order, and ONE division closes it — bit-identical
    * in DuckDB, where log() would be library-rounding-dependent.
    *
    * Scale shape: the bigram explode is NARROW (zip of the token array with
    * its own tail — no window, no per-doc shuffle); unigram and bigram
    * counts each partial-aggregate map-side then shuffle vocab-sized keys;
    * the two count joins key on tokens (vocab-sized right sides, AQE
    * broadcasts them when small); corpus totals are one-row broadcasts.
    * Nothing in the plan scales with corpus size except the scan and the
    * vocab-keyed aggregations.
    */
  def q102Collocations(spark: SparkSession, dir: String): DataFrame =
    collocations(Tables(spark, dir, "documents"))

  /** The collocation pass over any frame with a `text` column — extracted
    * so the lift arithmetic is testable on constructed corpora.
    */
  def collocations(d: DataFrame): DataFrame = {
    val toks = d.select(wsTokens(normText(col("text"))).as("tl"))
    val n1 = greatest(size(col("tl")) - 1, lit(0))
    val bigrams = toks
      .select(explode(zip_with(
        slice(col("tl"), lit(1), n1), slice(col("tl"), lit(2), n1),
        (x, y) => struct(x.as("t1"), y.as("t2")))).as("bg"))
      .select(col("bg.t1").as("t1"), col("bg.t2").as("t2"))
    val uni = toks.select(explode(col("tl")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val totTok = uni.agg(sum(col("n")).as("n_tok"))
    val bg = bigrams.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_ab"))
    val totBg = bg.agg(sum(col("n_ab")).as("n_bg"))
    bg.filter(col("n_ab") >= Q102MinCount)
      .join(uni.select(col("t").as("t1"), col("n").as("n_a")), Seq("t1"))
      .join(uni.select(col("t").as("t2"), col("n").as("n_b")), Seq("t2"))
      .crossJoin(broadcast(totTok))
      .crossJoin(broadcast(totBg))
      .select(col("t1"), col("t2"), col("n_ab"),
        ((col("n_ab").cast("double") * col("n_tok") * col("n_tok"))
          / (col("n_bg").cast("double") * col("n_a") * col("n_b"))).as("lift"))
      .orderBy(col("lift").desc, col("t1"), col("t2"))
      .limit(50)
  }

  private val Q102MinCount = 5

  val q102Sql: String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS tl
       |  FROM documents),
       |bigrams AS (
       |  SELECT tl[i] AS t1, tl[i+1] AS t2
       |  FROM (SELECT tl, unnest(range(1, len(tl))) AS i FROM toks)),
       |uni AS (
       |  SELECT t, count(*) AS n FROM (SELECT unnest(tl) AS t FROM toks) GROUP BY t),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tok FROM uni),
       |bg AS (SELECT t1, t2, count(*) AS n_ab FROM bigrams GROUP BY t1, t2),
       |totbg AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bg FROM bg)
       |SELECT t1, t2, n_ab,
       |  (CAST(n_ab AS DOUBLE) * n_tok * n_tok) / (CAST(n_bg AS DOUBLE) * n_a * n_b) AS lift
       |FROM (
       |  SELECT bg.t1, bg.t2, CAST(bg.n_ab AS BIGINT) AS n_ab, ua.n AS n_a, ub.n AS n_b
       |  FROM bg JOIN uni ua ON ua.t = bg.t1 JOIN uni ub ON ub.t = bg.t2
       |  WHERE bg.n_ab >= $Q102MinCount), tot, totbg
       |ORDER BY lift DESC, t1, t2 LIMIT 50""".stripMargin

  /** Keywords reported per document by q108. */
  private[graft] val Q108TopK = 3

  /** q108: TF-IDF keyword extraction — the top-[[Q108TopK]] most
    * characteristic terms per document, the tagging/faceting staple (and
    * the classical baseline sparse retrieval and topic labeling build
    * on). Score = tf × the RATIONAL IDF core q56 introduced,
    * `(2(N−df)+1)/(2df+1)` — BIGINT-exact numerator, one final
    * correctly-rounded division, so ranks are bit-identical across
    * engines with no libm `ln` in sight.
    *
    * Shape: one token explode → (doc, term) partial-agg for tf; df
    * reduces the tf frame onto vocab-sized keys and joins back
    * term-keyed (vocab-sized right side — AQE broadcasts it); N is a
    * one-row broadcast. The per-doc top-k is the row_number window that
    * [[graft.plans.TopKRewriteRule]] retargets onto the native heap
    * operator when enabled — and Spark's own WindowGroupLimit prunes it
    * map-side regardless, so the sort never sees discarded rows.
    */
  def q108Keywords(spark: SparkSession, dir: String): DataFrame = {
    // the (doc_id, term, tf) stage and N both come from the persisted
    // lexical store when fresh (one corpus tokenize per INGEST, shared
    // with q56/q121); tokenize fallback otherwise
    val tf = CorpusOps.termFreqs(spark, dir)
    // df via a term-partitioned window COUNT instead of a separate agg
    // frame joined back: the join needed a second corpus-sized exchange of
    // tf on term plus the df build; the window needs exactly one term
    // exchange and no join — the vocabulary can grow with the corpus and
    // the plan stays two keyed shuffles (term, then doc)
    val n = CorpusOps.docLengths(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("long"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * (lit(2L) * (col("n_docs") - col("df")) + lit(1L))).cast("double")
          / (lit(2L) * col("df") + lit(1L)).cast("double"))
    val rk = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term")))
    scored.withColumn("rk", rk.cast("long"))
      .filter(col("rk") <= Q108TopK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q108Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'), t -> t <> '')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(tf.tf * (2 * (n.n_docs - df.df) + 1) AS DOUBLE)
       |      / CAST(2 * df.df + 1 AS DOUBLE) AS score
       |  FROM tf JOIN df USING (term), n)
       |SELECT doc_id, rk, term, tf, df, score FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk
       |  FROM scored)
       |WHERE rk <= $Q108TopK ORDER BY doc_id, rk""".stripMargin

  /** q111: typo-pair mining over the corpus vocabulary — SymSpell-style
    * (Garbe's deletion-neighborhood method): two terms are within
    * Levenshtein distance d iff they share a string in each other's
    * depth-≤d deletion sets, so candidate generation is a JOIN ON DELETION
    * VARIANT over the vocabulary — never an all-pairs distance matrix.
    * The exact `levenshtein(t1, t2)` filter then runs only on candidate
    * pairs. This is the vocabulary-normalization / OCR-noise step of a
    * corpus-cleaning pipeline: merge "recieve" into "receive" before
    * counting anything.
    *
    * Scale shape: the vocabulary (not the corpus) fans out ~L²/2 variants
    * per term, the join keys on short variant strings, and the corpus
    * contributes only its token-count aggregation. At 100 TB the knobs
    * are a min-count cut and a variant-bucket cap (exactly the LSH
    * `maxBucket` move) for ultra-short variants.
    */
  def q111TypoPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val vocab = d
      .select(explode(wsTokens(normText(col("text")))).as("term"))
      .filter(length(col("term")).between(3, 20))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    // depth-0/1/2 deletion variants, deduped; SQL-expr substring supports
    // column positions (the DSL overload takes only Int)
    val variants = expr(
      """array_distinct(concat(
        |  array(term),
        |  transform(sequence(1, length(term)), i ->
        |    concat(substring(term, 1, i-1), substring(term, i+1))),
        |  flatten(transform(sequence(1, length(term)), i ->
        |    transform(sequence(1, length(term) - 1), j ->
        |      concat(
        |        substring(concat(substring(term, 1, i-1), substring(term, i+1)), 1, j-1),
        |        substring(concat(substring(term, 1, i-1), substring(term, i+1)), j+1)))))
        |))""".stripMargin)
    val dels = vocab.select(col("term"), col("n"), explode(variants).as("v"))
    val a = dels.select(col("term").as("t1"), col("n").as("n1"), col("v"))
    val b = dels.select(col("term").as("t2"), col("n").as("n2"), col("v"))
    a.join(b, Seq("v")).filter(col("t1") < col("t2"))
      .select(col("t1"), col("t2"), col("n1"), col("n2")).distinct()
      .withColumn("dist", levenshtein(col("t1"), col("t2")).cast("long"))
      .filter(col("dist").between(1, 2))
      .orderBy(col("t1"), col("t2"))
  }

  val q111Sql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term, count(*) AS n FROM toks
      |  WHERE length(term) BETWEEN 3 AND 20 GROUP BY term),
      |dels AS (
      |  SELECT term, n, unnest(list_distinct(
      |    [term]
      |    || list_transform(range(1, length(term) + 1), i ->
      |         substr(term, 1, CAST(i - 1 AS INT)) || substr(term, CAST(i + 1 AS INT)))
      |    || flatten(list_transform(range(1, length(term) + 1), i ->
      |         list_transform(range(1, length(term)), j ->
      |           substr(substr(term, 1, CAST(i - 1 AS INT)) || substr(term, CAST(i + 1 AS INT)), 1, CAST(j - 1 AS INT))
      |           || substr(substr(term, 1, CAST(i - 1 AS INT)) || substr(term, CAST(i + 1 AS INT)), CAST(j + 1 AS INT)))))
      |  )) AS v
      |  FROM vocab)
      |SELECT t1, t2, n1, n2, CAST(levenshtein(t1, t2) AS BIGINT) AS dist FROM (
      |  SELECT DISTINCT a.term AS t1, b.term AS t2, a.n AS n1, b.n AS n2
      |  FROM dels a JOIN dels b ON a.v = b.v AND a.term < b.term)
      |WHERE levenshtein(t1, t2) BETWEEN 1 AND 2
      |ORDER BY t1, t2""".stripMargin

  /** q132: BPE merge-pair learning (Sennrich et al. 2016) — the first 3
    * merges of byte-pair-encoding vocabulary training, the step every
    * tokenizer build runs before a model ever sees data. Words (freq ≥ 5)
    * become space-joined character-symbol strings; each iteration counts
    * adjacent symbol pairs weighted by word frequency, takes the top pair
    * (count desc, then pair text — exact-integer tie-break), and merges it
    * via space-delimited LITERAL replace applied to FIXPOINT (4 nested
    * passes: a single pass consumes the shared delimiter space between
    * consecutive occurrences, so " a b a b " would merge only alternately;
    * the fixpoint equals greedy left-to-right BPE, and both engines scan
    * identically).
    *
    * Engine shape: the words frame is VOCAB-sized (distinct words ×
    * symbol string), never corpus-sized — the only corpus-scale work is
    * the one word-count aggregation every text query already does. Pair
    * counting is a narrow explode over vocab rows onto symbol-pair keys;
    * the chosen pair is a broadcast one-row frame (persisted: three
    * unrolled iterations would otherwise recompute the lineage
    * exponentially). At a real 30k-merge build the pair table is collected
    * driver-side after this same distributed count — the demonstrated
    * step IS the distributed half.
    */
  def q132BpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables(spark, dir, "documents"))

  /** The 4-nested-literal-replace merge application: one pass consumes
    * the shared delimiter space, so consecutive occurrences (" a b a b ")
    * merge alternately — each pass halves the leftovers, so 4 passes reach
    * the fixpoint for up to 16 consecutive pair occurrences (far past any
    * real word). True BPE greedy-left-to-right equals this fixpoint.
    */
  private val bpeReplace4: String = {
    val one = "replace(%s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')"
    Iterator.iterate("sym")(s => one.format(s)).drop(4).next()
  }

  /** Learn the first 3 BPE merge pairs over `docs` — returns the three
    * one-row (a, b, cnt) merge tables in application order, each persisted
    * (three unrolled iterations would otherwise recompute the lineage
    * exponentially; pennies, swept by Bench).
    */
  private[graft] def bpeLearn(docs: DataFrame): Seq[DataFrame] =
    bpeLearnFromVocab(docs
      .select(explode(wsTokens(normText(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq")))

  /** [[bpeLearn]] over a pre-aggregated global (w, freq) vocabulary — so a
    * caller that already paid the corpus tokenize pass (q142) can learn
    * from it instead of scanning the corpus a second time.
    */
  private[graft] def bpeLearnFromVocab(wordFreq: DataFrame): Seq[DataFrame] = {
    val words0 = wordFreq
      .filter(col("freq") >= 5)
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("sym"), col("freq"))
    def pairs(words: DataFrame): DataFrame =
      words.select(col("freq"), split(trim(col("sym")), " ").as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(ss) - 1), i -> struct(element_at(ss, i) AS a, element_at(ss, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
    def top1(p: DataFrame): DataFrame =
      p.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    def merge(words: DataFrame, t: DataFrame): DataFrame =
      words.crossJoin(broadcast(t)).select(expr(bpeReplace4).as("sym"), col("freq"))
    val t1 = top1(pairs(words0)).persist()
    val w1 = merge(words0, t1)
    val t2 = top1(pairs(w1)).persist()
    val w2 = merge(w1, t2)
    val t3 = top1(pairs(w2)).persist()
    Seq(t1, t2, t3)
  }

  /** The q132 pipeline over any frame with a `text` column — split out so
    * the closed-form spec can feed a corpus whose merges are hand-derivable.
    */
  private[graft] def bpeMerges(docs: DataFrame): DataFrame = {
    def rule(t: DataFrame, i: Int): DataFrame =
      t.select(lit(i).as("iter"), col("a").as("sym_a"), col("b").as("sym_b"),
        col("cnt").as("pair_count"))
    val Seq(t1, t2, t3) = bpeLearn(docs)
    rule(t1, 1).unionByName(rule(t2, 2)).unionByName(rule(t3, 3)).orderBy(col("iter"))
  }

  val q132Sql: String = {
    def p(w: String) =
      s"""SELECT ss[i] AS a, ss[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(sym), ' ') AS ss, freq FROM $w),
         |       unnest(range(1, len(ss))) t(i)
         |  GROUP BY 1, 2""".stripMargin
    def m(w: String, t: String) = {
      val one = "replace(%s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')"
      val four = Iterator.iterate("sym")(s => one.format(s)).drop(4).next()
      s"SELECT $four AS sym, freq FROM $w, $t"
    }
    s"""WITH w0 AS (
       |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym, freq FROM (
       |    SELECT w, count(*) AS freq FROM (
       |      SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS w
       |      FROM documents)
       |    WHERE w <> '' GROUP BY w HAVING count(*) >= 5)),
       |p1 AS (${p("w0")}),
       |t1 AS (SELECT * FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
       |w1 AS (${m("w0", "t1")}),
       |p2 AS (${p("w1")}),
       |t2 AS (SELECT * FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
       |w2 AS (${m("w1", "t2")}),
       |p3 AS (${p("w2")}),
       |t3 AS (SELECT * FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
       |SELECT * FROM (
       |  SELECT 1 AS iter, a AS sym_a, b AS sym_b, cnt AS pair_count FROM t1
       |  UNION ALL SELECT 2, a, b, cnt FROM t2
       |  UNION ALL SELECT 3, a, b, cnt FROM t3)
       |ORDER BY iter""".stripMargin
  }

  /** q142 — BPE ENCODING: apply q132's three learned merges to tokenize
    * the corpus, closing the tokenizer loop (learn → encode → count). The
    * merges are re-learned from the freq ≥ 5 vocabulary, then applied —
    * in learned order, same fixpoint replace — to EVERY distinct word
    * (rare words never inform merges but still get encoded, exactly as a
    * real tokenizer treats OOV-ish tails). Per-language output: word
    * occurrences, characters, post-BPE tokens, and tokens-per-100-chars
    * in integral basis points — the compression dial a tokenizer build
    * watches.
    *
    * Engine shape: encoding runs ONCE per distinct word on the vocab-sized
    * frame (each merge a broadcast one-row crossJoin — scan-side string
    * rewrite, no shuffle), then joins back to the (lang, word, freq)
    * frame, which AQE broadcasts when the vocab is small relative to the
    * corpus. The only corpus-scale work is the word-count aggregation —
    * the same economics as q132's learning half.
    */
  def q142BpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(Tables(spark, dir, "documents"))

  /** q142 over any frame with `lang` and `text` columns — split out so the
    * closed-form spec can hand-derive token counts.
    */
  private[graft] def bpeEncode(d: DataFrame): DataFrame = {
    // ONE corpus tokenize pass: the per-(lang, word) frame both feeds the
    // final per-lang sums and rolls up to the global vocabulary the merges
    // are learned from (persisted — vocab-sized, referenced twice)
    val lw = d.select(col("lang"), explode(wsTokens(normText(col("text")))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
      .persist()
    val Seq(t1, t2, t3) = bpeLearnFromVocab(
      lw.groupBy(col("w")).agg(sum(col("freq")).as("freq")))
    val vocab = lw.select(col("w")).distinct()
      .select(col("w"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("sym"))
    val encoded = Seq(t1, t2, t3).foldLeft(vocab)((v, t) =>
      v.crossJoin(broadcast(t.select(col("a"), col("b"))))
        .select(col("w"), expr(bpeReplace4).as("sym")))
    val tok = encoded.select(col("w"),
      size(split(trim(col("sym")), " ")).cast("long").as("n_tok"))
    lw.join(tok, Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * length(col("w")).cast("long")).as("n_chars"),
        sum(col("freq") * col("n_tok")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("n_tokens * 10000 div n_chars").as("tok_per_char_bp"))
      .orderBy(col("lang"))
  }

  val q142Sql: String = {
    val four = bpeReplace4
    s"""WITH w0 AS (
       |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym, freq FROM (
       |    SELECT w, count(*) AS freq FROM (
       |      SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS w
       |      FROM documents)
       |    WHERE w <> '' GROUP BY w HAVING count(*) >= 5)),
       |p1 AS (
       |  SELECT ss[i] AS a, ss[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(trim(sym), ' ') AS ss, freq FROM w0),
       |       unnest(range(1, len(ss))) t(i)
       |  GROUP BY 1, 2),
       |t1 AS (SELECT * FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
       |w1 AS (SELECT $four AS sym, freq FROM w0, t1),
       |p2 AS (
       |  SELECT ss[i] AS a, ss[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(trim(sym), ' ') AS ss, freq FROM w1),
       |       unnest(range(1, len(ss))) t(i)
       |  GROUP BY 1, 2),
       |t2 AS (SELECT * FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
       |w2 AS (SELECT $four AS sym, freq FROM w1, t2),
       |p3 AS (
       |  SELECT ss[i] AS a, ss[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(trim(sym), ' ') AS ss, freq FROM w2),
       |       unnest(range(1, len(ss))) t(i)
       |  GROUP BY 1, 2),
       |t3 AS (SELECT * FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
       |lw AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT lang,
       |      unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY lang, w),
       |v0 AS (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
       |  FROM (SELECT DISTINCT w FROM lw)),
       |v1 AS (SELECT w, $four AS sym FROM v0, t1),
       |v2 AS (SELECT w, $four AS sym FROM v1, t2),
       |v3 AS (SELECT w, $four AS sym FROM v2, t3),
       |tok AS (SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_tok FROM v3),
       |agg AS (
       |  SELECT lang,
       |    CAST(sum(freq) AS BIGINT) AS n_words,
       |    CAST(sum(freq * length(w)) AS BIGINT) AS n_chars,
       |    CAST(sum(freq * n_tok) AS BIGINT) AS n_tokens
       |  FROM lw JOIN tok USING (w) GROUP BY lang)
       |SELECT lang, n_words, n_chars, n_tokens,
       |  n_tokens * 10000 // n_chars AS tok_per_char_bp
       |FROM agg
       |ORDER BY lang""".stripMargin
  }

  /** q227 — READABILITY SCORING (Flesch–Kincaid grade level, Kincaid et
    * al. 1975): the classic surface-form readability signal modern
    * edu-quality corpus filters (the FineWeb-Edu lineage) still lean on —
    * grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59,
    * with sentences counted as terminator runs (`[.!?]+`) and syllables
    * by the standard vowel-group heuristic (`[aeiouy]+` over the
    * normalized text — spaces break groups, so no per-word explode is
    * needed). All three counts are exact integers from codegen'd regexp
    * matching; the grade is one correctly-rounded float chain per row
    * over literal constants (identical text both engines), quantized to
    * centi-units; the band column is the integer-threshold read a
    * curation gate actually filters on.
    *
    * Scale: pure per-row scalar work in one scan — zero shuffles before
    * the ordered dump. The cheapest quality dial in the whole q31/q166/
    * q209 ladder.
    */
  def q227Readability(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(wsTokens(normText(col("text")))).cast("long").as("words"),
        greatest(lit(1L),
          expr("CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)")).as("sentences"),
        expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)").as("syllables"))
      .filter(col("words") > 0)
      .withColumn("fk_centi", expr(
        "CAST(round(100 * (0.39 * (CAST(words AS DOUBLE) / sentences) + " +
          "11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59)) AS BIGINT)"))
      .withColumn("band",
        when(col("fk_centi") < 600, "elementary")
          .when(col("fk_centi") < 1000, "middle")
          .when(col("fk_centi") < 1400, "high_school")
          .otherwise("college"))
      .orderBy(col("doc_id"))
  }

  val q227Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS BIGINT) AS words,
      |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
      |  FROM documents)
      |SELECT doc_id, words, sentences, syllables,
      |  CAST(round(100 * (0.39 * (CAST(words AS DOUBLE) / sentences) +
      |    11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59)) AS BIGINT) AS fk_centi,
      |  CASE WHEN CAST(round(100 * (0.39 * (CAST(words AS DOUBLE) / sentences) +
      |    11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59)) AS BIGINT) < 600 THEN 'elementary'
      |       WHEN CAST(round(100 * (0.39 * (CAST(words AS DOUBLE) / sentences) +
      |    11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59)) AS BIGINT) < 1000 THEN 'middle'
      |       WHEN CAST(round(100 * (0.39 * (CAST(words AS DOUBLE) / sentences) +
      |    11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59)) AS BIGINT) < 1400 THEN 'high_school'
      |       ELSE 'college' END AS band
      |FROM d WHERE words > 0
      |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_readability" -> q227Readability _,
    "q142_bpe_encode" -> q142BpeEncode _,
    "q132_bpe_merges" -> q132BpeMerges _,
    "q108_keywords" -> q108Keywords _,
    "q111_typo_pairs" -> q111TypoPairs _,
    "q102_collocations" -> q102Collocations _,
    "q29_heavy_hitters" -> q29HeavyHitters _,
    "q39_repetition" -> q39Repetition _,
    "q38_unigram_rarity" -> q38UnigramRarity _,
    "q37_winnowing" -> q37Winnowing _,
    "q30_token_counts" -> q30TokenCounts _,
    "q31_quality_score" -> q31QualityScore _,
    "q32_fingerprint" -> q32Fingerprint _,
    "q33_lang_id" -> q33LangId _,
    "q34_char_ngrams" -> q34CharNgrams _,
    "q35_corpus_stats" -> q35CorpusStats _,
    "q36_token_count_regex" -> q36TokenCountRegex _)

  /** The lang-ID heuristic is deterministic regex scoring, so it oracles:
    * identical word-boundary hits and diacritic bonuses restated in SQL.
    */
  val q33Sql: String = {
    def hits(words: Seq[String]): String =
      words.map(w => s"(CASE WHEN regexp_matches(t, '\\b$w\\b') THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH n AS (
       |  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents
       |), s AS (
       |  SELECT doc_id, lang,
       |    ${hits(Seq("the", "and", "of", "to", "a", "is"))} AS en,
       |    ${hits(Seq("el", "la", "de", "que", "y", "en"))} +
       |      (CASE WHEN regexp_matches(t, '[áéíóúñ¿¡]') THEN 3 ELSE 0 END) AS es,
       |    ${hits(Seq("der", "die", "das", "und", "ist", "nicht"))} +
       |      (CASE WHEN regexp_matches(t, '[äöüß]') THEN 3 ELSE 0 END) AS de,
       |    ${hits(Seq("le", "les", "des", "est", "une", "et"))} +
       |      (CASE WHEN regexp_matches(t, '[àâçèêëîïôùû]') THEN 2 ELSE 0 END) AS fr
       |  FROM n)
       |SELECT doc_id, lang AS declared_lang,
       |  CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
       |       WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
       |       WHEN de >= fr AND de > 0 THEN 'de'
       |       WHEN fr > 0 THEN 'fr'
       |       ELSE 'und' END AS detected_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q227_readability" -> q227Sql,
    "q132_bpe_merges" -> q132Sql,
    "q142_bpe_encode" -> q142Sql,
    "q108_keywords" -> q108Sql,
    "q111_typo_pairs" -> q111Sql,
    "q102_collocations" -> q102Sql,
    "q29_heavy_hitters" -> q29Sql,
    "q39_repetition" -> q39Sql,
    "q38_unigram_rarity" -> q38Sql,
    "q37_winnowing" -> q37Sql,
    "q30_token_counts" -> q30Sql,
    "q31_quality_score" -> q31Sql,
    "q32_fingerprint" -> q32Sql,
    "q33_lang_id" -> q33Sql,
    "q34_char_ngrams" -> q34Sql,
    "q35_corpus_stats" -> q35Sql,
    "q36_token_count_regex" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)
}
