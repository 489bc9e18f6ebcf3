package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), pure `functions._` arithmetic (zip_with/aggregate are
  * codegen'd — no UDF in the scoring loop).
  *
  * Scale design: the query set is small and BROADCAST; the corpus streams
  * through one narrow scoring pass and a per-query top-k window. That is the
  * correct 1000-executor plan for brute force (no corpus shuffle at all —
  * the only shuffle is the top-k on the tiny query-id key). The LSH and IVF
  * variants then cut the scored fraction of the corpus, which is what makes
  * repeated querying cheap at 100 TB.
  */
object Similarity {

  /** Element-wise arithmetic in double (matches any double-based oracle). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(v: Column): Column = sqrt(dot(v, v))

  import graft.functions.ColFns.bound

  /** Unit-normalize: vector and its norm are lambda-bound so the norm's dot
    * product is computed once per row, not once per element.
    */
  def unitVec(v: Column): Column =
    bound(toDouble(v)) { d =>
      bound(sqrt(dot(d, d))) { n => transform(d, x => x / n) }
    }

  def cosine(a: Column, b: Column): Column =
    bound(toDouble(a)) { da =>
      bound(toDouble(b)) { db => dot(da, db) / (norm(da) * norm(db)) }
    }

  /** Deterministic random hyperplanes: `nBits` planes of dimension `dim`,
    * seeded — identical across executors/runs without any fitted state.
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Sign-random-projection bucket id (0 .. 2^nBits-1) as a narrow
    * projection: nBits dot products against literal plane vectors.
    */
  def withBucket(df: DataFrame, nBits: Int, vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nBits, dim)
    val bucket = (0 until nBits).map { i =>
      val plane = array(planes(i).toIndexedSeq.map(lit): _*)
      when(dot(toDouble(col(vecCol)), plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** Hot-path cosine: the native codegen'd expression (VectorExpressions).
    * The HOF (`cosine`) variant above is kept for contexts without
    * registration; both compute identical doubles.
    */
  private[queries] def nativeCosine(spark: SparkSession)(a: Column, b: Column): Column = {
    graft.functions.VectorExpressions.register(spark)
    graft.functions.VectorExpressions.cosineSim(a, b)
  }

  private def queriesSet(spark: SparkSession, dir: String, n: Int = 10): DataFrame =
    Tables(spark, dir, "embeddings").filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Shared tail of every ANN leg: rank a scored (query_id, vec_id, cos)
    * frame top-5 per query and project the contract columns. One place so
    * the rank order (cos desc, vec_id) and the 4-decimal output rounding
    * can never drift between the brute/LSH/multi-probe variants.
    */
  private def rankTop5(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Brute-force exact cosine top-k: broadcast queries x corpus scan, then
    * top-5 per query (window on query_id).
    */
  def q50KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val q = queriesSet(spark, dir)
    rankTop5(corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        nativeCosine(spark)(col("q_emb"), col("embedding")).as("cos")))
  }

  val q50Sql: String =
    """SELECT query_id, rk, neighbor_id, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(list_zip(q.embedding, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(q.embedding, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS BIGINT) AS rk
      |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
      |  JOIN embeddings c ON c.vec_id <> q.vec_id)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** LSH-bucketed ANN: queries only score their own hyperplane bucket —
    * the scale path (scored fraction ~= 1/2^nBits). nBits is the
    * recall-vs-cost dial: more bits = smaller scored fraction and more
    * shuffle parallelism, lower recall (recall curve asserted in
    * QueriesSpec at two settings).
    */
  def knnLsh(spark: SparkSession, dir: String, nBits: Int): DataFrame = {
    val corpus = withBucket(Tables(spark, dir, "embeddings"), nBits = nBits)
    val q = withBucket(
      Tables(spark, dir, "embeddings").filter(col("vec_id") < 10), nBits = nBits)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    rankTop5(corpus.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        nativeCosine(spark)(col("q_emb"), col("embedding")).as("cos")))
  }

  def q51KnnLsh(spark: SparkSession, dir: String): DataFrame =
    knnLsh(spark, dir, nBits = 4)

  /** IVF-style partitioned search: per-label centroids (the "coarse
    * quantizer" — here the given label clustering), each vector scored
    * against every centroid; emits the assignment + distance-to-own-centroid
    * — the build side of an IVF index, and a k-means assignment step.
    */
  /** Per-label mean centroids: (c_label, centroid double[64]) — the shared
    * deterministic "index" of the IVF/k-means/PQ legs (q52, q54, q67, q69).
    */
  private[queries] def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label").as("c_label"), transform(col("pairs"), p => p.getField("cx")).as("centroid"))

  /** The centroid set as ONE broadcastable row of (c_label, centroid,
    * cnorm) structs — precomputed norms so per-row folds never re-derive
    * them.
    */
  private[queries] def centsModel(e: DataFrame): DataFrame =
    centsModelFrom(labelCentroids(e))

  /** [[centsModel]] from an ALREADY-MATERIALIZED (c_label, centroid)
    * frame — the ANN store's frozen coarse quantizer read back from disk.
    */
  private[queries] def centsModelFrom(cent: DataFrame): DataFrame =
    cent
      .select(col("c_label"), col("centroid"), norm(toDouble(col("centroid"))).as("cnorm"))
      .agg(collect_list(struct(col("c_label"), col("centroid"), col("cnorm"))).as("cents"))

  /** Scan-side nearest-centroid argmax over the broadcast `cents` column:
    * max (cos, -label) struct = highest cosine, smallest label on ties —
    * identical selection (and bit-identical cos: same IEEE op composition)
    * to the row_number-window idiom the oracles restate, without shuffling
    * or row-multiplying the corpus. Lambda-built struct fields surface
    * positionally: col1 = cos, col2 = -label.
    */
  private[queries] def bestCentroid: Column =
    bound(toDouble(col("embedding"))) { de =>
      bound(norm(de)) { ne =>
        bound(col("cents")) { cs =>
          array_max(transform(cs, c =>
            struct(dot(de, c.getField("centroid")) / (ne * c.getField("cnorm")),
              -c.getField("c_label"))))
        }
      }
    }

  def q52IvfAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    e.crossJoin(broadcast(centsModel(e)))
      .select(col("vec_id"), col("label"), bestCentroid.as("best"))
      .select(col("vec_id"), col("label"),
        (-col("best.col2")).as("assigned_label"),
        round(col("best.col1"), 4).as("cosine"))
      .orderBy(col("vec_id"))
  }

  /** IVF SEARCH — the complement of [[q52IvfAssign]]'s index build: each
    * query probes its `nprobe`=2 nearest centroids and scores ONLY those
    * label lists. At 100 TB this is the ANN scale path beyond LSH: the
    * corpus is partitioned (bucketed) by assigned label, so a probe reads
    * 2/k of the data; centroids and probe lists are tiny broadcasts.
    */
  /** Coarse IVF probe stage shared by q54, q129, and their specs: per
    * query the `nprobe` nearest centroid lists, as (query_id, q_emb,
    * label) rows ready to equi-join the corpus on its list id.
    */
  private[graft] def ivfProbes(spark: SparkSession, dir: String, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroids.getOrElse(labelCentroids(Tables(spark, dir, "embeddings")))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("pcos").desc, col("c_label"))
    queriesSet(spark, dir)
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_emb"), col("c_label"),
        cosine(col("q_emb"), col("centroid")).as("pcos"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("c_label").as("label"))
  }

  def q54IvfSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val probes = ivfProbes(spark, dir)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q54Sql: String = {
    val pcos = cosineSql("q.embedding", "c.centroid")
    val cos = cosineSql("q.embedding", "e.embedding")
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $pcos DESC, c.label) AS prk
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cent c)
       |  WHERE prk <= 2)
       |SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rk
       |  FROM probes p
       |  JOIN embeddings e ON e.label = p.label
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  WHERE e.vec_id <> p.query_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q272: the PERSISTED INCREMENTAL ANN (IVF) STORE — the embedding-side
  // sibling of the lexical/signature stores. Until now IVF re-derived
  // centroids and assignments per query (fine for a bench row, wrong for
  // a 100 TB corpus); the store materializes the index once and gives it
  // the full maintenance discipline: append batches against FROZEN
  // centroids, manifest freshness, file-level CoW erasure, and
  // change-data-feed-driven sync (the q267/q271 idiom).
  // ---------------------------------------------------------------------

  /** Assignment of each vector to its nearest centroid LIST (IVF's coarse
    * quantization, q52's argmax — highest cosine, smallest label on ties)
    * against an explicit centroid frame: the build assigns the base
    * corpus, every later append assigns its batch against the SAME frozen
    * centroids (IVF's standard online path — new vectors route to
    * existing lists; re-training the quantizer is a separate rebuild
    * decision a drift monitor like q190 triggers).
    */
  private def assignLists(batch: DataFrame, cent: DataFrame): DataFrame =
    batch.crossJoin(broadcast(centsModelFrom(cent)))
      .select(col("vec_id"), col("embedding"), bestCentroid.as("best"))
      .select(col("vec_id"), col("embedding"),
        (-col("best.col2")).cast("long").as("list"))

  /** The store's ACTIVE GENERATION: 0 reads the original `centroids/` +
    * `postings/` layout; a [[rebuildAnnStore]] cutover publishes
    * generation n > 0 under `centroids-g<n>/` + `postings-g<n>/` and
    * swaps the `_active_gen` pointer ATOMICALLY (write-temp + rename, the
    * `_last_checkpoint` idiom) — a reader mid-cutover sees the previous
    * generation whole, never a half-built one.
    */
  private def annActiveGen(store: String): Long = {
    val p = s"$store/_active_gen"
    if (graft.table.Fs.isFile(p))
      graft.table.Fs.readString(p).trim.toLong
    else 0L
  }

  /** (centroids part, postings part) directory NAMES of a generation —
    * also the manifest part keys its freshness is stamped under.
    */
  private def annGenParts(gen: Long): (String, String) =
    if (gen == 0L) ("centroids", "postings")
    else (s"centroids-g$gen", s"postings-g$gen")

  /** BUILD the IVF store at `store`: `centroids/` (the frozen coarse
    * quantizer) and `postings/` (assignment lists, PARTITIONED by list id
    * — the read-side locality that lets a probe read nprobe/k of the
    * corpus, local-mode's analogue of warehouse bucketing).
    */
  def buildAnnStore(spark: SparkSession, store: String, base: DataFrame): Unit = {
    val cent = labelCentroids(base)
    cent.write.mode("overwrite").parquet(s"$store/centroids")
    assignLists(base, spark.read.parquet(s"$store/centroids"))
      .write.mode("overwrite").partitionBy("list").parquet(s"$store/postings")
    graft.table.StoreManifest.bump(store, Seq("centroids"))
    graft.table.StoreManifest.bump(store, Seq("postings"), from = Seq("centroids"))
    ()
  }

  /** APPEND one batch: assign against the FROZEN stored centroids (of the
    * active generation), append into its list partitions. Append IS merge
    * (postings are per-vector rows); per-trigger small files are layout
    * maintenance's problem ([[graft.table.StoreMaint.compact]]), not a
    * correctness concern.
    */
  /** Concurrency with [[rebuildAnnStore]]: after the append lands, the
    * `_active_gen` pointer is RE-READ — a rebuild that cut over while
    * this batch was writing may have stranded it in the retired
    * generation. Whether it DID is decided against the rebuild's
    * `_source_files-g<n>` stamp (the exact postings listing its scan
    * froze): batch files IN the stamp were carried into the new
    * generation by the rebuild itself — replaying them would DOUBLE
    * every vector and break top-k — while files NOT in the stamp landed
    * after the scan and must replay. Only the stranded files' rows
    * re-assign into the new generation. One logical WRITER (appends +
    * rebuilds serialized by the owner) remains the store's contract;
    * this seam keeps the append-vs-rebuild interleaving lossless AND
    * duplicate-free either way.
    */
  def appendAnnStore(batch: DataFrame, store: String): Unit = {
    val spark = batch.sparkSession
    def fileNames(pPart: String): Map[String, String] =
      graft.table.Fs.listFilesRecursive(s"$store/$pPart")
        .map(_._1).filter(_.endsWith(".parquet"))
        .map(p => graft.table.Fs.name(p) -> p).toMap
    var landedGen = annActiveGen(store)
    var landedPart = annGenParts(landedGen)._2
    val before = fileNames(landedPart).keySet
    assignLists(batch,
        spark.read.parquet(s"$store/${annGenParts(landedGen)._1}"))
      .write.mode("append").partitionBy("list").parquet(s"$store/$landedPart")
    graft.table.StoreManifest.bump(store, Seq(landedPart))
    // part-file names carry a task UUID — name identity is global
    var landedFiles = fileNames(landedPart).filter(kv => !before(kv._1))
    var attempts = 0
    while (annActiveGen(store) != landedGen && attempts < 3) {
      attempts += 1
      val g = annActiveGen(store)
      val stampPath = s"$store/${sourceStampName(g)}"
      val scanned: Set[String] =
        if (graft.table.Fs.isFile(stampPath))
          graft.table.Fs.readString(stampPath)
            .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet
        else Set.empty // a stamp-less (legacy) rebuild: replay everything
      val stranded = landedFiles.filterNot(kv => scanned(kv._1))
      val (cPart, pPart) = annGenParts(g)
      if (stranded.isEmpty) landedFiles = Map.empty
      else {
        val beforeG = fileNames(pPart).keySet
        val rows = spark.read
          .option("basePath", s"$store/${annGenParts(landedGen)._2}")
          .parquet(stranded.values.toSeq: _*)
          .select(col("vec_id"), col("embedding"))
        assignLists(rows, spark.read.parquet(s"$store/$cPart"))
          .write.mode("append").partitionBy("list").parquet(s"$store/$pPart")
        graft.table.StoreManifest.bump(store, Seq(pPart))
        landedFiles = fileNames(pPart).filter(kv => !beforeG(kv._1))
      }
      landedGen = g
      landedPart = pPart
    }
    if (annActiveGen(store) != landedGen)
      throw new IllegalStateException(
        s"ANN store $store: generations cut over faster than the append " +
          "could land (3 attempts) — serialize appends and rebuilds")
  }

  /** The rebuild's frozen-scan stamp for generation `gen`: the postings
    * file names its retrain read, the evidence [[appendAnnStore]] uses
    * to decide replay-vs-already-carried after a cutover.
    */
  private def sourceStampName(gen: Long): String = s"_source_files-g$gen"

  /** CHANGE-FEED-DRIVEN SYNC: the feed's deleted keys erase from the
    * active generation's postings via file-level copy-on-write — only
    * files holding a deleted vector's row rewrite, bounded by the
    * subjects' footprint, never a corpus rescan. An embedding is derived
    * content under every deletion regime (it reconstructs the text's
    * semantics), so it carries the same erasure obligation as the text
    * itself.
    */
  def syncAnnStoreFromFeed(spark: SparkSession, store: String,
      feed: DataFrame): Long = {
    val keys = feed.filter(col("_change_type") === "delete")
      .select(col("vec_id")).persist()
    // EVERY generation still on disk, not just the active one: erasure is
    // an obligation on the subject's bytes wherever they live — the
    // pre-rebuild generation kept for crash safety still holds the erased
    // embeddings, and a sync that cleaned only the active postings would
    // leave them readable forever ([[vacuumAnnStoreGenerations]] is the
    // reclaim verb that retires old generations outright)
    try annPostingsParts(store)
      .map(p => graft.table.StoreMaint.eraseKeys(spark, s"$store/$p",
        Seq("list"), "vec_id", keys))
      .sum
    finally { keys.unpersist(); () }
  }

  /** Every generation's postings directory present on disk (the active
    * one included) — the erasure surface.
    */
  private def annPostingsParts(store: String): Seq[String] =
    graft.table.Fs.list(store).map(graft.table.Fs.name)
      .filter(n => n == "postings" || n.startsWith("postings-g"))
      .sorted

  /** Drop every NON-ACTIVE generation's centroids/postings directories —
    * the storage-reclaim half of [[rebuildAnnStore]]: old generations
    * survive the cutover for crash safety, but once the new generation
    * serves they are dead weight and (until dropped) an extra erasure
    * surface every feed sync must sweep. Returns the deleted directory
    * names.
    */
  def vacuumAnnStoreGenerations(store: String): Seq[String] = {
    val active = annActiveGen(store)
    val (cKeep, pKeep) = annGenParts(active)
    val stampKeep = sourceStampName(active)
    val doomed = graft.table.Fs.list(store).map(graft.table.Fs.name)
      .filter(n => (n == "centroids" || n.startsWith("centroids-g") ||
        n == "postings" || n.startsWith("postings-g") ||
        (n.startsWith("_source_files-g") && n != stampKeep)) &&
        n != cKeep && n != pKeep)
      .sorted
    doomed.foreach(n => graft.table.Fs.deleteRecursive(s"$store/$n"))
    doomed
  }

  /** REBUILD the coarse quantizer — the verb the frozen-centroid design
    * defers to ([[assignLists]]'s "separate rebuild decision", triggered
    * by a drift monitor like q190): BOUNDED LLOYD from the CURRENT
    * state. Each round: new centroid = mean of each list's
    * currently-assigned vectors (the k-means update, EMPTY lists
    * re-seeded from the largest list's spread so the quantizer's arity
    * never silently shrinks), every surviving vector REASSIGNED against
    * the new centroids; rounds repeat until the reassigned fraction is
    * ≤ `moveTol` or `maxIters` caps them — all deterministic, so a
    * fixed-iteration oracle restates the verb exactly. The new
    * generation builds OFFLINE under `centroids-g<n>/` +
    * `postings-g<n>/`, must pass the RECALL@k acceptance gate
    * ([[rebuildRecall]] vs brute force on a deterministic sample — a
    * mis-routing quantizer ABORTS, old generation keeps serving), is
    * manifest-stamped, and only then does the `_active_gen` pointer
    * swap (atomic rename): searches during the rebuild serve the old
    * generation; a crash mid-rebuild leaves the pointer untouched and
    * the half-built dirs unreferenced. Returns the new generation id.
    *
    * Scale shape: each round is one groupBy over the postings (mean per
    * (list, position)) plus the same broadcast-centroid scan every
    * append runs — data-sized, no driver-side vectors (re-seeding and
    * the gate collect k- and nQueries-bounded rows only); the gate's
    * brute-force side is nQueries × corpus, the q50 cost class.
    */
  /** `recallGate` is OPERATOR POLICY, not physics: nprobe/k bounds the
    * achievable recall of ANY healthy IVF store (measured healthy
    * fixtures at nprobe=2/k=5 sit 0.375-0.45), so the default bar (0.3)
    * is set BELOW the healthy band and far above a COLLAPSED quantizer
    * (mis-routing measures near zero); a deployment wanting a harder bar
    * raises the gate and `maxIters` together.
    */
  def rebuildAnnStore(spark: SparkSession, store: String,
      maxIters: Int = 1, moveTol: Double = 0.0,
      recallGate: Double = 0.3, recallK: Int = 5, recallProbe: Int = 2,
      recallQueries: Int = 16): Long = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val gen0 = annActiveGen(store)
    val (cPart0, pPart0) = annGenParts(gen0)
    // a store whose postings were fully erased has nothing to retrain on —
    // refuse loudly (the serving path's empty-dir contract returns an
    // empty top-k; a RETRAIN over nothing would otherwise die in schema
    // inference or publish an empty quantizer that mis-routes everything)
    require(graft.table.Fs.listFilesRecursive(s"$store/$pPart0")
        .exists(_._1.endsWith(".parquet")),
      s"ANN store $store: $pPart0 holds no postings — nothing to retrain; " +
        "rebuild after the next append")
    val postings = spark.read.option("basePath", s"$store/$pPart0")
      .parquet(s"$store/$pPart0")
    // the file listing this retrain FROZE (a parquet read's index is
    // fixed at relation resolution): stamped beside the new generation
    // so a concurrent append can tell carried-by-the-rebuild from
    // stranded-after-the-scan — see [[appendAnnStore]]
    val sourceNames = postings.inputFiles.toSeq
      .map(graft.table.Fs.name).filter(_.endsWith(".parquet"))
    // the quantizer's ARITY is the stored centroid set's, not the
    // surviving postings': a list erased empty must be RE-SEEDED, never
    // silently dropped (k shrinking under erasure degrades every probe)
    val storedLabels = spark.read.parquet(s"$store/$cPart0")
      .select(col("c_label").cast("long")).collect().map(_.getLong(0))
      .sorted.toSeq
    // BOUNDED LLOYD: iterate mean -> (re-seed) -> reassign until the
    // reassigned fraction drops to `moveTol` or `maxIters` caps it. One
    // step from severely drifted assignments leaves centroids mid-drift
    // (the r17 gap); iterating to tolerance converges them, and each
    // iteration is the same two data-sized shuffles the build pays —
    // localCheckpoint truncates the growing lineage per round.
    var current = postings.select(col("vec_id"), col("embedding"), col("list"))
      .localCheckpoint()
    var cent: DataFrame = null
    var iter = 0
    var converged = false
    val total = math.max(current.count(), 1L)
    while (iter < maxIters && !converged) {
      iter += 1
      val mean = labelCentroids(
        current.select(col("list").as("label"), col("embedding")))
      cent = reseedEmptyLists(spark, mean, storedLabels, current)
        .localCheckpoint()
      val next = assignLists(
          current.select(col("vec_id"), col("embedding")), cent)
        .localCheckpoint()
      if (iter < maxIters) {
        val moved = next.select(col("vec_id"), col("list").as("nl"))
          .join(current.select(col("vec_id"), col("list").as("cl")), "vec_id")
          .filter(col("nl") =!= col("cl")).count()
        converged = moved.toDouble / total <= moveTol
      }
      current = next
    }
    val gen = gen0 + 1
    val (cPart, pPart) = annGenParts(gen)
    cent.write.mode("overwrite").parquet(s"$store/$cPart")
    current.write.mode("overwrite").partitionBy("list").parquet(s"$store/$pPart")
    // RECALL ACCEPTANCE GATE — measured BEFORE the pointer swap, on a
    // deterministic sample (the lowest vec_ids), approx = the same
    // probe-nprobe-lists search the store serves, truth = brute-force
    // top-k over the retrained postings. A rebuild that mis-routes
    // (recall below the gate) must never start serving: the half-built
    // generation is torn down and the OLD generation keeps serving.
    if (recallGate > 0.0) {
      val recall = rebuildRecall(spark, current, cent,
        recallK, recallProbe, recallQueries)
      if (recall < recallGate) {
        graft.table.Fs.deleteRecursive(s"$store/$cPart")
        graft.table.Fs.deleteRecursive(s"$store/$pPart")
        throw new IllegalStateException(
          f"ANN store $store: rebuilt quantizer recall@$recallK%d = " +
            f"$recall%.3f < gate $recallGate%.3f — generation $gen%d " +
            "ABORTED (old generation keeps serving); retrain with more " +
            "iterations (maxIters) or loosen the gate")
      }
    }
    graft.table.Fs.replaceAtomic(s"$store/${sourceStampName(gen)}",
      sourceNames.sorted.mkString("\n").getBytes("UTF-8"))
    graft.table.StoreManifest.bump(store, Seq(cPart))
    graft.table.StoreManifest.bump(store, Seq(pPart), from = Seq(cPart))
    graft.table.Fs.replaceAtomic(s"$store/_active_gen",
      gen.toString.getBytes("UTF-8"))
    gen
  }

  /** Re-seed labels the mean step lost (every member erased or
    * reassigned away): GREEDY MAX-MIN over the LARGEST list's members —
    * each missing label takes the member FARTHEST from every existing
    * centroid AND every seed already chosen (lowest max-cosine, vec_id
    * tie-break). k-means++'s spread intuition without its randomness:
    * a naive "m farthest from the old centroid" picks m near-duplicates
    * from one extreme, and the re-seeded lists collapse back next
    * round. Each pick is one data-sized scan of the largest list (m ≤ k
    * picks); driver state is k-bounded.
    */
  private def reseedEmptyLists(spark: SparkSession, mean: DataFrame,
      storedLabels: Seq[Long], current: DataFrame): DataFrame = {
    val have = mean.select(col("c_label").cast("long"))
      .collect().map(_.getLong(0)).toSet // k-sized
    val missing = storedLabels.filterNot(have)
    if (missing.isEmpty) return mean
    // partition-dir inference reads `list` back as INT — normalize
    val counts = current.groupBy(col("list").cast("long").as("list")).count()
      .orderBy(col("count").desc, col("list")).head() // one-row driver frame
    val largest = counts.getLong(0)
    val members = current.filter(col("list").cast("long") === largest)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .localCheckpoint() // scanned once per pick, m <= k picks
    // reference set starts as the surviving means (k-sized driver state)
    var refs: Seq[Seq[Double]] = mean
      .select(toDouble(col("centroid"))).collect()
      .map(_.getSeq[Double](0)).toSeq
    val refSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rc",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val picked = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    missing.foreach { _ =>
      val refDf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          refs.map(r => org.apache.spark.sql.Row(r)).toIndexedSeq, 1),
        refSchema))
      val pick = members.crossJoin(refDf)
        .groupBy(col("vec_id"))
        .agg(max(cosine(col("emb"), col("rc"))).as("worst"),
          first(col("emb")).as("emb"))
        .orderBy(col("worst").asc, col("vec_id").asc)
        .head() // one-row driver frame
      val emb = pick.getSeq[Double](2)
      refs = refs :+ emb
      picked += emb
    }
    val labelType = mean.schema("c_label").dataType
    import org.apache.spark.sql.Row
    val rows = missing.zip(picked.toSeq).map { case (lbl, emb) =>
      Row(lbl, emb)
    }
    val seeded = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_label",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .select(col("c_label").cast(labelType).as("c_label"), col("centroid"))
    mean.unionByName(seeded)
  }

  /** recall@k of a PUBLISHED store's active generation (the spec-side
    * measurement behind the rebuild-hardening gates).
    */
  private[graft] def annStoreRecall(spark: SparkSession, store: String,
      k: Int = 5, nprobe: Int = 2, nQueries: Int = 16): Double = {
    val (cPart, pPart) = annGenParts(annActiveGen(store))
    val posts = spark.read.option("basePath", s"$store/$pPart")
      .parquet(s"$store/$pPart")
    rebuildRecall(spark,
      posts.select(col("vec_id"), col("embedding"), col("list")),
      spark.read.parquet(s"$store/$cPart"), k, nprobe, nQueries)
  }

  /** recall@k of the candidate generation's probe-served search vs
    * brute force over the SAME retrained postings, averaged over the
    * `nQueries` lowest vec_ids — the deterministic acceptance metric
    * [[rebuildAnnStore]] gates the pointer swap on.
    */
  private def rebuildRecall(spark: SparkSession, current: DataFrame,
      cent: DataFrame, k: Int, nprobe: Int, nQueries: Int): Double = {
    val queries = current.orderBy(col("vec_id").asc).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .localCheckpoint() // tiny, reused by both sides
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    def topk(cands: DataFrame): DataFrame = cands
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
    val brute = topk(current.crossJoin(broadcast(queries)))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("c_label"))
    val probes = queries
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_emb"),
        cosine(col("q_emb"), col("centroid")).as("pcos"), col("c_label"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("query_id"), col("q_emb"),
        col("c_label").cast("long").as("list"))
    val approx = topk(current.join(broadcast(probes), Seq("list")))
    val hits = approx.join(brute, Seq("query_id", "vec_id"), "left_semi").count()
    val denom = brute.count() // a query with < k candidates caps its share
    if (denom == 0L) 1.0 else hits.toDouble / denom.toDouble
  }

  /** The SHARED fixture pipeline: build from the base 4/5ths, append the
    * last 5th against the frozen centroids, erase the `vec_id % 37 == 3`
    * subjects through a Delta CHANGE DATA FEED (the corpus owner deletes
    * from a CDF-enabled keys table; the store syncs through the feed).
    * Both the once-per-JVM q272 fixture and the always-cold campaign row
    * run THIS — they must never diverge. `base` must be fresh (empty).
    */
  private def buildCampaignStore(spark: SparkSession, dir: String,
      base: String): String = {
    import graft.sources.DeltaLog
    val store = s"$base/annstore"
    val e = Tables(spark, dir, "embeddings")
    buildAnnStore(spark, store, e.filter(pmod(col("vec_id"), lit(5)) =!= 4))
    appendAnnStore(e.filter(pmod(col("vec_id"), lit(5)) === 4), store)
    val delta = s"$base/delta"
    DeltaLog.commitAppend(delta, e.select(col("vec_id")))
    DeltaLog.setTableProperties(delta,
      Map("delta.enableChangeDataFeed" -> "true"))
    val v1 = DeltaLog.currentVersion(delta)
    DeltaLog.deleteWhere(spark, delta, pmod(col("vec_id"), lit(37)) === 3)
    syncAnnStoreFromFeed(spark, store,
      DeltaLog.readChangeFeed(spark, delta, v1, DeltaLog.currentVersion(delta)))
    store
  }

  private[graft] def q272Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q272", dir)(buildCampaignStore(spark, dir, _))

  /** q272 — ANN SEARCH SERVED BY THE STORE: q54's IVF probe + score over
    * the persisted index after an append and a feed-driven erasure. The
    * probed list ids (queries × nprobe, tiny) prune the postings read to
    * their PARTITION DIRECTORIES — the scan touches nprobe/k of the
    * store, the corpus parquet is read only for the 10 query vectors
    * (pushed-down `vec_id < 10`). Freshness is manifest-gated: postings
    * older than the centroids they were assigned under REFUSE (a rebuilt
    * quantizer with stale assignments would mis-route probes — wrong
    * results, not slow ones).
    */
  def q272AnnStoreSearch(spark: SparkSession, dir: String): DataFrame =
    annSearchFrom(spark, dir, q272Store(spark, dir))

  /** The ANN store's MAINTENANCE CAMPAIGN as one cold pipeline — build
    * from the base 4/5ths, append the last 5th against the frozen
    * centroids, CDF-driven erase, then serve — on a FRESH store every
    * call, so a scale row times every verb on both its sides: the claim
    * under test is that index build, append, erasure and serve are all
    * data-sized (the q254 contract, applied to the embedding store).
    */
  def annMaintenanceCampaign(spark: SparkSession, dir: String): DataFrame =
    annSearchFrom(spark, dir,
      buildCampaignStore(spark, dir, ReplayFixtures.runRoot(dir, "q272camp")))

  /** The REBUILD campaign — build over the full corpus, then
    * [[rebuildAnnStore]] (Lloyd update + full reassignment + pointer
    * cutover), then serve from generation 1, on a FRESH store every call:
    * the scale row times the retrain verbs cold on both sides. Build and
    * rebuild are data-sized by design (two corpus scans + two partitioned
    * writes); the serve stage stays probe-pruned.
    */
  def annRebuildCampaign(spark: SparkSession, dir: String): DataFrame = {
    val store = s"${ReplayFixtures.runRoot(dir, "q279camp")}/annstore"
    buildAnnStore(spark, store, Tables(spark, dir, "embeddings"))
    rebuildAnnStore(spark, store)
    annSearchFrom(spark, dir, store)
  }

  private[graft] def annSearchFrom(spark: SparkSession, dir: String,
      store: String): DataFrame = {
    val (cPart, pPart) = annGenParts(annActiveGen(store))
    val pPath = graft.table.StoreManifest.servable(store, pPart).getOrElse(
      throw new IllegalArgumentException(
        s"ANN store $store: $pPart is STALE relative to $cPart (or unfinished) — " +
          "reassign (rebuild or re-append) before serving"))
    val cent = spark.read.parquet(s"$store/$cPart")
    val probes = ivfProbes(spark, dir, 2, Some(cent))
    val lists = probes.select(col("label").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    // a probed list directory may be ABSENT (no vector ever assigned) or
    // EMPTIED by a CoW erasure that rewrote away its last file — both
    // must serve an empty list, not throw "unable to infer schema", so
    // dirs qualify on holding ≥1 parquet file and zero survivors return
    // the typed empty top-k
    val dirs = lists.map(l => s"$pPath/list=$l")
      .filter(d => graft.table.Fs.listFilesRecursive(d)
        .exists(_._1.endsWith(".parquet")))
    if (dirs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rk",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("neighbor_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cosine",
            org.apache.spark.sql.types.DoubleType))))
    val postings = spark.read.option("basePath", pPath)
      .parquet(dirs.toIndexedSeq: _*)
    rankTop5(postings.join(broadcast(probes), col("list") === col("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cos")))
  }

  /** Oracle: centroids over the BASE corpus (the frozen quantizer),
    * assignment of every SURVIVOR (vec_id % 37 != 3 — the feed-erased
    * subjects are gone whatever 5th they arrived in) against those
    * centroids, q54's probe + top-5 over the assigned lists.
    */
  val q272Sql: String = {
    val pcos = cosineSql("q.embedding", "c.centroid")
    val acos = cosineSql("e.embedding", "c.centroid")
    val cos = cosineSql("q.embedding", "e.embedding")
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    WHERE vec_id % 5 <> 4
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |asg AS (
       |  SELECT vec_id, embedding, list FROM (
       |    SELECT e.vec_id, e.embedding, c.label AS list,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $acos DESC, c.label) AS ark
       |    FROM (SELECT * FROM embeddings WHERE vec_id % 37 <> 3) e CROSS JOIN cent c)
       |  WHERE ark = 1),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $pcos DESC, c.label) AS prk
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cent c)
       |  WHERE prk <= 2)
       |SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rk
       |  FROM probes p
       |  JOIN asg e ON e.list = p.label
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  WHERE e.vec_id <> p.query_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** q279 fixture: build the store over the FULL corpus (generation 0,
    * frozen per-label quantizer), then [[rebuildAnnStore]] — one Lloyd
    * step + full reassignment, cut over atomically to generation 1.
    */
  private[graft] def q279Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q279", dir) { root =>
      val store = s"$root/annstore"
      buildAnnStore(spark, store, Tables(spark, dir, "embeddings"))
      rebuildAnnStore(spark, store)
      store
    }

  /** q279 — ANN SEARCH OVER A REBUILT QUANTIZER: the q272 search served
    * by generation 1 of the store — centroids RETRAINED by one
    * deterministic Lloyd step from generation 0's assignment, every
    * vector reassigned, pointer-swapped cutover. This is the verb the
    * frozen-centroid append path defers to when q190's drift monitor
    * fires; the oracle restates both k-means steps exactly, so a rebuild
    * that trained on the wrong generation, reassigned against stale
    * centroids, or served mid-cutover state breaks the hash.
    */
  def q279AnnRebuildSearch(spark: SparkSession, dir: String): DataFrame =
    annSearchFrom(spark, dir, q279Store(spark, dir))

  /** Oracle: cent0 = per-label means (the g0 quantizer), asg0 = argmax
    * assignment against cent0, cent1 = per-asg0-list means (the Lloyd
    * update), asg1 = reassignment against cent1, then q54's probe +
    * top-5 over the g1 lists.
    */
  val q279Sql: String = {
    val acos0 = cosineSql("e.embedding", "c.centroid")
    val acos1 = cosineSql("e.embedding", "c.centroid")
    val pcos = cosineSql("q.embedding", "c.centroid")
    val cos = cosineSql("q.embedding", "e.embedding")
    s"""WITH cent0 AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |asg0 AS (
       |  SELECT vec_id, embedding, list FROM (
       |    SELECT e.vec_id, e.embedding, c.label AS list,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $acos0 DESC, c.label) AS ark
       |    FROM embeddings e CROSS JOIN cent0 c)
       |  WHERE ark = 1),
       |cent1 AS (
       |  SELECT list AS label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT a.list, t.pos, avg(CAST(a.embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM asg0 a, range(1, 65) t(pos)
       |    GROUP BY a.list, t.pos)
       |  GROUP BY list),
       |asg1 AS (
       |  SELECT vec_id, embedding, list FROM (
       |    SELECT e.vec_id, e.embedding, c.label AS list,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $acos1 DESC, c.label) AS ark
       |    FROM embeddings e CROSS JOIN cent1 c)
       |  WHERE ark = 1),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $pcos DESC, c.label) AS prk
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cent1 c)
       |  WHERE prk <= 2)
       |SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rk
       |  FROM probes p
       |  JOIN asg1 e ON e.list = p.label
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  WHERE e.vec_id <> p.query_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** q285 fixture: the q279 build followed by an ITERATED rebuild — TWO
    * bounded Lloyd rounds (`maxIters = 2, moveTol = 0` pins both rounds
    * deterministically), recall-gated cutover to generation 1.
    */
  private[graft] def q285Store(spark: SparkSession, dir: String): String =
    ReplayFixtures.once("q285", dir) { root =>
      val store = s"$root/annstore"
      buildAnnStore(spark, store, Tables(spark, dir, "embeddings"))
      rebuildAnnStore(spark, store, maxIters = 2, moveTol = 0.0)
      store
    }

  /** q285 — ANN SEARCH OVER AN ITERATED REBUILD: q279's verb with the
    * round-18 hardening exercised end-to-end — two Lloyd rounds instead
    * of one (mean → reassign → mean → reassign, the drift cure one step
    * cannot deliver), the recall@k acceptance gate passed before the
    * pointer swap, then the probe-pruned search over generation 1. The
    * oracle restates BOTH rounds exactly (cent0→asg0→cent1→asg1→cent2→
    * asg2): a rebuild that ran one round too few/many, reassigned
    * against a stale round's centroids, or served ungated state breaks
    * the hash.
    */
  def q285AnnRebuildIterated(spark: SparkSession, dir: String): DataFrame =
    annSearchFrom(spark, dir, q285Store(spark, dir))

  /** Oracle: q279's chain extended one round — probes and scores bind
    * cent2/asg2.
    */
  val q285Sql: String = {
    val acos0 = cosineSql("e.embedding", "c.centroid")
    val acos1 = cosineSql("e.embedding", "c.centroid")
    val acos2 = cosineSql("e.embedding", "c.centroid")
    val pcos = cosineSql("q.embedding", "c.centroid")
    val cos = cosineSql("q.embedding", "e.embedding")
    s"""WITH cent0 AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |asg0 AS (
       |  SELECT vec_id, embedding, list FROM (
       |    SELECT e.vec_id, e.embedding, c.label AS list,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $acos0 DESC, c.label) AS ark
       |    FROM embeddings e CROSS JOIN cent0 c)
       |  WHERE ark = 1),
       |cent1 AS (
       |  SELECT list AS label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT a.list, t.pos, avg(CAST(a.embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM asg0 a, range(1, 65) t(pos)
       |    GROUP BY a.list, t.pos)
       |  GROUP BY list),
       |asg1 AS (
       |  SELECT vec_id, embedding, list FROM (
       |    SELECT e.vec_id, e.embedding, c.label AS list,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $acos1 DESC, c.label) AS ark
       |    FROM embeddings e CROSS JOIN cent1 c)
       |  WHERE ark = 1),
       |cent2 AS (
       |  SELECT list AS label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT a.list, t.pos, avg(CAST(a.embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM asg1 a, range(1, 65) t(pos)
       |    GROUP BY a.list, t.pos)
       |  GROUP BY list),
       |asg2 AS (
       |  SELECT vec_id, embedding, list FROM (
       |    SELECT e.vec_id, e.embedding, c.label AS list,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $acos2 DESC, c.label) AS ark
       |    FROM embeddings e CROSS JOIN cent2 c)
       |  WHERE ark = 1),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $pcos DESC, c.label) AS prk
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cent2 c)
       |  WHERE prk <= 2)
       |SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rk
       |  FROM probes p
       |  JOIN asg2 e ON e.list = p.label
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  WHERE e.vec_id <> p.query_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** Quantized brute-force ANN: corpus stored int8 (4x smaller), scored by
    * dequantized dot against unit-normalized queries — the memory-bound
    * regime's standard trade (recall loss <1%, rows-only check; top-1
    * agreement vs exact is asserted in QueriesSpec).
    */
  def q53KnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Quantize
    val corpus = Quantize.withQuantized(Tables(spark, dir, "embeddings"))
      .select(col("vec_id"), col("q_vec"), col("q_scale"))
    val q = queriesSet(spark, dir)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dot(Quantize.dequantize(col("q_vec"), col("q_scale")), toDouble(col("q_emb"))) /
          (sqrt(dot(Quantize.dequantize(col("q_vec"), col("q_scale")),
            Quantize.dequantize(col("q_vec"), col("q_scale")))) *
           norm(toDouble(col("q_emb"))))).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  // Shared oracle fragments. `dotSql` mirrors Spark's `dot` (left-fold over
  // zipped doubles — q50's exact-equality pass is the evidence the fold
  // orders agree); `bucketSql` re-derives the hyperplane bucket in SQL from
  // the SAME seeded plane values, embedded as literals via shortest
  // round-trip double formatting (parsing recovers the identical double).
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private def normSql(v: String): String =
    s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  private def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  /** SQL expression for [[withBucket]]'s bucket id over column `v`. */
  def bucketSql(v: String, nBits: Int, dim: Int = 64): String = {
    val planes = hyperplanes(nBits, dim)
    (0 until nBits).map { i =>
      val lits = planes(i).map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(v, lits)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  val q51Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS BIGINT) AS rk
       |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
       |  JOIN embeddings c
       |    ON c.vec_id <> q.vec_id
       |   AND ${bucketSql("c.embedding", 4)} = ${bucketSql("q.embedding", 4)})
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  val q52Sql: String = {
    val cos = cosineSql("e.embedding", "c.centroid")
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label)
       |SELECT vec_id, label, assigned_label, cosine FROM (
       |  SELECT e.vec_id, e.label, c.label AS assigned_label,
       |    round($cos, 4) AS cosine,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY $cos DESC, c.label) AS rk
       |  FROM embeddings e CROSS JOIN cent c)
       |WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }

  val q53Sql: String = {
    val dq = "c.dq"
    val cos = s"${dotSql(dq, "q.embedding")} / (${normSql(dq)} * ${normSql("q.embedding")})"
    s"""WITH cq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(CAST(round(CAST(x AS DOUBLE) / s) AS TINYINT) AS DOUBLE) * s) AS dq
       |  FROM (SELECT vec_id, embedding,
       |          greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS s
       |        FROM embeddings))
       |SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS BIGINT) AS rk
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
       |  JOIN cq c ON c.vec_id <> q.vec_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** q55: MMR (maximal marginal relevance) diversity re-rank — the standard
    * two-stage retrieval tail: a cheap candidate stage (brute-force top-8
    * per query here; IVF/LSH at scale) followed by a greedy selection that
    * trades relevance against redundancy:
    * `mmr = lambda*rel - (1-lambda)*max(sim to already-selected)`.
    *
    * The greedy loop is UNROLLED to a fixed selection count (4), which is
    * what makes it a pure dataflow program: each step is one small join on
    * query_id (candidate sets are k-bounded per query, so the join input is
    * |queries| x k rows regardless of corpus size) plus one aggregation and
    * one row_number — and lets the oracle restate the exact same greedy
    * steps as chained CTEs. Ties break on vec_id in both engines, so the
    * selection is fully deterministic.
    */
  def q55MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    // both weights as the same decimal literals the oracle uses: computing
    // (1 - 0.7) in Scala yields 0.30000000000000004, a DIFFERENT double
    // than the 0.3 literal DuckDB parses, and the score hash would drift
    val lam = 0.7
    val oneMinusLam = 0.3
    // snapshot so every block the greedy loop persists/checkpoints can be
    // released before returning — a long-lived session must not accumulate
    // candidate caches per invocation (r4 ADVICE)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val corpus = Tables(spark, dir, "embeddings")
    val q = queriesSet(spark, dir)
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("vec_id"))
    val cands = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        nativeCosine(spark)(col("q_emb"), col("embedding")).as("rel"))
      .withColumn("crk", row_number().over(wTop))
      .filter(col("crk") <= 8)
      .select(col("query_id"), col("vec_id"), col("embedding"), col("rel"))
      .persist()
    val wPick = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    // step 1: pure relevance
    var selected = cands
      .withColumn("score", col("rel"))
      .withColumn("prk", row_number().over(wPick))
      .filter(col("prk") === 1)
      .select(col("query_id"), col("vec_id"), col("embedding"), lit(1L).as("sel_rk"), col("score"))
    var all = selected
    for (step <- 2 to 4) {
      val rem = cands.join(all.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"), "left_anti")
      val scored = rem.as("r")
        .join(all.select(col("query_id"), col("vec_id").as("s_id"), col("embedding").as("s_emb")), Seq("query_id"))
        .select(col("query_id"), col("r.vec_id").as("vec_id"), col("r.rel").as("rel"),
          nativeCosine(spark)(col("r.embedding"), col("s_emb")).as("sim"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(first(col("rel")).as("rel"), max(col("sim")).as("max_sim"))
        .withColumn("score", lit(lam) * col("rel") - lit(oneMinusLam) * col("max_sim"))
        .withColumn("prk", row_number().over(wPick))
        .filter(col("prk") === 1)
      val next = scored
        .join(cands.select(col("query_id"), col("vec_id"), col("embedding")), Seq("query_id", "vec_id"))
        .select(col("query_id"), col("vec_id"), col("embedding"), lit(step.toLong).as("sel_rk"), col("score"))
      // each step references `all` twice (remaining-set anti-join + the
      // selected side of the similarity join), so an un-truncated plan
      // doubles per step — 2^k analysis/execution blowup. The selection
      // state is queries x step rows; materialize it and cut the lineage
      // (measured: 7.3 s -> 3.0 s at sf0.1; the remainder is the greedy
      // loop's per-round scheduling floor, same as connected components)
      all = all.unionByName(next).localCheckpoint(true)
    }
    val out = all.select(col("query_id"), col("sel_rk"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("mmr_score"))
      .orderBy(col("query_id"), col("sel_rk"))
    // The selection is |queries| x k rows BY CONSTRUCTION — independent of
    // corpus size — so it is safe to re-root the result as a local relation
    // and release every block this call persisted (the candidate cache and
    // each step's localCheckpoint; a checkpointed RDD cannot be unpersisted
    // while a returned frame still depends on it, hence the re-root). Net
    // persisted RDDs across a call: zero (asserted in OperatorsSpec).
    val rows = out.collect()
    cands.unpersist(blocking = true)
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet.toSet -- persistedBefore).foreach { id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** The oracle restates the same unrolled greedy selection as chained
    * CTEs; the cosine is the q50-proven exact SQL restatement.
    */
  val q55Sql: String = {
    def cos(a: String, b: String): String =
      s"""(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    def step(i: Int): String = {
      val prev = (1 until i).map(j => s"SELECT query_id, vec_id FROM sel$j").mkString(" UNION ALL ")
      s"""sel$i AS (
         |  SELECT query_id, vec_id, embedding, rel, 0.7 * rel - 0.3 * max_sim AS score FROM (
         |    SELECT r.query_id, r.vec_id, any_value(r.embedding) AS embedding,
         |      first(r.rel) AS rel, max(${cos("r.embedding", "s.embedding")}) AS max_sim
         |    FROM (SELECT c.* FROM cand c ANTI JOIN ($prev) p USING (query_id, vec_id)) r
         |    JOIN (SELECT query_id, embedding FROM ($prev) p JOIN cand USING (query_id, vec_id)) s
         |      USING (query_id)
         |    GROUP BY r.query_id, r.vec_id)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) = 1)""".stripMargin
    }
    s"""WITH cand AS (
       |  SELECT query_id, vec_id, embedding, rel FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.embedding AS embedding,
       |      ${cos("q.embedding", "c.embedding")} AS rel
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
       |    JOIN embeddings c ON c.vec_id <> q.vec_id)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) <= 8),
       |sel1 AS (
       |  SELECT query_id, vec_id, embedding, rel, rel AS score FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) = 1),
       |${step(2)},
       |${step(3)},
       |${step(4)}
       |SELECT query_id, sel_rk, vec_id AS neighbor_id, round(score, 4) AS mmr_score FROM (
       |  SELECT query_id, vec_id, CAST(1 AS BIGINT) AS sel_rk, score FROM sel1
       |  UNION ALL SELECT query_id, vec_id, 2, score FROM sel2
       |  UNION ALL SELECT query_id, vec_id, 3, score FROM sel3
       |  UNION ALL SELECT query_id, vec_id, 4, score FROM sel4)
       |ORDER BY query_id, sel_rk""".stripMargin
  }

  /** One k-means Lloyd refinement step over the embedding corpus — the
    * building block of semantic (cluster-then-dedup) curation: assign every
    * vector to its nearest current centroid (the q52 assignment), then emit
    * the per-cluster per-dimension QUANTIZED component sums + member counts
    * — i.e. the sufficient statistics of the updated centroids
    * (new centroid[d] = sum_q/2^20/n), kept as exact BIGINTs rather than
    * divided, so the result is bit-identical on any engine and any
    * partitioning.
    *
    * Exactness: each component is `round(CAST(float AS DOUBLE) · 2^20)` — a
    * float's mantissa shifted, so the product is exact and the rounded
    * value integral; integral doubles sum exactly (every partial sum
    * ≪ 2^53) in ANY order, making the aggregation deterministic despite
    * Spark's partial-agg ordering. This is the same fixed-point trick as
    * q53's int8 quantization, applied to the reduce side.
    *
    * Scale shape: centroids are a tiny broadcast — ONE row carrying the
    * full (label, centroid) array, so the per-vector argmax is a pure
    * scan-side array fold (array_max over per-centroid (cos, label)
    * structs): the corpus is NEVER shuffled or row-multiplied for
    * assignment (unlike the window-argmax idiom, which reshuffles k×corpus
    * rows on vec_id). The only wide exchange is the (cluster, dim)
    * partial-agg rollup, k × dim rows out of each partition. An actual
    * k-means LOOP at 100 TB iterates exactly this step with the sums
    * collected to the driver (k × dim doubles — trivially small) and
    * re-broadcast.
    */
  def q67KmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    // the argmax must be SELECTed below the posexplode: a generator select
    // puts its sibling expressions in the Project ABOVE the Generate, which
    // would re-evaluate the k-cosine fold once per exploded dimension
    // (measured 64x: 27 s -> 1.5 s at sf0.1 for this split)
    e.crossJoin(broadcast(centsModel(e)))
      .select((-bestCentroid.getField("col2")).as("cluster"), col("embedding"))
      .select(col("cluster"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("cluster"), (col("pos") + 1).cast("long").as("pos"))
      .agg(sum(round(col("x") * lit(1048576.0), 0)).cast("long").as("sum_q"),
        count(lit(1)).as("n_vecs"))
      .orderBy(col("cluster"), col("pos"))
  }

  val q67Sql: String = {
    val cos = cosineSql("e.embedding", "c.centroid")
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, c.label AS cluster,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $cos DESC, c.label) AS rk
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rk = 1)
       |SELECT a.cluster, t.pos,
       |  CAST(sum(round(CAST(e.embedding[t.pos] AS DOUBLE) * 1048576)) AS BIGINT) AS sum_q,
       |  count(*) AS n_vecs
       |FROM assigned a JOIN embeddings e USING (vec_id), range(1, 65) t(pos)
       |GROUP BY a.cluster, t.pos ORDER BY cluster, pos""".stripMargin
  }

  private val PqM = 4      // subspaces
  private val PqSubDim = 16 // dims per subspace (4 x 16 = 64)

  /** Product-quantization ANN with ADC (asymmetric distance computation) —
    * the FAISS-style scale path that completes the compression ladder after
    * int8 (q53): the corpus is stored as M=4 one-byte-ish code ids per
    * vector (16× smaller than float32), and each query scores the whole
    * corpus through a tiny per-query lookup table instead of touching raw
    * vectors.
    *
    * Codebooks: per-label subvector means (the same deterministic seed
    * structure as q52/q67 — no trained state), label-sorted so code POSITION
    * is engine-independent. Encode: per subspace, argmin L2² to a code
    * (ties to the smallest label). Search: approx dot(q, e) =
    * Σ_s lut[s][code_s(e)] — the 4 terms are added in explicit fixed order,
    * so the score is bit-deterministic and the DuckDB oracle restates it
    * with 4 pivoted joins.
    *
    * Scale shape: the codebook model is ONE broadcast row (M × k × subdim
    * doubles); encoding is scan-side (no corpus shuffle — same gate as
    * q50); per-query LUTs are M × k dots computed once per query, so
    * scoring the corpus reads only the 4-code column — at 100 TB the
    * corpus' float vectors are read ONCE (encode, amortized across every
    * future query) and searches run on the 16×-compressed codes.
    */
  private def pqSubSlice(v: Column, s: Column): Column = slice(v, s * PqSubDim + 1, lit(PqSubDim))
  private def pqL2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** PQ encode column — per subspace the POSITION of the argmin-L2² code
    * (struct min: smallest distance, then smallest position = smallest
    * label; lambda structs surface as col1/col2). Expects `embedding` plus
    * the broadcast `codes` column. Shared by q69 and q129.
    */
  private[queries] def pqCodeCol: Column =
    bound(toDouble(col("embedding"))) { de =>
      bound(col("codes")) { cs =>
        // i + 0: a bare lambda variable would name the struct field after
        // itself (x_NN); an arithmetic expression gets the positional col2
        transform(sequence(lit(0), lit(PqM - 1)), s =>
          array_min(transform(sequence(lit(1), size(cs)), i =>
            struct(pqL2sq(pqSubSlice(de, s), pqSubSlice(element_at(cs, i).getField("centroid"), s)), i + lit(0))))
            .getField("col2"))
      }
    }

  /** ADC lookup-table column — per query, M × nCodes subspace dot products.
    * Expects `q_emb` plus the broadcast `codes` column.
    */
  private[queries] def pqLutCol: Column =
    bound(toDouble(col("q_emb"))) { dq =>
      bound(col("codes")) { cs =>
        transform(sequence(lit(0), lit(PqM - 1)), s =>
          transform(sequence(lit(1), size(cs)), i =>
            dot(pqSubSlice(dq, s), pqSubSlice(element_at(cs, i).getField("centroid"), s))))
      }
    }

  /** ADC score: explicit 4-term sum — fixed association order on both
    * engines. Expects `lut` and `pqcode` columns.
    */
  private def pqAdcScore: Column = (0 until PqM).map { s =>
    element_at(element_at(col("lut"), s + 1), element_at(col("pqcode"), s + 1).cast("int"))
  }.reduce(_ + _)

  /** The whole-corpus ADC-scored frame behind q69: every (query, vector)
    * pair with its fixed-order 4-term LUT score, plus the vector's IVF
    * list id. Split out so the q129 composition spec can assert q129 ==
    * this frame restricted to the probed lists, score-exact.
    */
  private[graft] def pqScored(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    // label-sorted codes: position i in this list <-> i-th smallest label
    val codesRow = labelCentroids(e)
      .agg(array_sort(collect_list(struct(col("c_label"), col("centroid")))).as("codes"))
    val enc = e.crossJoin(broadcast(codesRow))
      .select(col("vec_id"), col("label"), pqCodeCol.as("pqcode"))
    val luts = queriesSet(spark, dir).crossJoin(broadcast(codesRow))
      .select(col("query_id"), pqLutCol.as("lut"))
    enc.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", pqAdcScore)
      .select(col("query_id"), col("vec_id"), col("label"), col("score"))
  }

  def q69PqSearch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    pqScored(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q69Sql: String = {
    def sl(v: String) = s"$v[s.s*$PqSubDim+1 : s.s*$PqSubDim+$PqSubDim]"
    val l2 = s"list_sum(list_transform(list_zip(${sl("e.embedding")}, ${sl("c.centroid")}), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    val dotq = s"list_sum(list_transform(list_zip(${sl("q.embedding")}, ${sl("c.centroid")}), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |enc AS (
       |  SELECT vec_id, s, label AS code FROM (
       |    SELECT e.vec_id, s.s, c.label,
       |      row_number() OVER (PARTITION BY e.vec_id, s.s ORDER BY $l2 ASC, c.label) AS rk
       |    FROM embeddings e CROSS JOIN range(0, $PqM) s(s) CROSS JOIN cent c)
       |  WHERE rk = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, s.s, c.label, $dotq AS v
       |  FROM embeddings q CROSS JOIN range(0, $PqM) s(s) CROSS JOIN cent c
       |  WHERE q.vec_id < 10),
       |scored AS (
       |  SELECT l0.query_id, e0.vec_id, l0.v + l1.v + l2.v + l3.v AS score
       |  FROM (SELECT vec_id, code FROM enc WHERE s = 0) e0
       |  JOIN (SELECT vec_id, code FROM enc WHERE s = 1) e1 USING (vec_id)
       |  JOIN (SELECT vec_id, code FROM enc WHERE s = 2) e2 USING (vec_id)
       |  JOIN (SELECT vec_id, code FROM enc WHERE s = 3) e3 USING (vec_id)
       |  JOIN lut l0 ON l0.s = 0 AND l0.label = e0.code
       |  JOIN lut l1 ON l1.s = 1 AND l1.label = e1.code AND l1.query_id = l0.query_id
       |  JOIN lut l2 ON l2.s = 2 AND l2.label = e2.code AND l2.query_id = l0.query_id
       |  JOIN lut l3 ON l3.s = 3 AND l3.label = e3.code AND l3.query_id = l0.query_id)
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, score FROM (
       |  SELECT query_id, vec_id AS neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
       |  FROM scored WHERE vec_id <> query_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** q129: IVF-PQ COMPOSED search — the production ANN layout (Jégou et
    * al., TPAMI'11; the FAISS `IVFxx,PQyy` index): q54's coarse probe and
    * q69's ADC scoring STACKED in one plan. Each query probes its
    * nprobe=2 nearest centroid lists, and ADC-scores ONLY the PQ codes of
    * vectors in those lists — q54 reads full vectors for the probed 2/k of
    * the corpus, q69 reads compressed codes for ALL of it; this reads
    * compressed codes for 2/k of it.
    *
    * Engine shape: centroids, probe lists, and per-query LUTs are tiny
    * broadcasts (probes ⋈ luts is a query-count-sized frame joined on
    * query_id BEFORE touching the corpus); the corpus encodes scan-side
    * and joins the broadcast probe side EQUI on its IVF list id — the
    * corpus never shuffles (PlanSpec gate), and at 100 TB a search touches
    * (nprobe/k) · (1/16th-sized) codes. Same integral tie-breaks and
    * fixed-association ADC sum as q69, so the oracle hash-matches.
    */
  def q129IvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    // ONE centroid aggregation feeds the codebook, the LUTs and the coarse
    // probe (persisted: label-count × 64 doubles — pennies, swept by Bench)
    val cent = labelCentroids(e).persist()
    val codesRow = cent
      .agg(array_sort(collect_list(struct(col("c_label"), col("centroid")))).as("codes"))
    // coarse probe (the q54 stage): top-2 centroid lists per query
    val probes = ivfProbes(spark, dir, centroids = Some(cent))
    // per-query ADC LUTs, attached to the probe rows BEFORE the corpus join
    val probeLuts = probes.crossJoin(broadcast(codesRow))
      .select(col("query_id"), col("label"), pqLutCol.as("lut"))
    // scan-side PQ encode, keeping the IVF list id for the probe equi-join
    val enc = e.crossJoin(broadcast(codesRow))
      .select(col("vec_id"), col("label"), pqCodeCol.as("pqcode"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    enc.join(broadcast(probeLuts), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", pqAdcScore)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q129Sql: String = {
    def sl(v: String) = s"$v[s.s*$PqSubDim+1 : s.s*$PqSubDim+$PqSubDim]"
    val l2 = s"list_sum(list_transform(list_zip(${sl("e.embedding")}, ${sl("c.centroid")}), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    val dotq = s"list_sum(list_transform(list_zip(${sl("q.embedding")}, ${sl("c.centroid")}), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    val pcos = cosineSql("q.embedding", "c.centroid")
    s"""WITH cent AS (
       |  SELECT label, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, t.pos, avg(CAST(embedding[t.pos] AS DOUBLE)) AS cx
       |    FROM embeddings, range(1, 65) t(pos)
       |    GROUP BY label, t.pos)
       |  GROUP BY label),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $pcos DESC, c.label) AS prk
       |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
       |    CROSS JOIN (SELECT label, centroid FROM cent) c(label, centroid))
       |  WHERE prk <= 2),
       |enc AS (
       |  SELECT vec_id, s, label AS code FROM (
       |    SELECT e.vec_id, s.s, c.label,
       |      row_number() OVER (PARTITION BY e.vec_id, s.s ORDER BY $l2 ASC, c.label) AS rk
       |    FROM embeddings e CROSS JOIN range(0, $PqM) s(s) CROSS JOIN cent c)
       |  WHERE rk = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, s.s, c.label, $dotq AS v
       |  FROM embeddings q CROSS JOIN range(0, $PqM) s(s) CROSS JOIN cent c
       |  WHERE q.vec_id < 10),
       |scored AS (
       |  SELECT l0.query_id, e0.vec_id, l0.v + l1.v + l2.v + l3.v AS score
       |  FROM (SELECT vec_id, code FROM enc WHERE s = 0) e0
       |  JOIN (SELECT vec_id, code FROM enc WHERE s = 1) e1 USING (vec_id)
       |  JOIN (SELECT vec_id, code FROM enc WHERE s = 2) e2 USING (vec_id)
       |  JOIN (SELECT vec_id, code FROM enc WHERE s = 3) e3 USING (vec_id)
       |  JOIN embeddings ev ON ev.vec_id = e0.vec_id
       |  JOIN probes p ON p.label = ev.label
       |  JOIN lut l0 ON l0.s = 0 AND l0.label = e0.code AND l0.query_id = p.query_id
       |  JOIN lut l1 ON l1.s = 1 AND l1.label = e1.code AND l1.query_id = p.query_id
       |  JOIN lut l2 ON l2.s = 2 AND l2.label = e2.code AND l2.query_id = p.query_id
       |  JOIN lut l3 ON l3.s = 3 AND l3.label = e3.code AND l3.query_id = p.query_id)
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, score FROM (
       |  SELECT query_id, vec_id AS neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rk
       |  FROM scored WHERE vec_id <> query_id)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** q114: MULTI-PROBE LSH ANN (Lv et al., VLDB'07) — each query scores
    * its own hyperplane bucket plus the `nBits` buckets at Hamming
    * distance 1, recovering most of the recall single-probe LSH (q51)
    * loses at the same table count: a near-neighbor that lands across one
    * hyperplane is found by flipping that one bit, and a second hash
    * table is never built. Engine shape: the probe set is an
    * nBits+1-row EXPLODE of the broadcast query side joined EQUI on
    * bucket — the corpus still never shuffles and the scored fraction is
    * ~(nBits+1)/2^nBits instead of 1/2^nBits. The oracle restates
    * membership as `bit_count(xor(buckets)) <= 1` — equivalent
    * set-theoretically, deliberately not the join shape (oracles state
    * semantics, plans state scale).
    */
  def q114MultiprobeLsh(spark: SparkSession, dir: String): DataFrame = {
    val nBits = 4
    val corpus = withBucket(Tables(spark, dir, "embeddings"), nBits = nBits)
    val q0 = withBucket(
      Tables(spark, dir, "embeddings").filter(col("vec_id") < 10), nBits = nBits)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    val flips = array((lit(0L) +: (0 until nBits).map(i => lit(1L << i))): _*)
    val probes = q0
      .withColumn("flip", explode(flips))
      .select(col("query_id"), col("q_emb"),
        col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    rankTop5(corpus.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        nativeCosine(spark)(col("q_emb"), col("embedding")).as("cos")))
  }

  val q114Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round($cos, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS BIGINT) AS rk
       |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
       |  JOIN embeddings c
       |    ON c.vec_id <> q.vec_id
       |   AND bit_count(xor(${bucketSql("c.embedding", 4)}, ${bucketSql("q.embedding", 4)})) <= 1)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** q113: hard-negative mining for contrastive training — per query, the
    * top-5 most-similar corpus items with a DIFFERENT label. Same-label
    * neighbors are positives; the highest-cosine cross-label items are
    * the negatives that actually move a contrastive loss (easy negatives
    * are near-orthogonal and teach nothing). Same plan shape as q50: the
    * query set broadcasts, the corpus NEVER shuffles, the label
    * inequality is a scan-side filter, and the per-query top-5 is a
    * WindowGroupLimit-pruned window — at 100 TB this is mined per
    * training batch against the full corpus scan, or against an IVF/PQ
    * candidate pool exactly as q54/q69 restrict q50.
    */
  def q113HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val q = Tables(spark, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("label"),
        nativeCosine(spark)(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), col("label").cast("long").as("neg_label"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q113Sql: String =
    """SELECT query_id, rk, neighbor_id, neg_label, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(c.label AS BIGINT) AS neg_label,
      |    round(list_sum(list_transform(list_zip(q.embedding, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(q.embedding, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS BIGINT) AS rk
      |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
      |  JOIN embeddings c ON c.label <> q.label)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Metadata predicate for q172 — the filter the search must honor. */
  private[queries] val Q172Lang = "de"

  /** q172 — FILTERED vector search ("filtered ANN"): top-k cosine over
    * only the corpus rows satisfying a metadata predicate from ANOTHER
    * table (documents.lang, joined on vec_id = doc_id). The retrieval
    * shape RAG stacks actually run — "nearest neighbors among German
    * documents" — and the one where post-filtering is a correctness bug,
    * not an optimization choice: scoring first and filtering after
    * UNDERFILLS k whenever fewer than k of the global top-scores satisfy
    * the predicate. The filter therefore applies BELOW the distance
    * computation: the corpus is restricted first, cosines exist only for
    * qualifying rows (PlanSpec-gated), and the result is exact top-5
    * within the filtered set by construction.
    *
    * Scale shape: the predicate side is (doc_id)-keyed metadata — at
    * 100 TB it lives bucketed beside the vectors, so the restrict join is
    * co-located (or a broadcast when the qualifying id set is small, as
    * here: AQE picks that up from the filter's selectivity). The filtered
    * corpus then feeds the SAME broadcast-queries × corpus-scan kernel as
    * q50 — and composes with the IVF machinery (q54: probe lists, filter
    * within list) when the filtered set is still too big to brute.
    */
  def q172FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val keep = Tables(spark, dir, "documents")
      .filter(col("lang") === Q172Lang).select(col("doc_id"))
    val corpus = Tables(spark, dir, "embeddings")
      .join(keep, col("vec_id") === col("doc_id"))
    val q = queriesSet(spark, dir)
    rankTop5(corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        nativeCosine(spark)(col("q_emb"), col("embedding")).as("cos")))
  }

  val q172Sql: String =
    s"""SELECT query_id, rk, neighbor_id, cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(list_zip(q.embedding, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(q.embedding, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.vec_id) AS BIGINT) AS rk
       |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
       |  JOIN embeddings c ON c.vec_id <> q.vec_id
       |  JOIN documents d ON d.doc_id = c.vec_id AND d.lang = '$Q172Lang')
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** q190 — EMBEDDING DISTRIBUTION DRIFT between two corpus generations
    * (model/data monitoring): split the corpus into a reference and a
    * current generation (vec_id parity stands in for "last month's
    * snapshot vs today's"), compute each (label, generation) centroid in
    * the q67 quantized-integer space — per-row `round(x·2^20)` is scalar
    * IEEE both engines evaluate identically, integer sums are
    * order-free, and the centroid is one integer division — then report
    * per label the L1 centroid displacement, the worst-moving dimension,
    * and both generation counts. This is the drift monitor an embedding
    * pipeline runs on every refresh: a label whose centroid moved is a
    * label whose upstream meaning (or encoder) changed, caught without
    * any pairwise distance work.
    *
    * Scale: one posexplode scan + one (label, gen, dim) aggregate —
    * map-side combinable, |labels|·2·64 rows out — then arithmetic on
    * that tiny frame. Nothing pairwise, nothing iterative.
    */
  def q190EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val sums = e
      .withColumn("gen",
        when(pmod(col("vec_id"), lit(2)) === 0, lit("ref")).otherwise(lit("cur")))
      .select(col("label"), col("gen"),
        posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("label"), col("gen"), (col("pos") + 1).cast("long").as("pos"))
      .agg(sum(round(col("x") * lit(1048576.0), 0)).cast("long").as("sum_q"),
        count(lit(1)).as("n"))
      .withColumn("cent_q", expr("sum_q div n"))
    val ref = sums.filter(col("gen") === "ref")
      .select(col("label"), col("pos"), col("cent_q").as("ref_q"), col("n").as("n_ref"))
    val cur = sums.filter(col("gen") === "cur")
      .select(col("label"), col("pos"), col("cent_q").as("cur_q"), col("n").as("n_cur"))
    val dd = ref.join(cur, Seq("label", "pos"))
      .withColumn("d", abs(col("ref_q") - col("cur_q")))
    val agg = dd.groupBy(col("label"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(col("d")).as("l1_drift_q"),
        max(col("d")).as("max_dim_drift_q"))
    val worst = dd.join(agg.select(col("label"), col("max_dim_drift_q")), "label")
      .filter(col("d") === col("max_dim_drift_q"))
      .groupBy(col("label")).agg(min(col("pos")).as("worst_pos"))
    agg.join(worst, "label").orderBy(col("label"))
  }

  // positions come from the arrays themselves (zipped generate_subscripts +
  // unnest), so a regenerated fixture with a different embedding dim is
  // covered with no hardcoded bound on either engine.
  val q190Sql: String =
    """WITH ex AS (
      |  SELECT label, CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS gen,
      |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
      |    unnest(embedding) AS x
      |  FROM embeddings),
      |sums AS (
      |  SELECT label, gen, pos,
      |    CAST(sum(round(CAST(x AS DOUBLE) * 1048576)) AS BIGINT) AS sum_q,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM ex
      |  GROUP BY 1, 2, 3),
      |cent AS (SELECT label, gen, pos, sum_q // n AS cent_q, n FROM sums),
      |d AS (
      |  SELECT r.label, r.pos, abs(r.cent_q - c.cent_q) AS d,
      |    r.n AS n_ref, c.n AS n_cur
      |  FROM (SELECT * FROM cent WHERE gen = 'ref') r
      |  JOIN (SELECT * FROM cent WHERE gen = 'cur') c USING (label, pos)),
      |agg AS (
      |  SELECT label, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
      |    CAST(sum(d) AS BIGINT) AS l1_drift_q,
      |    CAST(max(d) AS BIGINT) AS max_dim_drift_q
      |  FROM d GROUP BY label),
      |worst AS (
      |  SELECT d.label, CAST(min(d.pos) AS BIGINT) AS worst_pos
      |  FROM d JOIN agg USING (label)
      |  WHERE d.d = agg.max_dim_drift_q GROUP BY d.label)
      |SELECT label, n_ref, n_cur, l1_drift_q, max_dim_drift_q, worst_pos
      |FROM agg JOIN worst USING (label) ORDER BY label""".stripMargin

  /** q237's per-element quantization: round(x·2^10) — products ≤ 2^20 per
    * cell contribution, so the BIGINT cell sum holds ~2^43 rows of
    * headroom (a 100 TB corpus is ~2^40 vectors at 64 dims).
    */
  private[queries] val Q237Scale = 1024.0

  /** q237 — GRAM / COVARIANCE SUFFICIENT STATISTICS for PCA and
    * whitening: the d×d second-moment matrix Σᵢ xᵢxᵢᵀ plus the per-dim
    * first moments Σᵢ xᵢ, accumulated in ONE corpus scan. This is the
    * distributed half of every classical embedding decomposition —
    * covariance = (n·S₂ − S₁S₁ᵀ)/n², and the eigensolve that turns it
    * into principal components runs DRIVER-SIDE on the d(d+1)/2-row
    * output, the bounded-by-construction case (d² is corpus-independent —
    * the q55/q220 precedent). The pipeline use: PCA-whitened embeddings
    * before IVF/PQ (q69/q129's codebooks train better on decorrelated
    * dims), and dimensionality checks (effective rank) for the q190 drift
    * family.
    *
    * The naive plan self-joins the exploded (vec, pos, x) frame on vec_id
    * — an n·d ⋈ n·d shuffle. Here each ROW emits its own d(d+1)/2 upper-
    * triangle products (array higher-order functions: transform over the
    * quantized array × its tail slice, flattened) plus d first-moment
    * sentinels (pj = 0), so the only shuffle is the final
    * map-side-combinable aggregate onto d(d+1)/2 + d ≈ 2,100 cells —
    * sketch-sized output at any corpus (the q137 CMS argument).
    * Exactness: elements quantize to integers ([[Q237Scale]]) before any
    * product, integer sums are order-free, so both engines agree bitwise.
    *
    * Scale shape: one scan, zero joins, output corpus-independent.
    */
  def q237GramMatrix(spark: SparkSession, dir: String): DataFrame = {
    // d(d+1)/2 products per row inside the scan stage — rebalance the
    // narrow input when its split count is below the core count (no-op on
    // any many-row-group table at scale)
    val e = graft.operators.Fanout.rebalance(Tables(spark, dir, "embeddings"))
    val q = e.select(expr(
      s"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Q237Scale) AS BIGINT))")
      .as("q"))
    val cells = q.select(explode(expr(
      """concat(
        |  flatten(transform(q, (xi, i) ->
        |    transform(slice(q, i + 1, size(q) - i), (xj, j) ->
        |      struct(CAST(i + 1 AS BIGINT) AS pi,
        |             CAST(i + j + 1 AS BIGINT) AS pj,
        |             xi * xj AS p)))),
        |  transform(q, (xi, i) ->
        |    struct(CAST(i + 1 AS BIGINT) AS pi, CAST(0 AS BIGINT) AS pj,
        |           xi AS p)))""".stripMargin)).as("c"))
    cells.groupBy(col("c.pi").as("pi"), col("c.pj").as("pj"))
      .agg(sum(col("c.p")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("pi"), col("pj"))
  }

  /** Oracle: the same cells from the element-exploded frame — DuckDB
    * restates the row-local triangle as an equi-self-join on vec_id
    * (pos_i ≤ pos_j), fine at oracle scale; the pj = 0 rows restate the
    * first moments. Quantize-then-multiply keeps every cell exact BIGINT.
    */
  val q237Sql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * $Q237Scale) AS BIGINT) AS q
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.pos AS pi, b.pos AS pj,
       |    CAST(sum(a.q * b.q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
       |  GROUP BY 1, 2),
       |firsts AS (
       |  SELECT pos AS pi, CAST(0 AS BIGINT) AS pj,
       |    CAST(sum(q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |  FROM ex GROUP BY 1)
       |SELECT pi, pj, s, n
       |FROM (SELECT * FROM pairs UNION ALL SELECT * FROM firsts)
       |ORDER BY pi, pj""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_gram_matrix" -> q237GramMatrix _,
    "q190_embedding_drift" -> q190EmbeddingDrift _,
    "q172_filtered_ann" -> q172FilteredAnn _,
    "q113_hard_negatives" -> q113HardNegatives _,
    "q114_multiprobe_lsh" -> q114MultiprobeLsh _,
    "q55_mmr_rerank" -> q55MmrRerank _,
    "q50_knn_brute" -> q50KnnBrute _,
    "q51_knn_lsh" -> q51KnnLsh _,
    "q52_ivf_assign" -> q52IvfAssign _,
    "q53_knn_quantized" -> q53KnnQuantized _,
    "q54_ivf_search" -> q54IvfSearch _,
    "q67_kmeans_step" -> q67KmeansStep _,
    "q69_pq_search" -> q69PqSearch _,
    "q129_ivf_pq_search" -> q129IvfPqSearch _,
    "q272_ann_store_search" -> q272AnnStoreSearch _,
    "q279_ann_rebuild_search" -> q279AnnRebuildSearch _,
    "q285_ann_rebuild_iterated" -> q285AnnRebuildIterated _)

  val oracles: Map[String, String] = Map(
    "q237_gram_matrix" -> q237Sql,
    "q190_embedding_drift" -> q190Sql,
    "q172_filtered_ann" -> q172Sql,
    "q113_hard_negatives" -> q113Sql,
    "q114_multiprobe_lsh" -> q114Sql,
    "q55_mmr_rerank" -> q55Sql,
    "q50_knn_brute" -> q50Sql,
    "q51_knn_lsh" -> q51Sql,
    "q52_ivf_assign" -> q52Sql,
    "q53_knn_quantized" -> q53Sql,
    "q54_ivf_search" -> q54Sql,
    "q67_kmeans_step" -> q67Sql,
    "q69_pq_search" -> q69Sql,
    "q129_ivf_pq_search" -> q129Sql,
    "q272_ann_store_search" -> q272Sql,
    "q279_ann_rebuild_search" -> q279Sql,
    "q285_ann_rebuild_iterated" -> q285Sql)
}
