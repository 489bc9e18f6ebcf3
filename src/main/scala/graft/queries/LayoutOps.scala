package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout operators: the write-path clustering tools a 100 TB table
  * needs so that READS can skip data. The reference has no layout surface
  * (it streams one file, `lib/batchProcessing.js:314-320`); this is the
  * Spark-side analogue of Delta/Iceberg `OPTIMIZE ZORDER BY` — compute a
  * space-filling-curve key over several columns, range-partition + sort by
  * it at write time, and every parquet row group's min/max zonemap becomes
  * tight in ALL interleaved dimensions at once, so predicates on ANY of
  * them prune row groups. A single-column sort gives one tight dimension
  * and leaves the others striped across the whole file; the Z-order curve
  * trades a little tightness in each dimension for tightness in all.
  */
object LayoutOps {

  /** Interleave the low 16 bits of `x` with zeros (Morton spread): the
    * classic mask-and-shift ladder, 4 shift+or+and steps, all codegen'd
    * integer ops — no UDF, no branching.
    */
  private[queries] def spread16(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton/Z-order key of two 16-bit normalized coordinates. */
  private[queries] def morton2(xn: Column, yn: Column): Column =
    spread16(xn).bitwiseOR(shiftleft(spread16(yn), 1))

  /** Coarse Z-cell: the top [[Q107BucketBits]] bits of the 32-bit key. */
  private[graft] val Q107BucketBits = 12

  /** q107: Z-order layout audit over `lineitem (l_partkey, l_suppkey)` —
    * per coarse Z-cell, the row count and the RAW min/max of both
    * dimensions. The point of the output: every cell's span is bounded in
    * BOTH columns at once (top-6-of-16 normalized bits fixed per
    * dimension → raw span ≲ range/64 per cell), which is exactly the
    * zonemap property a Z-ordered write gives every row group. At
    * deployment the same `zkey` feeds `repartitionByRange(zkey)` +
    * `sortWithinPartitions(zkey)` on the write path; this query is the
    * audit that proves the layout skips.
    *
    * Coordinates normalize to 16 bits through DATA-DERIVED bounds — one
    * broadcast one-row min/max agg (the q94/q95 idiom, no fixture
    * literals) — then pure integer arithmetic: normalize is one integral
    * multiply-divide, the curve key is 8 shift-mask ops, so every value is
    * BIGINT-exact and the oracle restates it bit for bit. One scan + one
    * cell-keyed aggregation (≤ 2^[[Q107BucketBits]] keys); nothing about
    * the shape changes at 1000× the rows.
    */
  /** The z-order WRITE path q107 audits: Morton-key `df` on (xCol, yCol)
    * with data-derived bounds, range-partition by the key into `nFiles`
    * files, sort within each — the OPTIMIZE ZORDER analogue. Every output
    * file covers a contiguous zkey range, so its parquet footer min/max is
    * tight in BOTH dimensions at once and a 2-dim box predicate skips the
    * row groups whose cells miss the box (gate: PlanSpec scan-metrics
    * test). At 100 TB this replaces the read-side audit: pay the one
    * range exchange at write time, every future 2-dim scan prunes.
    */
  /** Attach the 32-bit Morton `zkey` over (xCol, yCol) with data-derived
    * broadcast bounds — the ONE quantize+interleave ladder shared by the
    * q107 audit and the write path, so they can never disagree on the key.
    */
  private[queries] def withZkey(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).as("minx"), max(col(xCol)).as("maxx"),
      min(col(yCol)).as("miny"), max(col(yCol)).as("maxy"))
    val xn = expr(s"(($xCol - minx) * 65535) div greatest(1, maxx - minx)")
    val yn = expr(s"(($yCol - miny) * 65535) div greatest(1, maxy - miny)")
    df.crossJoin(broadcast(bounds))
      .withColumn("zkey", morton2(xn, yn))
      .drop("minx", "maxx", "miny", "maxy")
  }

  def writeZordered(df: DataFrame, xCol: String, yCol: String,
      outPath: String, nFiles: Int = 16): Unit =
    withZkey(df, xCol, yCol)
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(outPath)

  def q107ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    withZkey(l.select(col("l_partkey"), col("l_suppkey")), "l_partkey", "l_suppkey")
      .withColumn("zcell", expr(s"zkey div ${1L << (32 - Q107BucketBits)}"))
      .groupBy(col("zcell"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("zcell"))
  }

  /** Oracle: the identical integer ladder as chained CTEs — DuckDB's
    * `&`/`|`/`<<` on BIGINT match Spark's, and `//` = `div` on the
    * non-negative operands used here.
    */
  val q107Sql: String = {
    // one mask-and-shift rung of the Morton spread, applied to both coords
    def rung(from: String, to: String, shift: Int, mask: Long): String =
      s"""$to AS (
         |  SELECT pk, sk, ((x | (x << $shift)) & $mask) AS x,
         |                 ((y | (y << $shift)) & $mask) AS y
         |  FROM $from)""".stripMargin
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS minx, max(l_partkey) AS maxx,
       |         min(l_suppkey) AS miny, max(l_suppkey) AS maxy
       |  FROM lineitem),
       |s0 AS (
       |  SELECT l_partkey AS pk, l_suppkey AS sk,
       |    (((l_partkey - minx) * 65535) // greatest(1, maxx - minx)) & 65535 AS x,
       |    (((l_suppkey - miny) * 65535) // greatest(1, maxy - miny)) & 65535 AS y
       |  FROM lineitem, b),
       |${rung("s0", "s1", 8, 0x00FF00FFL)},
       |${rung("s1", "s2", 4, 0x0F0F0F0FL)},
       |${rung("s2", "s3", 2, 0x33333333L)},
       |${rung("s3", "s4", 1, 0x55555555L)},
       |z AS (SELECT pk, sk, (x | (y << 1)) AS zkey FROM s4)
       |SELECT zkey // ${1L << (32 - Q107BucketBits)} AS zcell,
       |  count(*) AS n_rows,
       |  min(pk) AS min_pk, max(pk) AS max_pk,
       |  min(sk) AS min_sk, max(sk) AS max_sk
       |FROM z GROUP BY 1 ORDER BY zcell""".stripMargin
  }

  /** q178's file granularity (docs per simulated input file) and next-fit
    * bin target in bytes — ONE definition each, interpolated into both
    * engines.
    */
  private[graft] val Q178DocsPerFile = 16
  private[graft] val Q178TargetBytes = 4096L

  /** q178 — small-file COMPACTION PLANNER, the other half of layout
    * maintenance next to q107's z-order: a long-lived 100 TB table
    * accretes thousands of undersized files per partition (streaming
    * commits, per-executor writes), and scan cost degrades with file
    * COUNT (footer reads, task scheduling), not bytes. The planner is
    * metadata-only: over a file inventory (path, bytes) it assigns each
    * file to a target-sized output bin by deterministic next-fit —
    * cumulative byte offset within the partition, `offset div target` is
    * the bin — one window cumsum over the (tiny) listing, never touching
    * data. Each bin then compacts independently: a 1000-executor rewrite
    * is one task per bin with no cross-bin coordination, and re-running
    * the planner on an unchanged listing reproduces the identical plan
    * (idempotent maintenance, the Delta/Iceberg OPTIMIZE bin-packing
    * contract).
    *
    * The inventory here is simulated from `documents` ([[Q178DocsPerFile]]
    * docs per file, sized by text length) so the oracle can restate the
    * whole plan; at deployment the same two windows run over the real
    * file listing.
    */
  def q178CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Tables(spark, dir, "documents")
      .groupBy(col("source"), expr(s"doc_id div $Q178DocsPerFile").as("file_seq"))
      .agg(sum(col("n_chars")).as("bytes"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("file_seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val planned = files
      .withColumn("off", coalesce(sum(col("bytes")).over(wOff), lit(0L)))
      .withColumn("bin_id", expr(s"off div $Q178TargetBytes"))
    val wBin = Window.partitionBy(col("source"), col("bin_id"))
    planned
      .withColumn("bin_bytes", sum(col("bytes")).over(wBin))
      .withColumn("bin_files", count(lit(1)).over(wBin))
      .select(col("source"), col("file_seq"), col("bytes"),
        col("bin_id"), col("bin_bytes"), col("bin_files"))
      .orderBy(col("source"), col("file_seq"))
  }

  val q178Sql: String =
    s"""WITH files AS (
       |  SELECT source, doc_id // $Q178DocsPerFile AS file_seq,
       |    CAST(sum(n_chars) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2),
       |c AS (
       |  SELECT source, file_seq, bytes,
       |    CAST(coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY file_seq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM files)
       |SELECT source, file_seq, bytes, off // $Q178TargetBytes AS bin_id,
       |  CAST(sum(bytes) OVER (PARTITION BY source, off // $Q178TargetBytes) AS BIGINT) AS bin_bytes,
       |  CAST(count(*) OVER (PARTITION BY source, off // $Q178TargetBytes) AS BIGINT) AS bin_files
       |FROM c ORDER BY source, file_seq""".stripMargin

  /** q180 — ORC ROUND-TRIP: write `documents` as ORC (Spark's second
    * first-class columnar format — same vectorized reader, predicate
    * pushdown, and column pruning surface as parquet), read it back, and
    * aggregate per language with an order-independent 60-bit content
    * fingerprint (bit_xor of the md5 hash family over the full text).
    * The oracle computes the identical aggregate from the PARQUET
    * originals, so a hash match proves the ORC write→read cycle preserved
    * every row and every byte of text — format interop evidence, not just
    * row counts. Scale: the round-trip is one partition-parallel write +
    * one scan; fingerprint aggregation is map-side combinable (xor is
    * associative/commutative), so the check itself runs at any corpus
    * size — the cheap "did the migration lose anything" audit for a
    * format move.
    */
  def q180OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q180_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    Tables(spark, dir, "documents")
      .write.mode("overwrite").orc(s"$base/orc")
    spark.read.orc(s"$base/orc")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT))")
          .cast("long").as("content_hash"))
      .orderBy(col("lang"))
  }

  val q180Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS content_hash
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q193 — AVRO ROUND-TRIP: q180's migration audit for the row-oriented
    * interchange format every Kafka-adjacent ingest meets first. Spark's
    * optional avro module isn't on this classpath, so the cycle runs
    * through [[graft.sources.AvroIO]] — executor-parallel object-container
    * writes + whole-file-parallel reads built on the Avro core jars — and
    * the same order-independent bit_xor fingerprint vs the parquet
    * originals proves the write→read cycle preserved every row and every
    * byte of text. Same scale story as q180: partition-parallel both
    * directions, map-side-combinable audit.
    */
  def q193AvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q193_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val d = Tables(spark, dir, "documents")
    graft.sources.AvroIO.write(d, s"$base/avro")
    graft.sources.AvroIO.read(spark, s"$base/avro", d.schema)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT))")
          .cast("long").as("content_hash"))
      .orderBy(col("lang"))
  }

  /** q215's bucket count — identical on both sides so every join key pair
    * meets inside one bucket.
    */
  private[graft] val Q215Buckets = 8

  /** Write lineitem + orders as BUCKETED TABLES (same bucket count, same
    * key) once per (JVM, sf dir): [[graft.sources.Sinks.bucketedTable]]'s
    * layout, external-path'd under tmpdir so the in-memory catalog owns
    * only metadata. Amounts pre-convert to exact integer cents at write
    * time — the layout job is also where a real pipeline normalizes types.
    */
  private[graft] def q215Tables(spark: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    ReplayFixtures.once("q215", dir) { base =>
      val lt = s"graft_q215_lineitem_$tag"
      val ot = s"graft_q215_orders_$tag"
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_cents"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
        .write.mode("overwrite")
        .bucketBy(Q215Buckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").format("parquet").saveAsTable(lt)
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite")
        .bucketBy(Q215Buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").format("parquet").saveAsTable(ot)
      (lt, ot)
    }
  }

  /** The q215 join stage alone (pre-aggregation), exposed so PlanSpec can
    * gate its physical plan: both scans must report bucketed reads and the
    * sort-merge join must have NO shuffle exchange on either side.
    */
  private[graft] def q215JoinOnly(spark: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = q215Tables(spark, dir)
    val l = spark.table(lt)
    val o = spark.table(ot)
    // the merge hint pins the 100 TB-realistic strategy (at fixture scale
    // Spark would broadcast the dimension-sized side and hide the point)
    l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
  }

  /** q215 — BUCKETED CO-LOCATED FACT-FACT JOIN, the layout move that
    * deletes the biggest shuffle a warehouse runs: lineitem and orders are
    * written ONCE as bucketed tables ([[Q215Buckets]] buckets, same key,
    * sorted within buckets — hive-style bucketing, Spark's native
    * `bucketBy`), after which EVERY equi-join or aggregation on the bucket
    * key is exchange-free: bucket i of lineitem joins bucket i of orders
    * in-place, forever, amortizing one layout write across every
    * downstream consumer. At 100 TB this is the difference between a
    * nightly multi-PB shuffle and none at all; PlanSpec holds the proof
    * (zero ShuffleExchange in the join subtree, bucketed scans on both
    * sides — only the final priority-sized rollup exchanges).
    *
    * Exactness: amounts are integer cents from the layout write onward;
    * the oracle runs the same join+rollup over the raw parquet — layout
    * must be logically invisible, the q196 contract for maintenance
    * applied to bucketing.
    */
  def q215BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    q215JoinOnly(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("qty_cents")).as("sum_qty_cents"),
        sum(col("price_cents")).as("sum_price_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val q215Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q231 — DICTIONARY-ENCODING SIZE PLANNER: per column, the estimated
    * bytes under (a) plain text encoding (the CSV baseline: Σ value-text
    * lengths) and (b) dictionary encoding (distinct values' text bytes +
    * bit-packed indexes at ⌈log2 ndv⌉ bits/row) — the arithmetic behind
    * parquet's own encoding choice and the first question of storage
    * planning ("which columns pay for a dictionary"). Low-cardinality
    * enums compress ~50×; a high-cardinality key column INFLATES under a
    * dictionary (indexes + a dictionary nearly as big as the data) — the
    * audit shows both regimes and flags the win.
    *
    * Exact integers: value-text lengths (string and BIGINT columns only —
    * integer decimal text is identical across engines, float text is
    * not), ndv, index bits = bit-length of (ndv−1) via the shared `bin`
    * idiom, ⌈·⌉ divisions shifted non-negative. Per column: one scan with
    * a count-distinct — fusable into one pass per TABLE at 100 TB (the
    * q99 move); the ndv for the estimate would come from the q177 HLL
    * registers at scale, exact here so the oracle can restate it.
    */
  def q231EncodingEstimate(spark: SparkSession, dir: String): DataFrame = {
    def est(table: String, column: String): DataFrame = {
      val v = Tables(spark, dir, table)
        .select(col(column).cast("string").as("v"))
      val perValue = v.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      perValue.agg(
          sum(col("cnt")).as("n"),
          count(lit(1)).as("ndv"),
          sum(length(col("v")) * col("cnt")).as("raw_bytes"),
          sum(length(col("v"))).as("dict_value_bytes"))
        .select(lit(table).as("table_name"), lit(column).as("column_name"),
          col("n"), col("ndv"), col("raw_bytes"),
          expr("CAST(dict_value_bytes + (n * greatest(1, length(bin(ndv - 1))) + 7) div 8 AS BIGINT)")
            .as("dict_bytes"),
          expr("CAST(10000 * (dict_value_bytes + (n * greatest(1, length(bin(ndv - 1))) + 7) div 8) div raw_bytes AS BIGINT)")
            .as("dict_ratio_bp"))
    }
    Seq(
      est("lineitem", "l_returnflag"), est("orders", "o_orderpriority"),
      est("documents", "lang"), est("documents", "source"),
      est("customer", "c_mktsegment"), est("lineitem", "l_partkey"),
      est("orders", "o_custkey"))
      .reduce(_.unionByName(_))
      .withColumn("dict_wins", col("dict_bytes") < col("raw_bytes"))
      .orderBy(col("table_name"), col("column_name"))
  }

  val q231Sql: String = {
    def block(table: String, column: String): String =
      s"""SELECT '$table' AS table_name, '$column' AS column_name,
         |  n, ndv, raw_bytes,
         |  CAST(dict_value_bytes + (n * greatest(1, length(bin(ndv - 1))) + 7) // 8 AS BIGINT) AS dict_bytes,
         |  CAST(10000 * (dict_value_bytes + (n * greatest(1, length(bin(ndv - 1))) + 7) // 8) // raw_bytes AS BIGINT) AS dict_ratio_bp,
         |  (dict_value_bytes + (n * greatest(1, length(bin(ndv - 1))) + 7) // 8) < raw_bytes AS dict_wins
         |FROM (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS ndv,
         |    CAST(sum(length(v) * cnt) AS BIGINT) AS raw_bytes,
         |    CAST(sum(length(v)) AS BIGINT) AS dict_value_bytes
         |  FROM (SELECT CAST($column AS VARCHAR) AS v, count(*) AS cnt
         |        FROM $table GROUP BY 1))""".stripMargin
    Seq(
      block("lineitem", "l_returnflag"), block("orders", "o_orderpriority"),
      block("documents", "lang"), block("documents", "source"),
      block("customer", "c_mktsegment"), block("lineitem", "l_partkey"),
      block("orders", "o_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")
  }

  /** OPTIMIZE ZORDER BY (xCol, yCol) on a Delta table: the
    * [[writeZordered]] Morton layout routed through
    * [[graft.sources.DeltaLog.commitRewriteLayout]] — one
    * `dataChange=false` rewrite whose output files each cover a
    * contiguous zkey range, so every file's add-action stats envelope is
    * tight in BOTH dimensions at once and
    * [[graft.sources.DeltaLog.readWhere]]'s 2-dim box predicates skip
    * files, not just row groups.
    */
  def zorderDelta(spark: SparkSession, root: String, xCol: String,
      yCol: String, nFiles: Int): Long =
    graft.sources.DeltaLog.commitRewriteLayout(spark, root, df =>
      withZkey(df, xCol, yCol)
        .repartitionByRange(nFiles, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .drop("zkey"))

  /** q270 fixture: lineitem's join-key columns committed to a Delta log
    * as 16 RANDOMLY-partitioned files — the worst layout for selective
    * reads: every file's (partkey, suppkey) stats envelope spans
    * essentially the full range, so every box predicate reads all 16.
    */
  private[graft] def q270Fixture(spark: SparkSession, dir: String): String =
    ReplayFixtures.ensure(dir, "q270", Seq("lineitem")) { root =>
      graft.sources.DeltaLog.commitAppend(s"$root/delta",
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"))
          .repartition(16))
    }

  /** q270 — DELTA OPTIMIZE ZORDER: clone the frozen random-layout
    * fixture (the q239 honesty rule), Z-ORDER it on
    * (l_partkey, l_suppkey) via [[zorderDelta]], and run a 2-dim box
    * predicate through the stats-pruned read. The audit columns pin the
    * mechanism: `files_before` = 16 (the random layout's envelopes all
    * intersect any interior box — the pre-rewrite read prunes NOTHING),
    * `zorder_skips` = 1 asserts the post-rewrite read pruned at least
    * half the files (a 1/64-area box against 16 zkey-range files
    * typically touches 1–4 — ≤8 is sampling-safe). The box aggregate
    * itself restates in DuckDB, so a rewrite that lost, duplicated, or
    * mis-clustered a row breaks the hash before the file counts do. At
    * 100 TB this is the maintenance verb that turns multi-dimension
    * selective scans from table-sized into box-sized — paid once at
    * OPTIMIZE cadence, collected on every read.
    */
  def q270ZorderOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLog
    val delta = ReplayFixtures.cloneInto(s"${q270Fixture(spark, dir)}/delta", "q270", dir)
    val b = Tables(spark, dir, "lineitem")
      .agg(max(col("l_partkey")), max(col("l_suppkey"))).head // one-row driver frame
    val (mp, ms) = (b.getAs[Number](0).longValue(), b.getAs[Number](1).longValue())
    val pred = col("l_partkey") > lit(mp * 3 / 8) &&
      col("l_partkey") <= lit(mp * 4 / 8) &&
      col("l_suppkey") > lit(ms * 3 / 8) &&
      col("l_suppkey") <= lit(ms * 4 / 8)
    val before = DeltaLog.filesMatching(spark, delta, pred).size.toLong
    zorderDelta(spark, delta, "l_partkey", "l_suppkey", 16)
    val after = DeltaLog.filesMatching(spark, delta, pred).size.toLong
    DeltaLog.readWhere(spark, delta, pred)
      .groupBy(col("l_linenumber"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .withColumn("files_before", lit(before))
      .withColumn("zorder_skips", lit(if (after * 2 <= before) 1L else 0L))
      .orderBy(col("l_linenumber"))
  }

  /** Oracle: the box aggregate over raw lineitem; file-count constants
    * pinned (16 random files all intersect; the z-ordered read skips).
    */
  val q270Sql: String =
    """WITH b AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem)
      |SELECT l_linenumber, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(16 AS BIGINT) AS files_before,
      |  CAST(1 AS BIGINT) AS zorder_skips
      |FROM lineitem, b
      |WHERE l_partkey > b.mp * 3 // 8 AND l_partkey <= b.mp * 4 // 8
      |  AND l_suppkey > b.ms * 3 // 8 AND l_suppkey <= b.ms * 4 // 8
      |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q231_encoding_estimate" -> q231EncodingEstimate _,
    "q215_bucketed_join" -> q215BucketedJoin _,
    "q107_zorder_layout" -> q107ZorderLayout _,
    "q270_zorder_optimize" -> q270ZorderOptimize _,
    "q178_compaction_plan" -> q178CompactionPlan _,
    "q180_orc_roundtrip" -> q180OrcRoundtrip _,
    "q193_avro_roundtrip" -> q193AvroRoundtrip _)

  val oracles: Map[String, String] = Map(
    "q231_encoding_estimate" -> q231Sql,
    "q215_bucketed_join" -> q215Sql,
    "q107_zorder_layout" -> q107Sql,
    "q270_zorder_optimize" -> q270Sql,
    "q178_compaction_plan" -> q178Sql,
    "q180_orc_roundtrip" -> q180Sql,
    "q193_avro_roundtrip" -> q180Sql)
}
