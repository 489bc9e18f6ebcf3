package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational query surface (SURVEY.md §2b) — declarative DataFrame plans so
  * Catalyst does pushdown/pruning/join-selection, Tungsten does codegen.
  *
  * Scale notes baked into each plan:
  *   - dimension joins (region/nation/supplier/part) are `broadcast()` —
  *     at 100 TB the fact side never shuffles for a star join;
  *   - aggregates are partial (map-side combine) by construction;
  *   - every double aggregate is rounded so results are stable across
  *     partial-aggregation orders (and across Spark vs the DuckDB oracle);
  *   - every query ends in an explicit orderBy on a unique key so results
  *     are deterministic for hash comparison.
  */
object Relational {

  private def r2(c: Column) = round(c, 2)

  /** TPC-H Q1-style pricing summary: one scan, partial hash agg, tiny
    * shuffle (few groups). Filter + column pruning push to parquet.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r2(sum(col("l_quantity"))).as("sum_qty"),
        r2(sum(col("l_extendedprice"))).as("sum_base_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        r2(avg(col("l_quantity"))).as("avg_qty"),
        r2(avg(col("l_extendedprice"))).as("avg_price"),
        r2(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 2) AS avg_qty,
      |  round(avg(l_extendedprice), 2) AS avg_price,
      |  round(avg(l_discount), 2) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Selective filter + narrow projection: PushedFilters + 3-column
    * ReadSchema at the parquet scan — verified in RelationalSpec.
    */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // per-row scalar math: identical IEEE ops on any engine, so no
        // rounding — exact equality is stabler than a round() boundary
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS revenue
      |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Star-dimension join chain with explicit broadcasts: customer (fact-ish)
    * never shuffles; nation/region stream through as broadcast hash joins.
    */
  def q03BroadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), r2(sum(col("c_acctbal"))).as("sum_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q03Sql: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Fact-to-fact join (lineitem x orders): shuffle hash/sort-merge on the
    * join key — at scale both sides pre-shuffle on l_orderkey/o_orderkey,
    * which bucketing on orderkey would eliminate entirely.
    */
  def q04StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q04Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Window function: top-3 orders per customer by totalprice. One shuffle
    * on o_custkey; rank ties broken by orderkey for determinism.
    */
  def q05WindowTopk(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), r2(col("o_totalprice")).as("totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  val q05Sql: String =
    """SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  /** Global sort + limit: Spark plans TakeOrderedAndProject — a per-partition
    * top-k then a driver merge of k*partitions rows, never a full sort.
    */
  def q06SortLimit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.select(col("l_orderkey"), col("l_linenumber"), r2(col("l_extendedprice")).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(25)
  }

  val q06Sql: String =
    """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
      |FROM lineitem
      |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin

  /** Set op: customers that do have orders, as INTERSECT (dedups both sides;
    * Spark plans a hash aggregate + semi join under AQE).
    */
  def q07SetIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select(col("o_custkey").as("custkey"))
    val c = Tables(spark, dir, "customer").select(col("c_custkey").as("custkey"))
    o.intersect(c).orderBy(col("custkey"))
  }

  val q07Sql: String =
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT
      |SELECT c_custkey AS custkey FROM customer
      |ORDER BY custkey""".stripMargin

  /** Set op via EXCEPT: customers who never placed a high-value order. */
  def q08SetExcept(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").select(col("c_custkey").as("custkey"))
    val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey"))
    c.except(o).orderBy(col("custkey"))
  }

  val q08Sql: String =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
      |ORDER BY custkey""".stripMargin

  /** Multi-dimensional agg: ROLLUP — Spark expands grouping sets in a single
    * Expand + hash agg (one shuffle). NULLS FIRST pinned on both sides.
    */
  def q09Rollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val q09Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Anti join: customers with no high-value orders — Spark
    * broadcast/shuffled LeftAnti, no materialized subquery. The filter on
    * the right side pushes below the join.
    */
  def q10AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Semi join: suppliers in nations that have customers — LeftSemi with a
    * broadcast right side.
    */
  def q11SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
    val c = Tables(spark, dir, "customer")
    s.join(broadcast(c), s("s_nationkey") === c("c_nationkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q11Sql: String =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = s_nationkey)
      |ORDER BY s_suppkey""".stripMargin

  /** Exact dedup with a deterministic survivor: group-by the natural key and
    * keep min(id) — the scale-safe restatement of dropDuplicates (one
    * shuffle on the dedup key, map-side partial min).
    */
  def q12DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  val q12Sql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** CUBE over part attributes — grouping-sets expansion, single shuffle. */
  def q13Cube(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.cube(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_parts"), r2(avg(col("p_retailprice"))).as("avg_price"))
      .orderBy(col("p_brand").asc_nulls_first, col("p_type").asc_nulls_first)
  }

  val q13Sql: String =
    """SELECT p_brand, p_type, count(*) AS n_parts,
      |  round(avg(p_retailprice), 2) AS avg_price
      |FROM part GROUP BY CUBE (p_brand, p_type)
      |ORDER BY p_brand ASC NULLS FIRST, p_type ASC NULLS FIRST""".stripMargin

  /** Correlated scalar-subquery shape: each customer's order count + spend
    * (left outer agg-join; Catalyst rewrites the subquery to exactly this).
    */
  def q14OuterJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("spend"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"))
      .orderBy(col("c_custkey"))
  }

  val q14Sql: String =
    """SELECT c_custkey,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(spend, 0.0) AS spend
      |FROM customer LEFT JOIN (
      |  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Distinct-count + approx distinct side by side (approx not compared —
    * exact column drives the oracle; HLL++ is the 100 TB cardinality path).
    */
  def q15DistinctCount(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val q15Sql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Union-all of two branch aggregates (branch reuse; no dedup shuffle). */
  def q16UnionAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 300000)
      .select(lit("high").as("bucket"), col("o_orderkey"))
    val lo = o.filter(col("o_totalprice") < 20000)
      .select(lit("low").as("bucket"), col("o_orderkey"))
    hi.unionAll(lo).orderBy(col("bucket"), col("o_orderkey"))
  }

  val q16Sql: String =
    """SELECT 'high' AS bucket, o_orderkey FROM orders WHERE o_totalprice > 300000
      |UNION ALL
      |SELECT 'low' AS bucket, o_orderkey FROM orders WHERE o_totalprice < 20000
      |ORDER BY bucket, o_orderkey""".stripMargin

  /** Running/cumulative window over an unbounded preceding frame, plus lag —
    * the order-history shape (one shuffle on custkey).
    */
  def q17RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
        col("o_custkey"), col("o_orderkey"),
        r2(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))).as("cum_spend"),
        coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1L)).as("prev_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q17Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend,
      |  coalesce(lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), -1) AS prev_orderkey
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Date/scalar-function surface: extract parts, conditional CASE buckets. */
  def q18DateBuckets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    o.select(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mth"),
        when(col("o_totalprice") >= 200000, "big").otherwise("small").as("size_bucket"))
      .groupBy(col("yr"), col("mth"), col("size_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("yr"), col("mth"), col("size_bucket"))
  }

  val q18Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mth,
      |  CASE WHEN o_totalprice >= 200000 THEN 'big' ELSE 'small' END AS size_bucket,
      |  count(*) AS n
      |FROM orders GROUP BY 1, 2, 3 ORDER BY yr, mth, size_bucket""".stripMargin

  /** Sketch aggregations — the 100 TB cardinality/quantile path (HLL++ and
    * KLL-style, mergeable, fixed memory). The sketch ESTIMATES are
    * engine-specific, so the oracled projection carries the exact values
    * plus booleans asserting the sketch error bound — the oracle emits the
    * exact values and literal TRUE, making the bound itself driver-checked.
    *
    * The exact rider is BOUNDED (round 12): exact_parts is the two-level
    * distinct (hash-agg on (group, partkey), then a count — memory-flat,
    * no Expand), and exact_p50 comes from
    * [[graft.operators.ExactQuantiles.perGroup]]'s value-histogram route —
    * no aggregation buffer ever holds a group's raw values, unlike the
    * `percentile()`/`countDistinct()` mixed agg this replaces (an
    * ObjectHashAggregate buffering 200k values per group, an OOM at scale
    * and 7.9 s of the r11 bench). The three 3-row legs join at the end.
    */
  def q19ApproxSketches(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey"), col("l_extendedprice"))
    val approx = l.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ap"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("pp"))
    // count(DISTINCT x) ignores NULLs; the two-level distinct must too
    // (l_partkey is non-null in TPC-H, but the idiom is the contract)
    val exactParts = l.select(col("l_returnflag"), col("l_partkey"))
      .filter(col("l_partkey").isNotNull).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    val exactP50 = graft.operators.ExactQuantiles
      .perGroup(l, "l_returnflag", "l_extendedprice", Seq("raw_p50" -> 0.5))
      .select(col("l_returnflag"), round(col("raw_p50"), 2).as("exact_p50"))
    exactParts.join(exactP50, Seq("l_returnflag")).join(approx, Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("exact_parts"), col("exact_p50"),
        (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.06).as("approx_parts_ok"),
        (abs(col("pp") - col("exact_p50")) <= col("exact_p50") * 0.05).as("approx_p50_ok"))
      .orderBy(col("l_returnflag"))
  }

  val q19Sql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |  round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_p50,
      |  TRUE AS approx_parts_ok, TRUE AS approx_p50_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Statistical aggregates — corr/covar/stddev per group, the profiling
    * pass a feature-engineering pipeline runs. All are one-pass mergeable
    * aggregates (partial moments map-side, like sum/avg). Rounded to 4 dp:
    * values are O(1)-magnitude ratios, so cross-engine partial-sum ordering
    * drift (~1e-12 relative) never reaches the rounding boundary.
    */
  def q26GroupStats(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("covar_qty_disc"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_discount")), 4).as("var_disc"))
      .orderBy(col("l_returnflag"))
  }

  val q26Sql: String =
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(var_samp(l_discount), 4) AS var_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q27: the SALTED skew-mitigation join, driver-checked — the Spark side
    * runs [[graft.operators.SkewJoin.saltedJoin]] (hot keys split across
    * `saltFactor` synthetic partitions, the other side replicated) and the
    * oracle restates the PLAIN join: salting must be invisible in the
    * result, which is exactly the property that makes it safe to deploy on
    * a 100 TB key distribution you haven't profiled.
    */
  def q27SkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedJoin(l, o, "l_orderkey", "o_orderkey", saltFactor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val q27Sql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q96: the full ranking-window surface in one pass — rank, dense_rank,
    * ntile, percent_rank, cume_dist, lag, lead over a per-customer order
    * timeline. One window definition, one shuffle on the partition key;
    * the ORDER BY (o_orderdate, o_orderkey) is a total order, so every
    * ranking function is deterministic (no tie ambiguity to drift between
    * engines). percent_rank/cume_dist are pure integer-ratio doubles —
    * bit-identical across engines.
    */
  def q96WindowRanks(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q96Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  rank() OVER w AS rk,
      |  dense_rank() OVER w AS drk,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS prk,
      |  cume_dist() OVER w AS cd,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  private val Q99Cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Single-pass column profiler — the validation stage a data pipeline
    * runs before a training job consumes a table: per column, row count,
    * null count, exact distinct count, min and max. ALL metrics for ALL
    * columns come from ONE scan (one aggregate with an Expand for the
    * multi-column distincts, then a `stack` unpivot) — at 100 TB the
    * difference between this and the naive per-column loop is reading the
    * table once vs once per column. Exactness: counts are integers, min/max
    * of doubles are element selections — nothing order-sensitive anywhere.
    */
  def q99Profile(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val aggs = Q99Cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_cnt"),
        countDistinct(col(c)).as(s"${c}_dst"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"))
    }
    val one = l.agg(count(lit(1)).as("n_rows"), aggs: _*)
    one.selectExpr("n_rows",
        s"stack(${Q99Cols.length}, " + Q99Cols.map(c =>
          s"'$c', ${c}_cnt, ${c}_dst, ${c}_min, ${c}_max").mkString(", ") +
          ") AS (col_name, n_present, n_distinct, min_v, max_v)")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_present")).as("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"))
      .orderBy(col("col_name"))
  }

  val q99Sql: String = Q99Cols.map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
       |FROM lineitem""".stripMargin
  }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")

  /** Equi-width bin count for q109. */
  private[graft] val Q109Bins = 16L

  /** q109: equi-width histogram of `l_extendedprice` — the distribution
    * profile q99's min/max can't show (skew, modality, outlier mass).
    * Prices quantize to integer cents, the [min, max] range derives from
    * a broadcast one-row agg (no fixture literals), and the bin index is
    * ONE integral multiply-divide — so unlike float `width_bucket`
    * arithmetic, bin membership is bit-exact and engine-portable. One
    * scan + one [[Q109Bins]]-keyed aggregation; per-bin min/max double as
    * the zonemap audit of each bucket.
    */
  def q109Histogram(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables(spark, dir, "lineitem")
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val bounds = cents.agg(min(col("cents")).as("minc"), max(col("cents")).as("maxc"))
    cents.crossJoin(broadcast(bounds))
      // divisor range+1 puts max in the last bin with no clamp branch
      .withColumn("bin",
        expr(s"((cents - minc) * $Q109Bins) div greatest(1, maxc - minc + 1)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy(col("bin"))
  }

  val q109Sql: String =
    s"""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
       |b AS (SELECT min(cents) AS minc, max(cents) AS maxc FROM c)
       |SELECT ((cents - minc) * $Q109Bins) // greatest(1, maxc - minc + 1) AS bin,
       |  count(*) AS n_rows, min(cents) AS min_cents, max(cents) AS max_cents
       |FROM c, b GROUP BY 1 ORDER BY bin""".stripMargin

  /** q115: distribution drift between two time slices of the event stream
    * — the data-quality monitor a daily ingest runs before training on a
    * new batch: bin `value` into 16 equi-width cents buckets over GLOBAL
    * broadcast bounds (both slices binned identically — the invariant
    * drift comparison needs), split events by even/odd day, and emit per
    * bin the two counts plus the chi-square-style contribution
    * `(n_a − n_b)² / (n_a + n_b)`. Counts are BIGINT-exact; the
    * contribution is per-row scalar math (one multiply, one divide) — bit
    * identical across engines with no order-sensitive float sum. One scan
    * + one 16-key aggregation, same shape as q109.
    */
  def q115DriftDetect(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        (dayofmonth(col("ts")) % 2).as("slice"))
    val bounds = e.agg(min(col("cents")).as("minc"), max(col("cents")).as("maxc"))
    e.crossJoin(broadcast(bounds))
      .withColumn("bin",
        expr(s"((cents - minc) * $Q109Bins) div greatest(1, maxc - minc + 1)"))
      .groupBy(col("bin"))
      .agg(
        count(when(col("slice") === 0, lit(1))).as("n_even"),
        count(when(col("slice") === 1, lit(1))).as("n_odd"))
      .withColumn("contrib",
        (col("n_even") - col("n_odd")).cast("double") * (col("n_even") - col("n_odd"))
          / (col("n_even") + col("n_odd")))
      .orderBy(col("bin"))
  }

  val q115Sql: String =
    s"""WITH c AS (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
       |    day(ts) % 2 AS slice
       |  FROM events),
       |b AS (SELECT min(cents) AS minc, max(cents) AS maxc FROM c)
       |SELECT bin, n_even, n_odd,
       |  CAST(n_even - n_odd AS DOUBLE) * (n_even - n_odd) / (n_even + n_odd) AS contrib
       |FROM (
       |  SELECT ((cents - minc) * $Q109Bins) // greatest(1, maxc - minc + 1) AS bin,
       |    count(CASE WHEN slice = 0 THEN 1 END) AS n_even,
       |    count(CASE WHEN slice = 1 THEN 1 END) AS n_odd
       |  FROM c, b GROUP BY 1)
       |ORDER BY bin""".stripMargin

  /** q205 — MATERIALIZED-VIEW REWRITE exercised end-to-end
    * ([[graft.plans.MvRewrite]]): a (l_returnflag, l_linestatus) rollup
    * with partial sums + counts materializes once to parquet and
    * registers as a view over `lineitem`; the query then runs the PLAIN
    * base-table aggregate — grouped on the COARSER key `l_returnflag`,
    * asking for `sum(l_quantity)`, `count(*)`, and a derived sum — in a
    * rewrite-enabled child session, a hard require() proves the optimized
    * plan reads the VIEW's parquet and not the fact (otherwise this row
    * would silently test the scan it is supposed to avoid), and the
    * oracle restates the aggregate over the raw table — the rewrite must
    * be invisible in the result. q145/q152/q202 keep such rollups fresh
    * incrementally; this rule is why keeping them fresh pays: the
    * dashboard query reads kilobytes instead of re-scanning the fact.
    * Sums stay exact: l_quantity is integral and the cents measure is a
    * BIGINT partial, so re-aggregating partials is order-free.
    */
  def q205MvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    val base = Tables(s2, dir, "lineitem")
    // rebuilt whenever lineitem is newer than the view: a regenerated
    // fact must never be answered from the old partials
    val mvPath = ReplayFixtures.ensure(dir, "q205mv", Seq("lineitem")) { root =>
      base.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("s_qty"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("s_price_cents"),
          count(lit(1)).as("cnt"),
          min(col("l_quantity")).as("mn_qty"),
          max(col("l_quantity")).as("mx_qty"),
          count(col("l_quantity")).as("c_qty"))
        .write.parquet(s"$root/mv")
    } + "/mv"
    graft.plans.MvRewrite.clear()
    graft.plans.MvRewrite.register(
      base, s2.read.parquet(mvPath),
      dims = Set("l_returnflag", "l_linestatus"),
      sums = Map("l_quantity" -> "s_qty"),
      countCol = "cnt",
      mins = Map("l_quantity" -> "mn_qty"),
      maxs = Map("l_quantity" -> "mx_qty"),
      counts = Map("l_quantity" -> "c_qty"))
    graft.plans.MvRewrite.enable(s2)
    // the dashboard shape: sum, count, min, max AND avg — avg is the one
    // that used to force the all-or-nothing fallback to rescan the fact
    val df = base
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        avg(col("l_quantity")).as("avg_qty"))
      .orderBy(col("l_returnflag"))
    require(df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if (l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains(mvPath))
            case _ => false
          }) => l
    }.nonEmpty, "q205 must exercise MvRewrite: the aggregate still reads the fact")
    df
  }

  val q205Sql: String =
    """SELECT l_returnflag,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty,
      |  avg(l_quantity) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q232 — the SQL-TEXT API surface: the same engine driven entirely
    * through `spark.sql(...)` over registered temp views — no DataFrame
    * combinators at all. The query itself is a deliberately layered
    * statement (CTE → dimension join → window rank → HAVING-filtered
    * rollup) so Catalyst's SQL path exercises the planner features the
    * DataFrame rows use: a user of this library can hand it raw ANSI SQL
    * and get the identical optimizer treatment — the oracle runs the
    * CHARACTER-IDENTICAL SQL text (no integral division appears, so not
    * even the usual `div` vs `//` spelling differs between engines).
    */
  def q232SqlApi(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("g_orders")
    Tables(spark, dir, "customer").createOrReplaceTempView("g_customer")
    Tables(spark, dir, "nation").createOrReplaceTempView("g_nation")
    spark.sql(
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    count(*) AS n_orders
        |  FROM g_orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT n.n_name, c.c_custkey, s.cents, s.n_orders,
        |    row_number() OVER (PARTITION BY n.n_name
        |      ORDER BY s.cents DESC, c.c_custkey) AS rk
        |  FROM spend s
        |  JOIN g_customer c ON c.c_custkey = s.o_custkey
        |  JOIN g_nation n ON n.n_nationkey = c.c_nationkey)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_top,
        |  CAST(sum(cents) AS BIGINT) AS top_cents,
        |  CAST(sum(n_orders) AS BIGINT) AS top_orders
        |FROM ranked WHERE rk <= 5
        |GROUP BY n_name HAVING count(*) >= 3
        |ORDER BY n_name""".stripMargin)
  }

  val q232Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT n.n_name, c.c_custkey, s.cents, s.n_orders,
      |    row_number() OVER (PARTITION BY n.n_name
      |      ORDER BY s.cents DESC, c.c_custkey) AS rk
      |  FROM spend s
      |  JOIN customer c ON c.c_custkey = s.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey)
      |SELECT n_name, CAST(count(*) AS BIGINT) AS n_top,
      |  CAST(sum(cents) AS BIGINT) AS top_cents,
      |  CAST(sum(n_orders) AS BIGINT) AS top_orders
      |FROM ranked WHERE rk <= 5
      |GROUP BY n_name HAVING count(*) >= 3
      |ORDER BY n_name""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q232_sql_api" -> q232SqlApi _,
    "q205_mv_rewrite" -> q205MvRewrite _,
    "q115_drift_detect" -> q115DriftDetect _,
    "q109_histogram" -> q109Histogram _,
    "q27_skew_salted" -> q27SkewSalted _,
    "q96_window_ranks" -> q96WindowRanks _,
    "q26_group_stats" -> q26GroupStats _,
    "q99_profile" -> q99Profile _,
    "q19_approx_sketches" -> q19ApproxSketches _,
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_filter_project" -> q02FilterProject _,
    "q03_broadcast_join" -> q03BroadcastJoin _,
    "q04_star_join" -> q04StarJoin _,
    "q05_window_topk" -> q05WindowTopk _,
    "q06_sort_limit" -> q06SortLimit _,
    "q07_set_intersect" -> q07SetIntersect _,
    "q08_set_except" -> q08SetExcept _,
    "q09_rollup" -> q09Rollup _,
    "q10_anti_join" -> q10AntiJoin _,
    "q11_semi_join" -> q11SemiJoin _,
    "q12_dedup_exact" -> q12DedupExact _,
    "q13_cube" -> q13Cube _,
    "q14_outer_join_agg" -> q14OuterJoinAgg _,
    "q15_distinct_count" -> q15DistinctCount _,
    "q16_union_all" -> q16UnionAll _,
    "q17_running_window" -> q17RunningWindow _,
    "q18_date_buckets" -> q18DateBuckets _)

  val oracles: Map[String, String] = Map(
    "q232_sql_api" -> q232Sql,
    "q205_mv_rewrite" -> q205Sql,
    "q27_skew_salted" -> q27Sql,
    "q96_window_ranks" -> q96Sql,
    "q26_group_stats" -> q26Sql,
    "q99_profile" -> q99Sql,
    "q109_histogram" -> q109Sql,
    "q115_drift_detect" -> q115Sql,
    "q19_approx_sketches" -> q19Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_broadcast_join" -> q03Sql,
    "q04_star_join" -> q04Sql,
    "q05_window_topk" -> q05Sql,
    "q06_sort_limit" -> q06Sql,
    "q07_set_intersect" -> q07Sql,
    "q08_set_except" -> q08Sql,
    "q09_rollup" -> q09Sql,
    "q10_anti_join" -> q10Sql,
    "q11_semi_join" -> q11Sql,
    "q12_dedup_exact" -> q12Sql,
    "q13_cube" -> q13Sql,
    "q14_outer_join_agg" -> q14Sql,
    "q15_distinct_count" -> q15Sql,
    "q16_union_all" -> q16Sql,
    "q17_running_window" -> q17Sql,
    "q18_date_buckets" -> q18Sql)
}
