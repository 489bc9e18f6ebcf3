package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.plans.MvRewrite

/** Fire/abstain contract of the materialized-view substitution rule: it
  * must retarget exactly the derivable aggregates and leave everything
  * else bit-identical to the un-rewritten plan.
  */
class MvRewriteSpec extends SparkTestBase {

  private val mvPath = s"${System.getProperty("java.io.tmpdir")}/graft_mvspec"

  private def readsMv(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRelation if (l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains("graft_mvspec"))
        case _ => false
      }) => l
    }.nonEmpty

  private def freshSession() = {
    val s2 = spark.newSession()
    val base = Tables(s2, sfDir, "lineitem")
    base.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("s_qty"), count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("mn_qty"), max(col("l_quantity")).as("mx_qty"),
        count(col("l_quantity")).as("c_qty"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.clear()
    MvRewrite.register(base, s2.read.parquet(mvPath),
      Set("l_returnflag", "l_linestatus"), Map("l_quantity" -> "s_qty"), "cnt",
      mins = Map("l_quantity" -> "mn_qty"),
      maxs = Map("l_quantity" -> "mx_qty"),
      counts = Map("l_quantity" -> "c_qty"))
    MvRewrite.enable(s2)
    (s2, base)
  }

  test("fires on coarser and exact-grain groupings, result equals the base aggregate") {
    val (s2, base) = freshSession()
    // plain session = ground truth
    val truth = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet

    val coarse = base.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
    assert(readsMv(coarse), "coarser grouping must read the view")
    assert(coarse.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      == truth, "rewrite must be invisible in the result")

    val exact = base.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
    assert(readsMv(exact), "the view's own grain must read the view")
    val truthExact = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(exact.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      == truthExact)
  }

  test("min/max re-aggregate from partials; avg derives as sum/count(measure)") {
    val (s2, base) = freshSession()
    val truth = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"),
        avg(col("l_quantity")).as("av"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val q = base.groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"),
        avg(col("l_quantity")).as("av"))
    assert(readsMv(q), "min/max/avg over registered partials must read the view")
    assert(q.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toSet == truth, "rewrite must be invisible in the result")
    // avg WITHOUT a registered non-null measure count must abstain: the
    // row count is NOT avg's denominator under NULLs
    MvRewrite.clear()
    MvRewrite.register(base, s2.read.parquet(mvPath),
      Set("l_returnflag", "l_linestatus"), Map("l_quantity" -> "s_qty"), "cnt",
      mins = Map("l_quantity" -> "mn_qty"), maxs = Map("l_quantity" -> "mx_qty"))
    val noCount = base.groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("av"))
    assert(!readsMv(noCount), "avg without count(measure) must scan the base")
    // min of an unregistered measure must abstain
    val noMin = base.groupBy(col("l_returnflag")).agg(min(col("l_tax")).as("mn"))
    assert(!readsMv(noMin), "unregistered min measure must scan the base")
  }

  test("abstains whenever the view cannot answer exactly") {
    val (s2, base) = freshSession()
    // an unregistered measure
    val m = base.groupBy(col("l_returnflag")).agg(sum(col("l_tax")).as("s"))
    assert(!readsMv(m), "unregistered measure must scan the base")
    // distinct aggregate is not derivable from partials
    val d = base.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("u"))
    assert(!readsMv(d), "distinct must scan the base")
    // a filter between aggregate and scan changes the group contents
    val f = base.filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!readsMv(f), "filtered aggregate must scan the base")
    // grouping on a non-dimension column
    val g = base.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    assert(!readsMv(g), "non-dimension grouping must scan the base")
    // a global aggregate must not rewrite (empty-base count-vs-sum NULL)
    val glob = base.agg(count(lit(1)).as("n"))
    assert(!readsMv(glob), "global aggregate must scan the base")
    // and all of the above still return correct results
    assert(f.collect().nonEmpty && g.collect().nonEmpty && glob.collect().nonEmpty)
  }

  test("a disabled or unregistered session never rewrites") {
    val (s2, base) = freshSession()
    MvRewrite.clear()
    val q = base.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(!readsMv(q), "clear() must stop the rewrite")
    assert(q.collect().nonEmpty)
  }

  test("q205 rebuilds its view when lineitem is regenerated at the same path") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_q205spec").toString
    val li = Paths.get(dir, "lineitem.parquet")
    Files.copy(Paths.get(sfDir, "lineitem.parquet"), li)
    def direct() = spark.read.parquet(li.toString)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        avg(col("l_quantity")).as("avg_qty"))
      .orderBy(col("l_returnflag")).collect().toSeq
    def q205() = graft.queries.Relational.q205MvRewrite(spark, dir).collect().toSeq
    val before = direct()
    assert(q205() == before)
    // regenerate lineitem in place with half its rows, stamped past the
    // view's marker so mtime granularity cannot hide the change
    graft.queries.ReplayFixtures.moveInParquet(
      spark.read.parquet(li.toString).filter(pmod(col("l_orderkey"), lit(2)) === 0),
      dir, "half.parquet")
    Files.move(Paths.get(dir, "half.parquet"), li, StandardCopyOption.REPLACE_EXISTING)
    val marker = new java.io.File(
      graft.queries.ReplayFixtures.fixtureRootFor(dir, "q205mv"), "_FIXTURE_OK")
    li.toFile.setLastModified(marker.lastModified() + 2000L)
    val after = direct()
    assert(after.map(_.getLong(2)).sum < before.map(_.getLong(2)).sum)
    assert(q205() == after, "q205 answered from the view of the old lineitem")
  }
}
