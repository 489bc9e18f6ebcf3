package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables` reads a plain file's schema from its parquet footer on the
  * driver, so loading a table launches no Spark job, and the schema is
  * the one Spark's own inference would give.
  */
class TablesSpec extends SparkTestBase {

  test("loading any of the ten tables launches no Spark job; schemas match Spark's inference") {
    val frames = scala.collection.mutable.LinkedHashMap.empty[String, org.apache.spark.sql.DataFrame]
    val listener = new ConstructionJobs
    spark.sparkContext.addSparkListener(listener)
    val jobs =
      try {
        Tables.names.foreach(t => frames(t) = Tables(spark, sfDir, t))
        spark.sparkContext.parallelize(Seq(1), 1).count() // marker
        listener.beforeMarker()
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.isEmpty, s"table loads launched jobs: ${jobs.map(_._1).mkString(" // ")}")
    Tables.names.filterNot(_ == "events").foreach { t =>
      assert(frames(t).schema == spark.read.parquet(s"$sfDir/$t.parquet").schema, t)
    }
    assert(frames("events").schema("ts").dataType == TimestampType)
    assert(frames("events").count() == spark.read.parquet(s"$sfDir/events.parquet").count())
  }

  test("a table rewritten in place with an extra column is read with its new schema") {
    val dir = Files.createTempDirectory("graft_tablesspec").toString
    val region = Paths.get(dir, "region.parquet")
    Files.copy(Paths.get(sfDir, "region.parquet"), region)
    val before = Tables(spark, dir, "region")
    assert(!before.columns.contains("r_extra"))
    val n = before.count()
    graft.queries.ReplayFixtures.moveInParquet(
      before.withColumn("r_extra", col("r_regionkey").cast("long") * 10), dir, "wide.parquet")
    Files.move(Paths.get(dir, "wide.parquet"), region, StandardCopyOption.REPLACE_EXISTING)
    val after = Tables(spark, dir, "region")
    assert(after.columns.last == "r_extra")
    val rows = after.select("r_regionkey", "r_extra").collect()
    assert(rows.length == n && rows.forall(r => r.getLong(1) == r.getAs[Number](0).longValue * 10))
  }
}
