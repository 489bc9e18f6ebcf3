package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sessions are expensive). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sfDir: String = SparkTestBase.sfDir

  /** Path of one of the reference's 100-line test fixtures, committed under
    * `src/test/resources/reference/` (see FixtureReplaySpec for how each
    * was rebuilt).
    */
  def referenceFixture(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/reference/$name").toURI).toString
}
