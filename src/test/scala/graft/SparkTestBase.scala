package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
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
      // static, read once per JVM: the harness's value, whichever session
      // of the forked test JVM starts first
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, HarnessSession.CodegenCacheMaxEntries.toLong)
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

  /** Records (result-stage name, SQL execution id) of every job it sees
    * start; the result stage's name is the call site of the job's action.
    */
  final class ConstructionJobs extends org.apache.spark.scheduler.SparkListener {
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      seen.add((if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name,
        Option(js.properties).map(_.getProperty("spark.sql.execution.id")).orNull))
    /** The jobs recorded before the marker `count at` job. */
    def beforeMarker(): Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      def jobs = seen.asScala.toSeq
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.exists(_._1.contains("count at")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      jobs.takeWhile(!_._1.contains("count at"))
    }
  }
}
