package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sessions are expensive),
  * built like the benched one.
  */
object SparkTestBase {
  lazy val spark: SparkSession = HarnessSession.build("4", "4")
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sfDir: String = SparkTestBase.sfDir

  /** A child session without [[graft.plans.TopKRewriteRule]], for
    * reference frames that must run the plain row_number window idiom.
    */
  def idiomSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", graft.plans.TopKRewriteRule.ruleName)
    s
  }

  /** Fails unless `df` plans the window idiom: a Window, no TopKPerKey. */
  def assertWindowIdiom(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("TopKPerKey"),
      s"the reference must run the plain window idiom:\n$plan")
  }

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
