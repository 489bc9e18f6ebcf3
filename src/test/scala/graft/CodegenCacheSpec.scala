package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The codegen cache holds the engine's working set
  * ([[HarnessSession.CodegenCacheMaxEntries]]): a workload that cycles
  * through more generated classes than Spark's default 100 entries
  * compiles each class once, not once per cycle.
  */
class CodegenCacheSpec extends SparkTestBase {

  test("a cycle of 150 distinct generated classes compiles nothing the second time round") {
    // the int literal is inlined into the generated source, so each frame
    // is its own whole-stage class
    def cycle(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach(i => spark.range(10).selectExpr(s"id * $i + 1").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = cycle()
    assert(first > 100, s"the cycle must outgrow Spark's default cache, compiled $first")
    val second = cycle()
    assert(second == 0, s"the second cycle recompiled $second classes")
  }
}
