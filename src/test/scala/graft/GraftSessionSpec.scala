package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session factory's settings, checked by what they change. */
class GraftSessionSpec extends SparkSpec {

  test("a query run in a second fresh newSession() compiles no new classes") {
    def compilesInFreshSession(): Long = {
      val s = spark.newSession()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Registry.byName("q01_pricing_summary").fn(s, sfDir).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compilesInFreshSession()
    val again = compilesInFreshSession()
    assert(again == 0, s"the second fresh session compiled $again classes")
  }
}
