package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm rerun reuses its generated classes. qc01 alone compiles about
  * 200 distinct classes at sf0.001, more than Spark's default 100-entry
  * cache holds, and a rerun walks them in the same order, so under the
  * default LRU nearly every class missed and was compiled again (187 of
  * 206 measured). GraftSession sizes the cache to fit them.
  */
class CodegenCacheSpec extends SparkSpec {
  /** Generated classes compiled while running qc01 once, every column of
    * its result consumed.
    */
  private def compiledByOneRun(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries("qc01_curation")(spark, sf).collect()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session's codegen cache is the builder's size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a warm rerun of qc01 compiles at most 10% of the first run's classes") {
    val first = compiledByOneRun()
    val second = compiledByOneRun()
    info(s"generated classes compiled: first run $first, second run $second")
    assert(second * 10 <= first,
      s"second run compiled $second classes, first run $first")
  }
}
