package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache holds the program's plan vocabulary:
  * a query that runs again in the same JVM reuses its compiled classes
  * instead of recompiling them with Janino. At Spark's default cap of
  * 100 entries `d_cluster_incremental` alone (about 150 classes) evicted
  * its own classes, and its second run recompiled more than 100.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Classes Janino compiled while `body` ran: one histogram update per
    * cache miss, in this JVM. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session carries the codegen cache cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Tables.sessionConfigs("spark.sql.codegen.cache.maxEntries"))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt >= 2000)
  }

  test("a second d_cluster_incremental run reuses its compiled classes") {
    def run(): Unit =
      SparkEntry.queries("d_cluster_incremental")(spark, "/root/testdata/sf0.001")
        .collect()
    val first = compiles(run())
    val second = compiles(run())
    assert(second <= 20, s"first run compiled $first classes, second $second")
  }
}
