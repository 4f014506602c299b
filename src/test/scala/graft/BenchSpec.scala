package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench's query-name argument is checked before any session starts. */
class BenchSpec extends AnyFunSuite {

  test("an unknown query name fails before any session starts") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](
      Bench.main(Array("no_such_query")))
    assert(e.getMessage.contains("unknown query: no_such_query"))
    assert(SparkSession.getDefaultSession === before)
  }
}
