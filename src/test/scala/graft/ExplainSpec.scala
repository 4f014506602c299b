package graft

import org.scalatest.funsuite.AnyFunSuite

/** Explain's name list is checked before any session starts. */
class ExplainSpec extends AnyFunSuite {

  test("names are trimmed, blanks dropped; unknown or no names fail") {
    assert(Explain.targets(Some(" q3_shipping_priority, ,a_pipeline_move ")) ===
      Seq("q3_shipping_priority", "a_pipeline_move"))
    assert(Explain.targets(None) === SparkEntry.queries.keySet.toSeq.sorted)
    val unknown = intercept[IllegalArgumentException](
      Explain.targets(Some("q3_shipping_priority,nope")))
    assert(unknown.getMessage.contains("unknown query: nope"))
    intercept[IllegalArgumentException](Explain.targets(Some(" , ")))
  }
}
