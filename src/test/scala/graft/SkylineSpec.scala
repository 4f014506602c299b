package graft

/** q_skyline: the prefix-max plan must reproduce the quadratic
  * dominance definition — strictness at equal price/size, duplicate
  * frontier points kept, corners always present. */
class SkylineSpec extends SparkSpec {
  import spark.implicits._

  private def frontier(parts: Seq[(Long, Double, Int)]): Set[Long] = {
    val dir = TempDirs.dir("sky").toString
    parts.toDF("p_partkey", "p_retailprice", "p_size")
      .write.parquet(s"$dir/part.parquet")
    SparkEntry.queries("q_skyline")(spark, dir)
      .collect().map(_.getLong(0)).toSet
  }

  test("keeps non-dominated rows only, with strict dominance") {
    // F cheapest, G largest: corners. A mid. B dominates D (same
    // price, bigger) and E (cheaper and bigger-or-equal is false —
    // E is dominated by A: 5<7, 3>=2).
    val got = frontier(Seq(
      (1L, 5.0, 3), // A frontier
      (2L, 6.0, 5), // B frontier
      (3L, 6.0, 4), // D dominated by B (same price, larger size)
      (4L, 7.0, 2), // E dominated by A (cheaper AND >= size)
      (5L, 4.0, 1), // F frontier (cheapest)
      (6L, 8.0, 6)) // G frontier (largest)
    )
    assert(got === Set(1L, 2L, 5L, 6L))
  }

  test("identical points do not dominate each other — both kept") {
    val got = frontier(Seq((1L, 6.0, 5), (2L, 6.0, 5), (3L, 6.5, 5)))
    // 3 is dominated (more expensive, same size); the twins survive
    assert(got === Set(1L, 2L))
  }

  test("single row is trivially the frontier") {
    assert(frontier(Seq((9L, 1.0, 1))) === Set(9L))
  }

  test("NULL dimensions are excluded by contract, not silently via join") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((1L, Some(5.0), Some(3)), (2L, None, Some(9)),
      (3L, Some(1.0), None)).toDF("id", "price", "size")
    val got = graft.operators.Frontier.skyline2d(df, "price", "size")
      .select(col("id")).as[Long].collect().toSet
    // only the fully-defined row participates (and wins)
    assert(got === Set(1L))
  }
}
