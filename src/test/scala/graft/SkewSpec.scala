package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Salted join produces exactly the plain join's result set. */
class SkewSpec extends SparkSpec {

  test("saltedJoin == plain join (inner), hot key spread over salts") {
    import spark.implicits._
    // hot key 1 on the left
    val l = ((1 to 500).map(i => (1L, i)) ++ Seq((2L, 0), (3L, 1)))
      .toDF("k", "ln")
    val r = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "v")
    val salted = Skew.saltedJoin(l, r, "k", "ln", 8)
      .groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val plain = l.join(r, Seq("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(salted === plain)
    assert(salted === Map(1L -> 500L, 2L -> 1L))
  }

  test("saltedJoin left_outer keeps unmatched left rows once") {
    import spark.implicits._
    val l = Seq((1L, 10), (9L, 20)).toDF("k", "ln")
    val r = Seq((1L, "a")).toDF("k", "v")
    val rows = Skew.saltedJoin(l, r, "k", "ln", 4, "left_outer")
      .collect().map(x => (x.getLong(0), Option(x.getString(2)).orNull))
    assert(rows.toSet === Set((1L, "a"), (9L, null)))
  }

  test("adaptiveSaltedJoin == plain join; cold tail and null keys intact") {
    import spark.implicits._
    // key 1 is hot (400 rows), 2..40 are the cold tail, one null key
    val l = ((1 to 400).map(i => (Some(1L), i)) ++
      (2 to 40).map(k => (Some(k.toLong), k)) ++ Seq((Option.empty[Long], 0)))
      .toDF("k", "ln")
    val r = ((1 to 40).map(k => (k.toLong, s"v$k")) :+ (99L, "v99")).toDF("k", "v")
    for (jt <- Seq("inner", "left_outer")) {
      val adaptive = Skew.adaptiveSaltedJoin(l, r, "k", "ln", salts = 8,
          hotMinCount = 100, joinType = jt)
        .collect().map(_.toString).sorted.toSeq
      val plain = l.join(r, Seq("k"), jt)
        .collect().map(_.toString).sorted.toSeq
      assert(adaptive === plain, jt)
    }
  }
}
