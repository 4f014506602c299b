package graft

import org.apache.spark.sql.functions._

import graft.operators.Diff

/** Table-maintenance operators: observed quality gates, snapshot diff,
  * upsert, time travel and schema evolution. */
class MaintenanceSpec extends SparkSpec {

  test("observed quality gates: metrics accumulate during the action, no extra pass") {
    import spark.implicits._
    val df = Seq((1L, 5.0), (2L, -1.0), (3L, 120.0), (4L, 7.0))
      .toDF("id", "v")
    val gated = graft.operators.Profile.observed(df, "gate", Seq(
      "n_negative" -> (col("v") < 0),
      "n_outlier" -> (col("v") > 100)))
    gated.collect() // one action; metrics ride along
    val m = gated.queryExecution.observedMetrics("gate")
    assert(m.getAs[Long]("n_rows") === 4L)
    assert(m.getAs[Long]("n_negative") === 1L)
    assert(m.getAs[Long]("n_outlier") === 1L)
  }

  test("snapshotDiff: added/removed/changed classified; null values compare safely") {
    import spark.implicits._
    val old = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "s", "v")
    val neu = Seq((1L, Some("a"), 10.0),              // unchanged → dropped
      (2L, Some("B"), 20.0),                          // changed value
      (3L, None: Option[String], 30.0),               // null == null → unchanged
      (5L, Some("e"), 50.0))                          // added
    .toDF("k", "s", "v")
    val got = Diff.snapshotDiff(old, neu, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed", 4L -> "removed", 5L -> "added"))
  }

  test("mergeUpsert: update wins incl. explicit NULL, no-op reports unchanged") {
    import spark.implicits._
    val base = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, Some("c"), 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "s", "v")
    val upd = Seq((2L, Some("B"), 20.0),              // real update
      (3L, None: Option[String], 30.0),               // update sets NULL
      (4L, Some("d"), 40.0),                          // no-op resubmission
      (9L, Some("z"), 90.0))                          // insert
      .toDF("k", "s", "v")
    val got = Diff.mergeUpsert(base, upd, Seq("k"), Seq("s", "v"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getDouble(2)), r.getString(3)))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 9L))
    assert(got(1L) === ((Some("a"), 10.0), "unchanged")) // untouched base
    assert(got(2L) === ((Some("B"), 20.0), "updated"))
    // the deliberate NULL must WIN over the base value, not coalesce
    assert(got(3L) === ((None, 30.0), "updated"))
    assert(got(4L) === ((Some("d"), 40.0), "unchanged"))
    assert(got(9L) === ((Some("z"), 90.0), "inserted"))
  }

  test("q_time_travel: seq-3 change invisible, same-seq delete beats update") {
    val got = graft.SparkEntry.queries("q_time_travel")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2))).toMap
    val base = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_orderkey") < 20000)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2))).toMap
    base.foreach { case (k, (st, pr)) =>
      if (k % 19 == 0) assert(!got.contains(k), s"key $k not deleted")
      else {
        val (gs, gp) = got(k)
        if (k % 7 == 0) assert(gs === "X", s"key $k status")
        else assert(gs === st, s"key $k status unchanged")
        if (k % 7 == 0) assert(gp === pr)            // seq-2 full image
        else if (k % 11 == 0) assert(gp === pr + 100.0)
        else assert(gp === pr)
        // %5 seq-3 zeroing must NOT be visible anywhere
        assert(gp != 0.0 || pr == 0.0, s"key $k leaked seq 3")
      }
    }
    assert(got.keySet === base.keySet.filterNot(_ % 19 == 0))
  }

  test("schema evolution: mergeSchema unions columns, old rows null-fill") {
    // the drift case a long-lived table hits: a writer starts emitting
    // a new column; existing files must stay readable with the new
    // column null — no rewrite, no failure
    import spark.implicits._
    val dir = TempDirs.dir("evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30.5)).toDF("id", "s", "score")
      .write.mode("append").parquet(dir)
    val all = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(all.columns.sorted.toSeq === Seq("id", "s", "score"))
    val rows = all.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("score")))
      .toMap
    assert(rows === Map(1L -> None, 2L -> None, 3L -> Some(30.5)))
    // and WITHOUT mergeSchema the read still succeeds on one footer's
    // schema — evolution never poisons existing readers
    assert(spark.read.parquet(dir).count() === 3)
  }
}
