package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** Gap fill: spine completeness, zero-fill vs forward-fill semantics,
  * and per-key independence. */
class TimeSeriesSpec extends SparkSpec {

  private def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  test("gapFill: missing bins materialize; counts zero, levels carry forward") {
    import spark.implicits._
    // key A observed at hours 0, 3; key B at hour 1 only; range 0..3
    val binned = Seq(
      ("A", ts(0), 2L, 10.0), ("A", ts(3), 1L, 30.0),
      ("B", ts(1), 5L, 99.0))
      .toDF("k", "hour", "n", "level")
    val got = TimeSeries.gapFill(binned, Seq("k"), "hour", "1 hour",
        zeroFill = Seq("n"), forwardFill = Seq("level"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getHours,
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2))
    assert(got.length === 8) // 2 keys x 4 hourly bins
    val a = got.filter(_._1 == "A").map(t => (t._2, t._3, t._4))
    assert(a === Seq((0, 2L, Some(10.0)), (1, 0L, Some(10.0)),
      (2, 0L, Some(10.0)), (3, 1L, Some(30.0))))
    val b = got.filter(_._1 == "B").map(t => (t._2, t._3, t._4))
    // B has no observation before hour 1: level stays null, count zero
    assert(b === Seq((0, 0L, None), (1, 5L, Some(99.0)),
      (2, 0L, Some(99.0)), (3, 0L, Some(99.0))))
  }

  test("e_ema: hand-computed fixed-point fold in event-time order") {
    val dir = TempDirs.dir("ema").toString
    import spark.implicits._
    // events fixture stores ts as INT64 nanos (driver layout); values
    // 1,2,3 arrive in ts order but are written shuffled to prove the
    // in-array sort, with a 4th row for a second user
    val h = 3600L * 1000000000L
    Seq((3L, 3 * h, 1L, "c", 3.0, "{}"), (1L, 1 * h, 1L, "c", 1.0, "{}"),
      (2L, 2 * h, 1L, "c", 2.0, "{}"), (4L, 1 * h, 2L, "c", 5.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("e_ema")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // user 1: acc=1000000 -> (3*2e6+7*1e6) div 10 = 1300000
    //                     -> (3*3e6+7*1.3e6) div 10 = 1810000
    assert(out(1L) === ((3L, 1810000L, 1.81)))
    // single event: EMA is the value itself
    assert(out(2L) === ((1L, 5500000L, 5.5)))
  }

  test("e_scd2_intervals: run compression, chained validity, open current row") {
    val dir = TempDirs.dir("scd2").toString
    import spark.implicits._
    val h = 3600L * 1000000000L
    // user 1: a,a,b,a — the repeated 'a' compresses away; user 2: one row
    Seq((1L, 1 * h, 1L, "a", 0.0, "{}"), (2L, 2 * h, 1L, "a", 0.0, "{}"),
      (3L, 3 * h, 1L, "b", 0.0, "{}"), (4L, 4 * h, 1L, "a", 0.0, "{}"),
      (5L, 1 * h, 2L, "z", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("e_scd2_intervals")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime, Option(r.getTimestamp(3)).map(_.getTime),
        r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    val hms = 3600L * 1000L
    assert(rows === Seq(
      (1L, "a", 1 * hms, Some(3 * hms), false),
      (1L, "b", 3 * hms, Some(4 * hms), false),
      (1L, "a", 4 * hms, None, true),
      (2L, "z", 1 * hms, None, true)))
  }

  test("e_hopping_window: each event lands in exactly 4 sliding windows") {
    val dir = TempDirs.dir("hop").toString
    import spark.implicits._
    val h = 3600L * 1000000000L
    // one event at 01:10 — covered by the 1-hour windows that start at
    // 00:15, 00:30, 00:45 and 01:00 (15-min hop), and no others
    Seq((1L, 1 * h + 600L * 1000000000L, 1L, "c", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("e_hopping_window")(spark, dir)
      .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows.map(_._1) === Seq(15L, 30L, 45L, 60L))
    assert(rows.forall(t => t._2 == 1L && t._3 == 2.0))
  }

  test("linearTrend: single-bin key fits NULL (not NaN); two-bin key exact") {
    import spark.implicits._
    val binned = Seq(("a", 10L, 4L), ("b", 10L, 2L), ("b", 11L, 6L))
      .toDF("k", "x", "y")
    val got = graft.operators.TimeSeries.linearTrend(binned,
        keys = Seq("k"), xCol = "x", yCol = "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Double]("slope")),
          Option(r.getAs[java.lang.Double]("intercept")))).toMap
    assert(got("a") === ((1L, None, None)))
    // b: points (0,2),(1,6) → slope 4, intercept 2
    assert(got("b") === ((2L, Some(4.0), Some(2.0))))
  }

  test("trailingZ: each bin scored against its lookback predecessors, spike flagged") {
    import spark.implicits._
    // hours 0..7 count 2 + (i % 3); hour 8 spikes to 9
    val counts = (0 to 7).map(i => 2L + i % 3) :+ 9L
    val hourly = counts.zipWithIndex.map { case (n, h) => (ts(h), n) }
      .toDF("hour", "n")
    val got = TimeSeries.trailingZ(hourly, keys = Seq.empty,
        binCol = "hour", nCol = "n", lookback = 6)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1.getTime).toSeq
    // only hours 6..8 have six predecessors
    assert(got.map(_._1) === Seq(ts(6), ts(7), ts(8)))
    got.zip(6 to 8).foreach { case ((_, n, z, anomaly), h) =>
      val preds = counts.slice(h - 6, h)
      val s = preds.sum
      val ss = preds.map(p => p * p).sum
      val mean = s.toDouble / 6
      val variance = (ss.toDouble - s.toDouble * s / 6) / 5
      val want = (n.toDouble - mean) / math.sqrt(variance)
      assert(java.lang.Double.doubleToLongBits(z) ===
        java.lang.Double.doubleToLongBits(want), s"hour $h")
      assert(anomaly === (math.abs(want) > 3.0), s"hour $h")
    }
    assert(got.last._4, "the spike hour is flagged")
  }
}
