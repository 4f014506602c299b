package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array_distinct, broadcast, col, concat_ws, count, date_trunc, expr, first, lit, max, posexplode, struct, when}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("streaming pipeline B: continuous selective move with durable report") {
    val root = TempDirs.dir("graft-bstream")
    val raw = root.resolve("raw"); Files.createDirectories(raw)
    Files.writeString(raw.resolve("keep.json"), """{"SalesCompanyId":"12"}""")
    Files.writeString(raw.resolve("skip.json"), """{"SalesCompanyId":"99"}""")
    val q = Pipelines.pipelineBStream(spark, s"file:$root", "raw/", "archive/",
        checkpointDir = s"file:$root/chk", reportDir = s"file:$root/report",
        companyId = Some("12"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    // keeper moved, skipper left in place
    assert(!Files.exists(raw.resolve("keep.json")))
    assert(Files.exists(root.resolve("archive/keep.json")))
    assert(Files.exists(raw.resolve("skip.json")))
    // durable per-file report
    val rep = spark.read.parquet(s"file:$root/report").collect()
      .map(r => (r.getAs[String]("src").split("/").last,
        r.getAs[String]("status"))).toMap
    assert(rep === Map("keep.json" -> "success"))
    // late-arriving file: a second drain picks it up exactly once
    Files.writeString(raw.resolve("late.json"), """{"SalesCompanyId":"12"}""")
    val q2 = Pipelines.pipelineBStream(spark, s"file:$root", "raw/", "archive/",
        checkpointDir = s"file:$root/chk", reportDir = s"file:$root/report",
        companyId = Some("12"))
      .trigger(Trigger.AvailableNow()).start()
    try q2.awaitTermination(120000) finally q2.stop()
    assert(Files.exists(root.resolve("archive/late.json")))
    val rep2 = spark.read.parquet(s"file:$root/report").collect()
    assert(rep2.length === 2) // keep.json not re-moved on restart
  }

  test("streaming pipeline B: date window on the stream, bounds inclusive") {
    val root = TempDirs.dir("graft-bstream-win")
    val (after, before) = PipelinesSpec.writeWindowLake(root.resolve("raw"))
    val q = Pipelines.pipelineBStream(spark, s"file:$root", "raw/", "archive/",
        checkpointDir = s"file:$root/chk", reportDir = s"file:$root/report",
        after = Some(after), before = Some(before))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rep = spark.read.parquet(s"file:$root/report").collect()
      .map(r => r.getAs[String]("src").split("/").last -> r.getAs[String]("status"))
    assert(rep.sorted.toSeq === Seq("at_after.json" -> "success",
      "at_before.json" -> "success", "mid.json" -> "success"))
  }

  test("state store survives restart: dropDuplicates remembers ids across runs") {
    // Exactly-once across process restarts is the property a 100 TB
    // incremental ingest leans on: the dedup state lives in the
    // checkpoint, not the process.
    val root = TempDirs.dir("graft-staterec")
    val in = root.resolve("in"); Files.createDirectories(in)
    val schema = StructType(Seq(StructField("id", LongType)))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).json(s"file:$in")
        .dropDuplicates("id")
        .writeStream.format("parquet")
        .option("path", s"file:$root/out")
        .option("checkpointLocation", s"file:$root/chk")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    Files.writeString(in.resolve("a.json"),
      "{\"id\":1}\n{\"id\":2}\n{\"id\":2}")
    drain()
    val first = spark.read.parquet(s"file:$root/out").collect()
      .map(_.getLong(0)).sorted
    assert(first.toSeq === Seq(1L, 2L))
    // id=2 arrives again AFTER a full stop/start — the restarted query
    // must recall it from the recovered state store and emit only 3
    Files.writeString(in.resolve("b.json"), "{\"id\":2}\n{\"id\":3}")
    drain()
    val second = spark.read.parquet(s"file:$root/out").collect()
      .map(_.getLong(0)).sorted
    assert(second.toSeq === Seq(1L, 2L, 3L))
  }

  test("tumbling window counts over MemoryStream match batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, t: String, typ: String, v: Double) =
      EventStreams.Ev(id, Timestamp.valueOf(t), 1L, typ, v)
    mem.addData(
      ev(1, "2024-01-01 10:05:00", "click", 1.0),
      ev(2, "2024-01-01 10:55:00", "click", 2.0),
      ev(3, "2024-01-01 11:05:00", "click", 4.0),
      ev(4, "2024-01-01 10:10:00", "view", 8.0))
    val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = spark.sql("SELECT * FROM tumbling").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows === Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "click", 1L, 4.0),
      ("2024-01-01 10:00:00.0", "view", 1L, 8.0)))
  }

  test("hopping windows stream == batch e_hopping_window on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, t: String, typ: String, v: Double) =
      EventStreams.Ev(id, Timestamp.valueOf(t), 1L, typ, v)
    val events = Seq(
      ev(1, "2024-01-01 01:10:00", "click", 2.0),
      ev(2, "2024-01-01 01:20:00", "click", 3.0),
      ev(3, "2024-01-01 01:10:00", "view", 5.0))
    mem.addData(events: _*)
    val q = EventStreams.hoppingCounts(mem.toDF(), "1 hour", "15 minutes")
      .writeStream.format("memory").queryName("hopping")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.sql("SELECT * FROM hopping").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    // batch oracle: the e_hopping_window query over the same rows
    val dir = TempDirs.dir("hopeq").toString
    events.map(e => (e.event_id,
        e.ts.getTime * 1000000L, e.user_id, e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("e_hopping_window")(spark, dir)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    // clicks at 01:10/01:20 share 3 of their 4 windows → 5 click rows
    // (00:15 alone, 00:30/00:45/01:00 merged, 01:15 alone) + 4 view rows
    assert(streamed.size === 9)
  }

  test("streaming EMA across batches equals the batch fixed-point fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, t: String, v: Double) =
      EventStreams.Ev(id, Timestamp.valueOf(t), 1L, "c", v)
    // batch 1: values 1,2 (written out of order; in-batch sort fixes) —
    // then batch 2 appends value 3 plus a straggler older than folded
    // state, which must be dropped, not re-folded. One continuous query
    // so state carries across micro-batches (NoTimeout + no watermark:
    // no no-data-batch hang for processAllAvailable).
    val q = EventStreams.emaStream(mem.toDS())
      .writeStream.format("memory").queryName("ema_stream")
      .outputMode("update").start()
    try {
      mem.addData(ev(2, "2024-01-01 11:00:00", 2.0),
        ev(1, "2024-01-01 10:00:00", 1.0))
      q.processAllAvailable()
      val mid = spark.sql("SELECT ema_e6 FROM ema_stream").collect()
        .map(_.getLong(0)).toSeq
      assert(mid === Seq(1300000L)) // (3*2e6 + 7*1e6) div 10
      mem.addData(ev(3, "2024-01-01 12:00:00", 3.0),
        ev(4, "2024-01-01 09:00:00", 99.0))
      q.processAllAvailable()
      // update-mode memory sink appends each batch's emission
      val fin = spark.sql("SELECT n_events, ema_e6 FROM ema_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // final state matches the batch e_ema hand case (1810000 over 3
      // events); straggler id=4 was ignored, not re-folded
      assert(fin === Seq((2L, 1300000L), (3L, 1810000L)))
    } finally q.stop()
  }

  test("streaming OLS trend is bit-equal to batch linearTrend, incl. origin rebase") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, t: String, typ: String) =
      EventStreams.Ev(id, Timestamp.valueOf(t), 1L, typ, 0.0)
    // batch 1: hours 10..13 with rising counts; batch 2 adds more to
    // hour 12 AND an out-of-order hour 08 BELOW the origin → rebase
    val b1 = Seq(
      ev(1, "2024-01-01 10:05:00", "err"),
      ev(2, "2024-01-01 11:05:00", "err"), ev(3, "2024-01-01 11:10:00", "err"),
      ev(4, "2024-01-01 12:05:00", "err"), ev(5, "2024-01-01 12:10:00", "err"),
      ev(6, "2024-01-01 13:05:00", "err"), ev(7, "2024-01-01 13:30:00", "err"),
      ev(8, "2024-01-01 13:40:00", "err"))
    val b2 = Seq(
      ev(9, "2024-01-01 12:20:00", "err"),
      ev(10, "2024-01-01 08:30:00", "err")) // below origin → rebase path
    mem.addData(b1: _*)
    val q = EventStreams.trendStream(mem.toDS())
      .writeStream.format("memory").queryName("trend_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // update-mode memory sink: the latest emission has the most hours
    val streamed = spark.sql(
        "SELECT n, slope, intercept FROM trend_stream ORDER BY n DESC")
      .collect().head
    val hourly = (b1 ++ b2).toDF()
      .groupBy(col("event_type"),
        expr("CAST(ts AS LONG) div 3600").as("hb"))
      .agg(count(lit(1)).as("y"))
    val batch = graft.operators.TimeSeries.linearTrend(hourly,
      keys = Seq("event_type"), xCol = "hb", yCol = "y").collect().head
    assert(streamed.getLong(0) === batch.getLong(1))
    assert(java.lang.Double.doubleToLongBits(streamed.getDouble(1)) ===
      java.lang.Double.doubleToLongBits(batch.getDouble(2)))
    assert(java.lang.Double.doubleToLongBits(streamed.getDouble(2)) ===
      java.lang.Double.doubleToLongBits(batch.getDouble(3)))
    // sanity: counts rise ⇒ positive slope
    assert(batch.getDouble(2) > 0.0)
  }

  test("TrendState sums survive the encoder past Decimal(38,18) range") {
    // sxy/sxx persist as exact decimal STRINGS because the encoder
    // would map BigDecimal to Decimal(38,18) (~20 integer digits) and
    // silently null beyond it. Round-trip state magnitudes far past
    // that bound through the same encoder the state store uses.
    import spark.implicits._
    val big = "1" + "0" * 39          // 1e39
    val st = EventStreams.TrendState(-7L, 5L, 10L, 20L,
      big, "-" + big + ".25", Seq(1L, 2L, 3L))
    val got = Seq(st).toDS().repartition(2).collect().head
    assert(got === st)
    assert(BigDecimal(got.sxy) === BigDecimal(big)) // still exact
  }

  test("streaming attribution: latest-touch cache, lookback, cross-batch state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, user: Long, t: String, typ: String, v: Double = 0.0) =
      EventStreams.Ev(id, Timestamp.valueOf(t), user, typ, v)
    // batch 1: u1 purchase before any touch (none), then view + click →
    //          the later click wins; u2 gets a touch only
    mem.addData(
      ev(1, 1L, "2024-01-10 09:00:00", "purchase", 5.0),
      ev(2, 1L, "2024-01-10 10:00:00", "view"),
      ev(3, 1L, "2024-01-10 10:30:00", "click"),
      ev(4, 2L, "2024-01-01 08:00:00", "view"))
    // batch 2: u1 purchase credits the click from batch 1 (state
    //          carried); u2's purchase is 9 days after its view →
    //          outside the 7-day lookback; u1 same-instant view+purchase
    //          → the view at the purchase's own timestamp counts
    mem.addData(
      ev(5, 1L, "2024-01-10 11:00:00", "purchase", 7.0),
      ev(6, 2L, "2024-01-10 08:00:00", "purchase", 11.0),
      ev(7, 1L, "2024-01-10 12:00:00", "view"),
      ev(8, 1L, "2024-01-10 12:00:00", "purchase", 13.0))
    val q = EventStreams.attributionStream(mem.toDS())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a LATER micro-batch replays out-of-order history: a view
      // timestamped before u2's already-processed 01-10 purchase, and
      // INSIDE the 7-day lookback of the next purchase — if the
      // in-order guard failed to drop it, the attribution below would
      // flip to "view" (within one batch the operator would instead
      // legitimately sort it into place; late ARRIVAL is the case
      // that must degrade). u2's only valid touch (2024-01-01) is
      // outside 7 days of 2024-01-11 → "none".
      mem.addData(
        ev(9, 2L, "2024-01-09 07:00:00", "view"),
        ev(10, 2L, "2024-01-11 08:00:00", "purchase", 17.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT event_id, touch FROM attrib").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "none", 5L -> "click", 6L -> "none",
      8L -> "view", 10L -> "none"))
  }

  test("streaming trailing-z anomaly is bit-equal to batch TimeSeries.trailingZ") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 6-hour lookback; hours 0..7 with varying counts, hour 8 spikes.
    // Counts per hour i: 2 + (i % 3) events; spike hour 8: 9 events.
    def hourEvents(i: Int, n: Int): Seq[EventStreams.Ev] =
      (0 until n).map { k =>
        EventStreams.Ev(i * 100L + k,
          Timestamp.valueOf(f"2024-01-01 $i%02d:0$k:00"), 1L, "error", 0.0)
      }
    val all = (0 to 7).flatMap(i => hourEvents(i, 2 + i % 3)) ++
      hourEvents(8, 9)
    val mem = MemoryStream[EventStreams.Ev]
    // split across two micro-batches so predecessor state must carry
    mem.addData(all.filter(_.ts.getTime < Timestamp.valueOf("2024-01-01 05:00:00").getTime): _*)
    mem.addData(all.filter(_.ts.getTime >= Timestamp.valueOf("2024-01-01 05:00:00").getTime): _*)
    // sentinel far in the future pushes the watermark past hour 8's end
    mem.addData(EventStreams.Ev(9999L,
      Timestamp.valueOf("2024-01-02 12:00:00"), 2L, "click", 0.0))
    val q = EventStreams.anomalyStream(mem.toDS(), lookback = 6,
        zCut = 3.0, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("ts_anom")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.sql(
        "SELECT hour_start, n, z, is_anomaly FROM ts_anom WHERE event_type = 'error'")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val hourly = all.toDF()
      .filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val batch = graft.operators.TimeSeries.trailingZ(hourly,
        keys = Seq.empty, binCol = "hour", nCol = "n", lookback = 6)
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(streamed === batch)
    // the spike hour is flagged
    assert(streamed.exists { case (h, _, _, a) => h.startsWith("2024-01-01 08") && a })
  }

  test("trending: windowed MG state emits exact top-k on watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.Trending.ItemEvent]
    def it(t: String, item: String) =
      graft.streaming.Trending.ItemEvent(Timestamp.valueOf(t), item)
    // window [10:00,10:01): a×5, b×3, c×1; the 10:20 event advances the
    // watermark (delay 10s) far past the window end, closing it
    mem.addData(
      (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).zipWithIndex.map {
        case (x, i) => it(f"2024-01-01 10:00:${i}%02d", x) } :+
      it("2024-01-01 10:20:00", "later"): _*)
    val q = graft.streaming.Trending.windowTopK(mem.toDS(), k = 2,
        windowSeconds = 60, capacity = 16, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("trending")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = spark.sql("SELECT * FROM trending").collect()
      .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    // only the closed window emits; distinct ≤ capacity → counts exact
    assert(rows === Set(
      ("2024-01-01 10:00:00.0", 1, "a", 5L),
      ("2024-01-01 10:00:00.0", 2, "b", 3L)))
  }

  test("trending: dominant item survives capacity pressure (MG guarantee)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.Trending.ItemEvent]
    def it(t: String, item: String) =
      graft.streaming.Trending.ItemEvent(Timestamp.valueOf(t), item)
    // 30×"dom" + 29 singletons in one window, capacity 4: the sketch
    // must keep "dom" (count > n/(cap+1) = 59/5) whatever the tail does
    val evs = (Seq.fill(30)("dom") ++ (1 to 29).map(i => s"tail$i"))
      .zipWithIndex.map { case (x, i) =>
        it(f"2024-01-01 11:00:${i % 60}%02d", x) }
    mem.addData(evs :+ it("2024-01-01 11:30:00", "later"): _*)
    val q = graft.streaming.Trending.windowTopK(mem.toDS(), k = 1,
        windowSeconds = 60, capacity = 4, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("trending_cap")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val top = spark.sql("SELECT item FROM trending_cap WHERE rank = 1")
      .collect().map(_.getString(0))
    assert(top.toSeq === Seq("dom"))
  }

  test("stream-static enrichment: dimension broadcast, unmatched keys kept") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    mem.addData(
      EventStreams.Ev(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 0.0),
      EventStreams.Ev(2, Timestamp.valueOf("2024-01-01 10:01:00"), 9L, "click", 0.0))
    val dim = Seq((7L, "pro")).toDF("user_id", "tier")
    val q = EventStreams.enrich(mem.toDF(), dim, "user_id")
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = spark.sql("SELECT * FROM enriched").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows === Map(1L -> Some("pro"), 2L -> None)) // left join keeps 9
  }

  test("stream-stream interval join: in-window pairs only, keyed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[EventStreams.Ev]
    val clicks = MemoryStream[EventStreams.Ev]
    def ev(id: Long, user: Long, t: String, typ: String) =
      EventStreams.Ev(id, Timestamp.valueOf(t), user, typ, 0.0)
    purchases.addData(ev(100, 7L, "2024-01-01 10:30:00", "purchase"))
    clicks.addData(
      ev(1, 7L, "2024-01-01 10:00:00", "click"),  // in the 1h lookback
      ev(2, 7L, "2024-01-01 09:00:00", "click"),  // too old
      ev(3, 7L, "2024-01-01 11:00:00", "click"),  // after the purchase
      ev(4, 8L, "2024-01-01 10:15:00", "click"))  // other user
    val joined = EventStreams.streamIntervalJoin(
        purchases.toDF(), clicks.toDF(), "user_id", "ts",
        lookbackSeconds = 3600)
      .select(col("l.event_id").as("p_id"), col("r.event_id").as("c_id"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = spark.sql("SELECT * FROM ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((100L, 1L)))
  }

  test("sessionize: idle session closes on EVENT-time watermark, not wall-clock") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, user: Long, t: String) =
      EventStreams.Ev(id, Timestamp.valueOf(t), user, "click", 0.0)
    // user 7 goes idle after 10:10 and NEVER returns; a later event from
    // a different user pushes the watermark to 12:30 (> 10:10 + 30min
    // gap), which must close user 7's session — replayed history, no
    // wall-clock waiting anywhere
    mem.addData(ev(1, 7L, "2024-01-01 10:00:00"), ev(2, 7L, "2024-01-01 10:10:00"))
    mem.addData(ev(3, 8L, "2024-01-01 13:00:00"))
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 1800,
        watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("evt_sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = spark.sql("SELECT * FROM evt_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getInt(3)))
    // user 8's session stays open (watermark 12:30 < 13:00 + gap)
    assert(rows.toSeq === Seq((7L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2)))
  }

  test("streaming near-dup screen: dup flagged against static index, novel passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different reference text about spark engines and joins"))
      .toDF("doc_id", "text")
    val index = graft.streaming.DedupStream.bandIndex(
      corpus, "doc_id", "text", n = 3, bands = 8, rowsPerBand = 1)
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      // near-copy of doc 1 (one word changed at the end)
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      // novel document — must NOT be flagged
      (11L, "unrelated fresh content with no overlap whatsoever here"))
    val flagged = graft.streaming.DedupStream.flagNearDups(
      mem.toDF().toDF("doc_id", "text"), index,
      "doc_id", "text", n = 3, bands = 8, rowsPerBand = 1, threshold = 0.4)
    val q = flagged.writeStream.format("memory").queryName("neardups")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val pairs = spark.sql("SELECT DISTINCT new_id, base_id FROM neardups")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 1L)))
  }

  test("streaming contamination screen: stateless stream-static gate equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    def v(): Seq[Double] = Seq.fill(16)(rnd.nextGaussian())
    val train = (1L to 4L).map(i => (i, v()))
    // eval: exact ×2 twin of train 1 (must flag) and negation of
    // train 2 (complementary bucket — must never flag)
    val evalSet = Seq(
      (100L, train(0)._2.map(_ * 2.0)),
      (200L, train(1)._2.map(_ * -1.0))).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Double])]
    val hits = graft.streaming.DedupStream.contaminationScreen(
      mem.toDF().toDF("vec_id", "embedding"), evalSet,
      threshold = 0.999, bits = 8)
    val q = hits.writeStream.format("memory").queryName("contam")
      .outputMode("append").start()
    try {
      mem.addData(train(0), train(1))
      q.processAllAvailable()
      mem.addData(train(2), train(3))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT eval_id, train_id FROM contam")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch truth: the SAME operator over the same rows
    val batch = graft.operators.Similarity.crossSetContamination(
        evalSet, train.toDF("vec_id", "embedding"),
        threshold = 0.999, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed === Set((100L, 1L)))
  }

  test("streaming image screen: 2x upscaled arrival flags against static dHash index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = graft.operators.Multimodal.dHash(
        Seq((1L, graft.operators.Multimodal.renderPng(42L, 20, 16)),
          (2L, graft.operators.Multimodal.renderPng(43L, 20, 16)))
          .toDF("id", "content")).toDF()
      .filter(col("dhash").isNotNull)
      .select(col("id").as("base_id"), col("dhash"))
      .localCheckpoint(true)
    val mem = MemoryStream[(Long, Array[Byte])]
    val hits = graft.streaming.DedupStream.imageScreen(
      mem.toDF().toDF("id", "content"), index)
    val q = hits.writeStream.format("memory").queryName("imgscreen")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, graft.operators.Multimodal.renderPngScaled(42L, 20, 16, 2)),
        (11L, graft.operators.Multimodal.renderPng(99L, 20, 16)),
        (12L, Array[Byte](9, 9, 9))) // undecodable: silently dropped
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT new_id, base_id FROM imgscreen")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 1L))) // the scaled twin, nothing else
  }

  test("self-building near-dup screen: state grows across batches, matches batch LSH") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d1 = (1L, "the quick brown fox jumps over the lazy dog today ok")
    val d2 = (2L, "completely different reference text about spark engines and joins")
    val d3 = (3L, "the quick brown fox jumps over the lazy dog today maybe")
    val d4 = (4L, "one more unrelated document with fresh novel words only")
    val mem = MemoryStream[(Long, String)]
    val hits = graft.streaming.DedupStream.nearDupSelfStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 1, minEst = 0.4)
    val q = hits.writeStream.format("memory").queryName("selfdups")
      .outputMode("append").start()
    try {
      mem.addData(d1, d2)          // batch 1: no near-dups yet
      q.processAllAvailable()
      val afterB1 = spark.sql("SELECT count(*) FROM selfdups").collect()
        .head.getLong(0)
      assert(afterB1 === 0L)
      mem.addData(d3, d4)          // batch 2: d3 ~ d1 ACROSS the batches
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
        "SELECT DISTINCT a_id, b_id, est FROM selfdups")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch truth with the SAME estimator: band self-join + agreement
    val docs = Seq(d1, d2, d3, d4).toDF("doc_id", "text")
    val banded = docs.select(col("doc_id"),
        graft.operators.Dedup.minhashSignature(array_distinct(
          graft.functions.Text.shingles(
            graft.functions.Text.tokens(col("text")), 3)), 8).as("sig"))
      .select(col("doc_id"), concat_ws("", col("sig")).as("sigcat"),
        posexplode(graft.operators.Dedup.lshBandKeys(col("sig"), 8, 1))
          .as(Seq("band", "bkey")))
    val expected = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        col("a.sigcat"), col("b.sigcat"))
      .distinct()
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          graft.streaming.DedupStream.sigAgreement(
            r.getString(2), r.getString(3), 8))
      }.filter(_._3 >= 0.4).toSet
    assert(streamed === expected)
    assert(streamed.map(p => (p._1, p._2)).contains((1L, 3L)))
    assert(!streamed.exists(p => p._1 == 2L || p._2 == 2L ||
      p._1 == 4L || p._2 == 4L))
  }

  test("self-building near-dup screen: FIFO bucket cap evicts oldest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog today ok"
    val mem = MemoryStream[(Long, String)]
    val hits = graft.streaming.DedupStream.nearDupSelfStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 2, minEst = 0.9, maxPerBucket = 1)
    val q = hits.writeStream.format("memory").queryName("evicted")
      .outputMode("append").start()
    try {
      mem.addData((1L, text)); q.processAllAvailable()
      mem.addData((2L, text)); q.processAllAvailable() // pairs with 1, evicts it
      mem.addData((3L, text)); q.processAllAvailable() // pairs with 2 ONLY
    } finally q.stop()
    val pairs = spark.sql("SELECT DISTINCT a_id, b_id FROM evicted")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L))) // (1,3) gone: 1 was evicted
  }

  test("self-building near-dup screen: doc_id replay is idempotent on state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog today ok"
    val mem = MemoryStream[(Long, String)]
    val hits = graft.streaming.DedupStream.nearDupSelfStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 2, minEst = 0.9)
    val q = hits.writeStream.format("memory").queryName("replayed")
      .outputMode("append").start()
    try {
      mem.addData((1L, text)); q.processAllAvailable()
      mem.addData((1L, text)); q.processAllAvailable() // replay: no slot
      mem.addData((2L, text)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT a_id, b_id FROM replayed")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a duplicated state slot for doc 1 would double every (1,2) band
    // hit; the self-compare guard already suppressed (1,1), so the
    // only output is (1,2) exactly once per matching band
    assert(rows.toSet === Set((1L, 2L)))
    assert(rows.length === 4, s"expected one hit per band, got $rows")
  }

  test("sessionize: gap splits sessions, counts preserved") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    def ev(id: Long, t: String) =
      EventStreams.Ev(id, Timestamp.valueOf(t), 7L, "click", 0.0)
    // session 1: two events 10 min apart; then one event far beyond the gap
    // — its arrival closes session 1 within the same batch
    mem.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00"),
      ev(3, "2024-01-01 11:30:00"))
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = spark.sql("SELECT * FROM sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getInt(3)))
    assert(rows.toSeq === Seq((7L, "2024-01-01 10:00:00.0", 2)))
  }

  test("streaming quality classifier is bit-equal to batch on real docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val weights = graft.queries.CurationQueries.ClfWeights
    val mem = MemoryStream[(Long, String)]
    val scored = graft.streaming.CurationStream.scored(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", weights)
    val q = scored.writeStream.format("memory").queryName("clf")
      .outputMode("append").start()
    // two micro-batches through ONE query: scoring is stateless, so
    // batch boundaries must be invisible in the output
    try {
      mem.addData(docs.take(30).toSeq)
      q.processAllAvailable()
      mem.addData(docs.drop(30).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT * FROM clf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    val want = graft.streaming.CurationStream.scored(
      docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", weights)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got.length === 60)
    assert(got.toSeq === want.toSeq)
  }

  test("streaming TRAINED-classifier screen bit-equal to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"source").localCheckpoint(false)
    // a real trained artifact (one epoch is enough for the wiring law)
    val feats = graft.operators.Logistic
      .hashedFeatures(corpus, $"source" === "src18").localCheckpoint(false)
    val w = graft.operators.Logistic
      .train(spark, feats, corpus.count(), epochs = 1, lr = 0.5).last
    val rows = corpus.select("doc_id", "text").limit(50).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.CurationStream.classifierScreen(
        mem.toDF().toDF("doc_id", "text"),
        graft.operators.Logistic.Trained(w))
      .writeStream.format("memory").queryName("tclf")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(25)); q.processAllAvailable()
      mem.addData(rows.drop(25)); q.processAllAvailable()
    } finally q.stop()
    def canon(rs: Seq[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        BigDecimal(r.getAs[java.math.BigDecimal]("z")),
        r.getAs[Boolean]("kept"))).sortBy(_._1)
    val got = canon(spark.sql("SELECT * FROM tclf").collect().toSeq)
    val want = canon(graft.streaming.CurationStream.classifierScreen(
      rows.toDF("doc_id", "text"),
      graft.operators.Logistic.Trained(w)).collect().toSeq)
    assert(got.length === 50 && got === want)
    // kept IS the decimal sign
    assert(got.forall(r => r._4 === (r._3 > 0)))
    // ...and with a STORED operating point the same screen gates
    // kept = z >= threshold (boundary inclusive), batch == stream by
    // the same stateless construction
    val t0 = got.map(_._3).max // an achieved z (sign irrelevant)
    val thr = graft.operators.Logistic.Trained(w,
      threshold = Some(t0))
    val gotT = canon(graft.streaming.CurationStream.classifierScreen(
      rows.toDF("doc_id", "text"), thr).collect().toSeq)
    assert(gotT.forall(r => r._4 === (r._3 >= t0)))
    assert(gotT.exists(r => r._3 == t0 && r._4)) // inclusive boundary
  }

  test("streaming PII screen + mojibake repair bit-equal batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val moji = new String(
      "café naïve".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1) + (r.getLong(0) % 3 match {
        case 0 => " mail x" + r.getLong(0) + "@a.io card 4532015112830366"
        case 1 => " " + moji
        case _ => ""
      })))
    val mem = MemoryStream[(Long, String)]
    val pii = graft.streaming.CurationStream.piiScreen(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = pii.writeStream.format("memory").queryName("piis")
      .outputMode("append").start()
    val mem2 = MemoryStream[(Long, String)]
    val fix = graft.streaming.CurationStream.mojibakeRepair(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q2 = fix.writeStream.format("memory").queryName("mojis")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(20).toSeq); mem2.addData(docs.take(20).toSeq)
      q.processAllAvailable(); q2.processAllAvailable()
      mem.addData(docs.drop(20).toSeq); mem2.addData(docs.drop(20).toSeq)
      q.processAllAvailable(); q2.processAllAvailable()
    } finally { q.stop(); q2.stop() }
    def rows5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getBoolean(5))).sortBy(_._1).toSeq
    val gotPii = rows5(spark.sql("SELECT * FROM piis"))
    val wantPii = rows5(graft.streaming.CurationStream.piiScreen(
      docs.toSeq.toDF("doc_id", "text"), "doc_id", "text"))
    assert(gotPii.length === 40 && gotPii === wantPii)
    assert(gotPii.count(_._6) === docs.count(_._1 % 3 == 0)) // has_pii
    def rows3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val gotFix = rows3(spark.sql("SELECT * FROM mojis"))
    val wantFix = rows3(graft.streaming.CurationStream.mojibakeRepair(
      docs.toSeq.toDF("doc_id", "text"), "doc_id", "text"))
    assert(gotFix === wantFix)
    assert(gotFix.count(_._3) === docs.count(_._1 % 3 == 1)) // repaired
    gotFix.filter(_._3).foreach(r => assert(r._2.endsWith(" café naïve")))
  }

  test("streaming HTML screen bit-equal batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // wrap fixture text in markup with decoy links and entities — the
    // same hazards the batch oracle exercises
    val originals = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val docs = originals.toSeq.map { case (id, text) =>
      (id, s"<html><body><!-- <a href='/no'>x</a> --><p>" +
        text.replace(" ", "&#32;") + s"</p><a href='/d/$id'>go</a>" +
        "<script>var a='<a href=\"/s\">';</script></body></html>")
    }.sortBy(_._1).toArray
    val mem = MemoryStream[(Long, String)]
    val scr = graft.streaming.CurationStream.htmlScreen(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = scr.writeStream.format("memory").queryName("htmls")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(15).toSeq)
      q.processAllAvailable()
      mem.addData(docs.drop(15).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toSeq
    val got = rows(spark.sql("SELECT * FROM htmls"))
    val want = rows(graft.streaming.CurationStream.htmlScreen(
      docs.toSeq.toDF("doc_id", "text"), "doc_id", "text"))
    assert(got.length === 30 && got === want)
    // extraction recovered the original text; only the live link counts
    got.foreach { case (id, clean, nLinks) =>
      assert(clean === originals(id) + " go", s"doc $id")
      assert(nLinks === 1, s"doc $id saw decoy links")
    }
  }

  test("streaming sanitize + script screens bit-equal batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 30L).map { id =>
      val tail = (id % 3) match {
        case 0 => " \u201Cq\u201D\u200Bt"
        case 1 => " \u043F\u0440\u0438\u0432\u0435\u0442"
        case _ => " \u6F22\u5B57"
      }
      (id, s"plain words $id$tail")
    }
    val mem = MemoryStream[(Long, String)]
    val san = graft.streaming.CurationStream.sanitizeScreen(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = san.writeStream.format("memory").queryName("sans")
      .outputMode("append").start()
    val mem2 = MemoryStream[(Long, String)]
    val scr = graft.streaming.CurationStream.scriptScreen(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q2 = scr.writeStream.format("memory").queryName("scripts")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(15)); mem2.addData(docs.take(15))
      q.processAllAvailable(); q2.processAllAvailable()
      mem.addData(docs.drop(15)); mem2.addData(docs.drop(15))
      q.processAllAvailable(); q2.processAllAvailable()
    } finally { q.stop(); q2.stop() }
    def rows3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val gotSan = rows3(spark.sql("SELECT * FROM sans"))
    assert(gotSan === rows3(graft.streaming.CurationStream.sanitizeScreen(
      docs.toDF("doc_id", "text"), "doc_id", "text")))
    // only the typography stratum changes; its quotes straighten
    assert(gotSan.count(_._3) === docs.count(_._1 % 3 == 0))
    gotSan.filter(_._3).foreach(r => assert(r._2.endsWith(" \"q\"t")))
    def rows6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5))).sortBy(_._1).toSeq
    val gotScr = rows6(spark.sql("SELECT * FROM scripts"))
    assert(gotScr === rows6(graft.streaming.CurationStream.scriptScreen(
      docs.toDF("doc_id", "text"), "doc_id", "text")))
    // every doc is latin-dominant (10+ latin chars vs <= 6 injected)
    assert(gotScr.forall(_._6 == "latin"))
    assert(gotScr.count(_._3 > 0) === docs.count(_._1 % 3 == 1))
    assert(gotScr.count(_._4 > 0) === docs.count(_._1 % 3 == 2))
  }

  test("streaming curation screen bit-equal batch keep/drop decisions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val moji = new String("café".getBytes(
        java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, s"<p>$good one</p>"),
      (1L, s"<p>$good $moji</p>"),
      (2L, s"<p>$good mail x2@a.io</p>"),
      (3L, "<p>tiny</p>"),
      (4L, s"<p>$good <script>var x = 1;</script>two</p>"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.CurationStream.curateScreen(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(3)); q.processAllAvailable()
      mem.addData(docs.drop(3)); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
        r.getBoolean(6))).sortBy(_._1).toSeq
    val got = rows(spark.sql("SELECT * FROM curated"))
    val want = rows(graft.Pipelines.curateDecisions(
      docs.toDF("doc_id", "text")))
    assert(got === want && got.length === 5)
    assert(got.map(r => r._1 -> r._7).toMap ===
      Map(0L -> true, 1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("streaming frontierScreen: stream-static known join bit-equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "<p><a href=\"https://ex.org/d/1?utm_source=x\">a</a>" +
        " <a href=\"HTTPS://EX.ORG:443/d/2#f\">b</a></p>"),
      (2L, "<base href=\"https://h.io/a/\"><a href=\"p/3\">c</a>" +
        "<img src=\"/skip.jpg\"><!-- <a href=\"http://no/\">x</a> -->"))
    val known = Seq("https://ex.org/d/1").toDF("url")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.CurationStream.frontierScreen(
        mem.toDF().toDF("doc_id", "text"), known)
      .writeStream.format("memory").queryName("frontier")
      .outputMode("append").start()
    try { mem.addData(docs); q.processAllAvailable() } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3))).sortBy(t => (t._1, t._2)).toSeq
    val got = rows(spark.sql("SELECT * FROM frontier"))
    val want = rows(graft.streaming.CurationStream.frontierScreen(
      docs.toDF("doc_id", "text"), known))
    assert(got === want)
    // the tracking param and the cased/ported form canonicalize;
    // only the indexed url is known; img/comment decoys never count
    assert(got === Seq(
      (1L, "https://ex.org/d/1", "ex.org", true),
      (1L, "https://ex.org/d/2", "ex.org", false),
      (2L, "https://h.io/a/p/3", "h.io", false)))
  }

  test("streaming section chunker: in-row path fold equals batch window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "pre<h1>T1</h1>a<h2>S1</h2>b<h2>S2</h2>c<h3>D</h3>d"),
      (2L, "<h2>only</h2>x"),
      (3L, "no headings at all"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.CurationStream.sectionScreen(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sec")
      .outputMode("append").start()
    try { mem.addData(docs); q.processAllAvailable() } finally q.stop()
    def canon(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        Option(r.getString(3)), Option(r.getString(4)),
        r.getString(5), r.getString(6))).sortBy(r => (r._1, r._2))
    val got = canon(spark.sql("SELECT * FROM sec").collect().toSeq)
    // batch truth: the window form t_section_chunks uses
    import org.apache.spark.sql.expressions.Window
    val secs = docs.toDF("doc_id", "text").select(col("doc_id"),
        posexplode(graft.expressions.HtmlExprs.htmlSections(col("text"))))
      .select(col("doc_id"), col("pos").as("sec"),
        col("col.level").as("level"), col("col.heading").as("heading"),
        col("col.body").as("body"))
    val w = Window.partitionBy("doc_id").orderBy("sec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def latest(lv: Int) = max(when(col("level") === lv,
      struct(col("sec"), col("heading")))).over(w).getField("heading")
    val want = canon(secs.withColumn("h1", latest(1))
      .withColumn("h2", latest(2))
      .select(col("doc_id"), col("sec"), col("level"), col("h1"),
        col("h2"), col("heading"), col("body")).collect().toSeq)
    assert(got === want)
    // the ancestor path carries across sections within a doc
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._6) === Seq("", "T1", "S1", "S2", "D"))
    assert(d1.last._4 === Some("T1") && d1.last._5 === Some("S2"))
  }

  test("streaming robots gate: broadcast rule table screens urls in-flight") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Robots
    val txt = "User-agent: *\nDisallow: /p/\nAllow: /p/open\n" +
      "Crawl-delay: 2\n"
    val rules = Seq(("ex.org", txt)).toDF("host", "txt")
      .select($"host", Robots.parseRules($"txt").as("rules"),
        Robots.crawlDelay($"txt").as("delay_s"))
      .localCheckpoint(false)
    val urls = Seq("https://ex.org/p/secret", "https://ex.org/p/open1",
      "https://ex.org/d/1", "https://other.org/x")
    val mem = MemoryStream[String]
    val q = graft.streaming.CurationStream.robotsScreen(
        mem.toDF().toDF("url"), rules)
      .writeStream.format("memory").queryName("rg")
      .outputMode("append").start()
    try { mem.addData(urls); q.processAllAvailable() } finally q.stop()
    def canon(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        Option(r.get(3)))).sortBy(_._1)
    val got = canon(spark.sql("SELECT * FROM rg").collect().toSeq)
    // longest-match verdicts + the parsed delay; an unknown host
    // passes with no delay (no robots.txt => allowed)
    val byUrl = got.map(r => r._1 -> ((r._3, r._4))).toMap
    assert(byUrl("https://ex.org/p/secret") === ((false, Some(2L))))
    assert(byUrl("https://ex.org/p/open1") === ((true, Some(2L))))
    assert(byUrl("https://ex.org/d/1") === ((true, Some(2L))))
    assert(byUrl("https://other.org/x") === ((true, None)))
    // and the stream is bit-equal to the batch projection
    val want = canon(graft.streaming.CurationStream.robotsScreen(
      urls.toDF("url"), rules).collect().toSeq)
    assert(got === want)
  }

  test("streaming curateMicroBatch: foreachBatch == batch chain bit-equal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // texts are pairwise shingle-disjoint so ONLY doc 0 re-crawls
    // history (a shared long prefix would near-dup everything)
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "every bird sings while the green tree waves and water runs fast"
    val tC = "some people walk along this quiet road and watch the old town"
    val tD = "a small ship sails across that calm sea while the wind blows"
    val idx = graft.operators.Dedup.buildBandIndex(
      Seq((1000L, tA)).toDF("doc_id", "text"),
      "doc_id", "text", n = 5, bands = 3, rowsPerBand = 2)
    val docs = Seq(
      (0L, "s1", s"<p>$tA</p>"),   // near-dup of history
      (1L, "s1", s"<p>$tB</p>"),
      (2L, "s1", s"<p>$tB</p>"),   // exact clone of 1
      (3L, "s1", s"<p>$tC</p>"),
      (4L, "s1", s"<p>$tD</p>"))
    // the trained-classifier stage rides along (an all-positive map:
    // stage wiring + bit-equality, while the keep decisions stay the
    // dedup/quota story below)
    val clfW = graft.operators.Logistic.bucketSpace()
      .map(_ -> BigDecimal("0.1").setScale(6)).toMap
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("doc_id", "source", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= graft.streaming.CurationStream.curateMicroBatch(
          b, dedup = true, index = Some(idx),
          classifier = Some(graft.operators.Logistic.Trained(clfW)),
          quota = Some(("source", 2)))
          .collect()
        ()
      }.start()
    try { mem.addData(docs); q.processAllAvailable() } finally q.stop()
    def canon(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val want = graft.Pipelines.curateChain(
      docs.toDF("doc_id", "source", "text"), dedup = true,
      dedupIndex = Some(idx),
      classifier = Some(graft.operators.Logistic.Trained(clfW)),
      quota = Some(("source", 2))).collect()
    assert(canon(buf.toSeq) === canon(want.toSeq))
    assert(buf.forall(_.getAs[Boolean]("clf_ok")))
    // and the decisions are the expected ones: 0 near-dup, 2 exact,
    // quota caps the remaining 3 survivors at 2
    val keep = buf.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Boolean]("keep")).toMap
    assert(!keep(0L) && !keep(2L))
    assert(keep.values.count(identity) === 2)
  }

  test("streaming curateAndLedger: per-micro-batch funnel in the ledger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = TempDirs.dir("graft-stream-led").toString
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val wave1 = Seq((1L, s"<p>$good one</p>"), (2L, "<p>tiny</p>"))
    val wave2 = Seq((3L, s"<p>$good three</p>"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.CurationStream.curateAndLedger(
          spark, s"$root/led", b, id).collect()
        ()
      }.start()
    try {
      mem.addData(wave1); q.processAllAvailable()
      mem.addData(wave2); q.processAllAvailable()
    } finally q.stop()
    val led = graft.operators.CurationLedger.read(spark, s"$root/led")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // each micro-batch's ledger rows == its own batch funnel
    def want(rows: Seq[(Long, String)]) =
      Pipelines.curationReport(Pipelines.curateChain(
        rows.toDF("doc_id", "text"))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // run keys zero-pad so trend's lexicographic run order matches
    // batch order past micro-batch 9 (run-10 must not sort < run-2)
    want(wave1).foreach { case (st, n) =>
      assert(led(("run-000000000000", st)) === n, s"wave1 $st") }
    want(wave2).foreach { case (st, n) =>
      assert(led(("run-000000000001", st)) === n, s"wave2 $st") }
    // the trend view reads the streamed trail identically
    val tr = graft.operators.CurationLedger.trend(
        graft.operators.CurationLedger.read(spark, s"$root/led"))
      .filter(org.apache.spark.sql.functions.col("run_id") ===
        "run-000000000001")
      .collect().map(r => r.getString(1) -> r.getAs[Long]("delta")).toMap
    assert(tr("ingested") === -1L) // 2 docs → 1 doc
  }

  test("streaming crawlWaveBatch: micro-batches chain like daily waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = TempDirs.dir("graft-stream-crawl").toString
    graft.operators.CrawlState.writeUrlIndex(
      graft.operators.CrawlState.buildUrlIndex(
        Seq("https://a.org/p1").toDF("url")), s"$root/frontier")
    graft.operators.CrawlState.writeFetchLog(
      graft.operators.CrawlState.buildFetchLog(
        Seq(("https://a.org/p1", "2024-01-01")).toDF("url", "fetched_at")),
      s"$root/log")
    val robots = Seq(("a.org", "User-agent: *\nDisallow: /x/\n"))
      .toDF("host", "txt").localCheckpoint(true)
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("url").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.CurationStream.crawlWaveBatch(
          spark, b, id, robots, s"$root/frontier", s"$root/log",
          java.sql.Timestamp.valueOf(f"2024-02-0${id + 1}%d 09:00:00"),
          ledgerPath = Some(s"$root/ledger")).collect()
        ()
      }.start()
    try {
      // wave 0: one known, one new-allowed, one new-blocked
      mem.addData("https://a.org/p1", "https://a.org/p2",
        "https://a.org/x/1")
      q.processAllAvailable()
      // wave 1: p2 must now screen KNOWN through the artifact
      mem.addData("https://a.org/p2", "https://a.org/p3")
      q.processAllAvailable()
    } finally q.stop()
    val led = graft.operators.CurationLedger.read(spark, s"$root/ledger")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(led(("wave-000000000000", "fetched")) === 1L) // p2
    assert(led(("wave-000000000000", "blocked")) === 1L) // /x/1
    assert(led(("wave-000000000001", "known")) === 1L)   // p2 via wave 0
    assert(led(("wave-000000000001", "fetched")) === 1L) // p3
    // both artifacts advanced across micro-batches
    assert(graft.operators.CrawlState
      .readUrlIndex(spark, s"$root/frontier").urls.count() === 3L)
    assert(graft.operators.CrawlState
      .readFetchLog(spark, s"$root/log").fetches.count() === 3L)
  }

  test("streaming DSIR scoring: plan-literal lambda map bit-equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"source").localCheckpoint(false)
    val lam = graft.operators.Dsir.lamTable(
      corpus, "text", $"source" === "src18")
    val (lamMap, default) = graft.operators.Dsir.lamLiteral(lam)
    // nearly all 256 md5-prefix buckets occupied at even this tiny SF
    // (the 10 empty ones are what the default-λ fallback is for)
    assert(lamMap.size >= 200 && lamMap.size <= 256, s"${lamMap.size}")
    // batch truth over the relational (join) path
    val want = graft.operators.Dsir.scoreRelational(
      corpus, lam, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // stream the same docs through the literal-map path, two batches
    val docs = corpus.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val scored = graft.streaming.CurationStream.dsirScored(
      mem.toDF().toDF("doc_id", "text"), lamMap, default, "doc_id", "text")
    val q = scored.writeStream.format("memory").queryName("dsir")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(200).toSeq)
      q.processAllAvailable()
      mem.addData(docs.drop(200).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT * FROM dsir").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // and the unseen-bucket fallback is total: a doc whose bigrams the
    // corpus never saw still scores (the smoothed default), not null
    val novel = graft.operators.Dsir.scoreInline(
      Seq((999L, "zzqx9 wwvk7 rrtn3 ppmh5")).toDF("doc_id", "text"),
      lamMap, default, "doc_id", "text").collect()
    assert(novel.length === 1 && !novel(0).isNullAt(2))
  }

  test("cluster screen: stream assignment bit-equal to batch scoring") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fit offline on the real fixture, then stream fresh points through
    val fitOn = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val (_, model) = graft.operators.KMeans.fit(
      fitOn, k = 4, dim = 64, iters = 3)
    // collect ONE limited set and derive both the expectation and the
    // stream input from it — limit without orderBy gives no guarantee
    // two separate jobs pick the same 20 rows
    val pts = fitOn.orderBy("vec_id").limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val want = graft.operators.KMeans.assignTo(
      pts.toSeq.toDF("vec_id", "embedding"), model)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val screened = graft.streaming.DedupStream.clusterScreen(
      mem.toDF().toDF("vec_id", "embedding"), model)
    val q = screened.writeStream.format("memory").queryName("cscreen")
      .outputMode("append").start()
    try {
      mem.addData(pts.take(10).toSeq)
      q.processAllAvailable()
      mem.addData(pts.drop(10).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT * FROM cscreen").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // stateless contract: no state store operators in the plan
    assert(!screened.queryExecution.analyzed.toString
      .toLowerCase.contains("statestore"))
  }

  test("streaming corpus digest equals batch digest after every prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def batchDigest(rows: Seq[(Long, String)]): (Long, String) = {
      val r = graft.streaming.CurationStream.digestStream(
        rows.toDF("doc_id", "text"), "doc_id", "text").head()
      (r.getLong(0), r.getString(1))
    }
    val mem = MemoryStream[(Long, String)]
    val dig = graft.streaming.CurationStream.digestStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = dig.writeStream.format("memory").queryName("cdigest")
      .outputMode("complete").start()
    try {
      mem.addData(docs.take(30).toSeq)
      q.processAllAvailable()
      val after30 = spark.sql("SELECT * FROM cdigest").collect().head
      assert((after30.getLong(0), after30.getString(1)) ==
        batchDigest(docs.take(30).toSeq))
      mem.addData(docs.drop(30).toSeq)
      q.processAllAvailable()
      val afterAll = spark.sql("SELECT * FROM cdigest").collect().head
      assert((afterAll.getLong(0), afterAll.getString(1)) ==
        batchDigest(docs.toSeq))
    } finally q.stop()
  }

  test("streaming KMV sketch equals batch sketch after every prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def batch(rows: Seq[(String, String)]) =
      graft.streaming.CurationStream.kmvStream(
        rows.toDF("source", "text"), "source", "text", 8)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    val mem = MemoryStream[(String, String)]
    val sk = graft.streaming.CurationStream.kmvStream(
      mem.toDF().toDF("source", "text"), "source", "text", 8)
    val q = sk.writeStream.format("memory").queryName("kmvs")
      .outputMode("complete").start()
    def current() = spark.sql("SELECT * FROM kmvs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    try {
      mem.addData(docs.take(100).toSeq)
      q.processAllAvailable()
      assert(current() == batch(docs.take(100).toSeq))
      mem.addData(docs.drop(100).toSeq)
      q.processAllAvailable()
      assert(current() == batch(docs.toSeq))
    } finally q.stop()
  }

  test("streaming HLL registers equal batch registers after every prefix") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def batch(rows: Seq[(String, String)]) =
      graft.operators.Hll.registers(
        rows.toDF("source", "text"), col("source"), col("text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        .sorted.toSeq
    val mem = MemoryStream[(String, String)]
    val regs = graft.streaming.SketchStream.hllRegisters(
      mem.toDF().toDF("source", "text"), col("source"), col("text"))
    val q = regs.writeStream.format("memory").queryName("hllregs")
      .outputMode("complete").start()
    def current() = spark.sql("SELECT * FROM hllregs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    try {
      mem.addData(docs.take(100).toSeq)
      q.processAllAvailable()
      assert(current() == batch(docs.take(100).toSeq))
      // at-least-once replay is a no-op: MAX is idempotent
      mem.addData(docs.take(50).toSeq)
      mem.addData(docs.drop(100).toSeq)
      q.processAllAvailable()
      assert(current() == batch(docs.toSeq))
      // and the estimates folded from the snapshot match batch exactly
      val streamEst = graft.operators.Hll.estimate(
        spark.sql("SELECT * FROM hllregs"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sorted.toSeq
      val batchEst = graft.operators.Hll.estimate(
        graft.operators.Hll.registers(
          docs.toSeq.toDF("source", "text"), col("source"), col("text")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sorted.toSeq
      assert(streamEst == batchEst)
    } finally q.stop()
  }

  test("streaming CMS counters equal batch counters after every prefix") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keys = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"source").collect().map(_.getString(0))
    def batch(rows: Seq[String]) =
      graft.operators.Cms.counters(
        rows.map(Tuple1(_)).toDF("key"), col("key"), 3, 16)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val mem = MemoryStream[String]
    val cnt = graft.streaming.SketchStream.cmsCounters(
      mem.toDF().toDF("key"), col("key"), 3, 16)
    val q = cnt.writeStream.format("memory").queryName("cmscnt")
      .outputMode("complete").start()
    def current() = spark.sql("SELECT * FROM cmscnt").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    try {
      mem.addData(keys.take(70).toSeq)
      q.processAllAvailable()
      assert(current() == batch(keys.take(70).toSeq))
      mem.addData(keys.drop(70).toSeq)
      q.processAllAvailable()
      assert(current() == batch(keys.toSeq))
    } finally q.stop()
  }

  test("winnow screen: planted shared run flagged, novel doc passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "c1 c2 p q r s t u c3 c4 c5"),
      (11L, "d1 d2 d3 d4 d5 d6 d7 d8 d9")
    ).toDF("doc_id", "text")
    val (postings, meta) = graft.streaming.DedupStream.winnowIndex(
      corpus, "doc_id", "text", k = 3, w = 4)
    val mem = MemoryStream[(Long, String)]
    val screened = graft.streaming.DedupStream.winnowScreen(
      mem.toDF().toDF("doc_id", "text"), postings, meta, "doc_id", "text",
      k = 3, w = 4, minShared = 1)
    val q = screened.writeStream.format("memory").queryName("wscreen")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        (1L, "x1 p q r s t u x2 x3 x4"), // shares the 6-run with doc 10
        (2L, "z1 z2 z3 z4 z5 z6 z7 z8"))) // fully novel
      q.processAllAvailable()
    } finally q.stop()
    val hits = spark.sql("SELECT DISTINCT new_id, base_id FROM wscreen")
      .as[(Long, Long)].collect().toSet
    assert(hits.contains((1L, 10L)), s"planted run not flagged: $hits")
    assert(!hits.exists(_._1 == 2L), s"novel doc flagged: $hits")
    // batch application of the same operator yields the same hit set
    val batchHits = graft.streaming.DedupStream.winnowScreen(
        Seq((1L, "x1 p q r s t u x2 x3 x4"),
          (2L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text"),
        postings, meta, "doc_id", "text", k = 3, w = 4, minShared = 1)
      .select("new_id", "base_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(batchHits == hits)
  }

  test("mad screen: stream outliers bit-equal to the batch query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // fit via the SAME shared operator the batch query uses — a fit
    // formula change flows to both paths, keeping this parity honest
    val e = Tables.t(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val stats = graft.operators.Quality.robustStats(e, "event_type", "value")
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = SparkEntry.queries("e_mad_outliers")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    val rows = e.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, String, Double)]
    val screened = graft.streaming.EventStreams.madScreen(
      mem.toDF().toDF("event_id", "event_type", "value"), stats)
    val q = screened.writeStream.format("memory").queryName("madscreen")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT * FROM madscreen").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // stateless contract: no state store operators in the plan
    assert(!screened.queryExecution.analyzed.toString
      .toLowerCase.contains("statestore"))
  }

  test("funnel stream: final per-user stages bit-equal to the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.t(spark, dir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)) // ordered delivery contract
    val want = graft.operators.Funnel.stages(
      Tables.t(spark, dir, "events"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val mem = MemoryStream[EventStreams.Ev]
    val q = EventStreams.funnelStream(mem.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      mem.addData(evs.take(evs.length / 2).toSeq)
      q.processAllAvailable()
      mem.addData(evs.drop(evs.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT user_id, stage FROM funnel_stream")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // update mode appends each advance: stages per user must be strictly
    // increasing, and the LAST one is the final stage
    val byUser = rows.zipWithIndex.groupBy(_._1._1)
    byUser.foreach { case (u, es) =>
      val seq = es.sortBy(_._2).map(_._1._2).toSeq
      assert(seq == seq.sorted && seq.distinct == seq,
        s"user $u emitted non-advancing stages $seq")
    }
    val got = byUser.map { case (u, es) => u -> es.maxBy(_._2)._1._2 }
    assert(got === want)
    // a user the batch operator knows (signed up) is never missing
    assert(got.keySet === want.keySet)
  }

  test("domain ledger: streamed snapshot rollup bit-equal to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.t(spark, dir, "documents")
      .select($"doc_id", $"text", $"source", $"lang", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val ledger = graft.operators.Quality.domainLedger(
      mem.toDF().toDF("doc_id", "text", "source", "lang", "n_chars"))
    val q = ledger.writeStream.format("memory").queryName("dledger")
      .outputMode("complete").start()
    def rollupNow() = graft.operators.Quality
      .domainRollup(spark.table("dledger")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getBoolean(8))).sortBy(_._1)
    try {
      mem.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      // mid-stream the rollup is already well-formed (prefix semantics)
      val mid = rollupNow()
      assert(mid.map(_._2).sum == rows.length / 2)
      mem.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val want = SparkEntry.queries("t_domain_stats")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getBoolean(8))).sortBy(_._1)
    assert(rollupNow().toSeq === want.toSeq)
  }

  test("keyword screen: streaming blocklist hits equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dict = Seq("table", "scan query", "table table", "zz-never")
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").orderBy("doc_id").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // batch truth: the same expression applied statically
    val want = graft.streaming.DedupStream.keywordScreen(
        docs.toSeq.toDF("doc_id", "text"), dict)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    assert(want.nonEmpty, "fixture must produce at least one hit")
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.DedupStream.keywordScreen(
      mem.toDF().toDF("doc_id", "text"), dict)
    val q = out.writeStream.format("memory").queryName("kwscreen")
      .outputMode("append").start()
    try {
      docs.grouped(docs.length / 3 + 1).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.sql("SELECT * FROM kwscreen").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq === want.toSeq,
      "stateless screen must be bit-identical batch vs stream")
  }

  test("watermark drop parity: streaming dedup drops e_late_arrivals' replay set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identical arrival model to e_late_arrivals: md5 transport jitter,
    // 60 s trigger micro-batches by ARRIVAL time
    val arr = Tables.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("ts"),
        (expr("cast(conv(substring(md5(cast(event_id as string)), 1, 4), 16, 10) as long)") % 900)
          .as("jit"))
      .select(col("event_id"), col("ts"),
        expr("(cast(ts as long) + jit) div 60").as("batch"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val batches = arr.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(x => (x._1, x._2)) }
    val mem = MemoryStream[(Long, Timestamp)]
    val dedup = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "600 seconds")
      .dropDuplicates("event_id")
    val q = dedup.writeStream.format("memory").queryName("wmdedup")
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val emitted = spark.sql("SELECT event_id FROM wmdedup")
      .collect().map(_.getLong(0)).toSet
    // replay Spark's rule: wm(batch N) = max event-time ms through
    // batch N-1 minus delay; a row is dropped iff ts_us <= wm_ms*1000
    var wmMs = 0L
    val droppedReplay = scala.collection.mutable.Set[Long]()
    batches.foreach { b =>
      b.foreach { case (id, ts) =>
        val us = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
        if (us <= wmMs * 1000) droppedReplay += id
      }
      val maxMs = b.map(x => x._2.getTime).max
      wmMs = math.max(wmMs, maxMs - 600000L)
    }
    val droppedStream = arr.map(_._1).toSet -- emitted
    assert(droppedStream.nonEmpty,
      "jittered fixture must actually drop something")
    assert(droppedStream == droppedReplay.toSet,
      s"stream dropped ${droppedStream.size}, replay ${droppedReplay.size}")
  }
  test("markov stream: per-user pair fold + rollup is bit-identical to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.t(spark, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").collect()
      .map(r => EventStreams.Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val mem = MemoryStream[EventStreams.Ev]
    val out = EventStreams.transitionPairStream(mem.toDS())
    val q = out.writeStream.format("memory").queryName("mkpairs")
      .outputMode("append").start()
    try {
      evs.grouped(evs.length / 4 + 1).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = EventStreams.markovRollup(
      spark.table("mkpairs").drop("user_id")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2))
    val want = SparkEntry.queries("e_markov_transitions")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2))
    assert(got.toSeq === want.toSeq,
      "streamed Markov model must be bit-identical to the batch query")
  }
}
