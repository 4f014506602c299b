package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Spark Structured Streaming over the engine's batch projections: the
  * checkpointed state store, and stateless or aggregating projections
  * that main queries run in batch, fed through a `MemoryStream` and
  * compared with the batch result after each micro-batch.
  */
class StreamingSpec extends SparkSpec {

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

  test("streaming quality classifier is bit-equal to batch on real docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val weights = graft.queries.CurationQueries.ClfWeights
    val mem = MemoryStream[(Long, String)]
    val scored = graft.functions.Text.hashedLinearScores(
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
    val want = graft.functions.Text.hashedLinearScores(
      docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", weights)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got.length === 60)
    assert(got.toSeq === want.toSeq)
  }

  test("streaming corpus digest equals batch digest after every prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def batchDigest(rows: Seq[(Long, String)]): (Long, String) = {
      val r = graft.queries.QualityQueries.corpusDigest(
        rows.toDF("doc_id", "text")).head()
      (r.getLong(0), r.getString(1))
    }
    val mem = MemoryStream[(Long, String)]
    val dig = graft.queries.QualityQueries.corpusDigest(
      mem.toDF().toDF("doc_id", "text"))
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
}
