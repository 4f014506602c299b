package graft

import org.apache.spark.sql.functions._

import graft.operators.CurationLedger

/** Lifecycle laws for the persisted funnel ledger: append accumulates
  * run-keyed rows, the trend view lags per stage, and the stats gate
  * surfaces a double append instead of repairing it.
  */
class CurationLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def report(rows: (String, Long)*) =
    rows.toDF("stage", "n")

  test("append accumulates runs; trend lags per stage; stats per run") {
    val root = TempDirs.dir("graft-ledger").toString
    val p = s"$root/funnel"
    CurationLedger.append(spark, p, "day-0",
      report("ingested" -> 100L, "kept" -> 80L))
    CurationLedger.append(spark, p, "day-1",
      report("ingested" -> 120L, "kept" -> 60L))
    CurationLedger.append(spark, p, "day-2",
      report("ingested" -> 110L, "kept" -> 90L))
    val led = CurationLedger.read(spark, p)
    assert(led.count() === 6L)
    // read == the union of the appended reports, run-keyed
    val got = led.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(
      ("day-0", "ingested", 100L), ("day-0", "kept", 80L),
      ("day-1", "ingested", 120L), ("day-1", "kept", 60L),
      ("day-2", "ingested", 110L), ("day-2", "kept", 90L)))
    // trend: per stage, delta against the previous run (null on day-0)
    val tr = CurationLedger.trend(led).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((Option(r.getAs[java.lang.Long]("prev_n")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("delta")).map(_.toLong))))
      .toMap
    assert(tr(("day-0", "kept")) === ((None, None)))
    assert(tr(("day-1", "kept")) === ((Some(80L), Some(-20L))))
    assert(tr(("day-2", "kept")) === ((Some(60L), Some(30L))))
    assert(tr(("day-2", "ingested")) === ((Some(120L), Some(-10L))))
    // a double append is VISIBLE in the health gate, not repaired
    CurationLedger.append(spark, p, "day-2", report("ingested" -> 110L))
    val st = CurationLedger.stats(CurationLedger.read(spark, p))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st === Map("day-0" -> 2L, "day-1" -> 2L, "day-2" -> 3L))
  }

  test("trend orders by ingest sequence, not run_id strings") {
    // adversarial caller-chosen ids: wave-10 sorts BEFORE wave-9
    // lexicographically — the ingest sequence (append order) must own
    // the trend's prev/delta, with run_id a label only
    val root = TempDirs.dir("graft-ledger-seq").toString
    val p = s"$root/funnel"
    CurationLedger.append(spark, p, "wave-9", report("kept" -> 10L))
    CurationLedger.append(spark, p, "wave-10", report("kept" -> 25L))
    CurationLedger.append(spark, p, "wave-11", report("kept" -> 5L))
    val led = CurationLedger.read(spark, p)
    // seq stamps append order 1..3
    assert(led.collect().map(r =>
        r.getString(0) -> r.getAs[Long]("seq")).toMap ===
      Map("wave-9" -> 1L, "wave-10" -> 2L, "wave-11" -> 3L))
    val tr = CurationLedger.trend(led).collect()
      .map(r => r.getString(0) ->
        ((Option(r.getAs[java.lang.Long]("prev_n")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("delta")).map(_.toLong))))
      .toMap
    assert(tr("wave-9") === ((None, None)))
    assert(tr("wave-10") === ((Some(10L), Some(15L))))
    assert(tr("wave-11") === ((Some(25L), Some(-20L))))
  }

  test("migration seam: legacy pre-seq rows order first, by padded id") {
    // a ledger written before the seq column existed: rows read back
    // with null seq, order among themselves by their run id with the
    // numeric suffix zero-padded (run-2 < run-10), and every
    // post-upgrade append lands AFTER them
    val root = TempDirs.dir("graft-ledger-mig").toString
    val p = s"$root/funnel"
    Seq(("run-2", "kept", 10L), ("run-10", "kept", 30L))
      .toDF("run_id", "stage", "n")
      .coalesce(1).write.mode("append").parquet(s"$p/runs")
    val legacy = CurationLedger.read(spark, p)
    assert(legacy.collect().forall(_.isNullAt(3))) // null seq
    CurationLedger.append(spark, p, "run-11", report("kept" -> 50L))
    val tr = CurationLedger.trend(CurationLedger.read(spark, p))
      .collect()
      .map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Long]("prev_n")).map(_.toLong)).toMap
    assert(tr("run-2") === None)
    assert(tr("run-10") === Some(10L)) // not the other way round
    assert(tr("run-11") === Some(30L)) // first stamped append is last
    // and the stamped row got seq 1 (legacy rows count as zero)
    assert(CurationLedger.read(spark, p)
      .filter(col("run_id") === "run-11")
      .collect().head.getAs[Long]("seq") === 1L)
  }

  test("ledger waves sum to the whole-corpus funnel (conservation law)") {
    // every stage count is a plain count over its wave, and the three
    // waves partition the corpus — so the ledger's per-stage totals
    // must equal the (oracle-gated) full a_pipeline_curate funnel
    val dir = "/root/testdata/sf0.001"
    val led = SparkEntry.queries("a_funnel_ledger")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(led.map(_._1).distinct.sorted.toSeq ===
      Seq("day-0", "day-1", "day-2"))
    val sums = led.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val whole = SparkEntry.queries("a_pipeline_curate")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums === whole)
  }
}
