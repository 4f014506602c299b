package graft

import org.apache.spark.sql.functions._

import graft.operators.Provenance

/** Laws for the training-provenance ledger: record/append/read round
  * trip, the influence report's counts and remedies, and the takedown
  * CLI integration.
  */
class ProvenanceSpec extends SparkSpec {
  import spark.implicits._

  test("append/read round trip; influences counts + remedy mapping") {
    val root = TempDirs.dir("graft-prov").toString
    val p = s"$root/prov"
    Provenance.append(spark, p, "band/a", "band",
      (1L to 10L).toDF("doc_id"))
    Provenance.append(spark, p, "clf/q", "model",
      (1L to 20L).toDF("doc_id"))
    Provenance.append(spark, p, "vocab/v", "vocab",
      (5L to 8L).toDF("doc_id"))
    // record() dedupes training inputs
    assert(Provenance.record("x", "band",
      Seq(1L, 1L, 2L).toDF("doc_id")).count() === 2L)
    val ledger = Provenance.read(spark, p)
    assert(ledger.count() === 34L)
    // erase ids {2, 6, 99}: 99 touches nothing, reports still show
    val rep = Provenance.influences(ledger,
        Seq(2L, 6L, 99L).toDF("id"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(rep("band/a") === (("band", "erase_rows", 10L, 2L, 200000L)))
    assert(rep("clf/q") ===
      (("model", "retrain_required", 20L, 2L, 100000L)))
    assert(rep("vocab/v") ===
      (("vocab", "retrain_required", 4L, 1L, 250000L)))
  }

  test("takedown --provenance: impact report before/with the cascade") {
    val root = TempDirs.dir("graft-prov-td").toString
    Provenance.append(spark, s"$root/prov", "clf/q", "model",
      (1L to 4L).toDF("doc_id"))
    Provenance.append(spark, s"$root/prov", "band/b", "band",
      (1L to 2L).toDF("doc_id"))
    Seq(1L).toDF("id").write.parquet(s"$root/ids.parquet")
    // provenance-only: the audit returns the impact report itself
    val rep = Main.runTakedown(spark, Main.parseTakedown(Seq(
        "--provenance", s"$root/prov", "--doc-ids", s"$root/ids.parquet")))
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(4)))).toMap
    assert(rep === Map(
      "band/b" -> (("erase_rows", 1L)),
      "clf/q" -> (("retrain_required", 1L))))
    // --provenance still demands its ids
    intercept[IllegalArgumentException] {
      Main.parseTakedown(Seq("--provenance", "/p"))
    }
  }
}
