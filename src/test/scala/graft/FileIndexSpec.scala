package graft

import java.nio.file.Files

/** Scan-level robustness and approximation contracts: corrupt files
  * under `ignoreCorruptFiles`, and approx sketches against exact
  * answers. */
class FileIndexSpec extends SparkSpec {

  test("corrupt file among good ones: ignoreCorruptFiles reads the rest") {
    // the poison-pill contract at the FILE level (e_corrupt_json covers
    // the record level): one truncated/garbage parquet inside a 100 TB
    // scan must cost its own rows only, never the 10-hour job
    import spark.implicits._
    val root = TempDirs.dir("graft-corrupt")
    val dir = root.resolve("data")
    Seq(1L, 2L, 3L).toDF("v").write.parquet(s"file:$dir")
    Files.writeString(dir.resolve("part-junk.parquet"),
      "this is not parquet at all")
    // default (strict) mode must fail loudly…
    val strict = intercept[org.apache.spark.SparkException] {
      spark.read.parquet(s"file:$dir").count()
    }
    assert(strict.getMessage.toLowerCase.contains("parquet") ||
      strict.getCause != null)
    // …opt-in resilience reads every healthy row
    val got = spark.read.option("ignoreCorruptFiles", "true")
      .parquet(s"file:$dir").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("approx sketches stay within tolerance of exact answers") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val o = Tables.t(spark, dir, "orders")
    val row = graft.queries.Relational3.approxStats(spark, dir).collect()(0)
    val exactDistinct = o.select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    val approx = row.getAs[Long]("approx_customers")
    assert(math.abs(approx - exactDistinct).toDouble / exactDistinct < 0.05)
    val quartiles = Seq(row.getAs[Double]("p25"), row.getAs[Double]("p50"),
      row.getAs[Double]("p75"))
    val exactMedian = o.stat.approxQuantile("o_totalprice", Array(0.5), 0.0)(0)
    assert(math.abs(quartiles(1) - exactMedian) / exactMedian < 0.05)
    assert(quartiles(0) <= quartiles(1) && quartiles(1) <= quartiles(2))
  }
}
