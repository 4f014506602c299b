package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest robustness: the failure modes a 100 TB lake serves daily —
  * a corrupt file in a scan directory, malformed rows in a manifest,
  * a producer adding a column between snapshots — must degrade
  * per-file / per-row, never kill the job.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    TempDirs.dir(prefix).toString

  test("corrupt parquet file: default read fails loudly, ignoreCorruptFiles skips it") {
    val root = tmpDir("graft-corrupt")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(root)
    // drop a garbage file alongside the good part file
    Files.write(Paths.get(root, "part-99999-garbage.c000.snappy.parquet"),
      Array.fill[Byte](128)(0x5a))
    val strict = intercept[Exception] {
      spark.read.parquet(root).count()
    }
    assert(strict.getMessage != null)
    val tolerant = spark.read
      .option("ignoreCorruptFiles", "true").parquet(root)
    assert(tolerant.count() == 3)
    assert(tolerant.select(sum(col("id"))).head.getLong(0) == 6L)
  }

  test("malformed manifest rows: PERMISSIVE capture, good rows survive") {
    val root = tmpDir("graft-badcsv")
    Files.write(Paths.get(root, "manifest.csv"), java.util.Arrays.asList(
      "path;size", "a.json;10", "broken_row_no_delim",
      "b.json;not_a_number", "c.json;30"))
    val schema = StructType(Seq(
      StructField("path", StringType), StructField("size", LongType),
      StructField("_bad", StringType)))
    val df = spark.read
      .option("header", "true").option("sep", ";")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).csv(root + "/manifest.csv")
      .localCheckpoint(true) // corrupt-record col needs a materialized read
    val good = df.filter(col("_bad").isNull)
      .select("path", "size").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(good == Set(("a.json", 10L), ("c.json", 30L)))
    val bad = df.filter(col("_bad").isNotNull)
      .select("_bad").as[String].collect().toSet
    assert(bad == Set("broken_row_no_delim", "b.json;not_a_number"))
  }

  test("widen: lattice rules and loud failure off-lattice") {
    import graft.sources.Evolve.widen
    assert(widen(IntegerType, LongType) == LongType)
    assert(widen(LongType, IntegerType) == LongType)
    assert(widen(ByteType, ShortType) == ShortType)
    assert(widen(FloatType, DoubleType) == DoubleType)
    assert(widen(IntegerType, FloatType) == DoubleType)
    // long × fractional is rejected: double loses bits above 2^53
    val lossy = intercept[IllegalArgumentException] {
      widen(LongType, DoubleType)
    }
    assert(lossy.getMessage.contains("2^53"))
    assert(widen(StringType, StringType) == StringType)
    assert(widen(TimestampNTZType, TimestampType) == TimestampType)
    val e = intercept[IllegalArgumentException] {
      widen(StringType, LongType)
    }
    assert(e.getMessage.contains("cannot widen"))
  }

  test("unionByNameWidened: aligns, widens, NULL-fills across generations") {
    val g1 = Seq((1, 1.5f)).toDF("id", "x")       // int, float
    val g2 = Seq((2L, 2.5, "b")).toDF("id", "x", "tag") // long, double, +col
    val m = graft.sources.Evolve.unionByNameWidened(Seq(g1, g2))
    assert(m.schema.map(f => (f.name, f.dataType)) == Seq(
      ("id", LongType), ("x", DoubleType), ("tag", StringType)))
    val rows = m.collect().map(r =>
      (r.getLong(0), r.getDouble(1), if (r.isNullAt(2)) null else r.getString(2)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 1.5, null), (2L, 2.5, "b")))
    intercept[IllegalArgumentException] {
      graft.sources.Evolve.unionByNameWidened(
        Seq(Seq(1).toDF("id"), Seq("x").toDF("id")))
    }
  }

  test("o_schema_evolution: merged scan sees both generations") {
    val out = SparkEntry.queries("o_schema_evolution")(
      spark, "/root/testdata/sf0.001").collect().head
    val li = Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
    val n1 = li.filter(col("l_linenumber") === 1).count()
    val n2 = li.filter(col("l_linenumber") === 2).count()
    assert(out.getLong(0) == n1 + n2)   // rows from BOTH snapshots
    assert(out.getLong(1) == n2)        // discount only where it exists
  }
}
