package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Z-order layout: the interleave is a correct Morton code, and the
  * z-sorted file layout concentrates a narrow predicate on EITHER
  * column into a small subset of files (multi-dimensional skipping). */
class ZOrderSpec extends SparkSpec {

  test("morton2 interleaves bits (known values, locality)") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (255L, 0L),
      (0L, 255L), (65535L, 65535L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.morton2(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows((0L, 0L)) === 0L)
    assert(rows((1L, 0L)) === 1L)      // x takes even bit positions
    assert(rows((0L, 1L)) === 2L)      // y takes odd bit positions
    assert(rows((1L, 1L)) === 3L)
    assert(rows((255L, 0L)) === 0x5555L)
    assert(rows((0L, 255L)) === 0xAAAAL)
    assert(rows((65535L, 65535L)) === 0xFFFFFFFFL)
  }

  test("z-ordered files: a narrow x-band touches a fraction of the files") {
    import spark.implicits._
    val out = TempDirs.dir("graft_z").toString
    try {
      // uniform 256x256 grid; 16 z-range files = a 4x4 grid of tiles
      val grid = spark.range(0, 65536L)
        .select((col("id") % 256).as("x"),
          (col("id") / 256).cast("long").as("y"))
      Layout.writeZOrdered(grid, out, "x", "y", nFiles = 16)
      val back = spark.read.parquet(out)
      def filesTouched(p: org.apache.spark.sql.Column): Long =
        back.filter(p).select(input_file_name()).distinct().count()
      val total = filesTouched(lit(true))
      assert(total === 16L)
      // x in [10, 20] lives in one tile column: 4 of the 16 files
      assert(filesTouched(col("x").between(10, 20)) <= 6L)
      // symmetric: a narrow y-band is equally skippable — the property
      // single-column sorting cannot give both columns at once
      assert(filesTouched(col("y").between(200, 210)) <= 6L)
      // correctness: layout never changes the data
      assert(back.count() === 65536L)
      assert(back.agg(sum(col("x") + col("y") * 256)).head().getLong(0) ===
        grid.agg(sum(col("x") + col("y") * 256)).head().getLong(0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}
