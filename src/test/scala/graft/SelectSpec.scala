package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Select

/** O13 date-range (incl. null-date pass-through) + O15 reasons. */
class SelectSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("O13: bounds optional, inclusive, null date always passes") {
    import spark.implicits._
    val df = Seq(
      (1, ts("2024-06-01 00:00:00")),
      (2, ts("2023-01-01 00:00:00")),
      (3, ts("2025-01-01 00:00:00")),
      (4, null.asInstanceOf[Timestamp])
    ).toDF("id", "d")

    def ids(after: Option[Timestamp], before: Option[Timestamp]): Set[Int] =
      df.filter(Select.inDateRange(col("d"), after, before))
        .select("id").collect().map(_.getInt(0)).toSet

    assert(ids(None, None) === Set(1, 2, 3, 4))
    assert(ids(Some(ts("2024-01-01 00:00:00")), None) === Set(1, 3, 4))
    assert(ids(None, Some(ts("2024-12-31 00:00:00"))) === Set(1, 2, 4))
    assert(ids(Some(ts("2024-01-01 00:00:00")),
               Some(ts("2024-12-31 00:00:00"))) === Set(1, 4))
    // inclusive bounds (reference rejects strictly < after / > before)
    assert(ids(Some(ts("2024-06-01 00:00:00")),
               Some(ts("2024-06-01 00:00:00"))) === Set(1, 4))
  }

  test("fileDate: creation time wins when present, modified is the fallback") {
    import spark.implicits._
    val df = Seq(
      // distinct creation vs modified: the EARLIER creation time decides
      (1, ts("2024-01-01 00:00:00"), ts("2024-06-01 00:00:00")),
      // no creation time (local FS / HDFS): modified carries the date
      (2, null.asInstanceOf[Timestamp], ts("2024-06-01 00:00:00"))
    ).toDF("id", "creation_time", "last_modified")
    val got = df.select(col("id"),
        Select.fileDate(col("creation_time"), col("last_modified")).as("d"))
      .collect().map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    assert(got(1) === ts("2024-01-01 00:00:00"))
    assert(got(2) === ts("2024-06-01 00:00:00"))
    // and the coalesced date drives the range filter differently per row
    val kept = df
      .filter(Select.inDateRange(
        Select.fileDate(col("creation_time"), col("last_modified")),
        Some(ts("2024-03-01 00:00:00")), None))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(kept === Set(2)) // row 1's creation time predates the bound
  }

  test("listing carries creation_time: null on local FS, populated when the FileStatus exposes it") {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val root = TempDirs.dir("graft-ct")
    java.nio.file.Files.writeString(root.resolve("a.txt"), "x")
    val listed = graft.sources.Listing.list(spark, s"file:$root").collect()
    assert(listed.length === 1)
    assert(listed(0).creation_time === null) // local FS exposes none — no fake
    // cloud-store FileStatus subclasses expose getCreationTime — the
    // reflective probe picks it up (and ignores the base class)
    class CloudStatus extends FileStatus(
        1L, false, 1, 1L, 1700000000000L, new HPath("file:/c.txt")) {
      def getCreationTime: Long = 1600000000000L
    }
    val ct = graft.sources.Listing.creationTimeOf(new CloudStatus)
    assert(ct === new Timestamp(1600000000000L))
    assert(graft.sources.Listing.creationTimeOf(
      new FileStatus(1L, false, 1, 1L, 1700000000000L,
        new HPath("file:/p.txt"))) === null)
  }

  test("O13 end-to-end: a store-side creation time (≠ mtime) drives the date filter") {
    // contract test for the cloud branch of the reflective probe: a
    // FileSystem whose listing yields FileStatus subclasses with
    // getCreationTime (creation = mtime − 30 days) must flow that value
    // through Listing.list → LakeFile.creation_time → the O13 coalesce,
    // flipping a decision the mtime alone would not flip
    // (reference semantics app/main.py:120-124)
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockct.impl", classOf[CreationTimeFs].getName)
    val root = TempDirs.dir("graft-ctfs")
    java.nio.file.Files.writeString(root.resolve("q.json"), "{}")
    try {
      val cloud = graft.sources.Listing.list(spark, s"mockct:$root")
      val row = cloud.collect().head
      assert(row.creation_time !== null) // the probe took the cloud branch
      assert(row.creation_time.getTime ===
        row.last_modified.getTime - CreationTimeFs.CreationLagMs)

      // bound strictly between creation and mtime: the coalesced date is
      // the CREATION time, so the file is rejected as too early even
      // though its mtime is inside the window...
      val after = Some(new Timestamp(
        row.last_modified.getTime - CreationTimeFs.CreationLagMs / 2))
      def keptCount(listed: org.apache.spark.sql.Dataset[graft.model.LakeFile]) =
        listed.filter(Select.inDateRange(
          Select.fileDate(col("creation_time"), col("last_modified")),
          after, None)).count()
      assert(keptCount(cloud) === 0L)
      // ...while the SAME directory through file:// (no creation time)
      // falls back to mtime and passes — the two branches of the
      // coalesce, same file, different stores
      val local = graft.sources.Listing.list(spark, s"file:$root")
      assert(local.collect().head.creation_time === null)
      assert(keptCount(local) === 1L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("O15: keep + reason columns, reference check order") {
    import spark.implicits._
    val df = Seq(
      (1, ts("2024-06-01 00:00:00"), """{"SalesCompanyId":"12"}"""),
      (2, ts("2023-01-01 00:00:00"), """{"SalesCompanyId":"12"}"""), // too early
      (3, ts("2025-06-01 00:00:00"), """{"SalesCompanyId":"12"}"""), // too late
      (4, ts("2024-06-01 00:00:00"), """{"SalesCompanyId":"99"}"""), // wrong id
      (5, null.asInstanceOf[Timestamp], """{"SalesCompanyId":"12"}""") // no date
    ).toDF("id", "d", "json")
    val (keep, reason) = Select.selection(col("d"), col("json"),
      Some(ts("2024-01-01 00:00:00")), Some(ts("2024-12-31 00:00:00")),
      "SalesCompanyId", Some("12"))
    val rows = df.select(col("id"), keep.as("k"), reason.as("r"))
      .collect().map(r => r.getInt(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(rows(1) === ((true, "Matches all criteria")))
    assert(rows(2)._1 === false)
    assert(rows(2)._2.startsWith("File uploaded before filter date"))
    assert(rows(3)._1 === false)
    assert(rows(3)._2.startsWith("File uploaded after filter date"))
    assert(rows(4) === ((false, "SalesCompanyId does not match")))
    assert(rows(5) === ((true, "Matches all criteria"))) // null date passes
  }
}
