package graft.sources

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.model.LakeFile

/** O2 (+O3) — recursive file-listing scan (SURVEY.md §2.1; reference
  * app/main.py:195-216). Directories are skipped; each row carries
  * (name, size, last_modified). The reference's separate per-file
  * properties fetch (O3, app/main.py:219-226) is folded in: the listing
  * already carries the modification time, eliminating one HTTP round
  * trip per file.
  *
  * Two scan flavors:
  *  - `list`: metadata-only, via Hadoop `FileSystem.listFiles(recursive)`.
  *    The iterator is consumed on the driver (listing is a metadata
  *    operation — cheap relative to data), then parallelized; at real
  *    scale prefer `binaryFiles`/file-index sources which distribute
  *    listing across partitions of top-level directories.
  *  - `withContent`: Spark's `binaryFile` source — columns
  *    (path, modificationTime, length, content) — used when the content
  *    predicate (O5/O14) needs the bytes; ONE read per file where the
  *    reference downloads each moved file twice (app/main.py:57,176).
  */
object Listing {

  /** Creation time where the store exposes one. The base Hadoop
    * `FileStatus` has no creation-time accessor; cloud connectors
    * surface it on their FileStatus subclasses (e.g. a
    * `getCreationTime` method), so probe reflectively — null (not a
    * fake) when absent, which keeps Select.fileDate's coalesce honest.
    * The Method lookup is cached per FileStatus class.
    */
  private val creationAccessors =
    new java.util.concurrent.ConcurrentHashMap[Class[_], Option[java.lang.reflect.Method]]()

  private[graft] def creationTimeOf(st: org.apache.hadoop.fs.FileStatus): Timestamp = {
    val m = creationAccessors.computeIfAbsent(st.getClass, cls =>
      try {
        val meth = cls.getMethod("getCreationTime")
        if (meth.getReturnType == java.lang.Long.TYPE) {
          // a public method on a package-private FileStatus subclass
          // still throws IllegalAccessException at invoke time unless
          // made accessible
          meth.setAccessible(true)
          Some(meth)
        } else None
      } catch { case scala.util.control.NonFatal(_) => None })
    m match {
      case Some(meth) =>
        try {
          val t = meth.invoke(st).asInstanceOf[Long]
          if (t > 0L) new Timestamp(t) else null
        } catch {
          // never let a creation-time probe kill a listing — the
          // column is best-effort by contract (null when absent)
          case scala.util.control.NonFatal(_) => null
        }
      case None => null
    }
  }

  private def toLakeFile(st: org.apache.hadoop.fs.FileStatus): LakeFile =
    LakeFile(st.getPath.toUri.getPath, st.getLen,
      new Timestamp(st.getModificationTime), creationTimeOf(st))

  /** O2: metadata-only recursive listing as a Dataset[LakeFile]. */
  def list(spark: SparkSession, prefix: String): Dataset[LakeFile] = {
    import spark.implicits._
    val p = new Path(prefix)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = ArrayBuffer.empty[LakeFile]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true) // recursive; yields files only
      while (it.hasNext) out += toLakeFile(it.next())
    }
    spark.createDataset(out.toSeq)
  }

  /** O2 at scale: distributed recursive listing — the immediate
    * subdirectories of `prefix` are parallelized across tasks and each
    * task lists its subtree with its own FileSystem handle. Removes the
    * driver-side iterator of `list` for prefixes with millions of files
    * (the fan-out unit is a top-level directory, so a billion-file lake
    * lists with ~|directories| way parallelism; nest once more for
    * pathological single-directory layouts). Files directly under
    * `prefix` (or `prefix` itself, when it is a file) become rows on
    * the driver from the statuses its `listStatus` already holds: a
    * task per file would only stat it again.
    */
  def listDistributed(spark: SparkSession, prefix: String): Dataset[LakeFile] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val p = new Path(prefix)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    if (!fs.exists(p)) return spark.emptyDataset[LakeFile]
    val (files, dirs) = fs.listStatus(p).partition(_.isFile)
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    // parallelize, not a repartitioned Dataset: no shuffle to fan out a
    // handful of path strings
    val nested = sc.parallelize(dirs.map(_.getPath.toString).toSeq,
        math.max(1, math.min(dirs.length, 64)))
      .mapPartitions { it =>
        val c = conf.value.value
        it.flatMap { dir =>
          val dp = new Path(dir)
          val out = ArrayBuffer.empty[LakeFile]
          val listed = dp.getFileSystem(c).listFiles(dp, true)
          while (listed.hasNext) out += toLakeFile(listed.next())
          out.iterator
        }
      }
    spark.createDataset(files.map(toLakeFile).toSeq).union(spark.createDataset(nested))
  }

  /** Persist a listing as a parquet file-index table (Delta-style
    * manifest). At billions of files the recursive listing is itself a
    * big job — run it once (or incrementally from storage events),
    * persist the index, and let every downstream pipeline join against
    * the TABLE instead of re-walking the store: index scans get column
    * pruning, predicate pushdown, and partition pruning for free.
    */
  def writeIndex(files: Dataset[LakeFile], path: String): Unit =
    files.write.mode("overwrite").parquet(path)

  /** Read a persisted file index back as the same typed listing the
    * live scans produce — pipelines are source-agnostic.
    */
  def readIndex(spark: SparkSession, path: String): Dataset[LakeFile] = {
    import spark.implicits._
    spark.read.parquet(path).as[LakeFile]
  }

  /** Incremental index maintenance: merge a fresh listing of ONE
    * prefix into the persisted index — new files insert, changed
    * files (size or mtime) replace, vanished files under the prefix
    * drop, and index rows OUTSIDE the prefix pass through untouched.
    * This is the daily loop that keeps a billion-file index current
    * by re-walking only the prefixes that churn, never the whole
    * lake. Returns the merged index (caller persists with
    * [[writeIndex]] to a new path, then swaps — parquet is immutable).
    *
    * Shape: a codegen'd scan filter (keep index rows outside the
    * prefix) plus a union — no join and no shuffle at all; deletes,
    * inserts, and updates under the prefix all fall out of rebuilding
    * that slice from the listing.
    */
  def updateIndex(index: Dataset[LakeFile], fresh: Dataset[LakeFile],
                  prefix: String): Dataset[LakeFile] = {
    // index names are scheme-stripped paths (toLakeFile uses
    // getPath.toUri.getPath) — normalize the prefix the same way so
    // "file:/data/raw" or "s3a://bucket/raw" matches them; without
    // this the old slice would silently survive the merge
    val bare = new Path(prefix).toUri.getPath
    val p = if (bare.endsWith("/")) bare else bare + "/"
    index.filter(!concat(col("name"), lit("/")).startsWith(p))
      .union(fresh)
  }

  /** O2+O5: listing WITH file bytes via the binaryFile source. */
  def withContent(spark: SparkSession, prefix: String): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(prefix)

  /** O4 — distributed point-existence probe (app/app.py:119-131): for a
    * manifest too large to semi-join against a full listing, probe each
    * path directly, `mapPartitions`-parallel with one FileSystem handle
    * per partition (the reference probes sequentially on one thread).
    * Returns (path, exists).
    */
  def existsProbe(paths: DataFrame, pathCol: String = "path"): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    paths.select(pathCol).as[String].mapPartitions { it =>
      // one FileSystem per (scheme, authority) — paths may mix filesystems
      val cache = scala.collection.mutable.HashMap.empty[String, FileSystem]
      it.map { p =>
        val hp = new Path(p)
        val uri = hp.toUri
        val key = s"${uri.getScheme}://${uri.getAuthority}"
        val fs = cache.getOrElseUpdate(key, hp.getFileSystem(conf.value.value))
        (p, try fs.exists(hp) catch { case _: Exception => false })
      }
    }.toDF(pathCol, "exists")
  }

  /** Storage rollup over a listing — the `du` of lake operations:
    * per directory prefix at up to `depth` path segments, file count,
    * total bytes, and newest modification time (where is the storage,
    * and is it still growing). Paths are ABSOLUTE (as `list`/the
    * persisted index produce); the filename segment never enters the
    * prefix, so a file shallower than `depth` rolls into its own
    * directory and a FILE named like a directory cannot merge into
    * that directory's group. One map-combinable aggregation over
    * metadata rows — at a billion files this runs against the
    * persisted file index (`readIndex`), never a live walk.
    */
  def storageReport(files: DataFrame, depth: Int,
                    pathCol: String = "name", sizeCol: String = "size",
                    mtimeCol: String = "last_modified"): DataFrame = {
    // segment 0 of an absolute path is the empty string before the
    // leading slash — slice from 1, depth+1 segments, but never past
    // the parent directory (size-1 excludes the filename)
    val segs = split(col(pathCol), "/")
    files
      .withColumn("prefix",
        concat_ws("/", slice(segs, lit(1),
          least(lit(depth + 1), size(segs) - 1))))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_files"),
        sum(col(sizeCol)).as("total_bytes"),
        max(col(mtimeCol)).as("latest_modified"))
  }
}
