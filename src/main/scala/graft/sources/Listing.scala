package graft.sources

import java.io.FileNotFoundException
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  *    scale `listDistributed` fans the walk out over the prefix's
  *    top-level directories.
  *  - `withContent`: Spark's `binaryFile` source — columns
  *    (path, modificationTime, length, content) — used when the content
  *    predicate (O5/O14) needs the bytes; at most ONE read per file where
  *    the reference downloads each moved file twice (app/main.py:57,176).
  *    A file filter on the hidden `_metadata` column (pipeline B's date
  *    window) prunes the listing on the driver, and a pruned file is
  *    never opened.
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
    val it = // recursive; yields files only
      try fs.listFiles(p, true)
      catch { case _: FileNotFoundException => return spark.emptyDataset[LakeFile] }
    val out = ArrayBuffer.empty[LakeFile]
    while (it.hasNext) out += toLakeFile(it.next())
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
    val (files, dirs) =
      try fs.listStatus(p).partition(_.isFile)
      catch { case _: FileNotFoundException => return spark.emptyDataset[LakeFile] }
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

  /** O2+O5: listing WITH file bytes via the binaryFile source. */
  def withContent(spark: SparkSession, prefix: String): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(prefix)
}
