package graft

import java.io.{ObjectOutputStream, OutputStream}
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileUtil
import org.apache.spark.rdd.RDD
import org.apache.spark.util.SerializableConfiguration

import graft.operators.MoveSink
import graft.sources.Listing

/** The file-mover layers broadcast the Hadoop configuration: one that a
  * closure captures rides in every task binary, and every task re-parses
  * its ~1,000 properties.
  */
class TaskBinarySpec extends SparkSpec {

  /** The configurations Java serialization writes with `rdd`, as a task
    * binary would carry them. `SerializableConfiguration` writes its
    * `Configuration` as Writable bytes, so the wrapper is what the
    * stream's objects show. */
  private def configurationsIn(rdd: RDD[_]): Seq[String] = {
    val seen = ArrayBuffer.empty[String]
    val out = new ObjectOutputStream(OutputStream.nullOutputStream()) {
      enableReplaceObject(true)
      override def replaceObject(obj: AnyRef): AnyRef = {
        obj match {
          case _: Configuration | _: SerializableConfiguration => seen += obj.getClass.getName
          case _ =>
        }
        obj
      }
    }
    try out.writeObject(rdd) finally out.close()
    seen.toSeq
  }

  test("MoveSink.run and listDistributed tasks carry no Configuration") {
    import spark.implicits._
    // the RDDs are serialized, never run: only the listing reads the lake
    val root = TempDirs.dir("graft-taskbinary")
    val rdds = try {
      Files.createDirectories(root.resolve("sub"))
      Files.writeString(root.resolve("sub/a.txt"), "A")
      Files.writeString(root.resolve("b.txt"), "B")
      val plan = Seq((s"file:$root/b.txt", s"file:$root/out/b.txt")).toDF("src", "dst")
      Map(
        "MoveSink.run" -> MoveSink.run(plan, MoveSink.Copy).rdd,
        "listDistributed" -> Listing.listDistributed(spark, s"file:$root").rdd)
    } finally FileUtil.fullyDelete(root.toFile)
    val carrying = rdds.map { case (name, rdd) => name -> configurationsIn(rdd) }
      .filter(_._2.nonEmpty)
    assert(carrying === Map.empty)
    // the same check sees a captured configuration
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val captured = spark.sparkContext.parallelize(Seq(1), 1).map(_ => conf.value.size())
    assert(configurationsIn(captured) === Seq(classOf[SerializableConfiguration].getName))
  }
}
