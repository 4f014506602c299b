package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Passes over the iterative query families: each pass runs every
  * query once, in a fixed order, and collects its rows. The first pass
  * in the JVM also builds the fixtures the families memoize.
  */
final class QueryTail(spark: SparkSession, a: Map[String, String])
    extends Workload {
  private val dir = a("tables")
  private val names = a("queries").split(",").toSeq
  // one warm pass: a pass over the six families takes about 16 s,
  // and every run of the benchmark must fit its time budget (README.md)
  val warmup = 0
  val minWarm = 1
  private val last = mutable.Map.empty[String, (StructType, Array[Row])]
  private val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Call[_]]]

  /** Table footers, read once as any first query would. */
  def prepare(run: Run): Unit =
    Seq("documents", "embeddings")
      .foreach(t => graft.Tables.t(spark, dir, t).schema)

  def iteration(run: Run, parent: String): Iter = {
    val calls = names.map { q =>
      val c = run.call(q, parent) {
        val df = SparkEntry.queries(q)(spark, dir)
        (df.schema, df.collect())
      }
      last(q) = c.value
      perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += c
      q -> c
    }
    val check = new java.util.LinkedHashMap[String, AnyRef]()
    calls.foreach { case (q, c) => check.put(q, digest(c.value._2)) }
    Iter(calls.map(_._2.seconds).sum, calls.map(_._2.cpuSeconds).sum,
      calls.map(_._2.jitSeconds).sum, calls.flatMap(_._2.acc),
      calls.map(_._2.pins).sum, check)
  }

  /** Order-free digest of a result, to tell passes apart. */
  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def layers(run: Run, traced: Seq[Iter]): Seq[(String, (Double, String))] =
    names.flatMap { q =>
      // the cold call, then warm calls; only traced ones carry counts
      val (tc, wc) = perQuery(q).drop(1).toSeq.partition(_.acc.isDefined)
      val w = wc.map(_.seconds)
      val t = tc.flatMap(_.acc)
      def med(f: Stats#Acc => Double) = Harness.median(t.map(f))
      Seq(
        s"q.$q.cold_s" -> (perQuery(q).head.seconds, "s"),
        s"q.$q.warm_s" -> (Harness.median(w), "s"),
        s"q.$q.jobs" -> (med(_.jobs.toDouble), "count"),
        s"q.$q.tasks" -> (med(_.tasks.toDouble), "count"),
        s"q.$q.gc_s" -> (med(_.gcMs / 1e3), "s"),
        s"q.$q.pins" -> (Harness.median(tc.map(_.pins.toDouble)), "count"))
    }

  /** The last pass's rows, as parquet, and each query's oracle SQL. */
  override def finish(run: Run, out: java.util.Map[String, AnyRef]): Unit = {
    val res = a("results")
    last.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$res/$q")
    }
    val sql = new java.util.LinkedHashMap[String, AnyRef]()
    names.foreach(q => SparkEntry.oracleSql.get(q).foreach(sql.put(q, _)))
    Files.write(new File(s"$res/oracle_sql.json").toPath,
      new ObjectMapper().writeValueAsString(sql).getBytes(UTF_8))
  }
}
