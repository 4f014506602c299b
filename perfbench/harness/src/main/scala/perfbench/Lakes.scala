package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipelines
import graft.model.MoveResult
import graft.operators.{MoveSink, Paths, Report}
import graft.sources.{Listing, Manifest}

/** What the two lake workloads share: a lake under `--root`, a target
  * prefix the pipeline fills, and the un-split call a `graft.Main`
  * user makes (the pipeline, then its status report, collected).
  */
abstract class LakeWorkload(spark: SparkSession, a: Map[String, String])
    extends Workload {
  val root: String = a("root")
  val source: String = a("source")
  val target: String = a("target")
  // the first warm iteration still runs slower (JIT, codegen caches)
  val warmup = 1
  val minWarm = 3
  private var staged = true

  def prepare(run: Run): Unit = ()

  /** Put the lake back as the generator wrote it (not timed). */
  def restage(): Unit

  /** The pipeline call whose time is the workload's iteration. */
  def pipeline(): Array[Row]

  def iteration(run: Run, parent: String): Iter = {
    if (!staged) restage()
    staged = false
    val c = run.call("pipeline", parent)(pipeline())
    Iter(c.seconds, c.cpuSeconds, c.jitSeconds, c.acc.toSeq, c.pins,
      outcome(c.value))
  }

  /** Status rows (status, n, bytes) and the files under the target. */
  def outcome(status: Array[Row]): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("status", status.map(r => Seq[AnyRef](r.getString(0),
      Long.box(r.getLong(1)), Long.box(r.getLong(2))).asJava).toSeq.asJava)
    m.put("target", Harness.listFiles(root, target))
    m
  }

  /** The split-layer sequence of a traced run; leaves the lake in the
    * state one un-split iteration would.
    */
  def layerCalls(run: Run): (Seq[(String, (Double, String))], Array[Row])

  def layers(run: Run, traced: Seq[Iter]): Seq[(String, (Double, String))] = {
    restage()
    val (metrics, status) = layerCalls(run)
    // the split sequence is one more outcome for the checker
    lastLayerOutcome = Some(outcome(status))
    // the stage that runs the sink inside the un-split pipeline call
    val sinkTasks = Harness.median(
      traced.flatMap(_.accs).map(_.lastMapStageTasks.toDouble))
    metrics :+ ("movesink.tasks" -> (sinkTasks, "count"))
  }

  private var lastLayerOutcome: Option[java.util.Map[String, AnyRef]] = None

  override def finish(run: Run, out: java.util.Map[String, AnyRef]): Unit =
    lastLayerOutcome.foreach(o => out.put("layer_outcome", o))

  protected def results(rows: Seq[MoveResult]) = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  protected def plan(rows: Seq[(String, String)]) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }
}

/** Pipeline B: date window + SalesCompanyId filter, rename moves. */
final class LakeMove(spark: SparkSession, a: Map[String, String])
    extends LakeWorkload(spark, a) {
  private val after = Some(new Timestamp(a("after-ms").toLong))
  private val before = Some(new Timestamp(a("before-ms").toLong))
  private val company = Some(a("company"))

  def pipeline(): Array[Row] = {
    val (_, results) = Pipelines.pipelineB(spark, root, source, target,
      after, before, company)
    Report.statusCounts(results.get).collect()
  }

  /** Move every file under the target back to where it came from. */
  def restage(): Unit = {
    val base = new File(root).toPath
    val top = base.resolve(target)
    if (Files.exists(top)) {
      val s = Files.walk(top)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.foreach { p =>
        if (p.getFileName.toString.endsWith(".crc")) Files.delete(p)
        else {
          val back = base.resolve(source).resolve(top.relativize(p))
          Files.createDirectories(back.getParent)
          Files.move(p, back)
        }
      } finally s.close()
      Harness.deleteTree(top)
    }
  }

  def layerCalls(run: Run): (Seq[(String, (Double, String))], Array[Row]) = {
    val scan = run.call("listing.withContent", "layers") {
      Listing.withContent(spark, s"$root/$source")
        .agg(count(lit(1)), sum(length(col("content")))).collect().head
    }
    val decide = run.call("select.decide", "layers") {
      Pipelines.pipelineB(spark, root, source, target, after, before,
        company, dryRun = true)._1.select("src", "dst", "keep").collect()
    }
    val kept = decide.value.filter(_.getBoolean(2))
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val keptPlan = plan(kept)
    val move = run.call("movesink.move", "layers") {
      MoveSink.run(keptPlan, MoveSink.Move).collect()
    }
    val movedRows = results(move.value.toSeq)
    val status = run.call("report.status", "layers") {
      Report.statusCounts(movedRows).collect()
    }
    (Seq(
      "listing.withContent_s" -> (scan.seconds, "s"),
      "listing.files" -> (scan.value.getLong(0).toDouble, "count"),
      "listing.mb" -> (scan.value.getLong(1) / 1e6, "MB"),
      "select.decide_s" -> (decide.seconds, "s"),
      "select.kept" -> (kept.size.toDouble, "count"),
      "movesink.move_s" -> (move.seconds, "s"),
      "movesink.mb" -> (move.value.map(_.bytes).sum / 1e6, "MB"),
      "report.status_s" -> (status.seconds, "s")), status.value)
  }
}

/** Pipeline A in Copy mode: manifest semi-/anti-join against a
  * distributed listing, byte copies.
  */
final class ManifestCopy(spark: SparkSession, a: Map[String, String])
    extends LakeWorkload(spark, a) {
  private val manifest = a("manifest")

  def pipeline(): Array[Row] = {
    val (_, _, results) = Pipelines.pipelineA(spark, manifest, root,
      source, target, MoveSink.Copy)
    Report.statusCounts(results.get).collect()
  }

  /** Copies leave their sources; dropping the target restores the lake. */
  def restage(): Unit = Harness.deleteTree(new File(root).toPath.resolve(target))

  def layerCalls(run: Run): (Seq[(String, (Double, String))], Array[Row]) = {
    val paths = run.call("manifest.blobPaths", "layers") {
      Manifest.blobPaths(Manifest.read(spark, manifest), source).collect()
    }
    val listed = run.call("listing.listDistributed", "layers") {
      Listing.listDistributed(spark, s"$root/$source").collect()
    }
    val join = run.call("pipelines.exists_join", "layers") {
      val (found, notFound, _) = Pipelines.pipelineA(spark, manifest, root,
        source, target, dryRun = true)
      (found.collect(), notFound.count())
    }
    val (found, notFound) = join.value
    // the copy plan pipeline A would build, made by the program's own
    // path rewrite and materialized outside the timing
    val copyPlan = {
      import spark.implicits._
      plan(found.map(_.getString(0)).toSeq.toDF("path")
        .select(concat(lit(root + "/"), col("path")),
          concat(lit(root + "/"),
            Paths.rewriteFirstOccurrence(col("path"), source, target)))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
    }
    val copy = run.call("movesink.copy", "layers") {
      MoveSink.run(copyPlan, MoveSink.Copy).collect()
    }
    val copied = results(copy.value.toSeq)
    val status = run.call("report.status", "layers") {
      Report.statusCounts(copied).collect()
    }
    (Seq(
      "manifest.blobPaths_s" -> (paths.seconds, "s"),
      "manifest.rows" -> (paths.value.length.toDouble, "count"),
      "listing.listDistributed_s" -> (listed.seconds, "s"),
      "pipelines.exists_join_s" -> (join.seconds, "s"),
      "pipelines.found" -> (found.length.toDouble, "count"),
      "pipelines.not_found" -> (notFound.toDouble, "count"),
      "movesink.copy_s" -> (copy.seconds, "s"),
      "movesink.mb" -> (copy.value.map(_.bytes).sum / 1e6, "MB"),
      "report.status_s" -> (status.seconds, "s")), status.value)
  }
}
