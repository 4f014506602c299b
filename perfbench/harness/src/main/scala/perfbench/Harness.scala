package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Tables

/** One benchmark run in one fresh JVM: set-up, one cold iteration, the
  * warm iterations for `--seconds` (when `--trace 1`, each followed
  * by one under the benchmark's listener), then, traced, each layer's
  * public call on its own. It writes what it measured and
  * what the checker needs to `--out`; the checks run after it exits.
  *
  * Arguments come in `--key value` pairs; run.py passes them.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder().appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, jvmStartMs)
    val wl: Workload = a("workload") match {
      case "lake_move" => new LakeMove(spark, a)
      case "manifest_copy" => new ManifestCopy(spark, a)
      case "query_tail" => new QueryTail(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    wl.prepare(run)
    val setupS = run.now
    run.span("setup", "run", 0.0, setupS)

    val iters = mutable.ArrayBuffer.empty[Iter]
    iters ++= run.phase("cold")(Seq(wl.iteration(run, "cold")))
    val warmup = run.phase("warmup")((1 to wl.warmup).map(_ => wl.iteration(run, "warmup")))
    iters ++= warmup
    // A traced run pairs each warm iteration with one under the
    // benchmark's listener, in the order plain-traced, traced-plain,
    // plain-traced, ...: both groups share the JVM's drift, so their
    // medians differ by the listener's cost.
    val stats = new Stats
    def underStats(body: => Iter): Iter = {
      spark.sparkContext.addSparkListener(stats)
      run.stats = Some(stats)
      try body
      finally {
        spark.sparkContext.removeSparkListener(stats)
        run.stats = None
      }
    }
    val measured = mutable.ArrayBuffer.empty[Iter]
    val tracedIters = mutable.ArrayBuffer.empty[Iter]
    run.phase("warm") {
      val t0 = run.now
      def plain(): Unit = { measured += wl.iteration(run, "warm"); iters += measured.last }
      def withStats(): Unit = {
        tracedIters += underStats(wl.iteration(run, "warm"))
        iters += tracedIters.last
      }
      while (measured.size < wl.minWarm || run.now - t0 < seconds) {
        if (traced && measured.size % 2 == 1) { withStats(); plain() }
        else { plain(); if (traced) withStats() }
      }
    }
    val peakRssMb = vmHwmMb()

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("setup_jvm_s", Double.box(setupS))
    // CPU time is the program's own, the JIT compiler's left out: the
    // compiler works through its queue in the background, busy through
    // the cold iteration and the first warm ones, so how much of its
    // work lands in an iteration follows that iteration's wall time
    val cold = iters.head
    def each(f: Iter => Double) = measured.map(i => Double.box(f(i))).asJava
    out.put("cold_s", Double.box(cold.seconds))
    out.put("cold_cpu_s", Double.box(cold.cpuSeconds - cold.jitSeconds))
    out.put("cold_jit_s", Double.box(cold.jitSeconds))
    out.put("warmup_s", warmup.map(i => Double.box(i.seconds)).asJava)
    out.put("warm_s", each(_.seconds))
    out.put("warm_cpu_s", each(i => i.cpuSeconds - i.jitSeconds))
    out.put("warm_jit_s", each(_.jitSeconds))
    out.put("peak_rss_mb", Double.box(peakRssMb))

    if (traced) {
      val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
      def med(f: Iter => Double) = median(tracedIters.map(f).toSeq)
      def sum(f: Stats#Acc => Double)(i: Iter) = i.accs.map(f).sum
      layer("spark.jobs") = (med(sum(_.jobs.toDouble)), "count")
      layer("spark.stages") = (med(sum(_.stages.toDouble)), "count")
      layer("spark.tasks") = (med(sum(_.tasks.toDouble)), "count")
      layer("spark.task_cpu_s") = (med(sum(_.cpuNs / 1e9)), "s")
      layer("spark.gc_s") = (med(sum(_.gcMs / 1e3)), "s")
      layer("spark.shuffle_mb") = (med(sum(_.shuffleBytes / 1e6)), "MB")
      layer("spark.input_mb") = (med(sum(_.inputBytes / 1e6)), "MB")
      layer("spark.spill_mb") = (med(sum(_.spillBytes / 1e6)), "MB")
      layer("spark.pins") = (med(_.pins.toDouble), "count")
      val tracedWarm = med(_.seconds)
      layer("trace.warm_s") = (tracedWarm, "s")
      layer("trace.overhead_pct") =
        (100.0 * (tracedWarm / median(measured.map(_.seconds).toSeq) - 1.0), "%")
      layer ++= run.phase("layers")(wl.layers(run, tracedIters.toSeq))
      val pl = new java.util.LinkedHashMap[String, AnyRef]()
      layer.foreach { case (k, (v, u)) =>
        pl.put(k, Seq[AnyRef](Double.box(v), u).asJava) }
      out.put("per_layer", pl)
      run.span("run", "", 0.0, run.now)
      writeSpans(run, a("spans"))
    }
    out.put("iterations", iters.map(i => i.check: AnyRef).asJava)
    wl.finish(run, out)
    Files.write(new File(a("out")).toPath,
      new ObjectMapper().writeValueAsString(out).getBytes(UTF_8))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def writeSpans(run: Run, path: String): Unit = {
    val m = new ObjectMapper()
    val lines = run.spans.map { case (name, parent, s, e) =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      o.put("name", name); o.put("parent", parent)
      o.put("start_s", Double.box(s)); o.put("end_s", Double.box(e))
      m.writeValueAsString(o)
    }
    Files.write(new File(path).toPath, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Delete a directory tree; absent is fine. */
  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Lake-relative path -> size of every file under `root/dir`, leaving
    * out the `.crc` checksum side files Hadoop's local filesystem writes.
    */
  def listFiles(root: String, dir: String): java.util.Map[String, AnyRef] = {
    val base = new File(root).toPath
    val out = new java.util.TreeMap[String, AnyRef]()
    val top = base.resolve(dir)
    if (Files.exists(top)) {
      val s = Files.walk(top)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.endsWith(".crc"))
        .foreach(p => out.put(base.relativize(p).toString, Long.box(Files.size(p))))
      finally s.close()
    }
    out
  }
}

/** One un-split iteration: its wall time, its CPU time (the JVM and
  * the children it waited for) and the JIT compiler's share of that,
  * the Spark work of each call it made (traced only), the persistent
  * RDDs its calls left, and what the checker needs to judge its outcome.
  */
final case class Iter(seconds: Double, cpuSeconds: Double, jitSeconds: Double,
                      accs: Seq[Stats#Acc], pins: Int,
                      check: java.util.Map[String, AnyRef])

final case class Call[T](value: T, seconds: Double, cpuSeconds: Double,
                         jitSeconds: Double, acc: Option[Stats#Acc], pins: Int)

/** Timing, job groups and spans for the calls the harness makes. */
final class Run(val spark: SparkSession, jvmStartMs: Long) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime
  private val t0S = (System.currentTimeMillis - jvmStartMs) / 1e3
  private var seq = 0
  var stats: Option[Stats] = None
  val spans = mutable.ArrayBuffer.empty[(String, String, Double, Double)]

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Clock ticks per second of the times in `/proc` (USER_HZ). */
  private val Hz = 100.0

  /** Command name and the fields after it (the first is field 3, the
    * state) of a `/proc/.../stat` file.
    */
  private def stat(path: String): (String, Array[String]) = {
    val s = new String(Files.readAllBytes(new File(path).toPath), UTF_8)
    (s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')),
      s.substring(s.lastIndexOf(')') + 2).split(" "))
  }

  /** CPU seconds used so far by this JVM and by the child processes it
    * has waited for (the `chmod`s Hadoop's local filesystem forks).
    */
  def cpu: Double = {
    val (_, f) = stat("/proc/self/stat")
    // cutime and cstime, fields 16 and 17
    os.getProcessCpuTime / 1e9 + (f(13).toLong + f(14).toLong) / Hz
  }

  /** CPU seconds used so far by the JIT compiler's threads. The JVM
    * options run.py passes fix their number, so none ends and takes its
    * count with it.
    */
  def jitCpu: Double =
    Option(new File("/proc/self/task").list()).toSeq.flatten.map { t =>
      try {
        val (name, f) = stat(s"/proc/self/task/$t/stat")
        // utime and stime, fields 14 and 15
        if (name.contains("CompilerThre")) (f(11).toLong + f(12).toLong) / Hz
        else 0.0
      } catch { case _: java.io.IOException => 0.0 } // a thread that ended
    }.sum

  /** Seconds since the JVM was launched. */
  def now: Double = t0S + (System.nanoTime - t0Ns) / 1e9

  def span(name: String, parent: String, s: Double, e: Double): Unit =
    spans += ((name, parent, s, e))

  /** A span around a phase of the run; the calls in it name it parent. */
  def phase[T](name: String)(body: => T): T = {
    val s = now
    val v = body
    span(name, "run", s, now)
    v
  }

  /** Run `body` under its own job group and time it. The persistent
    * RDDs it leaves are counted, then dropped outside the timing, so
    * every call starts from an empty block cache.
    */
  def call[T](name: String, parent: String)(body: => T): Call[T] = {
    val group = s"$name#$seq"
    seq += 1
    // every call starts on a collected heap, so a collection the
    // previous call left due does not land in this one's time
    System.gc()
    sc.setJobGroup(group, name)
    val j0 = jitCpu
    val c0 = cpu
    val s = now
    val v = try body finally sc.clearJobGroup()
    val e = now
    val c1 = cpu
    val j1 = jitCpu
    span(name, parent, s, e)
    val acc = stats.map(_.take(sc, group))
    val pins = sc.getPersistentRDDs.size
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Call(v, e - s, c1 - c0, j1 - j0, acc, pins)
  }
}

trait Workload {
  /** Warm iterations run and left out before the measured ones. */
  def warmup: Int
  /** Fewest measured warm iterations, however long they take. */
  def minWarm: Int
  def prepare(run: Run): Unit
  def iteration(run: Run, parent: String): Iter
  /** Per-layer metrics of a traced run. */
  def layers(run: Run, traced: Seq[Iter]): Seq[(String, (Double, String))]
  def finish(run: Run, out: java.util.Map[String, AnyRef]): Unit = ()
}
