package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark work per job group. The harness names a job group around
  * every call it makes, so each call's jobs, stages and tasks are
  * counted apart. Only traced runs register it.
  */
final class Stats extends SparkListener {

  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var spillBytes = 0L
    /** stage id -> tasks ended */
    val stageTasks = mutable.Map.empty[Int, Long]
    /** stages that run a per-partition map over rows */
    val mapStages = mutable.Set.empty[Int]

    /** Tasks of the last stage that maps partitions. A file sink
      * (`MoveSink.run`) is a per-partition map downstream of any other
      * (a listing's), and stages are numbered parents first.
      */
    def lastMapStageTasks: Long =
      mapStages.maxOption.map(stageTasks.getOrElse(_, 0L)).getOrElse(0L)
  }

  private val groups = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(BenchBus.jobGroupKey)))
      .getOrElse("")

  private def acc(g: String): Acc = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(groupOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    acc(g).stages += 1
    if (BenchBus.mapsPartitions(e.stageInfo)) acc(g).mapStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    a.stageTasks(e.stageId) = a.stageTasks.getOrElse(e.stageId, 0L) + 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** The counts of one job group, once every event has been seen. */
  def take(sc: SparkContext, group: String): Acc = {
    BenchBus.drain(sc)
    synchronized(groups.remove(group).getOrElse(new Acc))
  }
}
