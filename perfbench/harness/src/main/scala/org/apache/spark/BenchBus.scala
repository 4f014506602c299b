package org.apache.spark

/** Spark internals the benchmark's listener needs: the listener bus,
  * drained so every event of a call is seen before its counts are
  * read, the property naming a job's group, and the operation scopes
  * of a stage's RDDs.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The local property that carries a job's group. */
  val jobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Whether a stage runs a per-partition map over rows: the operation
    * scope Spark names `MapPartitions` (Dataset) or `mapPartitions` (RDD).
    */
  def mapsPartitions(info: scheduler.StageInfo): Boolean =
    info.rddInfos.exists(_.scope.exists(_.name.equalsIgnoreCase("mapPartitions")))
}
