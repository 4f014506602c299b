package graft

/** Plan-inspection utility: prints the formatted physical plan of one
  * or all SparkEntry queries. Used to keep plans honest at scale —
  * PushedFilters reaching the parquet scan, broadcast joins on
  * dimension tables, WholeStageCodegen spans covering the hot path.
  *
  *   sbt 'runMain graft.Explain [name[,name...]] [sfDir]'
  */
object Explain {

  /** The query names to explain, sorted when none are given. A
    * comma-separated list (one sbt/session spin-up per optimization
    * batch) is trimmed and its blanks dropped; an unknown name or a
    * list with no names fails here, before any session starts.
    */
  private[graft] def targets(arg: Option[String]): Seq[String] = {
    val known = SparkEntry.queries.keySet
    arg match {
      case None => known.toSeq.sorted
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(names.nonEmpty,
          s"no query name in '$list' (omit the argument to explain every query)")
        val unknown = names.filterNot(known)
        require(unknown.isEmpty,
          s"unknown query: ${unknown.mkString(", ")} (try: graft.Main query list)")
        names
    }
  }

  def main(args: Array[String]): Unit = {
    val names = targets(args.headOption)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Tables.session("local[4]", "4")
    val queries = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      if (SparkEntry.sideEffecting(n))
        println(s"(skipped: $n performs real file I/O when invoked — " +
          "run it through Verify/Bench instead)")
      else queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
