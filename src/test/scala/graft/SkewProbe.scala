package graft

import org.apache.spark.sql.functions._

/** On-demand mega-host SKEW probe (test scope — a measurement
  * harness, not a shipped operator): times the crawl schedule's
  * BANDED per-host rank against the naive single-window rank on a
  * wave where ONE host owns 90% of the urls — the most common crawl
  * skew, and the exact shape that put a whole host's sort into one
  * task before round 16. Both plans produce identical ranks
  * (CrawlWaveSpec proves row-for-row equality); this probe records
  * the wall-clock difference and the banded plan's scaling.
  *
  * Run: sbt 'Test/runMain graft.SkewProbe [nRows]'
  * Results recorded in SCALE.md §48.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = Tables.session("local[32]", "32")

    // 90% of the wave on one host, the rest across 1000 small hosts
    val wave = spark.range(n).select(
        when(col("id") % 10 < 9, lit("mega.org"))
          .otherwise(concat(lit("t"), col("id") % 1000, lit(".org")))
          .as("host"),
        concat(lit("https://h/"), col("id")).as("url"),
        lit(true).as("fetch"))
      .localCheckpoint(true) // isolate rank cost from generation

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    import org.apache.spark.sql.expressions.Window
    val naive = wave.withColumn("rank", row_number().over(
      Window.partitionBy(col("host"), col("fetch"))
        .orderBy(md5(col("url")).asc, col("url").asc)))
    val banded = Pipelines.bandedRank(wave, Seq("host", "fetch"), "rank")

    // warm both paths once, then min-of-2
    noop(naive); noop(banded)
    val tn = math.min(time(noop(naive)), time(noop(naive)))
    val tb = math.min(time(noop(banded)), time(noop(banded)))
    println(f"rows=$n  naive-single-window=$tn%.2f s  banded=$tb%.2f s  speedup=${tn / tb}%.2fx")
    spark.stop()
  }
}
