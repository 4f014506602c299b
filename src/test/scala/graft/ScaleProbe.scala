package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** On-demand 10× scaling probe (test scope — a measurement harness,
  * not a shipped operator). Replicates the sf0.1 fixtures tenfold in
  * /tmp with CONSISTENT key offsets (every foreign key shifts by the
  * same copy offset, so join selectivity per copy matches the
  * original) and times representative queries at both scales in one
  * session, min-of-2. The interesting output is the RATIO per query:
  * a scan/agg/join/window query whose plan is linear should land near
  * 10×; candidate-pair emitters whose OUTPUT grows quadratically in
  * duplication (exact 10× copies of every doc) are expected and
  * documented to exceed it.
  *
  * Run: sbt 'Test/runMain graft.ScaleProbe'
  * Results recorded in SCALE.md §17.
  */
object ScaleProbe {

  private val src = "/root/testdata/sf0.1"
  private val dst = "/tmp/graft_sf1x10"
  private val copies = 10
  private val off = 10000000L

  private def replicate(spark: SparkSession, name: String,
                        keyCols: Seq[String],
                        perturb: DataFrame => DataFrame = identity): Unit = {
    val base = spark.read.parquet(s"$src/$name.parquet")
    val out = (0 until copies).map { i =>
      val shifted = keyCols.foldLeft(base) { (df, kc) =>
        df.withColumn(kc, col(kc) + lit(i * off))
      }
      perturb(shifted.withColumn("copy_idx", lit(i)))
        .drop("copy_idx")
    }.reduce(_ unionByName _)
    out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.session("local[32]", "32")

    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      // region/nation are fixed-size in TPC-H: copy once, no offset
      Seq("region", "nation").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      replicate(spark, "customer", Seq("c_custkey"))
      replicate(spark, "supplier", Seq("s_suppkey"))
      replicate(spark, "part", Seq("p_partkey"))
      replicate(spark, "orders", Seq("o_orderkey", "o_custkey"))
      replicate(spark, "lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
      replicate(spark, "events", Seq("event_id", "user_id"))
      replicate(spark, "documents", Seq("doc_id"))
      // identical vectors would make every copy an exact tie bundle;
      // nudge component 0 per copy so the kNN structure is realistic
      replicate(spark, "embeddings", Seq("vec_id"), df =>
        df.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === 0, x + col("copy_idx").cast("float") * 0.001f)
              .otherwise(x))))
      println(s"[probe] generated $dst")
    }

    // default: the TOP-10 most expensive queries from the committed
    // BENCH_FULL.json — the standing end-of-round probe (VERDICT r9
    // #8): the queries that dominate the sweep are exactly the ones
    // whose scaling exponent must be on record. a_pipeline_move is
    // excluded (a 400-file E2E move against ITS OWN fixture tree —
    // replicating the parquet tables does not scale its input).
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq
      else {
        // only names still in the registry: a committed bench can lag
        // a rename/removal (it records the PREVIOUS gate's surface)
        val ref = Bench.readBenchTimes("BENCH_FULL.json")
          .filter { case (n, _) => SparkEntry.queries.contains(n) }
        if (ref.isEmpty)
          Seq("q1_pricing_summary", "q3_shipping_priority",
            "q5_region_revenue", "d_exact_groups", "d_jaccard_prefix",
            "d_minhash_lsh_pairs", "d_cdc_chunks", "t_tfidf_topk",
            "e_sessionize", "e_cusum_changepoint", "g_pagerank",
            "s_knn_graph")
        else ref.toSeq.filterNot(_._1 == "a_pipeline_move")
          .sortBy(-_._2).take(10).map(_._1)
      }

    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    // warm both file indexes
    Tables.all.foreach { t =>
      try { spark.read.parquet(s"$src/$t.parquet").count()
            spark.read.parquet(s"$dst/$t.parquet").count() }
      catch { case _: Throwable => () }
    }
    // exponent = log10(t10x / t1x): 1.0 is perfectly linear in data
    // volume, ~1 + log10(log10) ≈ 1.1 is n·log n, 2.0 is quadratic —
    // anything much above ~1.2 needs a plan note or a fix (SCALE.md)
    println(f"${"query"}%-22s ${"sf0.1"}%8s ${"10x"}%8s  ratio  exponent")
    names.foreach { n =>
      val a = time(n, src)
      val b = time(n, dst)
      println(f"$n%-22s $a%8.2f $b%8.2f  ${b / a}%5.1fx  ${math.log10(b / a)}%.2f")
    }
    spark.stop()
  }
}
