package graft

import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Sparse}

/** Hand-checked fixtures for k-means and sparse tf-idf retrieval. */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  test("kmeans: two obvious clusters, deterministic init and ties") {
    // 2-d points (padded to dim 4): two tight groups around (0,0) and
    // (10,10). k=2, init = first two by id — one seed in each group
    // after the first recompute regardless of seed placement.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 0f, 0f)), (1L, Seq(10.0f, 10.0f, 0f, 0f)),
      (2L, Seq(0.5f, 0.0f, 0f, 0f)), (3L, Seq(10.0f, 9.5f, 0f, 0f)),
      (4L, Seq(0.0f, 0.5f, 0f, 0f)), (5L, Seq(9.5f, 10.0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val (assign, model) = KMeans.fit(pts, k = 2, dim = 4, iters = 3)
    val byCid = assign.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byCid(0L) == byCid(2L) && byCid(2L) == byCid(4L))
    assert(byCid(1L) == byCid(3L) && byCid(3L) == byCid(5L))
    assert(byCid(0L) != byCid(1L))
    // centroid of the (0,0) group: mean of the three points
    val c0 = model(byCid(0L))
    assert(math.abs(c0.head - 0.5 / 3) < 1e-9)
    // invariant under partitioning
    val (a7, _) = KMeans.fit(pts.repartition(7), k = 2, dim = 4, iters = 3)
    assert(a7.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq ==
      assign.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .sortBy(_._1).toSeq)
  }

  test("kmeans: empty cluster keeps its previous centroid") {
    // k=3 but only two distinct locations: one seed never wins a point
    // after recompute; fit must not throw and must keep that centroid.
    val pts = Seq(
      (0L, Seq(0.0f, 0f)), (1L, Seq(0.1f, 0f)), (2L, Seq(100.0f, 0f)),
      (3L, Seq(100.1f, 0f))).toDF("vec_id", "embedding")
    val (assign, model) = KMeans.fit(pts, k = 3, dim = 2, iters = 4)
    assert(model.size == 3)
    assert(assign.count() == 4)
  }

  test("kmeans: validates parameters") {
    val pts = Seq((0L, Seq(0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      KMeans.fit(pts, k = 0, dim = 1, iters = 1)
    }
    intercept[IllegalArgumentException] { // corpus smaller than k
      KMeans.fit(pts, k = 5, dim = 1, iters = 1)
    }
    intercept[IllegalArgumentException] { // dim disagrees with the data
      KMeans.fit(pts, k = 1, dim = 3, iters = 1)
    }
    intercept[IllegalArgumentException] { // mixed-dim model
      KMeans.assignTo(pts, Map(0 -> Seq(0.0), 1 -> Seq(0.0, 1.0)))
    }
  }

  test("kmeans model artifact: assign-from-artifact == assign-from-fit") {
    // the lifecycle law for the persisted model: doubles round-trip
    // parquet exactly, so routing a batch through the written-then-read
    // centroids is BIT-equal to assigning against the in-memory fit
    val dir = "/root/testdata/sf0.01"
    val pts = Tables.t(spark, dir, "embeddings")
    val (assign, model) = KMeans.fit(pts, k = 8, dim = 64, iters = 5)
    val path = TempDirs.dir("km-model").toString
    KMeans.writeModel(spark, path, model, assign)
    val (rt, stats) = KMeans.readModel(spark, path)
    assert(rt === model, "centroids must round-trip parquet bit-exactly")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(rows(KMeans.assignTo(pts, rt)) === rows(assign))
    // stats are the exact per-cluster census of the training assignment
    val byCid = assign.collect().groupBy(_.getInt(1))
    stats.collect().foreach { r =>
      val g = byCid(r.getInt(0))
      assert(r.getLong(1) === g.length.toLong)
      val mean = BigDecimal(g.map(x => BigDecimal(x.getDouble(2))).sum
        .toDouble / g.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - mean) < 1e-6)
    }
    assert(stats.count() === byCid.size.toLong)
  }

  test("sparse topK: unbounded cuts equal brute-force tf-idf cosine") {
    // with championK covering every term and candK >= corpus, the
    // champion/candidate cuts admit everything — the result must be
    // EXACTLY the brute-force tf-idf cosine ranking, computed here
    // independently on the driver.
    val texts = Vector(
      "w x y z", "w x y", "a b c d e", "w a b x", "y z z y w",
      "c d e", "x x w z", "a e c b")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Sparse.topK(docs, "doc_id", "text",
      queryPred = col("doc_id") < 3, k = 4,
      championK = 1000, candK = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

    // driver-side brute force (plain double math — ranking comparison
    // only, similarity values are checked through the oracle gate)
    val n = texts.length.toDouble
    val tf = texts.map(_.split(" ").filter(_.nonEmpty)
      .groupBy(identity).map { case (t, o) => t -> o.length.toDouble })
    val dfreq = tf.flatMap(_.keys).groupBy(identity)
      .map { case (t, o) => t -> o.size.toDouble }
    val w = tf.map(_.map { case (t, f) => t -> f * math.log(n / dfreq(t)) })
    def cos(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.keysIterator.filter(b.contains)
        .map(t => a(t) * b(t)).sum
      dot / (math.sqrt(a.values.map(x => x * x).sum) *
        math.sqrt(b.values.map(x => x * x).sum))
    }
    for (q <- 0 until 3) {
      val expected = (0 until texts.length).filter(_ != q)
        .map(c => (c.toLong, cos(w(q), w(c))))
        .filter(_._2 > 0)
        .sortBy { case (c, s) => (-math.rint(s * 1e6), c) }
        .take(4).map(_._1)
      val gotRanks = (1 to expected.length)
        .map(r => got((q.toLong, r)))
      assert(gotRanks == expected,
        s"query $q: got $gotRanks expected $expected")
    }
  }

  test("sparse topK: identical docs rank first, self excluded") {
    val docs = Seq(
      (0L, "apple banana cherry"),
      (1L, "apple banana cherry"),
      (2L, "dog eats dog food daily"),
      (3L, "apple banana melon")
    ).toDF("doc_id", "text")
    val got = Sparse.topK(docs, "doc_id", "text",
      queryPred = col("doc_id") === 0, k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.length == 2)
    assert(got(0)._2 == 1L && got(0)._3 == 1.0) // exact duplicate: cos 1
    assert(got(1)._2 == 3L && got(1)._3 < 1.0)  // shares 2 of 3 terms
  }
}
