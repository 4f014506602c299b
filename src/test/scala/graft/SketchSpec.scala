package graft

import org.apache.spark.sql.functions._

import graft.operators.{Kmv, Multimodal}

/** KMV bottom-k sketch, phrase search, and fixed-point spectrogram:
  * hand-checked fixtures + the algebraic laws the 100 TB story rests on
  * (sketch mergeability, index-vs-definition agreement, exact DFT).
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- KMV

  test("BottomKAgg: reduce dedupes, bounds at k, keeps the k smallest") {
    val a = new Kmv.BottomKAgg(3)
    var b = a.zero
    Seq(9L, 4L, 9L, 7L, 2L, 8L).foreach(v => b = a.reduce(b, v))
    assert(a.finish(b) == List(2L, 4L, 7L))
  }

  test("BottomKAgg: merge(sketch(A), sketch(B)) == sketch(A ++ B)") {
    val a = new Kmv.BottomKAgg(4)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val xs = Seq.fill(rnd.nextInt(20))(rnd.nextLong(1000L))
      val ys = Seq.fill(rnd.nextInt(20))(rnd.nextLong(1000L))
      def sk(vs: Seq[Long]) = vs.foldLeft(a.zero)(a.reduce)
      assert(a.finish(a.merge(sk(xs), sk(ys))) == a.finish(sk(xs ++ ys)),
        s"merge law failed for $xs / $ys")
    }
  }

  test("sketch is partitioning-invariant and estimate is exact below k") {
    val vals = (1L to 30L).map(i => s"v$i")
    val df1 = vals.toDF("v").repartition(1)
    val df7 = vals.toDF("v").repartition(7)
    def kept(df: org.apache.spark.sql.DataFrame) =
      Kmv.sketch(df, lit("g"), col("v"), 8).head().getSeq[Long](1)
    assert(kept(df1) == kept(df7))
    // below-k group: estimate == exact distinct
    val small = Seq("a", "b", "c", "a").toDF("v")
    val est = Kmv.sketch(small, lit("g"), col("v"), 8)
      .select(Kmv.estimate(col("kept"), 8)).head().getLong(0)
    assert(est == 3L)
  }

  test("hash52 matches the SQL-fragment nibble assembly") {
    // evaluate the Spark side and re-assemble the same 13 nibbles in scala
    val got = Seq("hello").toDF("v")
      .select(Kmv.hash52(col("v")), md5(col("v"))).head()
    val (h, hex) = (got.getLong(0), got.getString(1))
    val want = hex.take(13).foldLeft(0L)((acc, c) =>
      acc * 16 + java.lang.Long.parseLong(c.toString, 16))
    assert(h == want)
  }

  test("estimate engages above k and lands near the true cardinality") {
    val vals = (1L to 5000L).map(i => s"doc$i")
    val est = Kmv.sketch(vals.toDF("v"), lit("g"), col("v"), 64)
      .select(Kmv.estimate(col("kept"), 64)).head().getLong(0)
    // k=64 → relative sd ≈ 1/sqrt(k-2) ≈ 12.7%; assert within 4 sd
    assert(est > 2500 && est < 7500, s"estimate $est far from 5000")
  }

  // ------------------------------------------------------- phrase search

  test("phrase index join equals brute-force bigram counting") {
    val docs = Seq(
      (1L, "a b a b c"),  // "a b" ×2, "b a" ×1, "b c" ×1
      (2L, "a b"),        // "a b" ×1
      (3L, "c c c"),      // "c c" ×2
      (4L, "b")           // no bigram
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("sketchspec_docs")
    // reuse the query body against a temp dir is heavier than needed —
    // replicate the exact pipeline on the fixture frame instead
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
    val bigrams = toks.select(col("doc_id"),
        explode(expr("transform(sequence(0, size(tk) - 2), " +
          "i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val top = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc).limit(2)
      .select("w1", "w2")
    val postings = toks.select(col("doc_id"), posexplode(col("tk")))
      .toDF("doc_id", "pos", "term")
    val p2 = postings.toDF("d2", "pos2", "t2")
    val got = postings.join(broadcast(top), col("term") === col("w1"))
      .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
      .join(p2, col("d2") === col("doc_id") &&
        col("pos2") === col("pos") + 1 && col("t2") === col("w2"))
      .groupBy("w1", "w2")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // top-2 bigrams: "a b" (3 occ, 2 docs) and "c c" (2 occ, 1 doc)
    assert(got.toSeq == Seq(("a", "b", 2L, 3L), ("c", "c", 1L, 2L)))
  }

  test("t_phrase_search runs on the fixture and self-agrees") {
    val r = queries.SearchQueries.queries("t_phrase_search")(
      spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 5)
    assert(r.forall(row => row.getLong(3) >= row.getLong(2)),
      "occurrences must be >= containing docs")
  }

  // -------------------------------------------------------- spectrogram

  test("decodeSamples round-trips renderWav's closed-form PCM") {
    val id = 17L
    val got = Multimodal.decodeSamples(id, Multimodal.renderWav(id))
    val n = (id % 50 + 10).toInt
    val want = (0 until n).map(i => ((id * 31 + i * 17) % 65536 - 32768).toInt)
    assert(got.samples.contains(want))
  }

  test("8-point fixed-point DFT: constant frame has zero power in bins 1..3") {
    // cos/sin e3 tables each sum to 0 exactly, so a constant signal
    // contributes nothing outside DC — exact-integer claim, no epsilon
    val cos = Seq(1000, 707, 0, -707, -1000, -707, 0, 707)
    val sin = Seq(0, 707, 1000, 707, 0, -707, -1000, -707)
    for (k <- 1 to 3) {
      val x = (0 until 8).map(n => 5 * cos((k * n) % 8)).sum
      val y = (0 until 8).map(n => 5 * sin((k * n) % 8)).sum
      assert(x == 0 && y == 0, s"bin $k nonzero on constant frame")
    }
  }

  test("m_spectrogram: one frame recomputed by hand from decoded PCM") {
    val r = queries.MultimodalQueries.queries("m_spectrogram")(
      spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") === 3L && col("frame") === 0 && col("bin") === 1)
      .head()
    val cos = Seq(1000L, 707L, 0L, -707L, -1000L, -707L, 0L, 707L)
    val sin = Seq(0L, 707L, 1000L, 707L, 0L, -707L, -1000L, -707L)
    val s = (0 until 8).map(i => (3L * 31 + i * 17) % 65536 - 32768)
    val x = (0 until 8).map(n => s(n) * cos(n % 8)).sum
    val y = (0 until 8).map(n => s(n) * sin(n % 8)).sum
    assert(r.getLong(3) == x && r.getLong(4) == y)
    assert(r.getLong(5) == x * x + y * y)
  }

  // ---------------------------------------------------------------- HLL

  import graft.operators.Hll

  test("HLL registers are a pure function of the value SET (dup-invariant)") {
    val once = Seq("a", "b", "c", "d").map(("g", _)).toDF("g", "v")
    val dups = Seq("a", "a", "b", "c", "d", "d", "d").map(("g", _))
      .toDF("g", "v")
    val r1 = Hll.registers(once, col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
    val r2 = Hll.registers(dups, col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
    assert(r1.sameElements(r2))
  }

  test("HLL merge law: merge(sketch(A), sketch(B)) == sketch(A ∪ B)") {
    val xs = (0 until 400).map(i => ("x", s"val$i"))
    val ys = (200 until 600).map(i => ("y", s"val$i"))
    val parts = Hll.registers((xs ++ ys).toDF("g", "v"), col("g"), col("v"))
    val merged = Hll.merge(parts, "u")
      .collect().map(r => (r.getLong(1), r.getInt(2))).sorted
    val direct = Hll.registers(
      (xs ++ ys).map { case (_, v) => ("u", v) }.toDF("g", "v"),
      col("g"), col("v"))
      .collect().map(r => (r.getLong(1), r.getInt(2))).sorted
    assert(merged.sameElements(direct))
  }

  test("HLL estimate lands within the 1024-register error envelope") {
    // n = 20000 >> 2.5m, the raw-harmonic regime the sketch targets;
    // 1.04/sqrt(1024) ≈ 3.3% standard error — assert a loose 4σ band
    val n = 20000
    val df = (0 until n).map(i => ("g", s"item-$i")).toDF("g", "v")
    val est = Hll.estimate(Hll.registers(df, col("g"), col("v")))
      .head().getAs[Double]("est_distinct")
    assert(math.abs(est - n) < n * 0.14, s"est $est vs $n")
  }

  test("HLL rho/register algebra matches a reference implementation") {
    // independent Scala replay of the documented contract: md5-based
    // 52-bit hash, low 10 bits register, rho = 43 - bitlength(high 42)
    val vals = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val got = Hll.rhoRows(vals.map(("g", _)).toDF("g", "v"),
      col("g"), col("v"))
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    val want = vals.map { v =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(md.take(13), 16)
      val w = h / 1024
      val rho = if (w == 0) 43 else 43 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      (h % 1024, rho)
    }.toSet
    assert(got == want)
  }

  // ---------------------------------------------------------- count-min

  test("q_cms_freq: CMS point estimates never undercount (est >= exact)") {
    val rows = queries.SketchQueries.queries("q_cms_freq")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L,
        s"undercount at ${r.getAs[String]("key")}")
      assert(r.getAs[Long]("est") ==
        r.getAs[Long]("exact") + r.getAs[Long]("overcount"))
    }
  }

  test("CMS with width >= #keys and no collisions is exact per row") {
    // 4 keys over width 16: if no two keys share a bucket in a row,
    // that row's counter equals the exact count — verified by direct
    // bucket computation, independent of the query wiring
    val keys = Seq("k1", "k2", "k3", "k4")
    def bucket(d: Int, k: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cms$d:$k".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(md.take(13), 16) % 16
    }
    for (d <- 0 until 3; if keys.map(bucket(d, _)).distinct.size == keys.size) {
      val counts = Map("k1" -> 5, "k2" -> 3, "k3" -> 7, "k4" -> 1)
      val data = counts.toSeq.flatMap { case (k, n) => Seq.fill(n)(k) }
        .map(Tuple1(_)).toDF("key")
      val sk = data
        .select((Kmv.hash52(concat(lit(s"cms$d:"), col("key"))) % 16).as("b"))
        .groupBy("b").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      counts.foreach { case (k, n) =>
        assert(sk(bucket(d, k)) == n.toLong, s"row $d key $k")
      }
    }
  }

  test("CMS counters: every depth row counts each row once; probes never undercount") {
    // 23 distinct keys over width 16: every depth row has collisions
    val keys = (0 until 300).map(i => s"k${i % 23}")
    val sketch = graft.operators.Cms.counters(
        keys.map(Tuple1(_)).toDF("key"), col("key"), 3, 16)
      .localCheckpoint(true)
    val perDepth = sketch.collect()
      .groupBy(_.getAs[Int]("d")).map { case (d, rs) =>
        d -> rs.map(_.getAs[Long]("c")).sum }
    assert(perDepth === (0 until 3).map(_ -> keys.length.toLong).toMap)
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val est = graft.operators.Cms.probe(exact.keys.toSeq.toDF("key"), sketch,
        3, 16)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("est")).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (k, n) => assert(est(k) >= n, s"undercount at $k") }
  }
}
