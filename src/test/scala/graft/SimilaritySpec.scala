package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Double])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("s_rrf_hybrid: fused score matches rank formula, descending order") {
    val rows = graft.queries.SimilarityQueries.queries("s_rrf_hybrid")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 15)
    def rrfOf(r: org.apache.spark.sql.Row): Double = {
      def part(i: Int) =
        if (r.isNullAt(i)) 0.0 else 1.0 / (60 + r.getInt(i))
      part(1) + part(2)
    }
    rows.foreach(r => assert(r.getDouble(3) === rrfOf(r)))
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("cosine: orthogonal 0, parallel 1, antiparallel -1") {
    val df = vecs(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(2.0, 0.0)), (4L, Seq(-1.0, 0.0)))
    val a = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(a((1L, 2L)) === 0.0)
    assert(a((1L, 3L)) === 1.0)
    assert(a((1L, 4L)) === -1.0)
  }

  test("cosineTopK: nearest first, self excluded, id tiebreak") {
    val df = vecs(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.9, 0.1)),   // closest to 1
      (3L, Seq(0.5, 0.5)),
      (4L, Seq(0.0, 1.0)))   // farthest from 1
    val top = Similarity.cosineTopK(df.filter(col("vec_id") === 1), df, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq === Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  test("signBucket groups by leading-dim signs; annTopK stays in bucket") {
    val df = vecs(
      (1L, Seq(1.0, 1.0, 1.0)), (2L, Seq(2.0, 1.0, 0.5)),
      (3L, Seq(-1.0, 1.0, 1.0)))
    val ann = Similarity.annTopK(df.filter(col("vec_id") === 1), df, k = 5, bits = 2)
      .collect().map(r => r.getLong(3))
    assert(ann.toSeq === Seq(2L)) // 3 is in bucket "01", unreachable
  }

  test("ivfTopK: clustered corpus — same top-1 as brute force") {
    import spark.implicits._
    // three well-separated clusters around e1, e2, e3
    val rows = for {
      c <- 0 until 3
      i <- 0 until 20
    } yield {
      val base = Array.fill(3)(0.05 * ((i * 7 + c) % 5))
      base(c) = 1.0 + 0.01 * i
      ((c * 100 + i).toLong, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id").isin(0L, 100L, 200L))
    val ivf = Similarity.ivfTopK(queries, df, k = 1, nLists = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val brute = Similarity.cosineTopK(queries, df, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ivf === brute)
  }

  test("multi-probe recovers cross-hyperplane neighbors exact-bucket misses") {
    import spark.implicits._
    val df = vecs(
      (1L, Seq(0.01, 1.0)),   // bucket "11"
      (2L, Seq(-0.01, 0.98)), // bucket "01" — just across the dim-0 plane
      (3L, Seq(-1.0, -1.0)))  // bucket "00" — far away
    val q = df.filter(col("vec_id") === 1)
    val exact = Similarity.annTopK(q, df, k = 3, bits = 2)
      .collect().map(_.getLong(3))
    assert(!exact.contains(2L)) // exact bucket misses the true neighbor
    val multi = Similarity.annTopKMultiProbe(q, df, k = 3, bits = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(multi.toSeq === Seq((1, 2L))) // found; vec 3 still pruned
  }

  test("ivfTopKWithCentroids: nProbe=1 misses cross-list neighbor, nProbe=2 finds it") {
    import spark.implicits._
    // two centroids on the axes; query sits near e1 but its true
    // neighbor landed in the e2 list — only the second probe reaches it
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val df = vecs(
      (1L, Seq(0.9, 0.8)),   // query: list 0 (closer to e1)
      (2L, Seq(0.8, 0.9)),   // true neighbor: list 1
      (3L, Seq(1.0, 0.1)))   // same-list filler, farther in cosine
    val q = df.filter(col("vec_id") === 1)
    val one = Similarity.ivfTopKWithCentroids(q, df, k = 1, nProbe = 1, cents)
      .collect().map(_.getLong(3))
    assert(one.toSeq === Seq(3L)) // best within list 0 only
    val two = Similarity.ivfTopKWithCentroids(q, df, k = 1, nProbe = 2, cents)
      .collect().map(_.getLong(3))
    assert(two.toSeq === Seq(2L)) // second probe reaches list 1
  }

  test("pqTopKWithCodebooks: exact codeword match ranks first; top-1 recall high") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val e = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val subs = spark.range(0, 4).select(col("id").cast("int").as("sub"))
    val books = e.filter(col("vec_id") < 16).crossJoin(subs)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        slice(col("embedding"), col("sub") * 16 + 1, lit(16)).as("cw"))
    val q = e.filter(col("vec_id") < 20)
    def top1(rerank: Int): Map[Long, Long] =
      Similarity.pqTopKWithCodebooks(q, e, k = 1, rerank, books, m = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val exact = Similarity.cosineTopK(q, e, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // rerank = |corpus| keeps every candidate → the exact rerank IS
    // brute force: results must match exactly (the correctness anchor)
    assert(top1(500) === exact)
    // untrained random-slice codebooks are a coarse quantizer; recall
    // at small rerank is imperfect but must be real and must grow as
    // the rerank budget widens (the PQ quality/IO dial)
    val r10 = top1(10).count { case (k0, v) => exact(k0) == v }
    val r50 = top1(50).count { case (k0, v) => exact(k0) == v }
    assert(r10 >= 5, s"top-1 recall@10 $r10/20")
    assert(r50 >= r10, s"recall@50 $r50 < recall@10 $r10")
  }

  test("cosineNearDupPairs: scaled copy detected exactly") {
    val base = vecs((1L, Seq(0.3, -0.2, 0.9)), (2L, Seq(-0.5, 0.1, 0.2)))
    val withCopy = base.union(
      base.select((col("vec_id") + 100).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0)).as("embedding")))
    val pairs = Similarity.cosineNearDupPairs(withCopy, threshold = 0.999, bits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 101L), (2L, 102L)))
  }

  test("sq8Encode: codes bounded 0..255, dequant error ≤ scale/2 per dim") {
    val df = vecs(
      (1L, Seq(-1.0, 0.0, 0.5, 1.0)),
      (2L, Seq(3.0, 3.0, 3.0, 3.0)))   // constant vector → scale 0
    val enc = Similarity.sq8Encode(df).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getSeq[Int](3))).toMap
    val (lo1, sc1, c1) = enc(1L)
    assert(lo1 === -1.0 && c1.forall(c => c >= 0 && c <= 255))
    assert(c1.head === 0 && c1.last === 255)
    Seq(-1.0, 0.0, 0.5, 1.0).zip(c1).foreach { case (x, c) =>
      assert(math.abs(x - (lo1 + c * sc1)) <= sc1 / 2 + 1e-12) }
    val (_, sc2, c2) = enc(2L)
    assert(sc2 === 0.0 && c2.forall(_ == 0))
  }

  test("sq8TopK: rerank restores the exact top-k on a small corpus") {
    val df = vecs(
      (1L, Seq(1.0, 0.02, -0.3)), (2L, Seq(0.95, 0.05, -0.28)),
      (3L, Seq(0.1, 0.99, 0.4)), (4L, Seq(-0.7, 0.2, 0.6)),
      (5L, Seq(0.9, -0.1, -0.4)), (6L, Seq(0.0, -1.0, 0.2)))
    val q = df.filter(col("vec_id") === 1)
    val exact = Similarity.cosineTopK(q, df, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    val sq8 = Similarity.sq8TopK(q, df, k = 3, rerank = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(sq8 === exact)
    // exact cos and compressed-domain cos agree to quantization noise
    val errs = Similarity.sq8TopK(q, df, k = 3, rerank = 2).collect()
      .map(r => math.abs(r.getDouble(3) - r.getDouble(4)))
    assert(errs.forall(_ < 0.02), errs.toSeq)
  }

  test("matryoshkaTopK: full rerank budget restores the exact top-k; exact cos emitted") {
    val df = vecs(
      (1L, Seq(1.0, 0.02, -0.3, 0.4)), (2L, Seq(0.95, 0.05, -0.28, 0.41)),
      (3L, Seq(0.1, 0.99, 0.4, -0.2)), (4L, Seq(-0.7, 0.2, 0.6, 0.3)),
      (5L, Seq(0.9, -0.1, -0.4, 0.1)), (6L, Seq(0.0, -1.0, 0.2, -0.6)))
    val q = df.filter(col("vec_id") === 1)
    val exact = Similarity.cosineTopK(q, df, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // rerank budget = whole corpus ⇒ recall 1 regardless of truncation
    val mat = Similarity.matryoshkaTopK(q, df, k = 3, mDims = 2, rerank = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(mat === exact)
  }

  test("mmrRerank skips the near-duplicate of an already-selected hit") {
    // 2 ≈ 3 (near-identical, both highly relevant to 1); 4 is less
    // relevant but diverse; 5 is irrelevant
    val df = vecs(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.98, 0.20, 0.0)),
      (3L, Seq(0.97, 0.21, 0.0)),
      (4L, Seq(0.5, -0.8, 0.3)),
      (5L, Seq(-0.9, 0.1, 0.4)))
    val q = df.filter(col("vec_id") === 1)
    val relOrder = Similarity.cosineTopK(q, df, k = 2)
      .collect().map(_.getLong(2)).toSeq
    assert(relOrder === Seq(2L, 3L)) // pure relevance keeps the near-dup
    val mmr = Similarity.mmrRerank(q, df, k = 2, poolSize = 4, lambda = 0.5)
      .orderBy("sel_round").collect().map(_.getLong(2)).toSeq
    assert(mmr === Seq(2L, 4L), s"got $mmr") // diversity evicts 3 for 4
  }

  test("semdedupKeepers: one keeper per bucket, the centroid-closest member") {
    // 1,2,3 share the all-positive sign bucket; 2 sits between 1 and 3
    // so it is nearest the bucket centroid. 4 is alone in its bucket.
    val df = vecs(
      (1L, Seq(1.0, 0.1, 0.1)), (2L, Seq(1.0, 0.3, 0.3)),
      (3L, Seq(1.0, 0.5, 0.5)), (4L, Seq(-1.0, 0.2, 0.2)))
    val out = Similarity.semdedupKeepers(df, bits = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 2)
    assert(out("111") === ((2L, 3L)))  // keeper 2 of 3 members
    assert(out("011") === ((4L, 1L)))
  }

  test("randomProjection: deterministic, scaled, distance-preserving-ish") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (1L to 40L).map(i => (i, Seq.fill(64)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val p1 = Similarity.randomProjection(df, 16, 64, seed = 42L)
      .orderBy("id").collect()
    val p2 = Similarity.randomProjection(df, 16, 64, seed = 42L)
      .orderBy("id").collect()
    assert(p1.map(_.toString).toSeq === p2.map(_.toString).toSeq) // seed → same
    // JL: squared norms preserved in expectation; check median ratio
    val orig = df.orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).map(x => x * x).sum)
    val proj = p1.map(r => (1 to 16).map(j => {
      val c = r.getDouble(j); c * c }).sum)
    val ratios = orig.zip(proj).map { case (o, p) => p / o }.sorted
    val median = ratios(ratios.length / 2)
    assert(median > 0.6 && median < 1.4, s"median distortion $median")
  }

  test("mmrRerank round 1 is the pure-relevance top hit, k rows per query") {
    val df = vecs((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.2, 0.9)), (4L, Seq(-0.5, 0.5)))
    val out = Similarity.mmrRerank(df.filter(col("vec_id") <= 2), df,
      k = 3, poolSize = 3, lambda = 0.7).collect()
    assert(out.length === 6)
    val r1 = out.filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r1 === Map(1L -> 2L, 2L -> 1L))
  }

  test("ivfpqTopK: k rows per query, no duplicate pairs, useful recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    val subs = spark.range(0, 4).select(col("id").cast("int").as("sub"))
    val books = Similarity.ivfResiduals(
        e.filter(col("vec_id") >= 16 && col("vec_id") < 32), cents)
      .crossJoin(subs)
      .select(col("sub"), col("id").cast("int").as("code"),
        slice(col("rv"), col("sub") * 16 + 1, lit(16)).as("cw"))
    val queries = e.filter(col("vec_id") < 20)
    val approx = Similarity.ivfpqTopK(queries, e, k = 3, rerank = 10,
      nProbe = 2, centroids = cents, codebooks = books, m = 4).collect()
    assert(approx.map(_.getLong(0)).distinct.length === 20)
    assert(approx.length === 60)                        // k per query
    assert(approx.map(r => (r.getLong(0), r.getLong(2))).distinct.length
      === 60)                                            // no dup pairs
    // recall@3 vs brute force: nProbe=2 of 16 lists covers ~12.5% of
    // an UNCLUSTERED random corpus, so chance recall is ~7-8/60; the
    // floor asserts genuine centroid signal (measured 19/60), not
    // production recall — real embeddings cluster, random ones don't
    val exact = Similarity.cosineTopK(queries, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hit = approx.map(r => (r.getLong(0), r.getLong(2)))
      .count(exact.contains)
    assert(hit >= 13, s"recall@3 at or below chance: $hit/60")
    // rerank is exact cosine: emitted cos equals the true cosine
    val truth = Similarity.cosineTopK(queries, e, k = 200)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    approx.foreach { r =>
      val c = truth((r.getLong(0), r.getLong(2)))
      assert(math.abs(c - r.getDouble(3)) < 1e-12)
    }
  }

  test("ivfpqTopK: dim/codebook contract violations fail loudly") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    def booksFor(m: Int, subLen: Int) = {
      val subs = spark.range(0, m).select(col("id").cast("int").as("sub"))
      Similarity.ivfResiduals(
          e.filter(col("vec_id") >= 4 && col("vec_id") < 8), cents)
        .crossJoin(subs)
        .select(col("sub"), col("id").cast("int").as("code"),
          slice(col("rv"), col("sub") * subLen + 1, lit(subLen)).as("cw"))
    }
    // dim=64 with m=5, subLen=12 → 60 ≠ 64: the trailing 4 components
    // would silently drop from code assignment — must refuse instead
    val dimErr = intercept[IllegalArgumentException] {
      Similarity.ivfpqTopK(e.filter(col("vec_id") < 2), e, k = 1,
        rerank = 4, nProbe = 1, centroids = cents,
        codebooks = booksFor(5, 12), m = 5)
    }
    assert(dimErr.getMessage.contains("m*subLen"))
    // codebooks covering subspaces 0..2 with m=4 → missing subspace 3
    val missErr = intercept[IllegalArgumentException] {
      Similarity.ivfpqTopK(e.filter(col("vec_id") < 2), e, k = 1,
        rerank = 4, nProbe = 1, centroids = cents,
        codebooks = booksFor(3, 16), m = 4)
    }
    assert(missErr.getMessage.contains("subspaces"))
  }

  test("binaryCodes/hammingTopK: packing matches Long.bitCount model, sign-twin is top-1") {
    import spark.implicits._
    // hand-built 64-dim vectors with known sign patterns
    def vec(signs: Int => Boolean): Seq[Double] =
      (0 until 64).map(i => if (signs(i)) 1.0 else -1.0)
    val rnd = new scala.util.Random(7)
    val base = (0 until 64).map(_ => rnd.nextBoolean())
    val rows = Seq(
      (0L, vec(base)),                                   // query
      (1L, vec(i => if (i < 3) !base(i) else base(i))),  // hamming 3
      (2L, vec(i => !base(i))),                          // hamming 64
      (3L, vec(base).updated(10, 0.0)))                  // zero dim: bit clear
      .toDF("vec_id", "embedding")
    // packing model: reference Long.bitCount over the sign bits
    def words(v: Seq[Double]): (Long, Long) = {
      def pack(off: Int) = (0 until 32).foldLeft(0L)((acc, i) =>
        if (v(off + i) > 0) acc | (1L << i) else acc)
      (pack(0), pack(32))
    }
    val got = rows.select(col("vec_id") +:
        Similarity.binaryCodes(col("embedding"), 64): _*)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq((0L, vec(base)), (1L, vec(i => if (i < 3) !base(i) else base(i))),
      (2L, vec(i => !base(i))), (3L, vec(base).updated(10, 0.0)))
      .foreach { case (id, v) => assert(got(id) === words(v), s"id $id") }
    // funnel: exact-cosine rerank puts vec 3 (one zeroed dim,
    // cos = √63/8 ≈ .992) above vec 1 (three flipped signs,
    // cos = 58/64 ≈ .906); vec 2 (hamming 64) never reaches the top
    val top = Similarity.hammingTopK(
        rows.filter(col("vec_id") === 0L), rows, k = 2, dim = 64, rerank = 1)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(2)).toSeq === Seq(3L, 1L))
    // vec 3's hamming is 1 only if dim 10's sign bit was set in base
    // (zeroing a clear bit changes nothing) — derive, don't hardcode
    assert(top.map(_.getInt(4)).toSeq ===
      Seq(if (base(10)) 1 else 0, 3))
  }

  test("s_ann_ndcg bounded by 1 with dcg <= idcg; s_domain_select excludes the target") {
    val ndcg = SparkEntry.queries("s_ann_ndcg")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(ndcg.nonEmpty)
    ndcg.foreach { case (q, dcg, idcg, n) =>
      // a system hit can only re-order or drop truth items — never
      // exceed the ideal ordering's gain
      assert(dcg <= idcg + 1e-9, s"q $q dcg $dcg > idcg $idcg")
      assert(n >= 0.0 && n <= 1.0 + 1e-9, s"q $q ndcg $n")
    }
    // the single-bucket ANN at 6 bits finds SOME graded overlap
    assert(ndcg.map(_._4).max > 0.0)

    val sel = SparkEntry.queries("s_domain_select")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val labels = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("label") === 1).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // target-domain rows never select themselves; scores are ranked
    assert(sel.map(_._1).forall(id => !labels.contains(id)))
    assert(sel.map(_._2).toSeq === sel.map(_._2).sortBy(-_).toSeq)
  }

  test("crossSetContamination flags planted twins only; negations never collide") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val evalSet = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0)).as("embedding"))
      .union(e.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select((col("vec_id") + 2000).as("vec_id"),
          transform(col("embedding"), x => x * lit(-1.0)).as("embedding")))
    val hits = Similarity.crossSetContamination(evalSet, e,
        threshold = 0.999, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly the 5 scaled twins; cosine is 1.0 up to the 1-ulp sqrt
    // rounding in the norm product (power-of-two scaling itself is
    // IEEE-exact) — which is why the operator thresholds at 0.999
    // rather than equality; no negation reaches any bucket
    assert(hits.map(h => (h._1, h._2)).sorted.toSeq ===
      (0 until 5).map(i => (i + 1000L, i.toLong)))
    hits.foreach(h => assert(math.abs(h._3 - 1.0) < 1e-12))
  }

  test("ivfpqTopKTrained: seeded end-to-end training is deterministic, k rows per query") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.filter(col("vec_id") < 10)
    def run() = Similarity.ivfpqTopKTrained(queries, e, k = 3,
        rerank = 10, nProbe = 2, nLists = 8, m = 4, codesPerSub = 8)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val a = run()
    assert(a.length === 30)
    assert(a === run()) // same seed → same quantizers → same answer
  }

  test("knnGraphMutual: reciprocity strips the unreciprocated neighbor") {
    import spark.implicits._
    // v1–v2 are mutual nearest; v3's nearest is v2 but v2 (k=1) keeps
    // only v1 → the 2–3 edge must NOT survive the reciprocity filter
    val vs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.1, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.knnGraphMutual(vs, k = 1, bits = 1).collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 1L && got(0).getLong(1) === 2L)
    assert(got(0).getInt(3) === 1 && got(0).getInt(4) === 1)
  }

  test("s_embedding_profile: one consistent audit row on the fixture") {
    val r = SparkEntry.queries("s_embedding_profile")(
      spark, "/root/testdata/sf0.001").collect() match {
      case Array(only) => only
      case rows => fail(s"expected 1 row, got ${rows.length}")
    }
    val n = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert(r.getLong(0) == n)
    assert(r.getInt(1) == 64 && r.getInt(2) == 64 && r.getLong(3) == 1L,
      "fixture embeddings are uniformly 64-dim")
    assert(r.getLong(4) == 0L && r.getLong(5) == 0L,
      "no zero or non-finite vectors in the fixture")
    assert(r.getLong(6) > 0L && r.getLong(6) <= r.getLong(8) &&
      r.getLong(8) <= r.getLong(7), "norm min <= avg <= max")
    val (nLabels, topPpm) = (r.getLong(9), r.getLong(10))
    assert(nLabels >= 1L && topPpm >= 1000000L / nLabels && topPpm <= 1000000L)
  }

  test("s_knn_graph: edges are reciprocal, ordered, and bucket-local") {
    val out = SparkEntry.queries("s_knn_graph")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "a_id < b_id contract")
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 4)
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 4)
    }
    // no duplicate undirected edges
    val keys = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length === keys.length)
  }

  test("nnDescentRound: discovers cross-bucket edges and lifts recall") {
    val fdir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s_nn_descent")(spark, fdir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    // k edges per src, ranks dense 1..k
    out.groupBy(_._1).foreach { case (_, es) =>
      assert(es.map(_._2).sorted.toSeq == (1 to es.length))
    }
    // the round must actually descend: some final edges were absent
    // from both seed blockings (the single-blocking version of this
    // operator emitted zero — transitive closure made NoN a no-op)
    assert(out.count(_._5) > 0, "no new edges — the round is a no-op")
    // recall@k against local brute force: refined graph >= the
    // blocking-1 seed graph (candidate superset ⇒ monotone rerank)
    val vecs = Tables.t(spark, fdir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 4
    val truth = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (j, u) => (j, cos(v, u)) }
        .sortBy { case (j, c) => (-c, j) }.take(k).map(_._1).toSet
    }.toMap
    def bucket(v: Array[Double], from: Int): String =
      (from until from + k).map(i => if (v(i) >= 0) '1' else '0').mkString
    val b1 = vecs.map { case (id, v) => (id, bucket(v, 0)) }.toMap
    val seed1 = vecs.map { case (id, v) =>
      id -> vecs.filter { case (j, _) => j != id && b1(j) == b1(id) }
        .map { case (j, u) => (j, cos(v, u)) }
        .sortBy { case (j, c) => (-c, j) }.take(k).map(_._1).toSet
    }.toMap
    val refined = out.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._3).toSet }
    val recallSeed = seed1.map { case (s, n) =>
      (n intersect truth(s)).size }.sum.toDouble
    val recallRef = refined.map { case (s, n) =>
      (n intersect truth(s)).size }.sum.toDouble
    assert(recallRef > recallSeed,
      s"refined recall $recallRef must beat the blocking-1 seed $recallSeed")
  }
  test("s_embed_mmd: exact replay of the decimal-moment pipeline") {
    val sfd = "/root/testdata/sf0.001"
    val embs = Tables.t(spark, sfd, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val out = SparkEntry.queries("s_embed_mmd")(spark, sfd)
      .collect().map(r => r.getInt(0) -> r).toMap
    val dims = embs.head._2.length
    val cn = embs.length.toLong
    val cMoms = (0 until dims).map { p =>
      (embs.map(e => r6(e._2(p))).sum, embs.map(e => r12(e._2(p) * e._2(p))).sum)
    }
    embs.groupBy(_._1).foreach { case (lab, vs) =>
      val n = vs.length.toLong
      var mmd2 = 0.0; var fd = 0.0
      (0 until dims).foreach { p =>
        val sx = vs.map(e => r6(e._2(p))).sum
        val sxx = vs.map(e => r12(e._2(p) * e._2(p))).sum
        val mg = sx.toDouble / n; val m = cMoms(p)._1.toDouble / cn
        val vg = math.max(sxx.toDouble / n - mg * mg, 0.0)
        val v = math.max(cMoms(p)._2.toDouble / cn - m * m, 0.0)
        val md2 = (mg - m) * (mg - m)
        val vt = vg + v - 2.0 * math.sqrt(vg * v)
        mmd2 += md2; fd += (md2 + vt)
      }
      val row = out(lab)
      assert(row.getLong(1) == n)
      assert(math.abs(row.getDouble(2) - mmd2) < 1e-9, s"mmd2 $lab")
      assert(math.abs(row.getDouble(3) - fd) < 1e-9, s"fd $lab")
      assert(row.getDouble(3) >= row.getDouble(2) - 1e-12, "fd >= mmd2")
    }
  }
  test("s_embed_outliers: planted scale-blowup vector ranks first") {
    import spark.implicits._
    val dir = TempDirs.dir("eo").toString
    val normal = (0L until 40L).map(i =>
      (i, Array.fill(64)(((i % 7).toFloat - 3f) / 10f), 0))
    val outlier = Seq((99L, Array.fill(64)(25.0f), 0))
    (normal ++ outlier).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val top = SparkEntry.queries("s_embed_outliers")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 99L, "planted blowup must rank first")
    assert(top.head._2 > top(1)._2 * 5, "outlier z2 dominates")
    assert(top.length == 20)
    // scores are nonnegative and returned in nonincreasing order
    assert(top.forall(_._2 >= 0.0))
    top.map(_._2).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => }
  }

  test("persisted IVF index: append law, round trip, search == direct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    def v(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val all = (0L until 40L).map(i => (i, v()))
    val (a, b) = all.splitAt(25)
    def df(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    val cents = df(all.take(4))
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    def listRows(idx: graft.operators.Similarity.IvfIndex) =
      idx.lists.collect().map(r => (r.getLong(0), r.getInt(3),
        r.getDouble(2))).toSeq.sortBy(_._1)
    // append(build(A), B) == build(A ∪ B): the quantizer never retrains
    val whole = graft.operators.Similarity.buildIvfIndex(df(all), cents)
    val grown = graft.operators.Similarity.appendIvfIndex(
      graft.operators.Similarity.buildIvfIndex(df(a), cents), df(b))
    assert(listRows(grown) === listRows(whole))
    // round trip + search equals the direct explicit-centroid path
    val root = TempDirs.dir("graft-ivf").toString
    graft.operators.Similarity.writeIvfIndex(whole, root, partitions = 2)
    val rt = graft.operators.Similarity.readIvfIndex(spark, root)
    assert(listRows(rt) === listRows(whole))
    val q = df(all.take(6))
    def res(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"))).toSet
    val viaIndex = res(graft.operators.Similarity.searchIvfIndex(
      q, rt, k = 3, nProbe = 2))
    val direct = res(graft.operators.Similarity.ivfTopKWithCentroids(
      q, df(all), k = 3, nProbe = 2, cents))
    assert(viaIndex.nonEmpty && viaIndex === direct)
    // erasure law: erase(build(A ∪ B), B) == build(A)
    val erased = graft.operators.Similarity.eraseFromIvfIndex(
      whole, b.map(_._1).toDF("id"))
    assert(listRows(erased) ===
      listRows(graft.operators.Similarity.buildIvfIndex(df(a), cents)))
  }

  test("s_index_stats: histogram + imbalance replay the naive assignment") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("s_index_stats")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val pts = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cents = pts.filter(_._1 < 16).map { case (id, v) => (id.toInt, v) }
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sizes = pts
      .map { case (_, v) => cents.minBy { case (cid, cv) => (d2(v, cv), cid) }._1 }
      .groupBy(identity).map(_._2.length.toLong).toSeq
    val hist = sizes.groupBy(identity)
      .map { case (sz, g) => (sz, g.length.toLong) }
    val n = BigInt(sizes.sum)
    val imb = (BigInt(16) * sizes.map(s => BigInt(s) * s).sum * 1000000
      / (n * n)).toLong
    assert(out.toSeq ===
      hist.toSeq.map { case (sz, c) => (sz, c, imb) }.sortBy(_._1),
      "index health report must equal the naive per-list census")
    // every corpus vector is in exactly one list
    assert(out.map(r => r._1 * r._2).sum === pts.length.toLong)
  }
}
