package graft

import org.apache.spark.sql.functions._

import graft.operators.Logistic

/** Training laws for the in-engine logistic trainer: determinism under
  * partitioning, loss monotonicity on the gated corpus shape, and the
  * learned weights separating a separable fixture.
  */
class LogisticSpec extends SparkSpec {
  import spark.implicits._

  test("training is bit-reproducible under any partitioning") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val feats = Logistic.hashedFeatures(df,
        col("source") === "src18").localCheckpoint(false)
      Logistic.train(spark, feats, df.count(), epochs = 2, lr = 0.05)
    }
    assert(run(docs) === run(docs.repartition(7)))
  }

  test("model artifact round-trips exactly; scoreInline == score; streams") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(false)
    val feats = Logistic.hashedFeatures(docs, col("source") === "src18")
      .localCheckpoint(false)
    val w = Logistic.train(spark, feats, docs.count(),
      epochs = 2, lr = 0.5).last
    // artifact law: exact decimals round-trip parquet
    val dir = TempDirs.dir("qclf").toString
    Logistic.writeModel(spark, dir, w)
    assert(Logistic.readModel(spark, dir) === w)
    // deployment law: the per-row token fold equals the feature
    // aggregation's exact decimal sum, doc by doc
    def zs(df: org.apache.spark.sql.DataFrame, zc: String) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[java.math.BigDecimal](zc))
      .toMap.map { case (k, v) => k -> BigDecimal(v) }
    val agg = zs(Logistic.score(feats, w), "z")
    val inline = zs(Logistic.scoreInline(docs, w)
      .filter(col("n_tokens") > 0), "z")
    assert(agg.keySet === inline.keySet)
    assert(agg.forall { case (id, z) => inline(id) == z })
    // ...and scoreInline is stateless: a stream scores bit-equal
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = Logistic.scoreInline(mem.toDF().toDF("doc_id", "text"), w)
      .writeStream.format("memory").queryName("qscores")
      .outputMode("append").start()
    try { mem.addData(rows); q.processAllAvailable() } finally q.stop()
    val streamed = zs(spark.sql(
      "SELECT * FROM qscores WHERE n_tokens > 0"), "z")
    assert(streamed === inline)
  }

  test("GD reduces log-loss and separates a separable fixture") {
    // class-1 docs speak only token A, class-0 only token B; pick
    // tokens whose md5 first hex digits differ so the hashed features
    // are linearly separable by construction
    val (ta, tb) = ("alpha", "bravo")
    def bucket(t: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      "%02x".format(md(0))
    }
    assert(bucket(ta) != bucket(tb), "fixture tokens must hash apart")
    val docs = ((1 to 20).map(i =>
        (i.toLong, "pos", Seq.fill(5)(ta).mkString(" "))) ++
      (21 to 40).map(i =>
        (i.toLong, "neg", Seq.fill(5)(tb).mkString(" "))))
      .toDF("doc_id", "source", "text")
    val feats = Logistic.hashedFeatures(docs, col("source") === "pos")
      .localCheckpoint(false)
    val n = 40L
    val ws = Logistic.train(spark, feats, n, epochs = 4, lr = 0.5)
    // loss strictly decreases across epochs
    val losses = ws.map(w => Logistic.logLoss(spark, feats, w, n))
    assert(losses.zip(losses.tail).forall { case (a, b) => b < a },
      losses.mkString(", "))
    // the positive token's bucket learns a positive weight, the
    // negative token's a negative one; untouched buckets stay 0
    val wf = ws.last
    assert(wf(bucket(ta)) > 0 && wf(bucket(tb)) < 0)
    val touched = Set(bucket(ta), bucket(tb))
    assert(Logistic.bucketSpace().filterNot(touched)
      .forall(b => wf(b) == BigDecimal(0).setScale(6)))
  }

  test("warm start: continuation equals the longer schedule; drift exact") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(false)
    val feats = Logistic.hashedFeatures(d, col("source") === "src18")
      .localCheckpoint(false)
    val n = d.count()
    val all = Logistic.train(spark, feats, n, epochs = 3, lr = 0.5)
    // resuming from epoch-1 weights replays epochs 2..3 exactly (an
    // epoch is a pure function of weights × features)
    val warm = Logistic.trainFrom(spark, feats, n, epochs = 2, lr = 0.5,
      init = all.head)
    assert(warm === all.drop(1))
    // a zero warm start IS cold training
    val zero = Logistic.bucketSpace()
      .map(_ -> BigDecimal(0).setScale(6)).toMap
    assert(Logistic.trainFrom(spark, feats, n, epochs = 2, lr = 0.5,
      init = zero) === all.take(2))
    // drift report: exact decimal deltas, bucket for bucket
    val drift = Logistic.weightDrift(spark, all.head, all.last)
      .collect().map(r => r.getString(0) ->
        ((BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)),
          BigDecimal(r.getDecimal(3))))).toMap
    assert(drift.size === 256)
    drift.foreach { case (b, (s, nw, del)) =>
      assert(s == all.head(b) && nw == all.last(b) && del == nw - s)
    }
    // no training, no drift
    assert(Logistic.weightDrift(spark, all.head, all.head).collect()
      .forall(r => BigDecimal(r.getDecimal(3)) == 0))
  }

  test("t_quality_auc: naive pair-count replay on the sf0.001 split") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("t_quality_auc")(spark, dir)
      .collect()(0)
    // naive replay: train the same 3 epochs, score the same held-out
    // bucket range, and count positive-beats-negative pairs directly
    // (2 per win, 1 per tie) — the definition the rank-sum closed form
    // must equal
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .localCheckpoint(false)
    val feats = Logistic.hashedFeatures(d, col("source") === "src18")
      .localCheckpoint(false)
    val w = Logistic.train(spark, feats, d.count(), epochs = 3, lr = 0.5)
      .last
    val hold = graft.operators.Sampling.hashSplit(d, "doc_id",
        Seq("train" -> 0.75, "eval" -> 0.25))
      .filter(col("split") === "eval")
    val scored = Logistic.scoreInline(hold, w)
      .filter(col("n_tokens") > 0)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("z"), (col("source") === "src18").as("y"))
      .collect().map(r => (BigDecimal(r.getDecimal(0)), r.getBoolean(1)))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    val u2 = (for (p <- pos; q <- neg) yield {
      if (p > q) 2L else if (p == q) 1L else 0L
    }).sum
    assert(got.getAs[Long]("n_pos") === pos.length.toLong)
    assert(got.getAs[Long]("n_neg") === neg.length.toLong)
    assert(got.getAs[Long]("u_x2") === u2)
    assert(got.getAs[Long]("auc_ppm") ===
      u2 * 500000L / (pos.length.toLong * neg.length))
    // confusion at z > 0 replays directly
    assert(got.getAs[Long]("tp") === pos.count(_ > 0).toLong)
    assert(got.getAs[Long]("fp") === neg.count(_ > 0).toLong)
    assert(got.getAs[Long]("fn") === pos.count(_ <= 0).toLong)
    assert(got.getAs[Long]("tn") === neg.count(_ <= 0).toLong)
    // the metric is a probability in ppm (the sf0.001 slice holds
    // only 5 positives — whether the tiny-corpus model beats chance
    // there is the metric's REPORT, not a law; the sf0.01/sf0.1
    // oracle gates pin the exact values)
    val auc = got.getAs[Long]("auc_ppm")
    assert(auc >= 0L && auc <= 1000000L)
  }

  test("Trained artifact: meta round trip, back-compat, space guard") {
    val w = Logistic.bucketSpace()
      .map(b => b -> BigDecimal(s"0.${b.head.toInt % 10}").setScale(6))
      .toMap
    val dir = TempDirs.dir("qtr").toString
    // full round trip: weights + space + threshold survive exactly
    val m = Logistic.Trained(w, Logistic.SpaceBigram,
      Some(BigDecimal("1.250000")))
    Logistic.writeTrained(spark, s"$dir/m", m)
    val back = Logistic.readTrained(spark, s"$dir/m")
    assert(back.weights === w && back.space === Logistic.SpaceBigram)
    assert(back.threshold.get == BigDecimal("1.250000") &&
      back.gram === 2)
    // a null threshold round-trips as None (legacy sign contract)
    Logistic.writeTrained(spark, s"$dir/m0", Logistic.Trained(w))
    val b0 = Logistic.readTrained(spark, s"$dir/m0")
    assert(b0.threshold.isEmpty && b0.space === Logistic.SpaceUnigram)
    // a PRE-META artifact (round-13 on-disk shape: weights only)
    // resolves to the unigram space + sign contract
    Logistic.writeModel(spark, s"$dir/old", w)
    val old = Logistic.readTrained(spark, s"$dir/old")
    assert(old.weights === w && old.space === Logistic.SpaceUnigram &&
      old.threshold.isEmpty)
    // unknown feature-space ids are LOUD on write and on read
    intercept[IllegalArgumentException] {
      Logistic.writeTrained(spark, s"$dir/bad",
        Logistic.Trained(w, space = "sha9z"))
    }
    intercept[IllegalArgumentException] { Logistic.gramOf("sha9z") }
    // ...and the deployment clause honors the stored point: >= not >
    import spark.implicits._
    val z0 = Seq((1L, BigDecimal("1.250000")),
      (2L, BigDecimal("1.249999")), (3L, BigDecimal("0.000000")))
      .toDF("doc_id", "z")
      .select(col("doc_id"), col("z").cast("decimal(38,6)").as("z"))
    val kept = z0.select(col("doc_id"), m.keepsZ(col("z")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(kept === Map(1L -> true, 2L -> false, 3L -> false))
    val keptSign = z0.select(col("doc_id"),
        Logistic.Trained(w).keepsZ(col("z")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keptSign === Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("operating-point selection: naive replay; precision target") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(false)
    val feats = Logistic.hashedFeatures(d, col("source") === "src18")
      .localCheckpoint(false)
    val w = Logistic.train(spark, feats, d.count(), epochs = 2, lr = 0.5)
      .last
    val scored = Logistic.scoreInline(d, w).filter(col("n_tokens") > 0)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("z"), (col("source") === "src18").as("y"))
      .localCheckpoint(false)
    val menu = Logistic.operatingPoints(scored).collect()
      .map(r => (BigDecimal(r.getDecimal(0)), r.getAs[Long]("tp"),
        r.getAs[Long]("fp"), r.getAs[Long]("fn"),
        Option(r.getAs[java.lang.Long]("f1_ppm")).map(_.toLong)))
    // naive per-threshold replay from the scored rows
    val rows = scored.collect()
      .map(r => (BigDecimal(r.getDecimal(0)), r.getBoolean(1)))
    assert(menu.map(_._1).toSet === rows.map(_._1).toSet)
    menu.foreach { case (t, tp, fp, fn, f1) =>
      val wantTp = rows.count(r => r._2 && r._1 >= t).toLong
      val wantFp = rows.count(r => !r._2 && r._1 >= t).toLong
      val wantFn = rows.count(r => r._2 && r._1 < t).toLong
      assert((tp, fp, fn) === ((wantTp, wantFp, wantFn)), s"at $t")
      val den = 2 * wantTp + wantFp + wantFn
      assert(f1 === (if (den > 0) Some(2 * wantTp * 1000000L / den)
        else None), s"f1 at $t")
    }
    // max-F1 selection: best F1, smallest z among ties
    val sel = Logistic.selectOperatingPoint(
      Logistic.operatingPoints(scored)).collect()(0)
    val bestF1 = menu.flatMap(_._5).max
    val wantT = menu.filter(_._5.contains(bestF1)).map(_._1).min
    assert(BigDecimal(sel.getDecimal(0)) == wantT)
    assert(sel.getAs[Long]("f1_ppm") === bestF1)
    // precision target: highest-recall qualifying point == smallest
    // qualifying z; an unreachable target falls back to max-F1
    val menuP = Logistic.operatingPoints(scored).collect()
      .map(r => (BigDecimal(r.getDecimal(0)),
        Option(r.getAs[java.lang.Long]("precision_ppm")).map(_.toLong)))
    val pTarget = menuP.flatMap(_._2).max // achievable by construction
    val selP = Logistic.selectOperatingPoint(
      Logistic.operatingPoints(scored), Some(pTarget)).collect()(0)
    assert(BigDecimal(selP.getDecimal(0)) ==
      menuP.filter(_._2.exists(_ >= pTarget)).map(_._1).min)
    val selFall = Logistic.selectOperatingPoint(
      Logistic.operatingPoints(scored), Some(1000001L)).collect()(0)
    assert(BigDecimal(selFall.getDecimal(0)) == wantT)
  }

  test("bigram space: fold == aggregation law; fewer-than-2-token docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta"),
      (2L, "alpha alpha bravo"),
      (3L, "single"),          // no bigram: zInline folds to exact 0
      (4L, "")).toDF("doc_id", "text")
    val w = Logistic.bucketSpace()
      .map(b => b -> BigDecimal(s"0.${(b.head.toInt * 7) % 10}")
        .setScale(6)).toMap
    val feats = Logistic.hashedFeatures(docs, lit(true), gram = 2)
      .localCheckpoint(false)
    // per-doc: Σ_bigram w[bucket] via aggregation == the inline fold
    val agg = Logistic.score(feats, w).collect()
      .map(r => r.getAs[Long]("doc_id") -> BigDecimal(r.getDecimal(2)))
      .toMap
    val inline = Logistic.scoreInline(docs, w, gram = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        BigDecimal(r.getAs[java.math.BigDecimal]("z"))))
    assert(agg.keySet === Set(1L, 2L)) // <2 tokens ⇒ no feature rows
    inline.foreach { case (id, nt, z) =>
      if (nt >= 2) assert(z == agg(id), s"doc $id")
      else assert(z == BigDecimal(0), s"doc $id folds to exact 0")
    }
    // 3 bigrams in doc 1, 2 in doc 2
    val k = feats.groupBy("doc_id").sum("k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k === Map(1L -> 3L, 2L -> 2L))
  }

  test("evalReport on a single-class split: auc_ppm null, no error") {
    val docs = (1 to 8).map(i =>
        (i.toLong, "pos", s"steady filler words number $i repeated here"))
      .toDF("doc_id", "source", "text")
    val w = Logistic.bucketSpace()
      .map(_ -> BigDecimal(1).setScale(6)).toMap
    val r = Logistic.evalReport(docs, w, col("source") === "pos")
      .collect()(0)
    assert(r.getAs[Long]("n_pos") === 8L && r.getAs[Long]("n_neg") === 0L)
    assert(r.isNullAt(r.fieldIndex("auc_ppm"))) // undefined, not an error
    assert(r.isNullAt(r.fieldIndex("precision_ppm")) ||
      r.getAs[Long]("tp") + r.getAs[Long]("fp") > 0)
  }
}
