package graft

import org.apache.spark.sql.functions._

import graft.queries.{CurationQueries, EventQueries}

/** Relevance-scoring curation queries + round-4 event analytics:
  * structural invariants at sf0.001 (the DuckDB oracle hash-gates the
  * exact values at sf0.01).
  */
class CurationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("t_tfidf_topk: exactly ranks 1..3 per doc, scores non-increasing") {
    val rows = CurationQueries.queries("t_tfidf_topk")(spark, dir)
      .select("doc_id", "rn", "tf", "df", "n_docs").collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      // the ranking quantity tf·(N+1)/(df+1) recomputed from the exact
      // integers the query emits must be non-increasing by rank
      val scores = byRank.map(r =>
        r.getLong(2).toDouble * (r.getLong(4) + 1).toDouble /
          (r.getLong(3) + 1).toDouble)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("t_chunk_overlap: full coverage, 8-token overlap between full chunks") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') AS toks").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val chunks = CurationQueries.queries("t_chunk_overlap")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2).split(" ").toSeq))
      .groupBy(_._1)
    assert(chunks.keySet === docs.keySet)
    chunks.foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2).map(_._3)
      // stride 24: chunk i starts at token 24*i; size ≤ 32
      ordered.zipWithIndex.foreach { case (c, i) =>
        assert(c === docs(id).slice(24 * i, 24 * i + 32))
      }
      // consecutive full chunks share exactly 32-24 = 8 tokens
      ordered.toSeq.sliding(2).foreach {
        case Seq(a, b) if a.length == 32 => assert(a.takeRight(8) === b.take(8))
        case _ => ()
      }
    }
  }

  test("t_dsir_weights: target-domain docs dominate the selected slice") {
    val top = CurationQueries.queries("t_dsir_weights")(spark, dir).collect()
    assert(top.length === 100)
    // weights sorted descending with the doc_id tie-break the query
    // promises (the deterministic selection order)
    val ws = top.map(r => (r.getDouble(2), r.getLong(0)))
    assert(ws.zip(ws.tail).forall { case ((w1, i1), (w2, i2)) =>
      w1 > w2 || (w1 == w2 && i1 < i2)
    })
    // importance resampling must pull the target domain (src18, 5% of
    // the corpus) far above its base rate in the selected top-100
    val srcOf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nTarget = top.count(r => srcOf(r.getLong(0)) == "src18")
    assert(nTarget >= 20, s"only $nTarget/100 selected docs are src18")
  }

  test("t_quality_classifier: logit and keep flag recompute from raw tokens") {
    val weights = "0123456789abcdef".map(c =>
      c.toString -> BigDecimal((c.toInt * 13) % 17 - 8) / 10).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): String =
      md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(1)
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = CurationQueries.queries("t_quality_classifier")(spark, dir)
      .collect()
    assert(got.length === texts.size)
    got.take(50).foreach { r =>
      val toks = texts(r.getLong(0)).split(" ").toSeq
      val dot = toks.map(t => weights(bucket(t))).sum
      assert(r.getLong(1) === toks.length)
      assert(r.getDouble(2) ===
        BigDecimal(dot.toDouble / toks.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getBoolean(3) === (dot > 0))
    }
  }

  test("e_attribution: touches partition the purchase set") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val purchases = ev.filter(col("event_type") === "purchase").count()
    val got = EventQueries.queries("e_attribution")(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet.subsetOf(Set("view", "click", "none")))
    assert(got.map(_.getLong(1)).sum === purchases)
  }

  test("e_linear_trend: one finite fit per event type") {
    val got = EventQueries.queries("e_linear_trend")(spark, dir).collect()
    assert(got.length === 5) // one per event type
    got.foreach { r =>
      val (slope, icpt) = (r.getDouble(2), r.getDouble(3))
      assert(!slope.isNaN && !slope.isInfinite)
      assert(!icpt.isNaN && !icpt.isInfinite)
      // intercept ≈ typical hourly count (positive); slope near zero
      // for a stationary synthetic stream
      assert(icpt > 0.0)
    }
  }

  test("e_ts_anomaly: full trailing windows only, z finite") {
    val got = EventQueries.queries("e_ts_anomaly")(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val z = r.getDouble(2)
      assert(!z.isNaN && !z.isInfinite)
      assert(r.getBoolean(3) === (math.abs(z) > 3))
    }
  }

  test("t_novelty_curve: batch 0 is all-new, cumulative vocab is exact") {
    val out = SparkEntry.queries("t_novelty_curve")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(out.nonEmpty)
    val first = out.head
    assert(first._1 == 0L && first._2 == first._3 &&
      first._4 == 1000000L, "every gram in batch 0 is new by definition")
    // cumulative vocabulary: running sum of new_grams, ends at the
    // total distinct gram count
    assert(out.map(_._3).scanLeft(0L)(_ + _).drop(1).toSeq ==
      out.map(_._5).toSeq)
    import org.apache.spark.sql.functions._
    val total = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(graft.functions.Text.shingles(
        graft.functions.Text.tokens(col("text")), 3)).as("g"))
      .distinct().count()
    assert(out.last._5 == total)
    out.foreach(r => assert(r._4 >= 0 && r._4 <= 1000000L))
  }

  test("DSIR: lamTable covers the bigram buckets; scoreRelational sums k·λ per doc") {
    import spark.implicits._
    import graft.functions.Text
    import graft.operators.Dsir
    val corpus = Tables.t(spark, dir, "documents")
      .select($"doc_id", $"text", $"source").localCheckpoint(false)
    val lam = Dsir.lamTable(corpus, "text", $"source" === "src18")
      .localCheckpoint(false)
    val lamOf = lam.select("b", "lam").collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap
    // nearly all 256 md5-prefix buckets occur even at this tiny SF
    assert(lamOf.size >= 200 && lamOf.size <= 256, s"${lamOf.size}")
    val got = Dsir.scoreRelational(corpus, lam, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val buckets = corpus.select($"doc_id",
        explode(Text.shingles(Text.tokens($"text"), 2)).as("bg"))
      .select($"doc_id", substring(md5($"bg"), 1, 2).as("b")).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)) }
    assert(got.keySet === buckets.keySet)
    buckets.foreach { case (id, bs) =>
      val (n, logw) = got(id)
      val want = bs.map(lamOf).sum.toDouble
      assert(n === bs.length.toLong, s"doc $id")
      assert(math.abs(logw - want) <= 1e-9 * math.max(1.0, math.abs(want)),
        s"doc $id: $logw vs $want")
    }
  }
}
