package graft

/** Semantic pins for the governance operators — the invariants a
  * release/selection decision must satisfy regardless of fixture
  * content (the DuckDB oracle already pins exact values).
  */
class GovernanceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q_k_anonymity: every published group is >= k and totals conserve") {
    val out = SparkEntry.queries("q_k_anonymity")(spark, dir).collect()
    val total = Tables.t(spark, dir, "customer").count()
    assert(out.map(_.getLong(2)).sum == total,
      "suppression must conserve the row count")
    out.foreach { r =>
      val (nat, seg, n, lvl) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))
      lvl match {
        case 0 => assert(n >= 10 && nat != "*" && seg != "*")
        case 1 => assert(n >= 10 && nat != "*" && seg == "*")
        case 2 => assert(nat == "*" && seg == "*") // residual row may be < k
        case other => fail(s"unexpected level $other")
      }
    }
    assert(out.count(_.getInt(3) == 2) <= 1, "at most one fully-suppressed row")
  }

  test("t_domain_stats: shares are exact ppm and keep matches the rule") {
    val out = SparkEntry.queries("t_domain_stats")(spark, dir).collect()
    val total = Tables.t(spark, dir, "documents").count()
    assert(out.map(_.getLong(1)).sum == total)
    out.foreach { r =>
      val (n, dup, short, nonen) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (dupPpm, shortPpm, nonenPpm) =
        (r.getLong(5), r.getLong(6), r.getLong(7))
      assert(dupPpm == dup * 1000000L / n)
      assert(shortPpm == short * 1000000L / n)
      assert(nonenPpm == nonen * 1000000L / n)
      assert(r.getBoolean(8) ==
        (dupPpm <= 300000L && shortPpm <= 400000L && nonenPpm <= 600000L))
    }
  }

  test("e_mad_outliers: every emitted row is beyond 3 robust sigmas") {
    val out = SparkEntry.queries("e_mad_outliers")(spark, dir).collect()
    assert(out.nonEmpty, "fixture should contain at least one outlier")
    assert(out.forall(r => math.abs(r.getDouble(3)) > 3.0))
  }

  test("e_mad_outliers: rows are exactly robustStats' outliers, same robust z") {
    val out = SparkEntry.queries("e_mad_outliers")(spark, dir).collect()
    // the rows are exactly the events robustStats' (median, MAD) put
    // beyond 3 robust sigmas, with the same robust z
    val e = Tables.t(spark, dir, "events")
      .select("event_id", "event_type", "value")
    val stats = graft.operators.Quality.robustStats(e, "event_type", "value")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val want = e.collect().filterNot(_.isNullAt(2)).flatMap { r =>
      val (id, ty, v) = (r.getLong(0), r.getString(1), r.getDouble(2))
      stats.get(ty).collect {
        case (med, mad) if mad > 0.0 && math.abs(v - med) > 3.0 * 1.4826 * mad =>
          (id, ty, v, (v - med) / (1.4826 * mad))
      }
    }.sortBy(_._1).toSeq
    val got = out
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got === want)
  }

  test("q_dp_histogram: noise matches the inverse-CDF replay and is nonzero") {
    val out = SparkEntry.queries("q_dp_histogram")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (et, n, noise, noisy) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(noisy == n * 10000 + noise)
      // replay the mechanism: md5 -> 16-bit uniform -> Laplace(b=2)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp:$et".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      val c = (java.lang.Long.parseLong(hex, 16) + 0.5) / 65536.0 - 0.5
      val lnE4 = math.round(math.log(1.0 - 2.0 * math.abs(c)) * 10000)
      assert(noise == -2L * math.signum(c).toLong * lnE4,
        s"mechanism replay mismatch for '$et'")
      assert(r.getLong(4) == 5000L)
    }
    assert(out.exists(_.getLong(2) != 0), "all-zero noise means no mechanism")
  }

  test("t_dataset_card: one row, consistent counts, bounded entropy") {
    val r = SparkEntry.queries("t_dataset_card")(spark, dir).collect() match {
      case Array(only) => only
      case rows => fail(s"expected 1 row, got ${rows.length}")
    }
    val (nDocs, nSources, dup) = (r.getLong(0), r.getLong(1), r.getLong(5))
    assert(nDocs == Tables.t(spark, dir, "documents").count())
    assert(nSources >= 1 && r.getLong(2) >= 1)
    assert(r.getLong(3) > 0 && r.getLong(4) > 0) // chars, tokens
    assert(dup >= 0 && dup <= nDocs && dup != 1,
      "dup membership counts whole groups: can never be exactly 1")
    val entE4 = r.getLong(6)
    assert(entE4 >= 0 && entE4 <= math.ceil(math.log(nSources.toDouble) * 10000).toLong,
      s"entropy $entE4 outside [0, ln(n_sources)*1e4]")
  }

  test("q_erasure_audit: counts reconcile and the purge leaves no orphans") {
    val r = SparkEntry.queries("q_erasure_audit")(spark, dir).head()
    val (nc, no, nl) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nc > 0, "fixture has negative-balance customers")
    assert(no >= 0 && nl >= 0) // some fixture orders are childless,
    // so no lineitems >= orders relation holds
    assert(r.getLong(3) == 0 && r.getLong(4) == 0,
      "independent re-derivation must find zero orphans")
    // blast radius is a subset of each table
    assert(nc <= Tables.t(spark, dir, "customer").count())
    assert(no <= Tables.t(spark, dir, "orders").count())
  }

  test("q_pseudonymize: surrogates are injective and join-preserving") {
    val r = SparkEntry.queries("q_pseudonymize")(spark, dir).head()
    assert(r.getLong(0) == r.getLong(1), "52-bit surrogate collision")
    assert(r.getLong(2) == r.getLong(3))
    assert(r.getBoolean(4) && r.getBoolean(5))
  }

  test("q_l_diversity: groups are the k-anonymous level-0 release") {
    // sf0.001's customer table has no group of 10 — use sf0.01, where
    // the release is non-degenerate
    val ld = SparkEntry.queries("q_l_diversity")(
      spark, "/root/testdata/sf0.01").collect()
    assert(ld.nonEmpty)
    assert(ld.forall(_.getLong(2) >= 10), "only groups of n >= k emitted")
    assert(ld.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 3),
      "band cardinality in [1, 3]")
    assert(ld.forall(r => r.getBoolean(4) == (r.getLong(3) >= 2)))
  }

  test("t_ppl_buckets: three balanced buckets with ordered nll ranges") {
    val out = SparkEntry.queries("t_ppl_buckets")(spark, dir)
      .collect().sortBy(_.getInt(0))
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val sizes = out.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, s"unbalanced: ${sizes.mkString(",")}")
    // bucket ranges must tile the nll axis in order (ties may touch)
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getDouble(4) <= hi.getDouble(3),
        s"bucket ${lo.getInt(0)} max > bucket ${hi.getInt(0)} min")
    }
  }

  test("q_t_closeness: EMD is bounded, zero iff distributions match") {
    val out = SparkEntry.queries("q_t_closeness")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val emd = r.getAs[Long]("emd_e6")
      assert(emd >= 0L && emd <= 1000000L, s"EMD out of range: $emd")
      assert(r.getAs[Boolean]("t_close") == (emd <= 250000L))
    }
    // independent replay for one group: recompute the cumulative-band
    // EMD straight from the customer table
    val cust = Tables.t(spark, dir, "customer").select(
      org.apache.spark.sql.functions.col("c_nationkey").cast("string"),
      org.apache.spark.sql.functions.col("c_mktsegment"),
      org.apache.spark.sql.functions.col("c_acctbal").cast("double"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val bands = Seq(0.0, 3000.0, 7000.0)
    def cums(bal: Seq[Double]) = bands.map(b => bal.count(_ < b).toLong)
    val all = cust.map(_._3).toSeq
    val (nn, gk) = (all.size.toLong, cums(all))
    val first = out.head
    val grp = cust.filter(c => c._1 == first.getAs[String]("nat") &&
      c._2 == first.getAs[String]("seg")).map(_._3).toSeq
    val (n, k) = (grp.size.toLong, cums(grp))
    val num = k.zip(gk).map { case (ki, gi) => math.abs(ki * nn - gi * n) }.sum
    val want = num * 1000000L / (n * nn * 3L)
    assert(first.getAs[Long]("n") == n)
    assert(first.getAs[Long]("emd_e6") == want)
  }

  test("q_dp_contribution: clipping identities hold against raw counts") {
    val r = SparkEntry.queries("q_dp_contribution")(spark, dir).head()
    val (users, raw, clipped, loss, nClip, maxC) =
      (r.getAs[Long]("n_users"), r.getAs[Long]("raw_sum"),
        r.getAs[Long]("clipped_sum"), r.getAs[Long]("clip_loss"),
        r.getAs[Long]("n_clipped"), r.getAs[Long]("max_contribution"))
    assert(r.getAs[Long]("l1_sensitivity") == 5L)
    assert(raw == Tables.t(spark, dir, "orders").count())
    assert(clipped <= raw && loss == raw - clipped)
    // clipped total is bounded by users*C from above and by the
    // unclipped-below-C mass from below
    assert(clipped <= users * 5)
    assert(nClip >= 0 && nClip <= users)
    assert(maxC * 1L >= raw / math.max(users, 1))
    // independent replay from the base table
    val per = Tables.t(spark, dir, "orders")
      .groupBy("o_custkey").count().collect().map(_.getLong(1))
    assert(users == per.length)
    assert(clipped == per.map(math.min(_, 5L)).sum)
    assert(nClip == per.count(_ > 5L))
    assert(maxC == per.max)
  }

  test("q_join_skew_audit: top keys and shares replay the local count") {
    val out = SparkEntry.queries("q_join_skew_audit")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).sortBy(_._1)
    val counts = Tables.t(spark, dir, "lineitem")
      .groupBy("l_orderkey").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nRows = counts.map(_._2).sum; val nKeys = counts.length.toLong
    val top = counts.sortBy { case (k, c) => (-c, k) }.take(5)
    assert(out.length == math.min(5, nKeys).toInt)
    out.zip(top).zipWithIndex.foreach { case ((got, (k, c)), i) =>
      assert(got._1 == i + 1 && got._2 == k && got._3 == c)
      assert(got._4 == nRows && got._5 == nKeys)
      assert(got._6 == counts.map(_._2).max)
      assert(got._7 == c * 1000000L / nRows)
      assert(got._8 == c * 100L * nKeys / nRows)
    }
  }
  test("q_dp_quantile: selection is the integer-key argmax; near true median") {
    val dir = "/root/testdata/sf0.001"
    val chars = Tables.t(spark, dir, "documents")
      .select("n_chars").collect().map(_.getLong(0)).sorted
    val r = SparkEntry.queries("q_dp_quantile")(spark, dir)
      .collect().head
    assert(r.getLong(5) == chars.length.toLong)
    // the mechanism's argmax key replays exactly
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val per = chars.map(_ / 50).groupBy(identity)
      .map { case (b, v) => b -> v.length.toLong }.toSeq.sortBy(_._1)
    var cum = 0L
    val n = chars.length.toLong
    val keys = per.map { case (b, cnt) =>
      cum += cnt
      val u = -math.abs((cum - cnt) - (n - cum))
      val uu = (java.lang.Long.parseLong(
        md5hex(s"dpq:$b").take(4), 16).toDouble + 0.5) / 65536.0
      val il = math.max(math.round(0.0 - math.log(uu) * 10000.0), 1L)
      val gl = math.round(0.0 - math.log(il.toDouble / 10000.0) * 10000.0)
      (b, u * 5000L + gl, u)
    }
    val best = keys.maxBy(k => (k._2, -k._1))
    assert(r.getLong(0) == best._1, "selected bucket")
    assert(r.getLong(3) == best._2, "key_e4")
    assert(r.getLong(2) == best._3, "utility")
    // utility of the DP pick is within one bucket mass of the optimum
    val uStar = keys.map(_._3).max
    assert(best._3 >= uStar - 2 * per.map(_._2).max,
      "mechanism picked a far-from-median bucket on a tiny grid")
  }
}
