package graft

import graft.operators.Graph

/** BFS hop labelling: chain distances, undirectedness, hop bound,
  * multi-seed minimum. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // chain 1-2-3-4-5, branch 3-6, island 8-9
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (6L, 3L), (8L, 9L)).toDF("src", "dst")

  test("single-seed BFS labels min hops and stops at maxHops") {
    val got = Graph.bfsHops(edges, Seq(1L).toDF("id"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 6L -> 3))
    // 5 is 4 hops away, islands unreachable — both absent
  }

  test("edge direction does not matter (6->3 reaches 6 from 1)") {
    val got = Graph.bfsHops(edges, Seq(6L).toDF("id"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(6L -> 0, 3L -> 1, 2L -> 2, 4L -> 2))
  }

  test("multi-seed takes the minimum distance over seeds") {
    val got = Graph.bfsHops(edges, Seq(1L, 5L).toDF("id"), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  test("maxHops=0 returns just the distinct seeds") {
    val got = Graph.bfsHops(edges, Seq(1L, 1L, 9L).toDF("id"), maxHops = 0)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 9L -> 0))
  }

  test("pageRank: hand-computed fixed-point iteration on a path graph") {
    // a-b-c: r0 = 1e9/3 = 333333333 each; base = 150000000/3 = 50000000.
    // contribs: ends send r0 div 1, middle sends r0 div 2 = 166666666
    // ends:   50000000 + 85*166666666 div 100 = 191666666
    // middle: 50000000 + 85*(2*166666666... no: b receives both ends'
    //         full ranks: 85*666666666 div 100 = 566666666 -> 616666666
    val p = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = Graph.pageRank(p, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 191666666L, "b" -> 616666666L,
      "c" -> 191666666L))
  }

  test("pageRank: more iterations concentrate rank on the hub") {
    // star: hub h linked to 4 leaves — hub rank must exceed every leaf
    // and total fixed-point mass stays <= 1e9 (truncation only shrinks)
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"))
      .toDF("src", "dst")
    val got = Graph.pageRank(star, iters = 5)
      .as[(String, Long)].collect().toMap
    assert(got("h") > got("l1") && got("l1") === got("l4"))
    assert(got.values.sum <= 1000000000L)
  }

  test("g_triangles: counts each triangle once, dedups edges, prunes by date") {
    import java.sql.Timestamp
    val dir = TempDirs.dir("tri").toString
    val in = Timestamp.valueOf("1995-03-15 00:00:00")
    val out = Timestamp.valueOf("1995-06-01 00:00:00")
    // o1 {1,2,3} closes a triangle; o3 {1,2} duplicates edge 1-2;
    // o2 {3,4} adds a pendant edge; o4 {5,6,7} is outside the window
    // and must contribute nothing
    Seq((1L, 1L, "O", 1.0, in, "1-URGENT"),
        (2L, 1L, "O", 1.0, in, "1-URGENT"),
        (3L, 1L, "O", 1.0, in, "1-URGENT"),
        (4L, 1L, "O", 1.0, out, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (3L, 1L), (3L, 2L), (2L, 3L),
        (2L, 4L), (4L, 5L), (4L, 6L), (4L, 7L))
      .toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("g_triangles")(spark, dir).collect()
    assert(r.length === 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
      === ((4L, 4L, 1L)))
  }

  test("labelPropagation: seeds fixed, majority wins with min-label ties, 2-hop spread") {
    import spark.implicits._
    // path graph 1-2-3-4-5 plus seed 6 attached to 2:
    //   seeds: 1 -> "a", 6 -> "b"
    // round 1: 2 sees {a, b} tie -> min "a"; 3..5 unreached stay null
    //          (except 3? no: 3's neighbor 2 was null in round 0)
    // round 2: 3 sees {a} from 2 -> "a"; 4, 5 still null
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 2L))
      .toDF("src", "dst")
    val seeds = Seq((1L, "a"), (6L, "b")).toDF("id", "label")
    val got = Graph.labelPropagation(edges, seeds, rounds = 2)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getString(1)), r.getBoolean(2))).toMap
    assert(got(1L) === ((Some("a"), true)))  // seed never flips
    assert(got(6L) === ((Some("b"), true)))
    assert(got(2L) === ((Some("a"), false))) // a/b tie -> min label
    assert(got(3L) === ((Some("a"), false))) // reached in round 2
    assert(got(4L) === ((None, false)))      // 3 hops away: not yet
    assert(got(5L) === ((None, false)))
  }

  test("g_link_predict: Adamic-Adar favors rare shared neighbors") {
    val r = SparkEntry.queries("g_link_predict")(
      spark, "/root/testdata/sf0.001").collect()
    assert(r.nonEmpty && r.length <= 100)
    // output is sorted by (aa_e4 DESC, supp_a, supp_b)
    r.sliding(2).foreach { case Array(hi, lo) =>
      val (ha, la) = (hi.getLong(3), lo.getLong(3))
      assert(ha > la || (ha == la &&
        (hi.getLong(0) < lo.getLong(0) ||
          (hi.getLong(0) == lo.getLong(0) && hi.getLong(1) < lo.getLong(1)))))
      case _ => ()
    }
    // AA is a sum of 1/ln(d) terms with d >= 2 -> each term <= 1/ln 2;
    // so aa_e4 <= common_parts * 14427 (and > 0)
    r.foreach { row =>
      assert(row.getLong(3) > 0 && row.getLong(3) <= row.getLong(2) * 14427)
    }
  }

  test("kCorePeel: hand-checked cascade on a known graph") {
    // triangle 1-2-3 plus a pendant path 3-4-5: at k=2 the pendant
    // path peels in two rounds (5 first, then 4), the triangle stays
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graph.kCorePeel(e, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round is not enough: 4 still sees degree 2 (3 and 5) before
    // 5's removal cascades — proves the peel is genuinely iterative
    val oneRound = Graph.kCorePeel(e, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound.contains(4L) && !oneRound.contains(5L))
  }

  test("kCorePeel: every survivor keeps degree >= k (internal consistency)") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (4L, 3L)).toDF("src", "dst")
    val got = Graph.kCorePeel(e, k = 2, rounds = 5)
      .as[(Long, Long)].collect()
    got.foreach { case (id, deg) => assert(deg >= 2, s"node $id deg $deg") }
  }

  test("g_kcore: the 8-round budget reaches the fixpoint on the fixture") {
    // guards the oracle contract: if a regenerated fixture ever needs
    // more rounds, this fails loudly instead of silently under-peeling
    import org.apache.spark.sql.functions.{col => c}
    val edges = Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .select((c("l_partkey") * 2).as("src"),
        (c("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val r8 = Graph.kCorePeel(edges, k = 3, rounds = 8)
      .as[(Long, Long)].collect().toMap
    val r7 = Graph.kCorePeel(edges, k = 3, rounds = 7)
      .as[(Long, Long)].collect().toMap
    assert(r8 == r7, "8 rounds did not reach the k-core fixpoint")
    r8.values.foreach(d => assert(d >= 3))
  }

  test("trustRank: mass stays near seeds, an unreachable farm drains to zero") {
    // seed component: chain 1-2-3; "link farm": dense clique 10-11-12
    // with no path to any seed — plain PageRank rewards the clique,
    // TrustRank must give it exactly 0 (no restart mass ever enters)
    val e = Seq((1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = Graph.trustRank(e, seeds, iters = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(got(1L)._2 && !got(2L)._2, "seed flags")
    Seq(10L, 11L, 12L).foreach(id =>
      assert(got(id)._1 == 0L, s"farm node $id must hold zero trust"))
    // every node reachable from a seed holds positive trust (NOT
    // monotone in hop distance: the degree-1 seed hands 85% of its
    // mass to node 2 each round, so 2 can out-rank the seed itself)
    Seq(1L, 2L, 3L).foreach(id =>
      assert(got(id)._1 > 0L, s"reachable node $id must hold trust"))
    assert(got(2L)._1 > got(3L)._1,
      "the chain's middle outranks its end (it also collects 3's mass)")
    // absent seed ids are ignored, empty effective seed set is loud
    val got2 = Graph.trustRank(e, Seq(1L, 99L).toDF("id"), iters = 1)
      .collect()
    assert(got2.length == 6)
    intercept[IllegalArgumentException] {
      Graph.trustRank(e, Seq(99L).toDF("id"), iters = 1).collect()
    }
  }

  test("localClustering: exact on a known graph, clique cc = 1") {
    // triangle 1-2-3 plus pendant 4: cc(1)=cc(2)=cc(3)=1 within the
    // triangle except node 3 which also touches 4 (deg 3, 1 triangle
    // → cc = 2/(3·2) = 1/3); node 4 has deg 1 → excluded
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.localClustering(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> ((2L, 1L, 10000L)),
      2L -> ((2L, 1L, 10000L)),
      3L -> ((3L, 1L, 3333L))))
  }

  test("g_clustering: corner sum is 3x the g_triangles census") {
    val cc = SparkEntry.queries("g_clustering")(
      spark, "/root/testdata/sf0.001").collect()
    val census = SparkEntry.queries("g_triangles")(
      spark, "/root/testdata/sf0.001").head()
    assert(cc.map(_.getLong(2)).sum == 3 * census.getLong(2),
      "per-node triangle corners must sum to 3x the global count")
    cc.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000,
        s"cc_e4 out of [0, 10000] for node ${r.getLong(0)}")
    }
  }

  test("hits: hand-computed fixed point on a known graph; partition-invariant") {
    import spark.implicits._
    // 1,2 point at the shared authority 10 plus one private target;
    // 3 points only at 10. Authority: 10 > {11,12}; hubs: {1,2} > 3.
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 12L))
      .toDF("src", "dst")
    val got = Graph.hits(edges, iters = 1).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // round 1 by hand: rawAuth = {10: 3e9, 11: 1e9, 12: 1e9}, max 3e9
    //   -> auth {10: 1e9, 11: 333333333, 12: 333333333}
    // rawHub = {1: 1333333333, 2: 1333333333, 3: 1e9}, max 1333333333
    //   -> hub {1: 1e9, 2: 1e9, 3: 750000000}
    assert(got((10L, "auth")) === 1000000000L)
    assert(got((11L, "auth")) === 333333333L)
    assert(got((12L, "auth")) === 333333333L)
    assert(got((1L, "hub")) === 1000000000L)
    assert(got((2L, "hub")) === 1000000000L)
    assert(got((3L, "hub")) === 750000000L)
    // integral fixed point => bit-identical across partitionings
    val again = Graph.hits(edges.repartition(7), iters = 1).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(again === got)
  }
  test("g_modularity: naive Q replay from the oracle-gated labels") {
    val sfd = "/root/testdata/sf0.001"
    val labels = SparkEntry.queries("g_label_prop")(spark, sfd)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -r.getLong(0) else r.getLong(1))).toMap
    val edges = Tables.t(spark, sfd, "orders")
      .join(Tables.t(spark, sfd, "lineitem"),
        org.apache.spark.sql.functions.expr("o_orderkey = l_orderkey"))
      .selectExpr("o_custkey * 2 AS s", "l_suppkey * 2 + 1 AS d")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val m = edges.length.toLong
    val comm = labels
    val ec = edges.filter(e => comm(e._1) == comm(e._2))
      .groupBy(e => comm(e._1)).map { case (c, v) => c -> v.length.toLong }
    val dc = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(comm).map { case (c, v) => c -> v.length.toLong }
    val num = dc.map { case (c, d) =>
      4L * m * ec.getOrElse(c, 0L) - d * d }.sum
    val r = SparkEntry.queries("g_modularity")(spark, sfd)
      .collect().head
    assert(r.getLong(0) == dc.size.toLong, "n_communities")
    assert(r.getLong(1) == m, "m")
    assert(r.getInt(2) == num.sign.toInt, "q_sign")
    assert(r.getLong(3) == math.round(num.abs.toDouble * 1000000 /
      (4.0 * m.toDouble * m.toDouble)), "q_abs_e6")
    // modularity is bounded: Q in [-1/2, 1)
    val q = r.getInt(2) * r.getLong(3)
    assert(q >= -500000L && q < 1000000L)
  }
  test("g_assortativity: naive Pearson-over-edges replay, r in [-1,1]") {
    val sfd = "/root/testdata/sf0.001"
    val edges = Tables.t(spark, sfd, "orders")
      .join(Tables.t(spark, sfd, "lineitem"),
        org.apache.spark.sql.functions.expr("o_orderkey = l_orderkey"))
      .selectExpr("o_custkey * 2 AS u", "l_suppkey * 2 + 1 AS v")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val both = edges ++ edges.map(e => (e._2, e._1))
    val deg = both.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val xs = both.map(e => (deg(e._1), deg(e._2)))
    val m2 = xs.length.toLong
    val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
    val sxy = xs.map(e => e._1 * e._2).sum.toDouble
    val sxx = xs.map(e => e._1 * e._1).sum.toDouble
    val syy = xs.map(e => e._2 * e._2).sum.toDouble
    val want = BigDecimal((m2 * sxy - sx.toDouble * sy.toDouble) /
      (math.sqrt(m2 * sxx - sx.toDouble * sx.toDouble) *
        math.sqrt(m2 * syy - sy.toDouble * sy.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = SparkEntry.queries("g_assortativity")(spark, sfd)
      .collect().head
    assert(r.getLong(0) == m2 && r.getLong(1) == sx && r.getLong(2) == sy)
    assert(math.abs(r.getDouble(3) - want) < 1e-12, "assortativity")
    assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0)
  }
}
