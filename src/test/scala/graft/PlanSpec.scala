package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-quality regression guards: the properties SCALE.md claims —
  * pushdown, pruning, broadcast dimension joins, TakeOrderedAndProject
  * top-k — asserted against the actual physical plans so a future
  * refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(FormattedMode)

  test("filters and projection reach the parquet scan") {
    val p = planOf("q_filter_pushdown")
    assert(p.contains("PushedFilters") && p.contains("In(p_brand"))
    assert(p.contains("ReadSchema: struct<p_partkey"))
    // untouched columns (p_name, p_retailprice) are pruned from the scan
    assert(!p.contains("p_retailprice"))
  }

  test("q3: dimension join broadcasts, date filters pushed") {
    val p = planOf("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("GreaterThan(l_shipdate"))
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(planOf("q2_top_orders").contains("TakeOrderedAndProject"))
  }

  test("q3/q5 carry no forced broadcast hints; AQE broadcasts at runtime") {
    // round-4 finding: broadcast() hints on SF-growing tables
    // (customer/part/supplier) override AQE's size check and would
    // force-broadcast multi-GB tables at large scale. The hints are
    // gone — so the EXECUTED adaptive plan must still show AQE
    // choosing broadcast for the small sides on its own.
    Seq("q3_shipping_priority", "q5_region_revenue").foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("BroadcastHashJoin"), s"$q: $executed")
    }
  }

  test("similarity top-k broadcasts the query side") {
    val p = planOf("s_cosine_topk")
    assert(p.contains("Broadcast"))
    // the rank exchange carries only narrow columns, not embeddings
    assert(!p.contains("hashpartitioning(q_id") ||
      !p.substring(p.indexOf("hashpartitioning(q_id")).take(200).contains("qv"))
  }

  test("semi/anti joins stay joins (no fallback to cartesian)") {
    assert(planOf("o9_semi_join").contains("LeftSemi"))
    assert(planOf("o9_anti_join").contains("LeftAnti"))
  }

  test("as-of join: one keyed exchange, never a cartesian") {
    val p = planOf("e_asof_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the union+window shape shuffles once on the key
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length === 1, p)
  }

  test("range join: bucketed equi-join, never a cartesian") {
    val p = planOf("e_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") && p.contains("__bucket"), p)
  }

  test("q7/q10: dimension joins broadcast; top-k avoids a global sort") {
    assert(planOf("q7_volume_shipping").contains("BroadcastHashJoin"))
    assert(planOf("q10_returned_items").contains("TakeOrderedAndProject"))
  }

  test("stratified sample: map-side predicate, zero shuffle") {
    val p = planOf("q_stratified_sample")
    assert(!p.contains("Exchange"), p)
  }

  test("round-3 TPC-H shapes: broadcast dims, no cartesians, top-k") {
    val q9 = planOf("q9_product_profit")
    assert(q9.contains("BroadcastHashJoin"), q9)
    assert(!q9.contains("CartesianProduct"), q9)
    val q21 = planOf("q21_sole_late_shipper")
    assert(q21.contains("TakeOrderedAndProject"), q21)
    assert(q21.contains("LeftSemi"), q21)
    val q16 = planOf("q16_parts_suppliers")
    assert(q16.contains("LeftAnti") && q16.contains("BroadcastHashJoin"), q16)
    // Q11's scalar-subquery threshold must be a broadcast of a 1-row
    // agg, not a cartesian of two shuffled sides
    val q11 = planOf("q11_important_parts")
    assert(q11.contains("BroadcastNestedLoopJoin") ||
      q11.contains("BroadcastExchange"), q11)
    // the bloom prefilter must be a map-side might_contain BEFORE the
    // exact semi-join — the sketch probe lives in the scan stage
    val bloom = planOf("o9_bloom_semi")
    assert(bloom.contains("might_contain") && bloom.contains("LeftSemi"), bloom)
  }

  test("round-4 shapes: heavy-hitter verify broadcasts, histogram map-combines") {
    // phase-2 exact count joins the candidate set with a plain equi-join
    // (AQE broadcasts the usually-tiny side at runtime; no forced hint,
    // so a pathological candidate set degrades to a keyed shuffle
    // instead of an oversized broadcast) and the count partial-aggregates
    val hh = planOf("t_heavy_hitters")
    assert(!hh.contains("CartesianProduct") &&
      !hh.contains("BroadcastNestedLoopJoin"), hh)
    assert(hh.contains("partial_count"), hh)
    val hist = planOf("q_histogram")
    assert(hist.contains("partial_count"), hist)
    assert("""\(\d+\) Exchange""".r.findAllIn(hist).length === 1, hist)
  }

  test("round-4 shapes: exact quantiles never use a single-partition window") {
    assert(!planOf("q_exact_quantiles").contains("Window"))
    assert(!planOf("q_winsorize").contains("Window"))
    // corpus pipeline: quality filter reaches the scan stage (no
    // separate filter-after-exchange), windows shuffle on their keys
    val cp = planOf("t_corpus_pipeline")
    assert(cp.contains("Window"), cp)
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("late round-4 shapes: EMA single-shuffle, dedup/graph cartesian-free") {
    // EMA is ONE keyed shuffle (groupBy user_id) and nothing else — the
    // whole point of the in-array fold over per-key history
    val ema = planOf("e_ema")
    assert("""\(\d+\) Exchange""".r.findAllIn(ema).length === 1, ema)
    assert(!ema.contains("Window"), ema)
    // segment dedup: equi-join back on the segment key only, map-side
    // partial agg on the first-occurrence pass
    val sd = planOf("t_segment_dedup")
    assert(!sd.contains("CartesianProduct") &&
      !sd.contains("BroadcastNestedLoopJoin"), sd)
    assert(sd.contains("partial_min"), sd)
    // pagerank output: top-100 via TakeOrderedAndProject, no cartesian
    // (checkpointed iterations keep the final plan small)
    val pr = planOf("g_pagerank")
    assert(pr.contains("TakeOrderedAndProject"), pr)
    assert(!pr.contains("CartesianProduct"), pr)
    // perplexity: LM probabilities equi-joined on the bigram, scoring
    // is an equi-join — no cartesian anywhere
    val tp = planOf("t_perplexity")
    assert(!tp.contains("CartesianProduct") &&
      !tp.contains("BroadcastNestedLoopJoin"), tp)
  }

  test("round-6 shapes: bigram-LM denominator is agg+join, never a w1 window") {
    // the Zipfian w1 key (w1="the" ~ vocabulary-many bigram types) must
    // NOT be a window partition key: AQE can split a skewed join but
    // not a skewed window. The denominator is groupBy(w1)+equi-join —
    // map-side combinable, skew-splittable, same values.
    Seq("t_bigram_lm", "t_perplexity").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q plan contains a Window:\n$p")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"), q)
      assert(p.contains("Join"), s"$q: denominator join missing\n$p")
    }
    // URL canonicalization is map-side column algebra: the whole query
    // is ONE exchange (the final groupBy) with partial aggregation
    // before it — no join, no window, no extra shuffle
    val u = planOf("d_url_dedup")
    assert("""\(\d+\) Exchange""".r.findAllIn(u).length === 1, u)
    assert(u.contains("partial_count"), u)
  }

  test("round-4 additions: skyline aggregates before its window, graph/SCD shapes") {
    // skyline: the single-partition window runs over the per-price
    // AGGREGATE (domain-sized), never the raw part rows — the
    // HashAggregate must sit below the Window in the plan
    val sky = planOf("q_skyline")
    assert(!sky.contains("CartesianProduct"), sky)
    // ordering check: in the formatted tree a node's input subtree
    // prints AFTER it, so the per-price aggregate feeding the window
    // must appear after the Window line; an agg ABOVE the window (or
    // a window straight over the raw scan) would print before it /
    // not at all
    val winAt = sky.indexOf("Window")
    val aggAt = sky.indexOf("HashAggregate")
    assert(winAt >= 0 && aggAt >= 0 && winAt < aggAt, sky)
    // triangles: the wedge and closing-edge joins are equi-joins (a
    // hash or sort-merge join appears; no CartesianProduct anywhere).
    // The only nested-loop joins are the two 1-row × 1-row cross
    // joins assembling the scalar report.
    val tri = planOf("g_triangles")
    assert(!tri.contains("CartesianProduct"), tri)
    // formatted mode prints each node in the tree AND the detail list
    assert("""BroadcastNestedLoopJoin""".r.findAllIn(tri).length <= 4, tri)
    assert(tri.contains("HashJoin") || tri.contains("SortMergeJoin"), tri)
    // hopping windows: ONE exchange — the explode into 4 windows is
    // map-side and partial aggregation combines before the shuffle
    val hop = planOf("e_hopping_window")
    assert("""\(\d+\) Exchange""".r.findAllIn(hop).length === 1, hop)
    assert(hop.contains("partial"), hop)
    // SCD-2: one keyed shuffle on user_id shared by both windows
    val scd = planOf("e_scd2_intervals")
    assert("""\(\d+\) Exchange""".r.findAllIn(scd).length === 1, scd)
  }

  test("round-4 session shapes: shuffle-free chunking, cartesian-free candidates") {
    // chunking is pure per-row HOFs — NO exchange anywhere in the plan
    val chunk = planOf("t_chunk_overlap")
    assert(!chunk.contains("Exchange"), chunk)

    // prefix-filtered Jaccard: candidates via equi-joins only
    val prefix = planOf("d_jaccard_prefix")
    assert(!prefix.contains("CartesianProduct"))

    // RRF: both retrievers end in distributed TakeOrdered before any
    // rank window; the one nested-loop join is the broadcast 1-row
    // query vector, never a cartesian
    val rrf = planOf("s_rrf_hybrid")
    assert(rrf.contains("TakeOrderedAndProject"))
    assert(!rrf.contains("CartesianProduct"))

    // matryoshka funnel: query side broadcast in both stages
    val mat = planOf("s_ann_matryoshka")
    assert(mat.contains("Broadcast"))
    assert(!mat.contains("CartesianProduct"))

    // MP4 probe is a map-side projection — no exchange
    val mp4 = planOf("m_mp4_meta")
    assert(!mp4.contains("Exchange"), mp4)
  }

  test("round-5 shapes: span dedup equi-joins, IVF-PQ broadcast, no cartesians") {
    // duplicated-span dedup: candidate generation is the n-gram
    // equi-join + the covered-grid anti-join — never a cartesian
    val stats = planOf("d_span_stats")
    assert(!stats.contains("CartesianProduct"), stats)
    val scrub = planOf("d_span_scrub")
    assert(!scrub.contains("CartesianProduct"), scrub)
    assert(scrub.contains("LeftAnti"), scrub) // covered-index removal

    // IVF-PQ: candidates via the (list) equi-join with the tiny query
    // side broadcast; codes/tables are plan literals, so no cartesian
    // anywhere in the composite
    val ivfpq = planOf("s_ann_ivfpq")
    assert(ivfpq.contains("Broadcast"), ivfpq)
    assert(!ivfpq.contains("CartesianProduct"), ivfpq)
  }

  test("round-6 curation shapes: DSIR broadcasts, classifier shuffle-free") {
    // DSIR: the ≤256-row bucket-LM table joins the corpus-sized
    // feature frame as a BROADCAST (never shuffles the corpus on the
    // bucket key), selection is a distributed TakeOrdered (never a
    // global Sort), and nothing is a window
    val dsir = planOf("t_dsir_weights")
    assert(dsir.contains("BroadcastHashJoin"), dsir)
    assert(dsir.contains("TakeOrderedAndProject"), dsir)
    assert(!dsir.contains("Window"), dsir)
    assert(!dsir.contains("CartesianProduct"), dsir)

    // hashed linear classifier: pure per-row projection — ZERO
    // exchanges, the filter runs at scan speed
    val clf = planOf("t_quality_classifier")
    assert(!clf.contains("Exchange"), clf)
    assert(!clf.contains("Join"), clf)

    // soft dedup: gram-key equi-joins only; the single-row corpus
    // count may ride a BroadcastNestedLoopJoin, but a true cartesian
    // over data-sized frames must never appear
    val soft = planOf("d_softdedup")
    assert(!soft.contains("CartesianProduct"), soft)

    // NFC canonicalization: map-side only — no exchange at all
    val nfc = planOf("t_unicode_norm")
    assert(!nfc.contains("Exchange"), nfc)
  }

  test("round-6 session shapes: contamination scan-side, KN windowless, hamming broadcast") {
    // decontamination: the eval side BROADCASTS on the bucket key —
    // the corpus is never shuffled, the whole gate is one map-side
    // probe pass (SCALE.md §11)
    val cont = planOf("s_contamination_cos")
    assert(cont.contains("BroadcastHashJoin"), cont)
    assert(!cont.contains("SortMergeJoin"), cont)
    assert(!cont.contains("CartesianProduct"), cont)

    // Kneser–Ney: every aggregate is a groupBy (map-combinable,
    // AQE-splittable); the Zipfian w1 key must never anchor a window
    val kn = planOf("t_kneser_ney")
    assert(!kn.contains("Window"), kn)
    assert(kn.contains("TakeOrderedAndProject"), kn)

    // binary ANN: the compressed-code candidate scan joins the
    // broadcast query side — no shuffle of the corpus before the
    // bounded candidate window
    val ham = planOf("s_ann_hamming")
    assert(ham.contains("BroadcastNestedLoopJoin") ||
      ham.contains("BroadcastHashJoin"), ham)
    assert(!ham.contains("CartesianProduct"), ham)

    // boilerplate scrub: candidate generation is equi-join only
    val bp = planOf("t_boilerplate_scrub")
    assert(!bp.contains("CartesianProduct"), bp)
    assert(!bp.contains("BroadcastNestedLoopJoin"), bp)

    // classifier PR sweep: ONE corpus scan, counts aggregate
    // map-side; the 17-row threshold frame rides a broadcast
    val pr = planOf("t_classifier_pr_curve")
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("Window"), pr)
  }

  test("round-7 shapes: prefix-filtered edge gen, mining windowless") {
    // transitive contamination routes edge generation through the
    // prefix-filtered jaccard join (DedupQueries): the candidate join
    // must carry the prefix rank — a per-doc row_number window (bounded
    // fanout) plus the exact-decimal CEIL prefix cut — so a
    // boilerplate shingle in k docs can never fan out k² candidates.
    // The BFS result itself is checkpoint-truncated, so pin the edge
    // operator's own plan on the real corpus.
    val edges = graft.operators.Dedup.jaccardPairsPrefix(
      Tables.t(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text", n = 5, threshold = 0.5)
    val ep = edges.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(ep.contains("row_number"), s"prefix rank window missing:\n$ep")
    assert(ep.contains("CEIL") || ep.contains("ceil"),
      s"exact-decimal prefix cut missing:\n$ep")
    assert(!ep.contains("CartesianProduct"), ep)

    // skip-gram pairs are generated map-side (zip against shifted
    // self): no window anywhere; PMI marginals are agg+equi-join on
    // the Zipfian word keys (AQE-splittable), N rides a broadcast
    val sg = planOf("t_skipgram_pmi")
    assert(!sg.contains("Window"), sg)
    assert(!sg.contains("CartesianProduct"), sg)
    assert(sg.contains("Join"), sg)

    // association rules: apriori-pruned equi-joins only; the one-row
    // basket count joins via broadcast, never a cartesian
    val ar = planOf("t_assoc_rules")
    assert(!ar.contains("Window"), ar)
    assert(!ar.contains("CartesianProduct"), ar)

    // k-means scoring against a fitted model is pure map work: the
    // centroids are plan literals, so the assignment plan must carry
    // ZERO exchanges — the corpus is never shuffled to be scored
    val km = graft.operators.KMeans.assignTo(
      Tables.t(spark, "/root/testdata/sf0.001", "embeddings"),
      Map(0 -> Seq.fill(64)(0.0), 1 -> Seq.fill(64)(1.0)))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!km.contains("Exchange"), s"assignTo shuffles:\n$km")

    // sparse retrieval: champion cut + candidate cap + rerank are
    // equi-joins and bounded windows only — no cartesian anywhere
    val st = planOf("s_sparse_topk")
    assert(!st.contains("CartesianProduct"), st)
  }

  test("round-8 governance shapes: broadcast stats, no cartesians") {
    // MAD screen: the per-type stats frames are |event_types|-sized and
    // must broadcast back onto the events scan — the corpus-sized side
    // is never shuffled for the join
    val mad = planOf("e_mad_outliers")
    assert(mad.contains("BroadcastHashJoin"), mad)
    assert(!mad.contains("CartesianProduct"), mad)

    // k-anonymity: two cascaded aggs over group-cardinality rows,
    // no join at all in the plan
    val ka = planOf("q_k_anonymity")
    assert(!ka.contains("Join"), ka)

    // domain rollup: dup membership is a keyed equi-join, never a
    // cartesian; the final rollup is one hash aggregate
    val ds = planOf("t_domain_stats")
    assert(!ds.contains("CartesianProduct"), ds)
    assert(ds.contains("HashAggregate"), ds)
  }

  test("round-8 session shapes: KMV object agg, phrase broadcast, erasure semi") {
    // KMV: the bounded bottom-k buffer must run as a PARTIAL
    // ObjectHashAggregate (map-side reduction to <= k longs per group
    // before the exchange) — a plan that shuffles raw rows to the
    // reducer would defeat the sketch
    val kmv = planOf("q_kmv_distinct")
    assert(kmv.contains("ObjectHashAggregate"), kmv)
    assert(!kmv.contains("CartesianProduct"), kmv)

    // phrase search: the 5-row phrase table broadcasts onto the
    // postings stream; the adjacency join is an equi-join (hash or
    // sort-merge), never a cartesian
    val ph = planOf("t_phrase_search")
    assert(ph.contains("BroadcastHashJoin"), ph)
    assert(!ph.contains("CartesianProduct"), ph)

    // erasure audit: every propagation is a broadcast SEMI/ANTI join on
    // the tombstone keys — the fact tables stream map-side
    val er = planOf("q_erasure_audit")
    assert(er.contains("LeftSemi"), er)
    assert(er.contains("LeftAnti"), er)
    assert(er.contains("BroadcastHashJoin"), er)

    // l-diversity: one corpus aggregation, no join anywhere
    val ld = planOf("q_l_diversity")
    assert(!ld.contains("Join"), ld)

    // spectrogram: pure map-side column algebra after the decode —
    // the only exchange in the plan is none at all
    val sp = planOf("m_spectrogram")
    assert(!sp.contains("Exchange"), s"spectrogram shuffles:\n$sp")
    assert(!sp.contains("Join"), sp)

    // winnowing pairs: candidate generation is a df-capped equi-join on
    // the fingerprint blocking key — same discipline as the Jaccard
    // family, never a cartesian
    val wn = planOf("d_winnow_pairs")
    assert(!wn.contains("CartesianProduct"), wn)
    assert(!wn.contains("BroadcastNestedLoopJoin"), wn)
  }

  test("round-8 sketch/graph shapes: bounded aggs, semi-join peel, map-side scenes") {
    // HLL: two cascaded hash aggregates (register MAX, then the group
    // fold) — the exchange after the partial agg carries <= 1024 rows
    // per group; no cartesian anywhere (the exact-count join is keyed)
    val hll = planOf("q_hll_distinct")
    assert(hll.contains("HashAggregate"), hll)
    assert(!hll.contains("CartesianProduct"), hll)

    // CMS: the 48-row sketch must BROADCAST onto the key probes; the
    // sketch build itself is a map-combinable count after posexplode
    val cms = planOf("q_cms_freq")
    assert(cms.contains("BroadcastHashJoin"), cms)
    assert(!cms.contains("CartesianProduct"), cms)

    // k-core: every peel round is a pair of LEFT SEMI equi-joins
    // against the survivor set — no cartesian, no nested loop. The
    // checkpointed loop hides rounds from g_kcore's final plan, so
    // pin ONE round's plan directly
    val und = {
      import spark.implicits._
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "d")
    }
    val kc = graft.operators.Graph.peelRound(und, 2)
      .queryExecution.explainString(FormattedMode)
    assert(kc.contains("LeftSemi"), kc)
    assert(!kc.contains("CartesianProduct"), kc)
    assert(!kc.contains("BroadcastNestedLoopJoin"), kc)

    // t-closeness: ONE corpus-sized aggregation; the global-stats side
    // is a single row riding a broadcast nested loop (constant-size),
    // never a shuffled cartesian
    val tc = planOf("q_t_closeness")
    assert(!tc.contains("CartesianProduct"), tc)
    assert(tc.contains("HashAggregate"), tc)

    // scene changes: demux + SAD are per-partition; the whole query
    // plans with ZERO exchanges before the result
    val sc = planOf("m_scene_changes")
    assert(!sc.contains("Exchange"), s"scene diffs shuffle:\n$sc")
    assert(!sc.contains("Join"), sc)

    // record linkage: both blocking passes are equi-joins on the block
    // key — never a cartesian or nested loop, even though the verify
    // predicate (levenshtein) is itself non-equi
    val rl = planOf("d_record_linkage")
    assert(!rl.contains("CartesianProduct"), rl)
    assert(!rl.contains("BroadcastNestedLoopJoin"), rl)

    // markov: pair counts collapse BEFORE the marginal join; the join
    // is broadcast (#types² rows), the corpus shuffles once for the lag
    val mk = planOf("e_markov_transitions")
    assert(!mk.contains("CartesianProduct"), mk)

    // readability: one map-side projection, zero shuffles
    val rd = planOf("t_readability")
    assert(!rd.contains("Exchange"), s"readability shuffles:\n$rd")

    // DP contribution audit: two cascaded aggs, no join
    val dp = planOf("q_dp_contribution")
    assert(!dp.contains("Join"), dp)
  }

  test("round-8 signal/graph/knn shapes: bounded windows, keyed joins only") {
    // late arrivals: the watermark window runs on the BATCH series
    // (single-partition exchange over wall-clock-bounded rows) and the
    // per-event side joins it via BROADCAST — raw events are never
    // globally ordered or hash-shuffled for the join
    val la = planOf("e_late_arrivals")
    assert(la.contains("SinglePartition"), la)
    assert(la.contains("BroadcastHashJoin"), la)
    assert(!la.contains("CartesianProduct"), la)

    // seasonal decomposition: the seasonal fit joins back by BROADCAST
    // (24 hod rows); no cartesian anywhere
    val sd = planOf("e_seasonal_decompose")
    assert(sd.contains("BroadcastHashJoin"), sd)
    assert(!sd.contains("CartesianProduct"), sd)

    // mutual k-NN: the rank window's exchange carries only the
    // (src, dst, cos) triple — the 64-float vectors must be projected
    // away BEFORE rows cross the wire
    val kg = planOf("s_knn_graph")
    val hp = kg.indexOf("hashpartitioning(src")
    assert(hp >= 0, kg)
    assert(!kg.substring(hp).take(200).contains(", v#"),
      "embedding vectors cross the rank exchange:\n" + kg)
    assert(!kg.contains("CartesianProduct"), kg)

    // clustering coefficient: wedges + closure are equi-joins; the
    // per-node fold is a hash aggregate — no cartesian, no nested loop
    val cc = planOf("g_clustering")
    assert(!cc.contains("CartesianProduct"), cc)
    assert(!cc.contains("BroadcastNestedLoopJoin"), cc)
    assert(cc.contains("HashAggregate"), cc)

    // CDC chunking: boundary+hash generation reaches the first
    // aggregate as pure map-side work — the plan up to the chunk_hash
    // groupBy contains a Generate (posexplode) but NO join
    val cdc = planOf("d_cdc_chunks")
    assert(!cdc.contains("CartesianProduct"), cdc)
    assert(cdc.contains("Generate") || cdc.contains("LocalCheckpoint") ||
      cdc.contains("Scan ExistingRDD"), cdc)
  }

  test("stats shapes: partitioned ECDF, broadcast grids, map-side silhouette") {
    // KS: the per-partition cumulative window is keyed by pid — the
    // corpus-sized ECDF pass never runs in a single partition (the
    // only SinglePartition structures are the #partitions-row offset
    // table and the final 1-row agg)
    val ks = planOf("q_ks_test")
    assert(ks.contains("hashpartitioning(__pid"), ks)
    assert(!ks.contains("CartesianProduct"), ks)

    // PSI: bucket stats and totals join back by BROADCAST; the only
    // nested-loop is the 5x10 model-sized bucket spine
    val psi = planOf("q_psi_drift")
    assert(psi.contains("BroadcastHashJoin"), psi)
    assert(!psi.contains("CartesianProduct"), psi)

    // grid kNN: candidates come from an EQUI-join on the cell key —
    // never an all-pairs product
    val gk = planOf("s_grid_knn")
    assert(gk.contains("[cx"), gk) // join keys are the cell coords
    assert(!gk.contains("CartesianProduct"), gk)
    assert(!gk.contains("BroadcastNestedLoopJoin"), gk)

    // silhouette: centroids are plan literals — per-point scoring is
    // join-free; the single shuffle is the k-group mean agg
    val sil = planOf("s_silhouette")
    assert(!sil.contains("Join"), sil)
    assert(sil.contains("HashAggregate"), sil)

    // Zipf: the top-1000 cut is a TakeOrdered, not a global sort
    val zf = planOf("t_zipf_fit")
    assert(zf.contains("TakeOrderedAndProject"), zf)

    // Spearman: rank joins are equi-joins (quantity side broadcast,
    // price side keyed) — never a product
    val sp = planOf("q_spearman")
    assert(!sp.contains("CartesianProduct"), sp)
    assert(sp.contains("BroadcastHashJoin"), sp)
  }
  test("round-9 additions: no cartesian products, broadcasts where claimed") {
    // kendall: the grid self-join must stay a real join (inequality
    // join over a broadcast-scale grid), never a corpus cartesian
    val kt = planOf("q_kendall_tau")
    assert(!kt.contains("CartesianProduct"),
      "kendall grid join fell back to cartesian")
    // wasserstein: corpus-bucket profile and total broadcast to the
    // per-source frame
    assert(planOf("q_wasserstein_1d").contains("Broadcast"))
    // embed MMD: corpus per-dimension moments joined broadcast
    assert(planOf("s_embed_mmd").contains("Broadcast"))
    // conformal: threshold + calibration counts broadcast to eval scan
    assert(planOf("q_conformal_coverage").contains("Broadcast"))
    // pass@k: one shuffle only (the per-task agg) — no join at all
    val pk = planOf("q_pass_at_k")
    assert(!pk.contains("Join"), "pass@k must be join-free")
    // dup inflation: two-level fold, join-free
    assert(!planOf("d_dup_inflation").contains("Join"),
      "dup inflation must be join-free")
  }
  test("round-9 late additions: bounded-grid windows, broadcasts, no cartesians") {
    // dp quantile: bounded-grid window + TakeOrdered argmax
    val dp = planOf("q_dp_quantile")
    assert(dp.contains("TakeOrderedAndProject"), "dp argmax must be top-k")
    // group percentiles: keyed grid window, no row sort before agg
    assert(!planOf("q_group_percentiles").contains("CartesianProduct"))
    // intervention: the two segment fits come from ONE scan fan-out
    assert(!planOf("e_intervention_analysis").contains("CartesianProduct"))
    // kfold: single map-combinable agg + broadcast spread frame
    assert(planOf("q_cv_kfold").contains("Broadcast"))
    // b-bit audit: candidates from the inverted-index join, never
    // a cross join of the corpus
    assert(!planOf("d_minhash_bbit").contains("CartesianProduct"))
  }

  test("round-10 shapes: index paths equi-join, edit blocking, no cartesians") {
    // persisted band index: candidates come from the (band, bkey)
    // equi-join against the TABLE — never a cross join; the fresh
    // batch side is checkpointed (scan appears once)
    val idx = planOf("d_index_incremental")
    assert(!idx.contains("CartesianProduct"), idx)
    assert(idx.contains("SortMergeJoin") || idx.contains("BroadcastHashJoin") ||
      idx.contains("ShuffledHashJoin"), idx)
    // persisted IVF index: the query side broadcasts into the lists
    val ann = planOf("s_index_ann")
    assert(ann.contains("Broadcast"), ann)
    assert(!ann.contains("CartesianProduct"), ann)
    // blocked Levenshtein: the pair generator is a key equi-join
    assert(!planOf("d_edit_pairs").contains("CartesianProduct"))
    // incremental clusters: contraction joins + CC rounds, no cartesian
    assert(!planOf("d_cluster_incremental").contains("CartesianProduct"))
    // codec inventory: a single mapPartitions pass, shuffle-free
    val inv = planOf("m_codec_inventory")
    assert(!inv.contains("Exchange"), inv)
    // PII census / mojibake: pure map-side projections, shuffle-free
    assert(!planOf("t_pii_detect").contains("Exchange"))
    assert(!planOf("t_mojibake").contains("Exchange"))
  }

  test("round-11 shapes: html map-side, artifact routing join-free") {
    // HTML extraction/links: native expressions inside the scan
    // stage — the whole query is shuffle-free
    assert(!planOf("t_html_extract").contains("Exchange"))
    assert(!planOf("t_html_links").contains("Exchange"))
    // routing against the persisted k-means model: centroids are plan
    // literals read off the artifact — join-free AND shuffle-free
    val route = planOf("s_kmeans_route")
    assert(!route.contains("Join"), route)
    assert(!route.contains("Exchange"), route)
    // drift report: the only joins are the model-sized full-outer and
    // the broadcast one-row totals — never a corpus cartesian
    val drift = planOf("s_kmeans_drift")
    assert(!drift.contains("CartesianProduct"), drift)
    // IVF health report: one keyed agg over the lists TABLE, totals
    // broadcast back — no corpus product
    val st = planOf("s_index_stats")
    assert(!st.contains("CartesianProduct"), st)
    assert(st.contains("HashAggregate"), st)
    // unigram EM: the corpus-sized job is the word count; the DP and
    // the occurrence fan-out run over the TYPE table
    assert(!planOf("t_unigram_em").contains("CartesianProduct"))
  }

  // Every query whose physical plan is ALLOWED to carry an
  // unpartitioned Window (a single-task global sort of its input
  // frame), each because that frame is bounded by construction —
  // hourly spines (wall-clock-bounded), value grids, post-aggregation
  // group frames, post-top-k rows, model-sized tables, or
  // partition-id-sized offsets. Regenerate the raw list with
  // `sbt 'Test/runMain graft.WindowSweep'`.
  private val boundedGlobalWindows = Set(
    // hourly/dense-spine series — rows = observed hours, not events
    "e_cusum_changepoint", "e_ts_anomaly", "e_late_arrivals",
    "e_slo_burn",
    // value grids / per-test statistic frames (distinct values or
    // fixed replicate counts, aggregated before the window)
    "e_kaplan_meier", "e_theil_sen", "q_ks_test", "q_mannwhitney_u",
    "t_quality_auc", // distinct-z histogram + #partitions-row offsets
    "t_quality_pr_curve", // same distinct-z grid via Ranks.prefixSums
    "t_quality_threshold", // same grid: the PR menu the selection reads
    "t_quality_auc_bigram", // two distinct-z grids (one per space)
    "q_spearman", "q_bh_fdr", "q_bootstrap_ci", "q_conformal_coverage",
    "q_dp_quantile", "q_group_median", "q_group_percentiles",
    "q_median_price", "q_skyline",
    // post-aggregation group frames (suppliers/months/parts after the
    // corpus-sized agg; TPC-H dim cardinality)
    "q2_min_cost_supplier", "q20_dominant_suppliers",
    "q21_sole_late_shipper", "q_mom_growth",
    // partition-id-sized audit frames
    "q_join_skew_audit",
    // post-top-k / candidate-bounded rows
    "s_rrf_hybrid", "s_semdedup",
    // vocab / rank-grid / batch-count frames
    "t_encode_ids", "t_vocab_coverage", "t_zipf_fit", "t_novelty_curve",
    "t_shuffle_order", "t_shuffle_decorrelation",
    // model-sized preference/source tables
    "p_copeland_borda", "t_mix_waterfall",
    "t_mix_plan", // water-filling over the #sources frame
    // Ranks.rowNumbers offsets: one row per partition, never the corpus
    "t_ppl_buckets", "t_curriculum_order")

  /** The truly-unpartitioned Window operators of a plan, straight off
    * the operator tree (`partitionSpec.isEmpty`) — the old string
    * heuristic (< 2 "], [" separators) misread a PARTITIONED window
    * with no ORDER BY (e.g. the dedup stage's min-over-content-hash)
    * as global.
    */
  private def globalWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        w.simpleString(120)
    }

  test("no single-task global sort of a corpus-sized frame anywhere") {
    // the round-9 finding, frozen as a standing audit: an unpartitioned
    // Window funnels its whole input into ONE task, so any query plan
    // carrying one must be on the documented bounded-domain allowlist.
    // A new query (or a refactor) that introduces a global sort of a
    // corpus-sized frame fails here until its bound is argued and the
    // allowlist is consciously extended.
    val offenders = scala.collection.mutable.Map[String, List[String]]()
    (SparkEntry.queries.keySet -- SparkEntry.sideEffecting)
      .toSeq.sorted.foreach { n =>
        val unpart = globalWindows(SparkEntry.queries(n)(
          spark, "/root/testdata/sf0.001").queryExecution.sparkPlan)
        if (unpart.nonEmpty && !boundedGlobalWindows.contains(n))
          offenders(n) = unpart.map(_.take(120)).toList
      }
    assert(offenders.isEmpty,
      s"undocumented global-sort windows: $offenders")
    // and the formerly-weak t_ppl_buckets: its only global window is
    // the partition-count-sized offsets cumsum, never the scored corpus
    val pplPlan = SparkEntry.queries("t_ppl_buckets")(
      spark, "/root/testdata/sf0.001").queryExecution.sparkPlan
    val pplUnpart = globalWindows(pplPlan)
    assert(pplUnpart.nonEmpty && pplUnpart.forall(_.contains("__pid")),
      s"ppl rank window shape changed: ${pplUnpart.toList}")
    // the corpus-sized numbering window IS partitioned (by __pid)
    assert(pplPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.nonEmpty &&
            w.partitionSpec.mkString.contains("__pid") &&
            w.windowExpression.mkString.contains("row_number()") => w
    }.nonEmpty, pplPlan.toString)
  }
}
