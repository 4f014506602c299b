package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Data-governance operators: the release/selection decisions a corpus
  * owner makes AFTER measurement — what may be published (k-anonymity),
  * which sources to keep (per-source rollup), which rows are suspect
  * (robust outliers), and how to partition by model fit (CCNet-style
  * perplexity buckets). The reference's workload family is exactly this
  * shape — select a governed subset, report counts (`app/main.py:143`
  * reasons, `app/app.py:166-168` found/not-found report) — generalized
  * from files to records.
  *
  * Comparator discipline (shared with the rest of the suite): every
  * derived ratio is an exact integer ppm (`x * 1000000 div n`), never a
  * rounded double; every double that IS emitted (median, MAD, min/max
  * nll) is either an order statistic selected from input values or the
  * result of the identical arithmetic expression on both sides.
  */
object GovernanceQueries {

  /** Temp path of the persisted training-provenance ledger, built
    * once per data directory from deterministic artifact training
    * sets (the build is the WRITE; `q_erasure_provenance` gates the
    * READ + influence-report path): the band/frontier artifacts
    * trained on the history slice (doc_id < 300), the quality
    * classifier on the whole corpus, a tokenizer vocabulary on the
    * even docs.
    */
  private def provenanceLedger(s: SparkSession, dir: String): String =
    graft.TempDirs.once("prov", dir) {
      val path = graft.TempDirs.dir("graft_prov").toString + "/prov"
      val d = t(s, dir, "documents").select(col("doc_id"))
      val P = graft.operators.Provenance
      P.append(s, path, "band/main", "band",
        d.filter(col("doc_id") < 300))
      P.append(s, path, "frontier/urlseen", "frontier",
        d.filter(col("doc_id") < 300))
      P.append(s, path, "clf/quality", "model", d)
      P.append(s, path, "vocab/bpe", "vocab",
        d.filter(col("doc_id") % 2 === 0))
      path
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- erasure-impact provenance: trained artifacts are
    //      AGGREGATES (classifier weights, tokenizer vocabularies) —
    //      no per-doc row exists to delete, so the right-to-be-
    //      forgotten remedy is knowing WHICH artifacts a document
    //      influenced: row-level kinds get erase_rows (the takedown
    //      path), aggregates get retrain_required, each with the
    //      erased share in exact ppm (is retraining material?). The
    //      ledger records training inputs at build time; the report
    //      is one equi-join + one groupBy. Erasure set: doc_id%17 ----
    "q_erasure_provenance" -> ((s, dir) => {
      val ids = t(s, dir, "documents")
        .filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("id"))
      graft.operators.Provenance.influences(
        graft.operators.Provenance.read(s, provenanceLedger(s, dir)),
        ids)
    }),

    // ---- k-anonymity release with a 2-level generalization
    //      hierarchy: publish (nation, segment) groups of size >= k
    //      as-is; generalize smaller groups to (nation, *); anything
    //      still under k collapses to the fully-suppressed (*, *) row.
    //      Shapes: two map-combinable aggs over group-cardinality rows
    //      (the second runs on the FIRST agg's output — groups, not
    //      customers), zero joins, zero windows. At 100 TB the first
    //      groupBy is the only corpus-sized pass. ----
    "q_k_anonymity" -> ((s, dir) => {
      val k = 10L
      val g = t(s, dir, "customer")
        .select(col("c_nationkey").cast("string").as("nat"),
          col("c_mktsegment").as("seg"))
        .groupBy("nat", "seg").agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // consumed by both the >=k and <k branches
      val lvl0 = g.filter(col("n") >= k)
        .select(col("nat"), col("seg"), col("n"), lit(0).as("level"))
      val g1 = g.filter(col("n") < k)
        .groupBy("nat").agg(sum(col("n")).as("n"))
        .localCheckpoint(false)
      val lvl1 = g1.filter(col("n") >= k)
        .select(col("nat"), lit("*").as("seg"), col("n"), lit(1).as("level"))
      val lvl2 = g1.filter(col("n") < k)
        .agg(sum(col("n")).as("n"))
        .filter(col("n").isNotNull) // no residual groups -> no (*,*) row
        .select(lit("*").as("nat"), lit("*").as("seg"), col("n"),
          lit(2).as("level"))
      lvl0.unionByName(lvl1).unionByName(lvl2)
    }),

    // ---- per-source curation rollup: the keep/drop decision crawl
    //      pipelines make at SOURCE granularity (a bad domain is
    //      dropped wholesale, not doc-by-doc). Exact-dup membership
    //      via one md5-key agg + equi-join back; shares as exact
    //      integer ppm; `keep` is a pure threshold rule on them.
    //      Shapes: hash agg + equi-join + per-source agg — every stage
    //      keyed, map-combinable, skew-free (md5 keys). ----
    // batch = rollup(ledger): the ledger is a plain groupBy, so it also
    // runs as streaming aggregation state, and the rollup of its
    // snapshot equals this query (StreamingSpec)
    "t_domain_stats" -> ((s, dir) =>
      graft.operators.Quality.domainRollup(
        graft.operators.Quality.domainLedger(t(s, dir, "documents")))),

    // ---- robust per-type outliers: median/MAD instead of mean/stddev
    //      (e_anomaly_zscore's moments are themselves dragged by the
    //      outliers they hunt; the median breakdown point is 50%).
    //      Shapes: two keyed percentile aggs over (type, value) rows +
    //      broadcast of the #types-sized stats frame back onto the
    //      scan — the corpus is never shuffled. Exact interpolating
    //      percentile on both engines uses the same
    //      lower + (upper-lower)*frac formula, so the doubles agree
    //      bit-for-bit; at 100 TB swap in approx_percentile and keep
    //      the identical downstream algebra. ----
    "e_mad_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val stats = graft.operators.Quality.robustStats(e, "event_type", "value")
      e.join(broadcast(stats), "event_type")
        .filter(col("mad") > 0.0 &&
          abs(col("value") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("med")) / (lit(1.4826) * col("mad")))
            .as("robust_z"))
    }),

    // ---- right-to-erasure audit: given a deterministic tombstone set
    //      (customers with negative balance — the stand-in for a
    //      deletion request list), measure the full blast radius of the
    //      purge across the referential chain (customer → orders →
    //      lineitem) AND prove the post-purge state has no orphans.
    //      Shapes: the tombstone key set is small → every propagation
    //      is a broadcast semi-join on the child's foreign key, and the
    //      orphan checks are broadcast anti-join COUNTs — the fact
    //      tables stream map-side, nothing corpus-sized shuffles. At
    //      100 TB the tombstone broadcast becomes a bloom-filter
    //      semi-join (o9_bloom_semi's operator) with identical algebra. ----
    "q_erasure_audit" -> ((s, dir) => {
      val tomb = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey")).localCheckpoint(false)
      val deadOrders = t(s, dir, "orders")
        .join(broadcast(tomb), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .select(col("o_orderkey")).localCheckpoint(false)
      val nCust = tomb.agg(count(lit(1)).as("n_customers_purged"))
      val nOrd = deadOrders.agg(count(lit(1)).as("n_orders_purged"))
      val nLi = t(s, dir, "lineitem")
        .join(broadcast(deadOrders), col("l_orderkey") === col("o_orderkey"),
          "left_semi")
        .agg(count(lit(1)).as("n_lineitems_purged"))
      // post-purge orphan proof, through an INDEPENDENT path: join the
      // kept rows back to the BASE tables and re-evaluate the erasure
      // predicate there (not against the tombstone frame the purge
      // used) — a purge that dropped the wrong rows shows up as a
      // nonzero count here, where an anti∘semi self-composition would
      // be vacuously zero
      val orphanOrd = t(s, dir, "orders")
        .join(broadcast(tomb), col("o_custkey") === col("c_custkey"),
          "left_anti")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("c_acctbal") < 0)
        .agg(count(lit(1)).as("orphan_orders"))
      val orphanLi = t(s, dir, "lineitem")
        .join(broadcast(deadOrders), col("l_orderkey") === col("o_orderkey"),
          "left_anti")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("c_acctbal") < 0)
        .agg(count(lit(1)).as("orphan_lineitems"))
      nCust.crossJoin(nOrd).crossJoin(nLi).crossJoin(orphanOrd)
        .crossJoin(orphanLi)
    }),

    // ---- referential-consistent pseudonymization: replace the person
    //      key with a keyed deterministic surrogate (52-bit md5) in
    //      BOTH the entity table and its fact children, then audit
    //      that the release still joins exactly as the original did —
    //      injectivity over the key domain (distinct surrogates ==
    //      distinct keys) and join-pair preservation (|orders ⋈
    //      customer| unchanged under the surrogate). Shapes: the
    //      pseudonym is a zero-shuffle projection; the audit joins are
    //      the same equi-joins the raw keys had — pseudonymization
    //      costs nothing at 100 TB, which is the point of proving it
    //      here. ----
    "q_pseudonymize" -> ((s, dir) => {
      import graft.operators.Kmv
      def surr(c: org.apache.spark.sql.Column) =
        Kmv.hash52(concat(lit("cust:"), c.cast("string")))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), surr(col("c_custkey")).as("c_surr"))
        .localCheckpoint(false)
      val ords = t(s, dir, "orders")
        .select(col("o_custkey"), surr(col("o_custkey")).as("o_surr"))
      val inj = cust.agg(count(lit(1)).as("n_customers"),
        countDistinct(col("c_surr")).as("n_surrogates"))
      val rawJ = ords.join(cust, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("join_pairs_raw"))
      val psJ = ords.join(cust, col("o_surr") === col("c_surr"))
        .agg(count(lit(1)).as("join_pairs_pseudo"))
      inj.crossJoin(rawJ).crossJoin(psJ)
        .withColumn("injective", col("n_surrogates") === col("n_customers"))
        .withColumn("join_preserved",
          col("join_pairs_pseudo") === col("join_pairs_raw"))
    }),

    // ---- l-diversity on top of q_k_anonymity's level-0 release: a
    //      k-anonymous group is still unsafe if everyone in it shares
    //      the same sensitive value. Sensitive attribute = balance
    //      band (debt / low / high); groups must carry >= l = 2
    //      distinct bands. Shapes: one corpus groupBy carrying both
    //      the count and the distinct-band count (map-combinable
    //      count + countDistinct expand), zero joins. ----
    "q_l_diversity" -> ((s, dir) => {
      val l = 2
      val band = when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "low").otherwise("high")
      t(s, dir, "customer")
        .select(col("c_nationkey").cast("string").as("nat"),
          col("c_mktsegment").as("seg"), band.as("band"))
        .groupBy("nat", "seg")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("band")).as("l_distinct"))
        .filter(col("n") >= 10)
        .withColumn("diverse", col("l_distinct") >= l)
    }),

    // ---- differential-privacy contribution bounding: the
    //      deterministic half of a DP release (the noise is sampled at
    //      release time; the CLIPPING and its cost are fixed data
    //      properties worth auditing ahead). Per-user order counts are
    //      clipped at C = 5; the audit reports the raw vs clipped
    //      aggregate, how many users were clipped, the lost mass, and
    //      the resulting L1 sensitivity (= C — what the Laplace scale
    //      would be calibrated to). Shapes: one map-combinable
    //      per-user count, one tiny agg over users — no joins, no
    //      windows, nothing corpus-sized shuffles twice. ----
    "q_dp_contribution" -> ((s, dir) => {
      val cap = 5L
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      per.agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("raw_sum"),
        sum(least(col("n"), lit(cap))).as("clipped_sum"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_clipped"),
        max(col("n")).as("max_contribution"))
        .select(col("n_users"), col("raw_sum"), col("clipped_sum"),
          (col("raw_sum") - col("clipped_sum")).as("clip_loss"),
          col("n_clipped"), col("max_contribution"),
          lit(cap).as("l1_sensitivity"))
    }),

    // ---- ε-DP noisy release of the per-event-type user histogram,
    //      Laplace mechanism with DETERMINISTIC noise: the uniform
    //      draw is md5('dp:' || event_type) → 16 bits → u ∈ (0,1)
    //      (never exactly ½, so the sign never sits on the inverse-CDF
    //      fold), and noise = −b·sign(u−½)·ln(1−2|u−½|) with b = 1/ε,
    //      ε = 0.5. countDistinct(user) gives per-type sensitivity 1
    //      (a user contributes ≤ 1 to each type). Derandomized noise
    //      is NOT private — it is the oracle-replayable test vector
    //      for the release pipeline; swap the hash for a CSPRNG draw
    //      per release in production (one scalar per group, nothing
    //      else changes). The ln lands at e4 fixed point (round·1e4 →
    //      exact integer) so one ulp of libm disagreement between
    //      JVM and C can only flip a result with ~1e-12 probability —
    //      the suite's standard ln absorption. Shapes: one
    //      countDistinct two-phase agg; noise is per-GROUP scalar
    //      math on ≤ |event_type| rows. ----
    // ---- DP median via the exponential mechanism over 50-char
    //      length buckets (ε = 1): utility u(b) = −|#below − #above|,
    //      selection = argmax of ε·u/2 + Gumbel — with the Gumbel
    //      draw DERANDOMIZED from keyed md5 (the q_dp_histogram
    //      test-vector discipline) and every libm value rounded to
    //      an e4 INTEGER before the argmax key is formed, so the
    //      selection is an exact integer comparison, never a raw
    //      double compare. Candidate grid bounded by the char
    //      domain; one cumsum window over it; argmax = TakeOrdered
    //      limit 1. ----
    "q_dp_quantile" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .select(expr("n_chars div 50").as("b"))
        .groupBy("b").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // total + cumsum
      val n = per.agg(sum("cnt").as("n"))
      // unpartitioned window: BOUNDED — over the `n_chars div 50`
      // bucket grid (value-domain bound), never corpus rows
      val wCum = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.withColumn("cum", sum("cnt").over(wCum))
        .crossJoin(broadcast(n))
        .withColumn("u_util",
          lit(0L) - abs((col("cum") - col("cnt")) -
            (col("n") - col("cum"))))
        .withColumn("uu",
          (conv(substring(md5(concat(lit("dpq:"),
            col("b").cast("string"))), 1, 4), 16, 10).cast("double") +
            lit(0.5)) / lit(65536.0))
        .withColumn("il", greatest(
          round(lit(0.0) - log(col("uu")) * lit(10000.0), 0)
            .cast("long"), lit(1L)))
        .withColumn("gl",
          round(lit(0.0) - log(col("il").cast("double") / lit(10000.0))
            * lit(10000.0), 0).cast("long"))
        .withColumn("key_e4", col("u_util") * 5000L + col("gl"))
        .orderBy(col("key_e4").desc, col("b").asc).limit(1)
        .select(col("b").as("bucket"), col("cnt"),
          col("u_util").as("utility"), col("key_e4"),
          (col("b") * 50L + 25L).as("dp_median"), col("n"),
          lit(10000L).as("epsilon_e4"))
    }),

    "q_dp_histogram" -> ((s, dir) => {
      val c = (conv(substring(md5(concat(lit("dp:"), col("event_type"))),
        1, 4), 16, 10).cast("double") + lit(0.5)) / lit(65536.0) - lit(0.5)
      val lnE4 = round(log(lit(1.0) - lit(2.0) * abs(c)) * 10000)
        .cast("long")
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .withColumn("noise_e4",
          (lit(-2L) * signum(c).cast("long") * lnE4).cast("long"))
        .select(col("event_type"), col("n_users"), col("noise_e4"),
          (col("n_users") * 10000 + col("noise_e4")).as("noisy_e4"),
          lit(5000L).as("epsilon_e4"))
    }),

    // ---- t-closeness on q_k_anonymity's QI groups: a k-anonymous,
    //      l-diverse group can STILL leak if its sensitive-value
    //      DISTRIBUTION differs sharply from the corpus-wide one (all
    //      debt-band members in one nation+segment reveals plenty even
    //      with l >= 2 present). For the ORDERED sensitive attribute
    //      (4 balance bands), the Earth Mover's Distance reduces to
    //      the mean |cumulative difference|:
    //        EMD = (1/(b-1)) * Σ_{i<b} |Σ_{j<=i} (p_j - q_j)|
    //      kept EXACT by clearing denominators — the i-th cumulative
    //      term is |k_i·N − K_i·n| over n·N — and emitting e6
    //      fixed-point via integer floor-div. Shapes: one corpus
    //      groupBy carrying the three cumulative band counts, one
    //      1-row global agg broadcast by crossJoin, zero windows; the
    //      group side is map-combinable conditional sums. ----
    "q_t_closeness" -> ((s, dir) => {
      // cumulative band membership: band boundaries 0 / 3000 / 7000
      val bandLe = Seq(
        col("c_acctbal") < 0,
        col("c_acctbal") < 3000,
        col("c_acctbal") < 7000)
      def cums(pfx: String) = bandLe.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"$pfx$i")
      }
      val cust = t(s, dir, "customer")
      val g = cust
        .select(col("c_nationkey").cast("string").as("nat"),
          col("c_mktsegment").as("seg"), col("c_acctbal"))
        .groupBy("nat", "seg")
        .agg(count(lit(1)).as("n"), cums("k"): _*)
      val glob = cust.select(col("c_acctbal"))
        .agg(count(lit(1)).as("nn"), cums("gk"): _*)
      val num = (0 until 3).map(i =>
        abs(col(s"k$i") * col("nn") - col(s"gk$i") * col("n")))
        .reduce(_ + _)
      g.crossJoin(glob)
        // IntegralDivide (`div`), NOT floor(a / b): Spark's decimal
        // `/` rounds HALF_UP to scale 6 BEFORE floor, so a quotient
        // with fractional part ≥ .9999995 would round up to the next
        // integer and disagree with DuckDB's exact `//` by 1. `div`
        // divides exactly and truncates (= floor on these
        // non-negative operands), matching the oracle bit-for-bit.
        .withColumn("emd_num", num.cast("decimal(38,0)") * 1000000L)
        .withColumn("emd_den",
          col("n").cast("decimal(38,0)") * col("nn") * 3L)
        .withColumn("emd_e6", expr("emd_num div emd_den").cast("long"))
        .select(col("nat"), col("seg"), col("n"), col("emd_e6"),
          (col("emd_e6") <= 250000L).as("t_close"))
    }),

    // ---- one-row corpus datasheet ("datasets card"): the summary a
    //      release ships alongside the data — sizes, source/lang
    //      breadth, global dup membership, and the source-mix entropy
    //      (how concentrated the corpus is). Three independent aggs
    //      (full-corpus, hash-keyed dup, source-keyed entropy) cross-
    //      joined as single rows; entropy uses the suite's round-4 ln
    //      absorption and exact-decimal summation, emitted as e4
    //      fixed-point — the whole row is integers. ----
    "t_dataset_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("n_chars"),
        sum(size(graft.functions.Text.tokens(col("text"))).cast("long"))
          .as("n_tokens"))
      val dup = d.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("dup_docs"))
      val ent = d.groupBy("source").agg(count(lit(1)).as("ns"))
        .crossJoin(d.agg(count(lit(1)).as("nn")))
        .agg(sum(col("ns").cast("decimal(18,0)") *
          round(-log(col("ns").cast("double") / col("nn").cast("double")), 4)
            .cast("decimal(18,4)")).as("sument"),
          first(col("nn")).as("nn"))
        .select(floor(col("sument").cast("double") / col("nn").cast("double")
          * lit(10000.0)).as("src_entropy_e4"))
      base.crossJoin(dup).crossJoin(ent)
    }),

    // ---- CCNet-style perplexity partitioning: rank documents by the
    //      corpus bigram-LM avg NLL (t_perplexity's exact output,
    //      reused verbatim) and split into head/middle/tail thirds.
    //      Bucketing is the explicit integer formula
    //      (rank-1)*3 div n + 1 on BOTH engines — no reliance on
    //      NTILE's engine-specific tie handling. The global rank is
    //      DISTRIBUTED (`Ranks.rowNumbers`: range-partition + offset
    //      broadcast + per-partition numbering over the unique
    //      (avg_nll, doc_id) key) — no plan in the suite funnels a
    //      corpus-sized frame into one task. Per-bucket stats are
    //      counts + order statistics — no new double arithmetic. ----
    "t_ppl_buckets" -> ((s, dir) => {
      // checkpoint the scored frame: the perplexity dag (corpus explode +
      // LM join) runs ONCE, and both consumers below (the scalar total and
      // the distributed ranking) read the materialized 3-column frame
      // instead of re-deriving it. n_total rides in as a broadcast scalar
      // rather than a second pass over the same ordering.
      val ppl = TextQueries.queries("t_perplexity")(s, dir)
        .select(col("doc_id"), col("avg_nll"), col("n_bigrams"))
        .localCheckpoint(false)
      val tot = ppl.agg(count(lit(1)).as("n_total"))
      graft.operators.Ranks.rowNumbers(ppl, Seq("avg_nll", "doc_id"))
        .crossJoin(broadcast(tot))
        .withColumn("bucket",
          expr("(rn - 1) * 3 div n_total + 1").cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          min(col("avg_nll")).as("min_nll"),
          max(col("avg_nll")).as("max_nll"))
    }),

    // ---- pre-join key-skew audit: the distribution check an engineer
    //      runs on a join key BEFORE shipping the join — the hottest
    //      keys, each one's share of all rows, and its multiple of the
    //      mean key load (the number that says "this key alone will
    //      own a straggler task; salt it or AQE-split it"). Shapes:
    //      one map-combinable per-key count, one scalar agg, a
    //      TakeOrdered top-5; the rank window orders 5 post-limit
    //      rows. All outputs exact integers ----
    "q_join_skew_audit" -> ((s, dir) => {
      val kc = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // totals + top-5 both consume it
      val tot = kc.groupBy().agg(
        sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
      kc.orderBy(col("cnt").desc, col("key").asc).limit(5)
        .crossJoin(broadcast(tot))
        // unpartitioned window: BOUNDED — runs after limit(5)
        .withColumn("hot_rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("key").asc)))
        .select(col("hot_rank"), col("key"), col("cnt"),
          col("n_rows"), col("n_keys"), col("max_cnt"),
          expr("cnt * 1000000 div n_rows").as("share_ppm"),
          expr("cnt * 100 * n_keys div n_rows").as("skew_x_e2"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the four deterministic training sets in closed form, the
    // erasure probe replayed as one CASE-sum per artifact
    "q_erasure_provenance" ->
      """WITH art AS (
        |  SELECT 'band/main' AS artifact, 'band' AS kind,
        |    'erase_rows' AS action, doc_id
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT 'frontier/urlseen', 'frontier',
        |    'erase_rows', doc_id
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL SELECT 'clf/quality', 'model',
        |    'retrain_required', doc_id
        |  FROM documents
        |  UNION ALL SELECT 'vocab/bpe', 'vocab',
        |    'retrain_required', doc_id
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT artifact, kind, action,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_erased,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS erased_ppm
        |FROM art GROUP BY artifact, kind, action""".stripMargin,

    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg,
        |    COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |g1 AS (SELECT nat, CAST(SUM(n) AS BIGINT) AS n FROM g
        |  WHERE n < 10 GROUP BY nat)
        |SELECT nat, seg, n, 0 AS level FROM g WHERE n >= 10
        |UNION ALL
        |SELECT nat, '*', n, 1 FROM g1 WHERE n >= 10
        |UNION ALL
        |SELECT '*', '*', CAST(SUM(n) AS BIGINT), 2 FROM g1
        |  WHERE n < 10 HAVING SUM(n) IS NOT NULL""".stripMargin,

    "t_domain_stats" ->
      """WITH h AS (SELECT md5(text) AS hh, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1),
        |base AS (
        |  SELECT source,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dup_docs,
        |    CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS short_docs,
        |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nonen_docs
        |  FROM documents d JOIN h ON md5(d.text) = h.hh
        |  GROUP BY source)
        |SELECT source, n_docs, dup_docs, short_docs, nonen_docs,
        |  dup_docs * 1000000 // n_docs AS dup_ppm,
        |  short_docs * 1000000 // n_docs AS short_ppm,
        |  nonen_docs * 1000000 // n_docs AS nonen_ppm,
        |  (dup_docs * 1000000 // n_docs <= 300000
        |    AND short_docs * 1000000 // n_docs <= 400000
        |    AND nonen_docs * 1000000 // n_docs <= 600000) AS keep
        |FROM base""".stripMargin,

    "e_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |st AS (
        |  SELECT e.event_type, ANY_VALUE(m.med) AS med,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  (e.value - st.med) / (1.4826 * st.mad) AS robust_z
        |FROM events e JOIN st USING (event_type)
        |WHERE st.mad > 0 AND abs(e.value - st.med) > 3 * 1.4826 * st.mad""".stripMargin,

    "q_erasure_audit" ->
      """WITH tomb AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        |dead_o AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
        |a AS (SELECT COUNT(*) AS n_customers_purged FROM tomb),
        |b AS (SELECT COUNT(*) AS n_orders_purged FROM dead_o),
        |c AS (SELECT COUNT(*) AS n_lineitems_purged FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM dead_o)),
        |d AS (SELECT COUNT(*) AS orphan_orders FROM orders o
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  WHERE o.o_custkey NOT IN (SELECT c_custkey FROM tomb)
        |    AND cu.c_acctbal < 0),
        |e AS (SELECT COUNT(*) AS orphan_lineitems FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM dead_o)
        |    AND cu.c_acctbal < 0)
        |SELECT * FROM a CROSS JOIN b CROSS JOIN c CROSS JOIN d CROSS JOIN e""".stripMargin,

    "q_pseudonymize" -> {
      def surr(expr: String) = graft.operators.Kmv.hash52Sql(
        s"'cust:' || CAST($expr AS VARCHAR)")
      s"""WITH cust AS (SELECT c_custkey, ${surr("c_custkey")} AS c_surr
         |  FROM customer),
         |ords AS (SELECT o_custkey, ${surr("o_custkey")} AS o_surr
         |  FROM orders),
         |inj AS (SELECT COUNT(*) AS n_customers,
         |    COUNT(DISTINCT c_surr) AS n_surrogates FROM cust),
         |rj AS (SELECT COUNT(*) AS join_pairs_raw FROM ords o
         |  JOIN cust c ON o.o_custkey = c.c_custkey),
         |pj AS (SELECT COUNT(*) AS join_pairs_pseudo FROM ords o
         |  JOIN cust c ON o.o_surr = c.c_surr)
         |SELECT n_customers, n_surrogates, join_pairs_raw,
         |  join_pairs_pseudo,
         |  n_surrogates = n_customers AS injective,
         |  join_pairs_pseudo = join_pairs_raw AS join_preserved
         |FROM inj CROSS JOIN rj CROSS JOIN pj""".stripMargin
    },

    "q_l_diversity" ->
      """SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg,
        |  COUNT(*) AS n,
        |  COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
        |    WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END) AS l_distinct,
        |  COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
        |    WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END) >= 2 AS diverse
        |FROM customer GROUP BY 1, 2 HAVING COUNT(*) >= 10""".stripMargin,

    "q_dp_contribution" ->
      """WITH per AS (SELECT o_custkey, COUNT(*) AS n
        |  FROM orders GROUP BY o_custkey)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(n) AS BIGINT) AS raw_sum,
        |  CAST(SUM(LEAST(n, 5)) AS BIGINT) AS clipped_sum,
        |  CAST(SUM(n) - SUM(LEAST(n, 5)) AS BIGINT) AS clip_loss,
        |  CAST(SUM(CASE WHEN n > 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  MAX(n) AS max_contribution,
        |  5 AS l1_sensitivity
        |FROM per""".stripMargin,

    "q_dp_quantile" ->
      """WITH per AS MATERIALIZED (SELECT n_chars // 50 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM per),
        |c AS (SELECT b, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM per),
        |k AS (SELECT b, cnt, nn.n,
        |    -ABS((cum - cnt) - (nn.n - cum)) AS u_util,
        |    (CAST(CAST('0x' || substr(md5('dpq:' || CAST(b AS VARCHAR)),
        |        1, 4) AS BIGINT) AS DOUBLE) + 0.5) / 65536.0 AS uu
        |  FROM c, nn),
        |g AS (SELECT b, cnt, n, u_util,
        |    GREATEST(CAST(ROUND(0.0 - LN(uu) * 10000.0, 0) AS BIGINT),
        |      1) AS il
        |  FROM k),
        |g2 AS (SELECT b, cnt, n, u_util,
        |    CAST(ROUND(0.0 - LN(CAST(il AS DOUBLE) / 10000.0)
        |      * 10000.0, 0) AS BIGINT) AS gl
        |  FROM g),
        |key AS (SELECT b, cnt, n, u_util,
        |    u_util * 5000 + gl AS key_e4
        |  FROM g2)
        |SELECT b AS bucket, cnt, CAST(u_util AS BIGINT) AS utility,
        |  CAST(key_e4 AS BIGINT) AS key_e4,
        |  CAST(b * 50 + 25 AS BIGINT) AS dp_median, n,
        |  CAST(10000 AS BIGINT) AS epsilon_e4
        |FROM key ORDER BY key_e4 DESC, b ASC LIMIT 1""".stripMargin,

    "q_dp_histogram" ->
      """WITH h AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT event_type, n_users,
        |    (CAST(CAST('0x' || substr(md5('dp:' || event_type), 1, 4)
        |        AS BIGINT) AS DOUBLE) + 0.5) / 65536.0 - 0.5 AS c
        |  FROM h),
        |n AS (
        |  SELECT event_type, n_users,
        |    CAST(-2 * CASE WHEN c >= 0 THEN 1 ELSE -1 END *
        |      CAST(ROUND(LN(1.0 - 2.0 * ABS(c)) * 10000) AS BIGINT)
        |      AS BIGINT) AS noise_e4
        |  FROM d)
        |SELECT event_type, n_users, noise_e4,
        |  n_users * 10000 + noise_e4 AS noisy_e4,
        |  5000 AS epsilon_e4
        |FROM n""".stripMargin,

    "q_t_closeness" ->
      """WITH g AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg,
        |    COUNT(*) AS n,
        |    SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS k0,
        |    SUM(CASE WHEN c_acctbal < 3000 THEN 1 ELSE 0 END) AS k1,
        |    SUM(CASE WHEN c_acctbal < 7000 THEN 1 ELSE 0 END) AS k2
        |  FROM customer GROUP BY 1, 2),
        |gtot AS (
        |  SELECT COUNT(*) AS nn,
        |    SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS gk0,
        |    SUM(CASE WHEN c_acctbal < 3000 THEN 1 ELSE 0 END) AS gk1,
        |    SUM(CASE WHEN c_acctbal < 7000 THEN 1 ELSE 0 END) AS gk2
        |  FROM customer),
        |emd AS (
        |  SELECT nat, seg, n,
        |    CAST((abs(k0 * nn - gk0 * n) + abs(k1 * nn - gk1 * n)
        |          + abs(k2 * nn - gk2 * n)) * 1000000
        |         // (n * nn * 3) AS BIGINT) AS emd_e6
        |  FROM g CROSS JOIN gtot)
        |SELECT nat, seg, n, emd_e6, emd_e6 <= 250000 AS t_close
        |FROM emd""".stripMargin,

    "t_dataset_card" ->
      """WITH base AS (
        |  SELECT COUNT(*) AS n_docs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents),
        |dup AS (
        |  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS dup_docs FROM (
        |    SELECT COUNT(*) AS cnt FROM documents
        |    GROUP BY md5(text) HAVING COUNT(*) > 1)),
        |ent AS (
        |  SELECT CAST(FLOOR(CAST(SUM(CAST(ns AS DECIMAL(18,0)) *
        |      CAST(round(-ln(CAST(ns AS DOUBLE) / CAST(nn AS DOUBLE)), 4)
        |        AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(ANY_VALUE(nn) AS DOUBLE) * 10000.0) AS BIGINT)
        |    AS src_entropy_e4
        |  FROM (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source)
        |  CROSS JOIN (SELECT COUNT(*) AS nn FROM documents))
        |SELECT * FROM base CROSS JOIN dup CROSS JOIN ent""".stripMargin,

    "t_ppl_buckets" ->
      s"""WITH ppl AS (${TextQueries.oracleSql("t_perplexity")}),
         |ranked AS (
         |  SELECT doc_id, avg_nll, n_bigrams,
         |    ROW_NUMBER() OVER (ORDER BY avg_nll ASC, doc_id ASC) AS rn,
         |    COUNT(*) OVER () AS n_total
         |  FROM ppl)
         |SELECT CAST((rn - 1) * 3 // n_total + 1 AS INT) AS bucket,
         |  COUNT(*) AS n_docs, CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
         |  MIN(avg_nll) AS min_nll, MAX(avg_nll) AS max_nll
         |FROM ranked GROUP BY 1""".stripMargin,

    "q_join_skew_audit" ->
      """WITH kc AS (SELECT l_orderkey AS key, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    COUNT(*) AS n_keys, MAX(cnt) AS max_cnt
        |  FROM kc),
        |top5 AS (SELECT key, cnt FROM kc
        |  ORDER BY cnt DESC, key ASC LIMIT 5)
        |SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC)
        |    AS hot_rank,
        |  key, cnt, n_rows, n_keys, max_cnt,
        |  cnt * 1000000 // n_rows AS share_ppm,
        |  cnt * 100 * n_keys // n_rows AS skew_x_e2
        |FROM top5 CROSS JOIN tot""".stripMargin
  )
}
