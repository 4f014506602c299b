package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.Text
import graft.operators.Dedup

/** Deduplication extension queries over `documents`.
  *
  * The raw table has no duplicates, so each query builds a corpus with
  * KNOWN duplicates deterministically (exact copies / first-token-dropped
  * near-copies under shifted ids), then runs the real
  * graft.operators.Dedup machinery; the oracle rebuilds the same corpus
  * and replicates the algorithm in SQL. Candidate generation is always
  * an equi-join (shingle / LSH-band / digest-quarter key) — no O(N²)
  * cross joins anywhere, which is the property that survives 100 TB.
  */
object DedupQueries {

  /** Build (once per data directory) and read back the persisted band
    * index over documents(doc_id < 300) — shared by
    * d_index_incremental (the daily check) and d_index_stats (the
    * health report over the same artifact). The fixture is the INDEX
    * WRITE; the queries under test are the read + incremental check.
    */
  private def persistedIndex(s: SparkSession, dir: String): Dedup.BandIndex = {
    val idxPath = graft.TempDirs.once("bandidx", dir) {
      val p = graft.TempDirs.dir("graft_bandidx").toString
      val base = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select("doc_id", "text")
      Dedup.writeBandIndex(Dedup.buildBandIndex(base, "doc_id", "text",
        n = 5, bands = 3, rowsPerBand = 2), p)
      p
    }
    Dedup.readBandIndex(s, idxPath)
  }

  /** The tripled near-dup corpus shared by d_dup_clusters and
    * d_cluster_keeper: documents(doc_id < 150) ∪ drop-1-token copies
    * under +100000 ∪ drop-2-token copies under +200000. The slice is
    * FIXED-SIZE by construction (450 rows at any scale factor), so the
    * rows are collected once per data directory and re-materialized as
    * a fresh in-memory frame per query — sweep runners unpersist
    * checkpoint blocks between queries, so caching a checkpointed
    * DataFrame would dangle (truncated lineage, dropped blocks), while
    * cached plain rows cannot. Pair generation and clustering stay
    * genuinely computed per query; only the fixture build (scan +
    * token-slice union) is shared.
    */
  private def tripledCorpus(s: SparkSession, dir: String): DataFrame = {
    val rows = graft.TempDirs.once("tripled", dir) {
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select("doc_id", "text")
      val tok = Text.tokens(col("text"))
      d.union(d.select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(tok, lit(2), size(tok) - 1), " ").as("text")))
        .union(d.select((col("doc_id") + 200000).as("doc_id"),
          array_join(slice(tok, lit(3), size(tok) - 2), " ").as("text")))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }
    import s.implicits._
    s.createDataset(rows.toSeq).toDF("doc_id", "text")
      .localCheckpoint(false)
  }

  /** documents ∪ exact copies under doc_id+1000000. */
  private def withExactCopies(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.union(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** documents(doc_id < 300) ∪ near-copies (first token dropped) under
    * doc_id+100000. Eagerly checkpointed: the near-dup operators
    * consume their input from several plan branches (df counting, both
    * self-join sides), and materializing the 600-row corpus once
    * replaces repeated parquet scans — the same persist-your-input
    * guidance the operators document for full-scale corpora.
    */
  private def withNearCopies(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 300).select("doc_id", "text")
    val tok = Text.tokens(col("text"))
    d.union(d.select((col("doc_id") + 100000).as("doc_id"),
      array_join(slice(tok, lit(2), size(tok) - 1), " ").as("text")))
      .localCheckpoint(false)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact dedup: one hash aggregation, map-side combinable ----
    "d_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(withExactCopies(s, dir), "doc_id", "text")
    }),

    // ---- capture-recapture coverage audit (Chapman estimator): how
    //      many distinct texts does the corpus hold, estimated from
    //      two INDEPENDENT deterministic ~50% captures of the distinct
    //      set and their overlap — the audit that catches a dedup
    //      pipeline whose sampled clean-room count disagrees with its
    //      full-corpus claim, without a second full pass. Captures are
    //      keyed md5 coin flips on the text hash (independent salts),
    //      so both engines replay them exactly; the estimate is the
    //      integral Chapman form (n1+1)(n2+1) div (m+1) − 1. Shapes:
    //      one distinct on the hash (the only corpus-sized shuffle),
    //      one map-combinable scalar agg. At petabyte scale the
    //      product term moves to DECIMAL — noted, not needed at
    //      BIGINT corpus cardinalities. ----
    "d_chapman_coverage" -> ((s, dir) => {
      val h = t(s, dir, "documents")
        .select(md5(col("text")).as("h")).distinct()
      def cap(salt: String) =
        conv(substring(md5(concat(lit(salt), col("h"))), 1, 2), 16, 10)
          .cast("long") < 128L
      h.select(when(cap("cap1:"), 1L).otherwise(0L).as("c1"),
          when(cap("cap2:"), 1L).otherwise(0L).as("c2"))
        .agg(count(lit(1)).as("n_true"),
          sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
          sum(col("c1") * col("c2")).as("m12"))
        .select(col("n_true"), col("n1"), col("n2"), col("m12"),
          expr("(n1 + 1) * (n2 + 1) div (m12 + 1) - 1").as("chapman_est"),
          expr("abs((n1 + 1) * (n2 + 1) div (m12 + 1) - 1 - n_true)" +
            " * 1000000 div n_true").as("err_ppm"))
    }),

    // ---- n-gram Jaccard near-dup via inverted shingle index; this
    //      corpus is boilerplate-free (no shingle shared beyond a
    //      handful of docs) so the uncapped path is explicitly safe
    //      here — the capped default is exercised by d_jaccard_capped ----
    "d_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(withNearCopies(s, dir), "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = None)
    }),

    // ---- b-bit MinHash audit (Li & König 2010): keep only the LOWEST
    //      BIT of each of 32 minhashes (32× less signature memory
    //      than hex minhashes — the storage dial for billion-doc
    //      signature stores) and estimate Jaccard from bit agreement,
    //      Ĵ = max(2A−1, 0) with A = matches/32 — audited against the
    //      exact Jaccard on the known near-dup pairs. All integers:
    //      agreement counts fold per pair over the 32-slot zip, never
    //      a double until nothing is left to compare. ----
    "d_minhash_bbit" -> ((s, dir) => {
      val k = 32
      val base = withNearCopies(s, dir)
      // ONE spread + checkpointed shingle frame feeds BOTH the k=32
      // b-bit signature map and the candidate self-join (r16 verdict:
      // the inline sigs map ran at scan width — a 2-task 3.8 s stage —
      // and base was tokenize+shingled twice)
      val shSets = Dedup.shingleSets(base, "doc_id", "text", 5, None)
        .localCheckpoint(false)
      val bits = transform(Dedup.minhashSignature(col("sh"), k),
        mh => conv(substring(mh, 32, 1), 16, 10).cast("long") % 2L)
      val sigs = shSets.select(col("id").as("doc_id"), bits.as("b"))
        .localCheckpoint(false) // both pair sides
      val cand = Dedup.jaccardCandidatesFromSets(shSets)
        .withColumn("j_ppm",
          expr("common * 1000000L div (na + nb - common)"))
        .filter(col("j_ppm") >= 300000L)
      cand
        .join(sigs.select(col("doc_id").as("a_id"), col("b").as("ba")),
          "a_id")
        .join(sigs.select(col("doc_id").as("b_id"), col("b").as("bb")),
          "b_id")
        .withColumn("m", aggregate(
          zip_with(col("ba"), col("bb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, e) => a + e))
        .select(col("a_id"), col("b_id"), col("j_ppm"),
          expr(s"greatest(2 * m - $k, 0L) * 1000000L div $k")
            .as("bbit_est_ppm"))
        .withColumn("abs_err_ppm",
          abs(col("bbit_est_ppm") - col("j_ppm")))
    }),

    // ---- MinHash/LSH design table: candidate probability
    //      P(s) = 1 − (1 − s^r)^b for the band/row configs a pipeline
    //      would choose between (all with b·r = 16 signature slots),
    //      over the Jaccard grid s ∈ {0.1..0.9} — the theoretical
    //      S-curves read NEXT TO d_lsh_recall's empirical ones when
    //      fixing (b, r). Entirely exact integer rationals: with
    //      s = k/10 and b·r = 16, P = N/10¹⁶ with
    //      N = 10¹⁶ − (10^r − k^r)^b, and p_ppm = N div 10¹⁰ (the
    //      floor collapses without ever overflowing BIGINT). The s*
    //      threshold (1/b)^(1/r) is one driver-computed literal
    //      shared verbatim with the oracle. Model-sized frame. ----
    "d_lsh_design" -> ((s, dir) => {
      import s.implicits._
      // config frame + one driver literal per config (s* threshold);
      // the probability algebra itself runs in-engine as exact
      // integer HOF folds
      val configs = Seq((4L, 4L), (8L, 2L), (16L, 1L), (2L, 8L))
        .map { case (b, r) =>
          (b, r, math.round(math.pow(1.0 / b, 1.0 / r) * 1e6)) }
      configs.toDF("bands", "rows_per_band", "s_star_e6")
        .withColumn("s_x10", explode(sequence(lit(1L), lit(9L))))
        .withColumn("pr", aggregate(sequence(lit(1L), col("rows_per_band")),
          lit(1L), (acc, _) => acc * 10L))
        .withColumn("kr", aggregate(sequence(lit(1L), col("rows_per_band")),
          lit(1L), (acc, _) => acc * col("s_x10")))
        .withColumn("miss", aggregate(sequence(lit(1L), col("bands")),
          lit(1L), (acc, _) => acc * (col("pr") - col("kr"))))
        .select(col("bands"), col("rows_per_band"), col("s_x10"),
          expr("(10000000000000000L - miss) div 10000000000L")
            .as("p_ppm"),
          col("s_star_e6"))
    }),

    // ---- cross-doc duplication by n-gram granularity: for n ∈
    //      {5, 10, 20}, the share of distinct n-gram TYPES appearing
    //      in ≥ 2 documents — the dial that says at which
    //      granularity the corpus is contaminated (high dup share at
    //      small n = phrase reuse; at large n = real copying). Three
    //      map-side explodes (per-doc distinct grams) into one
    //      (n, gram) groupBy — vocabulary-keyed, map-combinable,
    //      never pairwise. ----
    "d_ngram_dup_curve" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val grams = Seq(5, 10, 20).map { n =>
        base.select(lit(n.toLong).as("n"), col("doc_id"),
          explode(array_distinct(
            Text.shingles(Text.tokens(col("text")), n))).as("g"))
      }.reduce(_ union _)
      grams.groupBy("n", "g").agg(count(lit(1)).as("docs"))
        .groupBy("n").agg(
          count(lit(1)).as("n_types"),
          sum(when(col("docs") >= 2L, 1L).otherwise(0L))
            .as("n_dup_types"),
          sum(when(col("docs") >= 2L, col("docs")).otherwise(0L))
            .as("dup_occurrences"))
        .select(col("n"), col("n_types"), col("n_dup_types"),
          col("dup_occurrences"),
          expr("n_dup_types * 1000000L div n_types").as("dup_ppm"))
    }),

    // ---- dedup threshold sweep: the curve a curation run reads
    //      BEFORE fixing its Jaccard cutoff — at each threshold, how
    //      many candidate pairs survive and how many docs they touch.
    //      ONE inverted-index candidate pass (the d_jaccard_pairs
    //      machinery, checkpointed), then the 5 thresholds are a
    //      map-side fanout over the pair frame with the EXACT integer
    //      test common·100 ≥ t·(na+nb−common) — no double ever
    //      compared, so the curve is bit-stable at any scale. ----
    "d_dedup_threshold_curve" -> ((s, dir) => {
      import s.implicits._
      val ts = Seq(50L, 60L, 70L, 80L, 90L)
      val cand = Dedup.jaccardCandidates(withNearCopies(s, dir),
          "doc_id", "text", n = 5, dfCap = None)
        .localCheckpoint(false) // fanned out per threshold twice
      val hits = cand
        .withColumn("t", explode(array(ts.map(lit): _*)))
        .filter(col("common") * 100L >=
          col("t") * (col("na") + col("nb") - col("common")))
        .localCheckpoint(false) // pair counts + doc counts
      val pairs = hits.groupBy("t").agg(count(lit(1)).as("n_pairs"))
      val docs = hits
        .select(col("t"), explode(array(col("a_id"), col("b_id")))
          .as("id"))
        .groupBy("t").agg(countDistinct("id").as("n_docs"))
      ts.toDF("t")
        .join(pairs, Seq("t"), "left").join(docs, Seq("t"), "left")
        .na.fill(0L, Seq("n_pairs", "n_docs"))
        .select(col("t").as("threshold_pct"), col("n_pairs"),
          col("n_docs"))
    }),

    // ---- duplication inflation audit: per source, how much token
    //      mass exact dedup would reclaim. Every doc with
    //      doc_id % 3 = 0 is re-ingested (the deterministic
    //      double-delivery both engines replay), then one
    //      (source, md5(text)) groupBy folds copies and one
    //      per-source agg closes counts + exact ppm inflation —
    //      map-side combinable end to end, no joins. ----
    "d_dup_inflation" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
      val d = base.union(base.filter(col("doc_id") % 3 === 0)
        .select(col("source"), (col("doc_id") + 1000000L).as("doc_id"),
          col("text")))
      d.select(col("source"), md5(col("text")).as("h"),
          graft.functions.Text.tokenCount(col("text")).cast("long")
            .as("tc"))
        .groupBy("source", "h")
        .agg(count(lit(1)).as("k"), max("tc").as("tc"))
        .groupBy("source").agg(
          sum("k").as("n_docs"), count(lit(1)).as("n_distinct"),
          sum(col("k") * col("tc")).as("total_tokens"),
          sum("tc").as("distinct_tokens"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          col("total_tokens"), col("distinct_tokens"),
          expr("total_tokens * 1000000L div distinct_tokens")
            .as("inflation_ppm"))
    }),

    // ---- same pairs, PREFIX-FILTERED candidates (AllPairs/PPJoin):
    //      global (df asc, shingle asc) order, prefix equi-join +
    //      length filter, candidate-side array-intersect verify. The
    //      oracle is the EXACT inverted-index Jaccard — identical
    //      output proves the filter admits no false negatives ----
    "d_jaccard_prefix" -> ((s, dir) => {
      Dedup.jaccardPairsPrefix(withNearCopies(s, dir), "doc_id", "text",
        n = 5, threshold = 0.5)
    }),

    // ---- asymmetric containment: the truncated variants are strict
    //      shingle-subsets of their originals, so variant→original
    //      containment is exactly 1.0 while Jaccard only grazes the
    //      threshold — the quote/subset case a symmetric measure
    //      misses. Both directions emitted (C is not symmetric).
    //      PREFIX-FILTERED candidates (proven = exact containmentPairs;
    //      the oracle is the exact inverted-index SQL) ----
    "d_containment_pairs" -> ((s, dir) => {
      Dedup.containmentPairsPrefix(withNearCopies(s, dir), "doc_id", "text",
        n = 5, threshold = 0.9)
    }),

    // ---- Jaccard with the df-cap skew guard live: every doc carries a
    //      shared boilerplate header whose shingles hit df=300/600; the
    //      cap drops them BEFORE the inverted-index self-join (uncapped
    //      they alone would contribute ~600²/2 candidate pairs through
    //      single shuffle keys) ----
    "d_jaccard_capped" -> ((s, dir) => {
      val bp = "standard legal disclaimer text appears before every document body"
      val d = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), concat(lit(bp + " "), col("text")).as("text"))
      val tok = Text.tokens(col("text"))
      val corpus = d.union(d.select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(tok, lit(2), size(tok) - 1), " ").as("text")))
        .localCheckpoint(false) // see withNearCopies
      Dedup.jaccardPairs(corpus, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = Some(16))
    }),

    // ---- MinHash signatures (salted-md5 permutations, k=6) ----
    "d_minhash_sig" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sh = array_distinct(Text.shingles(Text.tokens(col("text")), 5))
      d.select(col("doc_id"),
        array_join(Dedup.minhashSignature(sh, 6), ",").as("sig"))
    }),

    // ---- MinHash + LSH banding (3 bands × 2 rows) + exact verify ----
    "d_minhash_lsh_pairs" -> ((s, dir) => {
      Dedup.minhashLshPairs(withNearCopies(s, dir), "doc_id", "text",
        n = 5, bands = 3, rowsPerBand = 2, threshold = 0.5)
    }),

    // ---- LSH quality evaluation: the MinHash-LSH candidate path
    //      scored against the exhaustive-Jaccard truth — the tuning
    //      harness for bands/rows (the dedup analog of s_ann_recall).
    //      The comparison join carries only (a_id, b_id) pairs.
    //      The truth side is exhaustive BY DEFINITION, i.e. quadratic
    //      in per-shingle df — so it runs on a deterministic md5
    //      FAMILY sample of the corpus (~half): recall/precision are
    //      ratios, preserved in expectation under doc sampling, and
    //      sampling by base-document family (id mod 100000) keeps both
    //      endpoints of every original↔near-copy pair together, so no
    //      true pair is split by the sample boundary. This is the
    //      bounded-cost shape an eval harness needs at 100 TB ----
    "d_lsh_recall" -> ((s, dir) => {
      val corpus = withNearCopies(s, dir)
        .filter(substring(md5((col("doc_id") % 100000).cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"))
      // each pipeline feeds two branches (its count + the hits join):
      // checkpoint so the inverted-index self-joins run once, per the
      // operators' own persist-your-input guidance
      val truth = Dedup.jaccardPairs(corpus, "doc_id", "text",
          n = 5, threshold = 0.5, dfCap = None)
        .select("a_id", "b_id").localCheckpoint(false)
      val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text",
          n = 5, bands = 3, rowsPerBand = 2, threshold = 0.5)
        .select("a_id", "b_id").localCheckpoint(false)
      val hits = truth.join(lsh, Seq("a_id", "b_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_true"), col("n_lsh"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_true").cast("double"))
            .as("recall"),
          (col("n_hits").cast("double") / col("n_lsh").cast("double"))
            .as("prec"))
    }),

    // ---- incremental dedup: a "new batch" (near-copies of docs
    //      100-199 under shifted ids) checked against the historical
    //      corpus (docs < 300) — only new×old candidates ----
    "d_jaccard_incremental" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select("doc_id", "text").localCheckpoint(false)
      val tok = Text.tokens(col("text"))
      val newBatch = t(s, dir, "documents")
        .filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select((col("doc_id") + 500000).as("doc_id"),
          array_join(slice(tok, lit(2), size(tok) - 1), " ").as("text"))
        .localCheckpoint(false)
      Dedup.jaccardPairsAgainst(newBatch, base, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = None)
    }),

    // ---- blocked edit-distance near-dup pairs: token-level Jaccard
    //      misses single-CHARACTER mutations (OCR noise, typo farms),
    //      so this family verifies with Levenshtein over 64-char
    //      prefixes. Candidates come from a (first-4-chars, prefix
    //      length) blocking key — a substitution at position 10
    //      preserves both — with a 64-member block cap (the df-cap
    //      analog: a boilerplate prefix shared by k docs would emit
    //      k²/2 pairs through one shuffle key). Never all-pairs; the
    //      O(64·64) Levenshtein runs only on capped-block pairs ----
    "d_edit_pairs" -> ((s, dir) => {
      val raw = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val corpus = raw.select(col("doc_id").as("id"),
          substring(col("text"), 1, 64).as("p"))
        .union(raw.select((col("doc_id") + 100000).as("id"),
          concat(substring(col("text"), 1, 9), lit("q"),
            substring(col("text"), 11, 54)).as("p")))
      val keyed = corpus
        .withColumn("k1", substring(col("p"), 1, 4))
        .withColumn("kl", length(col("p")))
        .localCheckpoint(false) // feeds the cap count AND the pair join
      val caps = keyed.groupBy("k1", "kl").agg(count(lit(1)).as("dfb"))
        .filter(col("dfb") <= 64).select("k1", "kl")
      val e = keyed.join(caps, Seq("k1", "kl"), "left_semi")
      e.as("a").join(e.as("b"),
          col("a.k1") === col("b.k1") && col("a.kl") === col("b.kl") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
          levenshtein(col("a.p"), col("b.p")).as("ld"))
        .filter(col("ld") <= 3)
    }),

    // ---- incremental dedup against the PERSISTED band index: the
    //      historical corpus (docs < 300) is MinHash/LSH-indexed once
    //      per data directory and written as three parquet tables
    //      (Dedup.writeBandIndex — the artifact a daily job appends
    //      to); the query itself reads the TABLE and checks the new
    //      batch against it, never re-shingling historical text. This
    //      is the 100 TB daily-ingestion shape: candidates from a
    //      (band, bkey) equi-join against the persisted band table,
    //      exact Jaccard verify against the persisted sets table ----
    "d_index_incremental" -> ((s, dir) => {
      val idx = persistedIndex(s, dir)
      val tok = Text.tokens(col("text"))
      val newBatch = t(s, dir, "documents")
        .filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select((col("doc_id") + 500000).as("doc_id"),
          array_join(slice(tok, lit(2), size(tok) - 1), " ").as("text"))
      Dedup.pairsAgainstIndex(newBatch, idx, "doc_id", "text",
        n = 5, bands = 3, rowsPerBand = 2, threshold = 0.5)
    }),

    // ---- index health report over the SAME persisted artifact: the
    //      band-bucket size histogram — max bucket size bounds the
    //      candidate fan-out of every future incremental check
    //      (a k-doc bucket emits up to k candidates per probing doc),
    //      so a daily job logs this before trusting the index. One
    //      groupBy over the band TABLE, then a bounded histogram ----
    "d_index_stats" -> ((s, dir) => {
      persistedIndex(s, dir).bands
        .groupBy("band", "bkey").agg(count(lit(1)).as("bucket_size"))
        .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
    }),

    // ---- duplicate-cluster consolidation: three generations of near
    //      copies (drop 1 token, drop 2 tokens) collapse into one
    //      cluster per document family via min-label propagation over
    //      the Jaccard pair graph; the oracle computes true connected
    //      components with a recursive CTE ----
    "d_dup_clusters" -> ((s, dir) => {
      val corpus = tripledCorpus(s, dir)
      // prefix-filtered pair generation (= exact Jaccard, proven by
      // d_jaccard_prefix's oracle) — the scale-safe edge builder
      val pairs = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text",
        n = 5, threshold = 0.5).localCheckpoint(false)
      Dedup.dupClusters(pairs)
    }),

    // ---- INCREMENTAL cluster maintenance: the labels are a persisted
    //      asset — a 4th generation of near-copies (drop-3-token under
    //      +300000) arrives as a daily batch, and its incident edges
    //      (new×old via the incremental pair generator, new×new via
    //      the prefix-filtered pass) extend the existing labeling
    //      through label-contraction (Dedup.updateClusters): old×old
    //      edges are never revisited, yet the result must equal the
    //      oracle's full recursive-CC recompute over ALL four
    //      generations ----
    "d_cluster_incremental" -> ((s, dir) => {
      val base = tripledCorpus(s, dir)
      // ONE spread + checkpointed shingle frame of the base corpus
      // shared by the prefix pair pass AND the new×old pass (r16
      // verdict: base was tokenize+shingled twice, once inside each
      // pair generator); same treatment for the new batch, whose
      // shingle frame feeds new×old AND new×new
      val shBase = Dedup.shingleSets(base, "doc_id", "text", 5, None)
        .localCheckpoint(false)
      val basePairs = Dedup.jaccardPairsPrefixFromSets(shBase, 0.5)
        .localCheckpoint(false)
      val baseLabels = Dedup.dupClusters(basePairs)
      val tok = Text.tokens(col("text"))
      val newBatch = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select((col("doc_id") + 300000).as("doc_id"),
          array_join(slice(tok, lit(4), size(tok) - 3), " ").as("text"))
      val shNew = Dedup.shingleSets(newBatch, "doc_id", "text", 5, None)
        .localCheckpoint(false) // feeds new×old AND new×new passes
      val newOld = Dedup.jaccardPairsAgainstFromSets(shNew, shBase, 0.5)
        .select(col("new_id").as("a_id"), col("base_id").as("b_id"))
      val newNew = Dedup.jaccardPairsPrefixFromSets(shNew, 0.5)
        .select("a_id", "b_id")
      Dedup.updateClusters(baseLabels, newOld.unionByName(newNew))
    }),

    // ---- keeper per duplicate cluster: the same synthetic near-dup
    //      corpus as d_dup_clusters, then ONE representative per
    //      cluster — longest text wins, ties to min id (the actual
    //      keep/drop decision after clustering) ----
    "d_cluster_keeper" -> ((s, dir) => {
      val corpus = tripledCorpus(s, dir)
      val pairs = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text",
        n = 5, threshold = 0.5).localCheckpoint(false)
      Dedup.clusterRepresentatives(Dedup.dupClusters(pairs), corpus,
        "doc_id", length(col("text")).cast("long"))
    }),

    // ---- benchmark decontamination: train docs sharing any 5-gram
    //      with the benchmark slice (doc_id < 20) ----
    "d_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminated(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20),
        "doc_id", "text", n = 5)
    }),

    // ---- transitive contamination: BFS (operators/Graph.bfsHops) from
    //      the benchmark slice (doc_id < 20) along near-dup edges — a
    //      train doc two near-dup generations away from a benchmark doc
    //      is still contaminated; the pairwise screen (d_contamination)
    //      only sees generation one. Bounded hops, frontier-join rounds ----
    "d_contamination_transitive" -> ((s, dir) => {
      val corpus = withNearCopies(s, dir)
      // Prefix-filtered edge gen (output-identical to the uncapped
      // inverted index): a boilerplate shingle in k docs would fan out
      // k² candidates through jaccardPairs(dfCap = None) — the prefix
      // filter keeps high-df shingles out of the join structurally.
      val edges = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text",
        n = 5, threshold = 0.5).select("a_id", "b_id")
      val seeds = corpus.filter(col("doc_id") < 20)
        .select(col("doc_id").as("id"))
      graft.operators.Graph.bfsHops(edges, seeds, maxHops = 3)
    }),

    // ---- SimHash digests (native expression — no UDF boundary on the
    //      whole-corpus digest pass) ----
    "d_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        graft.expressions.TextExprs.simhash(Text.tokens(col("text")))
          .as("simhash"))
    }),

    // ---- SimHash near-dup pairs (quarter-blocked Hamming ≤ 3) ----
    "d_simhash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val corpus = d.union(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .localCheckpoint(false) // see withNearCopies
      Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
    }),

    // ---- URL canonicalization dedup (the crawl pipeline's first
    //      pass): each doc is "fetched" under a messy surface form —
    //      case-varied host, explicit default port, duplicate path
    //      slashes, tracking params, unordered query, fragment — and
    //      canonicalization (map-side column algebra, zero shuffle
    //      until the final group) collapses the families. The oracle
    //      states the canonical form in CLOSED FORM from doc_id, so it
    //      checks the semantics, not a SQL re-implementation ----
    "d_url_dedup" -> ((s, dir) => {
      val raw = concat(
        lit("HTTPS://Site"), (col("doc_id") % 5).cast("string"),
        lit(".COM:443/a//b"), (col("doc_id") % 3).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 100).cast("string"),
        lit("&b=2&a=1#frag"))
      t(s, dir, "documents").select(col("doc_id"), raw.as("raw_url"))
        .select(col("doc_id"),
          graft.functions.Urls.canonicalizeUrl(col("raw_url")).as("url"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    }),

    // ---- cross-document duplicated-span coverage (exact-substring
    //      dedup at 10-gram granularity, Lee et al. 2021): per doc,
    //      how many tokens sit inside a span some OTHER doc repeats.
    //      Interval union via one keyed lead() window — exact integer
    //      output, no interval materialization ----
    "d_span_stats" -> ((s, dir) => {
      Dedup.dupSpanStats(withNearCopies(s, dir), "doc_id", "text", n = 10)
    }),

    // ---- the scrub itself: re-emit each doc with every covered token
    //      removed (the C4/RefinedWeb cleanup step). Covered index set
    //      is built relationally (explode + distinct + anti-join) so
    //      the whole pass stays linear in corpus size ----
    "d_span_scrub" -> ((s, dir) => {
      Dedup.dupSpanScrub(withNearCopies(s, dir), "doc_id", "text", n = 10)
    }),

    // ---- soft dedup: instead of dropping near-duplicates, weight
    //      each document by how common its content is (the
    //      down-weight-don't-delete school of dedup). Commonness =
    //      mean log document-frequency fraction over the doc's
    //      DISTINCT 5-gram shingles: logc = (1/|G_d|)·Σ_g ln(df_g/N);
    //      shared_frac = fraction of those shingles seen in ≥2 docs.
    //      A sampler downstream turns -logc into sampling weights
    //      (t_mix_temperature is that stage). Shapes: one explode →
    //      distinct (doc,gram) → vocabulary-sized df agg → equi-join
    //      back on the gram; N is a broadcast single-row frame. Runs
    //      on the near-copy corpus so commonness actually varies.
    //      Oracle discipline: df/N is one IEEE division of exact
    //      ints, ln rounds to 4 dp into DECIMAL, per-doc sums are
    //      exact DECIMAL; shared_frac is an exact-int ratio ----
    "d_softdedup" -> ((s, dir) => {
      val d = withNearCopies(s, dir)
      val g = d.select(col("doc_id"),
          explode(Text.shingles(Text.tokens(col("text")), 5)).as("g"))
        .distinct()
      val dfg = g.groupBy("g").agg(count(lit(1)).as("df"))
      val nd = d.agg(count(lit(1)).as("n_docs"))
      g.join(dfg, "g").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("df"),
          round(log(col("df").cast("double") /
            col("n_docs").cast("double")), 4)
            .cast("decimal(18,4)").as("lng"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"),
          (sum(col("lng")).cast("double") /
            count(lit(1)).cast("double")).as("log_commonness"),
          (sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("shared_frac"))
    }),

    // ---- winnowing (MOSS) fingerprint pairs: window-min over k-gram
    //      hashes gives a ~2/(w+1)-density fingerprint set with the
    //      guarantee that any shared run of >= w+k-1 tokens produces a
    //      common fingerprint; cross-doc pairs come from the same
    //      df-capped blocking-key equi-join as the Jaccard family.
    //      Complements d_span_stats: that one proves exact duplicated
    //      n-grams at full density, this is the sublinear sketch a
    //      plagiarism/provenance pass runs at 100 TB. ----
    "d_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id",
        Text.tokens(col("text")), k = 3, w = 4, dfCap = 20, minShared = 3)),

    // ---- content-defined chunking dedup report: gear-style local
    //      boundaries (cut where hash(3-gram) ≡ 0 mod 8 → ~8-token
    //      chunks), chunk identity = hash of the span, then per-doc
    //      storage-dedup accounting: how many of my chunks exist in
    //      at least one OTHER doc, and what fraction of my tokens
    //      that covers (e6 ppm, exact integer division). Boundary
    //      locality is the point: an edit shifts offsets but the
    //      chunk stream re-synchronizes within one chunk, so
    //      near-identical crawl snapshots dedup at chunk granularity
    //      where fixed blocks would miss everything after the edit.
    //      Map-side chunking (one md5 per position + one per chunk),
    //      one groupBy on chunk_hash, one equi-join back ----
    "d_cdc_chunks" -> ((s, dir) => {
      val chunks = Dedup.cdcChunks(t(s, dir, "documents"),
          "doc_id", "text", k = 3, divisor = 8)
        .localCheckpoint(false) // feeds the frequency table AND the rollup
      val freq = chunks.groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      chunks.join(freq, "chunk_hash")
        .groupBy("doc_id", "n_tokens")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("n_docs") >= 2, col("chunk_len")).otherwise(0L))
            .as("dup_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
          col("n_dup_chunks"), col("dup_tokens"),
          expr("(dup_tokens * 1000000) div n_tokens").as("dedup_ppm"))
    }),

    // ---- entity-resolution record linkage over a dirtied registry:
    //      every 7th customer gets a typo'd twin (first key digit →
    //      'x', rid + 1e6), and the linker must recover the twins
    //      WITHOUT a cartesian. Two blocking passes over DISJOINT
    //      digit windows of the name (chars 10–14 and 15–18): a typo
    //      corrupts exactly one window, so every true pair survives
    //      the other pass — the multi-pass blocking guarantee. Each
    //      pass is an equi-join on its block key under the suite's
    //      df-cap discipline (blocks over 50 rows are dropped
    //      STRUCTURALLY, the same cap that tames stop-shingles in the
    //      Jaccard family — here it drops the degenerate high-digit
    //      blocks a sequential key space produces, and recall rides
    //      on the healthy pass). Union → levenshtein ≤ 2 verify.
    //      Near-key neighbors (…01234 vs …01239) legitimately match
    //      too — linkage finds NEAR names; the planted twins are the
    //      known recall subset, spec-asserted. ----
    "d_record_linkage" -> ((s, dir) => {
      val blockCap = 50L
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("rid"), col("c_name").as("name"))
      val dirty = cust.filter(col("rid") % 7 === 0)
        .select((col("rid") + 1000000L).as("rid"),
          concat(substring(col("name"), 1, 9), lit("x"),
            substring(col("name"), 11, 8)).as("name"))
      val reg = cust.unionByName(dirty).localCheckpoint(false)
      def pass(off: Int, len: Int) = {
        val blk = reg.select(col("rid"), col("name"),
          substring(col("name"), off, len).as("blk"))
        val ok = blk.groupBy("blk").agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= blockCap).select("blk")
        val capped = blk.join(ok, Seq("blk"))
        val a = capped.select(col("blk"), col("rid").as("rid_a"),
          col("name").as("name_a"))
        val b = capped.select(col("blk").as("blk2"), col("rid").as("rid_b"),
          col("name").as("name_b"))
        a.join(b, col("blk") === col("blk2"))
          .filter(col("rid_a") < col("rid_b"))
          .select(col("rid_a"), col("rid_b"), col("name_a"), col("name_b"))
      }
      pass(10, 5).unionByName(pass(15, 4)).distinct()
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
        .filter(col("lev") <= 2)
        .select(col("rid_a"), col("rid_b"), col("lev"))
    })
  )

  // ---------- oracle SQL ----------

  private val exactCorpus =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text FROM documents""".stripMargin

  private val nearCorpus =
    """SELECT doc_id, text FROM documents WHERE doc_id < 300
      |UNION ALL SELECT doc_id + 100000,
      |  array_to_string(string_split(text, ' ')[2:], ' ')
      |FROM documents WHERE doc_id < 300""".stripMargin

  /** 5-gram distinct shingle list over a (id, text) relation. */
  private val shingleCte =
    """sh AS (SELECT id, list_distinct(
      |  CASE WHEN len(tok) < 5 THEN []
      |       ELSE list_transform(range(1, len(tok) - 3),
      |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
      |FROM (SELECT id, string_split(text, ' ') AS tok FROM base))""".stripMargin

  /** Shared CTE chain for the duplicated-span (10-gram) oracles: token
    * lists, the position/n-gram grid, the cross-doc duplicated n-gram
    * set, and the duplicated start positions.
    */
  private val spanCtes =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM ($nearCorpus) corpus(doc_id, text)),
       |p2 AS (SELECT doc_id, u.p AS p, u.ng AS ng
       |  FROM (SELECT doc_id, unnest(
       |    CASE WHEN len(toks) < 10 THEN []
       |         ELSE list_transform(range(1, len(toks) - 8),
       |                i -> struct_pack(p := i,
       |                       ng := array_to_string(toks[i:i+9], ' '))) END) AS u
       |  FROM tk)),
       |dup AS (SELECT ng FROM p2 GROUP BY ng
       |  HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT doc_id, p FROM p2 WHERE ng IN (SELECT ng FROM dup))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // closed-form canonical URL: scheme/host lowercased, :443 dropped,
    // '//' collapsed, trailing slash dropped, utm param removed, rest
    // sorted ('a=1' < 'b=2' < 'id=N'), fragment dropped
    "d_url_dedup" ->
      """SELECT url, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM (SELECT doc_id,
        |  'https://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |  '.com/a/b' || CAST(doc_id % 3 AS VARCHAR) ||
        |  '?a=1&b=2&id=' || CAST(doc_id % 100 AS VARCHAR) AS url
        | FROM documents)
        |GROUP BY url""".stripMargin,

    "d_span_stats" ->
      s"""WITH $spanCtes,
         |cov AS (SELECT doc_id, p,
         |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np FROM dp),
         |agg AS (SELECT doc_id, CAST(SUM(CASE WHEN np IS NULL THEN 10
         |    ELSE LEAST(10, np - p) END) AS BIGINT) AS n_dup_tokens
         |  FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, len(t.toks) AS n_tokens,
         |  coalesce(a.n_dup_tokens, 0) AS n_dup_tokens
         |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin,

    "d_span_scrub" ->
      s"""WITH $spanCtes,
         |cov AS (SELECT DISTINCT doc_id, idx FROM
         |  (SELECT doc_id, unnest(range(p, p + 10)) AS idx FROM dp)),
         |tg AS (SELECT doc_id, u.idx AS idx, u.tok AS tok
         |  FROM (SELECT doc_id, unnest(
         |    list_transform(range(1, len(toks) + 1),
         |      i -> struct_pack(idx := i, tok := toks[i]))) AS u FROM tk)),
         |kept AS (SELECT tg.doc_id, tg.idx, tg.tok FROM tg
         |  LEFT JOIN cov ON tg.doc_id = cov.doc_id AND tg.idx = cov.idx
         |  WHERE cov.idx IS NULL),
         |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
         |    CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  len(t.toks) - coalesce(k.n_kept, 0) AS n_removed
         |FROM tk t LEFT JOIN ka k ON t.doc_id = k.doc_id""".stripMargin,

    "d_softdedup" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |ex AS (SELECT id, unnest(sh) AS g FROM sh),
         |dfg AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY 1),
         |nd AS (SELECT COUNT(*) AS n_docs FROM base),
         |l AS (SELECT id, df,
         |    CAST(round(ln(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE)), 4)
         |      AS DECIMAL(18,4)) AS lng
         |  FROM ex JOIN dfg USING (g) CROSS JOIN nd)
         |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(lng) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS log_commonness,
         |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS shared_frac
         |FROM l GROUP BY id""".stripMargin,

    "d_contamination_transitive" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4),
         |edges AS (SELECT a_id, b_id FROM common
         |  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5),
         |und AS (SELECT a_id AS s, b_id AS d FROM edges
         |  UNION ALL SELECT b_id, a_id FROM edges),
         |reach AS (
         |  SELECT id, 0 AS hops FROM base WHERE id < 20
         |  UNION
         |  SELECT u.d AS id, r.hops + 1 AS hops
         |  FROM reach r JOIN und u ON u.s = r.id WHERE r.hops < 3)
         |SELECT id, MIN(hops) AS hops FROM reach GROUP BY id""".stripMargin,

    "d_exact_groups" ->
      s"""SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
         | count(*) AS n_copies
         |FROM ($exactCorpus) GROUP BY md5(text)""".stripMargin,

    "d_chapman_coverage" ->
      """WITH h AS (SELECT DISTINCT md5(text) AS hh FROM documents),
        |f AS (SELECT
        |    CASE WHEN CAST('0x' || substr(md5('cap1:' || hh), 1, 2)
        |      AS INT) < 128 THEN 1 ELSE 0 END AS c1,
        |    CASE WHEN CAST('0x' || substr(md5('cap2:' || hh), 1, 2)
        |      AS INT) < 128 THEN 1 ELSE 0 END AS c2
        |  FROM h),
        |a AS (SELECT COUNT(*) AS n_true,
        |    CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * c2) AS BIGINT) AS m12
        |  FROM f)
        |SELECT n_true, n1, n2, m12,
        |  CAST((n1 + 1) * (n2 + 1) // (m12 + 1) - 1 AS BIGINT)
        |    AS chapman_est,
        |  CAST(ABS((n1 + 1) * (n2 + 1) // (m12 + 1) - 1 - n_true)
        |    * 1000000 // n_true AS BIGINT) AS err_ppm
        |FROM a""".stripMargin,

    "d_jaccard_pairs" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id,
         |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""".stripMargin,

    "d_minhash_bbit" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |bits AS MATERIALIZED (SELECT id, list_transform(range(0, 32),
         |    i -> CAST(CAST('0x' || substr(list_aggregate(
         |        list_transform(sh, s -> md5(CAST(i AS VARCHAR)
         |          || ':' || s)), 'min'), 32, 1) AS BIGINT) % 2
         |      AS BIGINT)) AS b
         |  FROM sh),
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4),
         |cand AS (SELECT a_id, b_id,
         |    CAST(common * 1000000 // (na + nb - common) AS BIGINT)
         |      AS j_ppm
         |  FROM common
         |  WHERE common * 1000000 // (na + nb - common) >= 300000),
         |m AS (SELECT cand.a_id, cand.b_id, cand.j_ppm,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 33),
         |        i -> CAST(CASE WHEN ba.b[i] = bb.b[i] THEN 1 ELSE 0
         |          END AS BIGINT))), (x, y) -> x + y) AS m
         |  FROM cand JOIN bits ba ON ba.id = cand.a_id
         |            JOIN bits bb ON bb.id = cand.b_id)
         |SELECT a_id, b_id, j_ppm,
         |  CAST(GREATEST(2 * m - 32, 0) * 1000000 // 32 AS BIGINT)
         |    AS bbit_est_ppm,
         |  CAST(ABS(CAST(GREATEST(2 * m - 32, 0) * 1000000 // 32
         |    AS BIGINT) - j_ppm) AS BIGINT) AS abs_err_ppm
         |FROM m""".stripMargin,

    "d_lsh_design" -> {
      val cfg = Seq((4L, 4L), (8L, 2L), (16L, 1L), (2L, 8L))
        .map { case (b, r) =>
          s"($b, $r, ${math.round(math.pow(1.0 / b, 1.0 / r) * 1e6)})" }
        .mkString(", ")
      s"""WITH cfg(bands, rows_per_band, s_star_e6) AS
         |  (SELECT * FROM (VALUES $cfg)),
         |grid AS (SELECT bands, rows_per_band, s_star_e6,
         |    CAST(UNNEST(range(1, 10)) AS BIGINT) AS s_x10 FROM cfg),
         |p AS (SELECT bands, rows_per_band, s_x10, s_star_e6,
         |    list_reduce(list_prepend(CAST(1 AS BIGINT),
         |      list_transform(range(1, rows_per_band + 1),
         |        i -> CAST(10 AS BIGINT))), (a, b) -> a * b) AS pr,
         |    list_reduce(list_prepend(CAST(1 AS BIGINT),
         |      list_transform(range(1, rows_per_band + 1),
         |        i -> s_x10)), (a, b) -> a * b) AS kr
         |  FROM grid),
         |m AS (SELECT bands, rows_per_band, s_x10, s_star_e6,
         |    list_reduce(list_prepend(CAST(1 AS BIGINT),
         |      list_transform(range(1, bands + 1),
         |        i -> pr - kr)), (a, b) -> a * b) AS miss
         |  FROM p)
         |SELECT bands, rows_per_band, s_x10,
         |  CAST((10000000000000000 - miss) // 10000000000 AS BIGINT)
         |    AS p_ppm,
         |  CAST(s_star_e6 AS BIGINT) AS s_star_e6
         |FROM m""".stripMargin
    },

    "d_ngram_dup_curve" -> {
      def gramCte(n: Int) =
        s"""g$n AS (SELECT CAST($n AS BIGINT) AS n, doc_id,
           |    unnest(list_distinct(
           |      CASE WHEN len(tok) < $n THEN []
           |           ELSE list_transform(range(1, len(tok) - ${n - 2}),
           |                  i -> array_to_string(tok[i:i+${n - 1}], ' '))
           |      END)) AS g
           |  FROM (SELECT doc_id, string_split(text, ' ') AS tok
           |        FROM documents))""".stripMargin
      s"""WITH ${gramCte(5)},
         |${gramCte(10)},
         |${gramCte(20)},
         |grams AS (SELECT * FROM g5 UNION ALL SELECT * FROM g10
         |  UNION ALL SELECT * FROM g20),
         |tg AS (SELECT n, g, CAST(COUNT(*) AS BIGINT) AS docs
         |  FROM grams GROUP BY n, g),
         |agg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS n_types,
         |    CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_dup_types,
         |    CAST(SUM(CASE WHEN docs >= 2 THEN docs ELSE 0 END)
         |      AS BIGINT) AS dup_occurrences
         |  FROM tg GROUP BY n)
         |SELECT n, n_types, n_dup_types, dup_occurrences,
         |  CAST(n_dup_types * 1000000 // n_types AS BIGINT) AS dup_ppm
         |FROM agg""".stripMargin
    },

    "d_dedup_threshold_curve" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4),
         |th AS (SELECT CAST(UNNEST([50, 60, 70, 80, 90]) AS BIGINT)
         |  AS t),
         |hits AS (SELECT t, a_id, b_id FROM common, th
         |  WHERE common * 100 >= t * (na + nb - common)),
         |pairs AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM hits GROUP BY t),
         |docs AS (SELECT t, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
         |  FROM (SELECT t, a_id AS id FROM hits
         |        UNION ALL SELECT t, b_id FROM hits) GROUP BY t)
         |SELECT th.t AS threshold_pct,
         |  COALESCE(pairs.n_pairs, 0) AS n_pairs,
         |  COALESCE(docs.n_docs, 0) AS n_docs
         |FROM th LEFT JOIN pairs ON pairs.t = th.t
         |        LEFT JOIN docs ON docs.t = th.t""".stripMargin,

    "d_dup_inflation" ->
      """WITH d AS (SELECT source, doc_id, text FROM documents
        |  UNION ALL SELECT source, doc_id + 1000000, text
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT source, md5(text) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS tc
        |  FROM d GROUP BY source, md5(text)),
        |agg AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(k * tc) AS BIGINT) AS total_tokens,
        |    CAST(SUM(tc) AS BIGINT) AS distinct_tokens
        |  FROM g GROUP BY source)
        |SELECT source, n_docs, n_distinct, total_tokens,
        |  distinct_tokens,
        |  CAST(total_tokens * 1000000 // distinct_tokens AS BIGINT)
        |    AS inflation_ppm
        |FROM agg""".stripMargin,

    // the prefix-filtered path must equal the exact inverted-index
    // Jaccard verbatim — same oracle text as d_jaccard_pairs
    "d_jaccard_prefix" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id,
         |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""".stripMargin,

    "d_containment_pairs" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id <> b.id
         |  GROUP BY 1, 2, 3)
         |SELECT a_id, b_id,
         |  CAST(common AS DOUBLE) / CAST(na AS DOUBLE) AS containment
         |FROM common
         |WHERE CAST(common AS DOUBLE) / CAST(na AS DOUBLE) >= 0.9""".stripMargin,

    // df<=16 filter BEFORE the self-join; n_sh recomputed over the
    // surviving shingles, mirroring the engine's capped shingleSets
    "d_jaccard_capped" ->
      s"""WITH raw AS (SELECT doc_id,
         |    'standard legal disclaimer text appears before every document body '
         |      || text AS text
         |  FROM documents WHERE doc_id < 300),
         |base AS (SELECT doc_id AS id, text FROM raw
         |  UNION ALL SELECT doc_id + 100000,
         |    array_to_string(string_split(text, ' ')[2:], ' ') FROM raw),
         |$shingleCte,
         |ex0 AS (SELECT id, unnest(sh) AS s FROM sh),
         |kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM ex0 GROUP BY s)
         |  WHERE df <= 16),
         |ex AS (SELECT id, s,
         |    count(*) OVER (PARTITION BY id) AS n_sh
         |  FROM ex0 WHERE s IN (SELECT s FROM kept)),
         |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id,
         |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""".stripMargin,

    "d_minhash_sig" ->
      """WITH base AS (SELECT doc_id AS id, text FROM documents),
        |sh AS (SELECT id, list_distinct(
        |  CASE WHEN len(tok) < 5 THEN []
        |       ELSE list_transform(range(1, len(tok) - 3),
        |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
        |FROM (SELECT id, string_split(text, ' ') AS tok FROM base))
        |SELECT id AS doc_id,
        | array_to_string(list_transform(range(0, 6),
        |   i -> list_aggregate(list_transform(sh,
        |          s -> md5(CAST(i AS VARCHAR) || ':' || s)), 'min')), ',') AS sig
        |FROM sh""".stripMargin,

    "d_minhash_lsh_pairs" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)),
         |$shingleCte,
         |sigs AS (SELECT id, sh, list_transform(range(0, 6),
         |    i -> list_aggregate(list_transform(sh,
         |           s -> md5(CAST(i AS VARCHAR) || ':' || s)), 'min')) AS sig
         |  FROM sh WHERE len(sh) > 0),
         |banded AS (SELECT id, sh, b,
         |    md5(sig[2*b+1] || sig[2*b+2]) AS bkey
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b)),
         |cands AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id),
         |verif AS (SELECT c.a_id, c.b_id,
         |    len(list_intersect(x.sh, y.sh)) AS common,
         |    len(x.sh) AS na, len(y.sh) AS nb
         |  FROM cands c JOIN sh x ON x.id = c.a_id JOIN sh y ON y.id = c.b_id)
         |SELECT a_id, b_id,
         |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         |FROM verif
         |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""".stripMargin,

    "d_lsh_recall" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM ($nearCorpus)
         |  WHERE substring(md5(CAST(doc_id % 100000 AS VARCHAR)), 1, 1)
         |    IN ('0','1','2','3','4','5','6','7')),
         |$shingleCte,
         |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         |tc AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4),
         |truth AS (SELECT a_id, b_id FROM tc
         |  WHERE CAST(common AS DOUBLE)
         |    / CAST(na + nb - common AS DOUBLE) >= 0.5),
         |sigs AS (SELECT id, sh, list_transform(range(0, 6),
         |    i -> list_aggregate(list_transform(sh,
         |           s -> md5(CAST(i AS VARCHAR) || ':' || s)), 'min')) AS sig
         |  FROM sh WHERE len(sh) > 0),
         |banded AS (SELECT id, sh, b,
         |    md5(sig[2*b+1] || sig[2*b+2]) AS bkey
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b)),
         |cands AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id),
         |verif AS (SELECT c.a_id, c.b_id,
         |    len(list_intersect(x.sh, y.sh)) AS common,
         |    len(x.sh) AS na, len(y.sh) AS nb
         |  FROM cands c JOIN sh x ON x.id = c.a_id
         |  JOIN sh y ON y.id = c.b_id),
         |lsh AS (SELECT a_id, b_id FROM verif
         |  WHERE CAST(common AS DOUBLE)
         |    / CAST(na + nb - common AS DOUBLE) >= 0.5),
         |h AS (SELECT COUNT(*) AS n_hits
         |  FROM truth JOIN lsh USING (a_id, b_id))
         |SELECT (SELECT COUNT(*) FROM truth) AS n_true,
         |  (SELECT COUNT(*) FROM lsh) AS n_lsh, h.n_hits,
         |  CAST(h.n_hits AS DOUBLE)
         |    / (SELECT COUNT(*) FROM truth) AS recall,
         |  CAST(h.n_hits AS DOUBLE)
         |    / (SELECT COUNT(*) FROM lsh) AS prec
         |FROM h""".stripMargin,

    "d_jaccard_incremental" ->
      s"""WITH basec AS (SELECT doc_id AS id, text FROM documents
         |  WHERE doc_id < 300),
         |newc AS (SELECT doc_id + 500000 AS id,
         |    array_to_string(string_split(text, ' ')[2:], ' ') AS text
         |  FROM documents WHERE doc_id >= 100 AND doc_id < 200),
         |shb AS (SELECT id, list_distinct(
         |  CASE WHEN len(tok) < 5 THEN []
         |       ELSE list_transform(range(1, len(tok) - 3),
         |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
         |  FROM (SELECT id, string_split(text, ' ') AS tok FROM basec)),
         |shn AS (SELECT id, list_distinct(
         |  CASE WHEN len(tok) < 5 THEN []
         |       ELSE list_transform(range(1, len(tok) - 3),
         |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
         |  FROM (SELECT id, string_split(text, ' ') AS tok FROM newc)),
         |exb AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM shb),
         |exn AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM shn),
         |common AS (SELECT a.id AS new_id, b.id AS base_id, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS common
         |  FROM exn a JOIN exb b ON a.s = b.s GROUP BY 1, 2, 3, 4)
         |SELECT new_id, base_id,
         |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""".stripMargin,

    // band-bucket histogram recomputed from the generating corpus
    "d_index_stats" ->
      s"""WITH basec AS (SELECT doc_id AS id, text FROM documents
         |  WHERE doc_id < 300),
         |shb AS MATERIALIZED (SELECT id, list_distinct(
         |  CASE WHEN len(tok) < 5 THEN []
         |       ELSE list_transform(range(1, len(tok) - 3),
         |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
         |  FROM (SELECT id, string_split(text, ' ') AS tok FROM basec)),
         |sigb AS (SELECT id, list_transform(range(0, 6),
         |    i -> list_aggregate(list_transform(sh,
         |           s -> md5(CAST(i AS VARCHAR) || ':' || s)), 'min')) AS sig
         |  FROM shb WHERE len(sh) > 0),
         |bb AS (SELECT id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bkey
         |  FROM sigb CROSS JOIN (SELECT unnest(range(0, 3)) AS b)),
         |bsz AS (SELECT b, bkey, CAST(COUNT(*) AS BIGINT) AS bucket_size
         |  FROM bb GROUP BY 1, 2)
         |SELECT bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets
         |FROM bsz GROUP BY bucket_size""".stripMargin,

    // blocked Levenshtein: same prefixes, same blocking key, same cap
    "d_edit_pairs" ->
      """WITH raw AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 200),
        |corpus AS (
        |  SELECT doc_id AS id, substring(text, 1, 64) AS p FROM raw
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    substring(text, 1, 9) || 'q' || substring(text, 11, 54)
        |  FROM raw),
        |keyed AS MATERIALIZED (SELECT id, p, substring(p, 1, 4) AS k1,
        |    len(p) AS kl
        |  FROM corpus),
        |caps AS (SELECT k1, kl FROM keyed GROUP BY 1, 2
        |  HAVING count(*) <= 64),
        |e AS MATERIALIZED (SELECT keyed.* FROM keyed
        |  JOIN caps USING (k1, kl))
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.p, b.p) AS INT) AS ld
        |FROM e a JOIN e b
        |  ON a.k1 = b.k1 AND a.kl = b.kl AND a.id < b.id
        |WHERE levenshtein(a.p, b.p) <= 3""".stripMargin,

    // the persisted-index path must equal the direct MinHash/LSH math
    // over the same two corpora (new bands × base bands, exact verify)
    "d_index_incremental" ->
      s"""WITH basec AS (SELECT doc_id AS id, text FROM documents
         |  WHERE doc_id < 300),
         |newc AS (SELECT doc_id + 500000 AS id,
         |    array_to_string(string_split(text, ' ')[2:], ' ') AS text
         |  FROM documents WHERE doc_id >= 100 AND doc_id < 200),
         |shb AS MATERIALIZED (SELECT id, list_distinct(
         |  CASE WHEN len(tok) < 5 THEN []
         |       ELSE list_transform(range(1, len(tok) - 3),
         |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
         |  FROM (SELECT id, string_split(text, ' ') AS tok FROM basec)),
         |shn AS MATERIALIZED (SELECT id, list_distinct(
         |  CASE WHEN len(tok) < 5 THEN []
         |       ELSE list_transform(range(1, len(tok) - 3),
         |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
         |  FROM (SELECT id, string_split(text, ' ') AS tok FROM newc)),
         |sigb AS (SELECT id, list_transform(range(0, 6),
         |    i -> list_aggregate(list_transform(sh,
         |           s -> md5(CAST(i AS VARCHAR) || ':' || s)), 'min')) AS sig
         |  FROM shb WHERE len(sh) > 0),
         |sign0 AS (SELECT id, list_transform(range(0, 6),
         |    i -> list_aggregate(list_transform(sh,
         |           s -> md5(CAST(i AS VARCHAR) || ':' || s)), 'min')) AS sig
         |  FROM shn WHERE len(sh) > 0),
         |bb AS (SELECT id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bkey
         |  FROM sigb CROSS JOIN (SELECT unnest(range(0, 3)) AS b)),
         |bn AS (SELECT id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bkey
         |  FROM sign0 CROSS JOIN (SELECT unnest(range(0, 3)) AS b)),
         |cands AS (SELECT DISTINCT a.id AS new_id, b.id AS base_id
         |  FROM bn a JOIN bb b ON a.b = b.b AND a.bkey = b.bkey),
         |verif AS (SELECT c.new_id, c.base_id,
         |    len(list_intersect(x.sh, y.sh)) AS common,
         |    len(x.sh) AS na, len(y.sh) AS nb
         |  FROM cands c JOIN shn x ON x.id = c.new_id
         |  JOIN shb y ON y.id = c.base_id)
         |SELECT new_id, base_id,
         |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         |FROM verif
         |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""".stripMargin,

    // true connected components via recursive CTE (UNION dedups, so
    // the fixpoint terminates); engine result must equal the exact
    // min-reachable-id labeling
    "d_dup_clusters" ->
      """WITH RECURSIVE raw AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 150),
        |base AS (
        |  SELECT doc_id AS id, text FROM raw
        |  UNION ALL SELECT doc_id + 100000,
        |    array_to_string(string_split(text, ' ')[2:], ' ') FROM raw
        |  UNION ALL SELECT doc_id + 200000,
        |    array_to_string(string_split(text, ' ')[3:], ' ') FROM raw),
        |sh AS (SELECT id, list_distinct(
        |  CASE WHEN len(tok) < 5 THEN []
        |       ELSE list_transform(range(1, len(tok) - 3),
        |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
        |  FROM (SELECT id, string_split(text, ' ') AS tok FROM base)),
        |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
        |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
        |    b.n_sh AS nb, count(*) AS common
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM common
        |  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5),
        |edges AS (SELECT a_id AS x, b_id AS y FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT x, x FROM edges
        |  UNION
        |  SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.id)
        |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id""".stripMargin,

    // the incremental path must equal a FULL recursive-CC recompute
    // over all four generations — old×old edges included (the engine
    // never re-reads them; the contraction argument says it needn't)
    "d_cluster_incremental" ->
      """WITH RECURSIVE raw AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 150),
        |base AS (
        |  SELECT doc_id AS id, text FROM raw
        |  UNION ALL SELECT doc_id + 100000,
        |    array_to_string(string_split(text, ' ')[2:], ' ') FROM raw
        |  UNION ALL SELECT doc_id + 200000,
        |    array_to_string(string_split(text, ' ')[3:], ' ') FROM raw
        |  UNION ALL SELECT doc_id + 300000,
        |    array_to_string(string_split(text, ' ')[4:], ' ') FROM raw),
        |sh AS (SELECT id, list_distinct(
        |  CASE WHEN len(tok) < 5 THEN []
        |       ELSE list_transform(range(1, len(tok) - 3),
        |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
        |  FROM (SELECT id, string_split(text, ' ') AS tok FROM base)),
        |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
        |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
        |    b.n_sh AS nb, count(*) AS common
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM common
        |  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5),
        |edges AS (SELECT a_id AS x, b_id AS y FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT x, x FROM edges
        |  UNION
        |  SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.id)
        |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id""".stripMargin,

    // same recursive-CC construction, then one keeper per cluster
    // (longest text, ties to min id)
    "d_cluster_keeper" ->
      """WITH RECURSIVE raw AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 150),
        |base AS (
        |  SELECT doc_id AS id, text FROM raw
        |  UNION ALL SELECT doc_id + 100000,
        |    array_to_string(string_split(text, ' ')[2:], ' ') FROM raw
        |  UNION ALL SELECT doc_id + 200000,
        |    array_to_string(string_split(text, ' ')[3:], ' ') FROM raw),
        |sh AS (SELECT id, list_distinct(
        |  CASE WHEN len(tok) < 5 THEN []
        |       ELSE list_transform(range(1, len(tok) - 3),
        |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
        |  FROM (SELECT id, string_split(text, ' ') AS tok FROM base)),
        |ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
        |common AS (SELECT a.id AS a_id, b.id AS b_id, a.n_sh AS na,
        |    b.n_sh AS nb, count(*) AS common
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (SELECT a_id, b_id FROM common
        |  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5),
        |edges AS (SELECT a_id AS x, b_id AS y FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT x, x FROM edges
        |  UNION
        |  SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.id),
        |cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
        |SELECT cluster, id AS keeper_id, len AS keeper_score FROM (
        |  SELECT cl.cluster, cl.id, length(b.text) AS len,
        |    ROW_NUMBER() OVER (PARTITION BY cl.cluster
        |      ORDER BY length(b.text) DESC, cl.id ASC) AS rn
        |  FROM cl JOIN base b ON cl.id = b.id) x
        |WHERE rn = 1""".stripMargin,

    "d_contamination" ->
      """WITH sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(tok) < 5 THEN []
        |         ELSE list_transform(range(1, len(tok) - 3),
        |                i -> array_to_string(tok[i:i+4], ' ')) END)) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents))
        |SELECT DISTINCT a.doc_id FROM sh a
        |WHERE a.doc_id >= 20
        |  AND a.s IN (SELECT s FROM sh WHERE doc_id < 20)""".stripMargin,

    // cross-join Hamming over the same simhash construction; pigeonhole
    // guarantees the engine's quarter-blocked candidates cover dist<=3
    "d_simhash_pairs" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id < 200),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM corpus),
        |tb AS (SELECT doc_id, b,
        |    CASE WHEN ((strpos('0123456789abcdef',
        |        substring(md5(t), (b // 4) + 1, 1)) - 1)
        |        >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS v
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
        |bits AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM tb GROUP BY doc_id, b),
        |nibs AS (SELECT doc_id, b // 4 AS nib,
        |    sum(bit << (3 - (b % 4))) AS nv
        |  FROM bits GROUP BY doc_id, b // 4),
        |sigs AS (SELECT doc_id, string_agg(substring('0123456789abcdef',
        |    CAST(nv AS INT) + 1, 1), '' ORDER BY nib) AS sig
        |  FROM nibs GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(list_sum(list_transform(range(1, 17), p ->
        |      bit_count(xor(
        |        strpos('0123456789abcdef', substring(a.sig, p, 1)) - 1,
        |        strpos('0123456789abcdef', substring(b.sig, p, 1)) - 1))))
        |      AS INT) AS dist
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, dist FROM pairs WHERE dist <= 3""".stripMargin,

    "d_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tb AS (SELECT doc_id, b,
        |    CASE WHEN ((strpos('0123456789abcdef',
        |        substring(md5(t), (b // 4) + 1, 1)) - 1)
        |        >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS v
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
        |bits AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM tb GROUP BY doc_id, b),
        |nibs AS (SELECT doc_id, b // 4 AS nib,
        |    sum(bit << (3 - (b % 4))) AS nv
        |  FROM bits GROUP BY doc_id, b // 4)
        |SELECT doc_id, string_agg(substring('0123456789abcdef',
        |    CAST(nv AS INT) + 1, 1), '' ORDER BY nib) AS simhash
        |FROM nibs GROUP BY doc_id""".stripMargin,

    // identical gear boundaries + span hashing, list-algebra form
    "d_cdc_chunks" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents),
         |cuts AS (SELECT doc_id, tk, n,
         |    list_filter(range(3, n + 1), p ->
         |      ${graft.operators.Kmv.hash52Sql(
                  "array_to_string(tk[p-2:p], ' ')")} % 8 = 0) AS cs
         |  FROM toks),
         |ends AS (SELECT doc_id, tk, n,
         |    list_sort(list_distinct(list_append(cs, n))) AS es
         |  FROM cuts),
         |pos AS (SELECT doc_id, tk, n, es,
         |    unnest(range(1, len(es) + 1)) AS j
         |  FROM ends),
         |ck AS (SELECT doc_id, n,
         |    ${graft.operators.Kmv.hash52Sql(
                "array_to_string(tk[CASE WHEN j = 1 THEN 1 ELSE es[j-1] + 1 END : es[j]], ' ')")}
         |      AS ch,
         |    es[j] - CASE WHEN j = 1 THEN 0 ELSE es[j-1] END AS clen
         |  FROM pos),
         |freq AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs
         |  FROM ck GROUP BY 1)
         |SELECT doc_id, n AS n_tokens, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN clen ELSE 0 END) AS BIGINT)
         |    AS dup_tokens,
         |  CAST((SUM(CASE WHEN n_docs >= 2 THEN clen ELSE 0 END) * 1000000)
         |    // n AS BIGINT) AS dedup_ppm
         |FROM ck JOIN freq USING (ch)
         |GROUP BY doc_id, n""".stripMargin,

    "d_winnow_pairs" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents),
         |hs AS (SELECT doc_id,
         |    list_transform(range(1, len(tk) - 1),
         |      i -> ${graft.operators.Kmv.hash52Sql(
                      "array_to_string(tk[i:i+2], ' ')")}) AS h
         |  FROM toks WHERE len(tk) >= 3),
         |fp AS (SELECT doc_id,
         |    list_distinct(list_transform(range(0, len(h) - 3),
         |      i -> list_aggregate(h[i+1:i+4], 'min'))) AS fps
         |  FROM hs WHERE len(h) >= 4),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
         |dfc AS (SELECT fp FROM e GROUP BY fp
         |  HAVING COUNT(*) BETWEEN 2 AND 20),
         |ee AS (SELECT e.doc_id, e.fp FROM e JOIN dfc USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS n_shared
         |FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    // identical two-pass capped blocking + levenshtein verify
    "d_record_linkage" ->
      """WITH reg AS MATERIALIZED (
        |  SELECT c_custkey AS rid, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000,
        |    substring(c_name, 1, 9) || 'x' || substring(c_name, 11, 8)
        |  FROM customer WHERE c_custkey % 7 = 0),
        |p1 AS (SELECT rid, name, substring(name, 10, 5) AS blk FROM reg),
        |k1 AS (SELECT blk FROM p1 GROUP BY blk HAVING COUNT(*) <= 50),
        |c1 AS (SELECT p1.* FROM p1 JOIN k1 USING (blk)),
        |p2 AS (SELECT rid, name, substring(name, 15, 4) AS blk FROM reg),
        |k2 AS (SELECT blk FROM p2 GROUP BY blk HAVING COUNT(*) <= 50),
        |c2 AS (SELECT p2.* FROM p2 JOIN k2 USING (blk)),
        |cand AS (
        |  SELECT DISTINCT rid_a, rid_b, name_a, name_b FROM (
        |    SELECT a.rid AS rid_a, b.rid AS rid_b,
        |      a.name AS name_a, b.name AS name_b
        |    FROM c1 a JOIN c1 b ON a.blk = b.blk AND a.rid < b.rid
        |    UNION ALL
        |    SELECT a.rid, b.rid, a.name, b.name
        |    FROM c2 a JOIN c2 b ON a.blk = b.blk AND a.rid < b.rid))
        |SELECT rid_a, rid_b, levenshtein(name_a, name_b) AS lev
        |FROM cand WHERE levenshtein(name_a, name_b) <= 2""".stripMargin
  )
}
