package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Deduplication for large-scale training-data pipelines: exact
  * (hash-groupBy), n-gram Jaccard via an inverted shingle index,
  * MinHash + LSH banding, and SimHash.
  *
  * Scale design (100 TB): every variant avoids the O(N²) cross join —
  * exact dedup is one hash aggregation on a 128-bit digest; Jaccard and
  * MinHash-LSH generate candidates by equi-joining on shingle / band
  * keys (shuffle on the key, skew bounded by a document-frequency cap
  * on pathological shingles); only candidate pairs — a tiny fraction —
  * are verified exactly.
  */
object Dedup {

  /** Exact dedup groups: content digest → representative (min id) +
    * multiplicity. One map-side-combinable aggregation; no join.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct-shingle sets per doc, optionally dropping shingles whose
    * document frequency exceeds `dfCap` (stop-shingle removal — the
    * standard skew guard for inverted-index joins at scale).
    *
    * Package-visible so a query that needs BOTH a signature pass and a
    * candidate pass over the same corpus (d_minhash_bbit), or several
    * pair passes against the same base (d_cluster_incremental), can
    * build the shingled frame ONCE, checkpoint it, and hand it to the
    * `*FromSets` variants — instead of re-running tokenize+shingle
    * (THE expensive map at corpus scale) once per pass.
    */
  private[graft] def shingleSets(df: DataFrame, idCol: String,
                                 textCol: String,
                                 n: Int, dfCap: Option[Int]): DataFrame = {
    // Par.spread: tokenize+shingle+distinct is the CPU-dense pass; an
    // under-split input (single-row-group fixture file) would run it
    // on one core (identity at real scan widths)
    val sh = Par.spread(df).select(col(idCol).as("id"),
      array_distinct(Text.shingles(Text.tokens(col(textCol)), n)).as("sh"))
    dfCap match {
      case None => sh
      case Some(cap) =>
        // The stop-shingle set (df > cap) is small by construction —
        // heavy hitters only — so removal is a BROADCAST anti-join:
        // the huge exploded side never shuffles on the shingle key.
        val ex = sh.select(col("id"), explode(col("sh")).as("s"))
        val stop = ex.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("s")
        ex.join(broadcast(stop), Seq("s"), "left_anti")
          .groupBy("id").agg(collect_list("s").as("sh"))
    }
  }

  /** Default document-frequency cap for inverted-index candidate
    * generation: a shingle present in more than this many documents is
    * boilerplate, contributes ≥ cap² candidate pairs on its own key
    * (one task at shuffle time), and carries almost no similarity
    * signal — the standard stoplist skew guard.
    */
  val DefaultDfCap = 1024

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ `threshold`,
    * candidates from the inverted shingle index (docs sharing ≥ 1
    * shingle) — never a cross join. Shingles above the `dfCap`
    * document frequency are dropped BEFORE the self-join (capped by
    * default: an uncapped index is quadratic in per-shingle df, and a
    * single boilerplate shingle across K docs funnels K² candidate
    * rows through one shuffle task). Pass `dfCap = None` only for
    * corpora known to be boilerplate-free.
    *
    * The input is consumed from several plan branches (df counting when
    * capped, plus both sides of the candidate self-join) — persist or
    * checkpoint `df` before calling when the upstream is expensive to
    * recompute.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame =
    jaccardCandidates(df, idCol, textCol, n, dfCap)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Candidate pairs from the inverted shingle index with their EXACT
    * set-overlap counts (a_id, b_id, na, nb, common) — the raw
    * material [[jaccardPairs]] thresholds on, exposed so callers can
    * apply exact-integer threshold algebra (e.g. a threshold sweep:
    * `common·100 ≥ t·(na+nb−common)` avoids double comparisons
    * entirely). Same inverted-index + dfCap skew guard; never a
    * cross join.
    */
  def jaccardCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int,
                        dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // checkpointed: BOTH sides of the candidate self-join read the
    // shingled frame — uncheckpointed, the tokenize+shingle pass (THE
    // expensive pass at corpus scale) runs once per side.
    // localCheckpoint (here and at every dedup site) trades executor-
    // loss recovery for zero-I/O block reuse WITHIN one query: on an
    // executor loss the job fails and the caller reruns — acceptable
    // for idempotent batch dedup; a pipeline needing per-executor
    // fault tolerance should pass a reliably-checkpointed df instead
    // (the *FromSets entry points exist for exactly that).
    val sh = shingleSets(df, idCol, textCol, n, dfCap)
      .localCheckpoint(false)
    jaccardCandidatesFromSets(sh)
  }

  /** [[jaccardCandidates]] over a PRE-BUILT (id, sh) shingle frame —
    * the caller owns the checkpoint (the frame is read by both sides
    * of the self-join, so pass it checkpointed).
    */
  private[graft] def jaccardCandidatesFromSets(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("common"))
  }

  /** Asymmetric containment pairs: C(A→B) = |sh(A)∩sh(B)| / |sh(A)| ≥
    * `threshold`. The quote/subset detector that Jaccard misses when
    * lengths are asymmetric — a paragraph fully quoted inside a book
    * scores near-zero Jaccard but containment 1.0 from the paragraph's
    * side. Emits BOTH directions (a_id → b_id uses |sh(a)| as the
    * denominator), since containment is not symmetric.
    *
    * Same inverted-index shape and `dfCap` skew guard as
    * [[jaccardPairs]] — candidates come from shared shingles, never a
    * cross join; the same persist-your-input guidance applies.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // checkpointed: both sides of the candidate self-join read the
    // shingled frame (same reasoning as jaccardCandidates)
    val sh = shingleSets(df, idCol, textCol, n, dfCap)
      .localCheckpoint(false)
    val ex = sh.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val common = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.n_sh").as("na"))
      .agg(count(lit(1)).as("common"))
    common
      .withColumn("containment",
        col("common").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
  }

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ `threshold` with
    * PREFIX-FILTERED candidate generation (AllPairs/PPJoin family):
    * shingles are globally ordered by (document frequency asc, shingle
    * asc) and only each set's first `|X| - ceil(t·|X|) + 1` shingles
    * participate in the candidate equi-join. Two sets with
    * J(A,B) ≥ t share ≥ ceil(t·max(|A|,|B|)) shingles, so their
    * prefixes must intersect — the filter admits NO false negatives
    * and the result equals [[jaccardPairs]] exactly.
    *
    * Scale shape vs the plain inverted index: boilerplate shingles
    * (high df) sort to the END of the global order and fall outside
    * almost every prefix, so the quadratic stop-shingle skew the
    * `dfCap` guard fights never reaches the join — rare shingles carry
    * the candidates, and their per-key fan-out is small by definition.
    * A length filter (`t·|A| ≤ |B| ∧ t·|B| ≤ |A|`) prunes inside the
    * join. Verification is one candidate-side array intersection, not
    * a re-join of the full index.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    // checkpointed: the shingled frame feeds the prefix index AND both
    // verify joins — uncheckpointed, tokenize+shingle runs three times
    val sh = shingleSets(df, idCol, textCol, n, None)
      .localCheckpoint(false)
    jaccardPairsPrefixFromSets(sh, threshold)
  }

  /** [[jaccardPairsPrefix]] over a PRE-BUILT (id, sh) shingle frame —
    * the caller owns the checkpoint (the frame feeds the prefix index
    * and both verify joins, so pass it checkpointed).
    */
  private[graft] def jaccardPairsPrefixFromSets(sh: DataFrame,
                                                threshold: Double)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The required-overlap bound ceil(t·|X|) must be computed EXACTLY:
    // in double arithmetic t·|X| can land one ulp above an integer
    // (e.g. 0.07 × 100 = 7.000000000000001 → ceil 8), shortening the
    // prefix and silently admitting false negatives. BigDecimal(d)
    // goes through Double.toString, so the literal is the decimal the
    // caller wrote, and decimal multiply/ceil/compare are exact.
    val tDec = lit(BigDecimal(threshold))
    def nshDec(c: Column): Column = c.cast("decimal(20,10)")
    val ex = sh.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, "s")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)))
    val prefix = ranked
      .filter(col("pos") <= col("n_sh") - ceil(nshDec(col("n_sh")) * tDec) + 1)
      .select("id", "n_sh", "s")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          nshDec(col("a.n_sh")) >= nshDec(col("b.n_sh")) * tDec &&
          nshDec(col("b.n_sh")) >= nshDec(col("a.n_sh")) * tDec)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
    cand
      .join(sh.select(col("id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Asymmetric containment pairs with PREFIX-FILTERED candidate
    * generation — output-identical to [[containmentPairs]] with
    * `dfCap = None`. C(A→B) ≥ t needs overlap ≥ ceil(t·|A|), so if
    * none of A's first `|A| − ceil(t·|A|) + 1` shingles (global df
    * asc, shingle asc order) is in B, the overlap can't reach the
    * bound: only the SUBJECT side is prefix-cut (the filter is
    * one-sided because containment's denominator is one-sided), the
    * candidate side joins its full index, plus a `|B| ≥ ceil(t·|A|)`
    * size prune. The bound is computed in exact decimal (see
    * [[jaccardPairsPrefix]] for the double-ceil hazard).
    *
    * Scale shape: high-df boilerplate shingles fall outside subject
    * prefixes, so the stop-shingle skew never reaches the join — the
    * same structural win as [[jaccardPairsPrefix]], without giving up
    * exactness the way a `dfCap` does.
    */
  def containmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val tDec = lit(BigDecimal(threshold))
    def nshDec(c: Column): Column = c.cast("decimal(20,10)")
    // checkpointed: feeds the subject prefix, the candidate side, and
    // both verify joins (same reasoning as jaccardPairsPrefix)
    val sh = shingleSets(df, idCol, textCol, n, None)
      .localCheckpoint(false)
    val ex = sh.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, "s")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)))
    val prefix = ranked
      .filter(col("pos") <= col("n_sh") - ceil(nshDec(col("n_sh")) * tDec) + 1)
      .select("id", "n_sh", "s")
    val cand = prefix.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id") &&
          nshDec(col("b.n_sh")) >= ceil(nshDec(col("a.n_sh")) * tDec))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
    cand
      .join(sh.select(col("id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment",
        col("common").cast("double") / size(col("sha")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
  }

  /** MinHash signature: k permutations simulated by salted md5; element
    * i is the minimum of md5(i + ":" + shingle) over the doc's distinct
    * shingles. Pure higher-order expressions (no UDF), so the oracle
    * can replicate it verbatim.
    */
  def minhashSignature(sh: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => md5(concat(i.cast("string"), lit(":"), s)))))

  /** LSH band keys: `bands` hashes, band b digesting rows
    * [b*rowsPerBand, (b+1)*rowsPerBand) of the signature. Docs sharing
    * any (band index, band hash) become candidates.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), "")))

  /** MinHash+LSH near-dup pairs: band-key equi-join for candidates,
    * exact Jaccard verification. k = bands * rowsPerBand.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame = {
    // checkpointed: both sides of the band self-join read the signed
    // frame — uncheckpointed, shingling AND the k-permutation MinHash
    // (the heaviest map in the family) run once per side
    val sh = shingleSets(df, idCol, textCol, n, None)
      .withColumn("sig", minhashSignature(col("sh"), bands * rowsPerBand))
      .localCheckpoint(false)
    val banded = sh.select(col("id"), col("sh"),
      posexplode(lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bkey")))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .dropDuplicates("a_id", "b_id")
    cands
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Incremental near-dup check: Jaccard pairs of a NEW batch against
    * an EXISTING corpus (daily-ingestion dedup — only new×old
    * candidates, never old×old again). Same inverted-index equi-join
    * as `jaccardPairs`; the stop-shingle cap uses the historical
    * side's document frequencies (the index already knows them).
    * Emits (new_id, base_id, jaccard).
    */
  def jaccardPairsAgainst(newDocs: DataFrame, base: DataFrame,
                          idCol: String, textCol: String,
                          n: Int, threshold: Double,
                          dfCap: Option[Int] = Some(DefaultDfCap)): DataFrame = {
    // Par.spread (inside ex): tokenize+shingle is the CPU-dense map —
    // an under-split input must not serialize it onto the scan's one
    // task (identity at real scan widths)
    def ex(df: DataFrame) = {
      val sh = Par.spread(df).select(col(idCol).as("id"),
        array_distinct(Text.shingles(Text.tokens(col(textCol)), n)).as("sh"))
      sh.select(col("id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
    }
    val exBase0 = ex(base)
    val (exBase, exNew) = dfCap match {
      case None => (exBase0, ex(newDocs))
      case Some(cap) =>
        val stop = exBase0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("s")
        // set sizes must reflect the CAPPED sets (as in jaccardPairs)
        def capped(e: DataFrame) = e
          .join(broadcast(stop), Seq("s"), "left_anti")
          .withColumn("n_sh", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("id")))
        (capped(exBase0), capped(ex(newDocs)))
    }
    againstJoin(exNew, exBase, threshold)
  }

  /** The uncapped [[jaccardPairsAgainst]] over PRE-BUILT (id, sh)
    * shingle frames for both sides — the incremental-maintenance
    * caller (d_cluster_incremental) shares ONE checkpointed base
    * frame between this and its prefix-pair pass instead of
    * re-shingling the base corpus per pass.
    */
  private[graft] def jaccardPairsAgainstFromSets(newSets: DataFrame,
                                                 baseSets: DataFrame,
                                                 threshold: Double)
      : DataFrame = {
    def ex(sh: DataFrame) = sh.select(col("id"),
      size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
    againstJoin(ex(newSets), ex(baseSets), threshold)
  }

  /** Shared new×base candidate join + exact-Jaccard verify over
    * exploded (id, n_sh, s) frames. */
  private def againstJoin(exNew: DataFrame, exBase: DataFrame,
                          threshold: Double): DataFrame =
    exNew.as("a").join(exBase.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.id").as("new_id"), col("b.id").as("base_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "base_id", "jaccard")

  /** Benchmark decontamination: ids of training documents sharing ANY
    * n-gram with the benchmark set (the standard eval-leakage sweep
    * before training). The benchmark shingle set is small by nature —
    * broadcast — so the sweep is one map-side semi-join over the
    * exploded training shingles: no shuffle of the training corpus,
    * scales to any corpus size.
    */
  def contaminated(train: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String, n: Int): DataFrame = {
    def ex(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(array_distinct(Text.shingles(Text.tokens(col(textCol)), n))).as("s"))
    // Par.spread on the TRAIN side only: its tokenize+shingle explode
    // is the corpus-sized CPU map (identity at real scan widths); the
    // benchmark side is eval-sized by nature and goes out broadcast
    ex(Par.spread(train))
      .join(broadcast(ex(benchmark).select("s").distinct()), Seq("s"), "left_semi")
      .select("id").distinct()
      .withColumnRenamed("id", idCol)
  }

  /** Duplicate-cluster consolidation: connected components over the
    * near-dup pair graph, labeling every node with the minimum id
    * reachable from it — the step after pair detection that turns
    * (a,b) matches into dedup groups with one canonical keeper.
    *
    * Pregel-style min-label propagation: each round is ONE equi-join +
    * aggregation (neighbors' current minima), converging in
    * O(component diameter) rounds — near-dup components are shallow
    * (dozens of hops at the extreme), so this is a handful of shuffles
    * at any corpus size, never a transitive-closure blowup. Labels are
    * checkpointed per round to keep lineage flat; convergence is
    * detected by counting labels that changed in the round (zero ⇔
    * fixed point) — type-agnostic, so ids may be strings, longs, or
    * anything orderable, with no overflow risk. Only ids that appear
    * in `pairs` are labeled — singletons need no cluster.
    *
    * @throws IllegalStateException if `maxIter` rounds pass without
    *         reaching the fixed point (a component deeper than
    *         maxIter hops) — better loud than silently-wrong labels.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Lazy (plan-truncating) checkpoints: each round runs exactly ONE
    // job — the convergence count — which also materializes `next`'s
    // blocks for the following round, instead of a separate eager
    // checkpoint job per round.
    val edges = pairs.select(col("a_id").as("x"), col("b_id").as("y"))
      .union(pairs.select(col("b_id").as("x"), col("a_id").as("y")))
      .localCheckpoint(false)
    var labels = edges.select(col("x").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(false)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(labels, col("y") === col("id"))
        .groupBy(col("x")).agg(min(col("cluster")).as("nmin"))
      val next = labels.join(neighborMin, col("id") === col("x"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")))
            .as("cluster"))
        .localCheckpoint(false)
      val changed = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.cluster") =!= col("p.cluster"))
        .count()
      labels = next
      converged = changed == 0L
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIter rounds — raise maxIter " +
        "(component diameter exceeds it); refusing to return partial labels")
    labels
  }

  /** Incremental duplicate-cluster maintenance — the labels are a
    * persisted asset like the indexes: when a daily batch arrives, its
    * incident edges (new×old from [[pairsAgainstIndex]], new×new from
    * a within-batch pass) must extend the existing labeling WITHOUT
    * revisiting old×old edges. Old clusters are CONTRACTED to their
    * labels: every old endpoint of a new edge is replaced by its
    * cluster label, [[dupClusters]] runs on the contracted graph —
    * batch-sized (new ids ∪ touched labels), never the corpus — and
    * the result splits into a label REMAP applied to the old
    * assignment plus fresh labels for the new ids. A new doc bridging
    * two old clusters merges them through their labels; since an old
    * component's label IS its minimum id, min-label CC on the
    * contracted graph yields exactly the labels a full recompute over
    * all edges would (DedupSpec proves it). Like [[dupClusters]],
    * only edge-incident new ids are labeled — isolated new docs are
    * their own singletons by definition.
    */
  def updateClusters(oldLabels: DataFrame, newEdges: DataFrame,
                     maxIter: Int = 20): DataFrame = {
    val lbl = oldLabels.select(col("id"), col("cluster"))
      .localCheckpoint(false) // feeds contraction, remap, and anti-join
    val contracted = newEdges
      .join(lbl.select(col("id").as("a_id"), col("cluster").as("ca")),
        Seq("a_id"), "left")
      .join(lbl.select(col("id").as("b_id"), col("cluster").as("cb")),
        Seq("b_id"), "left")
      .select(coalesce(col("ca"), col("a_id")).as("a_id"),
        coalesce(col("cb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id")) // both endpoints in one old
                                           // cluster: no new information
    val cc = dupClusters(contracted, maxIter).localCheckpoint(false)
    val remap = cc.select(col("id").as("cluster"), col("cluster").as("__newc"))
    val updatedOld = lbl.join(remap, Seq("cluster"), "left")
      .select(col("id"),
        coalesce(col("__newc"), col("cluster")).as("cluster"))
    // contracted nodes are new ids ∪ old labels; old labels are old
    // ids (already covered above), so the new rows are the anti-join
    val newRows = cc.join(lbl.select("id"), Seq("id"), "left_anti")
    updatedOld.unionByName(newRows)
  }

  /** Keeper selection per duplicate cluster: given `labels` (id,
    * cluster) from [[dupClusters]] and the docs table, pick ONE
    * representative per cluster — highest `score`, ties to the minimum
    * id — the step that turns cluster labels into the actual dedup
    * decision (keep the best copy, drop the rest). The window runs over
    * (cluster, id, score) only — narrow rows, never the documents. */
  def clusterRepresentatives(labels: DataFrame, docs: DataFrame,
                             idCol: String, score: Column): DataFrame = {
    // rename the label columns up front so a docs table whose id/score
    // columns are also named "id"/"cluster" can't make the post-join
    // references ambiguous (dupClusters output IS (id, cluster))
    val lab = labels.select(col("id").as("__lab_id"),
      col("cluster").as("__lab_cluster"))
    val scored = lab.join(docs, col("__lab_id") === docs(idCol))
      .select(col("__lab_cluster").as("cluster"),
        col("__lab_id").as("id"), score.as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster"), col("id").as("keeper_id"),
        col("score").as("keeper_score"))
  }

  // ---- SimHash ----

  private def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** 64-bit SimHash over the token multiset, emitted as 16 lowercase hex
    * chars. Bit b votes +1/-1 per token according to bit b of the
    * token's md5; positive sum ⇒ 1. Deterministic and replicated by the
    * oracle in portable SQL (unnest + bit arithmetic on hex digits).
    */
  def simhashHex(tokens: Seq[String]): String = {
    val acc = new Array[Int](64)
    if (tokens != null) tokens.foreach { t =>
      val hex = md5Hex(t)
      var b = 0
      while (b < 64) {
        val digit = Character.digit(hex.charAt(b / 4), 16)
        val bit = (digit >> (3 - b % 4)) & 1
        acc(b) += (if (bit == 1) 1 else -1)
        b += 1
      }
    }
    val sb = new StringBuilder(16)
    var nib = 0
    while (nib < 16) {
      var v = 0
      var j = 0
      while (j < 4) { v = (v << 1) | (if (acc(nib * 4 + j) > 0) 1 else 0); j += 1 }
      sb.append("0123456789abcdef".charAt(v))
      nib += 1
    }
    sb.toString
  }

  val simhashUdf: UserDefinedFunction = udf((tokens: Seq[String]) => simhashHex(tokens))

  /** Hamming distance between two equal-length hex digests. */
  def hammingHex(a: String, b: String): Int = {
    var i = 0; var d = 0
    while (i < a.length) {
      var x = Character.digit(a.charAt(i), 16) ^ Character.digit(b.charAt(i), 16)
      while (x != 0) { d += x & 1; x >>= 1 }
      i += 1
    }
    d
  }

  val hammingUdf: UserDefinedFunction = udf((a: String, b: String) => hammingHex(a, b))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Candidate
    * generation blocks on 16-bit quarters of the digest (pigeonhole: any
    * pair within distance 3 shares at least one of 4 quarters exactly),
    * so the join is an equi-join on (quarter index, quarter value).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame = {
    require(maxDist < 4, "quarter blocking is exact only for maxDist <= 3")
    val sigs = df.select(col(idCol).as("id"),
      graft.expressions.TextExprs.simhash(Text.tokens(col(textCol))).as("sig"))
    val blocked = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        q => col("sig").substr(q * 4 + 1, lit(4)))).as(Seq("q", "qv")))
    blocked.as("a").join(blocked.as("b"),
        col("a.q") === col("b.q") && col("a.qv") === col("b.qv") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("dist",
        graft.expressions.TextExprs.hamming(col("sa"), col("sb")))
      .filter(col("dist") <= maxDist)
      .select("a_id", "b_id", "dist")
  }

  /** Positions whose word n-gram is duplicated ACROSS documents (≥ 2
    * distinct doc ids share the n-gram) — the candidate set for
    * exact-substring dedup at n-gram granularity (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, which removes repeated ≥ 50-token spans
    * corpus-wide; the n-gram grid is the relational form of its
    * suffix-array scan).
    *
    * Columns: doc_id, n_tokens, p (1-based start of a duplicated
    * n-gram). Scale: one explode (×L positions), one map-combinable
    * distinct-doc count per n-gram, and one equi-join back on the
    * n-gram key — each position matches at most once, so no pair
    * explosion; heavy boilerplate n-grams cost their df in join rows,
    * never df².
    */
  def dupSpanPositions(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val pos = df.select(col(idCol).as("doc_id"),
        size(Text.tokens(col(textCol))).as("n_tokens"),
        posexplode(Text.shingles(Text.tokens(col(textCol)), n))
          .as(Seq("p0", "ng")))
      .select(col("doc_id"), col("n_tokens"), (col("p0") + 1).as("p"),
        col("ng"))
    val dup = pos.groupBy("ng")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2).select("ng")
    pos.join(dup, Seq("ng")).select("doc_id", "n_tokens", "p")
  }

  /** Per-document duplicated-span coverage: how many tokens sit inside
    * at least one cross-document duplicated n-gram. The union of the
    * fixed-length intervals [p, p+n-1] resolves with one keyed window
    * (lead): each interval contributes min(n, next_p - p) tokens —
    * exact integer arithmetic, no interval materialization. Every
    * input document appears (zero coverage included).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    val covered = dupSpanPositions(df, idCol, textCol, n)
      .withColumn("np", lead(col("p"), 1).over(w))
      .groupBy("doc_id")
      .agg(sum(when(col("np").isNull, lit(n.toLong))
        .otherwise(least(lit(n.toLong), col("np") - col("p"))))
        .as("n_dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        size(Text.tokens(col(textCol))).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** Exact-substring scrub: re-emit each document with every token that
    * any cross-document duplicated n-gram covers REMOVED (the C4 /
    * Lee-et-al. cleanup step, at n-gram granularity). The covered
    * index set materializes relationally — explode each duplicated
    * start into its n indices, distinct, anti-join the token grid —
    * so the whole scrub is equi-joins plus one per-doc ordered
    * reassembly; cost is linear in corpus size (the ×n index explode),
    * never quadratic in document frequency.
    */
  def dupSpanScrub(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val covered = dupSpanPositions(df, idCol, textCol, n)
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (n - 1))).as("idx"))
      .distinct()
    val tokGrid = df.select(col(idCol).as("doc_id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("idx"), col("tok"))
    val kept = tokGrid.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("tok")))),
        s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"),
        size(Text.tokens(col(textCol))).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): hash
    * every k-gram, slide a w-window over the hash sequence, keep each
    * window's MINIMUM — any shared substring of ≥ w+k−1 tokens is
    * guaranteed to contribute at least one common fingerprint, at
    * ~2/(w+1) the density of the full k-gram set.
    *
    * Tie-rule note: classic winnowing breaks min TIES by rightmost
    * position, but ties only decide which POSITION is recorded — the
    * selected hash VALUE is the window minimum either way. Since
    * cross-doc matching joins on values (positions are localization
    * metadata), the value set is `distinct(window-min)` and the tie
    * rule drops out of the algebra entirely — which is what makes this
    * exactly portable to an external SQL oracle.
    *
    * Pure map-side column algebra (no shuffle, no UDF): the 52-bit
    * k-gram hash keeps every comparison exact in any engine.
    */
  def winnowFingerprints(tokensCol: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be >= 1")
    val hs = transform(Text.shingles(tokensCol, k), g => Kmv.hash52(g))
    // LET-BIND the hashed shingle array before the sliding windows:
    // a single-element transform evaluates `hs` ONCE per row and the
    // lambda body references the bound variable. Inlining `hs` in
    // every slice would re-hash the whole shingle array per window —
    // O(n²) md5 calls per document (a 190-second query at sf0.1;
    // 1.3 s with the binding).
    element_at(transform(array(hs), a =>
      when(size(a) < w, array().cast("array<bigint>"))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(a) - w),
          i => array_min(slice(a, i + 1, lit(w))))))), 1)
  }

  /** Cross-doc winnowing pairs: explode fingerprints, cap document
    * frequency (df in [2, dfCap] — singletons can't pair, stop-
    * fingerprints from boilerplate would fan out k² candidates), then
    * equi-join on the fingerprint value. Same blocking-key shape as
    * [[jaccardPairs]]; the fingerprint set is ~2/(w+1) sparser than
    * the shingle set, which is the point at 100 TB.
    */
  def winnowPairs(df: DataFrame, idCol: String, tokensCol: Column,
                  k: Int, w: Int, dfCap: Int, minShared: Int): DataFrame = {
    // Par.spread: one md5 per k-gram position + the sliding min is a
    // CPU-dense map — don't serialize it onto an under-split scan's
    // single task (identity at real scan widths)
    val fps = Par.spread(df)
      .select(col(idCol).as("doc_id"),
        explode(winnowFingerprints(tokensCol, k, w)).as("fp"))
      .localCheckpoint(false) // feeds the df count AND the pair join —
                              // uncheckpointed, the per-doc md5+sliding-
                              // min fingerprinting runs twice
    val dfc = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
    val ee = fps.join(dfc, "fp").select("doc_id", "fp")
    ee.toDF("doc_a", "fp")
      .join(ee.toDF("doc_b", "fp2"),
        col("fp") === col("fp2") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Content-defined chunking (gear/Rabin-style): cut after token p
    * whenever the 52-bit hash of the k-gram ENDING at p is ≡ 0 mod
    * `divisor` (expected chunk length ≈ divisor tokens); the final
    * chunk always ends at the last token. Because boundaries depend
    * only on LOCAL content, an insertion early in a document shifts
    * every byte offset but re-synchronizes the chunk stream within one
    * chunk — the property that lets storage dedup survive edits, and
    * the reason CDC beats fixed-size blocks for near-identical crawl
    * snapshots. Returns one row per chunk: (doc_id, n_tokens,
    * chunk_idx, chunk_hash, chunk_len).
    *
    * Scale shape: boundary detection, span slicing, and chunk hashing
    * are pure map-side column algebra (one md5 per token position plus
    * one per chunk — linear, no UDF, no shuffle); downstream
    * frequency/dedup analyses are plain groupBys on chunk_hash.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                k: Int, divisor: Int): DataFrame = {
    require(k >= 1 && divisor >= 1, s"k=$k, divisor=$divisor must be >= 1")
    val tk = graft.functions.Text.tokens(col(textCol))
    // Par.spread: one 52-bit hash per token position is the heaviest
    // per-row map in the dedup family — don't serialize it onto an
    // under-split scan's single task (identity at real scan widths)
    val base = Par.spread(df).select(col(idCol).as("doc_id"), tk.as("tk"),
      size(tk).as("n"))
    val cuts = when(col("n") >= k,
      filter(sequence(lit(k), col("n")), p =>
        Kmv.hash52(concat_ws(" ", slice(col("tk"), p - k + 1, lit(k))))
          % divisor === 0))
      .otherwise(array().cast("array<int>"))
    val ends = base
      .withColumn("ends", array_distinct(concat(cuts, array(col("n")))))
      .select(col("doc_id"), col("tk"), col("n"), col("ends"),
        posexplode(col("ends")).as(Seq("j0", "e")))
    ends
      .withColumn("s", when(col("j0") === 0, lit(1))
        .otherwise(element_at(col("ends"), col("j0")) + 1))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("j0") + 1).as("chunk_idx"),
        Kmv.hash52(concat_ws(" ",
          slice(col("tk"), col("s"), col("e") - col("s") + 1)))
          .as("chunk_hash"),
        (col("e") - col("s") + 1).as("chunk_len"))
  }

  // ======================================================================
  // Persisted MinHash/LSH band index — the dedup index as a TABLE.
  //
  // At 100 TB the index IS the asset: a daily-ingestion job must not
  // re-shingle and re-MinHash the historical corpus to check one new
  // batch. Instead the corpus is indexed ONCE into three parquet tables,
  // new batches append their slice, and near-dup checks equi-join the
  // new batch's band keys against the TABLE — the historical text is
  // never touched again. All three tables are mergeable by construction:
  //   sets / bands : per-doc rows — merge = UNION (disjoint id spaces)
  //   dfs          : per-shingle counts — merge = UNION + groupBy-SUM
  // so index(A ∪ B) == merge(index(A), index(B)) row-for-row
  // (DedupIndexSpec proves it), which is what makes daily append +
  // periodic compaction sound without ever rebuilding.
  // ======================================================================

  /** A persisted (or in-memory) dedup index over a document corpus:
    *   - `sets`  (id, sh: array<string>, n_sh) — per-doc distinct
    *     shingle sets, the exact-verification side;
    *   - `bands` (id, band, bkey) — MinHash LSH band keys, the
    *     candidate-generation side (equi-join key);
    *   - `dfs`   (s, df) — shingle document frequencies, the
    *     stop-shingle / df-cap maintenance statistics.
    */
  final case class BandIndex(sets: DataFrame, bands: DataFrame,
                             dfs: DataFrame)

  /** Index a corpus: shingle sets, LSH band keys (k = bands ×
    * rowsPerBand salted-md5 MinHashes, identical math to
    * [[minhashLshPairs]]), and shingle document frequencies. Documents
    * with an EMPTY shingle set are kept in `sets` (they are part of
    * the corpus) but excluded from `bands`: their signature is all-
    * null, so every one of them would share the md5("") band bucket —
    * a quadratic-candidate skew key at scale — and exact verification
    * would reject every such pair anyway (jaccard over ∅ is null).
    */
  def buildBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, bands: Int, rowsPerBand: Int): BandIndex = {
    // checkpoint the shingled frame: bands and dfs both derive from
    // it, and writeBandIndex fires three actions — without this, the
    // tokenize+shingle pass (THE expensive pass at corpus scale) would
    // run once per consumer instead of once per build
    val sets = docs.select(col(idCol).as("id"),
        array_distinct(Text.shingles(Text.tokens(col(textCol)), n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .localCheckpoint(false)
    val banded = sets.filter(size(col("sh")) > 0)
      .select(col("id"),
        posexplode(lshBandKeys(minhashSignature(col("sh"), bands * rowsPerBand),
          bands, rowsPerBand)).as(Seq("band", "bkey")))
    val dfs = sets.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    BandIndex(sets, bands = banded, dfs = dfs)
  }

  /** Persist an index as three parquet tables under `path`, overwriting
    * what is there: parquet is immutable, so incremental maintenance
    * writes a NEW path and swaps.
    */
  def writeBandIndex(idx: BandIndex, path: String): Unit = {
    idx.sets.write.mode("overwrite").parquet(s"$path/sets")
    idx.bands.write.mode("overwrite").parquet(s"$path/bands")
    idx.dfs.write.mode("overwrite").parquet(s"$path/dfs")
  }

  /** Read a persisted index back. Downstream joins see plain parquet
    * scans — column pruning and predicate pushdown apply, so a check
    * against one band only reads (band, bkey, id).
    */
  def readBandIndex(spark: SparkSession, path: String): BandIndex =
    BandIndex(
      sets = spark.read.parquet(s"$path/sets"),
      bands = spark.read.parquet(s"$path/bands"),
      dfs = spark.read.parquet(s"$path/dfs"))

  /** Merge two indexes built over DISJOINT corpora (the daily-append
    * step): per-doc tables union; document frequencies re-aggregate.
    * index(A ∪ B) == merge(index(A), index(B)) — see DedupIndexSpec.
    */
  def mergeBandIndex(a: BandIndex, b: BandIndex): BandIndex =
    BandIndex(
      sets = a.sets.unionByName(b.sets),
      bands = a.bands.unionByName(b.bands),
      dfs = a.dfs.unionByName(b.dfs)
        .groupBy("s").agg(sum("df").as("df")))

  /** Compact a persisted index in place: after many daily appends the
    * artifact is thousands of small files; rewrite each table
    * CLUSTERED BY its join key (bands by bkey, dfs by s, sets by id)
    * into `partitions` files, so the daily band-key equi-join scans
    * co-located runs instead of the whole artifact. Writes to
    * `path.compact` then swaps directories (parquet is immutable).
    */
  def compactBandIndex(spark: SparkSession, path: String,
                       partitions: Int): Unit = {
    val idx = readBandIndex(spark, path)
    val tmp = s"$path.compact"
    writeBandIndex(BandIndex(
      sets = idx.sets.repartition(partitions, col("id")),
      bands = idx.bands.repartition(partitions, col("bkey")),
      dfs = idx.dfs.repartition(partitions, col("s"))), tmp)
    swapDirs(spark, path, tmp)
  }

  /** Promote a freshly-written artifact directory over the live one:
    * retire live → `path.old`, promote `tmp` → live, drop the retired
    * copy. REQUIRES exclusive access for the swap window — between the
    * two renames the live path briefly does not exist, so a concurrent
    * reader planning a scan right then fails (re-running it after the
    * swap succeeds). A crash mid-swap never deletes the asset: either
    * the live path still holds the old index, or the old index
    * survives at `path.old` and recovery is one manual rename back.
    * (A pointer/manifest file would close the reader window at the
    * cost of indirecting every read; the daily-job-owns-the-artifact
    * model this targets doesn't need it.)
    */
  private[graft] def swapDirs(spark: SparkSession, path: String,
                              tmp: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val fresh = new org.apache.hadoop.fs.Path(tmp)
    val retired = new org.apache.hadoop.fs.Path(s"$path.old")
    fs.delete(retired, true) // stale leftover from an earlier crash
    require(fs.rename(live, retired), s"swap retire failed: $path")
    if (!fs.rename(fresh, live)) {
      fs.rename(retired, live) // roll back to the old index
      throw new IllegalStateException(s"swap failed: $tmp -> $path")
    }
    fs.delete(retired, true)
    // the session's FileStatusCache still lists the RETIRED part
    // files under the live path — a same-session reader after the
    // swap would chase deleted files; drop the stale listings
    spark.catalog.refreshByPath(path)
  }

  /** Right-to-be-forgotten over the index: erasing documents from the
    * corpus must also erase them from every persisted DERIVED artifact,
    * or the index leaks shingles of deleted text forever. Removes the
    * ids from `sets` and `bands`, and DECREMENTS document frequencies
    * by the erased docs' own shingle counts (dropping rows that reach
    * zero) — so erase(index(A ∪ B), B) == index(A) row-for-row
    * (DedupIndexSpec proves it) and a compaction after erasure leaves
    * no trace. `ids` is one column named `id`; the anti-joins broadcast
    * it when small (the usual erasure-request shape).
    */
  def eraseFromBandIndex(idx: BandIndex, ids: DataFrame): BandIndex = {
    val gone = ids.select(col("id"))
    val removedDf = idx.sets.join(gone, Seq("id"), "left_semi")
      .select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("gone_df"))
    val dfs = idx.dfs.join(removedDf, Seq("s"), "left")
      .select(col("s"),
        (col("df") - coalesce(col("gone_df"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    BandIndex(
      sets = idx.sets.join(gone, Seq("id"), "left_anti"),
      bands = idx.bands.join(gone, Seq("id"), "left_anti"),
      dfs = dfs)
  }

  /** Near-dup pairs of a NEW batch against a PERSISTED index — the
    * daily-ingestion near-dup check that never re-reads historical
    * text. MinHash+LSH bands are computed for the new batch only
    * (same n/bands/rowsPerBand as the index — caller must match);
    * candidates come from the (band, bkey) equi-join against the
    * index's band TABLE; exact Jaccard verification joins the two
    * sets tables on candidate ids only. Emits (new_id, base_id,
    * jaccard) — identical to what [[minhashLshPairs]] over the union
    * corpus would emit restricted to new×old (DedupIndexSpec proves
    * the equality). A new-batch id that ALREADY EXISTS in the index
    * (a re-ingested document, a replayed partition) would band-collide
    * with itself and verify at jaccard 1.0 — such self-pairs are
    * excluded, matching the `a_id < b_id` discipline of the direct
    * recompute.
    */
  def pairsAgainstIndex(newDocs: DataFrame, idx: BandIndex,
                        idCol: String, textCol: String,
                        n: Int, bands: Int, rowsPerBand: Int,
                        threshold: Double): DataFrame = {
    val fresh = buildBandIndex(newDocs, idCol, textCol, n, bands, rowsPerBand)
    val cands = fresh.bands.as("a")
      .join(idx.bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("new_id"), col("b.id").as("base_id"))
      .dropDuplicates("new_id", "base_id")
    cands
      .join(fresh.sets.select(col("id").as("new_id"), col("sh").as("sha")),
        "new_id")
      .join(idx.sets.select(col("id").as("base_id"), col("sh").as("shb")),
        "base_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "base_id", "jaccard")
  }
}
