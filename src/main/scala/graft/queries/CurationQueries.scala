package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.Text

/** Relevance-scoring curation queries over `documents`: per-document
  * TF-IDF keyword extraction — the labeling half of a retrieval-based
  * data-curation loop (tag every document with its most
  * distinguishing terms; `t_bm25` covers query-side retrieval
  * scoring).
  *
  * Scale: two map-combinable aggregations (term frequencies, document
  * frequencies) joined on the term key plus one broadcast of a
  * single-row corpus-stats frame — no self-join, no cross join, and
  * the per-term df frame is vocabulary-sized (tiny next to the
  * corpus).
  *
  * Oracle discipline: the ranking uses the *raw* idf ratio
  * `tf · (N+1)/(df+1)` computed in IEEE double (exact integer casts,
  * one multiply, one divide — each correctly rounded, so bit-identical
  * between Spark and any DuckDB build), with a full integer tie-break.
  * No transcendental (`ln`) appears anywhere in the ranking or the
  * hashed output: round-4 showed that even a 6-dp rounding of
  * `tf·ln((N+1)/(df+1))` can straddle a rounding boundary on a
  * different libm and flip a hash. The hashed output is pure integers
  * (doc_id, tok, rn, tf, df, n_docs); a consumer who wants the
  * log-scaled score can compute it from the exact counts emitted.
  */
object CurationQueries {

  /** (doc_id, tok, tf) term frequencies. */
  private def termFreqs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** The bad-decode suffix, built by RUNNING the bad decode. */
  private val Moji = new String("café naïve résumé"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.StandardCharsets.ISO_8859_1)

  /** The raw-crawl payload each doc carries: markup with
    * comment/script decoys wrapping the text, PII injected at
    * doc_id%5, mojibake at doc_id%7, quality-failing stubs at
    * doc_id%11.
    */
  private def rawPayload(idc: org.apache.spark.sql.Column,
                         textc: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = concat(
    lit("<html><body><!-- audit <b>x</b> --><p>"),
    when(idc % 11 === 0, lit("tiny")).otherwise(textc),
    when(idc % 5 === 0, concat(lit(" reach u"),
      idc, lit("@mail.example.org"))).otherwise(lit("")),
    when(idc % 7 === 0, lit(" " + Moji)).otherwise(lit("")),
    lit("</p><script>if (1<2) { d = '<p>no</p>'; }</script>" +
      "</body></html>"))

  /** Temp path of the generated raw-crawl corpus for
    * a_pipeline_curate, written once per data directory (the fixture
    * is the WRITE; the query under test is the library pipeline over
    * the parquet input — the a_pipeline_move shape).
    */
  private def curatedInput(s: SparkSession, dir: String): String =
    graft.TempDirs.once("curate", dir) {
      val p = graft.TempDirs.dir("graft_curate").toString + "/raw.parquet"
      t(s, dir, "documents").select(col("doc_id"),
          rawPayload(col("doc_id"), col("text")).as("text"))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Temp path of the dedup-variant raw corpus: the same payloads plus
    * SOURCE carried through (the quota group) and planted WITHIN-BATCH
    * exact duplicates — every doc_id%13==0 payload re-ingested under
    * doc_id+1000000 (a replayed crawl partition).
    */
  private def curateDedupInput(s: SparkSession, dir: String): String =
    graft.TempDirs.once("curate_dd", dir) {
      val p = graft.TempDirs.dir("graft_curate_dd").toString + "/raw.parquet"
      val base = t(s, dir, "documents").select(col("doc_id"),
        col("source"), rawPayload(col("doc_id"), col("text")).as("text"))
      base.union(base.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            col("source"), col("text")))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Temp path of the SHARED DECISION BASE: the screens + dedup pass
    * (markup → mojibake → PII → quality → exact dup → near-dup vs the
    * persisted band index, source carried through) over the dedup
    * corpus, persisted ONCE per data directory. The five policy
    * variants (`a_pipeline_curate_{policy,tokens,mix,clf,thr}`)
    * diverge only at their policy stage, so re-running the identical
    * decision pass per variant bought bench time, not coverage — they
    * read this frame and apply just their own stage, exactly the
    * production shape (a persisted decisions table feeding several
    * policy evaluations). `a_pipeline_curate_dedup` still runs the
    * full chain itself — it is the gate on the chain.
    */
  private def curateDecisionBase(s: SparkSession, dir: String): String =
    graft.TempDirs.once("curate_base", dir) {
      val p = graft.TempDirs.dir("graft_curate_base").toString +
        "/decisions.parquet"
      val screened = graft.Pipelines.curateDecisions(
        s.read.parquet(curateDedupInput(s, dir)),
        carry = Seq("source"))
      graft.Pipelines
        .curateDedupDecisions(screened, Some(curateIndex(s, dir)))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Persisted band index over the HISTORICAL corpus (documents with
    * doc_id < 300, under their own 5000000+ id space — history has its
    * own ids): the cross-batch dedup memory the curate pipeline's
    * near-dup stage probes. Built once per data directory.
    */
  private def curateIndex(s: SparkSession, dir: String)
      : graft.operators.Dedup.BandIndex = {
    val p = graft.TempDirs.once("curate_idx", dir) {
      val path = graft.TempDirs.dir("graft_curate_idx").toString + "/band"
      val hist = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      graft.operators.Dedup.writeBandIndex(
        graft.operators.Dedup.buildBandIndex(hist, "doc_id", "text",
          n = 5, bands = 3, rowsPerBand = 2), path)
      path
    }
    graft.operators.Dedup.readBandIndex(s, p)
  }

  /** Temp path of the persisted trained-classifier artifact, trained
    * and written once per data directory (the fixture is the WRITE;
    * the gated query is the artifact READ + inline-deploy path).
    */
  private def qualityModel(s: SparkSession,
                           dir: String): Map[String, BigDecimal] = {
    val p = graft.TempDirs.once("qmodel", dir) {
      val path = graft.TempDirs.dir("graft_qmodel").toString + "/clf"
      val d = t(s, dir, "documents")
      val feats = graft.operators.Logistic
        .hashedFeatures(d, col("source") === lit(DsirTarget))
        .localCheckpoint(false)
      val w3 = graft.operators.Logistic.train(s, feats, d.count(),
        epochs = 3, lr = 0.5).last
      graft.operators.Logistic.writeModel(s, path, w3)
      path
    }
    graft.operators.Logistic.readModel(s, p)
  }

  /** The hash-stable 25% held-out slice every monitoring query of the
    * trained model evaluates on (the t_split_counts bucket discipline).
    */
  private def evalSplit(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.operators.Sampling.hashSplit(d, "doc_id",
        Seq("train" -> 0.75, "eval" -> 0.25))
      .filter(col("split") === "eval")

  /** BIGRAM-space sibling of [[qualityModel]] (same 3-epoch schedule,
    * same label, hashed word-2-shingle features) — trained once per
    * data directory for the feature-space comparison query.
    */
  private def qualityModelBigram(s: SparkSession,
                                 dir: String): Map[String, BigDecimal] =
    graft.TempDirs.once("qmodel_bigram", dir) {
      val d = t(s, dir, "documents")
      val feats = graft.operators.Logistic
        .hashedFeatures(d, col("source") === lit(DsirTarget), gram = 2)
        .localCheckpoint(false)
      graft.operators.Logistic.train(s, feats, d.count(),
        epochs = 3, lr = 0.5).last
    }

  /** The FULLY-deployed artifact: [[qualityModel]]'s weights plus the
    * max-F1 operating point selected from the PR curve over the
    * held-out split, persisted (weights + meta) once per data
    * directory — the fixture is the WRITE + SELECT;
    * `a_pipeline_curate_thr` gates the artifact READ + the
    * threshold-gated deploy path.
    */
  private def qualityTrainedThr(s: SparkSession, dir: String)
      : graft.operators.Logistic.Trained = {
    val p = graft.TempDirs.once("qthr", dir) {
      val path = graft.TempDirs.dir("graft_qthr").toString + "/clf"
      val m0 = graft.operators.Logistic.Trained(qualityModel(s, dir))
      val hold = evalSplit(t(s, dir, "documents"))
      val thr = graft.operators.Logistic.chooseThreshold(hold, m0,
        col("source") === lit(DsirTarget))
      graft.operators.Logistic.writeTrained(s, path,
        m0.copy(threshold = Some(thr)))
      path
    }
    graft.operators.Logistic.readTrained(s, p)
  }

  /** Temp path of the persisted funnel LEDGER, built once per data
    * directory: three "daily" waves of the raw-crawl corpus
    * (doc_id % 3) each run through the curation screens, their funnel
    * reports appended under day-0/1/2 — the fixture is the WRITE;
    * `a_funnel_ledger` gates the ledger READ + trend path.
    */
  private def funnelLedger(s: SparkSession, dir: String): String =
    graft.TempDirs.once("ledger", dir) {
      val path = graft.TempDirs.dir("graft_ledger").toString + "/funnel"
      val raw = s.read.parquet(curatedInput(s, dir))
      (0 to 2).foreach { w =>
        val decisions = graft.Pipelines.curateChain(
          raw.filter(pmod(col("doc_id"), lit(3)) === w))
        graft.operators.CurationLedger.append(s, path, s"day-$w",
          graft.Pipelines.curationReport(decisions))
      }
      path
    }

  /** Shared DuckDB CTE prefix replaying MixPlan.allocate (cap =
    * 3·available, budget = the full supply) + materializeEpochs —
    * ends in `docs(source, doc_id, nt)` and
    * `sched(source, doc_id, epoch, ord)`; `t_mix_epochs` and
    * `t_mix_pack` build on it.
    */
  private val MixEpochCtes: String =
    """ma AS (SELECT source,
      |    SUM(len(string_split(text, ' '))) AS available
      |  FROM documents GROUP BY source),
      |mc AS (SELECT source, available, available * 3 AS cap FROM ma),
      |mt AS (SELECT SUM(available) AS sa, SUM(cap) AS sc,
      |    CAST(COUNT(*) AS BIGINT) AS n FROM mc),
      |mb AS (SELECT sa AS budget, n FROM mt),
      |mo AS (SELECT source, available, cap,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT)
      |      AS k,
      |    SUM(cap) OVER (ORDER BY cap, source
      |      ROWS UNBOUNDED PRECEDING) AS prefix
      |  FROM mc),
      |msat AS (SELECT COALESCE(MAX(CASE WHEN prefix - cap
      |      + cap * (n - k + 1) <= budget THEN k END), 0) AS kstar
      |  FROM mo CROSS JOIN mb),
      |mpk AS (SELECT COALESCE((SELECT prefix FROM mo, msat
      |    WHERE mo.k = msat.kstar), 0) AS pks),
      |mf AS (SELECT mo.source, mo.available,
      |    CASE WHEN mo.k <= kstar THEN mo.cap
      |      ELSE (budget - pks) // (n - kstar)
      |        + (CASE WHEN mo.k - kstar <= (budget - pks)
      |             % (n - kstar) THEN 1 ELSE 0 END) END AS alloc
      |  FROM mo CROSS JOIN mb CROSS JOIN msat CROSS JOIN mpk),
      |docs AS (SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |r AS (SELECT d.source, d.doc_id,
      |    mf.alloc // mf.available AS fl,
      |    mf.alloc % mf.available AS rem,
      |    SUM(d.nt) OVER (PARTITION BY d.source
      |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM docs d JOIN mf USING (source)),
      |ne AS (SELECT source, doc_id,
      |    fl + CASE WHEN cum <= rem THEN 1 ELSE 0 END AS n_ep
      |  FROM r),
      |e AS (SELECT source, doc_id,
      |    unnest(range(0, CAST(n_ep AS BIGINT))) AS epoch
      |  FROM ne WHERE n_ep > 0),
      |sched AS (SELECT source, doc_id,
      |    CAST(epoch AS BIGINT) AS epoch,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source, epoch
      |      ORDER BY md5(CAST(epoch AS VARCHAR) || ':'
      |        || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT)
      |      AS ord
      |  FROM e)""".stripMargin

  /** The shared mix-epoch schedule behind `t_mix_epochs` /
    * `t_mix_pack`: water-fill the corpus's full token supply under
    * maxRep 3, then materialize the Muennighoff epoch schedule with
    * the token counts CARRIED THROUGH (so packing never joins the
    * schedule back to the corpus-sized docs frame).
    */
  private def mixEpochSchedule(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint(false) // feeds the supply agg + the schedule
    val a = docs.groupBy("source")
      .agg(sum(col("n_tokens")).as("available"))
      .localCheckpoint(false) // total agg + the allocation
    val total = a.agg(sum("available")).collect()(0).getLong(0)
    val plan = graft.operators.MixPlan
      .allocate(a, budget = total, maxRep = 3)
    graft.operators.MixPlan.materializeEpochs(docs, plan,
      carry = Seq("n_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- the funnel LEDGER read + trend path: every pipeline-C run
    //      appends its per-stage counts under a run key (the fixture
    //      replays three daily waves of the raw-crawl corpus), and
    //      the trend view lags each stage across runs — the daily-ops
    //      number a real ingest pipeline pages on ("kept dropped 40%
    //      vs yesterday"). The ledger is runs × stages sized; the
    //      trend is one window over it ----
    "a_funnel_ledger" -> ((s, dir) =>
      graft.operators.CurationLedger.trend(
        graft.operators.CurationLedger.read(s, funnelLedger(s, dir)))),

    // ---- the curation pipeline end-to-end (training-data sibling of
    //      a_pipeline_move): a generated raw-crawl corpus — markup
    //      with comment/script decoys, injected PII (doc_id%5),
    //      injected mojibake (doc_id%7), quality-failing stubs
    //      (doc_id%11) — runs through Pipelines.pipelineC's decision
    //      pass (markup strip → mojibake repair → PII census → Gopher
    //      quality → keep), and the funnel report is the gated
    //      output. Every stage is a map-side native expression or
    //      regex projection; the oracle recomputes each flag from the
    //      closed-form clean text ----
    "a_pipeline_curate" -> ((s, dir) => {
      val (decisions, _) = graft.Pipelines.pipelineC(
        s, curatedInput(s, dir), output = "", dryRun = true)
      graft.Pipelines.curationReport(decisions)
    }),

    // ---- pipeline C with the DEDUP stage — the highest-leverage
    //      curation clause: the same generated raw-crawl corpus plus
    //      planted within-batch exact duplicates (doc_id%13 payloads
    //      re-ingested under +1000000 ids) runs through the full
    //      chain, with near-dups screened against a PERSISTED band
    //      index over the historical corpus (documents < 300 in their
    //      own id space) — batch docs < 300 re-crawl history and must
    //      flag dup_near; the funnel gains dup_exact / dup_near rows
    //      and keep = quality ∧ ¬PII ∧ ¬dup. Exact dedup is one
    //      window over the content hash; near-dup is the band
    //      equi-join + exact Jaccard verify (history never re-read) ----
    "a_pipeline_curate_dedup" -> ((s, dir) => {
      val decisions = graft.Pipelines.curateChain(
        s.read.parquet(curateDedupInput(s, dir)),
        dedup = true, dedupIndex = Some(curateIndex(s, dir)))
      graft.Pipelines.curationReport(decisions)
    }),

    // ---- pipeline C as a FULL ingest policy: screens + dedup + the
    //      configurable policy stages — language allow-list (marker
    //      language ID of the clean text must be 'en') and a
    //      deterministic per-source keep quota (5 per source, md5(id)
    //      rank among the docs that survived every earlier stage).
    //      Ten funnel rows, one per stage — the daily report a
    //      training-data ingest job alerts on ----
    //      (reads the persisted decision base — the screens + dedup
    //      pass is shared across the five policy variants; only the
    //      policy stage runs here)
    "a_pipeline_curate_policy" -> ((s, dir) =>
      graft.Pipelines.curationReport(
        graft.Pipelines.curatePolicyDecisions(
          s.read.parquet(curateDecisionBase(s, dir)),
          allowedLangs = Some(Seq("en")), quota = Some(("source", 5))))),

    // ---- pipeline C with the TRAINING-MIX token budget: the same
    //      dedup + language chain, but the final cap is TOKENS per
    //      source (500), the unit data mixes actually budget — kept
    //      docs accumulate clean-text token counts in deterministic
    //      md5(id) order and survive while the running total
    //      (including themselves) fits; the funnel gains
    //      token_quota_failed. One keyed window, same shuffle as the
    //      doc quota ----
    "a_pipeline_curate_tokens" -> ((s, dir) =>
      graft.Pipelines.curationReport(
        graft.Pipelines.curatePolicyDecisions(
          s.read.parquet(curateDecisionBase(s, dir)),
          allowedLangs = Some(Seq("en")),
          tokenQuota = Some(("source", 500L))))),

    // ---- the PLAN → ENFORCE loop closed: MixPlan.allocate
    //      water-fills a third of the corpus's token supply across
    //      sources (maxRep 1 — cap at unique supply), and the
    //      resulting PER-SOURCE budgets are handed to the curation
    //      chain's tokenBudgets stage, which enforces each source's
    //      own allocation with the deterministic inclusive prefix
    //      rule — the planner's numbers are literally what the
    //      pipeline executes. Budgets frame is #sources-sized →
    //      broadcast join onto the funnel ----
    "a_pipeline_curate_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.groupBy("source")
        .agg(sum(size(Text.tokens(col("text"))).cast("long"))
          .as("available"))
        .localCheckpoint(false) // total agg + the allocation
      val total = a.agg(sum("available")).collect()(0).getLong(0)
      val alloc = graft.operators.MixPlan
        .allocate(a, budget = total / 3, maxRep = 1)
        .select(col("source"), col("alloc").as("budget"))
      graft.Pipelines.curationReport(
        graft.Pipelines.curatePolicyDecisions(
          s.read.parquet(curateDecisionBase(s, dir)),
          allowedLangs = Some(Seq("en")),
          tokenBudgets = Some(("source", alloc))))
    }),

    // ---- the mix plan MATERIALIZED into its epoch schedule — the
    //      Muennighoff step after allocation: budget = the corpus's
    //      full token supply under maxRep 3, so small sources
    //      saturate (alloc = 3·available → 3 full epochs) while
    //      large ones repeat partially; every doc appears in
    //      alloc div available full epochs plus the md5(id)-ordered
    //      inclusive-prefix partial epoch spending alloc mod
    //      available, and each (source, epoch) gets a fresh
    //      deterministic md5(epoch:id) training order — the plan
    //      drives actual sequence order, not just budgets. Plan
    //      broadcasts; two keyed windows + a ≤maxRep-bounded explode;
    //      the oracle replays allocation and schedule in closed
    //      form ----
    "t_mix_epochs" -> ((s, dir) => mixEpochSchedule(s, dir)
      .select("source", "doc_id", "epoch", "ord")),

    // ---- the schedule PACKED: t_mix_epochs composed with the
    //      t_seq_pack rule — each (source, epoch)'s documents, in
    //      their deterministic training order, pack greedily into
    //      512-token sequences (pack_id = the pack the doc STARTS
    //      in: (cum − n_tokens) div 512) — so the mix plan drives
    //      budgets, epoch repetition, order AND the physical
    //      sequence layout a trainer consumes. Token counts ride the
    //      schedule (materializeEpochs carry), so this is one more
    //      keyed window — NO join back to the corpus; the oracle
    //      replays allocation, schedule and packing in one statement ----
    "t_mix_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source", "epoch").orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      mixEpochSchedule(s, dir)
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("source"), col("doc_id"), col("epoch"), col("ord"),
          expr("(cum - n_tokens) div 512").as("pack_id"))
    }),

    // ---- pipeline C with the TRAINED classifier deployed as a
    //      quality stage — the train → persist → deploy → curate loop
    //      closed: the persisted logistic artifact (3-epoch GD over
    //      the corpus, the t_quality_score_artifact fixture) gates
    //      keep on the DECIMAL sign of the clean text's logit
    //      (zInline > 0 — one map-side fold per doc, no shuffle,
    //      streaming-legal), ANDed in after language, before the
    //      quota rank (rejected docs consume no group budget). Eleven
    //      funnel rows; the oracle replays the three training epochs
    //      in unrolled SQL and re-scores every clean text under w3 ----
    "a_pipeline_curate_clf" -> ((s, dir) =>
      graft.Pipelines.curationReport(
        graft.Pipelines.curatePolicyDecisions(
          s.read.parquet(curateDecisionBase(s, dir)),
          allowedLangs = Some(Seq("en")),
          classifier =
            Some(graft.operators.Logistic.Trained(qualityModel(s, dir))),
          quota = Some(("source", 5))))),

    // ---- the operating-point loop CLOSED: the same funnel, but the
    //      classifier stage gates at the threshold STORED IN THE
    //      ARTIFACT (the max-F1 point the monitoring battery selected
    //      over the held-out split — t_quality_threshold's number,
    //      persisted by the fixture into the meta table and READ BACK
    //      here), keep = z >= threshold in exact decimal instead of
    //      the hard-coded sign. The oracle replays training, the
    //      PR-curve selection, and the re-scoring in one statement ----
    "a_pipeline_curate_thr" -> ((s, dir) =>
      graft.Pipelines.curationReport(
        graft.Pipelines.curatePolicyDecisions(
          s.read.parquet(curateDecisionBase(s, dir)),
          allowedLangs = Some(Seq("en")),
          classifier = Some(qualityTrainedThr(s, dir)),
          quota = Some(("source", 5))))),

    // ---- the corpus DATASHEET — the one-row report a dataset owner
    //      publishes (Gebru et al.'s "datasheets for datasets" as a
    //      query): volume (docs, tokens, mean length), exact-dup mass
    //      (distinct content hashes vs rows), PII incidence, Gopher
    //      quality pass rate, and English share — every number an
    //      exact integer or ppm, every signal the same fragment its
    //      dedicated query gates. One scan + one agg (the exact
    //      distinct is the only shuffle) ----
    "q_corpus_datasheet" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tok = Text.tokens(col("text"))
      val pii = {
        val c = Text.piiCounts(col("text"))
        c.getField("n_emails") + c.getField("n_phones") +
          c.getField("n_ipv4") + c.getField("n_cards") > 0
      }
      d.select(col("doc_id"), md5(col("text")).as("h"),
          size(tok).cast("long").as("nt"), pii.as("has_pii"),
          Text.gopherKeep(col("text"), tok).as("quality_ok"),
          (Text.langId(tok) === "en").as("is_en"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          countDistinct(col("h")).as("n_distinct_texts"),
          sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"),
          sum(when(col("quality_ok"), 1L).otherwise(0L))
            .as("n_quality_pass"),
          sum(when(col("is_en"), 1L).otherwise(0L)).as("n_english"))
        .select(col("n_docs"), col("n_tokens"),
          expr("n_tokens div n_docs").as("mean_tokens"),
          col("n_distinct_texts"),
          expr("(n_docs - n_distinct_texts) * 1000000 div n_docs")
            .as("dup_ppm"),
          expr("n_pii_docs * 1000000 div n_docs").as("pii_ppm"),
          expr("n_quality_pass * 1000000 div n_docs").as("quality_ppm"),
          expr("n_english * 1000000 div n_docs").as("english_ppm"))
    }),

    // ---- curriculum ordering — the easy-first training schedule:
    //      each document's difficulty is (rare-vocab share, length) —
    //      rare_ppm = tokens whose corpus document frequency <= 2,
    //      exact integer ppm from the vocabulary-sized df table —
    //      and the global curriculum position comes from
    //      Ranks.rowNumbers (range-partition + per-partition numbering
    //      + tiny offsets — never a single-task sort of the corpus).
    //      Deterministic under any partitioning; top-100 head emitted
    //      (the full order is corpus-sized) ----
    "t_curriculum_order" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tf = termFreqs(d).localCheckpoint(false) // df agg + doc agg
      val dfreq = tf.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df"))
      val perDoc = tf.join(dfreq, "tok")
        .groupBy("doc_id").agg(
          sum(col("tf")).as("n_tokens"),
          sum(when(col("df") <= 2, col("tf")).otherwise(0L)).as("rare"))
        .select(col("doc_id"), col("n_tokens"),
          expr("rare * 1000000 div n_tokens").as("rare_ppm"))
      graft.operators.Ranks
        .rowNumbers(perDoc, Seq("rare_ppm", "n_tokens", "doc_id"))
        .filter(col("rn") <= 100)
        .select(col("rn").as("position"), col("doc_id"),
          col("n_tokens"), col("rare_ppm"))
    }),

    // ---- top-3 TF-IDF keywords per document: raw-idf variant
    //      tf · (N+1)/(df+1) ranked with a full deterministic
    //      tie-break (tf desc, df asc, tok asc); output is exact
    //      integers only (see object Scaladoc for why) ----
    "t_tfidf_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tf = termFreqs(d)
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val ndocs = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "tok").crossJoin(broadcast(ndocs))
        .withColumn("qscore",
          col("tf").cast("double") * (col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double"))
      scored
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("qscore").desc, col("tf").desc, col("df").asc,
            col("tok").asc)))
        .filter(col("rn") <= 3)
        .select("doc_id", "tok", "rn", "tf", "df", "n_docs")
    }),

    // ---- overlapping chunking: fixed-size token windows (size 32,
    //      stride 24 → 8-token overlap), the context-window
    //      preprocessing step before embedding or pretraining. Pure
    //      per-row HOF expressions (sequence → slice → posexplode) —
    //      map-side only, no shuffle, output rows ≈ input tokens /
    //      stride at any corpus size ----
    "t_chunk_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), size(col("toks")) - 1, lit(24)),
            st => slice(col("toks"), st + 1, lit(32)))))
        .select(col("doc_id"), col("pos").as("chunk_idx"),
          array_join(col("col"), " ").as("chunk_text"),
          size(col("col")).as("n_chunk_tokens"))
    }),

    // ---- corpus novelty curve: per ingest batch (50 docs by id),
    //      how many distinct 3-grams appear for the FIRST time, what
    //      share of the batch's gram vocabulary that is (exact e6
    //      ppm), and the cumulative vocabulary — the
    //      diminishing-returns measurement that decides when a crawl
    //      source stops paying for itself. Shapes: explode →
    //      per-(batch, gram) distinct, a vocabulary-sized min-agg for
    //      first-appearance, one equi-join, then a window over the
    //      BATCH-count-bounded series. First-occurrence attribution
    //      is by batch id, deterministic under any partitioning ----
    "t_novelty_curve" -> ((s, dir) => {
      val g = graft.operators.Par.spread(t(s, dir, "documents"))
        .select(expr("doc_id div 50").as("batch"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("g"))
        .distinct()
        .localCheckpoint(false) // feeds first-batch agg AND batch totals
      val first = g.groupBy("g").agg(min(col("batch")).as("fb"))
      val perBatch = g.groupBy("batch").agg(count(lit(1)).as("batch_vocab"))
      val news = first.groupBy(col("fb").as("batch"))
        .agg(count(lit(1)).as("new_grams"))
      // unpartitioned window: BOUNDED — one row per ingest batch
      // (doc_id div 50), a batch-count bound, never corpus rows
      val wCum = Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBatch.join(news, Seq("batch"), "left")
        .select(col("batch"), col("batch_vocab"),
          coalesce(col("new_grams"), lit(0L)).as("new_grams"))
        .withColumn("novelty_ppm",
          expr("(new_grams * 1000000) div batch_vocab"))
        .withColumn("cum_vocab", sum(col("new_grams")).over(wCum))
    }),

    // ---- DSIR-style importance weights (hashed n-gram importance
    //      resampling, after Xie et al. 2023): bag of hashed bigram
    //      features (256 md5-prefix buckets), bucket-level unigram LMs
    //      for the target domain (source = src18, the "wiki-like"
    //      slice) and the raw corpus with add-1 smoothing, per-doc log
    //      importance weight Σ_b k_b·ln(p_tgt(b)/p_raw(b)), top-100
    //      selection. Shapes: the corpus explode pre-aggregates to
    //      (doc, bucket, multiplicity) and runs once (localCheckpoint
    //      feeds the raw LM, the target LM, and scoring); both LM
    //      tables are ≤256 rows → broadcast; scoring is an equi-join
    //      on the bucket key. Oracle discipline: the ln argument is
    //      one IEEE division of two exact ≤2^53 integer products,
    //      per-bucket ln rounds to 4 dp into DECIMAL, the per-doc sum
    //      is exact DECIMAL (partition-order independent) ----
    "t_dsir_weights" -> ((s, dir) => {
      // spread BEFORE the checkpoint: a checkpoint of a one-task scan
      // pins ONE partition, serializing both LM passes downstream
      val d = graft.operators.Par.spread(t(s, dir, "documents"))
        .localCheckpoint(false)
      val lam = graft.operators.Dsir.lamTable(
        d, "text", col("source") === lit(DsirTarget))
      graft.operators.Dsir.scoreRelational(d, lam, "doc_id", "text")
        .orderBy(col("logw").desc, col("doc_id").asc).limit(100)
    }),

    // ---- TRAIN the hashed quality classifier in-engine: batch
    //      logistic GD over 256-bucket hashed bag-of-words features
    //      (label: the DSIR target domain vs the rest), three epochs
    //      from zero weights. Each epoch is two map-combinable
    //      aggregations over the checkpointed feature table (per-doc
    //      logit, per-bucket gradient) + a bucket-sized update — the
    //      driver loops over EPOCHS, never rows; at 100 TB an epoch is
    //      exactly two shuffles. Arithmetic is the house discipline
    //      end-to-end: exact-decimal logits/gradients, the sigmoid
    //      libm call rounded to 9 dp before use, the update in one
    //      identical IEEE tree rounded back to 6 dp — so training is
    //      bit-reproducible under any partitioning, and the oracle
    //      replays all three epochs in unrolled SQL ----
    "t_quality_train" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val feats = graft.operators.Logistic
        .hashedFeatures(d, col("source") === lit(DsirTarget))
        .localCheckpoint(false) // one corpus-scale job; epochs reuse it
      val nd = d.count()
      val ws = graft.operators.Logistic.train(s, feats, nd,
        epochs = 3, lr = 0.5)
      import s.implicits._
      ws.zipWithIndex.flatMap { case (w, i) =>
        w.toSeq.map { case (b, v) => (i + 1, b, v.toDouble) }
      }.toDF("epoch", "bucket", "w")
    }),

    // ---- deploy the trained model back over the corpus: epoch-3
    //      weights score every document (exact-decimal logit, keep
    //      decided on the decimal sign) and the per-source keep rates
    //      are the eval report — does the trained screen actually
    //      prefer the target domain? One more (doc) aggregation + one
    //      join back for the source key; the model stays bucket-sized ----
    "t_quality_train_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val feats = graft.operators.Logistic
        .hashedFeatures(d, col("source") === lit(DsirTarget))
        .localCheckpoint(false)
      val nd = d.count()
      val w3 = graft.operators.Logistic.train(s, feats, nd,
        epochs = 3, lr = 0.5).last
      graft.operators.Logistic.score(feats, w3)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"),
          round(col("z").cast("double") / col("nt").cast("double"), 9)
            .cast("decimal(12,9)").as("zn"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("zn")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_logit"))
    }),

    // ---- the trained model as a PERSISTED ARTIFACT, deployed at
    //      scan speed: train-once (memoized fixture is the WRITE),
    //      read the bucket-sized weights table back, and score every
    //      document with the per-ROW exact-decimal fold over its own
    //      tokens (scoreInline — Σ_tok w[bucket] equals the feature
    //      aggregation's Σ k·w exactly, so this query is DEFINED to
    //      equal t_quality_train_eval and shares its oracle; the
    //      LogisticSpec law proves the per-doc equality). This is the
    //      deployment path: no shuffle, streaming-legal ----
    "t_quality_score_artifact" -> ((s, dir) => {
      val w = qualityModel(s, dir)
      val d = t(s, dir, "documents")
      graft.operators.Logistic.scoreInline(d, w)
        .filter(col("n_tokens") > 0)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"),
          round(col("z").cast("double") / col("n_tokens").cast("double"),
            9).cast("decimal(12,9)").as("zn"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("zn")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_logit"))
    }),

    // ---- INCREMENTAL training — the daily-loop treatment for the
    //      model: resume gradient descent from the PERSISTED 3-epoch
    //      artifact (warm start, Logistic.trainFrom) for two more
    //      epochs, and emit the drift report against the starting
    //      weights (the tokenizer uses-drift pattern: bucket,
    //      w_start, w_now, exact-decimal delta). Because an epoch is
    //      a pure function of (weights, features), warm-start on the
    //      same corpus IS epochs 4-5 of one longer schedule — the
    //      oracle replays all five epochs unrolled and diffs w5
    //      against w3 ----
    "t_quality_warm_start" -> ((s, dir) => {
      val w3 = qualityModel(s, dir)
      val d = t(s, dir, "documents")
      val feats = graft.operators.Logistic
        .hashedFeatures(d, col("source") === lit(DsirTarget))
        .localCheckpoint(false)
      val w5 = graft.operators.Logistic
        .trainFrom(s, feats, d.count(), epochs = 2, lr = 0.5, init = w3)
        .last
      graft.operators.Logistic.weightDrift(s, w3, w5)
        .select(col("b").as("bucket"),
          col("w_start").cast("double").as("w_start"),
          col("w_now").cast("double").as("w_now"),
          col("delta").cast("double").as("delta"))
    }),

    // ---- exact rank-based EVALUATION of the trained classifier — the
    //      monitoring half of training: over a hash-stable 25%
    //      held-out split (the t_split_counts bucket discipline, so
    //      membership never shifts as the corpus grows), the persisted
    //      model scores every doc (scoreInline), and the report is
    //      AUC via the Mann-Whitney rank-sum closed form (doubled
    //      midranks from Ranks.prefixSums — u_x2 = 2U is an EXACT
    //      integer, auc_ppm an exact floor division), plus
    //      precision/recall/confusion at the deployment threshold
    //      z > 0. Shapes: one scoring scan, a distinct-z histogram
    //      (value grid), the distributed prefix-sum, two closing
    //      single-row aggs — no corpus-sized global sort ----
    "t_quality_auc" -> ((s, dir) => {
      val w = qualityModel(s, dir)
      val hold = graft.operators.Sampling.hashSplit(
          t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.75, "eval" -> 0.25))
        .filter(col("split") === "eval")
      graft.operators.Logistic.evalReport(hold, w,
        col("source") === lit(DsirTarget))
    }),

    // ---- the DEPLOYMENT THRESHOLD chosen from the monitoring
    //      battery itself: over the same held-out split, the
    //      operating-point menu (one row per distinct logit — tp/fp
    //      from totals minus prefix sums, the PR-curve shape) reduces
    //      to the max-F1 point (exact integer F1 = 2tp/(2tp+fp+fn) in
    //      ppm, smallest-z tie-break) — the number `model threshold`
    //      persists into the artifact meta and the curation chain
    //      gates z >= against. Value-grid shapes only; the selection
    //      is one TakeOrdered over the distinct-z menu ----
    "t_quality_threshold" -> ((s, dir) => {
      val w = qualityModel(s, dir)
      val d = t(s, dir, "documents")
      val scored = graft.operators.Logistic.scoreInline(evalSplit(d), w)
        .filter(col("n_tokens") > 0)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("z"), (col("source") === lit(DsirTarget)).as("y"))
      graft.operators.Logistic.selectOperatingPoint(
          graft.operators.Logistic.operatingPoints(scored))
        .select(col("threshold").cast("double").as("threshold"),
          col("tp"), col("fp"), col("fn"),
          col("precision_ppm"), col("recall_ppm"), col("f1_ppm"))
    }),

    // ---- FEATURE-SPACE comparison on the same held-out split: the
    //      unigram artifact vs a bigram-space sibling (same 3-epoch
    //      exact-decimal GD, hashed word-2-shingles into the same 256
    //      buckets), each scored by its own space's inline fold and
    //      measured by rank-sum AUC — the delta that justifies (or
    //      rejects) a featurization upgrade BEFORE it ships, with the
    //      space id carried per row exactly as the artifact meta
    //      records it. Plans: two scoring scans + two value-grid
    //      prefix sums; the bigram model stays bucket-sized ----
    "t_quality_auc_bigram" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val hold = evalSplit(d).localCheckpoint(false)
      val label = col("source") === lit(DsirTarget)
      def aucRow(w: Map[String, BigDecimal], gram: Int) =
        graft.operators.Logistic
          .evalReport(hold, w, label, gram = gram)
          .select(lit(graft.operators.Logistic.spaceOf(gram)).as("space"),
            col("n_pos"), col("n_neg"), col("u_x2"), col("auc_ppm"))
      aucRow(qualityModel(s, dir), 1)
        .unionByName(aucRow(qualityModelBigram(s, dir), 2))
    }),

    // ---- the full PR curve of the TRAINED classifier over the same
    //      held-out split: one row per DISTINCT logit threshold t
    //      (predict positive when z >= t), tp/fp from the total minus
    //      the ascending prefix sums (Ranks.prefixSums — the value
    //      grid never single-tasks the corpus), precision/recall in
    //      exact integer ppm. The operating-point menu AUC compresses
    //      into one number ----
    "t_quality_pr_curve" -> ((s, dir) => {
      val w = qualityModel(s, dir)
      val d = t(s, dir, "documents")
      val hold = graft.operators.Sampling.hashSplit(d, "doc_id",
          Seq("train" -> 0.75, "eval" -> 0.25))
        .filter(col("split") === "eval")
      val scored = graft.operators.Logistic.scoreInline(hold, w)
        .filter(col("n_tokens") > 0)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("z"), (col("source") === lit(DsirTarget)).as("y"))
        .localCheckpoint(false) // histogram + totals
      val hist = scored.groupBy("z").agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("cn"))
      val tot = scored.groupBy().agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("nn"))
      graft.operators.Ranks.prefixSums(hist, "z", Seq("cp", "cn"))
        .crossJoin(broadcast(tot))
        .withColumn("tp", col("np") - col("pre_cp"))
        .withColumn("fp", col("nn") - col("pre_cn"))
        .select(col("z").cast("double").as("z"),
          col("tp"), col("fp"),
          expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
          expr("tp * 1000000 div np").as("recall_ppm"))
    }),

    // ---- hard-negative mining off the trained model — the
    //      relabeling / contrastive-pair feed: the 20 NON-target
    //      documents the model scores CLOSEST to the keep boundary
    //      (highest exact-decimal z among negatives, full doc_id
    //      tie-break — the standard highest-scoring-negatives
    //      definition, not thresholded, so the feed never runs dry
    //      on a conservative model). TakeOrdered-bounded ----
    "t_quality_hard_negatives" -> ((s, dir) => {
      val w = qualityModel(s, dir)
      val d = t(s, dir, "documents")
      graft.operators.Logistic.scoreInline(d, w)
        .filter(col("n_tokens") > 0)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .filter(col("source") =!= lit(DsirTarget))
        .orderBy(col("z").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("z").cast("double").as("z"))
    }),

    // ---- calibration of the TRAINED classifier over the same
    //      held-out split (t_classifier_ece's shape pointed at the
    //      persisted model): confidence = the rational monotone link
    //      clamp((zn+1)/2) in integer e6 over the 9-dp-rounded
    //      normalized logit (libm-sigmoid ulps would fork the oracle;
    //      ECE is invariant to which monotone link defines the bins),
    //      10 bins, per-bin mean confidence vs empirical target rate,
    //      n-weighted ECE. One scoring scan + one 10-bin agg ----
    "t_quality_calibration" -> ((s, dir) => {
      val w = qualityModel(s, dir)
      val d = t(s, dir, "documents")
      val hold = graft.operators.Sampling.hashSplit(d, "doc_id",
          Seq("train" -> 0.75, "eval" -> 0.25))
        .filter(col("split") === "eval")
      val scored = graft.operators.Logistic.scoreInline(hold, w)
        .filter(col("n_tokens") > 0)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(round(col("z").cast("double") /
            col("n_tokens").cast("double"), 9).as("zn"),
          (col("source") === lit(DsirTarget)).as("label"))
      val per = scored
        .withColumn("p_e6", least(greatest(
          expr("cast(round((zn + 1.0) / 2.0 * 1000000, 0) as bigint)"),
          lit(0L)), lit(1000000L)))
        .withColumn("bin", least(expr("p_e6 div 100000"), lit(9L)))
        .groupBy("bin").agg(
          count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("pos"),
          sum("p_e6").as("sp"))
        .select(col("bin"), col("n"), col("pos"),
          expr("sp div n").as("conf_e6"),
          expr("pos * 1000000L div n").as("acc_e6"))
        .localCheckpoint(false) // ece fold + final frame
      val tot = per.agg(
        expr("sum(n * abs(conf_e6 - acc_e6)) div sum(n)").as("ece_e6"))
      per.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("pos"), col("conf_e6"),
          col("acc_e6"), (col("conf_e6") - col("acc_e6")).as("gap_e6"),
          col("ece_e6"))
    }),

    // ---- fastText-style hashed linear quality classifier: bag of
    //      hashed token features (16 md5-prefix buckets here; the
    //      bucket count only changes the literal table's width, not
    //      the plan), score = Σ_b k_b·w_b / n_tokens with the weight
    //      vector a broadcast plan literal — exactly how a trained
    //      model artifact ships to 1000 executors (swap `ClfWeights`
    //      for real trained weights; the demo vector is fixed and
    //      documented). The per-doc dot product is an exact-decimal
    //      `aggregate` HOF over the token array — ZERO shuffle, the
    //      whole query runs at scan speed; the projection is
    //      stateless, so a stream scores bit-equal to batch.
    //      keep/drop decides on the exact DECIMAL dot product (sign
    //      never touches IEEE); the reported logit is one
    //      correctly-rounded double division ----
    "t_quality_classifier" -> ((s, dir) =>
      Text.hashedLinearScores(
        t(s, dir, "documents"), "doc_id", "text", ClfWeights)),

    // ---- RefinedWeb-style per-domain boilerplate scrub: a segment
    //      recurring in >= 2 DISTINCT docs of one source is boilerplate
    //      (nav bars, footers, cookie banners) and is removed from
    //      EVERY doc — unlike t_segment_dedup's first-occurrence-keeps
    //      semantics, here no occurrence survives. The fixture
    //      prepends each source's 10-token nav header to every doc
    //      (the exact artifact this operator exists to strip), so the
    //      scrub provably fires on all rows, plus whatever natural
    //      collisions the corpus has. Shapes: one explode, an exact
    //      two-phase distinct-count agg on (source, seg), and one
    //      equi-join back on (source, seg) — the boilerplate table is
    //      repeated-segments-only (tiny next to the corpus), and a
    //      domain-wide banner key fans out in the join where AQE skew
    //      split applies, never in a window ----
    "t_boilerplate_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat_ws(" ", lit("nav"), col("source"), lit(NavTail),
          col("text")).as("text"))
      val segs = d.select(col("doc_id"), col("source"),
          Text.tokens(col("text")).as("tok"))
        .select(col("doc_id"), col("source"), posexplode(expr(
          "transform(sequence(0, (size(tok)-1) div 10)," +
            " i -> array_join(slice(tok, i*10+1, 10), ' '))")))
        .toDF("doc_id", "source", "pos", "seg")
      val boiler = segs.groupBy("source", "seg")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("source"), col("seg"), lit(true).as("is_boiler"))
      segs.join(boiler, Seq("source", "seg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("is_boiler"), 1L).otherwise(0L)).cast("long")
            .as("n_boiler"),
          coalesce(array_join(transform(
            array_sort(collect_list(when(col("is_boiler").isNull,
              struct(col("pos"), col("seg"))))),
            x => x.getField("seg")), " "), lit("")).as("clean_text"))
    }),

    // ---- file provenance: per-source-file row accounting from the
    //      hidden `_metadata` column — the audit primitive behind
    //      takedown sweeps and ingest reconciliation ("which file did
    //      this row come from, and did every file land whole"). Pure
    //      metadata projection + one map-combinable agg; at 100 TB
    //      this is the same scan the query would do anyway, with a
    //      constant-width column attached per row ----
    "o_file_provenance" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          element_at(split(col("_metadata.file_path"), "/"), -1)
            .as("file_name"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    })
  )

  private val tok = "string_split(text, ' ')"

  /** Tokens 3–10 of the synthetic per-source nav header (token 1 is
    * the literal `nav`, token 2 the source name), making the header
    * exactly one 10-token segment in every doc of a source.
    */
  private val NavTail =
    "home login about contact privacy terms careers press"

  /** DSIR target domain: the slice whose distribution the resampled
    * corpus should match (a stand-in for "wiki-quality" text).
    */
  private val DsirTarget = "src18"

  /** Demo weight vector for the hashed linear classifier, one exact
    * one-decimal weight per md5-prefix bucket '0'..'f'. Deterministic
    * and sign-mixed; a real deployment broadcasts trained weights the
    * same way.
    */
  private[graft] val ClfWeights: Seq[(String, String)] =
    "0123456789abcdef".map(c =>
      (c.toString, s"${((c.toInt * 13) % 17 - 8) / 10.0}"))

  /** Closed-form clean text of the generated raw-crawl payload (what
    * markup strip + mojibake repair must recover), shared by every
    * curate-pipeline oracle.
    */
  private val CleanForm =
    """(CASE WHEN doc_id % 11 = 0 THEN 'tiny' ELSE text END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN ' reach u' || doc_id
      |          || '@mail.example.org' ELSE '' END)
      |    || (CASE WHEN doc_id % 7 = 0 THEN ' café naïve résumé'
      |          ELSE '' END)""".stripMargin

  /** The PII census over `clean` — the exact fragment the
    * a_pipeline_curate / t_pii_detect oracles use.
    */
  private val PiiExpr =
    """(len(regexp_extract_all(clean,
      |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
      |     + len(regexp_extract_all(clean, '\+[0-9][0-9-]{7,14}[0-9]'))
      |     + len(regexp_extract_all(clean,
      |       '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b'))
      |     + len(list_filter(regexp_extract_all(clean, '[0-9]+'),
      |       r -> len(r) = 16 AND list_sum(list_transform(range(0, 16),
      |         j -> CASE WHEN j % 2 = 0 THEN
      |           CASE WHEN 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) > 9
      |                THEN 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) - 9
      |                ELSE 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) END
      |           ELSE ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48 END))
      |         % 10 = 0))) > 0""".stripMargin

  /** The Gopher structural-quality rules over `clean` — the exact
    * fragment the a_pipeline_curate / t_quality_rules oracles use.
    */
  private val QualityExpr =
    """len(string_split(clean, ' ')) >= 10
      |      AND len(string_split(clean, ' ')) <= 5000
      |      AND CAST(length(clean) - (len(string_split(clean, ' ')) - 1)
      |          AS DOUBLE) / CAST(len(string_split(clean, ' '))
      |          AS DOUBLE) >= 2.0
      |      AND CAST(length(clean) - (len(string_split(clean, ' ')) - 1)
      |          AS DOUBLE) / CAST(len(string_split(clean, ' '))
      |          AS DOUBLE) <= 12.0
      |      AND CAST(len(list_filter(string_split(clean, ' '),
      |          w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
      |        / CAST(len(string_split(clean, ' ')) AS DOUBLE) >= 0.6""".stripMargin

  /** The dedup-fixture base: closed-form clean of every payload plus
    * the +1000000 re-ingested clones, with the within-batch exact-dup
    * window (first occurrence keeps).
    */
  private val DedupBase =
    """orig AS MATERIALIZED (SELECT doc_id, source,
      |    doc_id % 7 = 0 AS repaired,
      |    @CLEAN@ AS clean
      |  FROM documents),
      |base AS (SELECT doc_id, source, repaired, clean FROM orig
      |  UNION ALL SELECT doc_id + 1000000, source, repaired, clean
      |  FROM orig WHERE doc_id % 13 = 0),
      |fl AS MATERIALIZED (SELECT doc_id, source, clean, repaired,
      |    @PII@ AS has_pii,
      |    @QUALITY@ AS quality_ok,
      |    doc_id > MIN(doc_id) OVER (PARTITION BY clean) AS dup_exact
      |  FROM base)""".stripMargin
      .replace("@CLEAN@", CleanForm)
      .replace("@PII@", PiiExpr)
      .replace("@QUALITY@", QualityExpr)

  /** One 5-gram shingle CTE (the d_index_incremental recipe) over a
    * source supplying (id, t).
    */
  private def shingleCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (SELECT id, list_distinct(
       |  CASE WHEN len(tok) < 5 THEN []
       |       ELSE list_transform(range(1, len(tok) - 3),
       |              i -> array_to_string(tok[i:i+4], ' ')) END) AS sh
       |  FROM (SELECT id, string_split(t, ' ') AS tok FROM $src))""".stripMargin

  /** MinHash/LSH near-dup screen of fl's clean text against the
    * historical index (documents < 300 under +5000000 ids): exactly
    * [[graft.operators.Dedup.pairsAgainstIndex]]'s contract — band
    * equi-join candidates, exact Jaccard ≥ 0.5 verify — ending in a
    * `nd` CTE of flagged new ids.
    */
  private val NearDupBlock =
    """hist AS (SELECT doc_id + 5000000 AS id, text AS t FROM documents
       |  WHERE doc_id < 300),
       |newb AS (SELECT doc_id AS id, clean AS t FROM fl),
       |@SHB@,
       |@SHN@,
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
       |verif AS (SELECT c.new_id,
       |    len(list_intersect(x.sh, y.sh)) AS common,
       |    len(x.sh) AS na, len(y.sh) AS nb
       |  FROM cands c JOIN shn x ON x.id = c.new_id
       |  JOIN shb y ON y.id = c.base_id),
       |nd AS MATERIALIZED (SELECT DISTINCT new_id FROM verif
       |  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE)
       |    >= 0.5),
       |fl2 AS MATERIALIZED (SELECT fl.*, (nd.new_id IS NOT NULL) AS dup_near
       |  FROM fl LEFT JOIN nd ON fl.doc_id = nd.new_id)""".stripMargin
      .replace("@SHB@", shingleCte("shb", "hist"))
      .replace("@SHN@", shingleCte("shn", "newb"))

  /** Marker-language-ID fragments over `clean` (the t_lang_id recipe
    * re-pointed at the curated text).
    */
  private def langHits(set: Seq[String]): String =
    s"len(list_filter(string_split(clean, ' '), " +
      s"x -> x IN (${set.map("'" + _ + "'").mkString(",")})))"
  private val langScores =
    graft.functions.Text.langMarkers.map { case (l, m) => l -> langHits(m) }
  private val LangBest =
    s"greatest(${langScores.map(_._2).mkString(", ")})"
  private val LangPred = "CASE " + langScores.map { case (l, e) =>
    s"WHEN $e = best AND best > 0 THEN '$l'"
  }.mkString(" ") + " ELSE 'und' END"

  /** The three GD epochs unrolled (the BPE-fold pattern): each epoch's
    * CTEs replay the engine's exact arithmetic — decimal logit,
    * 9-dp-rounded sigmoid residual, decimal gradient, 6-dp-rounded
    * IEEE update.
    */
  private def qualityTrainCtes(epochs: Int): String = {
    val bucketList = {
      val hex = "0123456789abcdef".map(_.toString)
      hex.flatMap(a => hex.map(b => s"'$a$b'")).mkString(",")
    }
    def ep(e: Int): String =
      s"""z$e AS (SELECT doc_id, y, SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
         |  FROM f JOIN w${e - 1} USING (b) GROUP BY doc_id, y),
         |p$e AS (SELECT doc_id, CAST(round(CAST(y AS DOUBLE) -
         |    round(1/(1+exp(-CAST(z AS DOUBLE))), 9), 9)
         |    AS DECIMAL(12,9)) AS err FROM z$e),
         |g$e AS (SELECT b, SUM(CAST(k AS DECIMAL(18,0)) * err) AS g
         |  FROM f JOIN p$e USING (doc_id) GROUP BY b),
         |w$e AS MATERIALIZED (SELECT w.b,
         |    CAST(round(CAST(w.w AS DOUBLE)
         |      + 0.5 * CAST(COALESCE(g.g, 0) AS DOUBLE) / nd, 6)
         |      AS DECIMAL(12,6)) AS w
         |  FROM w${e - 1} w LEFT JOIN g$e g USING (b) CROSS JOIN n)"""
        .stripMargin
    s"""WITH f AS MATERIALIZED (SELECT doc_id, source, y, b, COUNT(*) AS k
       |  FROM (SELECT doc_id, source,
       |      CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END AS y,
       |      substr(md5(tok), 1, 2) AS b
       |    FROM (SELECT doc_id, source,
       |          unnest(string_split(text, ' ')) AS tok FROM documents)
       |    WHERE tok <> '')
       |  GROUP BY doc_id, source, y, b),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
       |w0 AS (SELECT unnest([$bucketList]) AS b,
       |  CAST(0 AS DECIMAL(12,6)) AS w),
       |""".stripMargin +
      (1 to epochs).map(ep).mkString(",\n")
  }

  private val QualityTrainCtes: String = qualityTrainCtes(3)

  /** BIGRAM-space training CTEs (bf/bw0..bwN): identical epoch algebra
    * over hashed word-2-shingle features of the non-empty token
    * stream; reuses the `n` doc-count CTE from [[qualityTrainCtes]].
    */
  private def bigramTrainCtes(epochs: Int): String = {
    val bucketList = {
      val hex = "0123456789abcdef".map(_.toString)
      hex.flatMap(a => hex.map(b => s"'$a$b'")).mkString(",")
    }
    def ep(e: Int): String =
      s"""bz$e AS (SELECT doc_id, y, SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
         |  FROM bf JOIN bw${e - 1} USING (b) GROUP BY doc_id, y),
         |bp$e AS (SELECT doc_id, CAST(round(CAST(y AS DOUBLE) -
         |    round(1/(1+exp(-CAST(z AS DOUBLE))), 9), 9)
         |    AS DECIMAL(12,9)) AS err FROM bz$e),
         |bg$e AS (SELECT b, SUM(CAST(k AS DECIMAL(18,0)) * err) AS g
         |  FROM bf JOIN bp$e USING (doc_id) GROUP BY b),
         |bw$e AS MATERIALIZED (SELECT w.b,
         |    CAST(round(CAST(w.w AS DOUBLE)
         |      + 0.5 * CAST(COALESCE(g.g, 0) AS DOUBLE) / nd, 6)
         |      AS DECIMAL(12,6)) AS w
         |  FROM bw${e - 1} w LEFT JOIN bg$e g USING (b) CROSS JOIN n)"""
        .stripMargin
    s"""bf AS MATERIALIZED (SELECT doc_id, source, y, b, COUNT(*) AS k
       |  FROM (SELECT doc_id, source,
       |      CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END AS y,
       |      substr(md5(bg), 1, 2) AS b
       |    FROM (SELECT doc_id, source,
       |          unnest(list_transform(range(1, len(tk)),
       |            i -> tk[i] || ' ' || tk[i + 1])) AS bg
       |      FROM (SELECT doc_id, source,
       |            list_filter(string_split(text, ' '), x -> x <> '')
       |              AS tk FROM documents)))
       |  GROUP BY doc_id, source, y, b),
       |bw0 AS (SELECT unnest([$bucketList]) AS b,
       |  CAST(0 AS DECIMAL(12,6)) AS w),
       |""".stripMargin +
      (1 to epochs).map(ep).mkString(",\n")
  }

  private val BigramTrainCtes: String = bigramTrainCtes(3)

  /** Rank-sum AUC block over the held-out split for one feature
    * space: `${p}sc/${p}h/${p}r/${p}m` CTEs from (feature table,
    * final weight table); `${p}m` holds (rp_x2, n_pos, n_neg).
    */
  private def aucBlock(p: String, fTbl: String, wTbl: String): String =
    s"""${p}sc AS (SELECT doc_id, y,
       |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
       |  FROM $fTbl JOIN $wTbl USING (b) JOIN ev USING (doc_id)
       |  GROUP BY doc_id, y),
       |${p}h AS (SELECT z,
       |    SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cp,
       |    SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS cn
       |  FROM ${p}sc GROUP BY z),
       |${p}r AS (SELECT cp, cn,
       |    2 * COALESCE(SUM(cp + cn) OVER (ORDER BY z ROWS BETWEEN
       |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + (cp + cn) + 1 AS rank_x2
       |  FROM ${p}h),
       |${p}m AS (SELECT SUM(cp * rank_x2) AS rp_x2, SUM(cp) AS n_pos,
       |    SUM(cn) AS n_neg FROM ${p}r)""".stripMargin

  /** Operating-point selection CTEs (the t_quality_threshold /
    * a_pipeline_curate_thr replay): PR menu over the held-out split
    * under w3, max-F1 point with the smallest-z tie-break. `tsel`
    * carries (z, tp, fp, fn, np + the exact-ppm metrics).
    */
  private val ThresholdCtes: String =
    s"""tev AS (SELECT doc_id FROM (SELECT doc_id,
       |    ${TextQueries.md5Bucket} AS bucket FROM documents)
       |  WHERE bucket >= 192),
       |tsc AS (SELECT doc_id, y,
       |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
       |  FROM f JOIN w3 USING (b) JOIN tev USING (doc_id)
       |  GROUP BY doc_id, y),
       |th AS (SELECT z,
       |    SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cp,
       |    SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS cn
       |  FROM tsc GROUP BY z),
       |tr AS (SELECT z, cp, cn,
       |    COALESCE(SUM(cp) OVER (ORDER BY z ROWS BETWEEN
       |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cp,
       |    COALESCE(SUM(cn) OVER (ORDER BY z ROWS BETWEEN
       |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cn
       |  FROM th),
       |ttot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn FROM th),
       |tpts AS (SELECT z, np - pre_cp AS tp, nn - pre_cn AS fp,
       |    pre_cp AS fn, np FROM tr CROSS JOIN ttot),
       |tsel AS MATERIALIZED (SELECT z, tp, fp, fn,
       |    CASE WHEN tp + fp > 0
       |      THEN tp * 1000000 // (tp + fp) END AS precision_ppm,
       |    CASE WHEN np > 0
       |      THEN tp * 1000000 // np END AS recall_ppm,
       |    CASE WHEN 2 * tp + fp + fn > 0
       |      THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
       |  FROM tpts
       |  ORDER BY f1_ppm DESC NULLS LAST, z ASC LIMIT 1)""".stripMargin

  private val QualityTrainOracle: String =
    QualityTrainCtes + "\n" +
      """SELECT 1 AS epoch, b AS bucket, CAST(w AS DOUBLE) AS w FROM w1
        |UNION ALL SELECT 2, b, CAST(w AS DOUBLE) FROM w2
        |UNION ALL SELECT 3, b, CAST(w AS DOUBLE) FROM w3""".stripMargin

  /** Deploy the epoch-3 weights back over the corpus: exact-decimal
    * logit per doc, per-source MEAN logit (the separation report — a
    * threshold is a later policy choice; the exact decimal sum makes
    * the mean partition-order free, closed by one IEEE division).
    */
  private val QualityTrainEvalOracle: String =
    QualityTrainCtes + ",\n" +
      """sc AS (SELECT doc_id, source, y,
        |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z,
        |    CAST(SUM(k) AS BIGINT) AS nt
        |  FROM f JOIN w3 USING (b) GROUP BY doc_id, source, y),
        |zn AS (SELECT source, CAST(round(CAST(z AS DOUBLE) /
        |    CAST(nt AS DOUBLE), 9) AS DECIMAL(12,9)) AS zn FROM sc)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(CAST(SUM(zn) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_logit
        |FROM zn GROUP BY source""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // three daily waves (doc_id % 3) of the closed-form curate funnel
    // appended under day-0/1/2, then the per-stage LAG trend — the
    // CleanForm/PII/Gopher fragments are the exact ones the
    // a_pipeline_curate oracle gates
    "a_funnel_ledger" ->
      ("""WITH base AS (SELECT doc_id, doc_id % 3 AS wave,
         |    @CLEAN@ AS clean
         |  FROM documents),
         |fl AS MATERIALIZED (SELECT wave, doc_id, clean,
         |    doc_id % 7 = 0 AS repaired,
         |    @PII@ AS has_pii,
         |    @QUALITY@ AS quality_ok
         |  FROM base),
         |f AS (
         |  SELECT wave, 'ingested' AS stage, COUNT(*) AS n
         |    FROM fl GROUP BY wave
         |  UNION ALL SELECT wave, 'markup_stripped', COUNT(*)
         |    FROM fl GROUP BY wave
         |  UNION ALL SELECT wave, 'mojibake_repaired',
         |    SUM(CASE WHEN repaired THEN 1 ELSE 0 END)
         |    FROM fl GROUP BY wave
         |  UNION ALL SELECT wave, 'pii_flagged',
         |    SUM(CASE WHEN has_pii THEN 1 ELSE 0 END)
         |    FROM fl GROUP BY wave
         |  UNION ALL SELECT wave, 'quality_failed',
         |    SUM(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END)
         |    FROM fl GROUP BY wave
         |  UNION ALL SELECT wave, 'kept',
         |    SUM(CASE WHEN quality_ok AND NOT has_pii THEN 1 ELSE 0 END)
         |    FROM fl GROUP BY wave),
         |led AS (SELECT 'day-' || wave AS run_id, stage,
         |    CAST(n AS BIGINT) AS n,
         |    CAST(wave + 1 AS BIGINT) AS seq FROM f)
         |SELECT run_id, stage, n, seq,
         |  CAST(LAG(n) OVER (PARTITION BY stage ORDER BY seq)
         |    AS BIGINT) AS prev_n,
         |  CAST(n - LAG(n) OVER (PARTITION BY stage ORDER BY seq)
         |    AS BIGINT) AS delta
         |FROM led""".stripMargin
        .replace("@CLEAN@", CleanForm)
        .replace("@PII@", PiiExpr)
        .replace("@QUALITY@", QualityExpr)),

    "t_quality_train" -> QualityTrainOracle,
    "t_quality_train_eval" -> QualityTrainEvalOracle,
    // the artifact read+deploy path is DEFINED to equal the eval
    // (exact-decimal round trip + the scoreInline == score law)
    "t_quality_score_artifact" -> QualityTrainEvalOracle,
    // warm start == epochs 4-5 of one unrolled 5-epoch schedule;
    // the drift is the exact decimal w5 - w3 per bucket
    "t_quality_warm_start" ->
      (qualityTrainCtes(5) + "\n" +
      """SELECT w3.b AS bucket, CAST(w3.w AS DOUBLE) AS w_start,
        |  CAST(w5.w AS DOUBLE) AS w_now,
        |  CAST(w5.w - w3.w AS DOUBLE) AS delta
        |FROM w3 JOIN w5 USING (b)""".stripMargin),
    // one row per distinct threshold: tp/fp = totals minus the
    // ascending prefix sums over the distinct-z histogram
    "t_quality_pr_curve" ->
      (QualityTrainCtes + ",\n" +
      s"""ev AS (SELECT doc_id FROM (SELECT doc_id,
         |    ${TextQueries.md5Bucket} AS bucket FROM documents)
         |  WHERE bucket >= 192),
         |sc AS (SELECT doc_id, y,
         |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
         |  FROM f JOIN w3 USING (b) JOIN ev USING (doc_id)
         |  GROUP BY doc_id, y),
         |h AS (SELECT z,
         |    SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cp,
         |    SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS cn
         |  FROM sc GROUP BY z),
         |r AS (SELECT z, cp, cn,
         |    COALESCE(SUM(cp) OVER (ORDER BY z ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cp,
         |    COALESCE(SUM(cn) OVER (ORDER BY z ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cn
         |  FROM h),
         |tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn FROM h)
         |SELECT CAST(z AS DOUBLE) AS z,
         |  CAST(np - pre_cp AS BIGINT) AS tp,
         |  CAST(nn - pre_cn AS BIGINT) AS fp,
         |  CAST((np - pre_cp) * 1000000
         |    // ((np - pre_cp) + (nn - pre_cn)) AS BIGINT)
         |    AS precision_ppm,
         |  CAST((np - pre_cp) * 1000000 // np AS BIGINT) AS recall_ppm
         |FROM r CROSS JOIN tot""".stripMargin),
    // the model's confident mistakes: f⋈w3 scores, non-target docs
    // with a positive exact-decimal logit, top-20 by (z desc, id asc)
    "t_quality_hard_negatives" ->
      (QualityTrainCtes + ",\n" +
      """sc AS (SELECT f.doc_id, f.source,
        |    CAST(SUM(k) AS BIGINT) AS n_tokens,
        |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
        |  FROM f JOIN w3 USING (b)
        |  GROUP BY f.doc_id, f.source)
        |SELECT doc_id, source, n_tokens, CAST(z AS DOUBLE) AS z
        |FROM sc WHERE source <> 'src18'
        |ORDER BY z DESC, doc_id ASC LIMIT 20""".stripMargin),
    // the trained model's calibration bins over the held-out bucket
    // range: the same rational link + 10-bin ECE fold as
    // t_classifier_ece, with z/nt replayed from f⋈w3
    "t_quality_calibration" ->
      (QualityTrainCtes + ",\n" +
      s"""ev AS (SELECT doc_id FROM (SELECT doc_id,
         |    ${TextQueries.md5Bucket} AS bucket FROM documents)
         |  WHERE bucket >= 192),
         |sc AS (SELECT doc_id, y,
         |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z,
         |    CAST(SUM(k) AS BIGINT) AS nt
         |  FROM f JOIN w3 USING (b) JOIN ev USING (doc_id)
         |  GROUP BY doc_id, y),
         |zl AS (SELECT round(CAST(z AS DOUBLE) / CAST(nt AS DOUBLE), 9)
         |    AS zn, y = 1 AS label FROM sc),
         |pp AS (SELECT LEAST(GREATEST(
         |    CAST(ROUND((zn + 1.0) / 2.0 * 1000000, 0) AS BIGINT),
         |    0), 1000000) AS p_e6, label FROM zl),
         |per AS (SELECT LEAST(p_e6 // 100000, 9) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS pos,
         |    CAST(SUM(p_e6) AS BIGINT) AS sp
         |  FROM pp GROUP BY 1),
         |pb AS (SELECT bin, n, pos,
         |    CAST(sp // n AS BIGINT) AS conf_e6,
         |    CAST(pos * 1000000 // n AS BIGINT) AS acc_e6
         |  FROM per),
         |tot AS (SELECT CAST(SUM(n * ABS(conf_e6 - acc_e6)) // SUM(n)
         |    AS BIGINT) AS ece_e6 FROM pb)
         |SELECT CAST(bin AS BIGINT) AS bin, n, pos, conf_e6, acc_e6,
         |  CAST(conf_e6 - acc_e6 AS BIGINT) AS gap_e6, ece_e6
         |FROM pb, tot""".stripMargin),
    // rank-sum AUC + threshold confusion over the hash-stable 25%
    // held-out bucket range (>= 192 of 256 — Sampling.hashSplit's
    // train->0.75/eval->0.25 bounds); the scoring replays the f⋈w3
    // exact-decimal sum, ranks are doubled midranks over the
    // distinct-z histogram, every output an exact integer
    "t_quality_auc" ->
      (QualityTrainCtes + ",\n" +
      s"""ev AS (SELECT doc_id FROM (SELECT doc_id,
         |    ${TextQueries.md5Bucket} AS bucket FROM documents)
         |  WHERE bucket >= 192),
         |sc AS MATERIALIZED (SELECT doc_id, y,
         |    SUM(CAST(k AS DECIMAL(18,0)) * w) AS z
         |  FROM f JOIN w3 USING (b) JOIN ev USING (doc_id)
         |  GROUP BY doc_id, y),
         |h AS (SELECT z,
         |    SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cp,
         |    SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS cn
         |  FROM sc GROUP BY z),
         |r AS (SELECT cp, cn, cp + cn AS cnt,
         |    2 * COALESCE(SUM(cp + cn) OVER (ORDER BY z ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + (cp + cn) + 1 AS rank_x2
         |  FROM h),
         |m AS (SELECT SUM(cp * rank_x2) AS rp_x2, SUM(cp) AS n_pos,
         |    SUM(cn) AS n_neg FROM r),
         |thr AS (SELECT
         |    SUM(CASE WHEN y = 1 AND z > 0 THEN 1 ELSE 0 END) AS tp,
         |    SUM(CASE WHEN y = 0 AND z > 0 THEN 1 ELSE 0 END) AS fp,
         |    SUM(CASE WHEN y = 1 AND z <= 0 THEN 1 ELSE 0 END) AS fn,
         |    SUM(CASE WHEN y = 0 AND z <= 0 THEN 1 ELSE 0 END) AS tn
         |  FROM sc)
         |SELECT CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(n_neg AS BIGINT) AS n_neg,
         |  CAST(rp_x2 - n_pos * (n_pos + 1) AS BIGINT) AS u_x2,
         |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |    (rp_x2 - n_pos * (n_pos + 1)) * 500000
         |    // (n_pos * n_neg) END AS BIGINT) AS auc_ppm,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END
         |    AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END
         |    AS BIGINT) AS recall_ppm
         |FROM m CROSS JOIN thr""".stripMargin),
    // the operating-point selection replayed closed-form: training
    // CTEs, the PR menu over the held-out bucket range, max-F1 with
    // the smallest-z tie-break — every output an exact integer
    "t_quality_threshold" ->
      (QualityTrainCtes + ",\n" + ThresholdCtes + "\n" +
      """SELECT CAST(z AS DOUBLE) AS threshold,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn,
        |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
        |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
        |  CAST(f1_ppm AS BIGINT) AS f1_ppm
        |FROM tsel""".stripMargin),

    // both feature spaces trained in unrolled SQL (the unigram CTEs +
    // the bigram siblings), each scored over the same held-out bucket
    // range by its own space, rank-sum AUC per space
    "t_quality_auc_bigram" ->
      (QualityTrainCtes + ",\n" + BigramTrainCtes + ",\n" +
      s"""ev AS (SELECT doc_id FROM (SELECT doc_id,
         |    ${TextQueries.md5Bucket} AS bucket FROM documents)
         |  WHERE bucket >= 192),
         |""".stripMargin +
      aucBlock("u", "f", "w3") + ",\n" + aucBlock("b", "bf", "bw3") +
      """
        |SELECT 'md5u2' AS space, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(rp_x2 - n_pos * (n_pos + 1) AS BIGINT) AS u_x2,
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    (rp_x2 - n_pos * (n_pos + 1)) * 500000
        |    // (n_pos * n_neg) END AS BIGINT) AS auc_ppm
        |FROM um
        |UNION ALL
        |SELECT 'md5b2', CAST(n_pos AS BIGINT),
        |  CAST(n_neg AS BIGINT),
        |  CAST(rp_x2 - n_pos * (n_pos + 1) AS BIGINT),
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    (rp_x2 - n_pos * (n_pos + 1)) * 500000
        |    // (n_pos * n_neg) END AS BIGINT)
        |FROM bm""".stripMargin),

    // every stage flag recomputed from the closed-form clean text
    // (the extraction round trip is gated separately by
    // t_html_extract); the PII regexes and the Gopher rules are the
    // exact fragments the t_pii_detect / t_quality_rules oracles use
    "a_pipeline_curate" ->
      """WITH base AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 11 = 0 THEN 'tiny' ELSE text END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ' reach u' || doc_id
        |          || '@mail.example.org' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN ' café naïve résumé'
        |          ELSE '' END) AS clean
        |  FROM documents),
        |fl AS MATERIALIZED (SELECT doc_id, clean,
        |    doc_id % 7 = 0 AS repaired,
        |    (len(regexp_extract_all(clean,
        |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
        |     + len(regexp_extract_all(clean, '\+[0-9][0-9-]{7,14}[0-9]'))
        |     + len(regexp_extract_all(clean,
        |       '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b'))
        |     + len(list_filter(regexp_extract_all(clean, '[0-9]+'),
        |       r -> len(r) = 16 AND list_sum(list_transform(range(0, 16),
        |         j -> CASE WHEN j % 2 = 0 THEN
        |           CASE WHEN 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) > 9
        |                THEN 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) - 9
        |                ELSE 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) END
        |           ELSE ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48 END))
        |         % 10 = 0))) > 0 AS has_pii,
        |    len(string_split(clean, ' ')) >= 10
        |      AND len(string_split(clean, ' ')) <= 5000
        |      AND CAST(length(clean) - (len(string_split(clean, ' ')) - 1)
        |          AS DOUBLE) / CAST(len(string_split(clean, ' '))
        |          AS DOUBLE) >= 2.0
        |      AND CAST(length(clean) - (len(string_split(clean, ' ')) - 1)
        |          AS DOUBLE) / CAST(len(string_split(clean, ' '))
        |          AS DOUBLE) <= 12.0
        |      AND CAST(len(list_filter(string_split(clean, ' '),
        |          w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
        |        / CAST(len(string_split(clean, ' ')) AS DOUBLE) >= 0.6
        |      AS quality_ok
        |  FROM base)
        |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM fl
        |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
        |  FROM fl
        |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
        |  THEN 1 ELSE 0 END) AS BIGINT) FROM fl
        |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
        |  THEN 1 ELSE 0 END) AS BIGINT) FROM fl
        |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
        |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM fl
        |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN quality_ok AND NOT
        |  has_pii THEN 1 ELSE 0 END) AS BIGINT) FROM fl""".stripMargin,

    // the dedup chain in closed form: clones + exact-dup window +
    // the full MinHash/LSH recompute against the historical slice
    "a_pipeline_curate_dedup" ->
      (s"WITH $DedupBase,\n$NearDupBlock,\n" +
      """k AS MATERIALIZED (SELECT *, quality_ok AND NOT has_pii
         |    AND NOT dup_exact AND NOT dup_near AS keep FROM fl2)
         |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM k
         |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
         |  FROM k
         |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
         |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_exact', CAST(SUM(CASE WHEN dup_exact
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_near', CAST(SUM(CASE WHEN dup_near
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN keep
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k""".stripMargin),

    // the full policy chain: dedup + language allow-list + per-source
    // quota (rank by md5(id) among surviving docs only)
    // the plan replayed (water-filling with cap = available, budget =
    // total // 3) + the dedup/lang funnel enforcing each source's own
    // allocation via the inclusive prefix rule
    "a_pipeline_curate_mix" ->
      (s"""WITH ma AS (SELECT source,
         |    SUM(len(string_split(text, ' '))) AS available
         |  FROM documents GROUP BY source),
         |mc AS (SELECT source, available, available AS cap FROM ma),
         |mt AS (SELECT SUM(cap) AS sc, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM mc),
         |mb AS (SELECT sc // 3 AS budget, n FROM mt),
         |mo AS (SELECT source, cap,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT)
         |      AS k,
         |    SUM(cap) OVER (ORDER BY cap, source
         |      ROWS UNBOUNDED PRECEDING) AS prefix
         |  FROM mc),
         |msat AS (SELECT COALESCE(MAX(CASE WHEN prefix - cap
         |      + cap * (n - k + 1) <= budget THEN k END), 0) AS kstar
         |  FROM mo CROSS JOIN mb),
         |mpk AS (SELECT COALESCE((SELECT prefix FROM mo, msat
         |    WHERE mo.k = msat.kstar), 0) AS pks),
         |mf AS (SELECT mo.source,
         |    CASE WHEN mo.k <= kstar THEN mo.cap
         |      ELSE (budget - pks) // (n - kstar)
         |        + (CASE WHEN mo.k - kstar <= (budget - pks)
         |             % (n - kstar) THEN 1 ELSE 0 END) END AS budget
         |  FROM mo CROSS JOIN mb CROSS JOIN msat CROSS JOIN mpk),
         |""".stripMargin + DedupBase + ",\n" + NearDupBlock + ",\n" +
      s"""lg AS (SELECT *, $LangBest AS best FROM fl2),
         |lg2 AS (SELECT *, ($LangPred) IN ('en') AS lang_ok FROM lg),
         |k0 AS (SELECT *, quality_ok AND NOT has_pii AND lang_ok
         |    AND NOT dup_exact AND NOT dup_near AS keep0 FROM lg2),
         |q AS (SELECT *, SUM(len(string_split(clean, ' ')))
         |    OVER (PARTITION BY source, keep0
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM k0),
         |k AS MATERIALIZED (SELECT q.*,
         |    (NOT keep0 OR cum <= COALESCE(mf.budget,
         |      9223372036854775807)) AS tq_ok,
         |    keep0 AND (NOT keep0 OR cum <= COALESCE(mf.budget,
         |      9223372036854775807)) AS keep
         |  FROM q LEFT JOIN mf USING (source))
         |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM k
         |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
         |  FROM k
         |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
         |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'lang_failed', CAST(SUM(CASE WHEN NOT lang_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_exact', CAST(SUM(CASE WHEN dup_exact
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_near', CAST(SUM(CASE WHEN dup_near
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'token_quota_failed', CAST(SUM(CASE WHEN NOT
         |  tq_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN keep
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k""".stripMargin),

    // the epoch schedule replayed in closed form: water-fill with
    // cap = 3·available and budget = the full supply, then per doc
    // fl = alloc // available full epochs + the md5(id)-ordered
    // inclusive prefix of the remainder, then a fresh md5(epoch:id)
    // rank within each (source, epoch)
    "t_mix_epochs" ->
      (s"WITH $MixEpochCtes\n" +
        "SELECT source, doc_id, epoch, ord FROM sched"),

    // the packed schedule: the same CTEs + the greedy 512-token
    // start-pack rule over each (source, epoch)'s ord-ordered cumsum
    "t_mix_pack" ->
      (s"WITH $MixEpochCtes,\n" +
      """pk AS (SELECT sc.source, sc.doc_id, sc.epoch, sc.ord, d.nt,
        |    SUM(d.nt) OVER (PARTITION BY sc.source, sc.epoch
        |      ORDER BY sc.ord ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sched sc JOIN docs d
        |    ON sc.source = d.source AND sc.doc_id = d.doc_id)
        |SELECT source, doc_id, epoch, ord,
        |  CAST((cum - nt) // 512 AS BIGINT) AS pack_id
        |FROM pk""".stripMargin),
    // the token-budget funnel: the dedup + language chain, then the
    // running clean-text token total per (source, keep0) in md5(id)
    // order — a doc survives iff its INCLUSIVE prefix sum fits 500
    "a_pipeline_curate_tokens" ->
      (s"WITH $DedupBase,\n$NearDupBlock,\n" +
      s"""lg AS (SELECT *, $LangBest AS best FROM fl2),
         |lg2 AS (SELECT *, ($LangPred) IN ('en') AS lang_ok FROM lg),
         |k0 AS (SELECT *, quality_ok AND NOT has_pii AND lang_ok
         |    AND NOT dup_exact AND NOT dup_near AS keep0 FROM lg2),
         |q AS (SELECT *, SUM(len(string_split(clean, ' ')))
         |    OVER (PARTITION BY source, keep0
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM k0),
         |k AS MATERIALIZED (SELECT *,
         |    (NOT keep0 OR cum <= 500) AS tq_ok,
         |    keep0 AND (NOT keep0 OR cum <= 500) AS keep FROM q)
         |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM k
         |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
         |  FROM k
         |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
         |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'lang_failed', CAST(SUM(CASE WHEN NOT lang_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_exact', CAST(SUM(CASE WHEN dup_exact
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_near', CAST(SUM(CASE WHEN dup_near
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'token_quota_failed', CAST(SUM(CASE WHEN NOT
         |  tq_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN keep
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k""".stripMargin),

    "a_pipeline_curate_policy" ->
      (s"WITH $DedupBase,\n$NearDupBlock,\n" +
      s"""lg AS (SELECT *, $LangBest AS best FROM fl2),
         |lg2 AS (SELECT *, ($LangPred) IN ('en') AS lang_ok FROM lg),
         |k0 AS (SELECT *, quality_ok AND NOT has_pii AND lang_ok
         |    AND NOT dup_exact AND NOT dup_near AS keep0 FROM lg2),
         |q AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, keep0
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
         |    AS rn FROM k0),
         |k AS MATERIALIZED (SELECT *, (NOT keep0 OR rn <= 5) AS quota_ok,
         |    keep0 AND (NOT keep0 OR rn <= 5) AS keep FROM q)
         |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM k
         |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
         |  FROM k
         |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
         |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'lang_failed', CAST(SUM(CASE WHEN NOT lang_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_exact', CAST(SUM(CASE WHEN dup_exact
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_near', CAST(SUM(CASE WHEN dup_near
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quota_failed', CAST(SUM(CASE WHEN NOT quota_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN keep
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k""".stripMargin),

    // the full policy chain PLUS the trained classifier stage: the
    // three GD epochs replay in unrolled SQL (QualityTrainCtes — the
    // same weights the persisted artifact holds, exact decimals
    // round-trip parquet), every clean text re-scores under w3 with
    // the exact-decimal token fold, and clf_ok = z > 0 gates keep
    // between the language stage and the quota rank
    // the threshold-gated funnel: training CTEs + the PR-curve
    // selection (tsel) + the dedup chain, clf_ok = the clean text's
    // exact-decimal logit REACHES the stored max-F1 operating point
    // (z >= threshold) instead of the hard-coded sign
    "a_pipeline_curate_thr" ->
      (QualityTrainCtes + ",\n" + ThresholdCtes + ",\n" +
        DedupBase + ",\n" + NearDupBlock + ",\n" +
      s"""lg AS (SELECT *, $LangBest AS best FROM fl2),
         |lg2 AS (SELECT *, ($LangPred) IN ('en') AS lang_ok FROM lg),
         |clfz AS (SELECT doc_id, SUM(w3.w) AS z FROM (
         |    SELECT doc_id, substr(md5(tok), 1, 2) AS b
         |    FROM (SELECT doc_id, unnest(string_split(clean, ' ')) AS tok
         |          FROM lg2)
         |    WHERE tok <> '') tb JOIN w3 USING (b) GROUP BY doc_id),
         |lg3 AS (SELECT lg2.*,
         |    COALESCE(clfz.z, CAST(0 AS DECIMAL(12,6))) >= tsel.z
         |      AS clf_ok
         |  FROM lg2 LEFT JOIN clfz USING (doc_id) CROSS JOIN tsel),
         |k0 AS (SELECT *, quality_ok AND NOT has_pii AND lang_ok
         |    AND clf_ok AND NOT dup_exact AND NOT dup_near AS keep0
         |  FROM lg3),
         |q AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, keep0
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
         |    AS rn FROM k0),
         |k AS MATERIALIZED (SELECT *, (NOT keep0 OR rn <= 5) AS quota_ok,
         |    keep0 AND (NOT keep0 OR rn <= 5) AS keep FROM q)
         |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM k
         |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
         |  FROM k
         |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
         |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'lang_failed', CAST(SUM(CASE WHEN NOT lang_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'clf_failed', CAST(SUM(CASE WHEN NOT clf_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_exact', CAST(SUM(CASE WHEN dup_exact
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_near', CAST(SUM(CASE WHEN dup_near
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quota_failed', CAST(SUM(CASE WHEN NOT quota_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN keep
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k""".stripMargin),

    "a_pipeline_curate_clf" ->
      (QualityTrainCtes + ",\n" + DedupBase + ",\n" + NearDupBlock + ",\n" +
      s"""lg AS (SELECT *, $LangBest AS best FROM fl2),
         |lg2 AS (SELECT *, ($LangPred) IN ('en') AS lang_ok FROM lg),
         |clfz AS (SELECT doc_id, SUM(w3.w) AS z FROM (
         |    SELECT doc_id, substr(md5(tok), 1, 2) AS b
         |    FROM (SELECT doc_id, unnest(string_split(clean, ' ')) AS tok
         |          FROM lg2)
         |    WHERE tok <> '') tb JOIN w3 USING (b) GROUP BY doc_id),
         |lg3 AS (SELECT lg2.*,
         |    COALESCE(clfz.z, CAST(0 AS DECIMAL(12,6))) > 0 AS clf_ok
         |  FROM lg2 LEFT JOIN clfz USING (doc_id)),
         |k0 AS (SELECT *, quality_ok AND NOT has_pii AND lang_ok
         |    AND clf_ok AND NOT dup_exact AND NOT dup_near AS keep0
         |  FROM lg3),
         |q AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, keep0
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
         |    AS rn FROM k0),
         |k AS MATERIALIZED (SELECT *, (NOT keep0 OR rn <= 5) AS quota_ok,
         |    keep0 AND (NOT keep0 OR rn <= 5) AS keep FROM q)
         |SELECT 'ingested' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM k
         |UNION ALL SELECT 'markup_stripped', CAST(COUNT(*) AS BIGINT)
         |  FROM k
         |UNION ALL SELECT 'mojibake_repaired', CAST(SUM(CASE WHEN repaired
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'pii_flagged', CAST(SUM(CASE WHEN has_pii
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quality_failed', CAST(SUM(CASE WHEN NOT
         |  quality_ok THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'lang_failed', CAST(SUM(CASE WHEN NOT lang_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'clf_failed', CAST(SUM(CASE WHEN NOT clf_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_exact', CAST(SUM(CASE WHEN dup_exact
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'dup_near', CAST(SUM(CASE WHEN dup_near
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'quota_failed', CAST(SUM(CASE WHEN NOT quota_ok
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k
         |UNION ALL SELECT 'kept', CAST(SUM(CASE WHEN keep
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM k""".stripMargin),

    // every signal is the exact fragment its dedicated query gates
    // (PII census, Gopher rules, marker language ID), pointed at the
    // raw text via the clean alias; ratios are exact floor-div ppm
    "q_corpus_datasheet" ->
      (s"""WITH fl AS (SELECT doc_id, text AS clean FROM documents),
         |lg AS (SELECT *, $LangBest AS best FROM fl),
         |m AS (SELECT doc_id, md5(clean) AS h,
         |    CAST(len(string_split(clean, ' ')) AS BIGINT) AS nt,
         |    $PiiExpr AS has_pii,
         |    $QualityExpr AS quality_ok,
         |    ($LangPred) = 'en' AS is_en
         |  FROM lg),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts,
         |    CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pii_docs,
         |    CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_quality_pass,
         |    CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_english
         |  FROM m)
         |SELECT n_docs, n_tokens,
         |  CAST(n_tokens // n_docs AS BIGINT) AS mean_tokens,
         |  n_distinct_texts,
         |  CAST((n_docs - n_distinct_texts) * 1000000 // n_docs
         |    AS BIGINT) AS dup_ppm,
         |  CAST(n_pii_docs * 1000000 // n_docs AS BIGINT) AS pii_ppm,
         |  CAST(n_quality_pass * 1000000 // n_docs AS BIGINT)
         |    AS quality_ppm,
         |  CAST(n_english * 1000000 // n_docs AS BIGINT) AS english_ppm
         |FROM a""".stripMargin),

    // the easy-first order replayed naively: df table, per-doc rare
    // share, one global ROW_NUMBER over the (rare_ppm, length, id) key
    "t_curriculum_order" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
        |    AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  GROUP BY 1, 2),
        |dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf
        |  GROUP BY 1),
        |pd AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN df <= 2 THEN tf ELSE 0 END) AS BIGINT)
        |      AS rare
        |  FROM tf JOIN dfq USING (tok) GROUP BY doc_id),
        |r AS (SELECT doc_id, n_tokens,
        |    CAST(rare * 1000000 // n_tokens AS BIGINT) AS rare_ppm
        |  FROM pd)
        |SELECT * FROM (
        |  SELECT ROW_NUMBER() OVER (ORDER BY rare_ppm, n_tokens,
        |      doc_id) AS position,
        |    doc_id, n_tokens, rare_ppm FROM r)
        |WHERE position <= 100""".stripMargin,

    "t_novelty_curve" ->
      """WITH tk AS (SELECT doc_id // 50 AS batch,
        |    string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT DISTINCT batch,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM tk WHERE len(t) >= 3),
        |first AS (SELECT g, MIN(batch) AS fb FROM g GROUP BY g),
        |pb AS (SELECT batch, COUNT(*) AS batch_vocab FROM g GROUP BY 1),
        |news AS (SELECT fb AS batch, COUNT(*) AS new_grams
        |  FROM first GROUP BY 1)
        |SELECT pb.batch, pb.batch_vocab,
        |  COALESCE(news.new_grams, 0) AS new_grams,
        |  (COALESCE(news.new_grams, 0) * 1000000) // pb.batch_vocab
        |    AS novelty_ppm,
        |  CAST(SUM(COALESCE(news.new_grams, 0)) OVER (ORDER BY pb.batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM pb LEFT JOIN news USING (batch)""".stripMargin,

    "t_tfidf_topk" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tok) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, tok, tf, df, n_docs,
         |    CAST(tf AS DOUBLE) * CAST(n_docs + 1 AS DOUBLE) /
         |      CAST(df + 1 AS DOUBLE) AS qscore
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN nd),
         |r AS (SELECT doc_id, tok, tf, df, n_docs, row_number() OVER (
         |    PARTITION BY doc_id
         |    ORDER BY qscore DESC, tf DESC, df ASC, tok ASC) AS rn
         |  FROM scored)
         |SELECT doc_id, tok, rn, tf, df, n_docs FROM r WHERE rn <= 3"""
        .stripMargin,

    "t_chunk_overlap" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tk FROM documents),
         |st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS s
         |  FROM toks WHERE len(tk) > 0)
         |SELECT doc_id, CAST(s // 24 AS INTEGER) AS chunk_idx,
         |  array_to_string(tk[s+1:s+32], ' ') AS chunk_text,
         |  len(tk[s+1:s+32]) AS n_chunk_tokens
         |FROM st""".stripMargin,

    "t_dsir_weights" ->
      s"""WITH bg AS (SELECT doc_id, source, substr(md5(bigram), 1, 2) AS b
         |  FROM (SELECT doc_id, source, unnest(
         |      CASE WHEN len($tok) < 2 THEN []
         |           ELSE list_transform(range(1, len($tok)),
         |                  i -> array_to_string(($tok)[i:i+1], ' ')) END)
         |      AS bigram FROM documents)),
         |f AS (SELECT doc_id, source, b, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3),
         |raw AS (SELECT b, CAST(SUM(k) AS BIGINT) AS nr FROM f GROUP BY 1),
         |tgt AS (SELECT b, CAST(SUM(k) AS BIGINT) AS nt FROM f
         |  WHERE source = '$DsirTarget' GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(SUM(k) AS BIGINT) FROM f) AS rtot,
         |    (SELECT CAST(SUM(k) AS BIGINT) FROM f
         |     WHERE source = '$DsirTarget') AS ttot),
         |lam AS (SELECT b, CAST(round(ln(
         |      CAST((COALESCE(nt, 0) + 1) * (rtot + 256) AS DOUBLE) /
         |      CAST((nr + 1) * (ttot + 256) AS DOUBLE)), 4)
         |    AS DECIMAL(18,4)) AS lam
         |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot)
         |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(CAST(k AS DECIMAL(18,0)) * lam) AS DOUBLE) AS logw
         |FROM f JOIN lam USING (b) GROUP BY doc_id
         |ORDER BY logw DESC, doc_id ASC LIMIT 100""".stripMargin,

    "t_quality_classifier" -> {
      val cases = ClfWeights.map { case (b, w) =>
        s"WHEN '$b' THEN CAST($w AS DECIMAL(2,1))"
      }.mkString(" ")
      s"""WITH f AS (SELECT doc_id,
         |    (CASE substr(md5(tok), 1, 1) $cases END) AS w
         |  FROM (SELECT doc_id, unnest($tok) AS tok FROM documents)),
         |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    SUM(w) AS dot
         |  FROM f GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(CAST(dot AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS logit,
         |  dot > 0 AS kept
         |FROM d""".stripMargin
    },

    "t_boilerplate_scrub" ->
      s"""WITH base AS (SELECT doc_id, source,
         |    string_split('nav ' || source || ' $NavTail ' || text, ' ')
         |      AS tok FROM documents),
         |segs AS (SELECT doc_id, source, u.pos AS pos, u.seg AS seg
         |  FROM (SELECT doc_id, source, unnest(list_transform(
         |      range(0, (len(tok)-1)//10 + 1),
         |      i -> struct_pack(pos := i,
         |        seg := array_to_string(tok[i*10+1:i*10+10], ' ')))) AS u
         |    FROM base)),
         |boiler AS (SELECT source, seg FROM segs
         |  GROUP BY source, seg HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT doc_id, COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_boiler,
         |  COALESCE(string_agg(CASE WHEN b.seg IS NULL
         |      THEN s.seg END, ' ' ORDER BY pos), '') AS clean_text
         |FROM segs s LEFT JOIN boiler b
         |  ON s.source = b.source AND s.seg = b.seg
         |GROUP BY doc_id""".stripMargin,

    // the driver reads {sfDir}/documents.parquet, so the only legal
    // basename is the literal — the gate checks the engine's metadata
    // extraction and the per-file accounting against it
    "o_file_provenance" ->
      """SELECT 'documents.parquet' AS file_name, count(*) AS n_rows,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin
  )
}
