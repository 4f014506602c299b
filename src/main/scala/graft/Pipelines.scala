package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.MoveResult
import graft.operators.{MoveSink, Paths, Select}
import graft.sources.{Listing, Manifest}

/** The reference's two entry points re-expressed as one declarative plan
  * shape each (SURVEY.md §3): read → filter/join → path rewrite →
  * mapPartitions sink → report DataFrame. Control crosses driver →
  * executors exactly once (at the action); every per-file HTTP probe or
  * sequential driver loop in the reference becomes a distributed scan,
  * join, or task.
  */
object Pipelines {

  /** Pipeline A (app/app.py:156-199): manifest-driven archive copy.
    *
    * The reference's 10,618 sequential `exists()` probes
    * (app/app.py:119-131) become ONE left-semi / left-anti join of the
    * manifest against a listing of the source prefix — at scale the
    * manifest side is small and broadcast, so existence is checked in a
    * single distributed pass with no shuffle of the listing.
    *
    * @param lakeRoot  filesystem root the relative blob paths live under
    *                  (stand-in for the container; file:/ in tests)
    * @return (found, notFound, results): found/notFound carry the
    *         relative blob `path`; results is None when dryRun.
    */
  def pipelineA(spark: SparkSession, manifestCsv: String, lakeRoot: String,
                sourcePrefix: String, targetPrefix: String,
                mode: MoveSink.Mode = MoveSink.Copy, dryRun: Boolean = false)
      : (DataFrame, DataFrame, Option[Dataset[MoveResult]]) = {
    val root = lakeRoot.replaceAll("/+$", "")
    val manifest = Manifest.blobPaths(Manifest.read(spark, manifestCsv), sourcePrefix)

    // listing restricted to the source prefix, distributed across
    // tasks — no driver-side file buffer
    val listed = Listing.listDistributed(spark, s"$root/$sourcePrefix")
      .select(regexp_replace(col("name"), "^" + java.util.regex.Pattern.quote(
        new org.apache.hadoop.fs.Path(root).toUri.getPath + "/"), "").as("path"))

    val found    = manifest.join(listed, Seq("path"), "left_semi")
    val notFound = manifest.join(listed, Seq("path"), "left_anti")

    // The copies run in the manifest scan's tasks (one for one CSV): the
    // broadcast semi-join keeps that split, and Par.spread leaves a plan
    // with an exchange untouched. Measured and rejected: hashing the plan
    // on src into min(defaultParallelism, 8) tasks ran manifest_copy's
    // 129 copies in 4 tasks (local[4]) and cut a warm iteration's wall
    // time 1.45 → 1.07 s, but the extra shuffle stage raised its CPU
    // time 2.38 → 2.75 s (median of 10 paired runs, 0 of 10 lower).
    val plan = found.select(
      concat(lit(root + "/"), col("path")).as("src"),
      concat(lit(root + "/"),
        Paths.rewriteFirstOccurrence(col("path"), sourcePrefix, targetPrefix)).as("dst"))

    val results = if (dryRun) None else Some(MoveSink.run(plan, mode))
    (found, notFound, results)
  }

  /** Pipeline B (app/main.py:229-320): filter-and-move.
    *
    * The reference's sequential filter loop (app/main.py:242-260) with
    * its double content download (app/main.py:57,176) becomes one
    * distributed `binaryFile` scan carrying (path, content) — the date
    * is decided before the content, as the reference does
    * (app/main.py:128-143). On the move path the date bounds prune the
    * scan's file list on the driver, so only in-window files are
    * planned and opened, each once, in executors; the dry-run
    * `decisions` frame reports every listed file and so opens them all.
    *
    * @return (decisions, results): decisions has
    *         (src, dst, keep, reason) for every listed file — the
    *         observable replacement for the interactive confirmation
    *         (X5, app/main.py:269-272); results is None when dryRun.
    */
  def pipelineB(spark: SparkSession, lakeRoot: String,
                sourcePath: String, targetPath: String,
                after: Option[Timestamp] = None, before: Option[Timestamp] = None,
                companyId: Option[String] = None, dryRun: Boolean = false)
      : (DataFrame, Option[Dataset[MoveResult]]) = {
    val root = lakeRoot.replaceAll("/+$", "")
    val files = Listing.withContent(spark, s"$root/$sourcePath")
    val decisions = decisionsOf(files, root, sourcePath, targetPath,
      after, before, companyId)
    val results =
      if (dryRun) None
      else Some(MoveSink.run(decisions.filter(col("keep")), MoveSink.Move))
    (decisions, results)
  }

  /** Pipeline B's per-file decision plan: lake-relative path,
    * rewritten destination, (keep, reason). Works on any binaryFile
    * DataFrame (path, content and the hidden `_metadata` column).
    */
  private def decisionsOf(files: DataFrame, root: String,
                          sourcePath: String, targetPath: String,
                          after: Option[Timestamp], before: Option[Timestamp],
                          companyId: Option[String]): DataFrame = {
    // binaryFile's `path` is a full URI; strip scheme + authority
    // (e.g. abfss://container@acct.dfs.core.windows.net) then the root's
    // own path, leaving the lake-relative path pipelineA also uses
    val withRel = files
      .withColumn("rel", regexp_replace(regexp_replace(
        regexp_replace(col("path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""),
        "^" + java.util.regex.Pattern.quote(
          new org.apache.hadoop.fs.Path(root).toUri.getPath), ""), "^/+", ""))
    // O13 date: binaryFile has no creation time — the modification time
    // is the coalesced file date (reference fallback app/main.py:122-124).
    // It is read from the hidden `_metadata` column, not binaryFile's
    // `modificationTime`: both carry FileStatus.getModificationTime, but
    // a filter on a metadata column is a file filter, so Spark drops
    // out-of-window files from the listing it already holds on the
    // driver and `keep`'s date conjuncts cost no task, stat or open.
    val (keep, reason) = Select.selection(
      col("_metadata.file_modification_time"), decode(col("content"), "UTF-8"),
      after, before, "SalesCompanyId", companyId)
    withRel.select(
      col("path").as("src"),
      concat(lit(root + "/"), regexp_replace(
        Paths.rewriteRelocate(col("rel"), sourcePath, targetPath), "^/+", "")).as("dst"),
      keep.as("keep"), reason.as("reason"))
  }

  /** Pipeline C — corpus curation, the training-data sibling of the
    * file movers: raw crawl payloads (markup in `textCol`) go through
    * the ingest chain the engine's screens define — markup strip
    * (native HtmlToText walk) → mojibake repair → PII census → Gopher
    * structural quality — and a document is KEPT when it passes
    * quality and carries no PII. Every stage is a stateless map-side
    * native expression or regex projection (no UDF, no shuffle), so
    * the decision pass is one scan.
    *
    * @return (decisions, written): decisions has (idCol, clean,
    *         had_markup, repaired, has_pii, quality_ok, keep) for
    *         every input document — the auditable replacement for a
    *         silent drop; written = rows persisted to `output`
    *         (kept docs as (idCol, text)), None when dryRun.
    */
  /** The curation decision projection — STATELESS column algebra: one
    * map-side pass, no shuffle.
    */
  def curateDecisions(raw: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      carry: Seq[String] = Nil): DataFrame = {
    import graft.expressions.{HtmlExprs, TextExprs}
    import graft.functions.Text
    val stripped = HtmlExprs.htmlToText(col(textCol))
    // Par.spread: the screen chain (markup strip, mojibake repair,
    // PII regexes, Gopher tokenization) is the most CPU-dense map in
    // the repo — an under-split input (the two-file dedup-corpus
    // artifact: measured 5.4 s of CPU across 2 tasks) must not
    // serialize it; identity at real scan widths and for streaming
    graft.operators.Par.spread(raw)
      .select(col(idCol) +: carry.map(col) :+ col(textCol).as("__raw") :+
        stripped.as("__st") :+
        TextExprs.fixMojibake(stripped).as("clean"): _*)
      .withColumn("had_markup", col("__st") =!= col("__raw"))
      .withColumn("repaired", col("clean") =!= col("__st"))
      .withColumn("has_pii", {
        val c = Text.piiCounts(col("clean"))
        c.getField("n_emails") + c.getField("n_phones") +
          c.getField("n_ipv4") + c.getField("n_cards") > 0
      })
      .withColumn("quality_ok",
        Text.gopherKeep(col("clean"), Text.tokens(col("clean"))))
      .withColumn("keep", col("quality_ok") && !col("has_pii"))
      .drop("__raw", "__st")
  }

  /** Dedup stage over a [[curateDecisions]] frame — the
    * highest-leverage curation clause, and the training-data analogue
    * of the reference's conjunctive per-file filter
    * (app/main.py:109-146) extended with "is it a duplicate of
    * anything kept before":
    *
    *   - `dup_exact`: an EARLIER document of the same batch (smaller
    *     id) has byte-identical clean text — the first occurrence is
    *     kept, every later copy flagged. One window over the content
    *     hash (hash-partitioned, so 1000 executors each resolve their
    *     own hash ranges; no global sort).
    *   - `dup_near`: the clean text near-duplicates (Jaccard ≥
    *     `threshold` on `n`-gram shingles) ANY document of the
    *     persisted MinHash/LSH band index — the cross-batch memory of
    *     everything already ingested, probed via
    *     [[graft.operators.Dedup.pairsAgainstIndex]] (band equi-join +
    *     exact verify; historical text is never re-read). `None` skips
    *     the stage (flag stays false).
    *
    * `keep` is recomputed as quality ∧ ¬PII ∧ ¬dup_exact ∧ ¬dup_near.
    * Band parameters MUST match the ones the index was built with.
    */
  def curateDedupDecisions(decisions: DataFrame,
                           index: Option[graft.operators.Dedup.BandIndex],
                           idCol: String = "doc_id",
                           n: Int = 5, bands: Int = 3, rowsPerBand: Int = 2,
                           threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstId = min(col(idCol))
      .over(Window.partitionBy(md5(col("clean"))))
    val withExact = decisions
      .withColumn("dup_exact", col(idCol) > firstId)
    val withNear = index match {
      case None => withExact.withColumn("dup_near", lit(false))
      case Some(idx) =>
        val hits = graft.operators.Dedup
          .pairsAgainstIndex(decisions.select(col(idCol), col("clean")),
            idx, idCol, "clean", n, bands, rowsPerBand, threshold)
          .select(col("new_id").as(idCol)).distinct()
          .withColumn("__near", lit(true))
        withExact.join(hits, Seq(idCol), "left")
          .withColumn("dup_near", coalesce(col("__near"), lit(false)))
          .drop("__near")
    }
    withNear.withColumn("keep",
      col("quality_ok") && !col("has_pii") &&
        !col("dup_exact") && !col("dup_near"))
  }

  /** Optional POLICY stages over a decision frame — the knobs that
    * turn the fixed screen chain into a configurable ingest policy:
    *
    *   - `allowedLangs`: adds `lang_ok` = marker-based language ID of
    *     the clean text ∈ the allow-list (stateless projection);
    *   - `classifier`: the TRAINED artifact (the persisted
    *     [[graft.operators.Logistic.Trained]], read back model-sized)
    *     adds `clf_ok` — the exact-decimal logit of the CLEAN text
    *     under the trained hashed-bag-of-features model (the space
    *     the artifact RECORDS — unigram or bigram) reaches the
    *     artifact's stored operating point (z >= threshold when one
    *     was selected from the PR curve; the legacy decimal-sign
    *     contract z > 0 otherwise). The score is
    *     [[graft.operators.Logistic.zInline]]: one map-side fold over
    *     the document's own tokens, no shuffle, streaming-legal —
    *     this is where the model the engine trains, persists,
    *     monitors, and thresholds actually gates ingest;
    *   - `quota`: `(groupCol, n)` adds `quota_ok` — at most `n` KEPT
    *     documents per group, chosen deterministically by md5(id) rank
    *     among the rows that survived every earlier stage (documents
    *     already dropped consume no quota). One keyed window — shuffle
    *     on the group key, the per-domain cap shape of
    *     [[graft.operators.Sampling.quotaCap]];
    *   - `tokenQuota`: `(groupCol, budget)` adds `tq_ok` — the
    *     TRAINING-MIX cap: a data mix budgets TOKENS per source, not
    *     documents. Kept rows accumulate their clean-text token count
    *     in the same deterministic md5(id) order, and a document
    *     stays kept iff the running total INCLUDING it fits the
    *     budget (the prefix rule — an over-budget doc and everything
    *     after it in the order drop, so the kept set is a
    *     deterministic prefix, never a knapsack search). Same keyed
    *     window shuffle as `quota`; composes after it.
    *
    * `keep` is ANDed with each enabled stage's flag; the quota ranks
    * AFTER the language and classifier stages, so rejected documents
    * consume no group budget.
    */
  def curatePolicyDecisions(decisions: DataFrame, idCol: String = "doc_id",
                            allowedLangs: Option[Seq[String]] = None,
                            classifier: Option[graft.operators.Logistic.Trained] = None,
                            quota: Option[(String, Int)] = None,
                            tokenQuota: Option[(String, Long)] = None,
                            tokenBudgets: Option[(String, DataFrame)] = None): DataFrame = {
    require(tokenQuota.isEmpty || tokenBudgets.isEmpty,
      "tokenQuota (one budget for every group) and tokenBudgets " +
        "(per-group budgets) are the same stage — pass one")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    val withLang = allowedLangs match {
      case None => decisions
      case Some(langs) =>
        decisions
          .withColumn("lang_ok",
            Text.langId(Text.tokens(col("clean")))
              .isin(langs.map(_.asInstanceOf[Any]): _*))
          .withColumn("keep", col("keep") && col("lang_ok"))
    }
    val withClf = classifier match {
      case None => withLang
      case Some(m) =>
        withLang
          .withColumn("clf_ok", m.keeps(col("clean")))
          .withColumn("keep", col("keep") && col("clf_ok"))
    }
    val withQuota = quota match {
      case None => withClf
      case Some((groupCol, n)) =>
        // rank only rows still kept: partitioning by (group, keep)
        // gives each group's keepers their own contiguous rank space.
        // BANDED (Banded.rank): every row keeps its flag, so the
        // rank is not top-k-filterable, and a mega source would
        // otherwise sort in ONE task
        graft.operators.Banded
          .rank(withClf, Seq(groupCol, "keep"), idCol, "__rn")
          .withColumn("quota_ok", !col("keep") || col("__rn") <= n)
          .withColumn("keep", col("keep") && col("quota_ok"))
          .drop("__rn")
    }
    def tokenStage(groupCol: String, budgetOf: DataFrame => DataFrame)
        : DataFrame = {
      // BANDED inclusive prefix sum (Banded.prefixSum): the running
      // token total needs every predecessor, so WindowGroupLimit can
      // never help and a mega source is a single-task sort without
      // the banding
      budgetOf(graft.operators.Banded.prefixSum(withQuota,
          Seq(groupCol, "keep"), idCol,
          size(graft.functions.Text.tokens(col("clean"))).cast("long"),
          "__cum"))
        .withColumn("tq_ok", !col("keep") ||
          col("__cum") <= coalesce(col("__budget"),
            lit(Long.MaxValue)))
        .withColumn("keep", col("keep") && col("tq_ok"))
        .drop("__cum", "__budget")
    }
    (tokenQuota, tokenBudgets) match {
      case (None, None) => withQuota
      case (Some((groupCol, budget)), _) =>
        tokenStage(groupCol, _.withColumn("__budget", lit(budget)))
      case (_, Some((groupCol, budgets))) =>
        // per-group budgets (the MixPlan.allocate output): a group
        // with no budget row is UNBOUNDED — the planner names what it
        // constrains, absence is not a zero. A DUPLICATE group row
        // (e.g. plans unioned across runs) would silently multiply
        // decision rows through the left join — fail loudly; the
        // budgets frame is #sources-sized, so the check is one tiny
        // agg.
        val dup = budgets.groupBy(col(groupCol))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"tokenBudgets: duplicate budget row(s) for $groupCol=" +
            s"'${dup.headOption.map(_.get(0)).orNull}' — the budgets " +
            "frame must carry exactly one row per group")
        tokenStage(groupCol, df => df.join(
          broadcast(budgets.select(col(groupCol),
            col("budget").cast("long").as("__budget"))),
          Seq(groupCol), "left"))
    }
  }

  /** The full configurable curation chain over any (idCol, textCol)
    * frame: fixed screens (markup → mojibake → PII → Gopher quality),
    * then the optional dedup stage (exact within-batch + near-dup
    * against a persisted band index), then the optional policy stages
    * (language allow-list, per-group quota).
    */
  def curateChain(raw: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", dedup: Boolean = false,
                  dedupIndex: Option[graft.operators.Dedup.BandIndex] = None,
                  allowedLangs: Option[Seq[String]] = None,
                  classifier: Option[graft.operators.Logistic.Trained] = None,
                  quota: Option[(String, Int)] = None,
                  tokenQuota: Option[(String, Long)] = None,
                  tokenBudgets: Option[(String, DataFrame)] = None): DataFrame = {
    val carry = (quota.map(_._1).toSeq ++ tokenQuota.map(_._1) ++
        tokenBudgets.map(_._1))
      .distinct.filterNot(_ == idCol)
    val screened = curateDecisions(raw, idCol, textCol, carry)
    val deduped =
      if (dedup || dedupIndex.nonEmpty)
        curateDedupDecisions(screened, dedupIndex, idCol)
      else screened
    curatePolicyDecisions(deduped, idCol, allowedLangs, classifier,
      quota, tokenQuota, tokenBudgets)
  }

  def pipelineC(spark: SparkSession, input: String, output: String,
                dryRun: Boolean = false, idCol: String = "doc_id",
                textCol: String = "text", dedup: Boolean = false,
                dedupIndex: Option[graft.operators.Dedup.BandIndex] = None,
                allowedLangs: Option[Seq[String]] = None,
                classifier: Option[graft.operators.Logistic.Trained] = None,
                quota: Option[(String, Int)] = None,
                tokenQuota: Option[(String, Long)] = None)
      : (DataFrame, Option[Long]) = {
    val decisions = curateChain(spark.read.parquet(input), idCol, textCol,
      dedup, dedupIndex, allowedLangs, classifier, quota, tokenQuota)
    if (dryRun) (decisions, None)
    else {
      val kept = decisions.filter(col("keep"))
        .select(col(idCol), col("clean").as(textCol))
      kept.write.mode("overwrite").parquet(output)
      (decisions, Some(spark.read.parquet(output).count()))
    }
  }

  /** Pipeline D — the CRAWL WAVE end-to-end, the crawl-ops sibling of
    * [[pipelineC]] (and of the reference's gated pipeline B,
    * app/main.py:229-320: read → screen → act → report, re-expressed
    * for crawl state). One call chains the whole wave the nine
    * separately-gated crawl operators define:
    *
    *   1. CANONICALIZE + ALIAS-RESOLVE: candidates canonicalize
    *      ([[graft.functions.Urls.canonicalizeUrl]]) and map through
    *      an optional [[graft.operators.CrawlState.resolveCanonical]]
    *      resolution, so one page identity survives however many
    *      aliases reach it;
    *   2. FRONTIER SCREEN: the distinct identities flag against the
    *      PERSISTED url-seen index (one equi-join — the crawled set
    *      is read from the maintained artifact, never re-derived);
    *   3. ROBOTS GATE: the robots table is first BOUNDED to the
    *      wave's own distinct hosts (one left-semi join — the robots
    *      input is every host ever seen, unbounded at crawl scale,
    *      and an explicit broadcast of it is the one hint AQE can
    *      never escape), THEN parsed via the [[graft.functions.
    *      Robots]] column algebra; every NEW url gets its
    *      longest-match verdict and a host with no robots row passes
    *      (crawl default). No forced broadcast: the bounded rules
    *      frame is wave-host-sized and AQE picks broadcast at
    *      runtime when it fits;
    *   3b. TRAP BUDGET (when `trapCap` is set): every gate-passing
    *      url collapses to its path TEMPLATE ([[graft.operators.
    *      CrawlState.urlTemplate]] — the SAME key the
    *      `f_trap_report` detector masses on) and each
    *      (host, template)'s fetch set is capped at `trapCap` urls
    *      in deterministic md5 order — a calendar/session/facet
    *      generator gets a bounded budget per url SHAPE instead of
    *      crawling to exhaustion, without starving the host's real
    *      pages; capped urls flag `trap_capped` in the decisions and
    *      funnel (never silently dropped) and do NOT enter the seen
    *      set — a later wave may spend budget on them;
    *   4. SCHEDULE: the wave's fetch set ranks per host by md5(url)
    *      with fetch_at_ms offsets paced by the PARSED Crawl-delay
    *      (default 1 s) — the executable queue a fetcher fleet
    *      drains. The rank is computed BANDED (rank within
    *      (host, md5-prefix band), offset by the bands' closed-form
    *      cumulative counts): a mega-host that owns most of a wave —
    *      the most common crawl skew — sorts across 256 tasks
    *      instead of one, and because the band is a PREFIX of the
    *      md5 sort key the banded rank equals the single-window rank
    *      row for row;
    *   5. ARTIFACT APPEND: the fetched urls enter the url-seen index
    *      and the fetch log at `fetchedAt` (both through the
    *      retire-aside swap), so the NEXT wave screens against them;
    *   6. LEDGER: the wave's funnel (candidates → aliased →
    *      identities → known → new → blocked → fetched) appends under
    *      `waveId` to the persisted ops ledger
    *      ([[graft.operators.CurationLedger]] — crawl ops page on the
    *      same trend view curation does).
    *
    * Scale shape: candidates are the only corpus-sized frame; the
    * chain is one distinct, two equi-joins (seen set co-keyed by url,
    * robots bounded to the wave's hosts then joined per host) and
    * banded keyed windows — no driver loop, no unbounded broadcast,
    * no single-task sort under host skew, no re-derivation of crawl
    * history. Blocked urls deliberately do NOT enter the seen set:
    * robots change, and a future wave must re-gate them.
    *
    * Two wave shapes share this one chain:
    *   - DISCOVERY (`refetch = false`, the default): only urls the
    *     frontier has never seen are eligible — the outlink/sitemap
    *     feed shape, where known means skip;
    *   - RECRAWL (`refetch = true`): every candidate is eligible —
    *     the caller already selected the refetch budget (e.g.
    *     [[graft.sources.Sitemaps.recrawlPlan]]'s `stale` + `new`
    *     rows), so the frontier screen is informational and a
    *     fetched url's log row ADVANCES (latest-wins max).
    *
    * @param trapCap per-(host, url-template) fetch budget for this
    *                 wave — the ENFORCEMENT of the `f_trap_report`
    *                 signal; None (the default) disables the stage
    *                 entirely (no extra column, no extra funnel row)
    * @return (decisions, funnel): decisions has one row per distinct
    *         final identity (url, host, known, allowed, fetch, rank,
    *         fetch_at_ms, and trap_capped when `trapCap` is set) —
    *         the auditable replacement for a silent drop; funnel is
    *         the (stage, n) report appended to the ledger.
    */
  def crawlWave(spark: SparkSession, candidates: DataFrame,
                robotsTxt: DataFrame, frontierPath: String,
                fetchLogPath: String, fetchedAt: Timestamp,
                waveId: String,
                resolution: Option[DataFrame] = None,
                ledgerPath: Option[String] = None,
                urlCol: String = "url",
                refetch: Boolean = false,
                trapCap: Option[Long] = None,
                dryRun: Boolean = false): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.CrawlState
    val idx = CrawlState.readUrlIndex(spark, frontierPath)
    // Par.spread: per-url regex canonicalization is the wave's
    // CPU-dense map; an under-split candidate feed (one fixture file)
    // must not serialize it (identity at real scan widths)
    val spreadCands = graft.operators.Par.spread(candidates)
    // 1. one row per distinct canonical candidate with its final
    //    identity (identity mapping when no resolution is supplied)
    val resolved = (resolution match {
      case Some(r) => CrawlState.resolveUrls(spreadCands, r, urlCol)
      case None => spreadCands
        .select(graft.functions.Urls.canonicalizeUrl(col(urlCol))
          .as("url"))
        .filter(col("url").isNotNull)
        .withColumn("final_url", col("url"))
    }).distinct().localCheckpoint(false) // feeds the funnel + the screen
    // 2. frontier screen on the resolved identities
    val screened = CrawlState.screenUrls(
      resolved.select(col("final_url").as("url")), idx)
    // 3. robots gate — rules BOUNDED to the wave's own hosts before
    //    parsing (the robots input is every host ever seen; the
    //    wave's host set is the bound that actually holds), and NO
    //    forced broadcast: AQE picks broadcast at runtime when the
    //    bounded frame fits, instead of a hint that OOMs the driver
    //    at web-crawl host counts
    //    The host bound reads off the CHECKPOINTED resolved frame,
    //    not `screened` — deriving it from screened would plant the
    //    corpus-sized screen join UNDER the rules branch too and
    //    execute it twice per wave
    val rules = boundedRobotsRules(robotsTxt,
      resolved.select(graft.operators.CrawlState
        .hostOf(col("final_url")).as("host")).distinct())
    val gated = screened.join(rules, Seq("host"), "left")
      .withColumn("allowed", coalesce(
        graft.functions.Robots.isAllowed(col("rules"),
          graft.functions.Robots.urlPath(col("url"))), lit(true)))
      .withColumn("__eligible",
        if (refetch) lit(true) else !col("known"))
      .withColumn("__fetch0", col("__eligible") && col("allowed"))
    // 3b. trap budget: cap each (host, template)'s fetch set — the
    //     f_trap_report signal acted on instead of reported. The
    //     capped urls stay in the decisions (trap_capped) and the
    //     funnel; banded rank for the same skew reason as step 4
    //     (the trap template IS the mega-mass key by definition).
    val trapped = trapCap match {
      case Some(cap) =>
        require(cap >= 1, s"trapCap must be >= 1, got $cap")
        bandedRank(
          gated.withColumn("__tmpl",
            graft.operators.CrawlState.urlTemplate(col("url"))),
          Seq("host", "__tmpl", "__fetch0"), "__trank")
          .withColumn("trap_capped",
            col("__fetch0") && col("__trank") > cap)
          .withColumn("fetch", col("__fetch0") && !col("trap_capped"))
          .drop("__tmpl", "__trank")
      case None => gated.withColumn("fetch", col("__fetch0"))
    }
    // 4. per-host deterministic schedule over this wave's fetch set —
    //    banded against single-host skew (rank == the one-window rank
    //    row for row; see the Scaladoc)
    // eager: the decision plan scans the PRE-swap artifact files,
    //    which step 5's swap retires — materialize before mutating
    val decisions = bandedRank(trapped, Seq("host", "fetch"), "__rn")
      .withColumn("rank", when(col("fetch"), col("__rn")))
      .withColumn("fetch_at_ms", when(col("fetch"),
        (col("__rn") - 1) * coalesce(col("delay_s"), lit(1L)) * 1000))
      .select(col("url") +: col("host") +: col("known") +:
        col("allowed") +: col("fetch") +: col("rank") +:
        col("fetch_at_ms") +:
        (if (trapCap.nonEmpty) Seq(col("trap_capped")) else Nil): _*)
      .localCheckpoint(true)
    // 5. the fetched urls enter both persisted artifacts — skipped
    //    entirely for an empty fetch set: appending zero rows would
    //    still REWRITE both artifacts (parquet is immutable), a real
    //    cost against a billion-url index for a wave that did nothing
    val fetched = decisions.filter(col("fetch")).select(col("url"))
    if (!dryRun && !fetched.isEmpty) {
      CrawlState.writeUrlIndex(CrawlState.appendUrls(idx, fetched),
        s"$frontierPath.next")
      graft.operators.Dedup.swapDirs(spark, frontierPath,
        s"$frontierPath.next")
      CrawlState.writeFetchLog(CrawlState.appendFetches(
          CrawlState.readFetchLog(spark, fetchLogPath),
          fetched.withColumn("fetched_at", lit(fetchedAt))),
        s"$fetchLogPath.next")
      graft.operators.Dedup.swapDirs(spark, fetchLogPath,
        s"$fetchLogPath.next")
    }
    // 6. the per-wave funnel — the crawl-ops trail the ledger trends
    val resStats = resolved.agg(
      count(lit(1)).as("s_candidates"),
      sum(when(col("final_url") =!= col("url"), 1L).otherwise(0L))
        .as("s_aliased"))
    // blocked counts the ELIGIBLE urls robots refused: the new ones
    // in discovery mode, every candidate in refetch mode
    val blockedCond =
      if (refetch) !col("allowed") else !col("known") && !col("allowed")
    val decAggs = Seq(
      count(lit(1)).as("s_identities"),
      sum(when(col("known"), 1L).otherwise(0L)).as("s_known"),
      sum(when(!col("known"), 1L).otherwise(0L)).as("s_new"),
      sum(when(blockedCond, 1L).otherwise(0L)).as("s_blocked"),
      sum(when(col("fetch"), 1L).otherwise(0L)).as("s_fetched")) ++
      (if (trapCap.nonEmpty)
        Seq(sum(when(col("trap_capped"), 1L).otherwise(0L))
          .as("s_trap_capped"))
       else Nil)
    val decStats = decisions.agg(decAggs.head, decAggs.tail: _*)
    val stages = Seq("candidates", "aliased", "identities", "known",
      "new", "blocked") ++
      (if (trapCap.nonEmpty) Seq("trap_capped") else Nil) ++
      Seq("fetched")
    val funnel = resStats.crossJoin(decStats)
      .select(explode(array(stages.map(st =>
        struct(lit(st).as("stage"), col(s"s_$st").as("n"))): _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.n").as("n"))
    ledgerPath.foreach { lp =>
      if (!dryRun)
        graft.operators.CurationLedger.append(spark, lp, waveId, funnel)
    }
    (decisions, funnel)
  }

  /** The robots table BOUNDED to a host frame, then parsed: one
    * left-semi join restricts the (host, txt) payloads to the hosts
    * actually in play before the per-host rule arrays exist at all —
    * the robots input is every host ever seen (unbounded at crawl
    * scale), so parsing or broadcasting it unrestricted is the first
    * plan to die at 100×. No broadcast hint here: the bounded frame
    * is wave-host-sized and AQE converts the downstream join to
    * broadcast at runtime when it fits.
    */
  private[graft] def boundedRobotsRules(robotsTxt: DataFrame,
                                        hosts: DataFrame): DataFrame =
    robotsTxt.select(lower(trim(col("host"))).as("host"), col("txt"))
      .join(hosts, Seq("host"), "left_semi")
      .select(col("host"),
        graft.functions.Robots.parseRules(col("txt")).as("rules"),
        coalesce(graft.functions.Robots.crawlDelay(col("txt")), lit(1L))
          .as("delay_s"))

  /** Deterministic per-key rank by (md5(url), url), computed BANDED
    * ([[graft.operators.Banded.rank]]): equals `row_number over
    * (partition by keys order by md5(url), url)` row for row — but a
    * key that owns most of the frame (the mega-host skew every crawl
    * has) sorts across up to 256 tasks instead of one.
    */
  private[graft] def bandedRank(df: DataFrame, keys: Seq[String],
                                rankCol: String): DataFrame =
    graft.operators.Banded.rank(df, keys, "url", rankCol)

  /** The funnel report over [[pipelineC]] decisions — the per-stage
    * counts an ingest job logs (and alerts on) every day. Optional
    * stage columns (`dup_exact`/`dup_near` from
    * [[curateDedupDecisions]], `lang_ok`/`quota_ok` from the
    * configurable stages) contribute a funnel row only when present.
    */
  def curationReport(decisions: DataFrame): DataFrame = {
    val have = decisions.columns.toSet
    // (decision column, funnel stage name, flagged-when)
    val optional = Seq(
      ("lang_ok", "lang_failed", () => !col("lang_ok")),
      ("clf_ok", "clf_failed", () => !col("clf_ok")),
      ("dup_exact", "dup_exact", () => col("dup_exact")),
      ("dup_near", "dup_near", () => col("dup_near")),
      ("quota_ok", "quota_failed", () => !col("quota_ok")),
      ("tq_ok", "token_quota_failed", () => !col("tq_ok"))
    ).filter(c => have(c._1))
    val aggs = Seq(
      ("ingested", count(lit(1)).as("ingested")),
      ("markup_stripped",
        sum(when(col("had_markup"), 1L).otherwise(0L)).as("markup_stripped")),
      ("mojibake_repaired",
        sum(when(col("repaired"), 1L).otherwise(0L)).as("mojibake_repaired")),
      ("pii_flagged",
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("pii_flagged")),
      ("quality_failed",
        sum(when(!col("quality_ok"), 1L).otherwise(0L)).as("quality_failed"))
    ) ++ optional.map { case (_, stage, flagged) =>
      (stage, sum(when(flagged(), 1L).otherwise(0L)).as(stage))
    } :+ ("kept", sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
    val d = decisions.agg(aggs.head._2, aggs.tail.map(_._2): _*)
    d.select(explode(array(aggs.map { case (stage, _) =>
        struct(lit(stage).as("stage"), col(stage).as("n")) }: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.n").as("n"))
  }
}
