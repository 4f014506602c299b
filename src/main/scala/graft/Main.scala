package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CrawlState, Dedup, MoveSink, Report, Similarity}

/** Thin operational entry point — the drop-in equivalent of the
  * reference's env-driven scripts (app/config.py via .env;
  * app/main.py:20-29's filter/target knobs; app/app.py's manifest
  * pipeline). The engine itself stays a parameter-driven library;
  * this main only resolves knobs (flags first, `GRAFT_*` environment
  * variables as fallback — mirroring the reference's .env contract),
  * prints the resolved config like the reference does, runs the
  * pipeline, and prints the status report.
  *
  * Usage:
  *   graft.Main pipelineA --lake-root URI --manifest CSV
  *     --source PREFIX --target PREFIX [--mode copy|copyasync|move]
  *     [--dry-run]
  *   graft.Main pipelineB --lake-root URI --source PREFIX
  *     --target PREFIX [--after 'yyyy-MM-dd HH:mm:ss']
  *     [--before 'yyyy-MM-dd HH:mm:ss'] [--company-id ID] [--dry-run]
  *
  * Env fallbacks: GRAFT_LAKE_ROOT, GRAFT_MANIFEST, GRAFT_SOURCE_PATH,
  * GRAFT_TARGET_PATH, GRAFT_FILTER_AFTER, GRAFT_FILTER_BEFORE,
  * GRAFT_COMPANY_ID, GRAFT_MODE, GRAFT_DRY_RUN.
  *
  * Ad-hoc query access (every registered analytics query, from the
  * shell — `query list` prints the catalog):
  *   graft.Main query <name> --sf-dir DIR [--out PARQUET] [--limit N]
  *
  * Corpus curation (the training-data sibling of the file movers —
  * markup strip → mojibake repair → PII census → Gopher quality →
  * keep/drop, [[Pipelines.pipelineC]]):
  *   graft.Main pipelineC --input PARQUET --output PARQUET [--dry-run]
  *     [--dedup]              exact within-batch dedup stage
  *     [--dedup-index PATH]   + near-dup screen vs a persisted band
  *                            index (implies --dedup)
  *     [--langs en,de]        language allow-list stage
  *     [--classifier PATH]    trained-quality stage: the persisted
  *                            logistic artifact gates keep on the
  *                            clean text's logit under its RECORDED
  *                            feature space — z >= the stored
  *                            PR-curve threshold when one was
  *                            selected (`model threshold`), else the
  *                            legacy decimal sign z > 0
  *     [--quota N]            per-group keep cap
  *     [--quota-col source]   the quota group column (default source)
  *     [--token-quota N]      per-group TOKEN budget (the training-mix
  *                            cap): kept docs accumulate clean-text
  *                            tokens in deterministic md5(id) order,
  *                            a doc stays iff the running total fits
  *     [--token-quota-col source]  its group column
  *     [--update-index]       after a real run, append the KEPT docs
  *                            to --dedup-index (retire-aside swap) —
  *                            the daily-loop closure: tomorrow's
  *                            near-dup screen sees today's keepers
  *     [--update-frontier P]  after a real run, append the KEPT docs'
  *                            outlinks (typed 'a' refs, canonicalized)
  *                            to the URL-seen artifact at P — the
  *                            crawl-loop closure: the next frontier
  *                            wave never re-queues them
  *     [--ledger P --run-id D] after a real run, append this run's
  *                            funnel rows to the persisted ledger at
  *                            P under run key D — the daily-ops
  *                            trail (CurationLedger.trend shows what
  *                            moved since the last run)
  * Prints the per-stage funnel report; kept documents land in
  * `--output` as (doc_id, text) clean text. `--dry-run` audits only.
  *
  * Index-artifact lifecycle (the daily-ingestion ops surface over the
  * persisted MinHash/LSH band index, IVF ANN index, and crawl-frontier
  * URL-seen index — the library functions
  * [[Dedup.buildBandIndex]]/[[Similarity.buildIvfIndex]]/
  * [[CrawlState.buildUrlIndex]] and friends, exposed as verbs):
  *   graft.Main index build|append|merge|compact|erase|stats|check
  *     --kind band|ivf|frontier|fetchlog|robots --index PATH [--dry-run]
  *     [--input PARQUET]      build/append/check: the (new) corpus
  *     [--other PATH]         merge: the second persisted index
  *     [--ids PARQUET]        erase: ids to forget (column `id` —
  *                            urls for frontier; add --by-host to
  *                            treat them as hosts: per-host takedown)
  *     [--centroids PARQUET]  ivf build: the trained quantizer (cid, cv)
  *     [--id-col doc_id|vec_id] [--text-col text] [--vec-col embedding]
  *     [--url-col url]        frontier/fetchlog: the URL column
  *     [--date-col fetched_at] fetchlog: the fetch-date column;
  *                            check --kind fetchlog classifies
  *                            (url, lastmod) entries new/stale/
  *                            fresh/unknown against the log
  *     [--ngram 5] [--bands 3] [--rows-per-band 2] [--partitions 32]
  *     [--threshold 0.5]      band check: Jaccard verify threshold
  *     [--k 3] [--nprobe 2]   ivf check: neighbors per query / probes
  * Mutating verbs write to `PATH.next` and promote via the retire-aside
  * swap (exclusive access for the swap window); `--dry-run` reports the
  * would-be table sizes without writing anything.
  * `compact --kind fetchlog [--retire-before TS]` additionally retires
  * copies last fetched before TS (age-based retention).
  * `--kind robots` is the per-host robots-policy cache
  * ([[CrawlState.RobotsCache]], RFC 9309-style TTL caching):
  * build/append take (host, txt, fetched_at) observation parquet
  * (latest per host wins), `erase --ids` is the per-host takedown,
  * `stats` the hosts-per-fetch-date histogram, and
  * `check --as-of TS [--ttl-hours 24]` prints the TTL report — the
  * robots-refetch list a fleet drains before the next wave.
  *
  * The crawl wave end-to-end (pipeline D, [[Pipelines.crawlWave]]):
  * canonicalize + alias-resolve candidates, screen against the
  * persisted frontier, robots-gate, schedule per host, append the
  * fetched set to the frontier and fetch log, ledger the funnel:
  *   graft.Main crawl (--candidates PARQUET | --spool DIR)
  *     --robots PARQUET --frontier PATH --fetchlog PATH
  *     --fetched-at 'YYYY-MM-DD[ HH:MM:SS]' --wave-id D [--dry-run]
  *     [--resolution PARQUET]  (url, final_url) alias resolution —
  *                             a resolveCanonical output
  *     [--ledger PATH]         append the wave funnel under --wave-id
  *     [--refetch]             every candidate is eligible (the
  *                             recrawl shape: the caller already
  *                             selected the refetch budget, e.g. the
  *                             recrawl plan's stale+new rows);
  *                             default is discovery (unknown only)
  *     [--trap-cap N]          per-(host, url-template) fetch budget:
  *                             a generated url space (calendar pages,
  *                             session ids, facets) schedules at most
  *                             N fetches per template this wave,
  *                             flagged trap_capped in the funnel
  *     [--url-col url]
  * robots PARQUET carries (host, txt) — the fetched robots.txt
  * payloads verbatim; parsing happens in-engine. `--spool DIR` runs
  * SITEMAP DISCOVERY instead of reading a candidate parquet: the
  * robots table's `Sitemap:` declarations resolve against the fetched
  * sitemap spool at DIR ([[graft.sources.Sitemaps.readFrom]] +
  * [[graft.sources.Sitemaps.expand]]) and the declared url set IS the
  * wave — robots → spool → expand → wave as one verb.
  *
  * Classifier-model lifecycle (the artifact ops surface for the
  * trained logistic quality model — train once recording the feature
  * space, warm-start retrain, PR-curve threshold selection persisted
  * into the artifact, deploy-score, drift, rank-based eval):
  *   graft.Main model train --input PARQUET --out PATH
  *     (--target-source V | --label-col C) [--epochs 3] [--lr 0.5]
  *     [--gram 1|2]           hashed unigram / word-bigram features
  *                            (recorded in the artifact meta; every
  *                            later verb resolves it from there)
  *   graft.Main model retrain --model PATH --input PARQUET
  *     (--target-source V | --label-col C) [--epochs N]  (swap-promote;
  *     feature space + stored threshold carry over)
  *   graft.Main model threshold --model PATH --input PARQUET
  *     (--target-source V | --label-col C) [--min-precision-ppm N]
  *     selects the operating point from the PR curve over the labeled
  *     eval set (max-F1, or highest-recall at the precision target)
  *     and stores it in the artifact meta — deployment gates z >= it
  *   graft.Main model score --model PATH --input PARQUET [--out P]
  *     (kept = the artifact's own stored operating point)
  *   graft.Main model drift --model PATH --other PATH
  *   graft.Main model eval --model PATH --input PARQUET
  *     (--target-source V | --label-col C)
  *   [--id-col doc_id] [--text-col text] [--dry-run]
  *
  * Cascading right-to-be-forgotten across every derived artifact in
  * one command (each through its own retire-aside swap; the report
  * lists before/after per table so a half-applied takedown can't
  * hide):
  *   graft.Main takedown [--dry-run]
  *     [--band PATH --doc-ids PARQUET]
  *     [--ivf PATH --vec-ids PARQUET]
  *     [--frontier PATH (--urls PARQUET | --hosts PARQUET)]
  *     [--fetchlog PATH --urls PARQUET]
  *     [--robots PATH --hosts PARQUET]
  *                            the robots-policy cache: a removed host
  *                            must not even leave its policy text
  *     [--provenance PATH --doc-ids PARQUET]
  *                            the training-provenance probe: BEFORE
  *                            any index mutates, report every artifact
  *                            the doc ids influenced — row-level kinds
  *                            erase in place, trained AGGREGATES
  *                            (classifier weights, vocabularies) are
  *                            flagged retrain_required with the erased
  *                            share in ppm (operators.Provenance —
  *                            provenance-only invocations return the
  *                            impact report itself)
  * Every ids parquet carries one column `id`.
  */
object Main {

  final case class Config(
      pipeline: String,
      lakeRoot: String,
      manifest: Option[String],
      source: String,
      target: String,
      after: Option[Timestamp],
      before: Option[Timestamp],
      companyId: Option[String],
      mode: MoveSink.Mode,
      dryRun: Boolean)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** Parse a CLI `YYYY-MM-DD[ HH:MM:SS]` wall-clock string as a UTC
    * instant. `Timestamp.valueOf` would interpret it in the driver
    * JVM's DEFAULT timezone while the session pins
    * `spark.sql.session.timeZone=UTC` — on a non-UTC driver every CLI
    * timestamp would silently shift by the JVM offset relative to the
    * artifacts' stored instants (and to recrawl lastmods parsed with
    * explicit offsets), skewing exactly the boundary classifications
    * the timestamp-precision fetch log exists to catch. Throws
    * IllegalArgumentException on garbage like the rest of the parser.
    */
  private[graft] def utcTimestamp(v: String): Timestamp =
    try Timestamp.from(java.time.LocalDateTime
      .parse(if (v.length == 10) s"${v}T00:00:00" else v.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))
    catch { case e: java.time.format.DateTimeParseException =>
      throw new IllegalArgumentException(e.getMessage)
    }

  /** Flags beat env vars; both mirror the reference's knob names. */
  private[graft] def parse(args: Seq[String],
                           env: Map[String, String] = sys.env): Config = {
    if (args.isEmpty) fail("missing pipeline: pipelineA | pipelineB")
    val pipeline = args.head match {
      case p @ ("pipelineA" | "pipelineB") => p
      case other => fail(s"unknown pipeline: $other")
    }
    val flags = parseFlags(args.tail, Set("dry-run", "lake-root",
      "manifest", "source", "target", "after", "before", "company-id",
      "mode"))
    def knob(flag: String, envKey: String): Option[String] =
      flags.get(flag).orElse(env.get(envKey)).filter(_.nonEmpty)
    def required(flag: String, envKey: String): String =
      knob(flag, envKey).getOrElse(fail(s"missing --$flag (or $envKey)"))
    def ts(flag: String, envKey: String): Option[Timestamp] =
      knob(flag, envKey).map(utcTimestamp)
    val mode = knob("mode", "GRAFT_MODE").map(_.toLowerCase) match {
      case None | Some("copy") => MoveSink.Copy
      case Some("copyasync")   => MoveSink.CopyAsync
      case Some("move")        => MoveSink.Move
      case Some(other)         => fail(s"unknown mode: $other")
    }
    Config(
      pipeline = pipeline,
      lakeRoot = required("lake-root", "GRAFT_LAKE_ROOT"),
      manifest = knob("manifest", "GRAFT_MANIFEST"),
      source = required("source", "GRAFT_SOURCE_PATH"),
      target = required("target", "GRAFT_TARGET_PATH"),
      after = ts("after", "GRAFT_FILTER_AFTER"),
      before = ts("before", "GRAFT_FILTER_BEFORE"),
      companyId = knob("company-id", "GRAFT_COMPANY_ID"),
      mode = mode,
      dryRun = flags.contains("dry-run") ||
        env.get("GRAFT_DRY_RUN").exists(_.equalsIgnoreCase("true")))
  }

  final case class CurateConfig(input: String, output: String,
                                dryRun: Boolean,
                                dedup: Boolean = false,
                                dedupIndex: Option[String] = None,
                                langs: Option[Seq[String]] = None,
                                classifier: Option[String] = None,
                                quota: Option[(String, Int)] = None,
                                tokenQuota: Option[(String, Long)] = None,
                                updateIndex: Boolean = false,
                                updateFrontier: Option[String] = None,
                                ledger: Option[String] = None,
                                runId: Option[String] = None)

  /** Collect `--flag value` pairs (plus bare `--dry-run`), failing
    * loudly on anything not in `known` — a typoed flag on an
    * artifact-mutating CLI must not silently fall back to a default.
    */
  private def parseFlags(args: Seq[String], known: Set[String],
                         bare: Set[String] = Set("dry-run"))
      : Map[String, String] = {
    val flags = scala.collection.mutable.Map.empty[String, String]
    var rest = args
    while (rest.nonEmpty) rest match {
      case flag +: t if flag.startsWith("--") &&
          bare(flag.stripPrefix("--")) =>
        val name = flag.stripPrefix("--")
        if (!known(name))
          fail(s"unknown flag: $flag (expected: " +
            known.toSeq.sorted.map("--" + _).mkString(" ") + ")")
        flags += name -> "true"; rest = t
      case flag +: v +: t if flag.startsWith("--") =>
        val name = flag.stripPrefix("--")
        if (!known(name))
          fail(s"unknown flag: $flag (expected: " +
            known.toSeq.sorted.map("--" + _).mkString(" ") + ")")
        flags += name -> v; rest = t
      case flag +: Seq() if flag.startsWith("--") =>
        fail(s"flag $flag is missing its value")
      case other +: _ => fail(s"unexpected argument: $other")
    }
    flags.toMap
  }

  private val curateFlags = Set("dry-run", "input", "output", "dedup",
    "dedup-index", "langs", "classifier", "quota", "quota-col",
    "token-quota", "token-quota-col",
    "update-index", "update-frontier", "ledger", "run-id")
  private val curateBare = Set("dry-run", "dedup", "update-index")

  private[graft] def parseCurate(args: Seq[String]): CurateConfig = {
    val flags = parseFlags(args, curateFlags, curateBare)
    val dry = flags.contains("dry-run")
    val upd = flags.contains("update-index")
    if (upd && !flags.contains("dedup-index"))
      fail("--update-index needs --dedup-index PATH (the artifact to append to)")
    if (upd && dry)
      fail("--update-index is a mutation; it cannot combine with --dry-run")
    if (flags.contains("update-frontier") && dry)
      fail("--update-frontier is a mutation; it cannot combine with --dry-run")
    if (flags.contains("ledger") != flags.contains("run-id"))
      fail("--ledger PATH and --run-id ID come together (each appended " +
        "funnel needs its run key)")
    CurateConfig(
      input = flags.getOrElse("input", fail("missing --input PARQUET")),
      output = flags.getOrElse("output",
        if (dry) "" else fail("missing --output PARQUET")),
      dryRun = dry,
      dedup = flags.contains("dedup") || flags.contains("dedup-index"),
      dedupIndex = flags.get("dedup-index"),
      langs = flags.get("langs")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)),
      classifier = flags.get("classifier"),
      quota = flags.get("quota").map(q =>
        (flags.getOrElse("quota-col", "source"), q.toIntOption
          .getOrElse(fail(s"--quota needs an integer, got: $q")))),
      tokenQuota = flags.get("token-quota").map(q =>
        (flags.getOrElse("token-quota-col", "source"), q.toLongOption
          .getOrElse(fail(s"--token-quota needs an integer, got: $q")))),
      updateIndex = upd,
      updateFrontier = flags.get("update-frontier"),
      ledger = flags.get("ledger"),
      runId = flags.get("run-id"))
  }

  /** Execute the curate verb: run [[Pipelines.pipelineC]] with the
    * configured stages, optionally append the KEPT documents to the
    * persisted band index (`--update-index` — the daily-loop closure:
    * tomorrow's near-dup screen sees today's keepers), and return the
    * funnel report the CLI prints.
    */
  private[graft] def runCurate(spark: SparkSession,
                               cfg: CurateConfig): DataFrame = {
    import org.apache.spark.sql.functions.col
    val idx = cfg.dedupIndex.map(Dedup.readBandIndex(spark, _))
    val clf = cfg.classifier
      .map(graft.operators.Logistic.readTrained(spark, _))
    val (decisions, written) = Pipelines.pipelineC(
      spark, cfg.input, cfg.output, cfg.dryRun,
      dedup = cfg.dedup, dedupIndex = idx,
      allowedLangs = cfg.langs, classifier = clf, quota = cfg.quota,
      tokenQuota = cfg.tokenQuota)
    written.foreach(n => println(s"Wrote $n documents to ${cfg.output}"))
    // materialize the report BEFORE any artifact mutation: its plan
    // scans the pre-swap artifact files, which the swap retires
    val report =
      if (cfg.updateIndex || cfg.updateFrontier.nonEmpty)
        Pipelines.curationReport(decisions).localCheckpoint(true)
      else Pipelines.curationReport(decisions)
    if (cfg.updateIndex) {
      val path = cfg.dedupIndex.get
      val kept = spark.read.parquet(cfg.output)
      val fresh = Dedup.buildBandIndex(kept, "doc_id", "text",
        n = 5, bands = 3, rowsPerBand = 2)
      Dedup.writeBandIndex(
        Dedup.mergeBandIndex(Dedup.readBandIndex(spark, path), fresh),
        s"$path.next")
      Dedup.swapDirs(spark, path, s"$path.next")
      println(s"Appended kept documents to $path")
    }
    // close the crawl loop: the KEPT documents' outlinks (typed 'a'
    // refs off the RAW payloads, canonicalized) enter the URL-seen
    // artifact, so the next frontier wave never re-queues them
    // the funnel ledger: this run's report appends under --run-id —
    // the daily-ops trail CurationLedger.trend alerts on (dry runs
    // audit, they do not write history)
    cfg.ledger.foreach { lpath =>
      if (cfg.dryRun)
        println(s"[dry-run] would append funnel to $lpath")
      else {
        graft.operators.CurationLedger.append(spark, lpath,
          cfg.runId.get, report)
        println(s"Appended funnel run ${cfg.runId.get} to $lpath")
      }
    }
    cfg.updateFrontier.foreach { fpath =>
      val keptIds = spark.read.parquet(cfg.output).select(col("doc_id"))
      val outlinks = spark.read.parquet(cfg.input)
        .join(keptIds, Seq("doc_id"), "left_semi")
        .select(org.apache.spark.sql.functions.explode(
          graft.expressions.HtmlExprs.htmlRefs(col("text"))).as("r"))
        .filter(col("r.kind") === "a")
        .select(col("r.url").as("url"))
      CrawlState.writeUrlIndex(CrawlState.appendUrls(
        CrawlState.readUrlIndex(spark, fpath), outlinks), s"$fpath.next")
      Dedup.swapDirs(spark, fpath, s"$fpath.next")
      println(s"Appended kept documents' outlinks to $fpath")
    }
    report
  }

  final case class CrawlConfig(
      candidates: Option[String], spool: Option[String], robots: String,
      frontier: String,
      fetchLog: String, fetchedAt: Timestamp, waveId: String,
      resolution: Option[String], ledger: Option[String],
      urlCol: String, refetch: Boolean, trapCap: Option[Long],
      dryRun: Boolean)

  private[graft] def parseCrawl(args: Seq[String]): CrawlConfig = {
    val flags = parseFlags(args, Set("candidates", "spool", "robots",
      "frontier", "fetchlog", "fetched-at", "wave-id", "resolution",
      "ledger", "url-col", "refetch", "trap-cap", "dry-run"),
      bare = Set("refetch", "dry-run"))
    def req(name: String): String =
      flags.getOrElse(name, fail(s"missing --$name"))
    val cfg = CrawlConfig(
      candidates = flags.get("candidates"), spool = flags.get("spool"),
      robots = req("robots"),
      frontier = req("frontier"), fetchLog = req("fetchlog"),
      fetchedAt = {
        val v = req("fetched-at")
        try utcTimestamp(v)
        catch { case _: IllegalArgumentException =>
          fail(s"--fetched-at needs YYYY-MM-DD[ HH:MM:SS], got: $v") }
      },
      waveId = req("wave-id"),
      resolution = flags.get("resolution"), ledger = flags.get("ledger"),
      urlCol = flags.getOrElse("url-col", "url"),
      refetch = flags.contains("refetch"),
      trapCap = flags.get("trap-cap").map { v =>
        v.toLongOption.filter(_ >= 1L)
          .getOrElse(fail(s"--trap-cap needs a positive integer, got: $v"))
      },
      dryRun = flags.contains("dry-run"))
    if (cfg.candidates.isEmpty == cfg.spool.isEmpty)
      fail("crawl needs exactly one of --candidates or --spool")
    cfg
  }

  /** Execute the crawl verb: [[Pipelines.crawlWave]] over the
    * candidate parquet — canonicalize/resolve, screen against the
    * persisted frontier, robots-gate, schedule, append the fetched
    * set to both crawl-state artifacts, ledger the funnel — and
    * return the funnel report the CLI prints.
    */
  private[graft] def runCrawl(spark: SparkSession,
                              cfg: CrawlConfig): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val robots = spark.read.parquet(cfg.robots)
    // --spool: sitemap DISCOVERY is the wave — the robots table's
    // Sitemap: declarations expand against the fetched spool and the
    // declared url set feeds the chain (one verb for the whole
    // robots → spool → expand → wave composition)
    val candidates = (cfg.candidates, cfg.spool) match {
      case (Some(p), _) => spark.read.parquet(p)
      case (None, Some(sp)) =>
        graft.sources.Sitemaps.expand(
            graft.sources.Sitemaps.readFrom(spark, sp),
            robots.select(explode(
              graft.functions.Robots.sitemapUrls(col("txt")))
              .as("sitemap_url")))
          .select(col("url"))
      case _ => fail("crawl needs exactly one of --candidates or --spool")
    }
    val (_, funnel) = Pipelines.crawlWave(spark, candidates, robots,
      cfg.frontier, cfg.fetchLog, cfg.fetchedAt, cfg.waveId,
      resolution = cfg.resolution.map(spark.read.parquet(_)),
      ledgerPath = cfg.ledger, urlCol = cfg.urlCol,
      refetch = cfg.refetch, trapCap = cfg.trapCap, dryRun = cfg.dryRun)
    funnel
  }

  final case class IndexConfig(
      verb: String, kind: String, index: String,
      input: Option[String], other: Option[String], ids: Option[String],
      centroids: Option[String],
      idCol: String, textCol: String, vecCol: String, urlCol: String,
      dateCol: String,
      ngram: Int, bands: Int, rowsPerBand: Int,
      partitions: Int, threshold: Double, k: Int, nProbe: Int,
      byHost: Boolean, dryRun: Boolean,
      retireBefore: Option[java.sql.Timestamp] = None,
      asOf: Option[java.sql.Timestamp] = None,
      ttlHours: Long = 24L)

  private val indexVerbs =
    Set("build", "append", "merge", "compact", "erase", "stats", "check")

  private val indexFlags = Set("dry-run", "kind", "index", "input",
    "other", "ids", "centroids", "id-col", "text-col", "vec-col",
    "url-col", "date-col", "ngram", "bands", "rows-per-band",
    "partitions", "threshold", "k", "nprobe", "by-host",
    "retire-before", "as-of", "ttl-hours")

  private[graft] def parseIndex(args: Seq[String]): IndexConfig = {
    if (args.isEmpty || !indexVerbs(args.head))
      fail(s"index verb must be one of ${indexVerbs.toSeq.sorted.mkString("|")}")
    val verb = args.head
    val flags = parseFlags(args.tail, indexFlags,
      bare = Set("dry-run", "by-host"))
    val kind = flags.getOrElse("kind",
      fail("missing --kind band|ivf|frontier|fetchlog|robots"))
    if (kind != "band" && kind != "ivf" && kind != "frontier" &&
        kind != "fetchlog" && kind != "robots")
      fail(s"unknown kind: $kind")
    def intFlag(name: String, dflt: Int): Int =
      flags.get(name).map(v => v.toIntOption
        .getOrElse(fail(s"--$name needs an integer, got: $v")))
        .getOrElse(dflt)
    val cfg = IndexConfig(
      verb = verb, kind = kind,
      index = flags.getOrElse("index", fail("missing --index PATH")),
      input = flags.get("input"), other = flags.get("other"),
      ids = flags.get("ids"), centroids = flags.get("centroids"),
      idCol = flags.getOrElse("id-col",
        if (kind == "band") "doc_id" else "vec_id"),
      textCol = flags.getOrElse("text-col", "text"),
      vecCol = flags.getOrElse("vec-col", "embedding"),
      urlCol = flags.getOrElse("url-col", "url"),
      dateCol = flags.getOrElse("date-col", "fetched_at"),
      ngram = intFlag("ngram", 5), bands = intFlag("bands", 3),
      rowsPerBand = intFlag("rows-per-band", 2),
      partitions = intFlag("partitions", 32),
      threshold = flags.get("threshold").map(v => v.toDoubleOption
        .getOrElse(fail(s"--threshold needs a number, got: $v")))
        .getOrElse(0.5),
      k = intFlag("k", 3), nProbe = intFlag("nprobe", 2),
      byHost = flags.contains("by-host"),
      dryRun = flags.contains("dry-run"),
      retireBefore = flags.get("retire-before").map { v =>
        // accepts a date or a full timestamp; loud on garbage
        try utcTimestamp(v)
        catch { case _: IllegalArgumentException =>
          fail(s"--retire-before needs YYYY-MM-DD[ HH:MM:SS], got: $v") }
      },
      asOf = flags.get("as-of").map { v =>
        try utcTimestamp(v)
        catch { case _: IllegalArgumentException =>
          fail(s"--as-of needs YYYY-MM-DD[ HH:MM:SS], got: $v") }
      },
      ttlHours = flags.get("ttl-hours").map(v =>
        v.toLongOption.filter(_ >= 0L)
          .getOrElse(fail(s"--ttl-hours needs an integer >= 0, got: $v")))
        .getOrElse(24L))
    if (cfg.byHost && !(verb == "erase" && kind == "frontier"))
      fail("--by-host applies only to: erase --kind frontier")
    if (cfg.retireBefore.nonEmpty &&
        !(verb == "compact" && kind == "fetchlog"))
      fail("--retire-before applies only to: compact --kind fetchlog")
    if ((cfg.asOf.nonEmpty || flags.contains("ttl-hours")) &&
        !(verb == "check" && kind == "robots"))
      fail("--as-of/--ttl-hours apply only to: check --kind robots")
    if (verb == "check" && kind == "robots" && cfg.asOf.isEmpty)
      fail("check --kind robots needs --as-of TS (the staleness instant)")
    // verb-specific operands fail at parse time, not mid-job
    verb match {
      case "build" | "append" | "check" =>
        // check --kind robots reads the artifact only (the TTL report)
        if (cfg.input.isEmpty && !(verb == "check" && kind == "robots"))
          fail(s"index $verb needs --input PARQUET")
        if (kind == "ivf" && verb == "build" && cfg.centroids.isEmpty)
          fail("ivf build needs --centroids PARQUET (cid, cv)")
      case "merge" =>
        if (cfg.other.isEmpty) fail("index merge needs --other PATH")
      case "erase" =>
        if (cfg.ids.isEmpty) fail("index erase needs --ids PARQUET")
      case _ => ()
    }
    cfg
  }

  /** Execute one index-lifecycle verb; returns the report frame the
    * CLI prints — per-table row counts for mutations (prefixed
    * `would_` under --dry-run, where nothing is written), the health
    * histogram for `stats`.
    */
  private[graft] def runIndex(spark: SparkSession,
                              cfg: IndexConfig): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._

    def bandReport(idx: Dedup.BandIndex): Seq[(String, Long)] = Seq(
      ("sets", idx.sets.count()), ("bands", idx.bands.count()),
      ("dfs", idx.dfs.count()))
    def ivfReport(idx: Similarity.IvfIndex): Seq[(String, Long)] = Seq(
      ("centroids", idx.centroids.count()), ("lists", idx.lists.count()))
    def frontierReport(idx: CrawlState.UrlIndex): Seq[(String, Long)] =
      Seq(("urls", idx.urls.count()))
    def fetchLogReport(log: CrawlState.FetchLog): Seq[(String, Long)] =
      Seq(("fetches", log.fetches.count()))
    def robotsReport(c: CrawlState.RobotsCache): Seq[(String, Long)] =
      Seq(("robots", c.robots.count()))
    val col0 = if (cfg.dryRun) "would_write" else "wrote"
    def report(rows: Seq[(String, Long)]): DataFrame =
      rows.toDF("table", "rows").select(lit(col0).as("action"),
        col("table"), col("rows"))

    def buildBand(input: String): Dedup.BandIndex =
      Dedup.buildBandIndex(spark.read.parquet(input), cfg.idCol,
        cfg.textCol, cfg.ngram, cfg.bands, cfg.rowsPerBand)
    def buildIvf(input: String): Similarity.IvfIndex =
      Similarity.buildIvfIndex(spark.read.parquet(input),
        spark.read.parquet(cfg.centroids.get), cfg.idCol, cfg.vecCol)

    /** Write the mutated artifact to `.next`, count the WRITTEN tables
      * (the lazily-built frame reads the live path, which the swap is
      * about to replace), then swap it live; a dry run skips both
      * writes and counts the lazy plan instead.
      */
    def promoteBand(idx: Dedup.BandIndex): Seq[(String, Long)] =
      if (cfg.dryRun) bandReport(idx)
      else {
        Dedup.writeBandIndex(idx, s"${cfg.index}.next")
        val r = bandReport(Dedup.readBandIndex(spark, s"${cfg.index}.next"))
        Dedup.swapDirs(spark, cfg.index, s"${cfg.index}.next")
        r
      }
    def promoteIvf(idx: Similarity.IvfIndex): Seq[(String, Long)] =
      if (cfg.dryRun) ivfReport(idx)
      else {
        Similarity.writeIvfIndex(idx, s"${cfg.index}.next", cfg.partitions)
        val r = ivfReport(
          Similarity.readIvfIndex(spark, s"${cfg.index}.next"))
        Dedup.swapDirs(spark, cfg.index, s"${cfg.index}.next")
        r
      }
    def promoteFrontier(idx: CrawlState.UrlIndex): Seq[(String, Long)] =
      if (cfg.dryRun) frontierReport(idx)
      else {
        CrawlState.writeUrlIndex(idx, s"${cfg.index}.next")
        val r = frontierReport(
          CrawlState.readUrlIndex(spark, s"${cfg.index}.next"))
        Dedup.swapDirs(spark, cfg.index, s"${cfg.index}.next")
        r
      }
    def promoteFetchLog(log: CrawlState.FetchLog): Seq[(String, Long)] =
      if (cfg.dryRun) fetchLogReport(log)
      else {
        CrawlState.writeFetchLog(log, s"${cfg.index}.next")
        val r = fetchLogReport(
          CrawlState.readFetchLog(spark, s"${cfg.index}.next"))
        Dedup.swapDirs(spark, cfg.index, s"${cfg.index}.next")
        r
      }
    def promoteRobots(c: CrawlState.RobotsCache): Seq[(String, Long)] =
      if (cfg.dryRun) robotsReport(c)
      else {
        CrawlState.writeRobotsCache(c, s"${cfg.index}.next")
        val r = robotsReport(
          CrawlState.readRobotsCache(spark, s"${cfg.index}.next"))
        Dedup.swapDirs(spark, cfg.index, s"${cfg.index}.next")
        r
      }

    /** True when the artifact path already exists — a rebuild, which
      * must go through the retire-aside swap like every other mutating
      * verb (a direct overwrite deletes the live tables before
      * rewriting, so a crash mid-build would destroy the asset).
      */
    def liveExists(): Boolean = {
      val p = new org.apache.hadoop.fs.Path(cfg.index)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

    (cfg.verb, cfg.kind) match {
      case ("build", "band") =>
        val idx = buildBand(cfg.input.get)
        if (cfg.dryRun || liveExists()) report(promoteBand(idx))
        else {
          Dedup.writeBandIndex(idx, cfg.index)
          report(bandReport(Dedup.readBandIndex(spark, cfg.index)))
        }
      case ("build", "ivf") =>
        val idx = buildIvf(cfg.input.get)
        if (cfg.dryRun || liveExists()) report(promoteIvf(idx))
        else {
          Similarity.writeIvfIndex(idx, cfg.index, cfg.partitions)
          report(ivfReport(Similarity.readIvfIndex(spark, cfg.index)))
        }

      case ("build", "frontier") =>
        val idx = CrawlState.buildUrlIndex(
          spark.read.parquet(cfg.input.get), cfg.urlCol)
        if (cfg.dryRun || liveExists()) report(promoteFrontier(idx))
        else {
          CrawlState.writeUrlIndex(idx, cfg.index)
          report(frontierReport(CrawlState.readUrlIndex(spark, cfg.index)))
        }
      case ("append", "frontier") =>
        report(promoteFrontier(CrawlState.appendUrls(
          CrawlState.readUrlIndex(spark, cfg.index),
          spark.read.parquet(cfg.input.get), cfg.urlCol)))
      case ("merge", "frontier") =>
        report(promoteFrontier(CrawlState.mergeUrlIndex(
          CrawlState.readUrlIndex(spark, cfg.index),
          CrawlState.readUrlIndex(spark, cfg.other.get))))
      case ("compact", "frontier") =>
        if (!cfg.dryRun)
          CrawlState.compactUrlIndex(spark, cfg.index, cfg.partitions)
        report(frontierReport(CrawlState.readUrlIndex(spark, cfg.index)))
      case ("erase", "frontier") =>
        val idx = CrawlState.readUrlIndex(spark, cfg.index)
        val ids = spark.read.parquet(cfg.ids.get).select(col("id"))
        report(promoteFrontier(
          if (cfg.byHost) CrawlState.eraseHosts(idx, ids, "id")
          else CrawlState.eraseUrls(idx, ids, "id")))
      // the per-wave frontier check: canonical candidates flagged
      // against the seen set (url, host, known)
      case ("check", "frontier") =>
        CrawlState.screenUrls(spark.read.parquet(cfg.input.get),
          CrawlState.readUrlIndex(spark, cfg.index), cfg.urlCol)
      case ("stats", "frontier") =>
        CrawlState.urlIndexStats(CrawlState.readUrlIndex(spark, cfg.index))

      case ("build", "fetchlog") =>
        val log = CrawlState.buildFetchLog(
          spark.read.parquet(cfg.input.get), cfg.urlCol, cfg.dateCol)
        if (cfg.dryRun || liveExists()) report(promoteFetchLog(log))
        else {
          CrawlState.writeFetchLog(log, cfg.index)
          report(fetchLogReport(CrawlState.readFetchLog(spark, cfg.index)))
        }
      case ("append", "fetchlog") =>
        report(promoteFetchLog(CrawlState.appendFetches(
          CrawlState.readFetchLog(spark, cfg.index),
          spark.read.parquet(cfg.input.get), cfg.urlCol, cfg.dateCol)))
      case ("merge", "fetchlog") =>
        report(promoteFetchLog(CrawlState.mergeFetchLog(
          CrawlState.readFetchLog(spark, cfg.index),
          CrawlState.readFetchLog(spark, cfg.other.get))))
      case ("erase", "fetchlog") =>
        report(promoteFetchLog(CrawlState.eraseFetches(
          CrawlState.readFetchLog(spark, cfg.index),
          spark.read.parquet(cfg.ids.get).select(col("id")), "id")))
      // the recrawl check: declared (url, lastmod) entries classified
      // against the log's copy age — new/stale/fresh/unknown
      case ("check", "fetchlog") =>
        graft.sources.Sitemaps.recrawlPlan(
          spark.read.parquet(cfg.input.get),
          CrawlState.readFetchLog(spark, cfg.index).fetches, cfg.urlCol)
      case ("stats", "fetchlog") =>
        CrawlState.fetchLogStats(CrawlState.readFetchLog(spark, cfg.index))
      // retention + clustering: retire copies older than
      // --retire-before (they reclassify `new` on next declaration),
      // rewrite clustered by url, retire-aside swap
      case ("compact", "fetchlog") =>
        if (!cfg.dryRun)
          CrawlState.compactFetchLog(spark, cfg.index, cfg.partitions,
            cfg.retireBefore)
        report(fetchLogReport(CrawlState.readFetchLog(spark, cfg.index)))

      case ("build", "robots") =>
        val c = CrawlState.buildRobotsCache(
          spark.read.parquet(cfg.input.get), atCol = cfg.dateCol)
        if (cfg.dryRun || liveExists()) report(promoteRobots(c))
        else {
          CrawlState.writeRobotsCache(c, cfg.index)
          report(robotsReport(CrawlState.readRobotsCache(spark, cfg.index)))
        }
      case ("append", "robots") =>
        report(promoteRobots(CrawlState.appendRobots(
          CrawlState.readRobotsCache(spark, cfg.index),
          spark.read.parquet(cfg.input.get), atCol = cfg.dateCol)))
      case ("merge", "robots") =>
        report(promoteRobots(CrawlState.mergeRobotsCache(
          CrawlState.readRobotsCache(spark, cfg.index),
          CrawlState.readRobotsCache(spark, cfg.other.get))))
      case ("erase", "robots") =>
        report(promoteRobots(CrawlState.eraseRobots(
          CrawlState.readRobotsCache(spark, cfg.index),
          spark.read.parquet(cfg.ids.get).select(col("id")), "id")))
      // the pre-wave TTL report: which hosts' cached policies aged
      // out (robots refetch list) — --as-of is the wave instant
      case ("check", "robots") =>
        CrawlState.staleRobots(
          CrawlState.readRobotsCache(spark, cfg.index),
          cfg.asOf.get, cfg.ttlHours)
      // copy-age histogram: hosts per fetch date (the fetchlog stats
      // shape over the policy cache)
      case ("stats", "robots") =>
        CrawlState.readRobotsCache(spark, cfg.index).robots
          .groupBy(to_date(col("fetched_at")).as("fetched_at"))
          .agg(count(lit(1)).as("n_hosts"))
          .orderBy("fetched_at")

      case ("append", "band") =>
        report(promoteBand(Dedup.mergeBandIndex(
          Dedup.readBandIndex(spark, cfg.index), buildBand(cfg.input.get))))
      case ("append", "ivf") =>
        report(promoteIvf(Similarity.appendIvfIndex(
          Similarity.readIvfIndex(spark, cfg.index),
          spark.read.parquet(cfg.input.get), cfg.idCol, cfg.vecCol)))

      case ("merge", "band") =>
        report(promoteBand(Dedup.mergeBandIndex(
          Dedup.readBandIndex(spark, cfg.index),
          Dedup.readBandIndex(spark, cfg.other.get))))
      case ("merge", "ivf") =>
        val a = Similarity.readIvfIndex(spark, cfg.index)
        val b = Similarity.readIvfIndex(spark, cfg.other.get)
        // lists only union under the SAME quantizer — model-sized check
        val ca = a.centroids.orderBy("cid").collect().toSeq
        val cb = b.centroids.orderBy("cid").collect().toSeq
        if (ca != cb) fail("ivf merge: quantizers differ — indexes " +
          "sharing a trained quantizer can merge; others must rebuild")
        report(promoteIvf(Similarity.IvfIndex(a.centroids,
          a.lists.unionByName(b.lists))))

      case ("compact", "band") =>
        if (!cfg.dryRun)
          Dedup.compactBandIndex(spark, cfg.index, cfg.partitions)
        report(bandReport(Dedup.readBandIndex(spark, cfg.index)))
      case ("compact", "ivf") =>
        if (!cfg.dryRun)
          Similarity.compactIvfIndex(spark, cfg.index, cfg.partitions)
        report(ivfReport(Similarity.readIvfIndex(spark, cfg.index)))

      case ("erase", "band") =>
        report(promoteBand(Dedup.eraseFromBandIndex(
          Dedup.readBandIndex(spark, cfg.index),
          spark.read.parquet(cfg.ids.get).select(col("id")))))
      case ("erase", "ivf") =>
        report(promoteIvf(Similarity.eraseFromIvfIndex(
          Similarity.readIvfIndex(spark, cfg.index),
          spark.read.parquet(cfg.ids.get).select(col("id")))))

      // the daily near-dup / neighbor screen: a new batch against the
      // persisted artifact, never re-processing historical data
      case ("check", "band") =>
        Dedup.pairsAgainstIndex(spark.read.parquet(cfg.input.get),
          Dedup.readBandIndex(spark, cfg.index), cfg.idCol, cfg.textCol,
          cfg.ngram, cfg.bands, cfg.rowsPerBand, cfg.threshold)
      case ("check", "ivf") =>
        Similarity.searchIvfIndex(spark.read.parquet(cfg.input.get),
          Similarity.readIvfIndex(spark, cfg.index), cfg.k, cfg.nProbe,
          cfg.idCol, cfg.vecCol)

      // the daily health gates: band-bucket / list-size histograms
      // (d_index_stats and s_index_stats as operable commands)
      case ("stats", "band") =>
        Dedup.readBandIndex(spark, cfg.index).bands
          .groupBy("band", "bkey").agg(count(lit(1)).as("bucket_size"))
          .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
          .orderBy("bucket_size")
      case ("stats", "ivf") =>
        val idx = Similarity.readIvfIndex(spark, cfg.index)
        val k = idx.centroids.count()
        val sizes = idx.lists
          .groupBy("list").agg(count(lit(1)).as("list_size"))
          .localCheckpoint(false)
        val tot = sizes.agg(sum(col("list_size")).as("n"),
          sum(col("list_size") * col("list_size")).as("ss"))
        sizes.groupBy("list_size").agg(count(lit(1)).as("n_lists"))
          .crossJoin(broadcast(tot))
          .select(col("list_size"), col("n_lists"),
            expr(s"$k * ss * 1000000 div (n * n)").as("imbalance_ppm"))
          .orderBy("list_size")

      case (v, k) => fail(s"unsupported: index $v --kind $k")
    }
  }

  final case class ModelConfig(
      verb: String, model: Option[String], input: Option[String],
      out: Option[String], other: Option[String],
      targetSource: Option[String], labelCol: Option[String],
      idCol: String, textCol: String, epochs: Int, lr: Double,
      gram: Option[Int], minPrecisionPpm: Option[Long],
      dryRun: Boolean)

  private val modelVerbs = Set("train", "retrain", "score", "drift",
    "eval", "threshold")
  private val modelFlags = Set("dry-run", "model", "input", "out",
    "other", "target-source", "label-col", "id-col", "text-col",
    "epochs", "lr", "gram", "min-precision-ppm")

  private[graft] def parseModel(args: Seq[String]): ModelConfig = {
    if (args.isEmpty || !modelVerbs(args.head))
      fail(s"model verb must be one of ${modelVerbs.toSeq.sorted.mkString("|")}")
    val verb = args.head
    val flags = parseFlags(args.tail, modelFlags)
    val cfg = ModelConfig(
      verb = verb, model = flags.get("model"),
      input = flags.get("input"), out = flags.get("out"),
      other = flags.get("other"),
      targetSource = flags.get("target-source"),
      labelCol = flags.get("label-col"),
      idCol = flags.getOrElse("id-col", "doc_id"),
      textCol = flags.getOrElse("text-col", "text"),
      epochs = flags.get("epochs").map(v => v.toIntOption
        .getOrElse(fail(s"--epochs needs an integer, got: $v")))
        .getOrElse(3),
      lr = flags.get("lr").map(v => v.toDoubleOption
        .getOrElse(fail(s"--lr needs a number, got: $v")))
        .getOrElse(0.5),
      gram = flags.get("gram").map(v => v.toIntOption
        .filter(g => g == 1 || g == 2)
        .getOrElse(fail(s"--gram must be 1 or 2, got: $v"))),
      minPrecisionPpm = flags.get("min-precision-ppm").map(v =>
        v.toLongOption
          .getOrElse(fail(s"--min-precision-ppm needs an integer, got: $v"))),
      dryRun = flags.contains("dry-run"))
    def needsLabel(): Unit = (cfg.targetSource, cfg.labelCol) match {
      case (Some(_), None) | (None, Some(_)) => ()
      case _ => fail(s"model $verb needs exactly one of " +
        "--target-source VALUE | --label-col COLUMN")
    }
    verb match {
      case "train" =>
        if (cfg.input.isEmpty) fail("model train needs --input PARQUET")
        if (cfg.out.isEmpty) fail("model train needs --out PATH")
        needsLabel()
      case "retrain" =>
        if (cfg.model.isEmpty) fail("model retrain needs --model PATH")
        if (cfg.input.isEmpty) fail("model retrain needs --input PARQUET")
        needsLabel()
      case "score" =>
        if (cfg.model.isEmpty) fail("model score needs --model PATH")
        if (cfg.input.isEmpty) fail("model score needs --input PARQUET")
      case "drift" =>
        if (cfg.model.isEmpty) fail("model drift needs --model PATH")
        if (cfg.other.isEmpty) fail("model drift needs --other PATH")
      case "eval" =>
        if (cfg.model.isEmpty) fail("model eval needs --model PATH")
        if (cfg.input.isEmpty) fail("model eval needs --input PARQUET")
        needsLabel()
      case "threshold" =>
        if (cfg.model.isEmpty) fail("model threshold needs --model PATH")
        if (cfg.input.isEmpty)
          fail("model threshold needs --input PARQUET (labeled eval set)")
        needsLabel()
    }
    cfg
  }

  /** Execute one classifier-model lifecycle verb — the band/ivf
    * artifact ops surface applied to the trained model: train-once
    * (recording the feature space), warm-start retrain (retire-aside
    * swap; space + operating point carry over), PR-curve threshold
    * selection persisted into the artifact meta, deploy-score, drift
    * report, and the rank-based eval battery. Every verb that READS
    * an artifact resolves the feature space from its meta table —
    * and hard-fails on a space this build doesn't know, or on a
    * caller-supplied `--gram` that contradicts the artifact.
    */
  private[graft] def runModel(spark: SparkSession,
                              cfg: ModelConfig): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val L = graft.operators.Logistic
    def label = (cfg.targetSource, cfg.labelCol) match {
      case (Some(v), _) => col("source") === lit(v)
      case (_, Some(c)) => col(c)
      case _ => fail("missing label")
    }
    def liveExists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    def promote(path: String, m: L.Trained): Unit =
      if (!cfg.dryRun) {
        if (liveExists(path)) {
          L.writeTrained(spark, s"$path.next", m)
          Dedup.swapDirs(spark, path, s"$path.next")
        } else L.writeTrained(spark, path, m)
      }
    def readArtifact(path: String): L.Trained = {
      val m = L.readTrained(spark, path)
      cfg.gram.filter(_ != m.gram).foreach(g => fail(
        s"--gram $g contradicts the artifact's recorded feature " +
          s"space ${m.space}: scoring under the wrong featurization " +
          "is silent garbage — retrain into a new artifact instead"))
      m
    }
    def weightsFrame(w: Map[String, BigDecimal]): DataFrame = {
      import spark.implicits._
      w.toSeq.sortBy(_._1).toDF("b", "w")
    }
    cfg.verb match {
      case "train" =>
        val gram = cfg.gram.getOrElse(1)
        val docs = spark.read.parquet(cfg.input.get)
        val feats = L.hashedFeatures(docs, label, cfg.idCol, cfg.textCol,
          2, gram).localCheckpoint(false)
        val w = L.train(spark, feats, docs.count(), cfg.epochs, cfg.lr,
          cfg.idCol).last
        promote(cfg.out.get, L.Trained(w, L.spaceOf(gram)))
        weightsFrame(w)
      case "retrain" =>
        val m0 = readArtifact(cfg.model.get)
        val docs = spark.read.parquet(cfg.input.get)
        val feats = L.hashedFeatures(docs, label, cfg.idCol, cfg.textCol,
          2, m0.gram).localCheckpoint(false)
        val w = L.trainFrom(spark, feats, docs.count(), cfg.epochs,
          cfg.lr, m0.weights, cfg.idCol).last
        promote(cfg.model.get, m0.copy(weights = w))
        L.weightDrift(spark, m0.weights, w)
      case "threshold" =>
        val m0 = readArtifact(cfg.model.get)
        val docs = spark.read.parquet(cfg.input.get)
        val scored = L.scoreInline(docs, m0.weights, cfg.idCol,
            cfg.textCol, 2, m0.gram)
          .filter(col("n_tokens") >= m0.gram)
          .join(docs.select(col(cfg.idCol), label.as("__y")), cfg.idCol)
          .select(col("z"), col("__y").as("y"))
        val sel = L.selectOperatingPoint(L.operatingPoints(scored),
          cfg.minPrecisionPpm).localCheckpoint(true)
        val t = BigDecimal(sel.collect()(0).getDecimal(0))
        promote(cfg.model.get, m0.copy(threshold = Some(t)))
        if (cfg.dryRun) println(s"[dry-run] would store threshold $t")
        else println(s"Stored operating point $t in ${cfg.model.get}")
        sel
      case "score" =>
        val m = readArtifact(cfg.model.get)
        val res = L.scoreInline(spark.read.parquet(cfg.input.get),
            m.weights, cfg.idCol, cfg.textCol, 2, m.gram)
          .withColumn("kept", m.keepsZ(col("z")))
        cfg.out.foreach { o =>
          // --dry-run guards the write like train/retrain's promote():
          // a dry scoring run must never clobber an existing artifact
          if (cfg.dryRun) println(s"[dry-run] would write scores to $o")
          else {
            res.write.mode("overwrite").parquet(o)
            println(s"Wrote scores to $o")
          }
        }
        res
      case "drift" =>
        L.weightDrift(spark, L.readModel(spark, cfg.model.get),
          L.readModel(spark, cfg.other.get))
      case "eval" =>
        val m = readArtifact(cfg.model.get)
        L.evalReport(spark.read.parquet(cfg.input.get),
          m.weights, label, cfg.idCol, cfg.textCol, m.gram, m.threshold)
    }
  }

  final case class TakedownConfig(
      band: Option[(String, String)],
      ivf: Option[(String, String)],
      frontier: Option[(String, String, Boolean)],
      fetchlog: Option[(String, String)],
      robots: Option[(String, String)],
      provenance: Option[(String, String)],
      dryRun: Boolean)

  private val takedownFlags = Set("dry-run", "band", "doc-ids", "ivf",
    "vec-ids", "frontier", "urls", "hosts", "fetchlog", "robots",
    "provenance")

  /** A right-to-be-forgotten request rarely names ONE artifact: a
    * domain removal must leave no trace in the dedup index, the ANN
    * index, or the crawl state. `takedown` cascades the erase across
    * every named artifact in one command, each through its own
    * retire-aside swap — so a half-applied takedown is impossible to
    * miss (the report lists every artifact touched).
    */
  private[graft] def parseTakedown(args: Seq[String]): TakedownConfig = {
    val flags = parseFlags(args, takedownFlags)
    def need(art: String, idsFlag: String): Option[(String, String)] =
      flags.get(art).map { p =>
        (p, flags.getOrElse(idsFlag,
          fail(s"--$art needs --$idsFlag PARQUET (column `id`)")))
      }
    val fr = flags.get("frontier").map { p =>
      (flags.get("urls"), flags.get("hosts")) match {
        case (Some(u), None) => (p, u, false)
        case (None, Some(h)) => (p, h, true)
        case _ => fail("--frontier needs exactly one of --urls PARQUET" +
          " | --hosts PARQUET (column `id`)")
      }
    }
    val cfg = TakedownConfig(
      band = need("band", "doc-ids"),
      ivf = need("ivf", "vec-ids"),
      frontier = fr,
      fetchlog = need("fetchlog", "urls"),
      robots = need("robots", "hosts"),
      provenance = need("provenance", "doc-ids"),
      dryRun = flags.contains("dry-run"))
    if (cfg.band.isEmpty && cfg.ivf.isEmpty && cfg.frontier.isEmpty &&
        cfg.fetchlog.isEmpty && cfg.robots.isEmpty &&
        cfg.provenance.isEmpty)
      fail("takedown needs at least one artifact: --band | --ivf | " +
        "--frontier | --fetchlog | --robots | --provenance")
    cfg
  }

  /** Execute the cascade; returns (artifact, table, before, after)
    * per persisted table — `after` under --dry-run is the would-be
    * count, with nothing written.
    */
  private[graft] def runTakedown(spark: SparkSession,
                                 cfg: TakedownConfig): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def ids(path: String) = spark.read.parquet(path).select(col("id"))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]

    // the provenance probe runs FIRST: the impact report must name
    // the aggregates that need retraining (which no erase below can
    // touch) before any index mutates
    val impact = cfg.provenance.map { case (path, idsP) =>
      val rep = graft.operators.Provenance.influences(
        graft.operators.Provenance.read(spark, path), ids(idsP))
        .orderBy(col("artifact"))
      println("Erasure impact (training provenance):")
      rep.collect().foreach { r =>
        println(s"  ${r.getString(0)} [${r.getString(2)}]: " +
          s"${r.getLong(4)}/${r.getLong(3)} docs (${r.getLong(5)} ppm)")
      }
      rep
    }

    cfg.band.foreach { case (path, idsP) =>
      val before = Dedup.readBandIndex(spark, path)
      val erased = Dedup.eraseFromBandIndex(before, ids(idsP))
      val b = Seq(("sets", before.sets.count()),
        ("bands", before.bands.count()), ("dfs", before.dfs.count()))
      if (!cfg.dryRun) {
        Dedup.writeBandIndex(erased, s"$path.next")
        val fresh = Dedup.readBandIndex(spark, s"$path.next")
        val a = Seq(fresh.sets.count(), fresh.bands.count(),
          fresh.dfs.count())
        Dedup.swapDirs(spark, path, s"$path.next")
        b.zip(a).foreach { case ((t, n0), n1) => out += (("band", t, n0, n1)) }
      } else {
        val a = Seq(erased.sets.count(), erased.bands.count(),
          erased.dfs.count())
        b.zip(a).foreach { case ((t, n0), n1) => out += (("band", t, n0, n1)) }
      }
    }
    cfg.ivf.foreach { case (path, idsP) =>
      val before = Similarity.readIvfIndex(spark, path)
      val erased = Similarity.eraseFromIvfIndex(before, ids(idsP))
      val n0 = before.lists.count()
      if (!cfg.dryRun) {
        Similarity.writeIvfIndex(erased, s"$path.next", 32)
        val n1 = Similarity.readIvfIndex(spark, s"$path.next").lists.count()
        Dedup.swapDirs(spark, path, s"$path.next")
        out += (("ivf", "lists", n0, n1))
      } else out += (("ivf", "lists", n0, erased.lists.count()))
    }
    cfg.frontier.foreach { case (path, idsP, byHost) =>
      val before = CrawlState.readUrlIndex(spark, path)
      val erased =
        if (byHost) CrawlState.eraseHosts(before, ids(idsP), "id")
        else CrawlState.eraseUrls(before, ids(idsP), "id")
      val n0 = before.urls.count()
      if (!cfg.dryRun) {
        CrawlState.writeUrlIndex(erased, s"$path.next")
        val n1 = CrawlState.readUrlIndex(spark, s"$path.next").urls.count()
        Dedup.swapDirs(spark, path, s"$path.next")
        out += (("frontier", "urls", n0, n1))
      } else out += (("frontier", "urls", n0, erased.urls.count()))
    }
    cfg.fetchlog.foreach { case (path, idsP) =>
      val before = CrawlState.readFetchLog(spark, path)
      val erased = CrawlState.eraseFetches(before, ids(idsP), "id")
      val n0 = before.fetches.count()
      if (!cfg.dryRun) {
        CrawlState.writeFetchLog(erased, s"$path.next")
        val n1 = CrawlState.readFetchLog(spark, s"$path.next")
          .fetches.count()
        Dedup.swapDirs(spark, path, s"$path.next")
        out += (("fetchlog", "fetches", n0, n1))
      } else out += (("fetchlog", "fetches", n0, erased.fetches.count()))
    }
    cfg.robots.foreach { case (path, idsP) =>
      val before = CrawlState.readRobotsCache(spark, path)
      val erased = CrawlState.eraseRobots(before, ids(idsP), "id")
      val n0 = before.robots.count()
      if (!cfg.dryRun) {
        CrawlState.writeRobotsCache(erased, s"$path.next")
        val n1 = CrawlState.readRobotsCache(spark, s"$path.next")
          .robots.count()
        Dedup.swapDirs(spark, path, s"$path.next")
        out += (("robots", "robots", n0, n1))
      } else out += (("robots", "robots", n0, erased.robots.count()))
    }
    // a provenance-only invocation IS the audit: return the impact
    // report itself instead of an empty erase frame
    if (out.isEmpty && impact.nonEmpty) impact.get
    else out.toSeq.toDF("artifact", "table", "rows_before", "rows_after")
  }

  /** Run the configured pipeline; returns the status report (dry runs
    * report the would-be decisions instead of executing).
    */
  private[graft] def run(spark: SparkSession, cfg: Config): DataFrame = {
    import org.apache.spark.sql.functions._
    cfg.pipeline match {
      case "pipelineA" =>
        val manifest = cfg.manifest.getOrElse(
          fail("pipelineA needs --manifest (or GRAFT_MANIFEST)"))
        val (found, notFound, results) = Pipelines.pipelineA(
          spark, manifest, cfg.lakeRoot, cfg.source, cfg.target,
          cfg.mode, cfg.dryRun)
        results match {
          case Some(r) => Report.statusCounts(r)
          case None => // dry run: found/not-found counts, no side effects
            found.select(lit("found").as("status"))
              .groupBy("status").agg(count(lit(1)).as("n"), lit(0L).as("bytes"))
              .union(notFound
                .select(lit("not_found").as("status"))
                .groupBy("status").agg(count(lit(1)).as("n"), lit(0L).as("bytes")))
        }
      case "pipelineB" =>
        val (decisions, results) = Pipelines.pipelineB(
          spark, cfg.lakeRoot, cfg.source, cfg.target,
          cfg.after, cfg.before, cfg.companyId, cfg.dryRun)
        results match {
          case Some(r) => Report.statusCounts(r)
          case None => // dry run: keep/skip decision counts
            decisions
              .select(when(col("keep"), lit("would_move"))
                .otherwise(lit("skipped")).as("status"))
              .groupBy("status").agg(count(lit(1)).as("n"), lit(0L).as("bytes"))
        }
    }
  }

  /** Registry lookup for the `query` verb — loud on typos, with the
    * discoverability hint.
    */
  private[graft] def resolveQuery(name: String)
      : (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      fail(s"unknown query: $name (try: graft.Main query list)"))

  private def session(): SparkSession =
    Tables.session(sys.env.getOrElse("GRAFT_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("query")) {
      // graft.Main query <name> --sf-dir DIR [--out PARQUET] [--limit N]
      val rest = args.toSeq.tail
      val name = rest.headOption.getOrElse(
        fail("usage: query <name> --sf-dir DIR [--out PARQUET]"))
      if (name == "list") { // discoverability: every registered query
        SparkEntry.queries.keySet.toSeq.sorted.foreach(println)
        return
      }
      // the explicit parser fails on a trailing flag with no value or
      // a stray positional token, instead of silently dropping them
      val flags = parseFlags(rest.tail, Set("sf-dir", "out", "limit"))
      val fn = resolveQuery(name)
      val sfDir = flags.getOrElse("sf-dir",
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", fail("missing --sf-dir")))
      val spark = session()
      try {
        val df = fn(spark, sfDir)
        flags.get("out") match {
          case Some(out) =>
            df.write.mode("overwrite").parquet(out)
            println(s"Wrote ${spark.read.parquet(out).count()} rows to $out")
          case None =>
            df.show(flags.get("limit").map(_.toInt).getOrElse(50),
              truncate = false)
        }
      } finally spark.stop()
      return
    }
    if (args.headOption.contains("pipelineC")) {
      val cfg = parseCurate(args.toSeq.tail)
      println(s"Pipeline:    pipelineC (curation)" +
        (if (cfg.dryRun) " (dry run)" else ""))
      println(s"Input:       ${cfg.input}")
      if (!cfg.dryRun) println(s"Output:      ${cfg.output}")
      if (cfg.dedup) println("Dedup:       exact" +
        cfg.dedupIndex.map(p => s" + near-dup vs $p").getOrElse(""))
      cfg.langs.foreach(l => println(s"Languages:   ${l.mkString(",")}"))
      cfg.classifier.foreach(p => println(s"Classifier:  $p"))
      cfg.quota.foreach { case (c, n) => println(s"Quota:       $n per $c") }
      val spark = session()
      try runCurate(spark, cfg).show(truncate = false)
      finally spark.stop()
      return
    }
    if (args.headOption.contains("model")) {
      val cfg = parseModel(args.toSeq.tail)
      println(s"Model:       ${cfg.verb}" +
        (if (cfg.dryRun) " (dry run)" else ""))
      cfg.model.foreach(p => println(s"Artifact:    $p"))
      cfg.out.foreach(p => println(s"Out:         $p"))
      cfg.input.foreach(p => println(s"Input:       $p"))
      cfg.other.foreach(p => println(s"Compare:     $p"))
      cfg.targetSource.foreach(v => println(s"Label:       source = $v"))
      cfg.labelCol.foreach(c => println(s"Label:       column $c"))
      val spark = session()
      try runModel(spark, cfg).show(numRows = 300, truncate = false)
      finally spark.stop()
      return
    }
    if (args.headOption.contains("takedown")) {
      val cfg = parseTakedown(args.toSeq.tail)
      println(s"Takedown${if (cfg.dryRun) " (dry run)" else ""}")
      cfg.band.foreach { case (p, i) => println(s"Band index:  $p  (doc ids: $i)") }
      cfg.ivf.foreach { case (p, i) => println(s"IVF index:   $p  (vec ids: $i)") }
      cfg.frontier.foreach { case (p, i, byHost) =>
        println(s"Frontier:    $p  (${if (byHost) "hosts" else "urls"}: $i)") }
      val spark = session()
      try runTakedown(spark, cfg).show(truncate = false)
      finally spark.stop()
      return
    }
    if (args.headOption.contains("crawl")) {
      val cfg = parseCrawl(args.toSeq.tail)
      println(s"Crawl wave:  ${cfg.waveId}" +
        (if (cfg.dryRun) " (dry run)" else ""))
      println(s"Candidates:  ${cfg.candidates}")
      println(s"Robots:      ${cfg.robots}")
      println(s"Frontier:    ${cfg.frontier}")
      println(s"Fetch log:   ${cfg.fetchLog}")
      cfg.resolution.foreach(p => println(s"Resolution:  $p"))
      cfg.ledger.foreach(p => println(s"Ledger:      $p"))
      val spark = session()
      try runCrawl(spark, cfg).show(truncate = false)
      finally spark.stop()
      return
    }
    if (args.headOption.contains("index")) {
      val cfg = parseIndex(args.toSeq.tail)
      println(s"Index:       ${cfg.kind} ${cfg.verb}" +
        (if (cfg.dryRun) " (dry run)" else ""))
      println(s"Artifact:    ${cfg.index}")
      cfg.input.foreach(p => println(s"Input:       $p"))
      cfg.other.foreach(p => println(s"Merge with:  $p"))
      cfg.ids.foreach(p => println(s"Erase ids:   $p"))
      cfg.centroids.foreach(p => println(s"Centroids:   $p"))
      val spark = session()
      try runIndex(spark, cfg).show(numRows = 1000, truncate = false)
      finally spark.stop()
      return
    }
    val cfg = parse(args.toSeq)
    // the reference prints its resolved knobs before acting
    // (app/main.py:30-38) — same contract, secrets-free
    println(s"Pipeline:    ${cfg.pipeline}${if (cfg.dryRun) " (dry run)" else ""}")
    println(s"Lake root:   ${cfg.lakeRoot}")
    cfg.manifest.foreach(m => println(s"Manifest:    $m"))
    println(s"Source path: ${cfg.source}")
    println(s"Target path: ${cfg.target}")
    cfg.after.foreach(a => println(s"Filter files uploaded after: $a"))
    cfg.before.foreach(b => println(s"Filter files uploaded before: $b"))
    cfg.companyId.foreach(c => println(s"Filter by SalesCompanyId: $c"))

    val spark = session()
    try run(spark, cfg).show(truncate = false)
    finally spark.stop()
  }
}
