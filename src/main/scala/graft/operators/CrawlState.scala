package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted crawl-frontier state — the URL-seen set as a TABLE with
  * the same artifact lifecycle as the band/IVF indexes: at real crawl
  * scale "what have we already fetched" is not derivable per run (the
  * reference's manifest-vs-storage partition, app/app.py:100-154,
  * re-expressed for crawl state), it is a maintained asset that every
  * frontier wave anti-joins against and every completed wave appends
  * to.
  *
  * One parquet table `urls` (url, host): canonical URLs
  * ([[graft.functions.Urls.canonicalizeUrl]] — the SAME normalization
  * the frontier queries apply, so a cased/ported/tracking-param
  * variant of a seen URL still screens as known) with the host
  * extracted once at build time (per-host takedown and the health
  * histogram never re-parse URLs). All maintenance is algebra on the
  * distinct URL set, so the artifact laws hold row-for-row
  * (CrawlStateSpec proves them):
  *
  *   - build(A ∪ B) == merge(build(A), build(B))   (distinct union)
  *   - erase(build(A ∪ B), B) == build(A)          (url anti-join)
  *
  * Scale shape: the urls table is hash-partitioned by url, screening
  * a new wave is ONE equi-join on the canonical url key (broadcast
  * when the wave is small, shuffle-hash co-partitioned otherwise),
  * and append/merge/erase never read document text — the artifact is
  * URL-sized, not corpus-sized.
  */
object CrawlState {

  /** A persisted (or in-memory) URL-seen index: `urls` (url, host),
    * canonical and distinct.
    */
  final case class UrlIndex(urls: DataFrame)

  /** Host component of a canonical absolute URL. */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^[a-z]+://([^/]+)", 1)

  /** Build an index from any frame carrying a URL column: canonicalize
    * (case/port/tracking-param/fragment normalization collapses
    * surface forms), drop unparseable nulls, distinct, extract host.
    */
  def buildUrlIndex(urls: DataFrame, urlCol: String = "url"): UrlIndex = {
    val canon = urls
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
      .distinct()
    UrlIndex(canon.withColumn("host", hostOf(col("url"))))
  }

  /** Persist the index under `path` (overwrite semantics like the
    * band index: parquet is immutable, incremental maintenance writes
    * a `.next` and swaps).
    */
  def writeUrlIndex(idx: UrlIndex, path: String): Unit =
    idx.urls.write.mode("overwrite").parquet(s"$path/urls")

  def readUrlIndex(spark: SparkSession, path: String): UrlIndex =
    UrlIndex(spark.read.parquet(s"$path/urls"))

  /** Merge two indexes (the per-wave append step): distinct union —
    * re-seen URLs collapse, so append is idempotent by construction.
    */
  def mergeUrlIndex(a: UrlIndex, b: UrlIndex): UrlIndex =
    UrlIndex(a.urls.unionByName(b.urls).distinct())

  /** Append a fresh batch of raw URLs (canonicalized here) to an
    * index — the after-each-wave step: keepers' outlinks enter the
    * seen set so the next frontier never re-queues them.
    */
  def appendUrls(idx: UrlIndex, fresh: DataFrame,
                 urlCol: String = "url"): UrlIndex =
    mergeUrlIndex(idx, buildUrlIndex(fresh, urlCol))

  /** Erase specific URLs (canonicalized before the anti-join, so the
    * caller may pass any surface form). erase(build(A ∪ B), B) ==
    * build(A) row-for-row.
    */
  def eraseUrls(idx: UrlIndex, urls: DataFrame,
                urlCol: String = "url"): UrlIndex = {
    val gone = urls
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
    UrlIndex(idx.urls.join(gone, Seq("url"), "left_anti"))
  }

  /** Per-host takedown: drop EVERY url of the named hosts — the
    * right-to-be-forgotten shape a domain-level removal request needs
    * (one anti-join on the precomputed host column; no URL list
    * required).
    */
  def eraseHosts(idx: UrlIndex, hosts: DataFrame,
                 hostCol: String = "host"): UrlIndex =
    // re-select (url, host): the key-first join output would otherwise
    // persist a column order other readers don't expect. The caller's
    // host strings canonicalize (lowercase + trim) before the
    // anti-join — the index host column is lowercased by URL
    // canonicalization, and a takedown naming `Gone.ORG` must not
    // silently erase nothing.
    UrlIndex(idx.urls.join(
      hosts.select(lower(trim(col(hostCol))).as("host")),
      Seq("host"), "left_anti").select(col("url"), col("host")))

  /** Health histogram (the band-index `stats` shape): how many hosts
    * hold how many seen URLs — the skew gate a crawl operator alerts
    * on (one runaway host = one hot partition in every screen join).
    */
  def urlIndexStats(idx: UrlIndex): DataFrame =
    idx.urls.groupBy("host").agg(count(lit(1)).as("host_size"))
      .groupBy("host_size").agg(count(lit(1)).as("n_hosts"))
      .orderBy("host_size")

  /** Screen a candidate frame against the index: canonicalize the
    * candidate URLs, flag each against the seen set via ONE left
    * equi-join on the canonical url key. Emits (url, host, known) —
    * distinct canonical candidates. This is the daily frontier check
    * that never re-derives the crawled set (`f_frontier`'s read
    * path).
    */
  def screenUrls(candidates: DataFrame, idx: UrlIndex,
                 urlCol: String = "url"): DataFrame = {
    val canon = candidates
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
      .distinct()
    canon
      .join(idx.urls.select(col("url")).withColumn("__k", lit(true)),
        Seq("url"), "left")
      .select(col("url"), hostOf(col("url")).as("host"),
        coalesce(col("__k"), lit(false)).as("known"))
  }

  /** Persisted FETCH LOG — the when-did-I-last-fetch sibling of the
    * URL-seen index: one parquet table `fetches` (url, fetched_at
    * TIMESTAMP), canonical urls, ONE row per url carrying the LATEST
    * fetch instant (refetches collapse by max — the artifact answers
    * "how stale is my copy", which only the newest fetch defines).
    * TIMESTAMP, not DATE: recrawl classification must see that a page
    * fetched at 09:00 is stale against a same-day 17:00 lastmod — a
    * date-granularity log silently misses every intraday update. A
    * DATE input casts to midnight, so date-only producers still work.
    * Laws (CrawlStateSpec): append is idempotent; append of an older
    * fetch is a no-op row-for-row; merge == build-of-union under max.
    * [[graft.sources.Sitemaps.recrawlPlan]] reads it to classify
    * declared lastmod against the crawler's own copy age. URL-sized
    * like every crawl-state artifact; maintenance is one keyed agg.
    */
  final case class FetchLog(fetches: DataFrame)

  def buildFetchLog(fetches: DataFrame, urlCol: String = "url",
                    dateCol: String = "fetched_at"): FetchLog = {
    val canon = fetches
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"),
        col(dateCol).cast("timestamp").as("fetched_at"))
      .filter(col("url").isNotNull && col("fetched_at").isNotNull)
      .groupBy("url").agg(max(col("fetched_at")).as("fetched_at"))
    FetchLog(canon)
  }

  def writeFetchLog(log: FetchLog, path: String): Unit =
    log.fetches.write.mode("overwrite").parquet(s"$path/fetches")

  def readFetchLog(spark: SparkSession, path: String): FetchLog =
    FetchLog(spark.read.parquet(s"$path/fetches"))

  /** Merge two logs: per url the LATEST fetch wins —
    * merge(build(A), build(B)) == build(A ∪ B) row-for-row.
    */
  def mergeFetchLog(a: FetchLog, b: FetchLog): FetchLog =
    FetchLog(a.fetches.unionByName(b.fetches)
      .groupBy("url").agg(max(col("fetched_at")).as("fetched_at")))

  /** Append a completed wave's fetches (canonicalized here): newer
    * dates advance their url's row, older ones are no-ops, re-appends
    * are idempotent.
    */
  def appendFetches(log: FetchLog, fresh: DataFrame,
                    urlCol: String = "url",
                    dateCol: String = "fetched_at"): FetchLog =
    mergeFetchLog(log, buildFetchLog(fresh, urlCol, dateCol))

  /** Erase urls from the log (canonicalized; any surface form) — the
    * takedown treatment: a forgotten page must not even leave a
    * fetch-date trace.
    */
  def eraseFetches(log: FetchLog, urls: DataFrame,
                   urlCol: String = "url"): FetchLog = {
    val gone = urls
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
    FetchLog(log.fetches.join(gone, Seq("url"), "left_anti"))
  }

  /** Copy-age histogram: urls per fetch DATE (the log stores
    * timestamps; the budgeting view rolls them up to days) — the
    * staleness gate a recrawl scheduler budgets from.
    */
  def fetchLogStats(log: FetchLog): DataFrame =
    log.fetches.groupBy(to_date(col("fetched_at")).as("fetched_at"))
      .agg(count(lit(1)).as("n_urls"))
      .orderBy("fetched_at")

  /** Staleness BUDGET: the copy-age histogram joined to a
    * [[graft.sources.Sitemaps.recrawlPlan]] — per fetch date, how
    * many urls the log holds and how many of them the plan already
    * classifies `stale` (declared changed) or `unknown` (no change
    * signal — the rows an age-based recrawl policy owns). This is
    * the number a scheduler allocates refetch slots from: "my
    * Jan-12 copies are 40% stale" beats both a blind age cutoff and
    * a blind lastmod trust. One date-keyed agg over the plan + one
    * equi-join onto the days × 1 histogram.
    */
  def stalenessBudget(log: FetchLog, plan: DataFrame): DataFrame =
    fetchLogStats(log)
      .join(plan.filter(col("fetched_at").isNotNull)
          .groupBy(to_date(col("fetched_at")).as("fetched_at"))
          .agg(
            sum(when(col("status") === "stale", 1L).otherwise(0L))
              .as("__stale"),
            sum(when(col("status") === "unknown", 1L).otherwise(0L))
              .as("__unknown")),
        Seq("fetched_at"), "left")
      .withColumn("n_stale", coalesce(col("__stale"), lit(0L)))
      .withColumn("n_unknown", coalesce(col("__unknown"), lit(0L)))
      .withColumn("stale_ppm",
        expr("n_stale * 1000000 div n_urls"))
      .select(col("fetched_at"), col("n_urls"), col("n_stale"),
        col("n_unknown"), col("stale_ppm"))
      .orderBy("fetched_at")

  /** URL-TEMPLATE mass report — the crawler-trap signal: each
    * canonical url collapses to its path TEMPLATE (query values →
    * `=#`, digit runs → `#`), and the report masses distinct urls per
    * (host, template). A template whose url count explodes is a
    * generated url space — calendar pages, session ids, faceted
    * search — that a frontier must CAP per template instead of
    * crawling to exhaustion (the budget is per url-shape, not per
    * host: one trap template must not starve the host's real pages).
    *
    * Scale shape: one distinct on the canonical url (the frontier
    * already maintains exactly this set), a map-side template
    * projection, one (host, template) agg — template cardinality is
    * site-structure-sized, never corpus-sized. `minUrls` drops
    * singleton templates so the report stays shape-sized.
    */
  def urlTemplateStats(urls: DataFrame, urlCol: String = "url",
                       minUrls: Long = 2L): DataFrame = {
    val canon = urls
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
      .distinct()
    canon
      .select(hostOf(col("url")).as("host"),
        urlTemplate(col("url")).as("template"))
      .groupBy("host", "template").agg(count(lit(1)).as("n_urls"))
      .filter(col("n_urls") >= minUrls)
  }

  /** Path TEMPLATE of a canonical url (query values → `=#`, digit
    * runs → `#`) — the per-url-shape key [[urlTemplateStats]] masses
    * on and [[graft.Pipelines.crawlWave]]'s trap budget caps on (one
    * definition, so detection and enforcement can never disagree on
    * what a template is).
    */
  def urlTemplate(url: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(url,
      "(?i)^[a-z][a-z0-9+.-]*://[^/]*", ""),
      "=[^&#]*", "=#"),
      "[0-9]+", "#")

  /** Select each host's REFETCH WAVE from a
    * [[graft.sources.Sitemaps.recrawlPlan]] under a per-host budget —
    * the step that closes plan → budget → wave into one chain (the
    * [[stalenessBudget]] histogram tells an operator HOW MUCH is
    * stale; this picks WHICH urls the wave actually spends its slots
    * on). Eligible rows are the plan's `stale` + `new` statuses;
    * within a host, stale urls come first ordered by copy age
    * (oldest `fetched_at` first — the copies most behind their
    * declared change), then never-fetched `new` urls, tiebroken by
    * url — fully deterministic under any partitioning. Rows ranked
    * past `perHost` are dropped from the wave (they remain in the
    * plan; the next wave re-ranks what is still stale).
    *
    * Scale shape: one filter + one host-keyed window over the
    * plan-sized frame. The per-host partition is bounded by the
    * host's own declared sitemap entries (the protocol caps 50k urls
    * per sitemap file), not by the corpus.
    */
  def refetchBudget(plan: DataFrame, perHost: Long): DataFrame = {
    require(perHost >= 1, s"perHost must be >= 1, got $perHost")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host")).orderBy(
      when(col("status") === "stale", 0).otherwise(1).asc,
      col("fetched_at").asc_nulls_last, col("url").asc)
    plan.filter(col("status").isin("stale", "new"))
      .withColumn("budget_rank", row_number().over(w).cast("long"))
      .filter(col("budget_rank") <= perHost)
      .select(col("url"), col("host"), col("status"), col("budget_rank"))
  }

  /** Persisted per-host ROBOTS CACHE — the third crawl-state artifact
    * (alongside the url-seen index and the fetch log): RFC 9309 lets
    * a crawler CACHE robots.txt (typically ~24 h), so a fleet keeps
    * one maintained (host, txt, fetched_at) table, serves every
    * wave's robots gate from it, and refetches policies only for the
    * hosts whose copy aged out — instead of hitting /robots.txt once
    * per wave per host. One row per host, LATEST observation wins
    * (the same latest-wins algebra as the fetch log, keyed by host;
    * ties at one instant break deterministically by payload).
    * Host-sized, never corpus-sized.
    */
  final case class RobotsCache(robots: DataFrame)

  def buildRobotsCache(obs: DataFrame, hostCol: String = "host",
                       txtCol: String = "txt",
                       atCol: String = "fetched_at"): RobotsCache = {
    val canon = obs.select(lower(trim(col(hostCol))).as("host"),
        col(txtCol).as("txt"),
        col(atCol).cast("timestamp").as("fetched_at"))
      .filter(col("host").isNotNull && length(col("host")) > 0 &&
        col("fetched_at").isNotNull)
      .groupBy("host")
      .agg(max(struct(col("fetched_at"), col("txt"))).as("m"))
      .select(col("host"), col("m.txt").as("txt"),
        col("m.fetched_at").as("fetched_at"))
    RobotsCache(canon)
  }

  def writeRobotsCache(c: RobotsCache, path: String): Unit =
    c.robots.write.mode("overwrite").parquet(s"$path/robots")

  def readRobotsCache(spark: SparkSession, path: String): RobotsCache =
    RobotsCache(spark.read.parquet(s"$path/robots"))

  /** Latest-wins merge: merge(build(A), build(B)) == build(A ∪ B)
    * row-for-row; re-appending an observation is a no-op, an OLDER
    * observation never regresses a host's policy.
    */
  def mergeRobotsCache(a: RobotsCache, b: RobotsCache): RobotsCache =
    buildRobotsCache(a.robots.unionByName(b.robots))

  def appendRobots(c: RobotsCache, fresh: DataFrame,
                   hostCol: String = "host", txtCol: String = "txt",
                   atCol: String = "fetched_at"): RobotsCache =
    mergeRobotsCache(c, buildRobotsCache(fresh, hostCol, txtCol, atCol))

  /** Per-host takedown for the cache (the erase leg every crawl-state
    * artifact carries): a removed host must not even leave its policy
    * text behind.
    */
  def eraseRobots(c: RobotsCache, hosts: DataFrame,
                  hostCol: String = "host"): RobotsCache =
    RobotsCache(c.robots.join(
      hosts.select(lower(trim(col(hostCol))).as("host")),
      Seq("host"), "left_anti"))

  /** Copy-age report against a TTL: per cached host, the copy's age
    * in whole hours at `at` and whether it aged out (`age_h` strictly
    * past `ttlHours`) — the robots-refetch list the NEXT wave's
    * fetcher drains before the gate runs. One map-side projection.
    */
  def staleRobots(c: RobotsCache, at: java.sql.Timestamp,
                  ttlHours: Long): DataFrame = {
    require(ttlHours >= 0, s"ttlHours must be >= 0, got $ttlHours")
    c.robots.withColumn("age_h",
        floor((unix_timestamp(lit(at)) -
          unix_timestamp(col("fetched_at"))) / 3600L))
      .withColumn("stale", col("age_h") > ttlHours)
  }

  /** The cache rows fresh enough to SERVE a wave at `at` — exactly
    * the (host, txt) frame [[graft.Pipelines.crawlWave]]'s robots
    * gate takes; stale hosts are withheld (crawl default applies
    * until their policy refetches) rather than enforced from a copy
    * the site may have changed.
    */
  def freshRobots(c: RobotsCache, at: java.sql.Timestamp,
                  ttlHours: Long): DataFrame =
    staleRobots(c, at, ttlHours).filter(!col("stale"))
      .select(col("host"), col("txt"))

  /** In-degree FRONTIER PRIORITY — the OPIC-lite ordering policy a
    * production crawler runs over its discovery feed: each candidate
    * url's priority is the number of DISTINCT known pages linking to
    * it, so link evidence from pages already crawled (the only pages
    * we can trust) votes what to fetch first. Input: an edge table
    * (srcCol → dstCol), one row per extracted outlink. Both ends
    * canonicalize; edges are kept only when the SOURCE is in the
    * seen index (an uncrawled page's links are hearsay); self-links
    * and duplicate (src, dst) pairs collapse. Emits (url, host,
    * known, priority) for every distinct destination — priority 0
    * for candidates nobody known links to (they still fetch, last).
    *
    * Scale shape: one distinct over the edge frame, one left-semi
    * equi-join against the url-sized artifact, one keyed count, and
    * the frontier screen's own join — never a quadratic dominance
    * pass, never a driver loop. The caller takes top-N per host by
    * (priority desc, url) into the wave, exactly like
    * [[refetchBudget]] takes the stalest.
    */
  def frontierPriority(edges: DataFrame, idx: UrlIndex,
                       srcCol: String = "src",
                       dstCol: String = "dst"): DataFrame = {
    // Par.spread: two regex canonicalizations per edge row is a
    // CPU-dense map — don't serialize it onto an under-split scan's
    // single task (identity at real scan widths)
    val e = Par.spread(edges).select(
        graft.functions.Urls.canonicalizeUrl(col(srcCol)).as("src"),
        graft.functions.Urls.canonicalizeUrl(col(dstCol)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false) // feeds the vote count AND the screen
    val votes = e
      .join(idx.urls.select(col("url").as("src")), Seq("src"),
        "left_semi")
      .groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("__votes"))
    screenUrls(e.select(col("dst").as("url")), idx)
      .join(votes, Seq("url"), "left")
      .withColumn("priority", coalesce(col("__votes"), lit(0L)))
      .select(col("url"), col("host"), col("known"), col("priority"))
  }

  /** Select each host's DISCOVERY wave from a [[frontierPriority]]
    * frame under a per-host budget — the symmetric twin of
    * [[refetchBudget]] for the discovery side: unknown urls only,
    * highest-priority first (link evidence from crawled pages),
    * deterministic url tiebreak, rows past `perHost` wait for the
    * next wave (their priority only grows as more linkers crawl).
    * Scale shape: one filter + one host-keyed window whose
    * `rank <= k` filter Catalyst rewrites to a WindowGroupLimit
    * (per-partition top-k heaps before the final per-host sort), so
    * a mega-host never materializes its full candidate sort.
    */
  def discoveryBudget(priorities: DataFrame, perHost: Long): DataFrame = {
    require(perHost >= 1, s"perHost must be >= 1, got $perHost")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host"))
      .orderBy(col("priority").desc, col("url").asc)
    priorities.filter(!col("known"))
      .withColumn("budget_rank", row_number().over(w).cast("long"))
      .filter(col("budget_rank") <= perHost)
      .select(col("url"), col("host"), col("priority"),
        col("budget_rank"))
  }

  /** Per-host drain ESTIMATE for a [[graft.Pipelines.crawlWave]]
    * schedule — "will this wave finish inside the politeness budget":
    * the schedule's fetch_at_ms slots are already paced by each
    * host's parsed Crawl-delay, so the host's drain time IS its last
    * slot. One keyed agg over the decisions frame; `horizonMs` flags
    * the hosts that cannot drain in time (the operator sizes the
    * NEXT wave down — or shards the host — instead of discovering
    * the overrun mid-flight).
    */
  def scheduleEta(decisions: DataFrame, horizonMs: Long): DataFrame = {
    require(horizonMs >= 0, s"horizonMs must be >= 0, got $horizonMs")
    decisions.groupBy("host").agg(
        sum(when(col("fetch"), 1L).otherwise(0L)).as("n_fetch"),
        max(when(col("fetch"), col("fetch_at_ms"))).as("last_slot_ms"))
      .withColumn("drains",
        coalesce(col("last_slot_ms") <= horizonMs, lit(true)))
  }

  /** Resolve canonical/redirect CHAINS to their final URLs — real
    * crawls dedupe by the FINAL url (a page reached via three aliases
    * must be fetched once), and `<link rel="canonical">` targets
    * chain (page → www-variant → https-variant). Input: an edge
    * table (urlCol → targetCol), one hop each (the per-page
    * extraction `graft_html_refs` kind='canonical' yields). Both
    * ends canonicalize ([[graft.functions.Urls.canonicalizeUrl]]),
    * self-loops drop, and a page with several declared targets keeps
    * the lexicographically smallest (deterministic under any
    * partitioning).
    *
    * Resolution is POINTER DOUBLING, not per-hop iteration: each
    * round substitutes every mapping through itself (one equi-join),
    * so ceil(log2(maxDepth)) rounds cover chains up to `maxDepth` —
    * 3 joins for depth 8, the label-contraction shape
    * ([[Graph]]'s discipline) instead of a driver loop per hop.
    * Cycles terminate at the bound with a deterministic endpoint and
    * hops > chain length — screen joins dedupe them downstream.
    *
    * @return (url, final_url, hops) for every chain SOURCE (pages
    *         that declare a target; terminal pages are their own
    *         final url by definition and emit no row).
    */
  def resolveCanonical(edges: DataFrame, urlCol: String = "url",
                       targetCol: String = "canonical",
                       maxDepth: Int = 8): DataFrame = {
    var m = edges
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("u"),
        graft.functions.Urls.canonicalizeUrl(col(targetCol)).as("t"))
      .filter(col("u").isNotNull && col("t").isNotNull &&
        col("u") =!= col("t"))
      .groupBy("u").agg(min(col("t")).as("t"))
      .withColumn("h", lit(1L))
    val rounds = math.max(1,
      math.ceil(math.log(maxDepth.toDouble) / math.log(2.0)).toInt)
    (1 to rounds).foreach { _ =>
      val hop = m.select(col("u").as("__u"), col("t").as("__t"),
        col("h").as("__h"))
      m = m.join(hop, col("t") === col("__u"), "left")
        .select(col("u"),
          coalesce(col("__t"), col("t")).as("t"),
          (col("h") + coalesce(col("__h"), lit(0L))).as("h"))
    }
    m.select(col("u").as("url"), col("t").as("final_url"),
      col("h").as("hops"))
  }

  /** Map a candidate frame through a [[resolveCanonical]] resolution
    * before frontier screening: candidates canonicalize, alias
    * sources rewrite to their final url, everything else passes
    * through — so [[screenUrls]] sees ONE canonical identity per
    * page however it was reached (the CrawlStateSpec law:
    * screen-after-resolve == screen-on-finals).
    */
  def resolveUrls(candidates: DataFrame, resolution: DataFrame,
                  urlCol: String = "url"): DataFrame = {
    val canon = candidates
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
    canon.join(resolution.select(col("url"), col("final_url")),
        Seq("url"), "left")
      .select(col("url"),
        coalesce(col("final_url"), col("url")).as("final_url"))
  }

  /** Compact a persisted index in place: rewrite the urls table
    * clustered by url into `partitions` files (the screen join's key),
    * retire-aside swap like every artifact mutation.
    */
  def compactUrlIndex(spark: SparkSession, path: String,
                      partitions: Int): Unit = {
    val idx = readUrlIndex(spark, path)
    val tmp = s"$path.compact"
    writeUrlIndex(UrlIndex(idx.urls.repartition(partitions, col("url"))),
      tmp)
    Dedup.swapDirs(spark, path, tmp)
  }

  /** Compact a persisted fetch log in place: optionally RETIRE rows
    * last fetched before `retireBefore` (age-based retention — the
    * log otherwise grows one row per url forever; a url retired here
    * simply classifies `new` on its next declaration, the honest
    * forgot-my-copy semantics), then rewrite the fetches table
    * clustered by url (the recrawl join's key) into `partitions`
    * files, retire-aside swap like every artifact mutation.
    */
  def compactFetchLog(spark: SparkSession, path: String,
                      partitions: Int,
                      retireBefore: Option[java.sql.Timestamp] = None)
      : Unit = {
    val log = readFetchLog(spark, path)
    val kept = retireBefore match {
      case None => log.fetches
      case Some(cutoff) => log.fetches.filter(col("fetched_at") >= cutoff)
    }
    val tmp = s"$path.compact"
    writeFetchLog(FetchLog(kept.repartition(partitions, col("url"))),
      tmp)
    Dedup.swapDirs(spark, path, tmp)
  }
}
