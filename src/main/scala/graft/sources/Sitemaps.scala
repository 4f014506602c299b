package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production sitemap ingestion — the file-sourced read path for the
  * crawl-ops chain (sitemaps.org protocol): fetched sitemap payloads
  * (plain or gzip `sitemap.xml`, `sitemapindex` documents nesting leaf
  * sitemaps) are scanned as opaque blobs, inflated/decoded in
  * executors ([[graft.expressions.GunzipText]]), classified by their
  * root element, their `<loc>` entries extracted (whitespace-trimmed,
  * XML-entity-decoded, capped at the protocol's 50,000-URL limit),
  * and a bounded-depth resolution joins `sitemapindex` entries to the
  * fetched leaf payloads — so a host's declared entry sitemap expands
  * to its full URL set without any driver-side parsing.
  *
  * Scale shape: one distributed binaryFile scan; parsing is a
  * map-side projection per payload; index→leaf resolution is an
  * equi-join on (host, url path) — the sitemap table is
  * hosts × files sized, never corpus-sized. The 50k cap, the depth
  * bound, and a per-entry visited set (cycles and diamonds open each
  * payload once) are the guards that keep one hostile host from
  * blowing up a wave.
  */
object Sitemaps {

  /** The sitemap protocol's per-file URL cap. */
  val MaxUrlsPerSitemap = 50000

  /** Nested `sitemapindex` resolution depth bound (entry → leaf is
    * depth 1; the protocol forbids indexes of indexes, but crawlers
    * meet them — bound instead of trusting).
    */
  val MaxIndexDepth = 3

  private def decodeEntities(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&apos;", "'"),
      "&amp;", "&")

  /** Parse fetched sitemap payloads: (urlCol, bytesCol) →
    * (sitemap_url, host, file, path, kind, locs).
    *
    *   - `kind`: `sitemapindex` when the document's root region opens
    *     `<sitemapindex`, `urlset` for `<urlset`, null otherwise (a
    *     non-sitemap payload stays selectable, never crashes a scan);
    *   - `locs`: the `<loc>` texts in document order — trimmed,
    *     entity-decoded, capped at `cap` (protocol limit; the cap is
    *     a SLICE, so an over-limit hostile file degrades instead of
    *     exploding downstream joins);
    *   - `host`/`path`: the join keys resolution uses — the FULL url
    *     path, not the basename: two sitemaps on one host with the
    *     same file name in different directories
    *     (`/news/sitemap.xml` vs `/blog/sitemap.xml` — common on
    *     real hosts) must resolve independently;
    *   - `file`: the basename, kept for per-file health reports.
    */
  def parse(payloads: DataFrame, urlCol: String = "sitemap_url",
            bytesCol: String = "content",
            cap: Int = MaxUrlsPerSitemap): DataFrame = {
    val text = graft.expressions.TextExprs.gunzipText(col(bytesCol))
    payloads
      .withColumn("__text", text)
      .withColumn("kind",
        when(col("__text").rlike("<sitemapindex[\\s>]"),
          lit("sitemapindex"))
          .when(col("__text").rlike("<urlset[\\s>]"), lit("urlset")))
      .withColumn("locs", slice(
        transform(
          expr(s"regexp_extract_all(__text, '<loc>([^<]*)</loc>', 1)"),
          l => decodeEntities(trim(l))),
        1, cap))
      // per-entry metadata: each <url>/<sitemap> block's loc + its
      // optional <lastmod> (W3C datetime; crawlers read the date
      // part) — the signal incremental recrawl schedules on.
      // (?s): real sitemaps pretty-print blocks across lines
      .withColumn("entries", slice(
        transform(
          expr("regexp_extract_all(__text, " +
            "'(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1)"),
          b => struct(
            decodeEntities(trim(regexp_extract(b,
              "<loc>([^<]*)</loc>", 1))).as("url"),
            nullif(trim(regexp_extract(b,
              "<lastmod>([^<]*)</lastmod>", 1)), lit("")).as("lastmod"))),
        1, cap))
      .select(col(urlCol).as("sitemap_url"),
        hostOf(col(urlCol)).as("host"),
        baseNameOf(col(urlCol)).as("file"),
        pathOf(col(urlCol)).as("path"),
        col("kind"), col("locs"), col("entries"))
  }

  // scheme matches case-insensitively and the host lowercases — a
  // declared child loc of `HTTPS://EX.ORG/leaf.xml` must join the
  // fetched payload exactly like the canonicalized frontier paths do
  private def hostOf(u: Column): Column =
    lower(regexp_extract(u, "(?i)^[a-z]+://([^/]+)", 1))

  private def baseNameOf(u: Column): Column =
    element_at(split(regexp_replace(u, "[?#].*$", ""), "/"), -1)

  /** Full url PATH (query/fragment stripped) — the resolution key
    * alongside host. `https://ex.org/news/sitemap.xml?x=1` →
    * `/news/sitemap.xml`.
    */
  private def pathOf(u: Column): Column =
    regexp_replace(
      regexp_replace(u, "(?i)^[a-z][a-z0-9+.-]*://[^/]*", ""),
      "[?#].*$", "")

  /** Read fetched sitemap payloads from a directory tree laid out as
    * `<dir>/<host>/<path...>` (the fetcher's spool: one subdirectory
    * per host, the url PATH preserved as the relative layout beneath
    * it — so `/news/sitemap.xml` and `/blog/sitemap.xml` spool to
    * distinct files — the fetched bytes verbatim: gzip stays gzip).
    * One distributed binaryFile scan; the sitemap_url is
    * reconstructed from the spool layout as `https://<host>/<path>`.
    */
  def readFrom(spark: SparkSession, dir: String,
               cap: Int = MaxUrlsPerSitemap): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
    // qualify the spool root through the SAME FileSystem resolution
    // binaryFile applies before taking the path component: a relative
    // dir (or one whose authority spelling differs) would otherwise
    // never prefix-match the absolutized `path` column and the
    // reconstructed sitemap_url would keep spool-root segments,
    // silently breaking (host, path) resolution
    val p = new org.apache.hadoop.fs.Path(dir)
    val rootPath = p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toUri.getPath
    // strip the scheme+authority, then the spool root: what remains
    // is <host>/<path...>, the url with its directory layout intact
    val rel = regexp_replace(
      regexp_replace(col("path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""),
      "^" + java.util.regex.Pattern.quote(rootPath) + "/+", "")
    parse(files.select(
      concat(lit("https://"), rel).as("sitemap_url"),
      col("content")), cap = cap)
  }

  /** Parse a W3C-datetime `lastmod` value into
    * struct(ts TIMESTAMP, has_time BOOLEAN):
    *
    *   - full datetime forms (`2024-01-05T17:00:00Z`,
    *     `…T17:00+01:00`, with or without fractional seconds — the
    *     fraction truncates) parse to their instant with
    *     `has_time = true`, so recrawl classification compares at
    *     TIMESTAMP precision;
    *   - date-only declarations degrade to midnight with
    *     `has_time = false` — the comparison then happens at DATE
    *     granularity, matching what the host actually asserted;
    *   - anything unparseable yields a null ts (classified `unknown`
    *     downstream), never an error.
    *
    * Same-day updates are the point: a page fetched at 09:00 whose
    * host declares `…T17:00:00Z` the same day is STALE; truncating to
    * dates (the old behavior) silently classified it fresh until its
    * NEXT declared change — the common case for intraday-updating
    * hosts.
    */
  private def lastmodParsed(lm: Column): Column = {
    val noFrac = regexp_replace(lm, "\\.\\d+", "")
    val full = coalesce(
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mmXXX")),
      try_to_timestamp(noFrac, lit("yyyy-MM-dd'T'HH:mm")))
    val dateOnly =
      try_to_timestamp(substring(lm, 1, 10), lit("yyyy-MM-dd"))
    struct(coalesce(full, dateOnly).as("ts"),
      full.isNotNull.as("has_time"))
  }

  /** Incremental-recrawl plan: sitemap entries (url, lastmod) against
    * the crawler's FETCH LOG (url, fetched_at TIMESTAMP — the
    * when-did-I-last-fetch sibling of the frontier's have-I-seen
    * artifact). One equi-join on the canonical url key classifies
    * every declared url:
    *
    *   - `new`: never fetched — the frontier feed;
    *   - `stale`: fetched, and the host declares a LATER lastmod —
    *     the incremental recrawl budget (the whole point of lastmod:
    *     refetch what changed, not everything);
    *   - `fresh`: fetched on/after the declared lastmod — skip;
    *   - `unknown`: fetched but the entry declares no lastmod — the
    *     host gives no change signal; policy (not this operator)
    *     decides a recrawl interval for these.
    *
    * lastmod parses the full W3C datetime forms ([[lastmodParsed]]):
    * a timestamped declaration compares at TIMESTAMP precision (a
    * same-day-after-fetch update classifies `stale`), a date-only one
    * degrades to DATE granularity per entry, and an unparseable value
    * degrades to `unknown`, never an error.
    */
  def recrawlPlan(entries: DataFrame, fetchLog: DataFrame,
                  urlCol: String = "url",
                  lastmodCol: String = "lastmod"): DataFrame = {
    val p = lastmodParsed(col(lastmodCol))
    val canon = entries.select(
        graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"),
        p.getField("ts").as("__ts"), p.getField("has_time").as("__ht"))
      .filter(col("url").isNotNull)
      // one row per canonical url: the LATEST declared lastmod wins
      // (mirrored sitemaps re-declare urls); a tie at the same
      // instant prefers the timestamped declaration, and null-ts
      // entries sort below any dated one
      .groupBy("url").agg(max(struct(col("__ts"), col("__ht"))).as("m"))
      .select(col("url"), col("m.__ts").as("lastmod"),
        col("m.__ht").as("lastmod_has_time"))
    canon
      .join(fetchLog.select(
        graft.functions.Urls.canonicalizeUrl(col("url")).as("url"),
        col("fetched_at").cast("timestamp").as("fetched_at")),
        Seq("url"), "left")
      .select(col("url"), hostOf(col("url")).as("host"),
        col("lastmod"), col("lastmod_has_time"), col("fetched_at"),
        recrawlStatus(col("lastmod"), col("lastmod_has_time"),
          col("fetched_at")).as("status"))
  }

  /** [[recrawlPlan]]'s classification clause: timestamped
    * declarations compare instants, date-only ones compare dates.
    */
  private def recrawlStatus(ts: Column, hasTime: Column,
                            fetchedAt: Column): Column =
    when(fetchedAt.isNull, lit("new"))
      .when(ts.isNull, lit("unknown"))
      .when(hasTime,
        when(ts > fetchedAt, lit("stale")).otherwise(lit("fresh")))
      .when(to_date(ts) > to_date(fetchedAt), lit("stale"))
      .otherwise(lit("fresh"))

  /** Set DIFF between two sitemap GENERATIONS — the churn signal an
    * incremental discovery pipeline feeds on: urls declared today but
    * not yesterday are the crawl's new work (for hosts that declare
    * no lastmod, the sitemap delta IS the only change signal), urls
    * that vanished are retirement-check candidates, the rest carry
    * on. Both sides canonicalize ([[graft.functions.Urls
    * .canonicalizeUrl]] — a re-spelled surface form is not churn) and
    * dedupe; one full-outer equi-join on the canonical url key.
    *
    * @return (url, host, change ∈ added|removed|kept), one row per
    *         distinct canonical url across both generations
    */
  def sitemapDiff(today: DataFrame, yesterday: DataFrame,
                  urlCol: String = "url"): DataFrame = {
    def canon(df: DataFrame) = df
      .select(graft.functions.Urls.canonicalizeUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
      .distinct()
    canon(today).withColumn("__t", lit(true))
      .join(canon(yesterday).select(col("url"), lit(true).as("__y")),
        Seq("url"), "full_outer")
      .select(col("url"), hostOf(col("url")).as("host"),
        when(col("__y").isNull, lit("added"))
          .when(col("__t").isNull, lit("removed"))
          .otherwise(lit("kept")).as("change"))
  }

  /** Resolve a parsed sitemap table to (entry_sitemap_url, url) —
    * every crawlable URL each ENTRY sitemap (the one robots.txt
    * declares) ultimately feeds, walking `sitemapindex` nesting up to
    * `maxDepth` joins. Each step joins the current frontier's
    * index-entries to the fetched payload table on (host, PATH) —
    * same-basename sitemaps in different directories resolve
    * independently, and a declared leaf that was never fetched simply
    * contributes nothing (the honest fetch-gap semantics). URLs
    * attribute to the entry sitemap, so per-host budgeting sees one
    * row space per declared sitemap regardless of nesting shape.
    *
    * Hostile-input guards (each round):
    *   - a VISITED set per entry (anti-join) — an index cycle
    *     (A→B→A) or a diamond (two index paths reaching one leaf)
    *     opens every payload at most ONCE per entry, instead of
    *     re-reading it every round until the depth bound;
    *   - the output is `distinct()` — the operator's own contract is
    *     a url SET per entry, not one row per discovery path;
    *   - an emptied frontier short-circuits the loop — flat spools
    *     (no indexes) cost one join, not `maxDepth` of them.
    */
  def expand(parsed: DataFrame, entries: DataFrame,
             entryCol: String = "sitemap_url",
             maxDepth: Int = MaxIndexDepth): DataFrame = {
    // a negative depth would skip the loop entirely and dereference
    // the null accumulator below — refuse loudly like the other
    // argument guards instead of an opaque NullPointerException
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val byKey = parsed.select(col("host"), col("path"), col("kind"),
      col("locs")).localCheckpoint(false)
    // frontier: (entry, host, path) sitemaps still to open; visited:
    // everything already queued for opening (both frames are
    // hosts × files sized — never corpus-sized)
    var frontier = entries
      .select(col(entryCol).as("entry"), hostOf(col(entryCol)).as("host"),
        pathOf(col(entryCol)).as("path"))
      .distinct()
      .localCheckpoint(false)
    var visited = frontier
    var out: DataFrame = null
    var depth = 0
    var drained = false
    while (depth <= maxDepth && !drained) {
      val opened = frontier.join(byKey, Seq("host", "path"))
      val urls = opened.filter(col("kind") === "urlset")
        .select(col("entry").as("sitemap_url"),
          explode(col("locs")).as("url"))
      out = if (out == null) urls else out.unionByName(urls)
      // eager per round: the frontier feeds the emptiness probe, the
      // next join AND the visited union — and each round's lineage
      // would otherwise stack joins maxDepth deep
      frontier = opened.filter(col("kind") === "sitemapindex")
        .select(col("entry"), explode(col("locs")).as("child"))
        .select(col("entry"), hostOf(col("child")).as("host"),
          pathOf(col("child")).as("path"))
        .distinct()
        .join(visited, Seq("entry", "host", "path"), "left_anti")
        .localCheckpoint(false)
      visited = visited.unionByName(frontier)
      drained = frontier.isEmpty
      depth += 1
    }
    out.distinct()
  }
}
