package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.Text

/** Text-analysis extension queries over the `documents` table
  * (token counting, language ID, quality scoring, fingerprinting),
  * each backed by the graft.functions.Text library and replicated in
  * portable DuckDB SQL for the oracle.
  *
  * Scale: every query is a single map-side projection (plus one
  * aggregation-free scan) — embarrassingly parallel, no shuffle.
  */
object TextQueries {

  /** The per-host robots.txt fixture shared by `f_robots_gate`,
    * `f_fetch_schedule` and `f_sitemap_feed` (one payload per host
    * assembled from table values: a group-independent Sitemap
    * declaration, an other-bot decoy group, a `*` group disallowing
    * /p/ with an /p/open carve-out at Crawl-delay 2, and for
    * host%3==0 a graft-specific group that OVERRIDES `*`, disallowing
    * /d/ at Crawl-delay 5). [[robotsFixture]] parses it with the
    * column-algebra folds in [[graft.functions.Robots]] into
    * (host, rules, delay_s). Both frames are host-bounded — callers
    * broadcast them.
    */
  private def robotsTxtFixture(d: DataFrame): DataFrame =
    d.select(pmod(col("doc_id"), lit(10)).as("host"))
      .distinct()
      .select(col("host"), concat(
        lit("# crawl policy\nSitemap: https://ex"), col("host"),
        lit(".org/sitemap.xml\n"),
        lit("User-agent: other-bot\nDisallow: /\n\n"),
        lit("User-agent: *\nDisallow: /p/\nAllow: /p/open\n"),
        lit("Crawl-delay: 2\n"),
        when(col("host") % 3 === 0,
          lit("User-agent: graft\nDisallow: /d/\nCrawl-delay: 5\n"))
          .otherwise(lit(""))).as("txt"))

  private def robotsFixture(d: DataFrame): DataFrame =
    robotsTxtFixture(d)
      .select(col("host"),
        graft.functions.Robots.parseRules(col("txt")).as("rules"),
        coalesce(graft.functions.Robots.crawlDelay(col("txt")),
          lit(1L)).as("delay_s"))

  /** The persisted crawl-frontier artifact (the URL-seen
    * index over the closed-form crawled set: documents < 300 under
    * their /d/ url space), written once per data directory — the
    * fixture is the WRITE; `f_frontier` / `f_frontier_stats` gate the
    * artifact READ path.
    */
  private def frontierIndex(s: SparkSession, dir: String)
      : graft.operators.CrawlState.UrlIndex =
    graft.operators.CrawlState.readUrlIndex(s, frontierPath(s, dir))

  /** The shared frontier artifact's PATH — for read-only consumers
    * (dry-run waves); anything that MUTATES crawl state builds its
    * own copies (the fixture discipline every a_pipeline_* root
    * follows).
    */
  private def frontierPath(s: SparkSession, dir: String): String =
    graft.TempDirs.once("frontier", dir) {
      val path = graft.TempDirs.dir("graft_frontier").toString + "/urlseen"
      val crawled = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")).as("url"))
      graft.operators.CrawlState.writeUrlIndex(
        graft.operators.CrawlState.buildUrlIndex(crawled), path)
      path
    }

  /** Temp path of the fetched-sitemap SPOOL (`<dir>/<host>/<file>`,
    * the [[graft.sources.Sitemaps.readFrom]] layout), written once per
    * data directory: every host serves the same URL set as before —
    * its /d/ pages (whitespace-padded locs) plus one entity-encoded
    * parameterized extra — but hosts h%3==0 serve it the PRODUCTION
    * way: `sitemap.xml` is a `sitemapindex` nesting two GZIPPED leaf
    * sitemaps (/d/ pages in part 1, the extra in part 2), exercising
    * inflate + classification + index resolution on the read path.
    * The fixture is the fetcher's WRITE; `f_sitemap_feed` /
    * `f_sitemap_read` gate the file READ + parse + expand path.
    */
  private def sitemapSpool(s: SparkSession, dir: String): String =
    graft.TempDirs.once("sitemaps", dir) {
      val root = graft.TempDirs.dir("graft_sitemaps").toString
      val rows = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(10)).as("host"), col("doc_id"))
        .groupBy("host")
        .agg(array_join(transform(array_sort(collect_list(col("doc_id"))),
          i => concat(lit("<url><loc> https://ex"), col("host"),
            lit(".org/d/"), i, lit(" </loc>"),
            // change signal for incremental recrawl: omitted for
            // id%5==0 (the no-signal case recrawlPlan must
            // classify); id%4==1 declares a FULL W3C datetime on
            // the page's own fetch day (10+id%10) at 17:00Z — the
            // same-day-after-fetch update that MUST classify stale
            // at timestamp precision (fetches happen 09:00); the
            // rest declare a date-only lastmod (day = id%28+1) that
            // degrades to date-granularity comparison
            when(pmod(i, lit(5)) === 0, lit(""))
              .when(pmod(i, lit(4)) === 1,
                concat(lit("<lastmod>2024-01-"),
                  (pmod(i, lit(10)) + 10).cast("string"),
                  lit("T17:00:00Z</lastmod>")))
              .otherwise(concat(lit("<lastmod>2024-01-"),
                lpad((pmod(i, lit(28)) + 1).cast("string"), 2, "0"),
                lit("</lastmod>"))),
            lit("</url>"))), "").as("durls"))
        .collect()
      def write(path: java.nio.file.Path, text: String): Unit =
        java.nio.file.Files.write(path,
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def writeGz(path: java.nio.file.Path, text: String): Unit = {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        gz.close()
        java.nio.file.Files.write(path, bos.toByteArray)
      }
      rows.foreach { r =>
        val h = r.getAs[Long]("host")
        val durls = r.getAs[String]("durls")
        val extra = s"""<url><loc>https://ex$h.org/extra?b=2&amp;a=1""" +
          "</loc></url>"
        val hostDir = java.nio.file.Files
          .createDirectories(java.nio.file.Paths.get(root, s"ex$h.org"))
        if (h % 3 == 0) {
          // production shape: index entry + two gzipped leaves (one
          // index loc whitespace-padded to exercise the trim)
          write(hostDir.resolve("sitemap.xml"),
            s"""<sitemapindex><sitemap><loc>https://ex$h.org/""" +
              "sitemap_1.xml.gz</loc></sitemap><sitemap><loc> " +
              s"""https://ex$h.org/sitemap_2.xml.gz """ +
              "</loc></sitemap></sitemapindex>")
          writeGz(hostDir.resolve("sitemap_1.xml.gz"),
            s"<urlset>$durls</urlset>")
          writeGz(hostDir.resolve("sitemap_2.xml.gz"),
            s"<urlset>$extra</urlset>")
        } else
          write(hostDir.resolve("sitemap.xml"),
            s"<urlset>$durls$extra</urlset>")
      }
      root
    }

  /** Temp path of the persisted FETCH LOG artifact (the
    * when-did-I-fetch sibling of the frontier: crawled docs < 300,
    * each /d/ url fetched at 2024-01-(10 + id%10) 09:00 — a morning
    * fetch, so a same-day 17:00Z lastmod is a REAL intraday update
    * the timestamp-precision recrawl plan must catch), written once
    * per data directory — the fixture is the WRITE;
    * `f_sitemap_recrawl` / `f_fetch_log_stats` gate the artifact READ
    * path.
    */
  private def fetchLogArt(s: SparkSession, dir: String)
      : graft.operators.CrawlState.FetchLog =
    graft.operators.CrawlState.readFetchLog(s, fetchLogPath(s, dir))

  /** The shared fetch-log artifact's PATH (read-only consumers). */
  private def fetchLogPath(s: SparkSession, dir: String): String =
    graft.TempDirs.once("fetchlog", dir) {
      val path = graft.TempDirs.dir("graft_fetchlog").toString + "/log"
      val fetched = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
            lit(".org/d/"), col("doc_id")).as("url"),
          expr("cast(date_add(date '2024-01-10', " +
            "cast(doc_id % 10 as int)) as timestamp) " +
            "+ interval 9 hour").as("fetched_at"))
      graft.operators.CrawlState.writeFetchLog(
        graft.operators.CrawlState.buildFetchLog(fetched), path)
      path
    }

  /** Temp path of the PIPELINE-D ledger: two crawl waves run
    * end-to-end through [[graft.Pipelines.crawlWave]] against fresh
    * persisted crawl-state artifacts (url-seen = the crawled /d/ set,
    * fetch log = their 09:00 fetches — pipeline D MUTATES its
    * artifacts, so it gets its own copies, never the shared f_*
    * fixtures). Wave 0 feeds every page's /d/ next-page link plus its
    * /p/ alias (resolved to chain heads by the canonical resolution);
    * wave 1 replays the same set plus a fresh /q/ section — wave 0's
    * fetches screen as known, its blocked urls re-block, the /q/ urls
    * fetch. The fixture is the WRITE; `a_pipeline_crawl` gates the
    * ledger READ (both waves' funnels).
    */
  private def crawlWaveLedger(s: SparkSession, dir: String): String =
    graft.TempDirs.once("crawlwave", dir) {
      val root = graft.TempDirs.dir("graft_crawlwave").toString
      val d = t(s, dir, "documents")
      val crawled = d.filter(col("doc_id") < 300)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")).as("url"))
      graft.operators.CrawlState.writeUrlIndex(
        graft.operators.CrawlState.buildUrlIndex(crawled),
        s"$root/frontier")
      graft.operators.CrawlState.writeFetchLog(
        graft.operators.CrawlState.buildFetchLog(
          d.filter(col("doc_id") < 300)
            .select(concat(lit("https://ex"),
                pmod(col("doc_id"), lit(10)), lit(".org/d/"),
                col("doc_id")).as("url"),
              expr("cast(date_add(date '2024-01-10', " +
                "cast(doc_id % 10 as int)) as timestamp) " +
                "+ interval 9 hour").as("fetched_at"))),
        s"$root/log")
      // per-host robots payloads (the f_robots_gate policy) and the
      // /p/ alias chains (the f_canonical_resolve edges)
      val robots = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      val edges = d.filter(pmod(col("doc_id"), lit(4)) =!= 0).select(
        concat(lit("https://ex"), expr("pmod(doc_id div 4, 10)"),
          lit(".org/p/"), col("doc_id")).as("url"),
        concat(lit("https://ex"), expr("pmod(doc_id div 4, 10)"),
          lit(".org/p/"), col("doc_id") - 1).as("canonical"))
      val resolution = graft.operators.CrawlState.resolveCanonical(edges)
        .localCheckpoint(false) // both waves map through it
      val base = array(
        concat(lit("https://ex"), pmod(col("doc_id") + 1, lit(10)),
          lit(".org/d/"), col("doc_id") + 1),
        concat(lit("https://ex"), expr("pmod(doc_id div 4, 10)"),
          lit(".org/p/"), col("doc_id")))
      val w0 = d.select(explode(base).as("url"))
      val w1 = d.select(explode(concat(base, array(
        concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/q/"), col("doc_id"))))).as("url"))
      graft.Pipelines.crawlWave(s, w0, robots, s"$root/frontier",
        s"$root/log", java.sql.Timestamp.valueOf("2024-02-01 09:00:00"),
        "wave-0", resolution = Some(resolution),
        ledgerPath = Some(s"$root/ledger"))
      graft.Pipelines.crawlWave(s, w1, robots, s"$root/frontier",
        s"$root/log", java.sql.Timestamp.valueOf("2024-02-02 09:00:00"),
        "wave-1", resolution = Some(resolution),
        ledgerPath = Some(s"$root/ledger"))
      s"$root/ledger"
    }

  private def spoolEntries(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sitemaps.readFrom(s, sitemapSpool(s, dir))
      .filter(col("kind") === "urlset")
      .select(explode(col("entries")).as("e"))
      .select(col("e.url").as("url"), col("e.lastmod").as("lastmod"))

  /** Temp root of the RECRAWL-driven wave: the lastmod→refetch loop
    * closed end-to-end. Fresh crawl-state artifacts (pipeline D
    * mutates them), the spool's recrawl plan classifies every
    * declared url, the `stale` + `new` rows become the wave's
    * candidates, and [[graft.Pipelines.crawlWave]] runs in REFETCH
    * mode (every candidate eligible — the plan already chose the
    * budget) at 2024-02-01 09:00, advancing the fetch log. The
    * fixture persists the BEFORE statuses and runs the wave;
    * `a_pipeline_recrawl` recomputes the plan against the ADVANCED
    * log and gates the status-transition matrix (stale→fresh for
    * every fetched url, blocked urls unchanged, fetched no-signal
    * urls → unknown).
    */
  private def recrawlWaveRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.once("recrawl", dir) {
      val root = graft.TempDirs.dir("graft_recrawl").toString
      val d = t(s, dir, "documents")
      val crawled = d.filter(col("doc_id") < 300)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")).as("url"))
      graft.operators.CrawlState.writeUrlIndex(
        graft.operators.CrawlState.buildUrlIndex(crawled),
        s"$root/frontier")
      graft.operators.CrawlState.writeFetchLog(
        graft.operators.CrawlState.buildFetchLog(
          d.filter(col("doc_id") < 300)
            .select(concat(lit("https://ex"),
                pmod(col("doc_id"), lit(10)), lit(".org/d/"),
                col("doc_id")).as("url"),
              expr("cast(date_add(date '2024-01-10', " +
                "cast(doc_id % 10 as int)) as timestamp) " +
                "+ interval 9 hour").as("fetched_at"))),
        s"$root/log")
      val before = graft.sources.Sitemaps.recrawlPlan(
          spoolEntries(s, dir),
          graft.operators.CrawlState.readFetchLog(s, s"$root/log")
            .fetches)
        .select(col("url"), col("status"))
        .localCheckpoint(true) // persisted below AND feeds the wave
      before.write.mode("overwrite").parquet(s"$root/before.parquet")
      val robots = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      graft.Pipelines.crawlWave(s,
        before.filter(col("status").isin("new", "stale"))
          .select(col("url")),
        robots, s"$root/frontier", s"$root/log",
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"),
        "recrawl-0", refetch = true)
      root
    }

  /** Temp root of the BUDGETED refetch wave — plan → budget → wave as
    * ONE chain: fresh crawl-state artifacts (the wave mutates them),
    * the spool's recrawl plan classifies every declared url, the
    * per-host staleness budget ([[graft.operators.CrawlState
    * .refetchBudget]], 20 slots/host — oldest stale copies first,
    * then never-fetched urls) picks WHICH urls this wave spends its
    * slots on, and [[graft.Pipelines.crawlWave]] refetches exactly
    * that set at 2024-02-01 09:00. The fixture persists the BEFORE
    * statuses and the budgeted selection; `a_pipeline_budget` gates
    * the (budgeted, before, after) transition matrix — unbudgeted
    * stale urls must stay stale (the budget REALLY limited the
    * wave), budgeted allowed urls advance, robots-blocked budgeted
    * urls keep their status.
    */
  private def budgetWaveRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.once("budgetwave", dir) {
      val root = graft.TempDirs.dir("graft_budgetwave").toString
      val d = t(s, dir, "documents")
      val crawled = d.filter(col("doc_id") < 300)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")).as("url"))
      graft.operators.CrawlState.writeUrlIndex(
        graft.operators.CrawlState.buildUrlIndex(crawled),
        s"$root/frontier")
      graft.operators.CrawlState.writeFetchLog(
        graft.operators.CrawlState.buildFetchLog(
          d.filter(col("doc_id") < 300)
            .select(concat(lit("https://ex"),
                pmod(col("doc_id"), lit(10)), lit(".org/d/"),
                col("doc_id")).as("url"),
              expr("cast(date_add(date '2024-01-10', " +
                "cast(doc_id % 10 as int)) as timestamp) " +
                "+ interval 9 hour").as("fetched_at"))),
        s"$root/log")
      val before = graft.sources.Sitemaps.recrawlPlan(
          spoolEntries(s, dir),
          graft.operators.CrawlState.readFetchLog(s, s"$root/log")
            .fetches)
        .localCheckpoint(true) // persisted AND feeds the budget
      before.select(col("url"), col("status"))
        .write.mode("overwrite").parquet(s"$root/before.parquet")
      val budget = graft.operators.CrawlState
        .refetchBudget(before, perHost = 20L)
        .localCheckpoint(true) // persisted AND feeds the wave
      budget.write.mode("overwrite").parquet(s"$root/budget.parquet")
      val robots = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      graft.Pipelines.crawlWave(s, budget.select(col("url")),
        robots, s"$root/frontier", s"$root/log",
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"),
        "budget-0", refetch = true)
      root
    }

  /** Temp root of the SITEMAP-DISCOVERY wave — the crawl-ops chain's
    * last composition seam closed: each host's robots.txt DECLARES
    * its entry sitemap (`Sitemap:` lines), the fetched spool payloads
    * read + parse + expand to the declared url set, and that feed
    * runs through [[graft.Pipelines.crawlWave]] in DISCOVERY mode
    * against fresh crawl-state artifacts at 2024-02-01 09:00 (known
    * urls skip, robots gate per host, fetched urls advance both
    * artifacts, funnel to the ledger) — robots → spool → expand →
    * wave as ONE verb, the way `a_pipeline_recrawl` composes
    * plan → refetch. The fixture is the WRITE; `a_pipeline_sitemap`
    * gates the wave's ledger funnel.
    */
  private def sitemapWaveRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.once("sitemapwave", dir) {
      val root = graft.TempDirs.dir("graft_sitemapwave").toString
      val d = t(s, dir, "documents")
      val crawled = d.filter(col("doc_id") < 300)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")).as("url"))
      graft.operators.CrawlState.writeUrlIndex(
        graft.operators.CrawlState.buildUrlIndex(crawled),
        s"$root/frontier")
      graft.operators.CrawlState.writeFetchLog(
        graft.operators.CrawlState.buildFetchLog(
          d.filter(col("doc_id") < 300)
            .select(concat(lit("https://ex"),
                pmod(col("doc_id"), lit(10)), lit(".org/d/"),
                col("doc_id")).as("url"),
              expr("cast(date_add(date '2024-01-10', " +
                "cast(doc_id % 10 as int)) as timestamp) " +
                "+ interval 9 hour").as("fetched_at"))),
        s"$root/log")
      val robotsTxt = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      val sm = robotsTxt.select(
        explode(graft.functions.Robots.sitemapUrls(col("txt")))
          .as("sitemap_url"))
      val candidates = graft.sources.Sitemaps.expand(
          graft.sources.Sitemaps.readFrom(s, sitemapSpool(s, dir)),
          sm)
        .select(col("url"))
      graft.Pipelines.crawlWave(s, candidates, robotsTxt,
        s"$root/frontier", s"$root/log",
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"),
        "sitemap-0", ledgerPath = Some(s"$root/ledger"))
      root
    }

  /** Generated markup shared by `t_html_tables` and
    * `t_table_linearize`: three tables — a headered 3-row grid with
    * entity refs, inline tags, a script decoy and implied closes; a
    * headerless one-cell table; and a SPANNED grid (colspan-2 header,
    * rowspan-2 first column) — plus text outside cells and a comment
    * decoy. One copy so the two queries (and their closed-form
    * oracles) can't drift apart.
    */
  private def tablesFixtureHtml(idc: Column): Column = concat(
    lit("<p>outside</p><table><tr><th>name</th>"),
    lit("<th>value &amp; unit</th></tr>"),
    lit("<tr><td>alpha "), idc,
    lit("</td><td>v<b>"), idc, lit("</b>x</td></tr>"),
    lit("<tr><td>beta<td><script>junk <td>fake</td></script>"),
    idc, lit("</table>"),
    lit("<table><tr><td>second "), idc,
    lit("</td></tr></table>"),
    lit("<table><tr><th colspan=\"2\">wide</th><th>unit</th></tr>"),
    lit("<tr><td rowspan=\"2\">tall "), idc,
    lit("</td><td>m1</td><td>n1</td></tr>"),
    lit("<tr><td>m2</td><td>n2 "), idc, lit("</td></tr></table>"),
    lit("<!-- <table><tr><td>no</td></tr></table> -->"))

  /** Fixed 6-merge BPE table shared by `t_bpe_compression` and
    * `t_subword_fertility` (and their oracles). */
  private val BpeMerges = Seq(("t", "h"), ("th", "e"), ("i", "n"),
    ("a", "n"), ("e", "r"), ("an", "d"))

  /** DuckDB replay of `Bpe.encodeExpr` under [[BpeMerges]]: CTEs
    * `vocab`/`s0..sN`/`enc` over a `wk(word, ...)` relation — each
    * merge is one left-assoc list fold, exactly the engine's
    * expression semantics. */
  private def bpeEncSql: String = {
    val folds = BpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"""s${i + 1} AS (SELECT word, list_reduce(
         |    list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN acc[len(acc)] = '$a' AND x[1] = '$b'
         |      THEN list_slice(acc, 1, len(acc) - 1) || ['$a$b']
         |      ELSE acc || x END) AS syms FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""vocab AS (SELECT DISTINCT word FROM wk),
       |s0 AS (SELECT word, list_transform(range(1, length(word) + 1),
       |    i -> substr(word, CAST(i AS INT), 1)) AS syms FROM vocab),
       |$folds,
       |enc AS (SELECT word, CAST(length(word) AS BIGINT) AS wlen,
       |    CAST(len(syms) AS BIGINT) AS blen FROM s${BpeMerges.length})""".stripMargin
  }


  /** One unigram-LM EM E-step over the word-type table — the shared
    * machinery behind t_unigram_em (the M-step + likelihoods) and
    * t_unigram_prune (the SentencePiece prune step). `forward` and
    * `ll` are expression BUILDERS evaluated against rows carrying a
    * `word` (and `freq`) column; arithmetic determinism notes live on
    * the t_unigram_em entry.
    */
  private final case class UnigramEmState(
      vocab: DataFrame, scored: DataFrame, perPiece: DataFrame,
      totalEc: DataFrame,
      forward: Map[String, Double] => org.apache.spark.sql.Column,
      ll: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      mStep: Map[String, Double])

  private def unigramEmCore(s: SparkSession, dir: String): UnigramEmState = {
    val wf = t(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint(false) // feeds induction AND both DP passes
    val subs = wf.select(col("freq"), explode(array_distinct(flatten(
        transform(sequence(lit(1), lit(8)), l =>
          transform(filter(sequence(lit(1), length(col("word"))),
              i => i + l - lit(1) <= length(col("word"))),
            i => col("word").substr(i, l)))))).as("sub"))
      .groupBy("sub").agg(sum("freq").as("w"))
      .localCheckpoint(false) // chars + top-200 + the total
    val vocab = subs.filter(length(col("sub")) === 1)
      .unionByName(subs.filter(length(col("sub")) >= 2)
        .orderBy(col("w").desc, col("sub").asc).limit(200))
      .localCheckpoint(false) // probs + the piece join-back
    val weights = vocab.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // model-sized
    val tot = weights.values.sum
    val probs = weights.map { case (p, w) =>
      p -> w.toDouble / tot.toDouble } // exact-int IEEE division

    val L = length(col("word"))
    // forward/backward over one word row — identical fold trees in
    // the oracle. alpha(j) sums over last-piece lengths; beta(j) over
    // first-piece lengths of the remaining suffix.
    def forward(pm: Map[String, Double]): org.apache.spark.sql.Column = {
      val pmLit = typedLit(pm)
      aggregate(sequence(lit(1), L), array(lit(1.0)), (acc, j) =>
        concat(acc, array(aggregate(sequence(lit(1), lit(8)),
          lit(0.0), (acc2, l) => acc2 + coalesce(
            when(l <= j, get(acc, j - l) * try_element_at(pmLit,
              col("word").substr(j - l + lit(1), l))),
            lit(0.0))))))
    }
    val pmLit = typedLit(probs)
    val beta = aggregate(sequence(lit(1), L), array(lit(1.0)),
      (acc, k) => concat(array(aggregate(sequence(lit(1), lit(8)),
        lit(0.0), (acc2, l) => acc2 + coalesce(
          when(l <= k, try_element_at(pmLit,
            col("word").substr(L - k + lit(1), l)) * get(acc, l - 1)),
          lit(0.0)))), acc))

    val scored = wf
      .withColumn("al", forward(probs)).withColumn("be", beta)
      .localCheckpoint(false) // occurrences + the likelihood sums
    // E-step: gamma of each occurrence, rounded, exact-decimal summed
    val occ = scored
      .select(col("word"), col("freq"), col("al"), col("be"),
        explode(sequence(lit(1), L)).as("i"))
      .select(col("word"), col("freq"), col("al"), col("be"), col("i"),
        explode(sequence(lit(1), lit(8))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .withColumn("piece", col("word").substr(col("i"), col("l")))
      .withColumn("p", try_element_at(pmLit, col("piece")))
      .filter(col("p").isNotNull)
      .withColumn("gamma",
        get(col("al"), col("i") - 1) * col("p") *
          get(col("be"), col("i") + col("l") - 1) /
          get(col("al"), length(col("word"))))
    val perPiece = occ.groupBy("piece")
      .agg(sum(round(col("freq").cast("double") * col("gamma"), 9)
        .cast("decimal(38,9)")).as("ec"))
      .localCheckpoint(false) // rows + the normalizer + the M-step
    val totalEc = perPiece.agg(sum("ec").as("c"))

    // M-step model: the same ratio tree the output column closes
    // with, unrounded
    val mStep = perPiece.crossJoin(broadcast(totalEc))
      .select(col("piece"), (col("ec").cast("double") /
        col("c").cast("double")).as("pn"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def ll(alpha: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(sum(round(col("freq").cast("double") *
        round(log(get(alpha, length(col("word")))), 9), 6)
        .cast("decimal(28,6)")).cast("double"), 6)
    UnigramEmState(vocab, scored, perPiece, totalEc, forward, ll, mStep)
  }

  /** Temp path of the persisted tokenizer-model artifact, induced and
    * written once per (data directory, kind) — the fixture is the
    * WRITE; the gated queries are the artifact READ + encode paths.
    */
  private def tokenizerArtifact(s: SparkSession, dir: String, kind: String)
      : graft.operators.Tokenizer.VocabModel = {
    val Tok = graft.operators.Tokenizer
    val p = graft.TempDirs.once(s"tok:$kind", dir) {
      val path = graft.TempDirs.dir("graft_tok").toString + "/" + kind
      val wf = Tok.wordFreqs(t(s, dir, "documents")).localCheckpoint(false)
      val pieces = Tok.induceVocab(wf, kind).localCheckpoint(false)
      val pcs = pieces.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val uses = kind match {
        case "wordpiece" => Tok.pieceUses(wf,
          graft.expressions.TextExprs.wordpiece(col("word"),
            array(pcs.map(x => lit(x._1)): _*)))
        case _ =>
          val scored = Tok.scoreMapE6(s,
            Tok.VocabModel(kind, pcs.map(_._2).sum, pcs))
          val (_, dp) = Tok.viterbi(col("word"), scored)
          Tok.pieceUses(wf.withColumn("__dp", dp),
            Tok.viterbiPieces(col("word"), col("__dp")))
      }
      Tok.writeVocab(s, path, kind, pieces, uses)
      path
    }
    Tok.readVocab(s, p)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_token_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.subwordCount(col("text")).as("n_subwords"),
        length(col("text")).as("len_chars"))
    }),

    "t_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        Text.langId(Text.tokens(col("text"))).as("lang_pred"))
    }),

    // ---- tokenizer fertility per declared language: BPE tokens per
    //      word and chars per token under the fixed 6-merge table
    //      (the t_bpe_compression tokenizer) — the budgeting numbers
    //      that decide which languages a tokenizer under-serves
    //      (high fertility = more sequence length per word).
    //      Aggregated as exact corpus ratios over vocab-sized frames:
    //      encode each DISTINCT word once, weight by frequency (Σ
    //      over words, ONE floor division each — not a mean of
    //      per-doc ratios). ----
    "t_subword_fertility" -> ((s, dir) => {
      val wk = t(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("lang", "word").agg(count(lit(1)).as("k"))
      val enc = wk.select("word").distinct()
        .select(col("word"), length(col("word")).cast("long").as("wlen"),
          size(graft.operators.Bpe.encodeExpr(col("word"), BpeMerges))
            .cast("long").as("blen"))
      wk.join(enc, "word")
        .groupBy("lang").agg(sum("k").as("n_words"),
          sum(col("k") * col("wlen")).as("n_chars"),
          sum(col("k") * col("blen")).as("n_bpe"))
        .select(col("lang"), col("n_words"), col("n_chars"),
          col("n_bpe"),
          expr("n_bpe * 1000000L div n_words").as("fertility_e6"),
          expr("n_chars * 1000000L div n_bpe").as("chars_per_token_e6"))
    }),

    "t_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tok = Text.tokens(col("text"))
      d.select(col("doc_id"),
        Text.stopwordRatio(tok).as("stop_ratio"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.qualityScore(col("text"), tok).as("quality"))
    }),

    // ---- readability scoring (Flesch-Kincaid grade + Flesch reading
    //      ease): the classic curriculum/difficulty signal, computed
    //      from three codegen'd regex counts — whitespace words,
    //      [.!?]+ sentence breaks, [aeiouy]+ vowel groups as the
    //      syllable heuristic (vowel groups never span the space
    //      between words, so one whole-text scan equals the per-word
    //      sum). Both scores are exact fixed-point INTEGER arithmetic
    //      (floor-div, e2/e3 scale) so the oracle replays them
    //      bit-for-bit — no doubles anywhere. greatest(1, ·) guards
    //      division on punctuation-free docs (this fixture's texts —
    //      TextSpec exercises real sentence breaks synthetically).
    //      Shape: pure map-side projection, zero shuffles. ----
    "t_readability" -> ((s, dir) => {
      val words = greatest(lit(1L),
        size(Text.tokens(col("text"))).cast("long"))
      val sents = greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long"))
      val syls = greatest(lit(1L),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("long"))
      t(s, dir, "documents")
        .select(col("doc_id"), words.as("n_words"),
          sents.as("n_sentences"), syls.as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          expr("n_words * 39 div n_sentences + n_syllables * 1180 div n_words - 1559")
            .as("fk_e2"),
          expr("206835 - n_words * 1015 div n_sentences - n_syllables * 84600 div n_words")
            .as("fre_e3"))
    }),

    // ---- per-source quality calibration: percent_rank of the quality
    //      score WITHIN each source, so thresholds are comparable
    //      across domains with different score distributions (a 0.9
    //      forum doc and a 0.9 wiki doc mean different things; their
    //      within-source ranks don't). One keyed window over the
    //      map-side score — single shuffle on source ----
    "t_quality_calibrated" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val tok = Text.tokens(col("text"))
      d.select(col("doc_id"), col("source"),
          Text.qualityScore(col("text"), tok).as("quality"))
        .withColumn("pr", percent_rank().over(
          Window.partitionBy("source").orderBy(col("quality"))))
    }),

    // ---- cross-split leakage check: identical texts (md5 fingerprint)
    //      landing in DIFFERENT train/val/test splits — the governance
    //      gate before any eval is trusted. Fingerprint equi-join (the
    //      exact-dup join shape), never a cross join; the synthetic
    //      copies under doc_id+100000 hash into other splits so the
    //      gate provably fires ----
    "t_split_leakage" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val base = d.union(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val sp = graft.operators.Sampling.hashSplit(base, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), md5(col("text")).as("fp"), col("split"))
      sp.as("a").join(sp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
            col("a.split") =!= col("b.split"))
        // canonical pair order: (train,val) and (val,train) are ONE
        // leakage channel — never fragment its count across two rows
        .groupBy(least(col("a.split"), col("b.split")).as("split_a"),
          greatest(col("a.split"), col("b.split")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ---- the FIX for t_split_leakage: split on the duplicate-family
    //      key instead of the document id, so every near-dup family
    //      lands whole in one split and the cross-split leakage
    //      channel is 0 BY CONSTRUCTION (for LSH families the key is
    //      the Dedup.dupClusters label; exact families use the text
    //      fingerprint — same mechanism). Same doubled corpus, same
    //      256-bucket hash assignment, leakage census rides along ----
    "t_split_by_cluster" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val base = d.union(
          d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .withColumn("fp", md5(col("text")))
      val sp = graft.operators.Sampling.hashSplit(base, "fp",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .localCheckpoint(false) // split census + the leak self-join
      val leaks = sp.as("a").join(sp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
            col("a.split") =!= col("b.split"))
        .agg(count(lit(1)).as("leaked_pairs"))
      sp.groupBy("split").agg(count(lit(1)).as("n_docs"),
          countDistinct("fp").as("n_groups"))
        .crossJoin(broadcast(leaks))
    }),

    "t_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tok = Text.tokens(col("text"))
      d.select(col("doc_id"),
        Text.fingerprint(col("text")).as("fp"),
        Text.minShingleFingerprint(tok, 5).as("minshingle_fp"))
    }),

    // ---- PII redaction over a corpus with injected emails / phones /
    //      account ids (documents.text itself is PII-free) ----
    "t_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or call +1-555-"),
        lpad(col("doc_id").cast("string"), 7, "0"), lit(" account 9876543210"))
      d.select(col("doc_id"), Text.redactPii(dirty).as("clean"))
    }),

    // ---- PII detection census over a corpus with injected emails /
    //      phones / IPs (valid octets only for doc_id%2=0) / 16-digit
    //      card numbers (Luhn-valid only for doc_id%3=0): the counts a
    //      pipeline inspects BEFORE deciding to scrub or drop. Map-side
    //      regexp extraction + Luhn array algebra, no shuffle ----
    "t_pii_detect" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val dirty = concat(col("text"),
        lit(" reach user"), col("doc_id"),
        lit("@mail.example.org or +44-20-"),
        lpad(col("doc_id").cast("string"), 7, "0"),
        when(col("doc_id") % 2 === 0, lit(" from 10.1.2.3"))
          .otherwise(lit(" from 999.288.1.300")),
        when(col("doc_id") % 3 === 0, lit(" card 4532015112830366"))
          .otherwise(lit(" card 4532015112830367")))
      val c = Text.piiCounts(dirty)
      d.select(col("doc_id"),
        c.getField("n_emails").as("n_emails"),
        c.getField("n_phones").as("n_phones"),
        c.getField("n_ipv4").as("n_ipv4"),
        c.getField("n_cards").as("n_cards"))
    }),

    // ---- mojibake repair over a corpus with UTF-8-as-Latin-1
    //      misdecodes injected into half the docs (the suffix is built
    //      by ACTUALLY running the bad decode, not by typing its
    //      visual form): the native graft_fix_mojibake expression must
    //      restore the clean text exactly and leave clean docs
    //      untouched — the oracle states the closed-form expectation ----
    "t_mojibake" -> ((s, dir) => {
      val moji = new String(
        "café naïve résumé".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val dirty = when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" " + moji))).otherwise(col("text"))
      val fixed = graft.expressions.TextExprs.fixMojibake(dirty)
      t(s, dir, "documents").select(col("doc_id"),
        fixed.as("clean"), (fixed =!= dirty).as("repaired"))
    }),

    // ---- per-document character entropy (nats): the classic
    //      gibberish/noise detector next to the compression-ratio
    //      signal — uniform-random text maxes entropy, repeated-char
    //      spam collapses it, prose sits in a narrow band. One native
    //      single-pass histogram walk per row (graft_char_counts — no
    //      per-character explode, no shuffle anywhere in the plan),
    //      then the entropy folds over the count array IN COLUMN
    //      ALGEBRA: each term ln-rounded before use per the house libm
    //      discipline, summed exactly in DECIMAL (the fold order is
    //      the expression's sorted-code-point order, but an exact sum
    //      makes any order the same sum — the hashes match the old
    //      explode+groupBy plan bit-for-bit) ----
    "t_char_entropy" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("L"),
          graft.expressions.TextExprs.charCounts(col("text")).as("cc"))
      def p(cnt: Column) = cnt.cast("double") / col("L").cast("double")
      d.select(col("doc_id"), col("L").as("n_chars"),
        size(col("cc")).cast("int").as("n_distinct"),
        round(-aggregate(col("cc"),
            lit(0).cast("decimal(38,12)"),
            (acc, cnt) => (acc + round(p(cnt) * round(log(p(cnt)), 9), 12)
              .cast("decimal(38,12)")).cast("decimal(38,12)"))
          .cast("double"), 6).as("entropy"))
    }),

    // ---- Unicode script census over a corpus with injected
    //      Cyrillic / Han / Greek runs — the multilingual sibling of
    //      the marker-word language ID (scripts are detectable even
    //      when no marker word matches, and a script mix is itself a
    //      contamination signal). Char counts via the
    //      length-minus-stripped trick over Unicode script classes
    //      (Java \p{IsX} == RE2 \p{X} on these ranges); dominant
    //      script by argmax with declaration-order ties. Map-side,
    //      no shuffle ----
    "t_script_census" -> ((s, dir) => {
      val dirty = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" \u043F\u0440\u0438\u0432\u0435\u0442 \u043C\u0438\u0440"))
        .when(col("doc_id") % 3 === 1, lit(" \u6F22\u5B57\u6F22"))
        .otherwise(lit(" \u03B1\u03B2\u03B3")))
      def n(cls: String) = length(dirty) -
        length(regexp_replace(dirty, s"[\\p{Is$cls}]", ""))
      val counts = Seq("latin" -> n("Latin"), "cyrillic" -> n("Cyrillic"),
        "han" -> n("Han"), "greek" -> n("Greek"))
      val best = greatest(counts.map(_._2): _*)
      val dominant = counts.foldRight(lit("none")) { case ((nm, c), acc) =>
        when(c === best && best > 0, lit(nm)).otherwise(acc)
      }
      t(s, dir, "documents").select(col("doc_id"),
        counts.head._2.as("n_latin"), counts(1)._2.as("n_cyrillic"),
        counts(2)._2.as("n_han"), counts(3)._2.as("n_greek"),
        dominant.as("dominant"))
    }),

    // ---- Unicode sanitization over a corpus with injected invisible
    //      characters and typographic punctuation (each built from
    //      explicit code points, so the oracle states the closed-form
    //      expectation): zero-widths/BOM/soft-hyphens must vanish,
    //      curly quotes / dashes / NBSP / ellipsis must normalize —
    //      the pre-tokenization step that keeps shingles and n-grams
    //      from forking on typography. Map-side regexp+translate
    //      chain, no shuffle ----
    "t_sanitize" -> ((s, dir) => {
      val dirty = when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(" \u201Cquoted\u201D\u200Btail")))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" a\u2014b\u00A0c")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("\uFEFF"), col("text"),
            lit(" el\u00ADlipsis\u2026")))
        .otherwise(col("text"))
      val clean = Text.sanitize(dirty)
      t(s, dir, "documents").select(col("doc_id"), clean.as("clean"),
        (clean =!= dirty).as("changed"))
    }),

    // ---- HTML → text extraction over a generated-markup corpus (the
    //      m_png_dims pattern: Spark BUILDS the hostile document from
    //      table values, the native expression must invert it, the
    //      oracle states the closed-form expectation). The generation
    //      exercises every documented hazard at once: style with fake
    //      tags in a string, a comment wrapping markup, script with a
    //      bare `<` and fake tags, a `>` inside a quoted attribute,
    //      the body text entity-encoded (&#32; for every space — the
    //      decoder must reverse it), &amp;/&nbsp; references, a
    //      self-closing tag, and a CDATA block whose content must
    //      surface literally. Map-side native expression, no shuffle —
    //      the first stage of a 100 TB web-crawl ingest ----
    "t_html_extract" -> ((s, dir) => {
      val enc = regexp_replace(col("text"), lit(" "), lit("&#32;"))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
        lit("<style type=\"text/css\">p { color: \"<red>\"; }</style>"),
        lit("</head><body><!-- note <p>fake</p> -->"),
        lit("<h1 id=\"t\">Heading &amp; "), col("doc_id"), lit("</h1>"),
        lit("<p title=\"a>b\">"), enc, lit("</p>"),
        lit("<script>if (1<2) { alert(\"<b>no</b>\"); }</script>"),
        lit("<p>tail&nbsp;words<br/>line2 "),
        lit("<![CDATA[cdata <raw> text]]></p></body></html>"))
      val clean = graft.expressions.HtmlExprs.htmlToText(html)
      t(s, dir, "documents").select(col("doc_id"), clean.as("clean"),
        Text.tokenCount(clean).as("n_tokens"))
    }),

    // ---- outlink extraction from the same kind of generated markup:
    //      href values in document order, entity-decoded (&amp; in a
    //      query string), double/single/unquoted attribute forms —
    //      while links inside comments and script must NOT count.
    //      Feeds the URL-canonicalization / frontier operators ----
    "t_html_links" -> ((s, dir) => {
      val html = concat(
        lit("<p>visit <a href=\"https://ex.org/d/"), col("doc_id"),
        lit("?a=1&amp;b=2\">here</a>"),
        lit(" <!-- <a href=\"http://comment.skip/x\">no</a> -->"),
        lit("<script>var s='<a href=\"http://script.skip/y\">';</script>"),
        lit(" <A HREF='/rel/"), col("doc_id"),
        lit("' rel=\"nofollow\">rel</A>"),
        lit(" <a name=\"anchor\">no href</a>"),
        lit(" <a title=\"x\" href=plain"), col("doc_id"),
        lit(">unquoted</a></p>"))
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(graft.expressions.HtmlExprs.htmlLinks(html))
          .as(Seq("ord", "href")))
    }),

    // ---- typed reference extraction with base-href resolution: the
    //      crawl-frontier feed. The generated page carries a base (a
    //      second base that must be ignored), a canonical link (plus a
    //      stylesheet link that must not count), absolute / protocol-
    //      relative / directory-relative / root-relative / fragment
    //      hrefs, an img src, and comment/script decoys; the oracle
    //      states every resolved (kind, url) in document order ----
    "t_html_refs" -> ((s, dir) => {
      val html = concat(
        lit("<head><base href=\"https://EX.org:443/a/b/page.html?x=1\">"),
        lit("<base href=\"https://second.ignored/\">"),
        lit("<link rel=\"canonical\" href=\"/canon/"), col("doc_id"),
        lit("\"><link rel=\"stylesheet\" href=\"/style.css\">"),
        lit("</head><body><a href=\"https://other.net/abs/"),
        col("doc_id"), lit("\">x</a>"),
        lit(" <a href=\"//cdn.ex.org/p/"), col("doc_id"), lit("\">y</a>"),
        lit(" <a href=\"rel/"), col("doc_id"), lit("\">z</a>"),
        lit(" <a href=\"/root/"), col("doc_id"),
        lit("?a=1&amp;b=2\">r</a> <a href=\"#frag\">f</a>"),
        lit(" <img src=\"img/"), col("doc_id"), lit(".jpg\">"),
        lit("<!-- <a href=\"http://comment.skip/x\">no</a> -->"),
        lit("<script>var s='<a href=\"http://script.skip/y\">';</script>"),
        lit("</body>"))
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(graft.expressions.HtmlExprs.htmlRefs(html)))
        .select(col("doc_id"), col("pos").as("ord"),
          col("col.kind").as("kind"), col("col.url").as("url"))
    }),

    // ---- crawl frontier against the PERSISTED URL-seen artifact:
    //      the reference's manifest-vs-storage partition
    //      (app/app.py:100-154) re-expressed for crawl state —
    //      outlinks extracted from generated pages (typed refs, base
    //      resolution), canonicalized + deduplicated, and screened
    //      against the crawl-state INDEX (CrawlState.screenUrls: one
    //      equi-join on the canonical url key against the parquet
    //      urls table — the crawled set is READ from the maintained
    //      artifact, never re-derived), then massed per host: the
    //      next wave's fetch budget. The fixture writes the artifact
    //      once per data dir (docs < 300 in their /d/ url space); at
    //      crawl scale the same artifact is what `index append
    //      --kind frontier` grows after every wave ----
    "f_frontier" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<head><base href=\"https://ex"), pmod(col("doc_id"), lit(10)),
        lit(".org/sec/page.html\"></head><body>"),
        lit("<a href=\"//ex"), pmod(col("doc_id") + 1, lit(10)),
        lit(".org/d/"), col("doc_id") + 1,
        lit("?utm_source=feed\">n</a> <a href=\"/p/"), col("doc_id"),
        lit("\">p</a> <a href=\"HTTPS://EX"),
        pmod(col("doc_id") + 1, lit(10)), lit(".ORG:443/d/"),
        col("doc_id") + 1, lit("#top\">d</a> <img src=\"/i/"),
        col("doc_id"), lit(".jpg\">"),
        lit("<!-- <a href=\"http://comment.skip/x\">no</a> --></body>"))
      val refs = d.select(
          explode(graft.expressions.HtmlExprs.htmlRefs(html)).as("r"))
        .filter(col("r.kind") === "a")
        .select(col("r.url").as("url"))
      graft.operators.CrawlState
        .screenUrls(refs, frontierIndex(s, dir))
        .groupBy("host")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(!col("known"), 1L).otherwise(0L)).as("n_new"))
    }),

    // ---- PIPELINE D end-to-end — the crawl wave as ONE gated chain
    //      (the a_pipeline_move / a_pipeline_curate treatment for
    //      crawl ops): candidates canonicalize, alias-resolve to
    //      chain heads (pointer-doubled resolution), screen against
    //      the PERSISTED url-seen artifact, robots-gate per host,
    //      schedule, and the fetched set ADVANCES both artifacts so
    //      wave 1 sees wave 0's fetches as known while its blocked
    //      urls re-block and a fresh /q/ section fetches — the
    //      2-wave loop a real crawl runs daily, its funnels read
    //      back from the persisted ledger. The oracle replays both
    //      waves' set algebra in closed form ----
    "a_pipeline_crawl" -> ((s, dir) =>
      graft.operators.CurationLedger.read(s, crawlWaveLedger(s, dir))),

    // ---- SITEMAP DISCOVERY composed into pipeline D — robots
    //      `Sitemap:` lines → spool read (binaryFile + inflate +
    //      classify) → index expand → crawlWave DISCOVERY mode, one
    //      chain against fresh artifacts: known /d/ urls skip, the
    //      graft-override hosts' new /d/ urls block, every host's
    //      parameterized extra (and the non-override hosts' new /d/
    //      pages) fetch and advance the artifacts; the gated output
    //      is the wave's ledger funnel. The oracle replays the set
    //      algebra in closed form ----
    "a_pipeline_sitemap" -> ((s, dir) =>
      graft.operators.CurationLedger.read(s,
        s"${sitemapWaveRoot(s, dir)}/ledger")),

    // ---- crawler-TRAP detection: every url collapses to its path
    //      template (query values → =#, digit runs → #) and the
    //      report masses distinct urls per (host, template) — the
    //      per-url-shape budget signal: host 7's calendar pages
    //      (/cal?m=&y= with per-doc values) show up as ONE template
    //      carrying a whole host's worth of urls, exactly the
    //      generated space a frontier caps per template instead of
    //      crawling to exhaustion. One distinct + map-side template
    //      + one keyed agg ----
    "f_trap_report" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val urls = d.select(explode(concat(
        array(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id"))),
        when(pmod(col("doc_id"), lit(10)) === 7,
          array(concat(lit("https://ex7.org/cal?y="),
            col("doc_id") + 2000, lit("&m="),
            pmod(col("doc_id"), lit(12)))))
          .otherwise(array().cast("array<string>")))).as("url"))
      graft.operators.CrawlState.urlTemplateStats(urls)
    }),

    // ---- crawler-trap ENFORCEMENT: the f_trap_report signal acted
    //      on inside pipeline D — the same candidate shape (every /d/
    //      page + host 7's calendar-trap urls) runs a DRY crawl wave
    //      with trapCap = 5, and each (host, template)'s fetch set is
    //      capped at 5 urls: host 7's calendar space schedules 5
    //      fetches instead of its whole generated space, the capped
    //      urls stay auditable (trap_capped decisions + funnel
    //      stage), and real pages on other templates/hosts are not
    //      starved. Dry run — the shared frontier artifact is
    //      read-only here ----
    "f_trap_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val urls = d.select(explode(concat(
        array(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id"))),
        when(pmod(col("doc_id"), lit(10)) === 7,
          array(concat(lit("https://ex7.org/cal?y="),
            col("doc_id") + 2000, lit("&m="),
            pmod(col("doc_id"), lit(12)))))
          .otherwise(array().cast("array<string>")))).as("url"))
      val robots = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      val (dec, _) = graft.Pipelines.crawlWave(s, urls, robots,
        frontierPath(s, dir), fetchLogPath(s, dir),
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "trap-0",
        trapCap = Some(5L), dryRun = true)
      dec.groupBy("host").agg(
        count(lit(1)).as("n_urls"),
        sum(when(col("fetch"), 1L).otherwise(0L)).as("n_fetch"),
        sum(when(col("trap_capped"), 1L).otherwise(0L)).as("n_capped"))
    }),

    // ---- in-degree FRONTIER PRIORITY — the ordering policy over the
    //      discovery feed: each page links to its host's hub and to
    //      its next page, edges from UNCRAWLED pages (id>=300) are
    //      hearsay and drop, and every candidate gets its distinct
    //      known-linker count — hubs collect a whole host's crawled
    //      votes, next-page urls get one vote when their linker was
    //      crawled, hearsay-only urls ride at priority 0 (fetch
    //      last, never silently dropped). Two equi-joins + one keyed
    //      count; gated per host ----
    "f_frontier_priority" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val own = concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
        lit(".org/d/"), col("doc_id"))
      val edges = d.select(own.as("src"), explode(array(
        concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/hub")),
        concat(lit("https://ex"), pmod(col("doc_id") + 1, lit(10)),
          lit(".org/d/"), col("doc_id") + 1))).as("dst"))
      graft.operators.CrawlState
        .frontierPriority(edges, frontierIndex(s, dir))
        .groupBy("host").agg(
          count(lit(1)).as("n_candidates"),
          sum(col("priority")).as("total_votes"),
          max(col("priority")).as("max_votes"),
          sum(when(col("known"), 1L).otherwise(0L)).as("n_known"),
          sum(when(col("priority") === 0, 1L).otherwise(0L))
            .as("n_hearsay"))
    }),

    // ---- priority → budget → wave: the discovery twin of the
    //      refetch-budget chain — frontierPriority's votes rank each
    //      host's unknown candidates (hub first: it carries a whole
    //      host's crawled votes; /d/300 outranks the zero-vote urls
    //      on its host), the per-host budget keeps the top 5, and a
    //      dry crawl wave gates the selection (robots still blocks
    //      /d/ picks on graft-override hosts — priority never
    //      overrides policy). n_votes_sel pins WHICH rows the budget
    //      picked, top_url pins the ordering ----
    "f_priority_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val own = concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
        lit(".org/d/"), col("doc_id"))
      val edges = d.select(own.as("src"), explode(array(
        concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/hub")),
        concat(lit("https://ex"), pmod(col("doc_id") + 1, lit(10)),
          lit(".org/d/"), col("doc_id") + 1))).as("dst"))
      val budget = graft.operators.CrawlState.discoveryBudget(
        graft.operators.CrawlState
          .frontierPriority(edges, frontierIndex(s, dir)),
        perHost = 5L)
        .localCheckpoint(false) // feeds the wave AND the report join
      val robots = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      val (dec, _) = graft.Pipelines.crawlWave(s,
        budget.select(col("url")), robots,
        frontierPath(s, dir), fetchLogPath(s, dir),
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "prio-0",
        dryRun = true)
      dec.groupBy("host").agg(
          count(lit(1)).as("n_selected"),
          sum(when(col("fetch"), 1L).otherwise(0L)).as("n_fetched"))
        .join(budget.groupBy("host").agg(
            sum(col("priority")).as("n_votes_sel"),
            min(when(col("budget_rank") === 1, col("url")))
              .as("top_url")),
          Seq("host"))
    }),

    // ---- per-host wave drain ESTIMATE: a dry wave over every /d/
    //      and /q/ page schedules politeness-paced slots (Crawl-delay
    //      5 s on graft-override hosts, 2 s elsewhere), and the eta
    //      report reads each host's LAST slot against a 2500 s
    //      horizon — the will-it-drain number that sizes the next
    //      wave down (or shards the host) before the overrun happens.
    //      One keyed agg over the schedule ----
    "f_wave_eta" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val urls = d.select(explode(array(
        concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")),
        concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/q/"), col("doc_id")))).as("url"))
      val robots = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        col("txt"))
      val (dec, _) = graft.Pipelines.crawlWave(s, urls, robots,
        frontierPath(s, dir), fetchLogPath(s, dir),
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "eta-0",
        dryRun = true)
      graft.operators.CrawlState.scheduleEta(dec, horizonMs = 2500000L)
    }),

    // ---- the per-host ROBOTS CACHE (third crawl-state artifact):
    //      two observations per host — a Jan-1 policy and a newer
    //      Jan-(h+2) refetch — collapse latest-wins, and the TTL
    //      report at Feb-1 against a 504 h (21 day) budget flags
    //      every host but the freshest for robots refetch. The
    //      will-I-enforce-a-stale-policy gate a fleet drains before
    //      each wave; one keyed agg + a map-side age projection ----
    "f_robots_cache" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val hosts = d.select(pmod(col("doc_id"), lit(10)).as("h"))
        .distinct()
      val obs = hosts.select(
          concat(lit("ex"), col("h"), lit(".org")).as("host"),
          concat(lit("old-"), col("h")).as("txt"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("fetched_at"))
        .unionByName(hosts.select(
          concat(lit("ex"), col("h"), lit(".org")).as("host"),
          concat(lit("new-"), col("h")).as("txt"),
          expr("cast(date_add(date '2024-01-02', cast(h as int)) " +
            "as timestamp)").as("fetched_at")))
      graft.operators.CrawlState.staleRobots(
          graft.operators.CrawlState.buildRobotsCache(obs),
          java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
          ttlHours = 504L)
        .select(col("host"), col("txt"),
          to_date(col("fetched_at")).as("fetched_day"),
          col("age_h"), col("stale"))
    }),

    // ---- the frontier artifact's health gate: per-host seen-URL
    //      histogram over the PERSISTED index (d_index_stats for the
    //      crawl state — one runaway host is one hot partition in
    //      every screen join). Reads the urls table only; two
    //      map-combinable aggs ----
    "f_frontier_stats" -> ((s, dir) =>
      graft.operators.CrawlState.urlIndexStats(frontierIndex(s, dir))),

    // ---- canonical-CHAIN resolution into the frontier: each page's
    //      <link rel="canonical"> (extracted by graft_html_refs with
    //      base-href resolution, like every alias in a real crawl)
    //      points one hop along its alias chain — pages 4k+3 → 4k+2 →
    //      4k+1 → 4k on one host, chain heads declare none — and the
    //      resolver collapses every source to its FINAL url by
    //      pointer doubling (ceil(log2(8)) = 3 equi-joins, never a
    //      per-hop driver loop), so the frontier fetches one url per
    //      page identity however many aliases reach it. The oracle
    //      replays the walk as a recursive CTE ----
    "f_canonical_resolve" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val own = concat(lit("https://ex"),
        expr("pmod(doc_id div 4, 10)"), lit(".org/p/"), col("doc_id"))
      val html = when(pmod(col("doc_id"), lit(4)) =!= 0,
        concat(lit("<head><base href=\""), own,
          lit("\"><link rel=\"canonical\" href=\"/p/"),
          col("doc_id") - 1, lit("\"></head><body>x</body>")))
        .otherwise(lit("<body>chain head</body>"))
      val edges = d.select(own.as("url"),
          explode(graft.expressions.HtmlExprs.htmlRefs(html)).as("r"))
        .filter(col("r.kind") === "canonical")
        .select(col("url"), col("r.url").as("canonical"))
      graft.operators.CrawlState.resolveCanonical(edges)
    }),

    // ---- sitemap discovery feeding the frontier — the third leg of
    //      the crawl-ops chain, on the PRODUCTION read path: each
    //      host's robots.txt DECLARES its entry sitemap
    //      (group-independent `Sitemap:` line, Robots.sitemapUrls),
    //      the FETCHED payloads are read from the spool as opaque
    //      blobs (one distributed binaryFile scan), inflated where
    //      gzipped, classified urlset/sitemapindex, their <loc>s
    //      extracted (trimmed, entity-decoded, 50k-capped) and
    //      index-nested hosts resolved entry→leaf by one (host, file)
    //      equi-join per depth level — then the candidate set screens
    //      against the PERSISTED URL-seen artifact: per host, how
    //      much of the declared sitemap is already crawled vs new
    //      fetch budget. Host-bounded frames end to end ----
    "f_sitemap_feed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sm = robotsTxtFixture(d).select(
        concat(lit("ex"), col("host"), lit(".org")).as("host"),
        explode(graft.functions.Robots.sitemapUrls(col("txt")))
          .as("sitemap_url"))
      val parsed = graft.sources.Sitemaps
        .readFrom(s, sitemapSpool(s, dir))
      val urls = graft.sources.Sitemaps
        .expand(parsed, sm.select(col("sitemap_url")))
      graft.operators.CrawlState
        .screenUrls(urls.select("url"), frontierIndex(s, dir))
        .groupBy("host").agg(
          count(lit(1)).as("n_urls"),
          sum(when(col("known"), 1L).otherwise(0L)).as("n_known"),
          sum(when(!col("known"), 1L).otherwise(0L)).as("n_new"))
        .join(sm.distinct(), "host")
        .select(col("host"), col("sitemap_url"), col("n_urls"),
          col("n_known"), col("n_new"))
    }),

    // ---- INCREMENTAL recrawl off the same spool — the point of
    //      declaring lastmod: every urlset entry (url + optional
    //      lastmod, parsed per <url> block) joins the crawler's
    //      fetch log (the /d/ pages crawled at 09:00 of their fetch
    //      day) on the canonical url key and classifies new / stale
    //      (declared lastmod after the fetch — at TIMESTAMP precision
    //      for full W3C datetime declarations, so the id%4==1 pages
    //      modified 17:00Z on their own fetch day classify stale;
    //      date granularity for date-only ones) / fresh / unknown
    //      (no change signal) — the per-host budget that refetches
    //      what CHANGED instead of everything. One scan + one
    //      equi-join ----
    "f_sitemap_recrawl" -> ((s, dir) => {
      graft.sources.Sitemaps.recrawlPlan(spoolEntries(s, dir),
          fetchLogArt(s, dir).fetches)
        .groupBy("host").agg(
          sum(when(col("status") === "new", 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("status") === "stale", 1L).otherwise(0L))
            .as("n_stale"),
          sum(when(col("status") === "fresh", 1L).otherwise(0L))
            .as("n_fresh"),
          sum(when(col("status") === "unknown", 1L).otherwise(0L))
            .as("n_unknown"))
    }),

    // ---- the fetch-log artifact's staleness histogram: urls per
    //      last-fetch DATE off the persisted log (the copy-age gate a
    //      recrawl scheduler budgets from — "how much of my corpus is
    //      a week old"). Reads the artifact table only; one
    //      map-combinable agg ----
    "f_fetch_log_stats" -> ((s, dir) =>
      graft.operators.CrawlState.fetchLogStats(fetchLogArt(s, dir))),

    // ---- the STALENESS BUDGET — the copy-age histogram joined to
    //      the recrawl plan: per fetch date, how many copies the log
    //      holds and how many the sitemap-declared lastmods already
    //      classify stale (timestamp-precision) or unknown (no
    //      signal — the age-policy rows). The number a recrawl
    //      scheduler allocates refetch slots from. One date-keyed agg
    //      over the plan + one equi-join onto the days-sized
    //      histogram ----
    "f_staleness_budget" -> ((s, dir) => {
      val log = fetchLogArt(s, dir)
      graft.operators.CrawlState.stalenessBudget(log,
        graft.sources.Sitemaps.recrawlPlan(spoolEntries(s, dir),
          log.fetches))
    }),

    // ---- the per-host REFETCH BUDGET selection: the recrawl plan's
    //      stale + new rows ranked per host (oldest stale copies
    //      first, then never-fetched urls, url tiebreak) and capped
    //      at 20 slots — WHICH urls a budgeted wave spends its slots
    //      on, not just how many are stale. Gated per host with the
    //      selection's lexicographic envelope (first/last url) so the
    //      oracle pins the actual picks, not only the counts ----
    "f_refetch_budget" -> ((s, dir) => {
      val log = fetchLogArt(s, dir)
      graft.operators.CrawlState.refetchBudget(
          graft.sources.Sitemaps.recrawlPlan(spoolEntries(s, dir),
            log.fetches), perHost = 20L)
        .groupBy("host").agg(
          count(lit(1)).as("n_budgeted"),
          sum(when(col("status") === "stale", 1L).otherwise(0L))
            .as("n_stale_sel"),
          sum(when(col("status") === "new", 1L).otherwise(0L))
            .as("n_new_sel"),
          min(col("url")).as("first_url"),
          max(col("url")).as("last_url"))
    }),

    // ---- the BUDGETED recrawl loop end-to-end: plan → per-host
    //      budget (20 slots: oldest stale first, then new) → refetch
    //      wave → plan recomputed against the advanced log. The gated
    //      transition matrix proves the budget LIMITED the wave:
    //      budgeted allowed urls advance (stale→fresh, or →unknown
    //      when the entry declares no lastmod), budgeted
    //      robots-blocked urls keep their status, and every
    //      UNBUDGETED stale url stays stale — the rows a
    //      cap-free wave would have refetched ----
    "a_pipeline_budget" -> ((s, dir) => {
      val root = budgetWaveRoot(s, dir)
      val after = graft.sources.Sitemaps.recrawlPlan(
          spoolEntries(s, dir),
          graft.operators.CrawlState.readFetchLog(s, s"$root/log")
            .fetches)
        .select(col("url"), col("status").as("status_after"))
      s.read.parquet(s"$root/before.parquet")
        .select(col("url"), col("status").as("status_before"))
        .join(after, Seq("url"))
        .join(s.read.parquet(s"$root/budget.parquet")
            .select(col("url"), lit(true).as("__b")),
          Seq("url"), "left")
        .withColumn("budgeted", coalesce(col("__b"), lit(false)))
        .groupBy("budgeted", "status_before", "status_after")
        .agg(count(lit(1)).as("n_urls"))
    }),

    // ---- the RECRAWL loop closed end-to-end: the recrawl plan's
    //      stale+new rows become a crawl wave in REFETCH mode (every
    //      candidate eligible — the plan chose the budget), the wave
    //      advances the fetch log through the retire-aside swap, and
    //      the plan RECOMPUTED against the advanced artifact shows
    //      the transitions: every fetched stale url reads fresh,
    //      robots-blocked urls keep their old status, fetched
    //      no-signal urls read unknown, untouched fresh/unknown rows
    //      are fixed points. The gated output is the before→after
    //      transition matrix; the oracle replays wave + both plans
    //      in closed form ----
    "a_pipeline_recrawl" -> ((s, dir) => {
      val root = recrawlWaveRoot(s, dir)
      val after = graft.sources.Sitemaps.recrawlPlan(
          spoolEntries(s, dir),
          graft.operators.CrawlState.readFetchLog(s, s"$root/log")
            .fetches)
        .select(col("url"), col("status").as("status_after"))
      s.read.parquet(s"$root/before.parquet")
        .select(col("url"), col("status").as("status_before"))
        .join(after, Seq("url"))
        .groupBy("status_before", "status_after")
        .agg(count(lit(1)).as("n_urls"))
    }),

    // ---- sitemap CHURN between generations: today's spool against
    //      yesterday's declared set (docs id%9!=0 plus a since-
    //      retired /gone page per host) — today-only urls (the
    //      id%9==0 pages and every host's extra) are the wave's new
    //      work, vanished urls are retirement checks, the rest carry
    //      on. For lastmod-less hosts the sitemap delta IS the only
    //      change signal. One canonical full-outer equi-join ----
    "f_sitemap_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val yesterday = d.filter(pmod(col("doc_id"), lit(9)) =!= 0)
        .select(concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
          lit(".org/d/"), col("doc_id")).as("url"))
        .unionByName(d.select(pmod(col("doc_id"), lit(10)).as("h"))
          .distinct()
          .select(concat(lit("https://ex"), col("h"), lit(".org/gone/"),
            col("h")).as("url")))
      graft.sources.Sitemaps.sitemapDiff(
          spoolEntries(s, dir).select(col("url")), yesterday)
        .groupBy("host").agg(
          sum(when(col("change") === "added", 1L).otherwise(0L))
            .as("n_added"),
          sum(when(col("change") === "removed", 1L).otherwise(0L))
            .as("n_removed"),
          sum(when(col("change") === "kept", 1L).otherwise(0L))
            .as("n_kept"))
    }),

    // ---- the parse-level view of the same spool — the per-file
    //      health report a crawl operator reads before trusting a
    //      wave ("did host 3's index resolve, how many locs per
    //      leaf"): one scan + the map-side parse, (host, file, kind,
    //      loc count) per fetched payload; gzip leaves inflate
    //      in-executor, the index files report their CHILD counts ----
    "f_sitemap_read" -> ((s, dir) =>
      graft.sources.Sitemaps.readFrom(s, sitemapSpool(s, dir))
        .select(col("host"), col("file"), col("kind"),
          size(col("locs")).cast("long").as("n_locs"))),

    // ---- table extraction from generated markup: header/data cells
    //      across THREE tables with entity refs, inline tags (word
    //      boundaries), a script decoy containing a fake <td> (must
    //      not open a cell), implied cell closes, text outside cells,
    //      a comment decoy, and a SPANNED grid (a colspan-2 header, a
    //      rowspan-2 first column — the next row's cells must land on
    //      the HTML5-forming columns, not naive indices) — the
    //      structured-data recovery a crawl pipeline runs where
    //      HtmlToText would flatten the grid ----
    "t_html_tables" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(graft.expressions.HtmlExprs.htmlTables(
            tablesFixtureHtml(col("doc_id")))))
        .select(col("doc_id"), col("pos").as("ord"),
          col("col.tbl").as("tbl"), col("col.row").as("tr"),
          col("col.col").as("tc"), col("col.header").as("header"),
          col("col.text").as("text"))
    }),

    // ---- table linearization: the extracted grid rendered into the
    //      "header: value | header: value" rows table-QA pretraining
    //      consumes — header texts join back to data cells on the
    //      column key (co-keyed equi-join; span-shifted columns key
    //      correctly because extraction already assigned HTML5-forming
    //      indices), headerless tables and span-covered columns fall
    //      back to positional names, cells order by column inside one
    //      deterministic per-row fold. Proves the recovered grid is
    //      USABLE, not just extracted ----
    "t_table_linearize" -> ((s, dir) => {
      val cells = t(s, dir, "documents").select(col("doc_id"),
          explode(graft.expressions.HtmlExprs.htmlTables(
            tablesFixtureHtml(col("doc_id")))).as("c"))
        .select(col("doc_id"), col("c.tbl").as("tbl"),
          col("c.row").as("tr"), col("c.col").as("tc"),
          col("c.header").as("header"), col("c.text").as("text"))
        .localCheckpoint(false) // header frame + data frame
      val hdr = cells.filter(col("header"))
        .select(col("doc_id"), col("tbl"), col("tc"), col("text").as("h"))
      cells.filter(!col("header"))
        .join(hdr, Seq("doc_id", "tbl", "tc"), "left")
        .withColumn("pair", concat(
          coalesce(col("h"), concat(lit("col"), col("tc"))),
          lit(": "), col("text")))
        .groupBy("doc_id", "tbl", "tr")
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("tc"), col("pair")))),
          x => x.getField("pair")), " | ").as("line"))
    }),

    // ---- document outline extraction: h1/h2/h3 structure with an
    //      implied close (h3 opens before h2's end tag), entity refs,
    //      inline tags as boundaries, and script/comment decoys — the
    //      section skeleton a retrieval chunker aligns splits to ----
    "t_html_outline" -> ((s, dir) => {
      val html = concat(
        lit("<h1>Title "), col("doc_id"), lit("</h1><p>para text</p>"),
        lit("<h2>Sec &amp; one</h2>"),
        lit("<h2>Sec <b>two</b>"),
        lit("<h3>Deep "), col("doc_id"), lit("</h3>"),
        lit("<script>'<h1>no</h1>'</script><!-- <h2>no</h2> -->"))
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(graft.expressions.HtmlExprs.htmlHeadings(html)))
        .select(col("doc_id"), col("pos").as("ord"),
          col("col.level").as("level"), col("col.text").as("text"))
    }),

    // ---- list extraction: a nested unordered list (items close
    //      implicitly at the next item or a nested list open), an
    //      ordered list, a stray li outside any list (never counts),
    //      and a comment decoy — bullet structure recovered with
    //      list/item/depth keys instead of flattened prose ----
    "t_html_lists" -> ((s, dir) => {
      val html = concat(
        lit("<ul><li>alpha "), col("doc_id"),
        lit("<li>beta &amp; co</li><li>gamma"),
        lit("<ul><li>nested "), col("doc_id"), lit("</li></ul>"),
        lit("</li></ul>"),
        lit("<ol><li>first</li><li>second "), col("doc_id"),
        lit("</li></ol>"),
        lit("<li>stray</li><!-- <ul><li>no</li></ul> -->"))
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(graft.expressions.HtmlExprs.htmlLists(html)))
        .select(col("doc_id"), col("pos").as("ord"),
          col("col.lst").as("lst"), col("col.item").as("item"),
          col("col.depth").as("depth"), col("col.ordered").as("ordered"),
          col("col.text").as("text"))
    }),

    // ---- heading-ALIGNED chunking: the document cut at every
    //      heading (graft_html_sections — level, heading, body), with
    //      the ancestor path (latest h1, latest h2) reconstructed by
    //      one keyed window per document over the section sequence
    //      (max over (sec, heading) structs gated by level — the
    //      latest ancestor wins). This is the split-at-structure
    //      chunker a retrieval corpus wants instead of token-count
    //      windows; everything map-side + one doc-keyed window ----
    "t_section_chunks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val html = concat(
        lit("intro text<h1>Title "), col("doc_id"),
        lit("</h1><p>lead para</p>"),
        lit("<h2>Sec &amp; one</h2><p>alpha body "), col("doc_id"),
        lit("</p><h2>Sec two</h2>tail text"),
        lit("<h3>Deep</h3><p>deep body</p>"),
        lit("<script>'<h1>no</h1>'</script><!-- <h2>no</h2> -->"))
      val secs = t(s, dir, "documents").select(col("doc_id"),
          posexplode(graft.expressions.HtmlExprs.htmlSections(html)))
        .select(col("doc_id"), col("pos").as("sec"),
          col("col.level").as("level"),
          col("col.heading").as("heading"), col("col.body").as("body"))
      val w = Window.partitionBy("doc_id").orderBy("sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def latest(lv: Int) = max(when(col("level") === lv,
        struct(col("sec"), col("heading")))).over(w).getField("heading")
      secs
        .withColumn("h1", latest(1))
        .withColumn("h2", latest(2))
        .select(col("doc_id"), col("sec"), col("level"), col("h1"),
          col("h2"), col("heading"), col("body"))
    }),

    // ---- meta extraction: description/OpenGraph pairs on every page,
    //      robots directives on doc_id%6, attribute-less decoys and a
    //      comment decoy contributing nothing; values entity-decode ----
    "t_html_meta" -> ((s, dir) => {
      val html = concat(
        lit("<head><meta charset=\"utf-8\">"),
        lit("<meta name=\"description\" content=\"doc "), col("doc_id"),
        lit(" summary\"><meta property=\"og:title\" content=\"Doc &amp; "),
        col("doc_id"), lit("\">"),
        when(col("doc_id") % 6 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .otherwise(lit("")),
        lit("<meta content=\"orphan\"><meta name=\"keywords\">"),
        lit("<!-- <meta name=\"no\" content=\"no\"> --></head>"))
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(graft.expressions.HtmlExprs.htmlMeta(html)))
        .select(col("doc_id"), col("pos").as("ord"),
          col("col.name").as("name"), col("col.content").as("content"))
    }),

    // ---- meta-robots screen over the same pages: noindex pages must
    //      not be ingested, nofollow pages contribute no outlinks to
    //      the frontier — the per-page half of the politeness contract
    //      (f_robots_gate is the per-host half). Directive parsing is
    //      comma-split + trim + lower over the FIRST robots meta ----
    "f_noindex_screen" -> ((s, dir) => {
      val html = concat(
        lit("<head>"),
        when(col("doc_id") % 6 === 0,
          lit("<meta name=\"robots\" content=\"noindex, NOFOLLOW\">"))
          .when(col("doc_id") % 6 === 3,
            lit("<meta name=\"robots\" content=\" nofollow \">"))
          .otherwise(lit("")),
        lit("</head><body><a href=\"https://ex.org/a/"), col("doc_id"),
        lit("\">x</a> <a href=\"https://ex.org/b/"), col("doc_id"),
        lit("\">y</a></body>"))
      val meta = graft.expressions.HtmlExprs.htmlMeta(html)
      val robots = filter(meta, m => m.getField("name") === "robots")
      val directives = transform(
        split(coalesce(get(robots, lit(0)).getField("content"), lit("")),
          ","), d => lower(trim(d)))
      val links = filter(graft.expressions.HtmlExprs.htmlRefs(html),
        r => r.getField("kind") === "a")
      t(s, dir, "documents").select(col("doc_id"),
          array_contains(directives, "noindex").as("noindex"),
          array_contains(directives, "nofollow").as("nofollow"),
          size(links).as("n_links"))
        .withColumn("n_follow",
          when(col("nofollow"), 0).otherwise(col("n_links")))
    }),

    // ---- per-host fetch schedule over the frontier wave, PACED BY
    //      THE HOSTS' OWN robots.txt: the politeness chain composed
    //      end-to-end — the wave's urls join the per-host parsed rule
    //      table (broadcast; the f_robots_gate fixture), each url is
    //      gated by longest-match Allow/Disallow on its OWN path, and
    //      the pacer budgets with the host's PARSED Crawl-delay (5 s
    //      for the graft-override hosts, 2 s from the `*` group
    //      elsewhere — no synthetic delays). Deterministic fetch
    //      order = md5 rank among the ALLOWED urls; makespan =
    //      (n_allowed−1)·delay is the number the scheduler balances
    //      hosts with. One broadcast join + one keyed window +
    //      map-combinable agg ----
    "f_fetch_schedule" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val wave = d.select(pmod(col("doc_id"), lit(10)).as("host"),
          concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
            lit(".org/p/"), col("doc_id")).as("url"))
        .unionByName(d.filter(col("doc_id") + 1 >= 300)
          .select(pmod(col("doc_id") + 1, lit(10)).as("host"),
            concat(lit("https://ex"), pmod(col("doc_id") + 1, lit(10)),
              lit(".org/d/"), col("doc_id") + 1).as("url")))
      val gated = wave.join(broadcast(robotsFixture(d)), "host")
        .withColumn("path", graft.functions.Robots.urlPath(col("url")))
        .withColumn("ok",
          graft.functions.Robots.isAllowed(col("rules"), col("path")))
      val w = Window.partitionBy(col("host"), col("ok"))
        .orderBy(md5(col("url")).asc, col("url").asc)
      gated.withColumn("rank", row_number().over(w))
        .groupBy("host").agg(
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_blocked"),
          max(col("delay_s") * 1000).as("delay_ms"),
          (greatest(sum(when(col("ok"), 1L).otherwise(0L)) - 1, lit(0L)) *
            max(col("delay_s") * 1000)).as("makespan_ms"),
          min(when(col("ok") && col("rank") === 1, col("url")))
            .as("first_url"))
    }),

    // ---- the EXECUTABLE fetch queue — f_fetch_schedule's per-host
    //      summary expanded into per-url rows: each robots-allowed
    //      wave url gets its deterministic md5-rank slot and a
    //      fetch_at_ms offset of (rank−1)·(parsed Crawl-delay) — the
    //      table a fetcher fleet actually consumes (host-keyed, so
    //      1000 workers each drain their hosts in slot order). Same
    //      broadcast gate join + one keyed window, no aggregation ----
    "f_fetch_slots" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val wave = d.select(pmod(col("doc_id"), lit(10)).as("host"),
          concat(lit("https://ex"), pmod(col("doc_id"), lit(10)),
            lit(".org/p/"), col("doc_id")).as("url"))
        .unionByName(d.filter(col("doc_id") + 1 >= 300)
          .select(pmod(col("doc_id") + 1, lit(10)).as("host"),
            concat(lit("https://ex"), pmod(col("doc_id") + 1, lit(10)),
              lit(".org/d/"), col("doc_id") + 1).as("url")))
      val gated = wave.join(broadcast(robotsFixture(d)), "host")
        .withColumn("path", graft.functions.Robots.urlPath(col("url")))
        .filter(graft.functions.Robots.isAllowed(col("rules"),
          col("path")))
      val w = Window.partitionBy("host")
        .orderBy(md5(col("url")).asc, col("url").asc)
      gated.withColumn("rank", row_number().over(w))
        .select(col("host"), col("url"), col("rank"),
          ((col("rank") - 1) * col("delay_s") * 1000)
            .as("fetch_at_ms"))
    }),

    // ---- adaptive politeness: each crawled host's OBSERVED fetch
    //      latencies (synthetic deterministic ms per fetched doc, in
    //      doc order) fold into an exponential moving average (the
    //      e_ema integer fold: (3x + 7·acc) div 10 — bounded per-host
    //      history, bit-deterministic), and the recommended delay is
    //      3× the EMA clamped between the host's DECLARED Crawl-delay
    //      floor and a 10 s fleet cap — slow hosts get backed off
    //      beyond their robots ask, fast hosts still honor it. One
    //      keyed collect + broadcast join ----
    "f_adaptive_delay" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val obs = d.filter(col("doc_id") < 300)
        .select(pmod(col("doc_id"), lit(10)).as("host"), col("doc_id"),
          (lit(100) + pmod(col("doc_id") * 37, lit(400))).cast("long")
            .as("lat"))
      val folded = obs.groupBy("host").agg(
          count(lit(1)).as("n_obs"),
          sort_array(collect_list(struct(col("doc_id"), col("lat"))))
            .as("seq"))
        .withColumn("vs", expr("transform(seq, x -> x.lat)"))
        .withColumn("ema_ms", expr(
          "aggregate(slice(vs, 2, greatest(size(vs) - 1, 0)), vs[0]," +
            " (acc, x) -> (3 * x + 7 * acc) div 10)"))
      folded
        .join(broadcast(robotsFixture(d).select(col("host"),
          (col("delay_s") * 1000).as("floor_ms"))), "host")
        .select(col("host"), col("n_obs"), col("ema_ms"),
          col("floor_ms"),
          least(greatest(col("ema_ms") * 3, col("floor_ms")),
            lit(10000L)).as("adaptive_delay_ms"))
    }),

    // ---- robots.txt gate over the frontier: one robots payload per
    //      host assembled from table values (a decoy group for
    //      another bot, the `*` group disallowing /p/ with an
    //      /p/open carve-out, and for host%3==0 a graft-specific
    //      group that OVERRIDES `*` and disallows /d/ instead), parsed
    //      by the column-algebra fold in functions.Robots; per-URL
    //      longest-match decision (Allow beats Disallow on ties), and
    //      the per-host allowed/blocked budget the fetch scheduler
    //      consumes. Rules tables are host-bounded → broadcast; the
    //      decision is map-side ----
    "f_robots_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val robots = robotsFixture(d)
      val cands = d.select(pmod(col("doc_id"), lit(10)).as("host"),
        explode(array(
          concat(lit("/d/"), col("doc_id")),
          concat(lit("/p/"), col("doc_id")),
          concat(lit("/p/open"), col("doc_id")))).as("path"))
      cands.join(broadcast(robots), "host")
        .select(col("host"), col("path"),
          graft.functions.Robots.isAllowed(col("rules"), col("path"))
            .as("ok"))
        .groupBy("host").agg(
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_blocked"),
          min(when(!col("ok"), col("path"))).as("first_blocked"))
        .join(robots.select("host", "delay_s"), "host")
    }),

    // ---- within-document repetition (Gopher duplicate-n-gram signal)
    //      over a corpus where half the docs get their own first half
    //      appended — those must score high, originals near zero ----
    "t_repetition" -> ((s, dir) => {
      val tok = Text.tokens(col("text"))
      val half = array_join(slice(tok, lit(1), (size(tok) / 2)
        .cast("int")), " ")
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" "), half)).otherwise(col("text"))
          .as("text"))
      val tok2 = Text.tokens(col("text"))
      d.select(col("doc_id"),
        Text.repetitionRatio(tok2, 2).as("rep2"),
        Text.repetitionRatio(tok2, 3).as("rep3"))
    }),

    // ---- sequence packing: assign docs to fixed-token-budget packs
    //      (cumsum window per shard; integer arithmetic end-to-end).
    //      The distributed form of greedy packing — each shard packs
    //      independently, so 1000 executors pack 1000 shards at once ----
    "t_seq_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(4)).as("shard"),
          Text.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("shard"),
          expr("(cum - n_tokens) div 512").as("pack_id"), col("n_tokens"))
    }),

    // ---- language-ID confidence margins per source: best-vs-second
    //      marker-score gap per doc — the routing signal that sends
    //      low-margin docs (ambiguous or marker-poor) to a heavier
    //      classifier instead of trusting t_lang_id's argmax. Scores
    //      are integer marker counts, so margins are exact; one
    //      map-side projection + one agg. ----
    "t_lang_margin" -> ((s, dir) => {
      val tok = Text.tokens(col("text"))
      val sc = Text.langMarkers.map { case (_, m) =>
        Text.markerHits(tok, m).cast("long") }
      val arr = sort_array(array(sc: _*), asc = false)
      t(s, dir, "documents")
        .select(col("source"), element_at(arr, 1).as("best"),
          element_at(arr, 2).as("second"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(when(col("best") === 0L, 1L).otherwise(0L)).as("n_und"),
          sum(when(col("best") > 0L &&
            col("best") - col("second") <= 1L, 1L).otherwise(0L))
            .as("n_lowconf"))
        .select(col("source"), col("n_docs"), col("n_und"),
          col("n_lowconf"),
          expr("(n_und + n_lowconf) * 1000000L div n_docs")
            .as("route_ppm"))
    }),

    // ---- Hill tail-index estimator over doc lengths: α̂ = k / Σ
    //      ln(x_(i)/x_(k+1)) over the k = 20 largest docs — the
    //      heavy-tail diagnostic that complements t_zipf_fit's
    //      frequency fit (α ≈ how fast the length tail decays; small
    //      α = giant docs dominate token mass and worker skew).
    //      TakeOrdered-bounded: only k+1 rows ever leave the scan
    //      (deterministic (len desc, doc_id) order); ln terms round
    //      to 9 dp into an exact DECIMAL sum; one closing IEEE
    //      division. ----
    "t_hill_tail" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 20
      val topk = t(s, dir, "documents")
        .select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("x"))
        .orderBy(col("x").desc, col("doc_id").asc).limit(k + 1)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("x").desc, col("doc_id").asc)))
        .localCheckpoint(false) // xk1 branch + term branch
      val xk1 = topk.filter(col("rn") === k + 1)
        .select(col("x").as("xk1"))
      topk.filter(col("rn") <= k).crossJoin(broadcast(xk1))
        .select(round(log(col("x").cast("double") /
          col("xk1").cast("double")), 9).cast("decimal(20,9)").as("t"),
          col("xk1"))
        .groupBy("xk1").agg(count(lit(1)).as("k"),
          sum("t").as("s"))
        .select(col("k"), col("xk1"),
          col("s").cast("double").as("sum_ln"),
          when(col("s") > 0,
            expr("cast(round(cast(k as double) * 1000000 " +
              "/ cast(s as double), 0) as bigint)"))
            .otherwise(lit(0L)).as("alpha_e6"))
    }),

    // ---- epoch-shuffle independence QA: Spearman rho between the
    //      epoch1 and epoch2 shuffle positions (both exact
    //      permutations, so rho = 1 − 6Σd²/(N(N²−1)) with no tie
    //      terms) — a shuffle whose epochs correlate feeds the
    //      trainer near-identical batch orders, and this is the
    //      audit that catches it. |rho| should be ≈ 0. Σd² runs as
    //      exact DECIMAL; the n³-scale closing formula runs in
    //      doubles (identical tree both engines — exact to the ulp
    //      while num fits 2⁵³, deterministic at any n; the sum_d2
    //      OUTPUT column is BIGINT-safe to n ≈ 3×10⁶ per audit
    //      shard — noted); sign travels separately. ----
    "t_shuffle_decorrelation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def pos(salt: String) = t(s, dir, "documents").select("doc_id")
        .withColumn("p", row_number().over(Window.orderBy(
          md5(concat_ws(":", lit(salt), col("doc_id").cast("string"))))))
      pos("epoch1").withColumnRenamed("p", "p1")
        .join(pos("epoch2").withColumnRenamed("p", "p2"), "doc_id")
        .select((col("p1") - col("p2")).cast("long").as("d"))
        .agg(count(lit(1)).as("n"),
          sum((col("d") * col("d")).cast("decimal(38,0)")).as("s2d"))
        .withColumn("den_d",
          col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") - col("n").cast("double"))
        .withColumn("num_d",
          col("den_d") - lit(6.0) * col("s2d").cast("double"))
        .select(col("n"), col("s2d").cast("long").as("sum_d2"),
          signum(col("num_d")).cast("int").as("rho_sign"),
          expr("cast(round(abs(num_d) * 1000000000 / den_d, 0) " +
            "as bigint)").as("rho_abs_e9"))
    }),

    // ---- context-window truncation budgeting: at each candidate
    //      max-sequence length, how many docs overflow and what
    //      share of token mass a hard truncation would discard —
    //      the capacity-planning table read before fixing a context
    //      length. Thresholds are a broadcast fanout over ONE
    //      map-side token-count scan; ratios exact ppm. ----
    "t_truncation_loss" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(Text.tokenCount(col("text")).cast("long").as("tc"))
        .withColumn("max_len",
          explode(array(Seq(32L, 64L, 128L).map(lit): _*)))
        .groupBy("max_len").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("tc") > col("max_len"), 1L).otherwise(0L))
            .as("n_over"),
          sum("tc").as("tokens_total"),
          sum(greatest(col("tc") - col("max_len"), lit(0L)))
            .as("tokens_lost"))
        .select(col("max_len"), col("n_docs"), col("n_over"),
          col("tokens_total"), col("tokens_lost"),
          expr("tokens_lost * 1000000L div tokens_total")
            .as("lost_ppm"))
    }),

    // ---- deterministic training order: stable md5(salt:id)
    //      permutation with a row_number position ----
    "t_shuffle_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.operators.Sampling.shuffleOrder(
          t(s, dir, "documents").select("doc_id"), "doc_id", "epoch1")
        .withColumn("pos", row_number().over(
          Window.orderBy(col("shuffle_key"))))
        .select(col("doc_id"), col("pos"))
    }),

    // ---- deterministic train/val/test split: stable hash-range
    //      assignment (no leakage when the corpus grows) ----
    "t_split_counts" -> ((s, dir) => {
      graft.operators.Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"))
    }),

    // ---- per-source quota cap: at most 15 docs per source, chosen by
    //      deterministic md5(doc_id) rank — the per-domain cap that
    //      stops one domain dominating a training mix ----
    "t_source_quota" -> ((s, dir) => {
      graft.operators.Sampling.quotaCap(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", quota = 15)
    }),

    // ---- deterministic weighted source mix: largest total consistent
    //      with the 50/30/20 ratios given availability, first
    //      floor(ratio·total) docs per source in md5 order ----
    "t_mix_weighted" -> ((s, dir) => {
      graft.operators.Sampling.weightedMix(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source")
    }),

    // ---- temperature-scaled source mixing (the mT5/T5 α-sampling
    //      rule): sampling share ∝ p_i^α with α=0.7, up-weighting
    //      low-resource sources. Two tiny aggregations over the
    //      source-count table (map-combinable, |sources| rows);
    //      p^α rounds to 4 decimals (the libm absorption rule —
    //      pow may differ a ulp across engines) and normalizes in
    //      exact DECIMAL so the shares are partition-order-free ----
    "t_mix_temperature" -> ((s, dir) => {
      val bySource = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = bySource.agg(sum(col("n_docs")).as("total"))
      val w = bySource.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          round(col("n_docs").cast("double") / col("total").cast("double"),
            6).as("raw_share"),
          round(pow(col("n_docs").cast("double") /
            col("total").cast("double"), 0.7), 4)
            .cast("decimal(18,4)").as("w4"))
      val wsum = w.agg(sum(col("w4")).as("wsum"))
      w.crossJoin(broadcast(wsum))
        .select(col("source"), col("n_docs"), col("raw_share"),
          round(col("w4").cast("double") / col("wsum").cast("double"), 6)
            .as("temp_share"))
    }),

    // ---- data-CONSTRAINED mix planning (MixPlan.allocate): the
    //      max-min sibling of t_mix_waterfall for the repeated-epochs
    //      regime — every source may contribute at most
    //      available × maxRep tokens (repeating past a few epochs
    //      stops paying), and the budget water-fills: small sources
    //      saturate at their cap, the rest split the remainder evenly
    //      (exact integers, deterministic leftover distribution).
    //      Availability is TIERED by a documented per-source
    //      multiplier (1 + NN%3 from srcNN) so both the saturated and
    //      unsaturated branches provably exercise at every SF; budget
    //      = 3/4 of total cap, maxRep = 2. All algebra over the
    //      #sources frame — the one corpus-scale job is the token
    //      count ----
    "t_mix_plan" -> ((s, dir) => {
      val a = t(s, dir, "documents")
        .groupBy("source")
        .agg((sum(size(Text.tokens(col("text"))).cast("long")) *
          (substring(col("source"), 4, 10).cast("int") % 3 + 1))
          .as("available"))
        .localCheckpoint(false) // budget agg + the allocation
      val totalCap = a.agg(sum(col("available") * 2L))
        .collect()(0).getLong(0)
      graft.operators.MixPlan.allocate(a, budget = totalCap * 3 / 4,
        maxRep = 2)
    }),

    // ---- data-mixing budget waterfall: allocate a token budget B
    //      (60% of the corpus) across sources proportionally to
    //      weights, capping every source at its actual size and
    //      redistributing the excess among the uncapped — the epoch
    //      allocation a training mix needs once some domains are
    //      smaller than their fair share. Closed form instead of the
    //      iterative fixpoint: sorted by size/weight ratio, the capped
    //      set is the maximal PREFIX where size_i·W_rest ≤
    //      (B−S_prev)·w_i (integer cross-multiplication — exact; the
    //      running-AND window forces prefix semantics), the uncapped
    //      get floor((B−S_K)·w_i / W_K) with largest-remainder top-up
    //      so the allocations sum to B exactly. All integer arithmetic
    //      over the MODEL-SIZED source table (the one corpus-scale job
    //      is the per-source token count); the naive iterative
    //      waterfall is spec-replayed against this closed form ----
    "t_mix_waterfall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dom = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(Text.tokens(col("text"))).cast("long")).as("sz"))
        .withColumn("w", (length(col("source")) % 3 + 1).cast("long"))
      val tot = dom.agg(sum("sz").as("tot_sz"), sum("w").as("tot_w"))
      val wOrd = Window.orderBy(col("r"), col("source"))
      val prev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val upto = wOrd.rowsBetween(Window.unboundedPreceding, 0)
      val cum = dom.crossJoin(broadcast(tot))
        .withColumn("budget", expr("tot_sz * 6 div 10"))
        // sz/w in IEEE double ONLY as the sort key (correctly-rounded
        // division, identical both engines); all decisions are
        // integer cross-multiplications
        .withColumn("r", col("sz").cast("double") / col("w").cast("double"))
        .withColumn("s_prev", coalesce(sum("sz").over(prev), lit(0L)))
        .withColumn("w_prev", coalesce(sum("w").over(prev), lit(0L)))
        .withColumn("cond",
          when(col("sz") * (col("tot_w") - col("w_prev")) <=
            (col("budget") - col("s_prev")) * col("w"), 1).otherwise(0))
        .withColumn("capped", min("cond").over(upto) === 1)
      val caps = cum.agg(
        sum(when(col("capped"), col("sz")).otherwise(0L)).as("s_k"),
        sum(when(col("capped"), col("w")).otherwise(0L)).as("w_cap"))
      val alloc0 = cum.crossJoin(broadcast(caps))
        .withColumn("w_k", col("tot_w") - col("w_cap"))
        .withColumn("base", when(col("capped"), col("sz"))
          .otherwise(when(col("w_k") > 0,
            expr("(budget - s_k) * w div w_k")).otherwise(lit(0L))))
        .withColumn("rem", when(col("capped") || col("w_k") === 0, lit(0L))
          .otherwise(expr("(budget - s_k) * w % w_k")))
        .localCheckpoint(false) // leftover total + rank + output
      val leftover = alloc0.agg((max(when(!col("capped"),
          col("budget") - col("s_k"))).cast("long") -
          sum(when(!col("capped"), col("base")).otherwise(0L))).as("l"))
      // uncapped rows first (capped sort last), so ranks 1..L land on
      // uncapped remainders only — L < W_K guarantees enough of them
      val wRem = Window.orderBy(col("capped").asc, col("rem").desc,
        col("source").asc)
      alloc0.crossJoin(broadcast(leftover))
        .withColumn("topup",
          when(!col("capped") &&
            row_number().over(wRem) <= coalesce(col("l"), lit(0L)), 1L)
            .otherwise(0L))
        .select(col("source"), col("sz"), col("w"), col("capped"),
          (col("base") + col("topup")).as("alloc"))
    }),

    // ---- weighted sampling without replacement (Efraimidis–Spirakis,
    //      weight = document length): inclusion odds ∝ n_chars but the
    //      draw is a pure function of doc_id — reproducible across
    //      engines and cluster sizes. Top-k via per-partition heaps ----
    "t_weighted_sample" -> ((s, dir) => {
      graft.operators.Sampling.weightedSample(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", k = 200)
        .select("doc_id", "source", "skey")
    }),

    // ---- document rarity scoring: mean-free IDF proxy — each doc
    //      sums 1/df over its DISTINCT tokens (df = corpus document
    //      frequency). Two aggregations + one token equi-join; the
    //      per-token contribution is rounded to 6 decimals and summed
    //      as exact DECIMAL so 32-partition Spark and DuckDB agree
    //      bitwise (double sums are order-sensitive, decimals aren't) ----
    "t_rarity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tokdf = d.select(col("doc_id"),
        explode(array_distinct(Text.tokens(col("text")))).as("tok"))
      val dfreq = tokdf.groupBy("tok").agg(count(lit(1)).as("df"))
      tokdf.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(sum(round(lit(1.0) / col("df"), 6).cast("decimal(10,6)"))
            .cast("double").as("rarity"),
          count(lit(1)).as("n_distinct"))
    }),

    // ---- fuzzy near-identical names: deletion-neighborhood blocking
    //      (FastSS) — exact recall for edit distance ≤ 1 with an
    //      equi-join on single-deletion variants, never a cross join ----
    "t_fuzzy_pairs" -> ((s, dir) => {
      graft.operators.Fuzzy.editNeighborPairs(
        t(s, dir, "customer").filter(col("c_custkey") < 300),
        "c_custkey", "c_name")
    }),

    // ---- vocabulary build + token-id encoding: the tokenize-to-ids
    //      step before training. Vocab = top-256 tokens by (freq desc,
    //      token asc) with dense ids; docs encode positionally via a
    //      broadcast join; out-of-vocab → id 0. Output is long-form
    //      (doc_id, pos, tid) — the exploded shape a sharded tokenized
    //      dataset is written in ----
    "t_encode_ids" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        .withColumn("tid", row_number().over(
          Window.orderBy(col("freq").desc, col("tok").asc)))
        .filter(col("tid") <= 256).select("tok", "tid")
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("tid"), lit(0)).as("tid"))
    }),

    // ---- corpus bigram frequency, top-100: one map-combinable
    //      aggregation + TakeOrderedAndProject (count-desc, bigram-asc
    //      tiebreak keeps the top-k set deterministic) ----
    // ---- BPE encode as pure column expressions: the 100 most
    //      frequent words segmented with a fixed 6-merge list
    //      (plan-literal merges — the bounded-artifact path; 30k-merge
    //      production vocabularies go through Bpe.segment over a
    //      broadcast list). The fold-per-merge is provably equivalent
    //      to the canonical left-to-right scan (see Bpe.encodeExpr) ----
    "t_bpe_encode" -> ((s, dir) => {
      val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"),
        ("a", "n"), ("e", "r"), ("an", "d"))
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "") // empty-fold guard, mirrored in SQL
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc).limit(100)
        .select(col("word"), col("n"),
          array_join(graft.operators.Bpe.encodeExpr(col("word"), merges),
            " ").as("bpe"))
    }),

    // ---- WordPiece-style tokenizer: vocabulary INDUCTION (top-200
    //      length-2..8 substrings of word types, weighted by word
    //      frequency, deterministic count-desc/piece-asc tie-break)
    //      followed by greedy longest-match-first ENCODE via the
    //      native graft_wordpiece expression (plan-literal vocab —
    //      the model-sized-collect path, like BPE merges). Everything
    //      runs over word TYPES, never token instances: the one
    //      corpus-scale job is the word-frequency aggregation, the
    //      induction and encode touch only the type table, and a
    //      token-level encoding at 100 TB is a broadcast join of this
    //      table back to the corpus. The oracle replays the greedy
    //      walk with a recursive CTE ----
    "t_wordpiece" -> ((s, dir) => {
      val wf = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .localCheckpoint(false) // feeds induction AND the encode
      val subs = wf.select(col("freq"), explode(array_distinct(flatten(
          transform(sequence(lit(2), lit(8)), l =>
            transform(filter(sequence(lit(1), length(col("word"))),
                i => i + l - lit(1) <= length(col("word"))),
              i => col("word").substr(i, l)))))).as("sub"))
        .groupBy("sub").agg(sum("freq").as("w"))
        .orderBy(col("w").desc, col("sub").asc).limit(200)
      val vocab = subs.collect().map(_.getString(0)).toSeq // model-sized
      val pieces = graft.expressions.TextExprs.wordpiece(col("word"),
        array(vocab.map(lit): _*))
      wf.select(col("word"), col("freq"),
        size(pieces).as("n_pieces"),
        array_join(pieces, "|").as("enc"))
    }),

    // ---- unigram-LM tokenizer (the SentencePiece family, next to BPE
    //      and WordPiece): Viterbi segmentation under integer-quantized
    //      piece log-probs. Vocabulary = every character plus the
    //      top-200 length-2..8 substrings of word types (weighted by
    //      word frequency); piece score = round(ln(w/W)·1e6) as a
    //      LONG, so the DP compares exact integers — the only libm
    //      call is the per-piece quantization, the same expression
    //      SHAPE on both engines (the established round-before-use
    //      discipline; as everywhere it's used, a 1-ulp libm
    //      difference landing exactly on a .5 rounding boundary could
    //      still flip one piece score — the gate would catch it, and
    //      none of the ~240 vocab scores sits on one at either gate
    //      scale). The DP itself is an unrolled
    //      aggregate over positions with an array-of-structs
    //      accumulator, ties broken toward the SHORTER last piece
    //      (distinct lengths ⇒ no residual tie); characters are always
    //      in vocabulary, so segmentation is total. Everything runs
    //      over word TYPES; the corpus-scale job is the word count ----
    "t_unigram_viterbi" -> ((s, dir) => {
      val wf = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .localCheckpoint(false) // feeds induction AND the DP
      val subs = wf.select(col("freq"), explode(array_distinct(flatten(
          transform(sequence(lit(1), lit(8)), l =>
            transform(filter(sequence(lit(1), length(col("word"))),
                i => i + l - lit(1) <= length(col("word"))),
              i => col("word").substr(i, l)))))).as("sub"))
        .groupBy("sub").agg(sum("freq").as("w"))
        .localCheckpoint(false) // chars + top-200 + the total
      val vocab = subs.filter(length(col("sub")) === 1)
        .unionByName(subs.filter(length(col("sub")) >= 2)
          .orderBy(col("w").desc, col("sub").asc).limit(200))
        .localCheckpoint(false)
      val tot = vocab.agg(sum("w")).collect()(0).getLong(0)
      val scored = vocab.select(col("sub"),
          round(log(col("w").cast("double") / lit(tot.toDouble))
            * lit(1e6), 0).cast("long").as("sc"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the DP + backpointer walk live in operators.Tokenizer (shared
      // with the encode-from-artifact path)
      val L = length(col("word"))
      val (_, dp) = graft.operators.Tokenizer.viterbi(col("word"), scored)
      wf.withColumn("__dp", dp)
        .withColumn("__ps", graft.operators.Tokenizer
          .viterbiPieces(col("word"), col("__dp")))
        .select(col("word"), col("freq"),
          get(col("__dp"), L).getField("s").as("score_e6"),
          size(col("__ps")).as("n_pieces"),
          array_join(col("__ps"), "|").as("enc"))
    }),

    // ---- tokenizer-model ARTIFACT, read path: the WordPiece
    //      vocabulary is induced and persisted ONCE per corpus
    //      (operators.Tokenizer — pieces/meta/uses tables, the
    //      k-means-artifact treatment), and this query encodes from
    //      the ARTIFACT: vocabulary read back from parquet, greedy
    //      longest-match encode over the word-type table. Output is
    //      defined to equal t_wordpiece (longs round-trip parquet
    //      exactly — the TokenizerSpec lifecycle law), so the oracle
    //      is the same greedy recursive-CTE replay ----
    "t_wordpiece_artifact" -> ((s, dir) => {
      val m = tokenizerArtifact(s, dir, "wordpiece")
      val wf = graft.operators.Tokenizer.wordFreqs(t(s, dir, "documents"))
      val pieces = graft.expressions.TextExprs.wordpiece(col("word"),
        array(m.vocabList.map(lit): _*))
      wf.select(col("word"), col("freq"),
        size(pieces).as("n_pieces"),
        array_join(pieces, "|").as("enc"))
    }),

    // ---- the unigram twin of the artifact read path: piece scores
    //      rebuilt from the PERSISTED (piece, w) table + w_total
    //      through the same quantization expression, Viterbi encode
    //      from the artifact; defined to equal t_unigram_viterbi ----
    "t_unigram_artifact" -> ((s, dir) => {
      val m = tokenizerArtifact(s, dir, "unigram")
      val scored = graft.operators.Tokenizer.scoreMapE6(s, m)
      val wf = graft.operators.Tokenizer.wordFreqs(t(s, dir, "documents"))
        .localCheckpoint(false)
      val L = length(col("word"))
      val (_, dp) = graft.operators.Tokenizer.viterbi(col("word"), scored)
      wf.withColumn("__dp", dp)
        .withColumn("__ps", graft.operators.Tokenizer
          .viterbiPieces(col("word"), col("__dp")))
        .select(col("word"), col("freq"),
          get(col("__dp"), L).getField("s").as("score_e6"),
          size(col("__ps")).as("n_pieces"),
          array_join(col("__ps"), "|").as("enc"))
    }),

    // ---- unigram-LM EM round (SentencePiece's actual training step,
    //      completing the family beyond hard Viterbi): E-step computes
    //      SOFT expected piece counts by forward-backward over ALL
    //      segmentations; M-step renormalizes. Determinism without an
    //      exp()/log-sum-exp in the DP: the model works directly in
    //      probability space — p(piece) = w/W is ONE IEEE division of
    //      exactly-representable integers, and the forward/backward
    //      recurrences are fixed left-fold trees over l = 1..8 with
    //      absent pieces contributing +0.0 (an exact identity), so
    //      every α/β is the same double in both engines. Cross-word
    //      aggregation follows the house rule: each occurrence's
    //      freq·γ is rounded to 9 decimals, summed as exact DECIMAL,
    //      and the M-step ratio closes in one identical IEEE tree.
    //      Corpus log-likelihood before and after the round rides
    //      along (round-before-aggregate ln), with the EM guarantee
    //      ll_post ≥ ll_pre spec-checked by naive replay. Everything
    //      runs over word TYPES; at 100 TB the corpus-scale job is
    //      the word count, the DP touches only the type table ----
    "t_unigram_em" -> ((s, dir) => {
      val em = unigramEmCore(s, dir)
      val lls = em.scored.agg(
        em.ll(col("al")).as("ll_pre"),
        em.ll(em.forward(em.mStep)).as("ll_post"))
      em.perPiece
        .join(em.vocab.select(col("sub").as("piece"), col("w")),
          Seq("piece"))
        .crossJoin(broadcast(em.totalEc))
        .crossJoin(broadcast(lls))
        .select(col("piece"), col("w"),
          round(col("ec").cast("double"), 6).as("ecount"),
          round(col("ec").cast("double") / col("c").cast("double"), 9)
            .as("p_new"),
          col("ll_pre"), col("ll_post"))
    }),

    // ---- the SentencePiece PRUNE step after the EM round: every
    //      single character survives (segmentation totality), the
    //      multi-char pieces keep only the top-160 by expected count
    //      (ties to the lexicographically smaller piece), and the
    //      surviving expected counts renormalize into the pruned
    //      model — whose corpus likelihood stands next to the EM
    //      model's for the keep-or-prune decision. The prune itself
    //      is a model-sized driver step; the corpus-scale work is
    //      the same one E-step pass ----
    "t_unigram_prune" -> ((s, dir) => {
      val em = unigramEmCore(s, dir)
      val rows = em.perPiece.collect()
        .map(r => r.getString(0) -> r.getDecimal(1)) // model-sized
      val chars = rows.filter(_._1.length == 1)
      val multi = rows.filter(_._1.length >= 2)
        .sortWith { (a, b) =>
          val c = a._2.compareTo(b._2)
          c > 0 || (c == 0 && a._1 < b._1)
        }.take(160)
      val surv = chars ++ multi
      val c3 = surv.map(_._2).reduce(_.add(_)) // exact decimal total
      val probs3 = surv.map { case (p, ec) =>
        p -> ec.doubleValue() / c3.doubleValue() }.toMap
      val nPruned = rows.length - surv.length
      val lls = em.scored.agg(
        em.ll(em.forward(em.mStep)).as("ll_em"),
        em.ll(em.forward(probs3)).as("ll_pruned"))
      em.perPiece.filter(col("piece").isInCollection(surv.map(_._1)))
        .crossJoin(broadcast(lls))
        .select(col("piece"),
          round(col("ec").cast("double"), 6).as("ecount"),
          round(col("ec").cast("double") / lit(c3.doubleValue()), 9)
            .as("p_pruned"),
          lit(nPruned).as("n_pruned"), col("ll_em"), col("ll_pruned"))
    }),

    // ---- tokenizer evaluation: the three segmenters over the SAME
    //      word-type table, scored by corpus-weighted fertility
    //      (pieces per word occurrence, exact integer ppm) — the
    //      comparison a pipeline runs before committing to a
    //      vocabulary. Composes the two gated pipelines verbatim plus
    //      the characters-as-pieces baseline; everything downstream of
    //      them is one model-sized union + aggregate ----
    "t_tokenizer_eval" -> ((s, dir) => {
      val wp = queries("t_wordpiece")(s, dir)
        .select(lit("wordpiece").as("tokenizer"), col("word"),
          col("freq"), col("n_pieces").cast("long").as("n_pieces"))
      val uv = queries("t_unigram_viterbi")(s, dir)
        .select(lit("unigram").as("tokenizer"), col("word"),
          col("freq"), col("n_pieces").cast("long").as("n_pieces"))
      // the chars baseline needs only the word-frequency table — not
      // the full wordpiece pipeline (induction, top-200 sort, encode)
      // the previous shape re-ran for rows it then ignored
      val ch = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(lit("chars").as("tokenizer"), col("word"),
          col("freq"), length(col("word")).cast("long").as("n_pieces"))
      wp.unionByName(uv).unionByName(ch)
        .groupBy("tokenizer")
        .agg(count(lit(1)).as("n_types"),
          sum(col("freq")).as("w_words"),
          sum(col("freq") * col("n_pieces")).as("w_pieces"))
        .withColumn("fertility_ppm",
          expr("w_pieces * 1000000 div w_words"))
    }),

    // ---- corpus cartography: source×source 3-shingle overlap matrix
    //      — which domains duplicate each other, the map that decides
    //      what cross-source dedup will recover before running it.
    //      Shapes: each source gets a BIT (the domain catalog is
    //      model-sized — collected once, broadcast back), and the one
    //      corpus-sized shuffle is groupBy(shingle) folding bit_or
    //      over the masks — a declarative long-state aggregate that
    //      stays inside WholeStageCodegen with map-side combine, so
    //      even a stop-shingle present in every doc reduces to one
    //      long per map partition before the exchange. (collect_set
    //      here would drop to ObjectHashAggregate, whose sort-based
    //      fallback triggers past 128 hash keys; the previous
    //      self-join of the distinct frame shuffled the corpus twice
    //      and materialized the matches.) The shingle→mask frame then
    //      collapses to a mask HISTOGRAM (≤ 2^|sources| rows,
    //      thousands in practice), and every set size and pairwise
    //      intersection is a bit-test + weighted sum over that tiny
    //      frame. Exact integers + one IEEE division ----
    "t_source_overlap" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val srcList = d.select(col("source")).distinct()
        .orderBy("source").collect().map(_.getString(0)).toSeq
      require(srcList.length <= 63,
        s"t_source_overlap: ${srcList.length} sources exceed the 63-bit " +
          "mask — chunk the domain catalog into multiple mask words")
      val srcBits = srcList.zipWithIndex
        .map { case (src, i) => (src, 1L << i) }.toDF("source", "bit")
      val maskHist = graft.operators.Par.spread(d).select(col("source"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
        .join(broadcast(srcBits), "source")
        .groupBy("sh").agg(expr("bit_or(bit)").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // sizes + intersections both consume it
      val sizes = maskHist.crossJoin(broadcast(srcBits))
        .filter((col("mask").bitwiseAND(col("bit"))) =!= 0L)
        .groupBy("source").agg(sum(col("cnt")).as("n"))
      val srcPairs = (for {
        i <- srcList.indices; j <- (i + 1) until srcList.length
      } yield (srcList(i), srcList(j), (1L << i) | (1L << j)))
        .toDF("src_a", "src_b", "bits")
      val inter = maskHist.crossJoin(broadcast(srcPairs))
        .filter((col("mask").bitwiseAND(col("bits"))) === col("bits"))
        .groupBy("src_a", "src_b").agg(sum(col("cnt")).as("n_common"))
      inter
        .join(broadcast(sizes
          .select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes
          .select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_common"),
          col("n_a"), col("n_b"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"))
            .as("jaccard"))
    }),

    // ---- DoReMi-flavored domain reweighting: one exponentiated-
    //      gradient step on the mix weights from per-source EXCESS
    //      loss under the corpus's own bigram LM — domains the shared
    //      model predicts worst gain weight (they carry information
    //      the mix under-serves), domains it predicts too easily lose
    //      it. base weights = bigram-mass share; w_new ∝ mass ·
    //      exp(avg_nll − corpus_nll), normalized. Shapes: the LM build
    //      and scoring are t_perplexity's (bigram-type aggregations +
    //      one equi-join); everything after is a DOMAIN-CATALOG-sized
    //      frame (20 rows). Comparator: NLL sums are exact DECIMAL,
    //      the one libm exp runs on 6-dec-rounded operands and rounds
    //      to 8 BEFORE the normalization sum (taken as exact DECIMAL),
    //      so Z is partition-order invariant ----
    "t_domain_reweight" -> ((s, dir) => {
      val bg = graft.operators.Par.spread(t(s, dir, "documents"))
        .select(col("source"),
          explode(Text.shingles(Text.tokens(col("text")), 2)).as("bigram"))
        .groupBy("source", "bigram").agg(count(lit(1)).as("k"))
        .localCheckpoint(false) // LM build + per-source scoring
      val cnt = bg.groupBy("bigram").agg(sum(col("k")).as("c"))
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
      val den = cnt.groupBy("w1").agg(sum(col("c")).as("cp"))
      val probs = cnt.join(den, "w1")
        .select(col("bigram"),
          (col("c").cast("double") / col("cp").cast("double")).as("p"))
      val perSrc = bg.join(probs, "bigram")
        .groupBy("source")
        .agg(sum(col("k").cast("decimal(18,0)") *
            round(-log(col("p")), 4).cast("decimal(18,4)")).as("nll"),
          sum(col("k")).as("mass"))
      val tot = perSrc.groupBy()
        .agg(sum(col("nll")).as("tnll"), sum(col("mass")).as("tmass"))
      val scored = perSrc.crossJoin(broadcast(tot))
        .withColumn("avg_nll", round(
          col("nll").cast("double") / col("mass").cast("double"), 6))
        .withColumn("corpus_nll", round(
          col("tnll").cast("double") / col("tmass").cast("double"), 6))
        .withColumn("score", round(exp(col("avg_nll") - col("corpus_nll")), 8)
          .cast("decimal(18,8)"))
        .withColumn("unnorm", col("mass").cast("decimal(20,0)") * col("score"))
        .localCheckpoint(false) // Z + the final readout
      val z = scored.groupBy().agg(sum(col("unnorm")).as("z"))
      scored.crossJoin(broadcast(z))
        .select(col("source"), col("mass").as("n_bigrams"), col("avg_nll"),
          round(col("avg_nll") - col("corpus_nll"), 6).as("excess_nll"),
          expr("mass * 1000000 div tmass").as("base_ppm"),
          round(col("unnorm").cast("double") / col("z").cast("double"), 6)
            .as("w_new"))
    }),

    // ---- per-source lexical richness: hapax-legomena share (words
    //      seen once) and type-token ratio — the corpus-health stats
    //      that flag template/boilerplate domains (low hapax, low TTR)
    //      and OCR-noise domains (anomalously high hapax) before
    //      mixing. Shapes: one explode + two map-combinable keyed
    //      aggs; all outputs exact integer ppm ----
    "t_hapax_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("source", "word").agg(count(lit(1)).as("k"))
        .groupBy("source").agg(
          sum(col("k")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("k") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          expr("n_hapax * 1000000 div n_types").as("hapax_ppm"),
          expr("n_types * 1000000 div n_tokens").as("ttr_ppm"))
    }),

    // ---- per-source token-mass concentration: Gini coefficient over
    //      document token counts plus the largest single document's
    //      share — the curation audit that flags sources whose mass
    //      is a few megadocs (one bad crawl dominates training) vs
    //      uniform. Shape: the naive form ranks every document
    //      (corpus-sized sort per source — skew trap); instead fold
    //      ties first: groupBy(source, x) → per-VALUE counts, then a
    //      window over the distinct-value frame only (bounded by the
    //      doc-length domain, not corpus size). For sorted x with
    //      tie-block size k and cprev docs below, the block's exact
    //      rank-weighted mass is x*(k*cprev + k*(k+1)/2); all
    //      arithmetic stays integral, gini as exact floor-div ppm ----
    "t_gini_concentration" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("source"), Text.tokenCount(col("text")).cast("long").as("x"))
        .groupBy("source", "x").agg(count(lit(1)).as("k"))
        .withColumn("cprev", coalesce(sum(col("k")).over(w), lit(0L)))
        .groupBy("source").agg(
          sum(col("k")).as("n_docs"),
          sum(col("k") * col("x")).as("n_tokens"),
          sum(expr("x * (k * cprev + (k * (k + 1)) div 2)")).as("s1"),
          max(col("x")).as("xmax"))
        .filter(col("n_tokens") > 0L)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("(2*s1 - (n_docs+1)*n_tokens) * 1000000 div (n_docs * n_tokens)")
            .as("gini_ppm"),
          expr("xmax * 1000000 div n_tokens").as("top1_ppm"))
    }),

    // ---- train→holdout n-gram novelty: the share of distinct
    //      holdout (val+test) 3-grams NEVER seen in the train split —
    //      the memorization/generalization audit run after splitting
    //      (novelty near 0 means eval loss measures recall, not
    //      generalization). Shapes: same bitmask discipline as
    //      t_source_overlap — one corpus-sized groupBy(shingle)
    //      folding two max flags (codegen'd int state, map-side
    //      combined), then one scalar agg over the shingle-type
    //      frame; never a join between split corpora ----
    "t_ngram_novelty" -> ((s, dir) => {
      val d = graft.operators.Sampling.hashSplit(
        t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      graft.operators.Par.spread(d)
        .select((col("split") === "train").as("in_train"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
        .groupBy("sh").agg(
          max(when(col("in_train"), 1).otherwise(0)).as("seen_train"),
          max(when(!col("in_train"), 1).otherwise(0)).as("seen_hold"))
        .filter(col("seen_hold") === 1)
        .groupBy().agg(count(lit(1)).as("n_holdout_types"),
          sum(when(col("seen_train") === 0, 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("n_holdout_types"), col("n_novel"),
          expr("n_novel * 1000000 div n_holdout_types").as("novel_ppm"))
    }),

    // ---- dictionary tagging at blocklist scale: K keywords/phrases
    //      counted over every document in ONE text pass via a
    //      plan-compiled Aho-Corasick automaton (native expression
    //      MultiMatchCounts) — the shape that holds at a 10k-term
    //      blocklist where K LIKE-scans would traverse the corpus 10k
    //      times. Occurrences are counted at every position
    //      (overlapping included) so the result is a pure function of
    //      (text, pattern), SQL-replayable by a position scan.
    //      Shapes: map-side expression + posexplode to
    //      (doc, keyword)-grain, one keyword-cardinality agg — the
    //      only shuffle carries K rows per partition. ----
    "t_keyword_tags" -> ((s, dir) => {
      val kws = keywordDict
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.expressions.TextExprs.multiMatch(
            col("text"), lit(kws.toArray))).as(Seq("i", "n")))
        .select(element_at(lit(kws.toArray), col("i") + 1).as("keyword"),
          col("n"))
        .groupBy("keyword")
        .agg(sum(when(col("n") > 0L, 1L).otherwise(0L)).as("n_docs"),
          sum(col("n")).as("n_hits"))
    }),

    // ---- per-source tokenizer efficiency: chars-per-BPE-token under
    //      the fixed merge table — the number that says which domains
    //      a tokenizer serves well before committing a training run.
    //      Shapes: the corpus collapses to (source, word, k) type
    //      counts first; the BPE fold runs ONCE PER DISTINCT WORD
    //      (vocabulary-sized, map-side expression — never re-encodes
    //      the corpus), multiplicities join back on the word key.
    //      Counts exact integers; the ratio is one IEEE division ----
    "t_bpe_compression" -> ((s, dir) => {
      val merges = BpeMerges
      val wk = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("source", "word").agg(count(lit(1)).as("k"))
      val enc = wk.select("word").distinct()
        .select(col("word"), length(col("word")).cast("long").as("wlen"),
          size(graft.operators.Bpe.encodeExpr(col("word"), merges))
            .cast("long").as("blen"))
      wk.join(enc, "word")
        .groupBy("source")
        .agg(sum(col("k")).as("n_words"),
          sum(col("k") * col("wlen")).as("n_chars"),
          sum(col("k") * col("blen")).as("n_bpe"))
        .select(col("source"), col("n_words"), col("n_chars"), col("n_bpe"),
          (col("n_chars").cast("double") / col("n_bpe").cast("double"))
            .as("chars_per_token"))
    }),

    "t_ngram_freq" -> ((s, dir) => {
      val d = graft.operators.Par.spread(t(s, dir, "documents"))
      d.select(explode(Text.shingles(Text.tokens(col("text")), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc).limit(100)
    }),

    // ---- Gopher-style structural quality rules + keep decision ----
    "t_quality_rules" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tok = Text.tokens(col("text"))
      d.select(col("doc_id"),
        Text.meanWordLength(col("text"), tok).as("mean_word_len"),
        Text.maxWordLength(tok).as("max_word_len"),
        Text.alphaWordRatio(tok).as("alpha_ratio"),
        Text.gopherKeep(col("text"), tok).as("keep"))
    }),

    // ---- exact heavy hitters via Misra–Gries sketch + verify pass:
    //      per-partition bounded summaries nominate candidates, the
    //      exact count runs restricted to them (operators/HeavyHitters).
    //      The long-tail vocabulary never reaches the shuffle — the
    //      shape that makes threshold-frequency mining affordable when
    //      the token stream is 100 TB with billions of singletons ----
    "t_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("item"))
      graft.operators.HeavyHitters.frequentItems(
        toks, col("item"), minCount = 50L, capacity = 8192, validate = true)
    }),

    // ---- BM25 retrieval (k1=1.2, b=0.75) for a fixed term set: two
    //      corpus passes (per-doc tf/dl, then 1-row global df/avgdl
    //      stats broadcast back) — no per-term join, no shuffle of the
    //      token stream. Score rounded to 4 decimals for cross-engine
    //      ln() parity ----
    "t_bm25" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      val wtf = bm25Terms.foldLeft(d) { (acc, tm) =>
        acc.withColumn(s"tf_$tm",
          size(filter(col("toks"), x => x === lit(tm))).cast("double"))
      }.withColumn("dl", size(col("toks")).cast("double")).drop("toks")
      val stats = wtf.agg(
        (sum(col("dl")) / count(lit(1))).as("avgdl"),
        (count(lit(1)).as("n_docs") +:
          bm25Terms.map(tm => sum((col(s"tf_$tm") > 0).cast("long"))
            .as(s"df_$tm"))): _*)
      val den = (tm: String) => col(s"tf_$tm") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
      val idf = (tm: String) => log(
        ((col("n_docs") - col(s"df_$tm")).cast("double") + lit(0.5)) /
          (col(s"df_$tm").cast("double") + lit(0.5)) + lit(1.0))
      val score = bm25Terms.map(tm =>
        idf(tm) * (col(s"tf_$tm") * lit(2.2)) / den(tm)).reduceLeft(_ + _)
      wtf.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(score, 4).as("bm25"))
    }),

    // ---- statistical bigram LM table: P(w2|w1) = c(w1w2)/Σ_w c(w1w),
    //      top-50 bigrams — the conditional denominator is a
    //      groupBy(w1) + equi-join back, NOT a window over w1: at
    //      corpus scale w1="the" holds ~vocabulary-many bigram types
    //      in one un-splittable window partition (AQE splits skewed
    //      joins, not skewed windows), while the agg is map-side
    //      combinable and the join AQE-skew-splittable; the
    //      numerator/denominator division is a single shared IEEE
    //      tree ----
    "t_bigram_lm" -> ((s, dir) => {
      val d = graft.operators.Par.spread(t(s, dir, "documents"))
      val bi = d.select(explode(Text.shingles(Text.tokens(col("text")), 2))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c"))
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
      val den = bi.groupBy("w1").agg(sum(col("c")).as("cp"))
      bi.join(den, "w1")
        .select(col("bigram"), col("c"),
          (col("c").cast("double") / col("cp").cast("double")).as("p_cond"))
        .orderBy(col("c").desc, col("bigram").asc).limit(50)
    }),

    // ---- tokenizer-budget planning: coverage share of the top-100
    //      vocabulary — the curve that decides how large a vocab must
    //      be before OOV rates are acceptable. One map-combinable
    //      token count, one single-row total (broadcast), one
    //      TakeOrdered(100); the running-sum window orders a
    //      100-ROW frame post-limit — bounded by the vocab cut, not
    //      the corpus. Counts exact integers; the share is one IEEE
    //      division ----
    "t_vocab_coverage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tf = d.select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = tf.agg(sum(col("freq")).as("total"))
      val ord = Window.orderBy(col("freq").desc, col("tok").asc)
      tf.orderBy(col("freq").desc, col("tok").asc).limit(100)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(ord))
        .withColumn("cum_freq", sum(col("freq")).over(ord))
        .select(col("rank"), col("tok"), col("freq"),
          (col("cum_freq").cast("double") / col("total").cast("double"))
            .as("cum_share"))
    }),

    // ---- classifier threshold sweep: precision/recall of the hashed
    //      linear quality classifier against a deterministic length
    //      proxy label (n_chars ≥ 400) at 17 thresholds — the curve a
    //      real curation run reads before picking its keep cutoff.
    //      Score once (zero-shuffle scan, same projection as
    //      t_quality_classifier), cross-join the broadcast 17-row
    //      threshold frame, one map-combinable count agg per
    //      threshold. Ratios are integer counts + one IEEE division;
    //      empty denominators emit NULL ----
    "t_classifier_pr_curve" -> ((s, dir) => {
      val scored = Text.hashedLinearScores(
          t(s, dir, "documents"), "doc_id", "text",
          CurationQueries.ClfWeights)
        .join(t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .select(col("logit"), (col("n_chars") >= 400).as("label"))
      val thr = s.range(-8, 9).select(col("id").cast("int").as("i"))
      scored.crossJoin(broadcast(thr))
        .withColumn("pred", col("logit") >= col("i").cast("double") / lit(10.0))
        .groupBy("i")
        .agg(sum(when(col("pred") && col("label"), 1L).otherwise(0L))
            .cast("long").as("tp"),
          sum(when(col("pred") && !col("label"), 1L).otherwise(0L))
            .cast("long").as("fp"),
          sum(when(!col("pred") && col("label"), 1L).otherwise(0L))
            .cast("long").as("fn"),
          sum(when(!col("pred") && !col("label"), 1L).otherwise(0L))
            .cast("long").as("tn"))
        .select(col("i"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("precision"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            .as("recall"))
    }),

    // ---- expected calibration error of the hashed quality
    //      classifier against the length proxy label: 10 confidence
    //      bins, per-bin mean confidence vs empirical positive rate,
    //      plus the n-weighted ECE — the readout that says whether
    //      the classifier's scores can be TRUSTED as probabilities
    //      (PR curves can't). Confidence = the exact linear link
    //      clamp((logit+1)/2) in integer e6 — a monotone calibration
    //      map kept rational on purpose: libm sigmoid ulps would fork
    //      the oracle, and ECE is invariant to which monotone link
    //      defines the bins. Score scan + ONE map-combinable agg over
    //      10 bins; the closing ECE is a broadcast fold of the
    //      10-row frame. ----
    "t_classifier_ece" -> ((s, dir) => {
      val scored = Text.hashedLinearScores(
          t(s, dir, "documents"), "doc_id", "text",
          CurationQueries.ClfWeights)
        .join(t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .select(col("logit"), (col("n_chars") >= 400).as("label"))
      val per = scored
        .withColumn("p_e6", least(greatest(
          expr("cast(round((logit + 1.0) / 2.0 * 1000000, 0) as bigint)"),
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

    // ---- isotonic calibration (PAV) of the hashed quality
    //      classifier over its 10 confidence bins: the monotone
    //      calibration map t_classifier_ece only MEASURES the need
    //      for. Closed form instead of the sequential
    //      pool-adjacent-violators loop: ŷ_b = max_{i≤b} min_{j≥b}
    //      (pos[i..j] / n[i..j]) — an O(B²) grid over B = 10 bins
    //      (model-sized, never corpus-sized), so the fit
    //      distributes as two bounded window folds. Each interval
    //      ratio goes to exact e12 floor before the min/max: distinct
    //      rationals with denominators ≤ n differ by ≥ 1/n², so e12
    //      preserves their order up to 10⁶ docs per audit shard
    //      (DECIMAL past that — noted). Output: bin, n, raw rate,
    //      calibrated rate (nondecreasing by construction). ----
    "t_isotonic_calibration" -> ((s, dir) => {
      val scored = Text.hashedLinearScores(
          t(s, dir, "documents"), "doc_id", "text",
          CurationQueries.ClfWeights)
        .join(t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .select(col("logit"), (col("n_chars") >= 400).as("label"))
      val per = scored
        .withColumn("p_e6", least(greatest(
          expr("cast(round((logit + 1.0) / 2.0 * 1000000, 0) as bigint)"),
          lit(0L)), lit(1000000L)))
        .withColumn("bin", least(expr("p_e6 div 100000"), lit(9L)))
        .groupBy("bin").agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("pos"))
        .localCheckpoint(false) // both sides of the interval grid
      val iv = per.as("a").join(per.as("b"),
          col("a.bin") <= col("b.bin"))
        .select(col("a.bin").as("i"), col("b.bin").as("j"))
      val sums = iv.join(per.select(col("bin"), col("n"), col("pos")),
          col("bin").between(col("i"), col("j")))
        .groupBy("i", "j").agg(
          expr("sum(pos) * 1000000000000L div sum(n)").as("r_e12"))
      val minOverJ = sums.join(per.select(col("bin")),
          col("bin").between(col("i"), col("j")))
        .groupBy(col("bin"), col("i")).agg(min("r_e12").as("mn"))
      minOverJ.groupBy("bin").agg(max("mn").as("iso_e12"))
        .join(per, "bin")
        .select(col("bin"), col("n"), col("pos"),
          expr("pos * 1000000L div n").as("raw_e6"),
          expr("iso_e12 div 1000000").as("iso_e6"))
    }),

    // ---- simple Good-Turing frequency table per source: unseen-mass
    //      estimate p0 = n1/N and the discounted counts r* =
    //      (r+1)·n_{r+1}/n_r for r = 1..4 — the smoothing readout
    //      that says how much probability a source's token model
    //      should reserve for words it has never seen (the
    //      complement of the Chapman coverage audit, which estimates
    //      how many TYPES are missing). One corpus (source, token)
    //      groupBy, then a per-source frequency-of-frequencies fold —
    //      map-combinable all the way; output is #sources rows. All
    //      ratios exact integer ppm/e6 on non-negative counts. ----
    "t_good_turing" -> ((s, dir) => {
      val nr = (1 to 5).map(r =>
        sum(when(col("r") === r.toLong, 1L).otherwise(0L)).as(s"n$r"))
      val rstars = (1 to 4).map(r =>
        when(col(s"n$r") > 0L,
          expr(s"${r + 1} * n${r + 1} * 1000000L div n$r"))
          .otherwise(lit(0L)).as(s"rstar${r}_e6"))
      t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("r"))
        .groupBy("source").agg(sum("r").as("n_tokens"),
          count(lit(1)).as("n_types") +: nr: _*)
        .select(Seq(col("source"), col("n_tokens"), col("n_types"),
          col("n1"), col("n2"), col("n3"), col("n4"), col("n5"),
          expr("n1 * 1000000L div n_tokens").as("p0_ppm")) ++ rstars: _*)
    }),

    // ---- interpolated Kneser-Ney bigram LM (the smoothing every
    //      production n-gram LM ships — Chen & Goodman 1999):
    //      P_KN(w2|w1) = max(c−D,0)/c(w1·)
    //                  + (D·N1+(w1·)/c(w1·)) · N1+(·w2)/T
    //      with absolute discount D = 0.75 (exact in binary) and
    //      continuation probability N1+(·w2)/T over bigram TYPES, so
    //      frequent-but-predictable words ("Francisco") score low as
    //      continuations — the property plain MLE (t_bigram_lm) lacks.
    //      Shapes: one corpus explode, then type-level aggs only
    //      (vocabulary-sized): per-w1 totals+fanout in ONE groupBy,
    //      per-w2 fanin in another, total types broadcast as a 1-row
    //      frame; all joins are equi-joins on vocab keys — no window
    //      over the Zipfian w1 (t_bigram_lm's de-skew note applies).
    //      Oracle discipline: every count is an exact integer, D and
    //      the formula are single correctly-rounded IEEE ops with the
    //      identical tree in both engines — the emitted double hashes
    //      bit-identically, unrounded ----
    "t_kneser_ney" -> ((s, dir) => {
      val d = graft.operators.Par.spread(t(s, dir, "documents"))
      val cnt = d.select(explode(Text.shingles(Text.tokens(col("text")), 2))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c"))
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
        .withColumn("w2", split(col("bigram"), " ").getItem(1))
        .localCheckpoint(false) // three type-level aggs consume it
      val den = cnt.groupBy("w1")
        .agg(sum(col("c")).as("cp"), count(lit(1)).as("t1"))
      val cont = cnt.groupBy("w2").agg(count(lit(1)).as("t2"))
      val types = cnt.agg(count(lit(1)).as("tt"))
      cnt.join(den, "w1").join(cont, "w2").crossJoin(broadcast(types))
        .select(col("bigram"), col("c"), col("cp"), col("t1"), col("t2"),
          (greatest(col("c").cast("double") - lit(0.75), lit(0.0)) /
            col("cp").cast("double") +
            (lit(0.75) * col("t1").cast("double") /
              col("cp").cast("double")) *
              (col("t2").cast("double") / col("tt").cast("double")))
            .as("p_kn"))
        .orderBy(col("c").desc, col("bigram").asc).limit(50)
    }),

    // ---- LM-based quality scoring (CCNet-style): average bigram
    //      negative log-likelihood under the corpus's own bigram LM —
    //      low avg_nll = predictable/fluent text, high = gibberish.
    //      LM build = three map-combinable aggs + a w1 equi-join (the
    //      denominator deliberately avoids a window over the Zipfian
    //      w1 key — see t_bigram_lm); scoring
    //      is one equi-join on the bigram. Per-term -ln p rounds to 4
    //      decimals (the project's ln/libm absorption margin — ulp
    //      divergence between Math.log and DuckDB's log sits ~1e-15,
    //      11 orders under the rounding boundary) and sums as exact
    //      DECIMAL (partition-order independent) ----
    "t_perplexity" -> ((s, dir) => {
      val d = graft.operators.Par.spread(t(s, dir, "documents"))
      // Pre-aggregate to (doc, bigram, multiplicity) so the corpus-sized
      // explode runs ONCE; localCheckpoint because both the LM build and
      // the scoring join consume this frame (Catalyst would otherwise
      // re-explode per branch).
      val bg = d.select(col("doc_id"),
          explode(Text.shingles(Text.tokens(col("text")), 2)).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("k"))
        .localCheckpoint(false)
      val cnt = bg.groupBy("bigram").agg(sum(col("k")).as("c"))
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
      val den = cnt.groupBy("w1").agg(sum(col("c")).as("cp"))
      val probs = cnt.join(den, "w1")
        .select(col("bigram"),
          (col("c").cast("double") / col("cp").cast("double")).as("p"))
      bg.join(probs, "bigram")
        .select(col("doc_id"), col("k"),
          (col("k").cast("decimal(18,0)") *
            round(-log(col("p")), 4).cast("decimal(18,4)")).as("nll"))
        .groupBy("doc_id")
        .agg((sum(col("nll")).cast("double") /
          sum(col("k")).cast("double")).as("avg_nll"),
          sum(col("k")).cast("long").as("n_bigrams"))
    }),

    // ---- C4-style corpus-wide segment dedup: split each doc into
    //      fixed 10-token segments (the "lines" of a newline-free
    //      corpus), keep a repeated segment only in its first-occurrence
    //      doc (min doc_id), and rebuild the cleaned text in original
    //      order. Shapes: one explode (~n_tokens/10 rows), a
    //      map-combinable segment agg, one equi-join back on the
    //      segment, and a per-doc ordered rebuild (array_sort bounds
    //      work by doc length) ----
    "t_segment_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val segs = d.select(col("doc_id"), Text.tokens(col("text")).as("tok"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(tok)-1) div 10)," +
            " i -> array_join(slice(tok, i*10+1, 10), ' '))")))
        .toDF("doc_id", "pos", "seg")
      // a unique segment's keeper is its own doc (min over one row), so
      // doc_id = keeper alone decides — no occurrence count needed
      val firstOcc = segs.groupBy("seg").agg(min(col("doc_id")).as("keeper"))
      val keep = col("doc_id") === col("keeper")
      segs.join(firstOcc, "seg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(keep, 1L).otherwise(0L)).cast("long").as("n_kept"),
          array_join(transform(
            array_sort(collect_list(when(keep, struct(col("pos"), col("seg"))))),
            x => x.getField("seg")), " ").as("clean_text"))
    }),

    // ---- deterministic negative sampling for contrastive training:
    //      per anchor, K pseudo-random negatives via md5-bucket
    //      equi-joins (anchor probes bucket md5(anchor:j), corpus rows
    //      key on md5(doc_id)) — no sampling shuffle, no cross join,
    //      membership reproducible across runs and cluster sizes ----
    "t_negative_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.select(col("doc_id").as("neg_id"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("bucket"))
      val probes = d.filter(col("doc_id") < 50)
        .select(col("doc_id").as("anchor_id"))
        .crossJoin(s.range(1, 5).select(col("id").cast("int").as("j")))
        .withColumn("bucket", substring(
          md5(concat(col("anchor_id").cast("string"), lit(":"), col("j"))),
          1, 2))
      probes.join(corpus, "bucket")
        .filter(col("neg_id") =!= col("anchor_id"))
        .groupBy("anchor_id", "j").agg(min(col("neg_id")).as("neg_id"))
    }),

    // ---- capstone composition: the full corpus-curation pipeline as
    //      ONE declarative plan — Gopher quality gate → exact dedup
    //      (min doc_id per md5) → per-source quota cap → per-source
    //      report. Catalyst fuses the filter into the scan and each
    //      window shuffles once on its own key; no stage materializes
    //      an intermediate corpus ----
    "t_corpus_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val tok = Text.tokens(col("text"))
      val kept = d.filter(Text.gopherKeep(col("text"), tok))
        .select("doc_id", "source", "text")
      val deduped = kept.withColumn("__rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)))
        .filter(col("__rn") === 1).drop("__rn")
      graft.operators.Sampling.quotaCap(deduped, "doc_id", "source", quota = 40)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(Text.tokens(col("text")))).as("n_tokens"))
    }),

    // ---- Unicode NFC canonicalization (native codegen'd expression,
    //      `graft_nfc` on the SQL surface): the hygiene pass before
    //      any hash-based dedup — a decomposed "café" and a
    //      precomposed "café" hash differently but are the same
    //      text. The corpus is ASCII, so the messy surface forms are
    //      built in closed form from doc_id (combining acute,
    //      combining diaeresis, the ANGSTROM SIGN singleton); the
    //      oracle replays the same construction with DuckDB's
    //      nfc_normalize — two independent NFC implementations (JDK
    //      vs utf8proc) must agree byte-for-byte. Pure map-side
    //      column work; one count agg for the report ----
    "t_unicode_norm" -> ((s, dir) => {
      val raw = concat(
        when(col("doc_id") % 4 === 0, lit("cafe\u0301 menu"))
          .when(col("doc_id") % 4 === 1, lit("caf\u00e9 menu"))
          .when(col("doc_id") % 4 === 2,
            lit("\u212Bngstro\u0308m unit"))
          .otherwise(lit("plain ascii row")),
        lit(" #"), col("doc_id").cast("string"))
      t(s, dir, "documents").select(col("doc_id"), raw.as("s"))
        .select(col("doc_id"),
          graft.expressions.TextExprs.nfc(col("s")).as("norm"),
          (graft.expressions.TextExprs.nfc(col("s")) =!= col("s"))
            .as("changed"),
          length(col("s")).as("len_before"),
          length(graft.expressions.TextExprs.nfc(col("s")))
            .as("len_after"))
    })
  )

  /** Fixed query terms for t_bm25 (shared with its oracle SQL). */
  private val bm25Terms = Seq("hash", "join", "scan")

  /** t_keyword_tags dictionary: single terms, multi-word phrases, a
    * phrase that self-overlaps in running text ("table table"), a pair
    * where one pattern prefixes another ("scan" / "scan query"), and a
    * never-matching entry — the cases that separate a real automaton
    * from K independent scans. Shared verbatim by the oracle.
    */
  private[graft] val keywordDict = Seq(
    "table", "scan", "scan query", "fast table", "table table",
    "key agg row", "quantum blockchain")

  // shared SQL fragments (documents.text is single-space-joined lowercase)
  private val tok = "string_split(text, ' ')"

  // Sampling.hashSplit's 256-bucket md5 assignment + the 0.8/0.1/0.1
  // thresholds, shared by every oracle that reproduces split labels —
  // ONE copy so engine and oracles can't drift independently
  private[queries] val md5Bucket =
    """(strpos('0123456789abcdef',
      |        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef',
      |        substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1""".stripMargin
  private val splitCase =
    """CASE WHEN bucket < 205 THEN 'train'
      |     WHEN bucket < 231 THEN 'val'
      |     ELSE 'test' END""".stripMargin
  private def hits(set: Seq[String]) =
    s"len(list_filter($tok, x -> x IN (${set.map("'" + _ + "'").mkString(",")})))"
  private val scores = Text.langMarkers.map { case (l, m) => l -> hits(m) }
  private val bestExpr = s"greatest(${scores.map(_._2).mkString(", ")})"

  /** Oracle fragment for one t_bm25 score term (mirrors the Spark
    * expression tree token-for-token — see memory: identical IEEE trees
    * are bit-exact; ln() is the one libm call, absorbed by ROUND(,4)). */
  private def bm25Term(tm: String): String =
    s"ln((CAST(n_docs - df_$tm AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      s"(CAST(df_$tm AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))" +
      s" * (tf_$tm * CAST(2.2 AS DOUBLE)) / (tf_$tm + CAST(1.2 AS DOUBLE) * " +
      s"(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))"

  /** Shared recursive-CTE machinery for the unigram EM/prune oracles:
    * induction, probabilities, forward+backward, expected counts, the
    * M-step model, the post-EM forward pass, and both EM likelihoods.
    */
  private val unigramEmCtes: String =
    """WITH RECURSIVE wf AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |subs AS MATERIALIZED (SELECT sub, SUM(freq) AS w FROM (
        |    SELECT freq, unnest(list_distinct(flatten(list_transform(
        |      range(1, 9), l -> list_transform(
        |        range(1, len(word) - l + 2),
        |        i -> substring(word, CAST(i AS INT), CAST(l AS INT)))))))
        |      AS sub
        |    FROM wf) GROUP BY sub),
        |vocab AS MATERIALIZED (
        |  SELECT sub, w FROM subs WHERE len(sub) = 1
        |  UNION ALL
        |  SELECT sub, w FROM (SELECT sub, w FROM subs
        |    WHERE len(sub) >= 2
        |    ORDER BY w DESC, sub ASC LIMIT 200) t),
        |tot AS (SELECT SUM(w) AS wt FROM vocab),
        |pv AS MATERIALIZED (SELECT sub, CAST(w AS DOUBLE)
        |    / CAST(wt AS DOUBLE) AS pr FROM vocab, tot),
        |pl AS MATERIALIZED (SELECT list(struct_pack(p := sub, pr := pr)
        |    ORDER BY sub) AS pl FROM pv),
        |fwd AS (
        |  SELECT word, freq, 0 AS j, [CAST(1.0 AS DOUBLE)] AS a FROM wf
        |  UNION ALL
        |  SELECT word, freq, j + 1 AS j,
        |    list_append(a, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 9), l ->
        |        CASE WHEN l <= j + 1 THEN COALESCE(
        |          a[CAST(j + 1 - l AS INT) + 1]
        |            * list_filter(pl.pl, x -> x.p = substring(word,
        |                CAST(j + 1 - l + 1 AS INT), CAST(l AS INT)))[1].pr,
        |          CAST(0.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END)),
        |      (x, y) -> x + y)) AS a
        |  FROM fwd, pl WHERE j < len(word)),
        |bwd AS (
        |  SELECT word, 0 AS k, [CAST(1.0 AS DOUBLE)] AS b FROM wf
        |  UNION ALL
        |  SELECT word, k + 1 AS k,
        |    list_prepend(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 9), l ->
        |        CASE WHEN l <= k + 1 THEN COALESCE(
        |          list_filter(pl.pl, x -> x.p = substring(word,
        |              CAST(len(word) - k AS INT), CAST(l AS INT)))[1].pr
        |            * b[CAST(l AS INT)],
        |          CAST(0.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END)),
        |      (x, y) -> x + y), b) AS b
        |  FROM bwd, pl WHERE k < len(word)),
        |fa AS MATERIALIZED (SELECT word, freq, a FROM fwd
        |  WHERE j = len(word)),
        |fb AS MATERIALIZED (SELECT word, b FROM bwd WHERE k = len(word)),
        |occ0 AS (SELECT word, freq, a, b,
        |    unnest(flatten(list_transform(range(1, len(word) + 1), i ->
        |      list_transform(range(1, 9), l ->
        |        struct_pack(i := i, l := l))))) AS il
        |  FROM fa JOIN fb USING (word)),
        |occ AS (SELECT word, freq, a, b, il.i AS i, il.l AS l,
        |    substring(word, CAST(il.i AS INT), CAST(il.l AS INT)) AS piece
        |  FROM occ0 WHERE il.i + il.l - 1 <= len(word)),
        |perpiece AS MATERIALIZED (SELECT piece,
        |    SUM(CAST(ROUND(CAST(freq AS DOUBLE)
        |      * (occ.a[CAST(i AS INT)] * pv.pr * occ.b[CAST(i + l AS INT)]
        |         / occ.a[len(word) + 1]), 9) AS DECIMAL(38,9))) AS ec
        |  FROM occ JOIN pv ON occ.piece = pv.sub GROUP BY piece),
        |totc AS (SELECT SUM(ec) AS c FROM perpiece),
        |pnl AS MATERIALIZED (SELECT list(struct_pack(p := piece,
        |    pr := CAST(ec AS DOUBLE) / CAST(c AS DOUBLE))
        |    ORDER BY piece) AS pl FROM perpiece, totc),
        |fwd2 AS (
        |  SELECT word, freq, 0 AS j, [CAST(1.0 AS DOUBLE)] AS a FROM wf
        |  UNION ALL
        |  SELECT word, freq, j + 1 AS j,
        |    list_append(a, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 9), l ->
        |        CASE WHEN l <= j + 1 THEN COALESCE(
        |          a[CAST(j + 1 - l AS INT) + 1]
        |            * list_filter(pnl.pl, x -> x.p = substring(word,
        |                CAST(j + 1 - l + 1 AS INT), CAST(l AS INT)))[1].pr,
        |          CAST(0.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END)),
        |      (x, y) -> x + y)) AS a
        |  FROM fwd2, pnl WHERE j < len(word)),
        |llp AS (SELECT ROUND(CAST(SUM(CAST(ROUND(CAST(freq AS DOUBLE)
        |    * ROUND(ln(a[len(word) + 1]), 9), 6) AS DECIMAL(28,6)))
        |    AS DOUBLE), 6) AS ll_pre FROM fa),
        |llq AS (SELECT ROUND(CAST(SUM(CAST(ROUND(CAST(freq AS DOUBLE)
        |    * ROUND(ln(a[len(word) + 1]), 9), 6) AS DECIMAL(28,6)))
        |    AS DOUBLE), 6) AS ll_post FROM fwd2 WHERE j = len(word))""".stripMargin

  /** The artifact read paths are DEFINED to equal their induce-and-
    * encode siblings (longs round-trip parquet exactly; TokenizerSpec
    * proves the law), so they share those oracles verbatim.
    */
  lazy val oracleSql: Map[String, String] = oracleBase ++ Map(
    "t_wordpiece_artifact" -> oracleBase("t_wordpiece"),
    "t_unigram_artifact" -> oracleBase("t_unigram_viterbi"))

  private lazy val oracleBase: Map[String, String] = Map(
    "t_bigram_lm" ->
      s"""WITH ng AS (SELECT unnest(
         |    CASE WHEN len($tok) < 2 THEN []
         |         ELSE list_transform(range(1, len($tok)),
         |                i -> array_to_string(($tok)[i:i+1], ' ')) END) AS bigram
         |  FROM documents),
         |bc AS (SELECT bigram, COUNT(*) AS c,
         |    string_split(bigram, ' ')[1] AS w1
         |  FROM ng GROUP BY bigram),
         |wp AS (SELECT bigram, c,
         |    CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY w1) AS DOUBLE)
         |      AS p_cond
         |  FROM bc)
         |SELECT bigram, c, p_cond FROM wp
         |ORDER BY c DESC, bigram ASC LIMIT 50""".stripMargin,

    "t_vocab_coverage" ->
      s"""WITH tf AS (SELECT tok, COUNT(*) AS freq
         |  FROM (SELECT unnest($tok) AS tok FROM documents) GROUP BY tok),
         |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf),
         |top AS (SELECT tok, freq FROM tf
         |  ORDER BY freq DESC, tok ASC LIMIT 100)
         |SELECT CAST(ROW_NUMBER() OVER w AS INT) AS "rank", tok, freq,
         |  CAST(SUM(freq) OVER w AS DOUBLE) / CAST(total AS DOUBLE)
         |    AS cum_share
         |FROM top CROSS JOIN tot
         |WINDOW w AS (ORDER BY freq DESC, tok ASC)""".stripMargin,

    "t_classifier_pr_curve" -> {
      val cases = CurationQueries.ClfWeights.map { case (b, w) =>
        s"WHEN '$b' THEN CAST($w AS DECIMAL(2,1))"
      }.mkString(" ")
      s"""WITH f AS (SELECT doc_id,
         |    (CASE substr(md5(tok), 1, 1) $cases END) AS w
         |  FROM (SELECT doc_id, unnest($tok) AS tok FROM documents)),
         |sc AS (SELECT doc_id,
         |    round(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         |      AS logit
         |  FROM f GROUP BY doc_id),
         |lab AS (SELECT sc.logit, d.n_chars >= 400 AS label
         |  FROM sc JOIN documents d USING (doc_id)),
         |thr AS (SELECT CAST(unnest(range(-8, 9)) AS INT) AS i),
         |cnt AS (SELECT i,
         |    CAST(SUM(CASE WHEN logit >= CAST(i AS DOUBLE) / 10.0
         |      AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN logit >= CAST(i AS DOUBLE) / 10.0
         |      AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN logit < CAST(i AS DOUBLE) / 10.0
         |      AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN logit < CAST(i AS DOUBLE) / 10.0
         |      AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM lab CROSS JOIN thr GROUP BY i)
         |SELECT i, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0
         |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         |    AS precision,
         |  CASE WHEN tp + fn > 0
         |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
         |    AS recall
         |FROM cnt""".stripMargin
    },

    "t_kneser_ney" ->
      s"""WITH ng AS (SELECT unnest(
         |    CASE WHEN len($tok) < 2 THEN []
         |         ELSE list_transform(range(1, len($tok)),
         |                i -> array_to_string(($tok)[i:i+1], ' ')) END) AS bigram
         |  FROM documents),
         |bc AS (SELECT bigram, COUNT(*) AS c,
         |    string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2
         |  FROM ng GROUP BY bigram),
         |den AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cp,
         |    COUNT(*) AS t1 FROM bc GROUP BY w1),
         |cont AS (SELECT w2, COUNT(*) AS t2 FROM bc GROUP BY w2),
         |ty AS (SELECT COUNT(*) AS tt FROM bc)
         |SELECT bigram, c, cp, t1, t2,
         |  greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(cp AS DOUBLE)
         |    + (0.75 * CAST(t1 AS DOUBLE) / CAST(cp AS DOUBLE))
         |      * (CAST(t2 AS DOUBLE) / CAST(tt AS DOUBLE)) AS p_kn
         |FROM bc JOIN den USING (w1) JOIN cont USING (w2) CROSS JOIN ty
         |ORDER BY c DESC, bigram ASC LIMIT 50""".stripMargin,

    "t_classifier_ece" -> {
      val cases = CurationQueries.ClfWeights.map { case (b, w) =>
        s"WHEN '$b' THEN CAST($w AS DECIMAL(2,1))"
      }.mkString(" ")
      s"""WITH f AS (SELECT doc_id,
         |    (CASE substr(md5(tok), 1, 1) $cases END) AS w
         |  FROM (SELECT doc_id, unnest($tok) AS tok FROM documents)),
         |sc AS (SELECT doc_id,
         |    round(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         |      AS logit
         |  FROM f GROUP BY doc_id),
         |lab AS (SELECT sc.logit, d.n_chars >= 400 AS label
         |  FROM sc JOIN documents d USING (doc_id)),
         |pp AS (SELECT LEAST(GREATEST(
         |    CAST(ROUND((logit + 1.0) / 2.0 * 1000000, 0) AS BIGINT),
         |    0), 1000000) AS p_e6, label FROM lab),
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
         |FROM pb, tot""".stripMargin
    },

    "t_isotonic_calibration" -> {
      val cases = CurationQueries.ClfWeights.map { case (b, w) =>
        s"WHEN '$b' THEN CAST($w AS DECIMAL(2,1))"
      }.mkString(" ")
      s"""WITH f AS (SELECT doc_id,
         |    (CASE substr(md5(tok), 1, 1) $cases END) AS w
         |  FROM (SELECT doc_id, unnest($tok) AS tok FROM documents)),
         |sc AS (SELECT doc_id,
         |    round(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         |      AS logit
         |  FROM f GROUP BY doc_id),
         |lab AS (SELECT sc.logit, d.n_chars >= 400 AS label
         |  FROM sc JOIN documents d USING (doc_id)),
         |pp AS (SELECT LEAST(GREATEST(
         |    CAST(ROUND((logit + 1.0) / 2.0 * 1000000, 0) AS BIGINT),
         |    0), 1000000) AS p_e6, label FROM lab),
         |per AS MATERIALIZED (SELECT
         |    CAST(LEAST(p_e6 // 100000, 9) AS BIGINT) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS pos
         |  FROM pp GROUP BY 1),
         |iv AS (SELECT a.bin AS i, b.bin AS j
         |  FROM per a JOIN per b ON a.bin <= b.bin),
         |sums AS (SELECT i, j,
         |    CAST(SUM(pos) * 1000000000000 // SUM(n) AS BIGINT) AS r_e12
         |  FROM iv JOIN per ON per.bin BETWEEN i AND j GROUP BY i, j),
         |mn AS (SELECT per.bin, i, MIN(r_e12) AS mn
         |  FROM sums JOIN per ON per.bin BETWEEN i AND j
         |  GROUP BY per.bin, i),
         |iso AS (SELECT bin, CAST(MAX(mn) AS BIGINT) AS iso_e12
         |  FROM mn GROUP BY bin)
         |SELECT per.bin, per.n, per.pos,
         |  CAST(pos * 1000000 // n AS BIGINT) AS raw_e6,
         |  CAST(iso_e12 // 1000000 AS BIGINT) AS iso_e6
         |FROM iso JOIN per USING (bin)""".stripMargin
    },

    "t_good_turing" ->
      s"""WITH tf AS (SELECT source, tok, COUNT(*) AS r
         |  FROM (SELECT source, unnest($tok) AS tok FROM documents)
         |  GROUP BY source, tok),
         |fof AS (SELECT source,
         |    CAST(SUM(r) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_types,
         |    ${(1 to 5).map(r => s"CAST(SUM(CASE WHEN r = $r THEN 1 " +
              s"ELSE 0 END) AS BIGINT) AS n$r").mkString(",\n         |    ")}
         |  FROM tf GROUP BY source)
         |SELECT source, n_tokens, n_types, n1, n2, n3, n4, n5,
         |  CAST(n1 * 1000000 // n_tokens AS BIGINT) AS p0_ppm,
         |  ${(1 to 4).map(r => s"CAST(CASE WHEN n$r > 0 THEN " +
            s"${r + 1} * n${r + 1} * 1000000 // n$r ELSE 0 END " +
            s"AS BIGINT) AS rstar${r}_e6").mkString(",\n         |  ")}
         |FROM fof""".stripMargin,

    "t_perplexity" ->
      s"""WITH bi AS (SELECT doc_id, unnest(
         |    CASE WHEN len($tok) < 2 THEN []
         |         ELSE list_transform(range(1, len($tok)),
         |                i -> array_to_string(($tok)[i:i+1], ' ')) END) AS bigram
         |  FROM documents),
         |bc AS (SELECT bigram, COUNT(*) AS c,
         |    string_split(bigram, ' ')[1] AS w1
         |  FROM bi GROUP BY bigram),
         |pr AS (SELECT bigram, CAST(c AS DOUBLE) /
         |    CAST(SUM(c) OVER (PARTITION BY w1) AS DOUBLE) AS p
         |  FROM bc)
         |SELECT doc_id,
         |  CAST(SUM(CAST(round(-ln(p), 4) AS DECIMAL(18,4))) AS DOUBLE)
         |    / COUNT(*) AS avg_nll,
         |  COUNT(*) AS n_bigrams
         |FROM bi JOIN pr USING (bigram) GROUP BY doc_id""".stripMargin,

    "t_weighted_sample" ->
      """WITH b AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS w,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(strpos('0123456789abcdef', substring(
        |          md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1
        |          AS BIGINT))),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, source,
        |  round(ln((CAST(h AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / CAST(4294967296 AS DOUBLE)) / w, 6) AS skey
        |FROM b ORDER BY skey DESC, doc_id ASC LIMIT 200""".stripMargin,

    "t_segment_dedup" ->
      s"""WITH base AS (SELECT doc_id, $tok AS tok FROM documents),
         |segs AS (SELECT doc_id, u.pos AS pos, u.seg AS seg
         |  FROM (SELECT doc_id, unnest(list_transform(
         |      range(0, (len(tok)-1)//10 + 1),
         |      i -> struct_pack(pos := i,
         |        seg := array_to_string(tok[i*10+1:i*10+10], ' ')))) AS u
         |    FROM base)),
         |fo AS (SELECT seg, MIN(doc_id) AS keeper FROM segs GROUP BY seg)
         |SELECT doc_id, COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(CASE WHEN doc_id = keeper
         |      THEN seg END, ' ' ORDER BY pos), '') AS clean_text
         |FROM segs JOIN fo USING (seg) GROUP BY doc_id""".stripMargin,

    "t_negative_pairs" ->
      """WITH corpus AS (SELECT doc_id AS neg_id,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |  FROM documents),
        |probes AS (SELECT d.doc_id AS anchor_id, j.j,
        |    substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
        |      CAST(j.j AS VARCHAR)), 1, 2) AS bucket
        |  FROM documents d,
        |       (SELECT CAST(unnest(range(1, 5)) AS INT) AS j) j
        |  WHERE d.doc_id < 50)
        |SELECT anchor_id, j, MIN(neg_id) AS neg_id
        |FROM probes JOIN corpus USING (bucket)
        |WHERE neg_id <> anchor_id
        |GROUP BY anchor_id, j""".stripMargin,

    "t_corpus_pipeline" ->
      s"""WITH kept AS (SELECT doc_id, source, text FROM documents
         |  WHERE len($tok) >= 10 AND len($tok) <= 5000
         |    AND CAST(length(text) - (len($tok) - 1) AS DOUBLE)
         |      / CAST(len($tok) AS DOUBLE) >= 2.0
         |    AND CAST(length(text) - (len($tok) - 1) AS DOUBLE)
         |      / CAST(len($tok) AS DOUBLE) <= 12.0
         |    AND CAST(len(list_filter($tok, w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
         |      / CAST(len($tok) AS DOUBLE) >= 0.6),
         |ded AS (SELECT doc_id, source, text FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id ASC) AS rn FROM kept) WHERE rn = 1),
         |capped AS (SELECT doc_id, source, text FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
         |    FROM ded) WHERE rn <= 40)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len($tok)) AS BIGINT) AS n_tokens
         |FROM capped GROUP BY source""".stripMargin,

    "t_heavy_hitters" ->
      s"""SELECT tok AS item, COUNT(*) AS n
         |FROM (SELECT unnest($tok) AS tok FROM documents)
         |GROUP BY 1 HAVING COUNT(*) >= 50""".stripMargin,

    "t_bm25" ->
      s"""WITH w AS (SELECT doc_id,
         |    CAST(len($tok) AS DOUBLE) AS dl,
         |${bm25Terms.map(tm =>
             s"    CAST(len(list_filter($tok, x -> x = '$tm')) AS DOUBLE) AS tf_$tm"
           ).mkString(",\n")}
         |  FROM documents),
         |st AS (SELECT SUM(dl) / COUNT(*) AS avgdl, COUNT(*) AS n_docs,
         |${bm25Terms.map(tm =>
             s"    SUM(CASE WHEN tf_$tm > 0 THEN 1 ELSE 0 END) AS df_$tm"
           ).mkString(",\n")}
         |  FROM w)
         |SELECT doc_id, ROUND(
         |${bm25Terms.map(bm25Term).mkString("  ", "\n  + ", "")}
         |, 4) AS bm25 FROM w, st""".stripMargin,

    "t_source_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents) x
        |WHERE rn <= 15""".stripMargin,

    "t_mix_temperature" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs
        |  FROM documents GROUP BY source),
        |t AS (SELECT SUM(n_docs) AS total FROM s),
        |w AS (SELECT source, n_docs,
        |    ROUND(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |      AS raw_share,
        |    CAST(ROUND(pow(CAST(n_docs AS DOUBLE)
        |      / CAST(total AS DOUBLE), 0.7), 4) AS DECIMAL(18,4)) AS w4
        |  FROM s, t),
        |ws AS (SELECT SUM(w4) AS wsum FROM w)
        |SELECT source, n_docs, raw_share,
        |  ROUND(CAST(w4 AS DOUBLE) / CAST(wsum AS DOUBLE), 6)
        |    AS temp_share
        |FROM w, ws""".stripMargin,

    "t_mix_weighted" ->
      """WITH d AS (SELECT doc_id, source FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2')),
        |r AS (SELECT * FROM (VALUES
        |    ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |    ('src2', CAST(0.2 AS DOUBLE))) v(source, ratio)),
        |c AS (SELECT r.source, r.ratio, COALESCE(g.cnt, 0) AS cnt
        |  FROM r LEFT JOIN (SELECT source, COUNT(*) AS cnt FROM d
        |    GROUP BY 1) g USING (source)),
        |f AS (SELECT MIN(CAST(FLOOR(cnt / ratio) AS BIGINT)) AS total
        |  FROM c),
        |q AS (SELECT source,
        |    LEAST(cnt, CAST(FLOOR(ratio * total) AS BIGINT)) AS quota
        |  FROM c, f),
        |rn AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM d)
        |SELECT doc_id, source FROM rn JOIN q USING (source)
        |WHERE rn <= quota""".stripMargin,

    "t_fuzzy_pairs" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
        |  WHERE c_custkey < 300),
        |v AS (SELECT id, s, unnest(list_distinct(list_prepend(s,
        |    list_transform(range(1, length(s) + 1),
        |      i -> substring(s, 1, i - 1) || substring(s, i + 1, length(s)))))) AS k
        |  FROM c),
        |p AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.s AS sa, b.s AS sb
        |  FROM v a JOIN v b ON a.k = b.k AND a.id < b.id)
        |SELECT a_id, b_id, levenshtein(sa, sb) AS dist FROM p
        |WHERE levenshtein(sa, sb) <= 1""".stripMargin,

    "t_encode_ids" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos
        |  FROM documents),
        |vocab AS (SELECT tok, tid FROM (
        |    SELECT tok, CAST(ROW_NUMBER() OVER (
        |      ORDER BY COUNT(*) DESC, tok ASC) AS INT) AS tid
        |    FROM toks GROUP BY tok) v WHERE tid <= 256)
        |SELECT t.doc_id, t.pos, COALESCE(v.tid, 0) AS tid
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok""".stripMargin,

    "t_rarity" ->
      s"""WITH tokdf AS (SELECT doc_id,
         |    unnest(list_distinct($tok)) AS tk FROM documents),
         |dfreq AS (SELECT tk, COUNT(*) AS df FROM tokdf GROUP BY 1)
         |SELECT doc_id,
         |  CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / df, 6) AS DECIMAL(10,6))) AS DOUBLE) AS rarity,
         |  COUNT(*) AS n_distinct
         |FROM tokdf JOIN dfreq USING (tk)
         |GROUP BY 1""".stripMargin,

    "t_token_stats" ->
      s"""SELECT doc_id,
         | len($tok) AS n_tokens,
         | len(list_filter(string_split_regex(text, '[^a-z0-9]+'), x -> len(x) > 0))
         |   + (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) AS n_subwords,
         | length(text) AS len_chars
         |FROM documents""".stripMargin,

    "t_lang_id" -> {
      val whens = scores.map { case (l, e) =>
        s"WHEN $e = best AND best > 0 THEN '$l'"
      }.mkString("\n  ")
      s"""SELECT doc_id,
         | CASE $whens ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id, text, $bestExpr AS best FROM documents)""".stripMargin
    },

    "t_quality" ->
      s"""SELECT doc_id,
         | CAST(${hits(Text.langMarkers.head._2)} AS DOUBLE) / CAST(len($tok) AS DOUBLE) AS stop_ratio,
         | CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
         | 0.5 * (CAST(${hits(Text.langMarkers.head._2)} AS DOUBLE) / CAST(len($tok) AS DOUBLE))
         |  + 0.3 * least(1.0, CAST(len($tok) AS DOUBLE) / 50.0)
         |  + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
         |FROM documents""".stripMargin,

    "t_readability" ->
      """WITH c AS (SELECT doc_id,
        |    greatest(1, len(string_split(text, ' '))) AS n_words,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS n_sentences,
        |    greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  n_words * 39 // n_sentences + n_syllables * 1180 // n_words
        |    - 1559 AS fk_e2,
        |  206835 - n_words * 1015 // n_sentences
        |    - n_syllables * 84600 // n_words AS fre_e3
        |FROM c""".stripMargin,

    "t_quality_calibrated" ->
      s"""SELECT doc_id, source,
         | 0.5 * (CAST(${hits(Text.langMarkers.head._2)} AS DOUBLE) / CAST(len($tok) AS DOUBLE))
         |  + 0.3 * least(1.0, CAST(len($tok) AS DOUBLE) / 50.0)
         |  + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality,
         | percent_rank() OVER (PARTITION BY source ORDER BY
         |  0.5 * (CAST(${hits(Text.langMarkers.head._2)} AS DOUBLE) / CAST(len($tok) AS DOUBLE))
         |  + 0.3 * least(1.0, CAST(len($tok) AS DOUBLE) / 50.0)
         |  + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))) AS pr
         |FROM documents""".stripMargin,

    "t_split_leakage" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents),
         |sp AS (SELECT doc_id, md5(text) AS fp, $splitCase AS split
         |  FROM (SELECT doc_id, text, $md5Bucket AS bucket
         |    FROM base))
         |SELECT least(a.split, b.split) AS split_a,
         |  greatest(a.split, b.split) AS split_b,
         |  count(*) AS n_pairs
         |FROM sp a JOIN sp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  AND a.split <> b.split
         |GROUP BY 1, 2""".stripMargin,

    "t_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp,
         | list_aggregate(list_transform(
         |   CASE WHEN len($tok) < 5 THEN []
         |        ELSE list_transform(range(1, len($tok) - 3),
         |               i -> array_to_string(($tok)[i:i+4], ' ')) END,
         |   s -> md5(s)), 'min') AS minshingle_fp
         |FROM documents""".stripMargin,

    "t_pii_redact" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   text || ' contact user' || doc_id
        |        || '@example.com or call +1-555-'
        |        || lpad(CAST(doc_id AS VARCHAR), 7, '0')
        |        || ' account 9876543210',
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |   '\+[0-9][0-9-]{7,14}[0-9]', '<PHONE>', 'g'),
        |   '[0-9]{9,}', '<ID>', 'g') AS clean
        |FROM documents""".stripMargin,

    // same injected corpus; the Luhn lambda doubles every even
    // 0-based index from the left (even length), exactly like the
    // engine's aggregate over digit positions
    "t_pii_detect" ->
      """WITH dirty AS (SELECT doc_id,
        |  text || ' reach user' || doc_id || '@mail.example.org or +44-20-'
        |    || lpad(CAST(doc_id AS VARCHAR), 7, '0')
        |    || CASE WHEN doc_id % 2 = 0 THEN ' from 10.1.2.3'
        |            ELSE ' from 999.288.1.300' END
        |    || CASE WHEN doc_id % 3 = 0 THEN ' card 4532015112830366'
        |            ELSE ' card 4532015112830367' END AS text
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT)
        |   AS n_emails,
        | CAST(len(regexp_extract_all(text,
        |   '\+[0-9][0-9-]{7,14}[0-9]')) AS INT) AS n_phones,
        | CAST(len(regexp_extract_all(text,
        |   '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b'))
        |   AS INT) AS n_ipv4,
        | CAST(len(list_filter(regexp_extract_all(text, '[0-9]+'),
        |   r -> len(r) = 16 AND list_sum(list_transform(range(0, 16),
        |     j -> CASE WHEN j % 2 = 0 THEN
        |       CASE WHEN 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) > 9
        |            THEN 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) - 9
        |            ELSE 2 * (ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48) END
        |       ELSE ascii(substring(r, CAST(j + 1 AS INT), 1)) - 48 END))
        |     % 10 = 0)) AS INT) AS n_cards
        |FROM dirty""".stripMargin,

    "t_repetition" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN text || ' ' || array_to_string(
        |    (string_split(text, ' '))[1:len(string_split(text, ' ')) // 2], ' ')
        |  ELSE text END AS text FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(tok) < 2 THEN []
        |       ELSE list_transform(range(1, len(tok)),
        |              i -> array_to_string(tok[i:i+1], ' ')) END AS s2,
        |  CASE WHEN len(tok) < 3 THEN []
        |       ELSE list_transform(range(1, len(tok) - 1),
        |              i -> array_to_string(tok[i:i+2], ' ')) END AS s3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM aug))
        |SELECT doc_id,
        | CASE WHEN len(s2) = 0 THEN 0.0 ELSE
        |   1.0 - CAST(len(list_distinct(s2)) AS DOUBLE)
        |       / CAST(len(s2) AS DOUBLE) END AS rep2,
        | CASE WHEN len(s3) = 0 THEN 0.0 ELSE
        |   1.0 - CAST(len(list_distinct(s3)) AS DOUBLE)
        |       / CAST(len(s3) AS DOUBLE) END AS rep3
        |FROM sh""".stripMargin,

    "t_seq_pack" ->
      s"""WITH base AS (SELECT doc_id, doc_id % 4 AS shard,
         |    len($tok) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM base)
         |SELECT doc_id, shard, (cum - n_tokens) // 512 AS pack_id, n_tokens
         |FROM c""".stripMargin,

    "t_shuffle_order" ->
      """SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |  ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR))) AS INT) AS pos
        |FROM documents""".stripMargin,

    "t_lang_margin" -> {
      val arr = s"list_sort([${scores.map(_._2).mkString(", ")}], 'DESC')"
      s"""WITH m AS (SELECT source,
         |    CAST(($arr)[1] AS BIGINT) AS best,
         |    CAST(($arr)[2] AS BIGINT) AS second
         |  FROM documents),
         |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN best = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_und,
         |    CAST(SUM(CASE WHEN best > 0 AND best - second <= 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_lowconf
         |  FROM m GROUP BY source)
         |SELECT source, n_docs, n_und, n_lowconf,
         |  CAST((n_und + n_lowconf) * 1000000 // n_docs AS BIGINT)
         |    AS route_ppm
         |FROM agg""".stripMargin
    },

    "t_hill_tail" ->
      s"""WITH ranked AS (SELECT doc_id,
         |    CAST(len($tok) AS BIGINT) AS x
         |  FROM documents ORDER BY x DESC, doc_id ASC LIMIT 21),
         |rn AS (SELECT x, CAST(ROW_NUMBER() OVER (
         |    ORDER BY x DESC, doc_id ASC) AS BIGINT) AS rn FROM ranked),
         |k1 AS (SELECT x AS xk1 FROM rn WHERE rn = 21),
         |terms AS (SELECT
         |    CAST(ROUND(LN(CAST(rn.x AS DOUBLE) / CAST(k1.xk1 AS DOUBLE)),
         |      9) AS DECIMAL(20,9)) AS t, k1.xk1
         |  FROM rn, k1 WHERE rn.rn <= 20),
         |agg AS (SELECT xk1, CAST(COUNT(*) AS BIGINT) AS k,
         |    SUM(t) AS s FROM terms GROUP BY xk1)
         |SELECT k, xk1, CAST(s AS DOUBLE) AS sum_ln,
         |  CAST(CASE WHEN s > 0 THEN ROUND(CAST(k AS DOUBLE) * 1000000
         |    / CAST(s AS DOUBLE), 0) ELSE 0 END AS BIGINT) AS alpha_e6
         |FROM agg""".stripMargin,

    "t_shuffle_decorrelation" ->
      """WITH p1 AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)))
        |    AS BIGINT) AS p1 FROM documents),
        |p2 AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('epoch2:' || CAST(doc_id AS VARCHAR)))
        |    AS BIGINT) AS p2 FROM documents),
        |dd AS (SELECT p1.p1 - p2.p2 AS d
        |  FROM p1 JOIN p2 USING (doc_id)),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(d * d AS DECIMAL(38,0))) AS s2d
        |  FROM dd),
        |cl AS (SELECT n, s2d,
        |    CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(n AS DOUBLE) AS den_d
        |  FROM agg)
        |SELECT n, CAST(s2d AS BIGINT) AS sum_d2,
        |  CAST(SIGN(den_d - 6.0 * CAST(s2d AS DOUBLE)) AS INT)
        |    AS rho_sign,
        |  CAST(ROUND(ABS(den_d - 6.0 * CAST(s2d AS DOUBLE))
        |    * 1000000000 / den_d, 0) AS BIGINT) AS rho_abs_e9
        |FROM cl""".stripMargin,

    "t_truncation_loss" ->
      s"""WITH d AS (SELECT CAST(len($tok) AS BIGINT) AS tc
         |  FROM documents),
         |x AS (SELECT CAST(UNNEST([32, 64, 128]) AS BIGINT) AS max_len),
         |agg AS (SELECT max_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN tc > max_len THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_over,
         |    CAST(SUM(tc) AS BIGINT) AS tokens_total,
         |    CAST(SUM(GREATEST(tc - max_len, 0)) AS BIGINT)
         |      AS tokens_lost
         |  FROM d CROSS JOIN x GROUP BY max_len)
         |SELECT max_len, n_docs, n_over, tokens_total, tokens_lost,
         |  CAST(tokens_lost * 1000000 // tokens_total AS BIGINT)
         |    AS lost_ppm
         |FROM agg""".stripMargin,

    "t_split_counts" ->
      s"""SELECT $splitCase AS split, COUNT(*) AS n
         |FROM (SELECT $md5Bucket AS bucket FROM documents)
         |GROUP BY 1""".stripMargin,

    // same 256-bucket assignment, but hashed on the family fingerprint
    // — the leak self-join must come back empty
    "t_split_by_cluster" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents),
         |b2 AS (SELECT doc_id, md5(text) AS fp FROM base),
         |sp AS MATERIALIZED (SELECT doc_id, fp, $splitCase AS split
         |  FROM (SELECT doc_id, fp,
         |      (strpos('0123456789abcdef',
         |        substring(md5(fp), 1, 1)) - 1) * 16
         |      + strpos('0123456789abcdef',
         |        substring(md5(fp), 2, 1)) - 1 AS bucket
         |    FROM b2)),
         |lk AS (SELECT COUNT(*) AS leaked_pairs FROM sp a JOIN sp b
         |  ON a.fp = b.fp AND a.doc_id < b.doc_id AND a.split <> b.split)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups,
         |  CAST(lk.leaked_pairs AS BIGINT) AS leaked_pairs
         |FROM sp, lk GROUP BY split, lk.leaked_pairs""".stripMargin,

    "t_ngram_freq" ->
      s"""WITH ng AS (SELECT unnest(
         |    CASE WHEN len($tok) < 2 THEN []
         |         ELSE list_transform(range(1, len($tok)),
         |                i -> array_to_string(($tok)[i:i+1], ' ')) END) AS ngram
         |  FROM documents)
         |SELECT ngram, count(*) AS n FROM ng GROUP BY ngram
         |ORDER BY n DESC, ngram ASC LIMIT 100""".stripMargin,

    // same fold-per-merge as Bpe.encodeExpr: acc and elements are both
    // LIST(VARCHAR) so list_reduce type-checks; the accumulator starts
    // as the first single-symbol list, matching Spark's empty-init
    // fold (the merge branch needs a preceding symbol either way)
    // Viterbi DP replayed with two recursive CTEs (forward scores,
    // backward reconstruction); the vocab scores ride as a one-row
    // LIST matched in pure list algebra (see t_wordpiece's note on
    // MATERIALIZED CTEs inside recursive terms), and every comparison
    // is over BIGINT fixed-point scores — max by (s, -l) mirrors the
    // engine's shorter-last-piece tie-break
    "t_unigram_viterbi" ->
      """WITH RECURSIVE wf AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |subs AS MATERIALIZED (SELECT sub, SUM(freq) AS w FROM (
        |    SELECT freq, unnest(list_distinct(flatten(list_transform(
        |      range(1, 9), l -> list_transform(
        |        range(1, len(word) - l + 2),
        |        i -> substring(word, CAST(i AS INT), CAST(l AS INT)))))))
        |      AS sub
        |    FROM wf) GROUP BY sub),
        |vocab AS MATERIALIZED (
        |  SELECT sub, w FROM subs WHERE len(sub) = 1
        |  UNION ALL
        |  SELECT sub, w FROM (SELECT sub, w FROM subs
        |    WHERE len(sub) >= 2
        |    ORDER BY w DESC, sub ASC LIMIT 200) t),
        |tot AS (SELECT SUM(w) AS wt FROM vocab),
        |sl AS MATERIALIZED (SELECT list(struct_pack(p := sub,
        |    s := CAST(round(ln(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE))
        |      * 1000000, 0) AS BIGINT)) ORDER BY sub) AS sl
        |  FROM vocab, tot),
        |dp AS (
        |  SELECT word, 0 AS j,
        |    [struct_pack(s := CAST(0 AS BIGINT), bp := 0)] AS d
        |  FROM wf
        |  UNION ALL
        |  SELECT word, j + 1 AS j,
        |    list_append(d, struct_pack(s := best.s, bp := best.bp)) AS d
        |  FROM (
        |    SELECT word, j, d,
        |      list_aggregate(list_filter(list_transform(
        |        range(1, CAST(least(8, j + 1) AS BIGINT) + 1),
        |        l -> struct_pack(
        |          s := d[CAST(j + 1 - l AS INT) + 1].s +
        |            list_filter(sl.sl, x -> x.p = substring(word,
        |              CAST(j + 1 - l + 1 AS INT), CAST(l AS INT)))[1].s,
        |          negl := -CAST(l AS INT),
        |          bp := CAST(l AS INT))),
        |        c -> c.s IS NOT NULL), 'max') AS best
        |    FROM dp, sl WHERE j < len(word)) t),
        |rec AS (
        |  SELECT word, d, len(d) - 1 AS pos, CAST([] AS VARCHAR[]) AS ps
        |  FROM dp WHERE j = len(word)
        |  UNION ALL
        |  SELECT word, d, pos - d[pos + 1].bp AS pos,
        |    list_prepend(substring(word, pos - d[pos + 1].bp + 1,
        |      d[pos + 1].bp), ps) AS ps
        |  FROM rec WHERE pos > 0)
        |SELECT wf.word, wf.freq, d[len(d)].s AS score_e6,
        |  CAST(len(ps) AS INT) AS n_pieces,
        |  array_to_string(ps, '|') AS enc
        |FROM rec JOIN wf USING (word)
        |WHERE pos = 0""".stripMargin,

    // forward-backward replayed as recursive CTEs: α and β build as
    // lists with the SAME left-fold + coalesce(·, 0.0) trees over
    // l = 1..8 (probabilities carried as a one-row LIST of structs —
    // the established anti-correlated-subquery discipline), expected
    // counts round-then-DECIMAL-sum, and a second forward recursion
    // under the M-step probabilities closes ll_post


    "t_unigram_em" ->
      (unigramEmCtes + """
        |SELECT pp.piece, CAST(v.w AS BIGINT) AS w,
        |  ROUND(CAST(pp.ec AS DOUBLE), 6) AS ecount,
        |  ROUND(CAST(pp.ec AS DOUBLE) / CAST(tc.c AS DOUBLE), 9) AS p_new,
        |  llp.ll_pre, llq.ll_post
        |FROM perpiece pp JOIN vocab v ON pp.piece = v.sub,
        |  totc tc, llp, llq""".stripMargin),

    // the prune step on top of the same machinery: char survivors +
    // top-160 multi-char by expected count, renormalized, and a THIRD
    // forward recursion under the pruned model for ll_pruned
    "t_unigram_prune" ->
      (unigramEmCtes + """,
        |surv AS MATERIALIZED (
        |  SELECT piece, ec FROM perpiece WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, ec FROM (SELECT piece, ec FROM perpiece
        |    WHERE len(piece) >= 2
        |    ORDER BY ec DESC, piece ASC LIMIT 160) t),
        |c3 AS (SELECT SUM(ec) AS c3 FROM surv),
        |np AS (SELECT (SELECT COUNT(*) FROM perpiece) - COUNT(*)
        |    AS n_pruned FROM surv),
        |pl3 AS MATERIALIZED (SELECT list(struct_pack(p := piece,
        |    pr := CAST(ec AS DOUBLE) / CAST(c3 AS DOUBLE))
        |    ORDER BY piece) AS pl FROM surv, c3),
        |fwd3 AS (
        |  SELECT word, freq, 0 AS j, [CAST(1.0 AS DOUBLE)] AS a FROM wf
        |  UNION ALL
        |  SELECT word, freq, j + 1 AS j,
        |    list_append(a, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 9), l ->
        |        CASE WHEN l <= j + 1 THEN COALESCE(
        |          a[CAST(j + 1 - l AS INT) + 1]
        |            * list_filter(pl3.pl, x -> x.p = substring(word,
        |                CAST(j + 1 - l + 1 AS INT), CAST(l AS INT)))[1].pr,
        |          CAST(0.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END)),
        |      (x, y) -> x + y)) AS a
        |  FROM fwd3, pl3 WHERE j < len(word)),
        |llr AS (SELECT ROUND(CAST(SUM(CAST(ROUND(CAST(freq AS DOUBLE)
        |    * ROUND(ln(a[len(word) + 1]), 9), 6) AS DECIMAL(28,6)))
        |    AS DOUBLE), 6) AS ll_pruned FROM fwd3 WHERE j = len(word))
        |SELECT s.piece, ROUND(CAST(s.ec AS DOUBLE), 6) AS ecount,
        |  ROUND(CAST(s.ec AS DOUBLE) / CAST(c3.c3 AS DOUBLE), 9)
        |    AS p_pruned,
        |  CAST(np.n_pruned AS INT) AS n_pruned,
        |  llq.ll_post AS ll_em, llr.ll_pruned
        |FROM surv s, c3, np, llq, llr""".stripMargin),

    // the same closed-form water-filling, windows over the source
    // table: integer cross-multiplied cap test under a running-AND
    // prefix, floor shares with largest-remainder top-up
    // the water-filling replayed in closed form: caps sorted, the
    // saturated prefix via the integer test, remainder split with
    // first-r top-up — every number exact
    "t_mix_plan" ->
      """WITH a AS (SELECT source,
        |    SUM(len(string_split(text, ' ')))
        |      * (1 + CAST(substr(source, 4) AS INT) % 3) AS available
        |  FROM documents GROUP BY source),
        |c AS (SELECT source, available, available * 2 AS cap FROM a),
        |t AS (SELECT SUM(cap) AS sc, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c),
        |b AS (SELECT (sc * 3) // 4 AS budget, n FROM t),
        |o AS (SELECT source, available, cap,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT)
        |      AS k,
        |    SUM(cap) OVER (ORDER BY cap, source
        |      ROWS UNBOUNDED PRECEDING) AS prefix
        |  FROM c),
        |sat AS (SELECT COALESCE(MAX(CASE WHEN prefix - cap
        |      + cap * (n - k + 1) <= budget THEN k END), 0) AS kstar
        |  FROM o CROSS JOIN b),
        |pk AS (SELECT COALESCE((SELECT prefix FROM o, sat
        |    WHERE o.k = sat.kstar), 0) AS pks),
        |f AS (SELECT o.source, o.available, o.cap,
        |    CASE WHEN o.k <= kstar THEN o.cap
        |      ELSE (budget - pks) // (n - kstar)
        |        + (CASE WHEN o.k - kstar <= (budget - pks) % (n - kstar)
        |           THEN 1 ELSE 0 END) END AS alloc,
        |    o.k <= kstar AS saturated
        |  FROM o CROSS JOIN b CROSS JOIN sat CROSS JOIN pk)
        |SELECT source, CAST(available AS BIGINT) AS available,
        |  CAST(cap AS BIGINT) AS cap, CAST(alloc AS BIGINT) AS alloc,
        |  CAST(alloc * 1000000 // available AS BIGINT)
        |    AS repetition_ppm, saturated
        |FROM f""".stripMargin,

    "t_mix_waterfall" ->
      """WITH d0 AS (SELECT source,
        |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      AS BIGINT) AS sz
        |  FROM documents GROUP BY source),
        |dom AS MATERIALIZED (SELECT source, sz,
        |    CAST(len(source) % 3 + 1 AS BIGINT) AS w FROM d0),
        |tot AS (SELECT SUM(sz) AS tot_sz, SUM(w) AS tot_w FROM dom),
        |cum AS MATERIALIZED (SELECT source, sz, w, tot_w,
        |    tot_sz * 6 // 10 AS budget,
        |    CAST(sz AS DOUBLE) / CAST(w AS DOUBLE) AS r,
        |    COALESCE(SUM(sz) OVER (
        |      ORDER BY CAST(sz AS DOUBLE) / CAST(w AS DOUBLE), source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS s_prev,
        |    COALESCE(SUM(w) OVER (
        |      ORDER BY CAST(sz AS DOUBLE) / CAST(w AS DOUBLE), source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS w_prev
        |  FROM dom, tot),
        |c2 AS MATERIALIZED (SELECT *,
        |    MIN(CASE WHEN sz * (tot_w - w_prev) <= (budget - s_prev) * w
        |             THEN 1 ELSE 0 END)
        |      OVER (ORDER BY r, source
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |      AS capped
        |  FROM cum),
        |caps AS (SELECT SUM(CASE WHEN capped THEN sz ELSE 0 END) AS s_k,
        |    SUM(CASE WHEN capped THEN w ELSE 0 END) AS w_cap FROM c2),
        |a0 AS MATERIALIZED (SELECT c2.*, s_k, tot_w - w_cap AS w_k,
        |    CASE WHEN capped THEN sz
        |         WHEN tot_w - w_cap > 0
        |           THEN (budget - s_k) * w // (tot_w - w_cap)
        |         ELSE 0 END AS base,
        |    CASE WHEN capped OR tot_w - w_cap = 0 THEN 0
        |         ELSE (budget - s_k) * w % (tot_w - w_cap) END AS rem
        |  FROM c2, caps),
        |lo AS (SELECT CAST(MAX(CASE WHEN NOT capped THEN budget - s_k
        |    END) AS BIGINT)
        |    - SUM(CASE WHEN NOT capped THEN base ELSE 0 END) AS l
        |  FROM a0),
        |rk AS (SELECT a0.*, ROW_NUMBER() OVER (
        |    ORDER BY capped ASC, rem DESC, source ASC) AS rn FROM a0)
        |SELECT source, sz, w, capped,
        |  CAST(base + CASE WHEN NOT capped AND rn <= COALESCE(l, 0)
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk, lo""".stripMargin,

    // both segmenters replayed over ONE shared induction (the 1..8
    // substring table serves both: wordpiece's len-2..8 weighting is
    // unchanged by also generating the len-1 rows), then the weighted
    // fertility aggregate in exact integers
    "t_tokenizer_eval" ->
      """WITH RECURSIVE wf AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |subs AS MATERIALIZED (SELECT sub, SUM(freq) AS w FROM (
        |    SELECT freq, unnest(list_distinct(flatten(list_transform(
        |      range(1, 9), l -> list_transform(
        |        range(1, len(word) - l + 2),
        |        i -> substring(word, CAST(i AS INT), CAST(l AS INT)))))))
        |      AS sub
        |    FROM wf) GROUP BY sub),
        |top200 AS MATERIALIZED (SELECT sub, w FROM subs
        |  WHERE len(sub) >= 2 ORDER BY w DESC, sub ASC LIMIT 200),
        |wvl AS MATERIALIZED (SELECT list(sub ORDER BY sub) AS vl
        |  FROM top200),
        |uvocab AS MATERIALIZED (
        |  SELECT sub, w FROM subs WHERE len(sub) = 1
        |  UNION ALL SELECT sub, w FROM top200),
        |utot AS (SELECT SUM(w) AS wt FROM uvocab),
        |usl AS MATERIALIZED (SELECT list(struct_pack(p := sub,
        |    s := CAST(round(ln(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE))
        |      * 1000000, 0) AS BIGINT)) ORDER BY sub) AS sl
        |  FROM uvocab, utot),
        |wstep AS (
        |  SELECT word, word AS rest, 0 AS np FROM wf
        |  UNION ALL
        |  SELECT word, substring(rest, pl + 1) AS rest, np + 1 AS np
        |  FROM (SELECT word, rest, np,
        |      CAST(COALESCE(list_max(list_transform(
        |        list_filter(wvl.vl, p -> p = substring(rest, 1, len(p))),
        |        p -> len(p))), 1) AS INT) AS pl
        |    FROM wstep, wvl WHERE rest <> '') s),
        |dp AS (
        |  SELECT word, 0 AS j,
        |    [struct_pack(s := CAST(0 AS BIGINT), bp := 0)] AS d
        |  FROM wf
        |  UNION ALL
        |  SELECT word, j + 1 AS j,
        |    list_append(d, struct_pack(s := best.s, bp := best.bp)) AS d
        |  FROM (
        |    SELECT word, j, d,
        |      list_aggregate(list_filter(list_transform(
        |        range(1, CAST(least(8, j + 1) AS BIGINT) + 1),
        |        l -> struct_pack(
        |          s := d[CAST(j + 1 - l AS INT) + 1].s +
        |            list_filter(usl.sl, x -> x.p = substring(word,
        |              CAST(j + 1 - l + 1 AS INT), CAST(l AS INT)))[1].s,
        |          negl := -CAST(l AS INT),
        |          bp := CAST(l AS INT))),
        |        c -> c.s IS NOT NULL), 'max') AS best
        |    FROM dp, usl WHERE j < len(word)) t),
        |urec AS (
        |  SELECT word, d, len(d) - 1 AS pos, 0 AS np
        |  FROM dp WHERE j = len(word)
        |  UNION ALL
        |  SELECT word, d, pos - d[pos + 1].bp AS pos, np + 1 AS np
        |  FROM urec WHERE pos > 0),
        |pieces AS (
        |  SELECT 'wordpiece' AS tokenizer, word, CAST(np AS BIGINT)
        |    AS n_pieces FROM wstep WHERE rest = ''
        |  UNION ALL
        |  SELECT 'unigram', word, CAST(np AS BIGINT) FROM urec
        |  WHERE pos = 0
        |  UNION ALL
        |  SELECT 'chars', word, CAST(len(word) AS BIGINT) FROM wf)
        |SELECT tokenizer, CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(freq) AS BIGINT) AS w_words,
        |  CAST(SUM(freq * n_pieces) AS BIGINT) AS w_pieces,
        |  CAST(SUM(freq * n_pieces) AS BIGINT) * 1000000
        |    // CAST(SUM(freq) AS BIGINT) AS fertility_ppm
        |FROM pieces JOIN wf USING (word)
        |GROUP BY tokenizer""".stripMargin,

    // the repair's fixed point in closed form: even docs get the CLEAN
    // suffix back, odd docs pass through; repaired flags exactly the
    // injected half (the corpus text itself is ASCII)
    "t_mojibake" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN text || ' café naïve résumé'
        |       ELSE text END AS clean,
        |  doc_id % 2 = 0 AS repaired
        |FROM documents""".stripMargin,

    // the same per-row histogram + fixed-order fold, in list algebra
    "t_char_entropy" ->
      """WITH cx AS (SELECT doc_id, len(text) AS L,
        |    unnest(list_transform(range(1, len(text) + 1),
        |      i -> substring(text, CAST(i AS INT), 1))) AS c
        |  FROM documents),
        |cnts AS (SELECT doc_id, L, c, COUNT(*) AS cnt
        |  FROM cx GROUP BY doc_id, L, c)
        |SELECT doc_id, CAST(MAX(L) AS BIGINT) AS n_chars,
        |  CAST(COUNT(*) AS INT) AS n_distinct,
        |  ROUND(-CAST(SUM(CAST(ROUND(
        |    (CAST(cnt AS DOUBLE) / CAST(L AS DOUBLE))
        |    * ROUND(ln(CAST(cnt AS DOUBLE) / CAST(L AS DOUBLE)), 9),
        |    12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS entropy
        |FROM cnts GROUP BY doc_id""".stripMargin,

    // the census recomputed with RE2's script classes over the same
    // injected runs (Java \p{IsX} and RE2 \p{X} agree on these)
    "t_script_census" ->
      """WITH dirty AS (SELECT doc_id, text ||
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN ' привет мир'
        |    WHEN 1 THEN ' 漢字漢'
        |    ELSE ' αβγ' END AS d
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  length(d) - length(regexp_replace(d, '[\p{Latin}]', '', 'g'))
        |    AS n_latin,
        |  length(d) - length(regexp_replace(d, '[\p{Cyrillic}]', '', 'g'))
        |    AS n_cyrillic,
        |  length(d) - length(regexp_replace(d, '[\p{Han}]', '', 'g'))
        |    AS n_han,
        |  length(d) - length(regexp_replace(d, '[\p{Greek}]', '', 'g'))
        |    AS n_greek
        |  FROM dirty)
        |SELECT doc_id, n_latin, n_cyrillic, n_han, n_greek,
        |  CASE
        |    WHEN n_latin >= n_cyrillic AND n_latin >= n_han
        |      AND n_latin >= n_greek AND n_latin > 0 THEN 'latin'
        |    WHEN n_cyrillic >= n_han AND n_cyrillic >= n_greek
        |      AND n_cyrillic > 0 THEN 'cyrillic'
        |    WHEN n_han >= n_greek AND n_han > 0 THEN 'han'
        |    WHEN n_greek > 0 THEN 'greek'
        |    ELSE 'none' END AS dominant
        |FROM c""".stripMargin,

    // the sanitizer's fixed point in closed form: invisibles vanish,
    // typography normalizes, the %4=3 stratum passes untouched
    "t_sanitize" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN text || ' "quoted"tail'
        |    WHEN 1 THEN text || ' a-b c'
        |    WHEN 2 THEN text || ' ellipsis...'
        |    ELSE text END AS clean,
        |  doc_id % 4 <> 3 AS changed
        |FROM documents""".stripMargin,

    // the extraction's fixed point in closed form: title + heading
    // (with &amp; decoded) + the body text recovered from its &#32;
    // encoding + the nbsp/br tail + the CDATA content surfacing
    // literally; style/script/comment and the quoted a>b attribute
    // leave no trace (the corpus text is single-spaced [a-z0-9 .,])
    "t_html_extract" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text
        |    || ' tail words line2 cdata <raw> text' AS clean,
        |  CAST(len(string_split('Doc ' || doc_id || ' Heading & '
        |    || doc_id || ' ' || text
        |    || ' tail words line2 cdata <raw> text', ' ')) AS INT)
        |    AS n_tokens
        |FROM documents""".stripMargin,

    // exactly the three live links per document, in order; the
    // comment/script decoys and the href-less anchor contribute none
    "t_html_links" ->
      """SELECT doc_id, CAST(i AS INT) AS ord,
        |  (['https://ex.org/d/' || doc_id || '?a=1&b=2',
        |    '/rel/' || doc_id, 'plain' || doc_id])[CAST(i + 1 AS INT)]
        |    AS href
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS i)""".stripMargin,

    // the seven live refs per document in order, each resolved against
    // the FIRST base (second base ignored, stylesheet link ignored,
    // comment/script decoys contribute none): root-relative takes
    // scheme://authority, protocol-relative takes the scheme,
    // dir-relative appends to /a/b/, fragment-only resolves to the
    // base as written, absolute passes through — no case/port
    // normalization at this layer (that is canonicalize's job)
    "t_html_refs" ->
      """SELECT doc_id, CAST(i AS INT) AS ord,
        |  (['canonical', 'a', 'a', 'a', 'a', 'a', 'img'])
        |    [CAST(i + 1 AS INT)] AS kind,
        |  (['https://EX.org:443/canon/' || doc_id,
        |    'https://other.net/abs/' || doc_id,
        |    'https://cdn.ex.org/p/' || doc_id,
        |    'https://EX.org:443/a/b/rel/' || doc_id,
        |    'https://EX.org:443/root/' || doc_id || '?a=1&b=2',
        |    'https://EX.org:443/a/b/page.html?x=1',
        |    'https://EX.org:443/a/b/img/' || doc_id || '.jpg'])
        |    [CAST(i + 1 AS INT)] AS url
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 7)) AS i)""".stripMargin,

    // the seven cells per document in closed form: two header cells,
    // the inline-tag boundary collapse, the implied close, the script
    // decoy's fake <td> never opening a cell, and the second table
    // the cells in closed form; table 2's spanned grid pins the HTML5
    // column assignment (the colspan-2 header lands 'unit' at tc 2;
    // the rowspan-2 'tall' shifts row 2's cells to tc 1 and 2)
    "t_html_tables" ->
      """SELECT doc_id, CAST(i AS INT) AS ord,
        |  ([0,0,0,0,0,0,1,2,2,2,2,2,2,2])[CAST(i + 1 AS INT)] AS tbl,
        |  ([0,0,1,1,2,2,0,0,0,1,1,1,2,2])[CAST(i + 1 AS INT)] AS tr,
        |  ([0,1,0,1,0,1,0,0,2,0,1,2,1,2])[CAST(i + 1 AS INT)] AS tc,
        |  ([true,true,false,false,false,false,false,
        |    true,true,false,false,false,false,false])
        |    [CAST(i + 1 AS INT)] AS header,
        |  (['name', 'value & unit', 'alpha ' || doc_id,
        |    'v ' || doc_id || ' x', 'beta', CAST(doc_id AS VARCHAR),
        |    'second ' || doc_id,
        |    'wide', 'unit', 'tall ' || doc_id, 'm1', 'n1', 'm2',
        |    'n2 ' || doc_id])[CAST(i + 1 AS INT)] AS text
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 14)) AS i)"""
        .stripMargin,

    // the linearized rows in closed form: tbl0's two data rows carry
    // their headers, tbl1's headerless row falls back to col0, tbl2's
    // span-shifted cells key to 'wide'/'unit' at their FORMED columns
    // (the span-covered col 1 has no header -> positional fallback)
    "t_table_linearize" ->
      """SELECT doc_id, ([0, 0, 1, 2, 2])[CAST(i + 1 AS INT)] AS tbl,
        |  ([1, 2, 0, 1, 2])[CAST(i + 1 AS INT)] AS tr,
        |  (['name: alpha ' || doc_id
        |      || ' | value & unit: v ' || doc_id || ' x',
        |    'name: beta | value & unit: ' || doc_id,
        |    'col0: second ' || doc_id,
        |    'wide: tall ' || doc_id || ' | col1: m1 | unit: n1',
        |    'col1: m2 | unit: n2 ' || doc_id])[CAST(i + 1 AS INT)]
        |    AS line
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 5)) AS i)"""
        .stripMargin,

    // the outline in closed form: four headings per page (h2 'Sec two'
    // closes implicitly at the h3 open)
    "t_html_outline" ->
      """SELECT doc_id, CAST(i AS INT) AS ord,
        |  ([1, 2, 2, 3])[CAST(i + 1 AS INT)] AS level,
        |  (['Title ' || doc_id, 'Sec & one', 'Sec two',
        |    'Deep ' || doc_id])[CAST(i + 1 AS INT)] AS text
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i)"""
        .stripMargin,

    // the lists in closed form: ul#0's three items (gamma closes at
    // the nested list open), the nested ul#1 at depth 2, ol#2's two
    // ordered items; the stray li and the comment contribute nothing
    "t_html_lists" ->
      """SELECT doc_id, CAST(i AS INT) AS ord,
        |  ([0, 0, 0, 1, 2, 2])[CAST(i + 1 AS INT)] AS lst,
        |  ([0, 1, 2, 0, 0, 1])[CAST(i + 1 AS INT)] AS item,
        |  ([1, 1, 1, 2, 1, 1])[CAST(i + 1 AS INT)] AS depth,
        |  ([false, false, false, false, true, true])
        |    [CAST(i + 1 AS INT)] AS ordered,
        |  (['alpha ' || doc_id, 'beta & co', 'gamma',
        |    'nested ' || doc_id, 'first', 'second ' || doc_id])
        |    [CAST(i + 1 AS INT)] AS text
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 6)) AS i)"""
        .stripMargin,

    // the five sections per page in closed form: preamble (level 0),
    // h1 with its lead, two h2s, and the h3 under the second h2; the
    // ancestor path fills from the latest heading at each level
    "t_section_chunks" ->
      """SELECT doc_id, CAST(i AS INT) AS sec,
        |  ([0, 1, 2, 2, 3])[CAST(i + 1 AS INT)] AS level,
        |  CASE WHEN i >= 1 THEN 'Title ' || doc_id END AS h1,
        |  ([NULL, NULL, 'Sec & one', 'Sec two', 'Sec two'])
        |    [CAST(i + 1 AS INT)] AS h2,
        |  (['', 'Title ' || doc_id, 'Sec & one', 'Sec two', 'Deep'])
        |    [CAST(i + 1 AS INT)] AS heading,
        |  (['intro text', 'lead para', 'alpha body ' || doc_id,
        |    'tail text', 'deep body'])[CAST(i + 1 AS INT)] AS body
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 5)) AS i)"""
        .stripMargin,

    // the declared metadata in closed form: description + og:title on
    // every page (entity decoded), robots on the %6 stratum; the
    // attribute-less and commented decoys contribute nothing
    "t_html_meta" ->
      """SELECT doc_id, 0 AS ord, 'description' AS name,
        |  'doc ' || doc_id || ' summary' AS content FROM documents
        |UNION ALL SELECT doc_id, 1, 'og:title', 'Doc & ' || doc_id
        |FROM documents
        |UNION ALL SELECT doc_id, 2, 'robots', 'noindex, nofollow'
        |FROM documents WHERE doc_id % 6 = 0""".stripMargin,

    // the per-page politeness flags in closed form: %6==0 pages carry
    // both directives (case-blind), %6==3 only nofollow (trimmed),
    // nofollow zeroes the followable outlinks
    "f_noindex_screen" ->
      """SELECT doc_id, doc_id % 6 = 0 AS noindex,
        |  (doc_id % 6 = 0 OR doc_id % 6 = 3) AS nofollow,
        |  2 AS n_links,
        |  CASE WHEN doc_id % 6 = 0 OR doc_id % 6 = 3 THEN 0 ELSE 2 END
        |    AS n_follow
        |FROM documents""".stripMargin,

    // the composed schedule in closed form: per the generated robots
    // policy, graft-override hosts (host%3==0) block /d/ and declare
    // Crawl-delay 5, everyone else blocks /p/ (no wave url carries the
    // /p/open carve-out) at the `*` group's Crawl-delay 2; rank among
    // the allowed urls only, makespan from the PARSED delay
    "f_fetch_schedule" ->
      """WITH wave AS (
        |  SELECT doc_id % 10 AS host,
        |    'https://ex' || (doc_id % 10) || '.org/p/' || doc_id AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT (doc_id + 1) % 10,
        |    'https://ex' || ((doc_id + 1) % 10) || '.org/d/'
        |      || (doc_id + 1)
        |  FROM documents WHERE doc_id + 1 >= 300),
        |g AS (SELECT host, url,
        |    CASE WHEN host % 3 = 0 THEN url LIKE '%.org/p/%'
        |         ELSE url LIKE '%.org/d/%' END AS ok
        |  FROM wave),
        |r AS (SELECT host, url, ok, ROW_NUMBER() OVER (
        |    PARTITION BY host, ok
        |    ORDER BY md5(url) ASC, url ASC) AS rk FROM g)
        |SELECT host,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_blocked,
        |  CAST(CASE WHEN host % 3 = 0 THEN 5000 ELSE 2000 END AS BIGINT)
        |    AS delay_ms,
        |  GREATEST(CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |      - 1, 0) *
        |    CAST(CASE WHEN host % 3 = 0 THEN 5000 ELSE 2000 END AS BIGINT)
        |    AS makespan_ms,
        |  MIN(CASE WHEN ok AND rk = 1 THEN url END) AS first_url
        |FROM r GROUP BY host""".stripMargin,

    // the per-url queue in closed form: allowed set per the policy
    // (graft hosts keep /p/, others keep /d/), md5-rank slots, offsets
    // from the parsed delay
    "f_fetch_slots" ->
      """WITH wave AS (
        |  SELECT doc_id % 10 AS host,
        |    'https://ex' || (doc_id % 10) || '.org/p/' || doc_id AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT (doc_id + 1) % 10,
        |    'https://ex' || ((doc_id + 1) % 10) || '.org/d/'
        |      || (doc_id + 1)
        |  FROM documents WHERE doc_id + 1 >= 300),
        |a AS (SELECT host, url FROM wave
        |  WHERE CASE WHEN host % 3 = 0 THEN url LIKE '%.org/p/%'
        |             ELSE url LIKE '%.org/d/%' END)
        |SELECT host, url,
        |  ROW_NUMBER() OVER (PARTITION BY host
        |    ORDER BY md5(url) ASC, url ASC) AS rank,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY host
        |    ORDER BY md5(url) ASC, url ASC) - 1)
        |    * CASE WHEN host % 3 = 0 THEN 5000 ELSE 2000 END AS BIGINT)
        |    AS fetch_at_ms
        |FROM a""".stripMargin,

    // the adaptive delays in closed form: the same integer EMA fold
    // (list_reduce seeds with the first element, exactly the engine's
    // vs[0] seed), clamped between the declared floor and the cap
    "f_adaptive_delay" ->
      """WITH obs AS (SELECT doc_id % 10 AS host, doc_id,
        |    CAST(100 + (doc_id * 37) % 400 AS BIGINT) AS lat
        |  FROM documents WHERE doc_id < 300),
        |s AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    list(lat ORDER BY doc_id) AS vs
        |  FROM obs GROUP BY host),
        |e AS (SELECT host, n_obs,
        |    CAST(list_reduce(vs,
        |      (acc, x) -> (3 * x + 7 * acc) // 10) AS BIGINT) AS ema_ms
        |  FROM s)
        |SELECT host, n_obs, ema_ms,
        |  CAST(CASE WHEN host % 3 = 0 THEN 5000 ELSE 2000 END AS BIGINT)
        |    AS floor_ms,
        |  LEAST(GREATEST(3 * ema_ms,
        |    CAST(CASE WHEN host % 3 = 0 THEN 5000 ELSE 2000 END
        |      AS BIGINT)), 10000) AS adaptive_delay_ms
        |FROM e""".stripMargin,

    // the robots decision in closed form per the generated policy:
    // graft-override hosts block /d/ only; everyone else blocks /p/
    // except the /p/open carve-out (longest match, allow wins ties)
    "f_robots_gate" ->
      """WITH c AS (SELECT doc_id % 10 AS host,
        |    unnest(['/d/' || doc_id, '/p/' || doc_id,
        |            '/p/open' || doc_id]) AS path
        |  FROM documents),
        |dec AS (SELECT host, path,
        |    CASE WHEN host % 3 = 0 THEN NOT starts_with(path, '/d/')
        |         ELSE NOT (starts_with(path, '/p/')
        |                   AND NOT starts_with(path, '/p/open'))
        |    END AS ok FROM c)
        |SELECT host,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_blocked,
        |  MIN(CASE WHEN NOT ok THEN path END) AS first_blocked,
        |  CAST(CASE WHEN host % 3 = 0 THEN 5 ELSE 2 END AS BIGINT)
        |    AS delay_s
        |FROM dec GROUP BY host""".stripMargin,

    // the trap report in closed form: /d/ pages collapse to one
    // template per host; host 7's calendar urls (params sort under
    // canonicalization: m before y) collapse to one exploding
    // template
    "f_trap_report" ->
      """WITH u AS (
        |  SELECT 'ex' || (doc_id % 10) || '.org' AS host,
        |    '/d/#' AS template
        |  FROM documents
        |  UNION ALL
        |  SELECT 'ex7.org', '/cal?m=#&y=#'
        |  FROM documents WHERE doc_id % 10 = 7)
        |SELECT host, template, CAST(COUNT(*) AS BIGINT) AS n_urls
        |FROM u GROUP BY host, template""".stripMargin,

    // trap ENFORCEMENT in closed form: per host, the fetch-eligible
    // /d/ urls (new and not robots-blocked: id>=300 on h%3<>0 hosts)
    // cap at 5; host 7's calendar template (all eligible) caps at 5;
    // identities = one /d/ url per doc + one cal url per host-7 doc
    "f_trap_gate" ->
      """WITH b AS (SELECT doc_id % 10 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(CASE WHEN doc_id >= 300 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM documents GROUP BY 1),
        |d AS (SELECT h, nd,
        |    CASE WHEN h % 3 = 0 THEN 0 ELSE n_new END AS f0 FROM b)
        |SELECT 'ex' || h || '.org' AS host,
        |  CAST(nd + CASE WHEN h = 7 THEN nd ELSE 0 END AS BIGINT)
        |    AS n_urls,
        |  CAST(LEAST(f0, 5)
        |    + CASE WHEN h = 7 THEN LEAST(nd, 5) ELSE 0 END
        |    AS BIGINT) AS n_fetch,
        |  CAST(GREATEST(f0 - 5, 0)
        |    + CASE WHEN h = 7 THEN GREATEST(nd - 5, 0) ELSE 0 END
        |    AS BIGINT) AS n_capped
        |FROM d""".stripMargin,

    // the robots cache in closed form: the Jan-(h+2) refetch wins
    // per host, its age at Feb-1 is (30-h) days, and only h=9 (age
    // 504 h exactly, not strictly past the TTL) is still fresh
    "f_robots_cache" ->
      """WITH h AS (SELECT DISTINCT doc_id % 10 AS h FROM documents)
        |SELECT 'ex' || h || '.org' AS host,
        |  'new-' || h AS txt,
        |  CAST(DATE '2024-01-02' + CAST(h AS INT) AS DATE)
        |    AS fetched_day,
        |  CAST((30 - h) * 24 AS BIGINT) AS age_h,
        |  (30 - h) * 24 > 504 AS stale
        |FROM h""".stripMargin,

    // the priority votes in closed form: the hub of host h collects
    // one vote per CRAWLED doc of h; /d/(id+1) gets one vote when its
    // linker id was crawled; edges from uncrawled pages drop, so
    // next-pages of id>=300 ride at priority 0
    "f_frontier_priority" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |du AS (SELECT (id + 1) % 10 AS h,
        |    CAST(CASE WHEN id < 300 THEN 1 ELSE 0 END AS BIGINT)
        |      AS priority,
        |    id + 1 < 300 AS known
        |  FROM ids),
        |hub AS (SELECT id % 10 AS h,
        |    CAST(SUM(CASE WHEN id < 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS priority,
        |    false AS known
        |  FROM ids GROUP BY 1),
        |u AS (SELECT h, priority, known FROM du
        |  UNION ALL SELECT h, priority, known FROM hub)
        |SELECT 'ex' || h || '.org' AS host,
        |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(priority) AS BIGINT) AS total_votes,
        |  CAST(MAX(priority) AS BIGINT) AS max_votes,
        |  CAST(SUM(CASE WHEN known THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_known,
        |  CAST(SUM(CASE WHEN priority = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hearsay
        |FROM u GROUP BY h""".stripMargin,

    // the priority budget replayed with the SAME window: per host the
    // eligible set is the hub (a whole host's crawled votes) + the
    // never-crawled /d/ pages (one vote only for /d/300 — its linker
    // 299 was crawled); top-5 by (priority desc, url), hub always
    // first; robots still blocks /d/ picks on h%3=0 hosts
    "f_priority_budget" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |c3 AS (SELECT id % 10 AS h,
        |    CAST(SUM(CASE WHEN id < 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS votes
        |  FROM ids GROUP BY 1),
        |cand AS (
        |  SELECT (id + 1) % 10 AS h,
        |    'https://ex' || ((id + 1) % 10) || '.org/d/' || (id + 1)
        |      AS url,
        |    CAST(CASE WHEN id < 300 THEN 1 ELSE 0 END AS BIGINT)
        |      AS priority,
        |    true AS is_d
        |  FROM ids WHERE id + 1 >= 300
        |  UNION ALL
        |  SELECT h, 'https://ex' || h || '.org/hub', votes, false
        |  FROM c3),
        |e AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h
        |    ORDER BY priority DESC, url ASC) AS rk
        |  FROM cand),
        |sel AS (SELECT * FROM e WHERE rk <= 5)
        |SELECT 'ex' || h || '.org' AS host,
        |  CAST(COUNT(*) AS BIGINT) AS n_selected,
        |  CAST(SUM(CASE WHEN NOT is_d OR h % 3 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fetched,
        |  CAST(SUM(priority) AS BIGINT) AS n_votes_sel,
        |  MIN(CASE WHEN rk = 1 THEN url END) AS top_url
        |FROM sel GROUP BY h""".stripMargin,

    // the drain estimate in closed form: the fetch set per host is
    // every /q/ page plus (on non-override hosts) the new /d/ pages;
    // slots pace at the parsed Crawl-delay (5 s override, 2 s base)
    "f_wave_eta" ->
      """WITH b AS (SELECT doc_id % 10 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(CASE WHEN doc_id >= 300 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM documents GROUP BY 1),
        |f AS (SELECT h,
        |    CASE WHEN h % 3 = 0 THEN nd ELSE nd + n_new END AS n_fetch,
        |    CASE WHEN h % 3 = 0 THEN 5000 ELSE 2000 END AS delay_ms
        |  FROM b)
        |SELECT 'ex' || h || '.org' AS host,
        |  CAST(n_fetch AS BIGINT) AS n_fetch,
        |  CAST((n_fetch - 1) * delay_ms AS BIGINT) AS last_slot_ms,
        |  (n_fetch - 1) * delay_ms <= 2500000 AS drains
        |FROM f""".stripMargin,

    // the frontier in closed form: the three 'a' links canonicalize to
    // two urls (the cased/ported variant collapses onto the protocol-
    // relative one, tracking param and fragment vanish), /p/ pages are
    // always new, /d/ pages are known when the target id was crawled
    "f_frontier" ->
      """WITH cand AS (SELECT DISTINCT url FROM (
        |    SELECT 'https://ex' || ((doc_id + 1) % 10) || '.org/d/'
        |      || (doc_id + 1) AS url FROM documents
        |    UNION ALL SELECT 'https://ex' || (doc_id % 10) || '.org/p/'
        |      || doc_id FROM documents
        |    UNION ALL SELECT 'https://ex' || ((doc_id + 1) % 10)
        |      || '.org/d/' || (doc_id + 1) FROM documents)),
        |crawled AS (SELECT 'https://ex' || (doc_id % 10) || '.org/d/'
        |    || doc_id AS url FROM documents WHERE doc_id < 300),
        |j AS (SELECT c.url, cr.url IS NOT NULL AS known
        |  FROM cand c LEFT JOIN crawled cr ON c.url = cr.url)
        |SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
        |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new
        |FROM j GROUP BY host""".stripMargin,

    // pipeline D replayed in closed form: wave-0 candidates are every
    // page's /d/ next link + /p/ alias (aliases collapse to chain
    // heads 4*(id//4)); the seen set is the crawled /d/ pages
    // (id<300); robots block /d/ on graft-override hosts (h%3=0) and
    // /p/ elsewhere; wave-0's fetches join the seen set for wave-1,
    // which adds the always-allowed /q/ section
    "a_pipeline_crawl" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |seen0 AS (SELECT DISTINCT
        |    'https://ex' || (id % 10) || '.org/d/' || id AS url
        |  FROM ids WHERE id < 300),
        |m0 AS (
        |  SELECT DISTINCT
        |    'https://ex' || ((id + 1) % 10) || '.org/d/' || (id + 1)
        |      AS url,
        |    'https://ex' || ((id + 1) % 10) || '.org/d/' || (id + 1)
        |      AS final,
        |    (id + 1) % 10 AS fh, 'd' AS kind
        |  FROM ids
        |  UNION
        |  SELECT DISTINCT
        |    'https://ex' || ((id // 4) % 10) || '.org/p/' || id,
        |    'https://ex' || ((id // 4) % 10) || '.org/p/'
        |      || (4 * (id // 4)),
        |    (id // 4) % 10, 'p'
        |  FROM ids),
        |mq AS (SELECT DISTINCT
        |    'https://ex' || (id % 10) || '.org/q/' || id AS url,
        |    'https://ex' || (id % 10) || '.org/q/' || id AS final,
        |    id % 10 AS fh, 'q' AS kind
        |  FROM ids),
        |m1 AS (SELECT * FROM m0 UNION SELECT * FROM mq),
        |idf AS (SELECT DISTINCT final, fh, kind FROM m1),
        |dec AS (SELECT final AS url, fh, kind,
        |    final IN (SELECT url FROM seen0) AS known0,
        |    CASE WHEN fh % 3 = 0 THEN kind <> 'd'
        |         ELSE kind <> 'p' END AS allowed
        |  FROM idf),
        |f0 AS (SELECT url FROM dec
        |  WHERE kind <> 'q' AND NOT known0 AND allowed),
        |s0 AS (
        |  SELECT 'candidates' AS stage, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM m0
        |  UNION ALL SELECT 'aliased', CAST(SUM(CASE WHEN url <> final
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM m0
        |  UNION ALL SELECT 'identities', CAST(COUNT(*) AS BIGINT)
        |    FROM dec WHERE kind <> 'q'
        |  UNION ALL SELECT 'known', CAST(SUM(CASE WHEN known0
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM dec WHERE kind <> 'q'
        |  UNION ALL SELECT 'new', CAST(SUM(CASE WHEN NOT known0
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM dec WHERE kind <> 'q'
        |  UNION ALL SELECT 'blocked', CAST(SUM(CASE WHEN NOT known0
        |    AND NOT allowed THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM dec WHERE kind <> 'q'
        |  UNION ALL SELECT 'fetched', CAST(COUNT(*) AS BIGINT) FROM f0),
        |w1 AS (SELECT url, fh, kind, allowed,
        |    known0 OR url IN (SELECT url FROM f0) AS known
        |  FROM dec),
        |s1 AS (
        |  SELECT 'candidates' AS stage, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM m1
        |  UNION ALL SELECT 'aliased', CAST(SUM(CASE WHEN url <> final
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM m1
        |  UNION ALL SELECT 'identities', CAST(COUNT(*) AS BIGINT)
        |    FROM w1
        |  UNION ALL SELECT 'known', CAST(SUM(CASE WHEN known
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM w1
        |  UNION ALL SELECT 'new', CAST(SUM(CASE WHEN NOT known
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM w1
        |  UNION ALL SELECT 'blocked', CAST(SUM(CASE WHEN NOT known
        |    AND NOT allowed THEN 1 ELSE 0 END) AS BIGINT) FROM w1
        |  UNION ALL SELECT 'fetched', CAST(SUM(CASE WHEN NOT known
        |    AND allowed THEN 1 ELSE 0 END) AS BIGINT) FROM w1)
        |SELECT 'wave-0' AS run_id, stage, n, CAST(1 AS BIGINT) AS seq
        |  FROM s0
        |UNION ALL SELECT 'wave-1' AS run_id, stage, n,
        |  CAST(2 AS BIGINT) AS seq FROM s1"""
        .stripMargin,

    // the sitemap-discovery wave in closed form: the declared set is
    // every host's /d/ urls + its one extra; /d/ urls of crawled docs
    // (id<300) screen known, new /d/ urls block on graft-override
    // hosts (h%3=0), extras always fetch; no aliases in a sitemap
    // feed
    "a_pipeline_sitemap" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id % 10 AS h
        |  FROM documents),
        |nh AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS nh
        |  FROM ids),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN id < 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_known,
        |    CAST(SUM(CASE WHEN id >= 300 AND h % 3 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
        |  FROM ids),
        |f AS (
        |  SELECT 'candidates' AS stage, n_docs + nh AS n FROM m, nh
        |  UNION ALL SELECT 'aliased', 0 FROM m
        |  UNION ALL SELECT 'identities', n_docs + nh FROM m, nh
        |  UNION ALL SELECT 'known', n_known FROM m
        |  UNION ALL SELECT 'new', n_docs + nh - n_known FROM m, nh
        |  UNION ALL SELECT 'blocked', n_blocked FROM m
        |  UNION ALL SELECT 'fetched',
        |    n_docs + nh - n_known - n_blocked FROM m, nh)
        |SELECT 'sitemap-0' AS run_id, stage, CAST(n AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS seq
        |FROM f""".stripMargin,

    // the sitemap chain in closed form: each host declares one
    // sitemap.xml, its locs are the host's /d/ urls (known when the
    // doc was crawled, i.e. doc_id < 300) plus one new parameterized
    // extra whose &amp; decodes and whose params sort canonically
    "f_sitemap_feed" ->
      """WITH hosts AS (SELECT DISTINCT doc_id % 10 AS h FROM documents),
        |u AS (SELECT doc_id % 10 AS h,
        |    'https://ex' || (doc_id % 10) || '.org/d/' || doc_id AS url,
        |    doc_id < 300 AS known
        |  FROM documents
        |  UNION ALL
        |  SELECT h, 'https://ex' || h || '.org/extra?a=1&b=2', false
        |  FROM hosts),
        |du AS (SELECT DISTINCT h, url, known FROM u)
        |SELECT 'ex' || h || '.org' AS host,
        |  'https://ex' || h || '.org/sitemap.xml' AS sitemap_url,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(CASE WHEN known THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_known,
        |  CAST(SUM(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new
        |FROM du GROUP BY h""".stripMargin,

    // the alias walk replayed as a recursive CTE over the one-hop
    // edge table: follow canonical targets until a url with no
    // outgoing edge, count the hops
    "f_canonical_resolve" ->
      """WITH RECURSIVE e AS MATERIALIZED (SELECT
        |    'https://ex' || ((doc_id // 4) % 10) || '.org/p/'
        |      || doc_id AS url,
        |    'https://ex' || ((doc_id // 4) % 10) || '.org/p/'
        |      || (doc_id - 1) AS t
        |  FROM documents WHERE doc_id % 4 <> 0),
        |walk AS (
        |  SELECT url, t AS cur, 1 AS hops FROM e
        |  UNION ALL
        |  SELECT w.url, e.t, w.hops + 1
        |  FROM walk w JOIN e ON w.cur = e.url)
        |SELECT url, cur AS final_url, CAST(hops AS BIGINT) AS hops
        |FROM walk w
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.url = w.cur)"""
        .stripMargin,

    // the log's date histogram in closed form: crawled docs (<300)
    // fetched at 2024-01-10 + id%10
    "f_fetch_log_stats" ->
      """SELECT DATE '2024-01-10' + CAST(doc_id % 10 AS INT)
        |    AS fetched_at,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls
        |FROM documents WHERE doc_id < 300
        |GROUP BY 1""".stripMargin,

    // the recrawl loop in closed form: the wave refetches stale+new
    // urls except /d/ pages on graft-override hosts (h%3=0, robots
    // blocks /d/) — fetched stale urls read fresh against the
    // advanced log (fetched 2024-02-01 after every january lastmod),
    // fetched no-signal urls (id%5==0 and the per-host extras) read
    // unknown, blocked urls keep their status, fresh/unknown rows
    // are untouched fixed points
    "a_pipeline_recrawl" ->
      """WITH base AS (
        |  SELECT doc_id AS id, doc_id % 10 AS h,
        |    CASE WHEN doc_id >= 300 THEN 'new'
        |         WHEN doc_id % 5 = 0 THEN 'unknown'
        |         WHEN doc_id % 4 = 1 THEN 'stale'
        |         WHEN doc_id % 28 + 1 > 10 + doc_id % 10 THEN 'stale'
        |         ELSE 'fresh' END AS b
        |  FROM documents),
        |dt AS (SELECT b,
        |    CASE WHEN b IN ('fresh', 'unknown') THEN b
        |         WHEN h % 3 = 0 THEN b
        |         WHEN b = 'stale' THEN 'fresh'
        |         WHEN id % 5 = 0 THEN 'unknown'
        |         ELSE 'fresh' END AS a
        |  FROM base),
        |et AS (SELECT 'new' AS b, 'unknown' AS a
        |  FROM (SELECT DISTINCT doc_id % 10 AS h FROM documents)),
        |u AS (SELECT b, a FROM dt UNION ALL SELECT b, a FROM et)
        |SELECT b AS status_before, a AS status_after,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls
        |FROM u GROUP BY b, a""".stripMargin,

    // the staleness budget in closed form: per fetch date (crawled
    // ids<300 at 2024-01-(10+id%10) 09:00), the plan's verdicts —
    // unknown when id%5==0, stale when id%4==1 (same-day 17:00Z) or
    // the date-only lastmod day id%28+1 is after the fetch day
    "f_staleness_budget" ->
      """WITH f AS (
        |  SELECT DATE '2024-01-10' + CAST(doc_id % 10 AS INT)
        |      AS fetched_at,
        |    CASE WHEN doc_id % 5 = 0 THEN 'unknown'
        |         WHEN doc_id % 4 = 1 THEN 'stale'
        |         WHEN doc_id % 28 + 1 > 10 + doc_id % 10 THEN 'stale'
        |         ELSE 'fresh' END AS status
        |  FROM documents WHERE doc_id < 300)
        |SELECT fetched_at, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(CASE WHEN status = 'stale' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stale,
        |  CAST(SUM(CASE WHEN status = 'unknown' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unknown,
        |  CAST(SUM(CASE WHEN status = 'stale' THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS stale_ppm
        |FROM f GROUP BY fetched_at""".stripMargin,

    // the per-host budget selection replayed with the SAME window:
    // stale first by copy age (fetch day 10+id%10 at 09:00) then url,
    // new (never fetched) after, 20 slots — the envelope (min/max
    // selected url) pins the actual picks
    "f_refetch_budget" ->
      """WITH s AS (
        |  SELECT 'https://ex' || (doc_id % 10) || '.org/d/'
        |      || doc_id AS url,
        |    'ex' || (doc_id % 10) || '.org' AS host,
        |    CASE WHEN doc_id >= 300 THEN 'new'
        |         WHEN doc_id % 5 = 0 THEN 'unknown'
        |         WHEN doc_id % 4 = 1 THEN 'stale'
        |         WHEN doc_id % 28 + 1 > 10 + doc_id % 10 THEN 'stale'
        |         ELSE 'fresh' END AS status,
        |    CASE WHEN doc_id < 300 THEN
        |      TIMESTAMP '2024-01-10 09:00:00'
        |        + (doc_id % 10) * INTERVAL 1 DAY END AS fetched_at
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://ex' || h || '.org/extra?a=1&b=2',
        |    'ex' || h || '.org', 'new', NULL
        |  FROM (SELECT DISTINCT doc_id % 10 AS h FROM documents)),
        |e AS (SELECT host, url, status,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY
        |      CASE WHEN status = 'stale' THEN 0 ELSE 1 END,
        |      fetched_at ASC NULLS LAST, url ASC) AS rk
        |  FROM s WHERE status IN ('stale', 'new'))
        |SELECT host,
        |  CAST(COUNT(*) AS BIGINT) AS n_budgeted,
        |  CAST(SUM(CASE WHEN status = 'stale' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stale_sel,
        |  CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new_sel,
        |  MIN(url) AS first_url,
        |  MAX(url) AS last_url
        |FROM e WHERE rk <= 20 GROUP BY host""".stripMargin,

    // the budgeted wave's transition matrix in closed form: the same
    // selection window picks 20 urls per host; a selected url that
    // robots allows (/d/ blocked on h%3=0 hosts, extras always
    // allowed) refetches at 2024-02-01 and reads fresh (or unknown
    // when its entry declares no lastmod — id%5=0 pages and the
    // extras); everything else — blocked picks and every unbudgeted
    // row — is a fixed point
    "a_pipeline_budget" ->
      """WITH s AS (
        |  SELECT 'https://ex' || (doc_id % 10) || '.org/d/'
        |      || doc_id AS url,
        |    doc_id % 10 AS h,
        |    CASE WHEN doc_id >= 300 THEN 'new'
        |         WHEN doc_id % 5 = 0 THEN 'unknown'
        |         WHEN doc_id % 4 = 1 THEN 'stale'
        |         WHEN doc_id % 28 + 1 > 10 + doc_id % 10 THEN 'stale'
        |         ELSE 'fresh' END AS status,
        |    CASE WHEN doc_id < 300 THEN
        |      TIMESTAMP '2024-01-10 09:00:00'
        |        + (doc_id % 10) * INTERVAL 1 DAY END AS fetched_at,
        |    NOT (doc_id % 5 = 0) AS has_lm,
        |    (doc_id % 10) % 3 = 0 AS blocked
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://ex' || h || '.org/extra?a=1&b=2', h,
        |    'new', NULL, false, false
        |  FROM (SELECT DISTINCT doc_id % 10 AS h FROM documents)),
        |e AS (SELECT url,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY
        |      CASE WHEN status = 'stale' THEN 0 ELSE 1 END,
        |      fetched_at ASC NULLS LAST, url ASC) AS rk
        |  FROM s WHERE status IN ('stale', 'new')),
        |sel AS (SELECT url FROM e WHERE rk <= 20),
        |tr AS (SELECT s.url,
        |    s.url IN (SELECT url FROM sel) AS budgeted,
        |    s.status AS status_before,
        |    CASE WHEN s.url NOT IN (SELECT url FROM sel)
        |           THEN s.status
        |         WHEN s.blocked THEN s.status
        |         WHEN NOT s.has_lm THEN 'unknown'
        |         ELSE 'fresh' END AS status_after
        |  FROM s)
        |SELECT budgeted, status_before, status_after,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls
        |FROM tr GROUP BY 1, 2, 3""".stripMargin,

    // the recrawl classification in closed form: id%4==1 pages
    // declare a FULL datetime on their own fetch day at 17:00Z —
    // fetched 09:00, so timestamp precision makes every crawled one
    // stale (date truncation would have said fresh); date-only pages
    // (the rest, lastmod day id%28+1, omitted when id%5==0) compare
    // at date granularity against the fetch day 10+id%10; the
    // per-host extra url is never fetched → new
    "f_sitemap_recrawl" ->
      """WITH u AS (
        |  SELECT doc_id % 10 AS h,
        |    CASE WHEN doc_id >= 300 THEN 'new'
        |         WHEN doc_id % 5 = 0 THEN 'unknown'
        |         WHEN doc_id % 4 = 1 THEN 'stale'
        |         WHEN doc_id % 28 + 1 > 10 + doc_id % 10 THEN 'stale'
        |         ELSE 'fresh' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT h, 'new' FROM
        |    (SELECT DISTINCT doc_id % 10 AS h FROM documents))
        |SELECT 'ex' || h || '.org' AS host,
        |  CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN status = 'stale' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stale,
        |  CAST(SUM(CASE WHEN status = 'fresh' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fresh,
        |  CAST(SUM(CASE WHEN status = 'unknown' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unknown
        |FROM u GROUP BY h""".stripMargin,

    // the churn in closed form: added = the id%9==0 pages (absent
    // yesterday) + each host's extra; removed = the one /gone page;
    // kept = the rest of the /d/ set
    "f_sitemap_diff" ->
      """WITH b AS (SELECT doc_id % 10 AS h,
        |    CAST(SUM(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n9,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM documents GROUP BY 1)
        |SELECT 'ex' || h || '.org' AS host,
        |  CAST(n9 + 1 AS BIGINT) AS n_added,
        |  CAST(1 AS BIGINT) AS n_removed,
        |  CAST(nd - n9 AS BIGINT) AS n_kept
        |FROM b""".stripMargin,

    // the spool's parse-level table in closed form: index hosts
    // (h%3==0) serve a 2-loc sitemapindex plus two gzipped leaves
    // (/d/ pages, then the single extra), plain hosts one urlset of
    // nd + 1 locs
    "f_sitemap_read" ->
      """WITH h AS (SELECT doc_id % 10 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM documents GROUP BY 1)
        |SELECT 'ex' || h || '.org' AS host, 'sitemap.xml' AS file,
        |  CASE WHEN h % 3 = 0 THEN 'sitemapindex' ELSE 'urlset' END
        |    AS kind,
        |  CASE WHEN h % 3 = 0 THEN 2 ELSE nd + 1 END AS n_locs
        |FROM h
        |UNION ALL SELECT 'ex' || h || '.org', 'sitemap_1.xml.gz',
        |  'urlset', nd FROM h WHERE h % 3 = 0
        |UNION ALL SELECT 'ex' || h || '.org', 'sitemap_2.xml.gz',
        |  'urlset', 1 FROM h WHERE h % 3 = 0""".stripMargin,

    // the artifact's seen set in closed form (distinct /d/ urls of the
    // crawled docs), massed per host, then the size histogram
    "f_frontier_stats" ->
      """WITH c AS (SELECT DISTINCT
        |    'https://ex' || (doc_id % 10) || '.org/d/' || doc_id AS url
        |  FROM documents WHERE doc_id < 300),
        |h AS (SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
        |    CAST(COUNT(*) AS BIGINT) AS host_size
        |  FROM c GROUP BY 1)
        |SELECT host_size, CAST(COUNT(*) AS BIGINT) AS n_hosts
        |FROM h GROUP BY host_size""".stripMargin,

    // greedy longest-match replayed as a recursive CTE: each step
    // consumes the longest vocab piece prefixing the rest, single
    // characters pass through. The vocab rides as a ONE-ROW LIST and
    // the match is pure list algebra (same-length prefixes are the
    // same string, so no tie exists) — a correlated scalar subquery
    // against a MATERIALIZED CTE inside a recursive term silently
    // mismatches in DuckDB, so none appears here
    "t_wordpiece" ->
      """WITH RECURSIVE wf AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |subs AS (SELECT sub, SUM(freq) AS w FROM (
        |    SELECT freq, unnest(list_distinct(flatten(list_transform(
        |      range(2, 9), l -> list_transform(
        |        range(1, len(word) - l + 2),
        |        i -> substring(word, CAST(i AS INT), CAST(l AS INT)))))))
        |      AS sub
        |    FROM wf) GROUP BY sub),
        |vl AS MATERIALIZED (SELECT list(p ORDER BY p) AS vl FROM
        |  (SELECT sub AS p FROM subs ORDER BY w DESC, sub ASC LIMIT 200)),
        |step AS (
        |  SELECT word, word AS rest, CAST([] AS VARCHAR[]) AS pieces
        |  FROM wf
        |  UNION ALL
        |  SELECT word, substring(rest, pl + 1) AS rest,
        |    list_append(pieces, substring(rest, 1, pl)) AS pieces
        |  FROM (SELECT word, rest, pieces,
        |      CAST(COALESCE(list_max(list_transform(
        |        list_filter(vl.vl, p -> p = substring(rest, 1, len(p))),
        |        p -> len(p))), 1) AS INT) AS pl
        |    FROM step, vl WHERE rest <> '') s)
        |SELECT wf.word, wf.freq, CAST(len(pieces) AS INT) AS n_pieces,
        |  array_to_string(pieces, '|') AS enc
        |FROM step JOIN wf USING (word)
        |WHERE rest = ''""".stripMargin,

    "t_bpe_encode" -> {
      val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"),
        ("a", "n"), ("e", "r"), ("an", "d"))
      val folds = merges.zipWithIndex.map { case ((a, b), i) =>
        s"""s${i + 1} AS (SELECT word, n, list_reduce(
           |    list_transform(syms, s -> [s]),
           |    (acc, x) -> CASE WHEN acc[len(acc)] = '$a' AND x[1] = '$b'
           |      THEN list_slice(acc, 1, len(acc) - 1) || ['$a$b']
           |      ELSE acc || x END) AS syms FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |top AS (SELECT word, COUNT(*) AS n FROM w WHERE word <> ''
         |  GROUP BY word ORDER BY n DESC, word ASC LIMIT 100),
         |s0 AS (SELECT word, n, list_transform(range(1, length(word) + 1),
         |    i -> substr(word, CAST(i AS INT), 1)) AS syms FROM top),
         |$folds
         |SELECT word, n, array_to_string(syms, ' ') AS bpe
         |FROM s${merges.length}""".stripMargin
    },

    "t_source_overlap" ->
      s"""WITH ss AS (SELECT DISTINCT source, sh FROM (
         |    SELECT source, unnest(
         |      CASE WHEN len($tok) < 3 THEN []
         |           ELSE list_transform(range(1, len($tok) - 1),
         |                  i -> array_to_string(($tok)[i:i+2], ' ')) END)
         |      AS sh FROM documents)),
         |sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |    COUNT(*) AS n_common
         |  FROM ss a JOIN ss b
         |    ON a.sh = b.sh AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  CAST(n_common AS DOUBLE)
         |    / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.source = src_a
         |JOIN sizes sb ON sb.source = src_b""".stripMargin,

    "t_domain_reweight" ->
      s"""WITH bi AS (SELECT source, unnest(
         |    CASE WHEN len($tok) < 2 THEN []
         |         ELSE list_transform(range(1, len($tok)),
         |                i -> array_to_string(($tok)[i:i+1], ' ')) END)
         |    AS bigram
         |  FROM documents),
         |bg AS (SELECT source, bigram, COUNT(*) AS k
         |  FROM bi GROUP BY source, bigram),
         |bc AS (SELECT bigram, SUM(k) AS c,
         |    string_split(bigram, ' ')[1] AS w1
         |  FROM bg GROUP BY bigram),
         |pr AS (SELECT bigram, CAST(c AS DOUBLE) /
         |    CAST(SUM(c) OVER (PARTITION BY w1) AS DOUBLE) AS p
         |  FROM bc),
         |ps AS (SELECT source,
         |    SUM(CAST(k AS DECIMAL(18,0))
         |      * CAST(round(-ln(p), 4) AS DECIMAL(18,4))) AS nll,
         |    CAST(SUM(k) AS BIGINT) AS mass
         |  FROM bg JOIN pr USING (bigram) GROUP BY source),
         |tot AS (SELECT SUM(nll) AS tnll,
         |    CAST(SUM(mass) AS BIGINT) AS tmass FROM ps),
         |sc AS (SELECT source, mass, tmass,
         |    ROUND(CAST(nll AS DOUBLE) / CAST(mass AS DOUBLE), 6)
         |      AS avg_nll,
         |    ROUND(CAST(tnll AS DOUBLE) / CAST(tmass AS DOUBLE), 6)
         |      AS corpus_nll
         |  FROM ps CROSS JOIN tot),
         |un AS (SELECT *,
         |    CAST(mass AS DECIMAL(20,0))
         |      * CAST(ROUND(exp(avg_nll - corpus_nll), 8)
         |          AS DECIMAL(18,8)) AS unnorm
         |  FROM sc),
         |z AS (SELECT SUM(unnorm) AS z FROM un)
         |SELECT source, mass AS n_bigrams, avg_nll,
         |  ROUND(avg_nll - corpus_nll, 6) AS excess_nll,
         |  mass * 1000000 // tmass AS base_ppm,
         |  ROUND(CAST(unnorm AS DOUBLE) / CAST(z AS DOUBLE), 6) AS w_new
         |FROM un CROSS JOIN z""".stripMargin,

    "t_hapax_ratio" ->
      s"""WITH wk AS (SELECT source, word, COUNT(*) AS k
         |  FROM (SELECT source, unnest($tok) AS word FROM documents)
         |  WHERE word <> '' GROUP BY source, word),
         |agg AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_types,
         |    CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax
         |  FROM wk GROUP BY source)
         |SELECT source, n_tokens, n_types, n_hapax,
         |  n_hapax * 1000000 // n_types AS hapax_ppm,
         |  n_types * 1000000 // n_tokens AS ttr_ppm
         |FROM agg""".stripMargin,

    "t_gini_concentration" ->
      s"""WITH xs AS (SELECT source, len($tok) AS x FROM documents),
         |bv AS (SELECT source, x, COUNT(*) AS k FROM xs GROUP BY source, x),
         |cm AS (SELECT source, x, k,
         |    COALESCE(SUM(k) OVER (PARTITION BY source ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
         |  FROM bv),
         |agg AS (SELECT source,
         |    CAST(SUM(k) AS BIGINT) AS n_docs,
         |    CAST(SUM(k * x) AS BIGINT) AS n_tokens,
         |    CAST(SUM(x * (k * cprev + (k * (k + 1)) // 2)) AS BIGINT) AS s1,
         |    CAST(MAX(x) AS BIGINT) AS xmax
         |  FROM cm GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         |  (2 * s1 - (n_docs + 1) * n_tokens) * 1000000
         |    // (n_docs * n_tokens) AS gini_ppm,
         |  xmax * 1000000 // n_tokens AS top1_ppm
         |FROM agg WHERE n_tokens > 0""".stripMargin,

    "t_ngram_novelty" ->
      s"""WITH sp AS (SELECT bucket < 205 AS in_train, text FROM
         |    (SELECT text, $md5Bucket AS bucket FROM documents)),
         |sh AS (SELECT in_train, unnest(
         |    CASE WHEN len($tok) < 3 THEN []
         |         ELSE list_transform(range(1, len($tok) - 1),
         |                i -> array_to_string(($tok)[i:i+2], ' ')) END)
         |    AS sh FROM sp),
         |m AS (SELECT sh.sh,
         |    MAX(CASE WHEN in_train THEN 1 ELSE 0 END) AS seen_train,
         |    MAX(CASE WHEN NOT in_train THEN 1 ELSE 0 END) AS seen_hold
         |  FROM sh GROUP BY sh.sh)
         |SELECT COUNT(*) AS n_holdout_types,
         |  CAST(SUM(CASE WHEN seen_train = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(SUM(CASE WHEN seen_train = 0 THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS novel_ppm
         |FROM m WHERE seen_hold = 1""".stripMargin,

    "t_keyword_tags" -> {
      val vals = keywordDict.map(k => s"('$k')").mkString(", ")
      s"""WITH kw(keyword) AS (VALUES $vals),
         |pc AS (SELECT d.doc_id, k.keyword,
         |    len(list_filter(range(1, len(d.text) - len(k.keyword) + 2),
         |      i -> substring(d.text, CAST(i AS INT),
         |             CAST(len(k.keyword) AS INT)) = k.keyword)) AS n
         |  FROM documents d CROSS JOIN kw k)
         |SELECT keyword,
         |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_hits
         |FROM pc GROUP BY keyword""".stripMargin
    },

    "t_bpe_compression" ->
      s"""WITH wk AS (SELECT source, word, COUNT(*) AS k
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE word <> '' GROUP BY source, word),
         |$bpeEncSql
         |SELECT source, CAST(SUM(k) AS BIGINT) AS n_words,
         |  CAST(SUM(k * wlen) AS BIGINT) AS n_chars,
         |  CAST(SUM(k * blen) AS BIGINT) AS n_bpe,
         |  CAST(CAST(SUM(k * wlen) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(SUM(k * blen) AS BIGINT) AS DOUBLE)
         |    AS chars_per_token
         |FROM wk JOIN enc USING (word) GROUP BY source""".stripMargin,

    "t_subword_fertility" ->
      s"""WITH wk AS (SELECT lang, word, COUNT(*) AS k
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE word <> '' GROUP BY lang, word),
         |$bpeEncSql,
         |agg AS (SELECT lang, CAST(SUM(k) AS BIGINT) AS n_words,
         |    CAST(SUM(k * wlen) AS BIGINT) AS n_chars,
         |    CAST(SUM(k * blen) AS BIGINT) AS n_bpe
         |  FROM wk JOIN enc USING (word) GROUP BY lang)
         |SELECT lang, n_words, n_chars, n_bpe,
         |  CAST(n_bpe * 1000000 // n_words AS BIGINT) AS fertility_e6,
         |  CAST(n_chars * 1000000 // n_bpe AS BIGINT)
         |    AS chars_per_token_e6
         |FROM agg""".stripMargin,

    "t_quality_rules" ->
      s"""SELECT doc_id,
         | CAST(length(text) - (len($tok) - 1) AS DOUBLE)
         |   / CAST(len($tok) AS DOUBLE) AS mean_word_len,
         | list_aggregate(list_transform($tok, w -> len(w)), 'max') AS max_word_len,
         | CAST(len(list_filter($tok, w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
         |   / CAST(len($tok) AS DOUBLE) AS alpha_ratio,
         | len($tok) >= 10 AND len($tok) <= 5000
         |   AND CAST(length(text) - (len($tok) - 1) AS DOUBLE)
         |     / CAST(len($tok) AS DOUBLE) >= 2.0
         |   AND CAST(length(text) - (len($tok) - 1) AS DOUBLE)
         |     / CAST(len($tok) AS DOUBLE) <= 12.0
         |   AND CAST(len(list_filter($tok, w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
         |     / CAST(len($tok) AS DOUBLE) >= 0.6 AS keep
         |FROM documents""".stripMargin,

    // two independent NFC implementations must agree byte-for-byte:
    // Spark runs the JDK's java.text.Normalizer, DuckDB utf8proc.
    // chr(769)=combining acute, chr(233)=precomposed e-acute,
    // chr(8491)=ANGSTROM SIGN (a singleton that NFC rewrites to
    // U+00C5), chr(776)=combining diaeresis
    "t_unicode_norm" ->
      """WITH raw AS (SELECT doc_id,
        |  (CASE CAST(doc_id % 4 AS INT)
        |     WHEN 0 THEN 'cafe' || chr(769) || ' menu'
        |     WHEN 1 THEN 'caf' || chr(233) || ' menu'
        |     WHEN 2 THEN chr(8491) || 'ngstro' || chr(776) || 'm unit'
        |     ELSE 'plain ascii row' END)
        |    || ' #' || CAST(doc_id AS VARCHAR) AS s
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(s) AS norm,
        |  nfc_normalize(s) <> s AS changed,
        |  length(s) AS len_before,
        |  length(nfc_normalize(s)) AS len_after
        |FROM raw""".stripMargin
  )
}
