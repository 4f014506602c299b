package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.operators.MoveSink

/** The CLI entry: knob resolution (flags > env, reference .env contract)
  * and an end-to-end smoke run over a temp lake.
  */
class MainSpec extends SparkSpec {

  private def write(root: JPath, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  test("parse: flags beat env; env supplies the rest; date-only widens to midnight") {
    val cfg = Main.parse(
      Seq("pipelineB", "--source", "raw/", "--after", "2024-01-01",
        "--dry-run"),
      env = Map(
        "GRAFT_LAKE_ROOT" -> "file:/lake",
        "GRAFT_SOURCE_PATH" -> "ignored/",   // flag wins
        "GRAFT_TARGET_PATH" -> "archive/",
        "GRAFT_COMPANY_ID" -> "12"))
    assert(cfg.lakeRoot === "file:/lake")
    assert(cfg.source === "raw/")
    assert(cfg.target === "archive/")
    assert(cfg.after === Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(cfg.companyId === Some("12"))
    assert(cfg.dryRun)
    assert(cfg.mode === MoveSink.Copy)
  }

  test("parse: missing required knob and bad mode are loud") {
    intercept[IllegalArgumentException] {
      Main.parse(Seq("pipelineB", "--source", "raw/"), env = Map.empty)
    }
    intercept[IllegalArgumentException] {
      Main.parse(Seq("pipelineB", "--lake-root", "file:/l", "--source", "s",
        "--target", "t", "--mode", "teleport"), env = Map.empty)
    }
    intercept[IllegalArgumentException] { Main.parse(Seq("pipelineC")) }
  }

  test("run: pipelineB smoke over a temp lake — dry-run counts, then real move") {
    val root = TempDirs.dir("graft-cli")
    write(root, "raw/a.json", """{"SalesCompanyId":"12"}""")
    write(root, "raw/b.json", """{"SalesCompanyId":"99"}""")
    def cfg(dry: Boolean) = Main.parse(
      Seq("pipelineB", "--lake-root", s"file:$root", "--source", "raw/",
        "--target", "archive/", "--company-id", "12") ++
        (if (dry) Seq("--dry-run") else Nil),
      env = Map.empty)

    val dry = Main.run(spark, cfg(dry = true)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dry === Map("would_move" -> 1L, "skipped" -> 1L))
    assert(Files.exists(root.resolve("raw/a.json"))) // dry run touched nothing

    val real = Main.run(spark, cfg(dry = false)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(real === Map("success" -> 1L))
    assert(!Files.exists(root.resolve("raw/a.json")))
    assert(Files.exists(root.resolve("archive/a.json")))
    assert(Files.exists(root.resolve("raw/b.json"))) // filtered out, untouched
  }

  test("run: pipelineA smoke — manifest drives the copy, statuses reported") {
    val root = TempDirs.dir("graft-cli-a")
    write(root, "raw/x.json", """{"QuoteId":"q1"}""")
    val csv = root.resolve("manifest.csv")
    Files.writeString(csv,
      """QuoteId;unixtimestamp;filename
        |q1;1761940950;x.json
        |""".stripMargin)
    val cfg = Main.parse(
      Seq("pipelineA", "--lake-root", s"file:$root", "--manifest",
        csv.toString, "--source", "raw/", "--target", "archive/"),
      env = Map.empty)
    val got = Main.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("success" -> 1L))
    assert(Files.exists(root.resolve("raw/x.json")))      // copy retains
    assert(Files.exists(root.resolve("archive/x.json")))
  }

  test("query verb: registry lookup runs the real query; typos are loud") {
    val df = Main.resolveQuery("o16_report_counts")(
      spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val e = intercept[IllegalArgumentException] {
      Main.resolveQuery("q_no_such_query")
    }
    assert(e.getMessage.contains("query list"))
  }

  test("parseCurate: dedup/lang/quota stage flags parse into the config") {
    val cfg = Main.parseCurate(Seq("--input", "/in", "--dry-run",
      "--dedup-index", "/idx", "--langs", "en, de", "--quota", "50",
      "--quota-col", "domain", "--classifier", "/clf"))
    assert(cfg.dedup && cfg.dedupIndex === Some("/idx"))
    assert(cfg.langs === Some(Seq("en", "de")))
    assert(cfg.classifier === Some("/clf"))
    assert(cfg.quota === Some(("domain", 50)))
    // a malformed quota fails with the CLI's own message, not a raw
    // NumberFormatException
    val e = intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/in", "--dry-run",
        "--quota", "five"))
    }
    assert(e.getMessage.contains("--quota needs an integer"))
    // bare --dedup enables exact-only dedup; quota-col defaults source
    val bare = Main.parseCurate(Seq("--input", "/in", "--dry-run",
      "--dedup", "--quota", "9"))
    assert(bare.dedup && bare.dedupIndex.isEmpty &&
      bare.quota === Some(("source", 9)))
    val off = Main.parseCurate(Seq("--input", "/in", "--dry-run"))
    assert(!off.dedup && off.langs.isEmpty && off.quota.isEmpty)
  }

  test("curate --update-index: the daily loop — today's keepers screen tomorrow") {
    import spark.implicits._
    val root = TempDirs.dir("graft-curate-loop")
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "every bird sings while the green tree waves and water runs fast"
    val tC = "some people walk along this quiet road and watch the old town"
    // day 0: the historical index holds text A
    Seq((1000L, tA)).toDF("doc_id", "text")
      .write.parquet(s"$root/hist.parquet")
    Main.runIndex(spark, Main.parseIndex(Seq("build", "--kind", "band",
      "--index", s"$root/idx", "--input", s"$root/hist.parquet"))).collect()
    // day 1: a re-crawl of A (near-dup → dropped) plus fresh B and C
    Seq((1L, s"<p>$tA</p>"), (2L, s"<p>$tB</p>"), (3L, s"<p>$tC</p>"))
      .toDF("doc_id", "text").write.parquet(s"$root/day1.parquet")
    val rep1 = Main.runCurate(spark, Main.parseCurate(Seq(
        "--input", s"$root/day1.parquet", "--output", s"$root/out1.parquet",
        "--dedup-index", s"$root/idx", "--update-index")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep1("dup_near") === 1L && rep1("kept") === 2L)
    // the artifact grew by the two keepers (crash-safe swap, no .next)
    assert(!Files.exists(JPath.of(s"$root/idx.next")))
    val sets = graft.operators.Dedup.readBandIndex(spark, s"$root/idx")
      .sets.collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(sets === Seq(2L, 3L, 1000L))
    // day 2: a re-crawl of B under a NEW id is now caught by the index
    Seq((10L, s"<p>$tB</p>")).toDF("doc_id", "text")
      .write.parquet(s"$root/day2.parquet")
    val rep2 = Main.runCurate(spark, Main.parseCurate(Seq(
        "--input", s"$root/day2.parquet", "--output", s"$root/out2.parquet",
        "--dedup-index", s"$root/idx")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep2("dup_near") === 1L && rep2("kept") === 0L)
    // the mutation flag is validated at parse time
    intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/i", "--update-index", "--dry-run",
        "--dedup-index", "/x"))
    }
    intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/i", "--output", "/o",
        "--update-index"))
    }
  }

  test("curate --update-frontier: kept docs' outlinks enter the seen set") {
    import spark.implicits._
    val root = TempDirs.dir("graft-curate-fr")
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // doc 1 keeps (its outlink must append); doc 2 fails quality (its
    // outlink must NOT)
    Seq(
      (1L, s"<p>$good one</p><a href=\"https://ex.org/next/1\">n</a>"),
      (2L, "<p>tiny</p><a href=\"https://ex.org/next/2\">n</a>"))
      .toDF("doc_id", "text").write.parquet(s"$root/in.parquet")
    graft.operators.CrawlState.writeUrlIndex(
      graft.operators.CrawlState.buildUrlIndex(
        Seq("https://ex.org/seen/0").toDF("url")), s"$root/fr")
    Main.runCurate(spark, Main.parseCurate(Seq(
      "--input", s"$root/in.parquet", "--output", s"$root/out.parquet",
      "--update-frontier", s"$root/fr"))).collect()
    assert(!Files.exists(JPath.of(s"$root/fr.next")))
    val seen = graft.operators.CrawlState
      .readUrlIndex(spark, s"$root/fr").urls
      .collect().map(_.getString(0)).sorted.toSeq
    assert(seen === Seq("https://ex.org/next/1", "https://ex.org/seen/0"))
    // the mutation is rejected under --dry-run at parse time
    intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/i", "--dry-run",
        "--update-frontier", "/f"))
    }
  }

  test("curate --ledger: each run's funnel appends under its run id") {
    import spark.implicits._
    val root = TempDirs.dir("graft-curate-led")
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, s"<p>$good one</p>"), (2L, "<p>tiny</p>"))
      .toDF("doc_id", "text").write.parquet(s"$root/in.parquet")
    def run(day: String, dry: Boolean = false) =
      Main.runCurate(spark, Main.parseCurate(Seq(
        "--input", s"$root/in.parquet",
        "--ledger", s"$root/led", "--run-id", day) ++
        (if (dry) Seq("--dry-run")
         else Seq("--output", s"$root/out.parquet")))).collect()
    run("day-0"); run("day-1")
    val led = graft.operators.CurationLedger.read(spark, s"$root/led")
    val byRun = led.collect()
      .groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byRun === Map("day-0" -> 6, "day-1" -> 6))
    // identical input, identical funnel → delta 0 everywhere on day-1
    val tr = graft.operators.CurationLedger.trend(led)
      .filter(org.apache.spark.sql.functions.col("run_id") === "day-1")
      .collect()
      .map(r => r.getAs[Long]("delta"))
    assert(tr.length === 6 && tr.forall(_ === 0L))
    // a DRY run audits without writing history
    run("day-2", dry = true)
    assert(graft.operators.CurationLedger.read(spark, s"$root/led")
      .count() === 12L)
    // --ledger and --run-id come together
    intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/i", "--dry-run", "--ledger", "/l"))
    }
    intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/i", "--dry-run", "--run-id", "d"))
    }
  }

  test("curate --classifier: the persisted model gates keep from the CLI") {
    import spark.implicits._
    val root = TempDirs.dir("graft-curate-clf")
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, s"<p>$good one</p>"), (2L, s"<p>$good two</p>"))
      .toDF("doc_id", "text").write.parquet(s"$root/in.parquet")
    // an all-negative persisted artifact rejects every document
    val neg = graft.operators.Logistic.bucketSpace()
      .map(_ -> BigDecimal("-0.1").setScale(6)).toMap
    graft.operators.Logistic.writeModel(spark, s"$root/clf", neg)
    val rep = Main.runCurate(spark, Main.parseCurate(Seq(
        "--input", s"$root/in.parquet", "--dry-run",
        "--classifier", s"$root/clf")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("clf_failed") === 2L && rep("kept") === 0L)
    // an all-positive artifact passes both
    val pos = graft.operators.Logistic.bucketSpace()
      .map(_ -> BigDecimal("0.1").setScale(6)).toMap
    graft.operators.Logistic.writeModel(spark, s"$root/clf2", pos)
    val rep2 = Main.runCurate(spark, Main.parseCurate(Seq(
        "--input", s"$root/in.parquet", "--dry-run",
        "--classifier", s"$root/clf2")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep2("clf_failed") === 0L && rep2("kept") === 2L)
  }

  test("parseCurate: input always required, output only for real runs") {
    intercept[IllegalArgumentException] { Main.parseCurate(Seq.empty) }
    intercept[IllegalArgumentException] { // real run needs an output
      Main.parseCurate(Seq("--input", "/in")) }
    assert(Main.parseCurate(Seq("--input", "/in", "--dry-run")).dryRun)
    val full = Main.parseCurate(Seq("--input", "/in", "--output", "/out"))
    assert(full.input === "/in" && full.output === "/out" && !full.dryRun)
  }

  test("parseIndex: verb/kind/operand validation is loud") {
    intercept[IllegalArgumentException] { Main.parseIndex(Seq("explode")) }
    intercept[IllegalArgumentException] { // missing --kind
      Main.parseIndex(Seq("build", "--index", "/i", "--input", "/d")) }
    intercept[IllegalArgumentException] { // missing --input
      Main.parseIndex(Seq("build", "--kind", "band", "--index", "/i")) }
    intercept[IllegalArgumentException] { // ivf build needs a quantizer
      Main.parseIndex(Seq("build", "--kind", "ivf", "--index", "/i",
        "--input", "/d")) }
    intercept[IllegalArgumentException] { // merge needs the second index
      Main.parseIndex(Seq("merge", "--kind", "band", "--index", "/i")) }
    intercept[IllegalArgumentException] { // erase needs the ids
      Main.parseIndex(Seq("erase", "--kind", "band", "--index", "/i")) }
    val ok = Main.parseIndex(Seq("append", "--kind", "band", "--index",
      "/i", "--input", "/d", "--ngram", "4", "--dry-run"))
    assert(ok.ngram === 4 && ok.dryRun && ok.idCol === "doc_id")
  }

  test("flag parsing: typos, stray tokens, and trailing flags are loud") {
    // a typoed flag on an artifact-mutating CLI must not silently
    // fall back to a default
    val typo = intercept[IllegalArgumentException] {
      Main.parseIndex(Seq("build", "--kind", "band", "--index", "/i",
        "--input", "/d", "--rows-per-bands", "3"))
    }
    assert(typo.getMessage.contains("--rows-per-bands"))
    intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--inptu", "/in"))
    }
    // a trailing flag with no value names the real mistake
    val trailing = intercept[IllegalArgumentException] {
      Main.parseCurate(Seq("--input", "/in", "--output"))
    }
    assert(trailing.getMessage.contains("--output"))
    // bare --dry-run where the verb has none is unknown, not silent
    intercept[IllegalArgumentException] {
      Main.parse(Seq("pipelineB", "--lake-root", "file:/l", "--source",
        "s", "--target", "t", "--moed", "copy"), env = Map.empty)
    }
  }

  private def indexRun(args: String*): Map[(String, Long), Long] =
    Main.runIndex(spark, Main.parseIndex(args.toSeq)).collect()
      .map(r => (r.getString(1), 0L) -> r.getLong(2)).toMap

  test("index CLI: frontier lifecycle — build/append/check/erase/stats") {
    import spark.implicits._
    val root = TempDirs.dir("graft-frontier-cli")
    (1 to 8).map(i => s"https://ex${i % 2}.org/d/$i").toDF("url")
      .write.parquet(s"$root/day0.parquet")
    def run(args: String*) =
      Main.runIndex(spark, Main.parseIndex(args.toSeq))
    val b = run("build", "--kind", "frontier", "--index", s"$root/idx",
      "--input", s"$root/day0.parquet").collect()
    assert(b.head.getString(0) === "wrote" && b.head.getLong(2) === 8L)
    // append a wave with overlap: distinct union (retire-aside swap)
    Seq("https://ex0.org/d/2", "https://ex9.org/x/1").toDF("url")
      .write.parquet(s"$root/day1.parquet")
    val a = run("append", "--kind", "frontier", "--index", s"$root/idx",
      "--input", s"$root/day1.parquet").collect()
    assert(a.head.getLong(2) === 9L)
    assert(!Files.exists(JPath.of(s"$root/idx.next")))
    // check: the wave screen flags canonical-known vs new
    Seq("HTTPS://EX0.ORG:443/d/2", "https://ex0.org/new/1").toDF("url")
      .write.parquet(s"$root/wave.parquet")
    val chk = run("check", "--kind", "frontier", "--index", s"$root/idx",
      "--input", s"$root/wave.parquet").collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(chk === Map("https://ex0.org/d/2" -> true,
      "https://ex0.org/new/1" -> false))
    // per-host takedown via --by-host
    Seq("ex9.org").toDF("id").write.parquet(s"$root/hosts.parquet")
    val e = run("erase", "--kind", "frontier", "--index", s"$root/idx",
      "--ids", s"$root/hosts.parquet", "--by-host").collect()
    assert(e.head.getLong(2) === 8L)
    // stats histogram: 2 hosts x 4 urls each
    val st = run("stats", "--kind", "frontier", "--index", s"$root/idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(st.toSeq === Seq(4L -> 2L))
    // --by-host is rejected anywhere but erase --kind frontier
    intercept[IllegalArgumentException] {
      Main.parseIndex(Seq("stats", "--kind", "band", "--index", "/i",
        "--by-host"))
    }
  }

  test("index CLI: fetchlog lifecycle — build/append/check/erase/stats") {
    import spark.implicits._
    val root = TempDirs.dir("graft-fetchlog-cli")
    Seq(("https://ex.org/p1", "2024-01-10"), ("https://ex.org/p2", "2024-01-12"))
      .toDF("url", "fetched_at").write.parquet(s"$root/w0.parquet")
    Seq(("HTTPS://EX.ORG/p1?utm_x=1", "2024-01-20"), // refetch advances
      ("https://ex.org/p3", "2024-01-05"))
      .toDF("url", "fetched_at").write.parquet(s"$root/w1.parquet")
    def run(args: String*) =
      Main.runIndex(spark, Main.parseIndex(args.toSeq))
    val b = run("build", "--kind", "fetchlog", "--index", s"$root/log",
      "--input", s"$root/w0.parquet").collect()
    assert(b.head.getString(0) === "wrote" && b.head.getLong(2) === 2L)
    val a = run("append", "--kind", "fetchlog", "--index", s"$root/log",
      "--input", s"$root/w1.parquet").collect()
    assert(a.head.getLong(2) === 3L &&
      !Files.exists(JPath.of(s"$root/log.next")))
    // check: declared entries classify against the log's copy age
    Seq(("https://ex.org/p1", "2024-01-25"), ("https://ex.org/p2", null),
      ("https://ex.org/p9", "2024-01-01"))
      .toDF("url", "lastmod").write.parquet(s"$root/entries.parquet")
    val chk = run("check", "--kind", "fetchlog", "--index", s"$root/log",
        "--input", s"$root/entries.parquet").collect()
      .map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(chk === Map("https://ex.org/p1" -> "stale",
      "https://ex.org/p2" -> "unknown", "https://ex.org/p9" -> "new"))
    // erase by any surface form; stats histogram
    Seq("HTTPS://EX.ORG:443/p1#x").toDF("id")
      .write.parquet(s"$root/gone.parquet")
    val e = run("erase", "--kind", "fetchlog", "--index", s"$root/log",
      "--ids", s"$root/gone.parquet").collect()
    assert(e.head.getLong(2) === 2L)
    val st = run("stats", "--kind", "fetchlog", "--index", s"$root/log")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1))
    assert(st.toSeq === Seq("2024-01-05" -> 1L, "2024-01-12" -> 1L))
    // compaction with retention: the 01-05 copy retires, p2 survives
    val cp = run("compact", "--kind", "fetchlog", "--index", s"$root/log",
      "--retire-before", "2024-01-10", "--partitions", "2").collect()
    assert(cp.head.getString(0) === "wrote" && cp.head.getLong(2) === 1L)
    // --retire-before only applies to compact --kind fetchlog
    intercept[IllegalArgumentException] {
      Main.parseIndex(Seq("stats", "--kind", "fetchlog", "--index",
        s"$root/log", "--retire-before", "2024-01-10"))
    }
    intercept[IllegalArgumentException] {
      Main.parseIndex(Seq("compact", "--kind", "fetchlog", "--index",
        s"$root/log", "--retire-before", "not-a-date"))
    }
    // takedown cascade covers the log too
    val td = Main.runTakedown(spark, Main.parseTakedown(Seq(
        "--fetchlog", s"$root/log", "--urls", s"$root/gone.parquet",
        "--dry-run"))).collect()
    // the log now holds just p2 (p1 erased, the 01-05 copy retired)
    assert(td.head.getString(0) === "fetchlog" &&
      td.head.getLong(2) === 1L && td.head.getLong(3) === 1L)
  }

  test("crawl CLI: pipeline D day-0/1/2 loop advances the artifacts") {
    import spark.implicits._
    val root = TempDirs.dir("graft-crawl-cli")
    // persisted crawl state: one already-crawled page
    graft.operators.CrawlState.writeUrlIndex(
      graft.operators.CrawlState.buildUrlIndex(
        Seq("https://a.org/p1").toDF("url")), s"$root/frontier")
    graft.operators.CrawlState.writeFetchLog(
      graft.operators.CrawlState.buildFetchLog(
        Seq(("https://a.org/p1", "2024-01-01")).toDF("url", "fetched_at")),
      s"$root/log")
    // robots: b.org blocks /x/; a.org has no robots → default allow
    Seq(("b.org", "User-agent: *\nDisallow: /x/\nCrawl-delay: 2\n"))
      .toDF("host", "txt").write.parquet(s"$root/robots.parquet")
    // alias resolution: r1 is an alias of p2
    Seq(("https://a.org/r1", "https://a.org/p2", 1L))
      .toDF("url", "final_url", "hops")
      .write.parquet(s"$root/res.parquet")
    // the wave: a known page, a new page + its alias (and a cased
    // tracking-param dupe), a robots-blocked page, an allowed page
    Seq("https://a.org/p1", "https://a.org/p2",
      "HTTPS://A.ORG/p2?utm_x=1", "https://a.org/r1",
      "https://b.org/x/1", "https://b.org/ok")
      .toDF("url").write.parquet(s"$root/wave.parquet")
    def run(extra: String*) = Main.runCrawl(spark, Main.parseCrawl(Seq(
        "--candidates", s"$root/wave.parquet",
        "--robots", s"$root/robots.parquet",
        "--resolution", s"$root/res.parquet",
        "--frontier", s"$root/frontier", "--fetchlog", s"$root/log",
        "--ledger", s"$root/ledger") ++ extra))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val day0 = run("--fetched-at", "2024-02-01 09:00:00",
      "--wave-id", "day-0")
    assert(day0 === Map("candidates" -> 5L, "aliased" -> 1L,
      "identities" -> 4L, "known" -> 1L, "new" -> 3L, "blocked" -> 1L,
      "fetched" -> 2L))
    // the fetched set advanced BOTH artifacts
    assert(graft.operators.CrawlState
      .readUrlIndex(spark, s"$root/frontier").urls.count() === 3L)
    assert(graft.operators.CrawlState
      .readFetchLog(spark, s"$root/log").fetches.count() === 3L)
    // day-1: the same wave — yesterday's fetches screen known, the
    // blocked url re-blocks (robots may change; blocked ≠ seen)
    def listing(p: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(JPath.of(p)).iterator().asScala
        .map(_.toString).toSet
    }
    val beforeFiles = listing(s"$root/frontier") ++ listing(s"$root/log")
    val day1 = run("--fetched-at", "2024-02-02 09:00:00",
      "--wave-id", "day-1")
    assert(day1 === Map("candidates" -> 5L, "aliased" -> 1L,
      "identities" -> 4L, "known" -> 3L, "new" -> 1L, "blocked" -> 1L,
      "fetched" -> 0L))
    // a zero-fetch wave must not REWRITE the artifacts (at scale that
    // is a billion-row rewrite for a wave that did nothing)
    assert(listing(s"$root/frontier") ++ listing(s"$root/log") ===
      beforeFiles)
    // day-2 dry run: reports, but mutates nothing and writes no ledger
    val day2 = run("--fetched-at", "2024-02-03 09:00:00",
      "--wave-id", "day-2", "--dry-run")
    assert(day2("fetched") === 0L)
    assert(graft.operators.CrawlState
      .readUrlIndex(spark, s"$root/frontier").urls.count() === 3L)
    val ledger = graft.operators.CurationLedger
      .read(spark, s"$root/ledger").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ledger.size === 14) // 7 stages × 2 real waves, no day-2 row
    assert(ledger(("day-0", "fetched")) === 2L &&
      ledger(("day-1", "known")) === 3L)
    // day-3 REFETCH mode: every candidate is eligible — the known
    // urls refetch (advancing their log rows), robots still gates
    val day3 = run("--fetched-at", "2024-02-04 09:00:00",
      "--wave-id", "day-3", "--refetch")
    assert(day3 === Map("candidates" -> 5L, "aliased" -> 1L,
      "identities" -> 4L, "known" -> 3L, "new" -> 1L, "blocked" -> 1L,
      "fetched" -> 3L)) // p1, p2, ok refetch; x/1 still blocked
    val advanced = graft.operators.CrawlState
      .readFetchLog(spark, s"$root/log").fetches.collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toString).toMap
    assert(advanced("https://a.org/p1") === "2024-02-04 09:00:00.0")
    // parse guards are loud
    intercept[IllegalArgumentException] {
      Main.parseCrawl(Seq("--candidates", "c", "--robots", "r",
        "--frontier", "f", "--fetchlog", "l", "--wave-id", "w",
        "--fetched-at", "nope"))
    }
    intercept[IllegalArgumentException] {
      Main.parseCrawl(Seq("--candidates", "c"))
    }
  }

  test("index CLI: robots lifecycle — build/append/check/stats/erase") {
    import spark.implicits._
    val root = TempDirs.dir("graft-robots-cli").toString
    Seq(("a.org", "User-agent: *\nDisallow: /x/\n", "2024-01-01 00:00:00"),
        ("b.org", "User-agent: *\nDisallow: /\n", "2024-01-30 00:00:00"))
      .toDF("host", "txt", "fetched_at")
      .write.parquet(s"$root/obs.parquet")
    def run(args: String*) =
      Main.runIndex(spark, Main.parseIndex(args.toSeq)).collect()
    val built = run("build", "--kind", "robots",
      "--index", s"$root/cache", "--input", s"$root/obs.parquet")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(built === Map("robots" -> 2L))
    // a NEWER a.org policy advances it; an echo of b.org is a no-op
    Seq(("a.org", "User-agent: *\nAllow: /\n", "2024-01-31 00:00:00"),
        ("b.org", "User-agent: *\nDisallow: /\n", "2024-01-30 00:00:00"))
      .toDF("host", "txt", "fetched_at")
      .write.parquet(s"$root/obs2.parquet")
    run("append", "--kind", "robots", "--index", s"$root/cache",
      "--input", s"$root/obs2.parquet")
    // check: TTL report at Feb-1 with 48h — a.org fresh, b.org stale
    val rep = run("check", "--kind", "robots", "--index", s"$root/cache",
      "--as-of", "2024-02-01", "--ttl-hours", "48")
      .map(r => r.getString(0) -> ((r.getAs[Long]("age_h"),
        r.getAs[Boolean]("stale")))).toMap
    assert(rep === Map("a.org" -> ((24L, false)),
      "b.org" -> ((48L, false))))
    val rep24 = run("check", "--kind", "robots",
      "--index", s"$root/cache", "--as-of", "2024-02-01")
      .map(r => r.getString(0) -> r.getAs[Boolean]("stale")).toMap
    assert(rep24 === Map("a.org" -> false, "b.org" -> true))
    // stats: hosts per fetch date (the advanced a.org moved days)
    val st = run("stats", "--kind", "robots", "--index", s"$root/cache")
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(st === Map("2024-01-31" -> 1L, "2024-01-30" -> 1L))
    // per-host takedown through the retire-aside swap
    Seq("b.org").toDF("id").write.parquet(s"$root/gone.parquet")
    val left = run("erase", "--kind", "robots", "--index", s"$root/cache",
      "--ids", s"$root/gone.parquet")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(left === Map("robots" -> 1L))
    // guards: --as-of only for check robots; check robots needs --as-of
    intercept[IllegalArgumentException] {
      Main.parseIndex(Seq("stats", "--kind", "robots",
        "--index", "i", "--as-of", "2024-02-01"))
    }
    intercept[IllegalArgumentException] {
      Main.parseIndex(Seq("check", "--kind", "robots", "--index", "i"))
    }
  }

  test("crawl CLI: --spool discovery day-0 chains into recrawl day-1") {
    import spark.implicits._
    val root = TempDirs.dir("graft-spool-cli").toString
    // fetched spool: one host, one sitemap declaring three pages —
    // p1 carries a lastmod AFTER day-0 (stale by day-1), p2 one far
    // in the past (fresh after day-0 fetch), p3 none (unknown)
    val host = JPath.of(root, "spool", "a.org")
    java.nio.file.Files.createDirectories(host)
    java.nio.file.Files.write(host.resolve("sitemap.xml"),
      ("<urlset>" +
        "<url><loc>https://a.org/p1</loc>" +
        "<lastmod>2024-02-01T17:00:00Z</lastmod></url>" +
        "<url><loc>https://a.org/p2</loc>" +
        "<lastmod>2023-01-01</lastmod></url>" +
        "<url><loc>https://a.org/p3</loc></url>" +
        "</urlset>").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // robots declares the entry sitemap; empty artifacts
    Seq(("a.org", "Sitemap: https://a.org/sitemap.xml\n" +
        "User-agent: *\nDisallow: /x/\n"))
      .toDF("host", "txt").write.parquet(s"$root/robots.parquet")
    graft.operators.CrawlState.writeUrlIndex(
      graft.operators.CrawlState.buildUrlIndex(
        Seq.empty[String].toDF("url")), s"$root/frontier")
    graft.operators.CrawlState.writeFetchLog(
      graft.operators.CrawlState.buildFetchLog(
        Seq.empty[(String, String)].toDF("url", "fetched_at")),
      s"$root/log")
    // day-0: DISCOVERY straight off the spool — one verb
    val day0 = Main.runCrawl(spark, Main.parseCrawl(Seq(
        "--spool", s"$root/spool", "--robots", s"$root/robots.parquet",
        "--frontier", s"$root/frontier", "--fetchlog", s"$root/log",
        "--fetched-at", "2024-02-01 09:00:00", "--wave-id", "day-0")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(day0("candidates") === 3L && day0("fetched") === 3L)
    // day-1: the recrawl plan reads the SAME artifacts the discovery
    // wave advanced — p1's 17:00Z lastmod is after the 09:00 fetch
    val plan = graft.sources.Sitemaps.recrawlPlan(
        graft.sources.Sitemaps.readFrom(spark, s"$root/spool")
          .select(org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.col("entries")).as("e"))
          .select($"e.url".as("url"), $"e.lastmod".as("lastmod")),
        graft.operators.CrawlState.readFetchLog(spark, s"$root/log")
          .fetches)
      .collect().map(r => r.getAs[String]("url") ->
        r.getAs[String]("status")).toMap
    assert(plan === Map(
      "https://a.org/p1" -> "stale",
      "https://a.org/p2" -> "fresh",
      "https://a.org/p3" -> "unknown"))
    // exactly one of --candidates / --spool
    intercept[IllegalArgumentException] {
      Main.parseCrawl(Seq("--robots", "r", "--frontier", "f",
        "--fetchlog", "l", "--wave-id", "w",
        "--fetched-at", "2024-02-01"))
    }
    intercept[IllegalArgumentException] {
      Main.parseCrawl(Seq("--candidates", "c", "--spool", "s",
        "--robots", "r", "--frontier", "f", "--fetchlog", "l",
        "--wave-id", "w", "--fetched-at", "2024-02-01"))
    }
    intercept[IllegalArgumentException] {
      Main.parseCrawl(Seq("--candidates", "c", "--robots", "r",
        "--frontier", "f", "--fetchlog", "l", "--wave-id", "w",
        "--fetched-at", "2024-02-01", "--trap-cap", "0"))
    }
  }

  test("CLI timestamps parse as UTC instants regardless of driver TZ") {
    // the session pins spark.sql.session.timeZone=UTC and artifact
    // instants/lastmods are absolute — a CLI wall-clock parsed in the
    // driver JVM's default zone would silently shift stale/fresh
    // boundaries on any non-UTC driver
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/New_York"))
      assert(Main.utcTimestamp("2024-02-01 09:00:00").toInstant ===
        java.time.Instant.parse("2024-02-01T09:00:00Z"))
      assert(Main.utcTimestamp("2024-02-01").toInstant ===
        java.time.Instant.parse("2024-02-01T00:00:00Z"))
    } finally java.util.TimeZone.setDefault(prev)
    intercept[IllegalArgumentException] { Main.utcTimestamp("garbage") }
  }

  test("model CLI: train/retrain/score/drift/eval lifecycle") {
    val root = TempDirs.dir("graft-model-cli")
    val sf = "/root/testdata/sf0.001/documents.parquet"
    def run(args: String*) =
      Main.runModel(spark, Main.parseModel(args.toSeq))
    // train writes the artifact and returns the 256-bucket weights
    val w = run("train", "--input", sf, "--out", s"$root/clf",
      "--target-source", "src18", "--epochs", "2").collect()
    assert(w.length === 256)
    val persisted = graft.operators.Logistic.readModel(spark, s"$root/clf")
    assert(persisted.size === 256)
    // the CLI artifact equals the library's own 2-epoch training
    val d = spark.read.parquet(sf).localCheckpoint(false)
    val feats = graft.operators.Logistic.hashedFeatures(d,
      org.apache.spark.sql.functions.col("source") === "src18")
      .localCheckpoint(false)
    val want = graft.operators.Logistic
      .train(spark, feats, d.count(), 2, 0.5).last
    assert(persisted === want)
    // retrain warm-starts on the SAME corpus == epochs 3-4 of one
    // schedule; the artifact is swap-promoted
    val drift = run("retrain", "--model", s"$root/clf", "--input", sf,
      "--target-source", "src18", "--epochs", "2").collect()
    assert(drift.length === 256 && !Files.exists(JPath.of(s"$root/clf.next")))
    val w4 = graft.operators.Logistic.readModel(spark, s"$root/clf")
    assert(w4 === graft.operators.Logistic
      .train(spark, feats, d.count(), 4, 0.5).last)
    // score deploys at scan speed; kept is the decimal sign
    val scored = run("score", "--model", s"$root/clf", "--input", sf,
      "--out", s"$root/scores.parquet").collect()
    assert(scored.nonEmpty)
    assert(spark.read.parquet(s"$root/scores.parquet").count() ===
      scored.length.toLong)
    // a dry scoring run must NOT clobber the existing scores artifact
    val before = Files.getLastModifiedTime(
      JPath.of(s"$root/scores.parquet"))
    run("score", "--model", s"$root/clf", "--input", sf,
      "--out", s"$root/scores.parquet", "--dry-run").collect()
    assert(Files.getLastModifiedTime(
      JPath.of(s"$root/scores.parquet")) === before)
    assert(spark.read.parquet(s"$root/scores.parquet").count() ===
      scored.length.toLong)
    // drift between the artifact and itself is all-zero
    val none = run("drift", "--model", s"$root/clf",
      "--other", s"$root/clf").collect()
    assert(none.forall(r => BigDecimal(r.getDecimal(3)) == 0))
    // eval emits the one-row rank battery
    val ev = run("eval", "--model", s"$root/clf", "--input", sf,
      "--target-source", "src18").collect()
    assert(ev.length === 1 && ev.head.getAs[Long]("n_pos") > 0)
    // validation is loud
    intercept[IllegalArgumentException] { Main.parseModel(Seq("explode")) }
    intercept[IllegalArgumentException] { // train without a label
      Main.parseModel(Seq("train", "--input", "/i", "--out", "/o")) }
    intercept[IllegalArgumentException] { // two labels
      Main.parseModel(Seq("eval", "--model", "/m", "--input", "/i",
        "--target-source", "x", "--label-col", "y")) }
  }

  test("model CLI: threshold selection, feature-space record + guard") {
    val root = TempDirs.dir("graft-model-thr")
    val sf = "/root/testdata/sf0.001/documents.parquet"
    val L = graft.operators.Logistic
    def run(args: String*) =
      Main.runModel(spark, Main.parseModel(args.toSeq))
    run("train", "--input", sf, "--out", s"$root/clf",
      "--target-source", "src18", "--epochs", "2")
    // freshly-trained artifact records the space, no operating point
    val m0 = L.readTrained(spark, s"$root/clf")
    assert(m0.space === L.SpaceUnigram && m0.threshold.isEmpty)
    // threshold selects the max-F1 point and persists it (swap)
    val sel = run("threshold", "--model", s"$root/clf", "--input", sf,
      "--target-source", "src18").collect()
    assert(sel.length === 1)
    val m1 = L.readTrained(spark, s"$root/clf")
    assert(m1.threshold.contains(BigDecimal(sel.head.getDecimal(0))))
    assert(m1.weights === m0.weights) // selection never touches weights
    // score gates kept at the STORED point: kept == (z >= t)
    val t = m1.threshold.get
    val scored = run("score", "--model", s"$root/clf", "--input", sf)
      .collect()
    assert(scored.nonEmpty && scored.exists(_.getAs[Boolean]("kept")))
    scored.foreach { r =>
      assert(r.getAs[Boolean]("kept") ===
        (BigDecimal(r.getAs[java.math.BigDecimal]("z")) >= t))
    }
    // retrain carries space AND threshold through the swap
    run("retrain", "--model", s"$root/clf", "--input", sf,
      "--target-source", "src18", "--epochs", "1")
    val m2 = L.readTrained(spark, s"$root/clf")
    assert(m2.space === m1.space && m2.threshold === m1.threshold)
    assert(m2.weights !== m1.weights)
    // --dry-run leaves the stored point untouched
    run("threshold", "--model", s"$root/clf", "--input", sf,
      "--target-source", "src18", "--min-precision-ppm", "1",
      "--dry-run")
    assert(L.readTrained(spark, s"$root/clf").threshold
      === m1.threshold)
    // a bigram artifact records its space; --gram contradiction is LOUD
    run("train", "--input", sf, "--out", s"$root/clf2",
      "--target-source", "src18", "--epochs", "1", "--gram", "2")
    assert(L.readTrained(spark, s"$root/clf2").space === L.SpaceBigram)
    intercept[IllegalArgumentException] {
      run("score", "--model", s"$root/clf2", "--input", sf,
        "--gram", "1")
    }
    intercept[IllegalArgumentException] {
      Main.parseModel(Seq("train", "--input", "/i", "--out", "/o",
        "--target-source", "x", "--gram", "3"))
    }
    intercept[IllegalArgumentException] { // threshold needs a label
      Main.parseModel(Seq("threshold", "--model", "/m", "--input", "/i"))
    }
  }

  test("takedown: one command cascades the erase across all artifacts") {
    import spark.implicits._
    val root = TempDirs.dir("graft-takedown")
    // band index over 4 docs (2 to erase)
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "every bird sings while the green tree waves and water runs"
    val tC = "some people walk along this quiet road and watch the town"
    val tD = "a small ship sails across that calm sea while the wind blows"
    graft.operators.Dedup.writeBandIndex(
      graft.operators.Dedup.buildBandIndex(
        Seq((1L, tA), (2L, tB), (3L, tC), (4L, tD)).toDF("doc_id", "text"),
        "doc_id", "text", 5, 3, 2), s"$root/band")
    Seq(1L, 2L).toDF("id").write.parquet(s"$root/docids.parquet")
    // frontier over 2 hosts (one host taken down)
    graft.operators.CrawlState.writeUrlIndex(
      graft.operators.CrawlState.buildUrlIndex(Seq(
        "https://gone.org/a", "https://gone.org/b",
        "https://keep.org/c").toDF("url")), s"$root/fr")
    Seq("gone.org").toDF("id").write.parquet(s"$root/hosts.parquet")
    // robots cache over the same 2 hosts: the takedown must erase the
    // policy TEXT too, not just the urls
    graft.operators.CrawlState.writeRobotsCache(
      graft.operators.CrawlState.buildRobotsCache(Seq(
        ("gone.org", "User-agent: *\nDisallow: /\n", "2024-01-01"),
        ("keep.org", "User-agent: *\nAllow: /\n", "2024-01-01"))
        .toDF("host", "txt", "fetched_at")), s"$root/rc")

    // dry run reports would-be counts and writes nothing
    val dry = Main.runTakedown(spark, Main.parseTakedown(Seq(
        "--dry-run", "--band", s"$root/band",
        "--doc-ids", s"$root/docids.parquet",
        "--frontier", s"$root/fr", "--hosts", s"$root/hosts.parquet",
        "--robots", s"$root/rc")))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    val dm = dry.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(dm(("band", "sets")) === ((4L, 2L)))
    assert(dm(("frontier", "urls")) === ((3L, 1L)))
    assert(dm(("robots", "robots")) === ((2L, 1L)))
    assert(graft.operators.Dedup.readBandIndex(spark, s"$root/band")
      .sets.count() === 4L) // unchanged

    // real run mutates through the swap
    val got = Main.runTakedown(spark, Main.parseTakedown(Seq(
        "--band", s"$root/band", "--doc-ids", s"$root/docids.parquet",
        "--frontier", s"$root/fr", "--hosts", s"$root/hosts.parquet",
        "--robots", s"$root/rc")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(("band", "sets")) === ((4L, 2L)))
    assert(got(("frontier", "urls")) === ((3L, 1L)))
    assert(got(("robots", "robots")) === ((2L, 1L)))
    assert(graft.operators.CrawlState.readRobotsCache(spark, s"$root/rc")
      .robots.collect().map(_.getString(0)).toSeq === Seq("keep.org"))
    assert(!Files.exists(JPath.of(s"$root/band.next")))
    assert(graft.operators.Dedup.readBandIndex(spark, s"$root/band")
      .sets.collect().map(_.getAs[Long]("id")).sorted.toSeq ===
      Seq(3L, 4L))
    assert(graft.operators.CrawlState.readUrlIndex(spark, s"$root/fr")
      .urls.collect().map(_.getString(0)).toSeq ===
      Seq("https://keep.org/c"))

    // validation is loud
    intercept[IllegalArgumentException] { Main.parseTakedown(Seq.empty) }
    intercept[IllegalArgumentException] { // band without ids
      Main.parseTakedown(Seq("--band", "/b")) }
    intercept[IllegalArgumentException] { // frontier needs urls XOR hosts
      Main.parseTakedown(Seq("--frontier", "/f", "--urls", "/u",
        "--hosts", "/h")) }
  }

  test("index CLI: band lifecycle — build/append/stats/erase/compact/merge") {
    import spark.implicits._
    val root = TempDirs.dir("graft-idx-cli")
    def corpus(ids: Range, drop: Int): Unit =
      ids.map(i => (i.toLong, ("alpha beta gamma delta epsilon zeta " +
          s"eta theta iota kappa v$i").split(" ").drop(drop).mkString(" ")))
        .toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$root/${if (drop == 0) "a" else "b"}.parquet")
    corpus(0 until 10, 0)
    corpus(10 until 15, 1)
    val idx = s"$root/band_idx"

    // dry-run reports would-be sizes and writes NOTHING
    val dry = Main.runIndex(spark, Main.parseIndex(Seq("build", "--kind",
      "band", "--index", idx, "--input", s"$root/a.parquet", "--dry-run")))
      .collect()
    assert(dry.forall(_.getString(0) == "would_write"))
    assert(!Files.exists(JPath.of(idx)))

    val built = indexRun("build", "--kind", "band", "--index", idx,
      "--input", s"$root/a.parquet")
    assert(built(("sets", 0L)) === 10L)

    val appended = indexRun("append", "--kind", "band", "--index", idx,
      "--input", s"$root/b.parquet")
    assert(appended(("sets", 0L)) === 15L)

    // the health report over the artifact: histogram masses the bands
    val stats = Main.runIndex(spark, Main.parseIndex(Seq("stats",
      "--kind", "band", "--index", idx))).collect()
    val bandsRows = appended(("bands", 0L))
    assert(stats.map(r => r.getLong(0) * r.getLong(1)).sum === bandsRows)

    // compaction preserves every row
    val compacted = indexRun("compact", "--kind", "band", "--index", idx,
      "--partitions", "2")
    assert(compacted === appended)

    // erasure returns the index to the pre-append state row-for-row
    (10L until 15L).toDF("id").write.mode("overwrite")
      .parquet(s"$root/gone.parquet")
    val erased = indexRun("erase", "--kind", "band", "--index", idx,
      "--ids", s"$root/gone.parquet")
    assert(erased === built)

    // merge with an index built over the second corpus == append result
    val idxB = s"$root/band_idx_b"
    indexRun("build", "--kind", "band", "--index", idxB,
      "--input", s"$root/b.parquet")
    val merged = indexRun("merge", "--kind", "band", "--index", idx,
      "--other", idxB)
    assert(merged === appended)

    // the daily screen: corpus b (near-copies of a) against the index
    // — every b doc finds its a original, never itself
    val hits = Main.runIndex(spark, Main.parseIndex(Seq("check",
        "--kind", "band", "--index", idx, "--input", s"$root/b.parquet")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.nonEmpty)
    assert(hits.forall { case (n, b, j) =>
      n >= 10 && j >= 0.5 && n != b })

    // rebuilding over a LIVE artifact routes through the retire-aside
    // swap (never a delete-then-rewrite of the asset): result equals a
    // fresh build and no .next staging dir survives
    val rebuilt = indexRun("build", "--kind", "band", "--index", idx,
      "--input", s"$root/a.parquet")
    assert(rebuilt === built)
    assert(!Files.exists(JPath.of(s"$idx.next")))
    // artifact still readable after the swap
    val statsAfter = Main.runIndex(spark, Main.parseIndex(Seq("stats",
      "--kind", "band", "--index", idx))).collect()
    assert(statsAfter.map(r => r.getLong(0) * r.getLong(1)).sum ===
      built(("bands", 0L)))
  }

  test("index CLI: ivf lifecycle — build/append/stats/erase/compact") {
    import spark.implicits._
    val root = TempDirs.dir("graft-idx-ivf")
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val a = vecs(0 until 30)
    val b = vecs(30 until 40)
    a.toDF("vec_id", "embedding").write.parquet(s"$root/a.parquet")
    b.toDF("vec_id", "embedding").write.parquet(s"$root/b.parquet")
    a.take(4).map { case (id, v) => (id.toInt, v) }.toDF("cid", "cv")
      .write.parquet(s"$root/cents.parquet")
    val idx = s"$root/ivf_idx"

    val built = indexRun("build", "--kind", "ivf", "--index", idx,
      "--input", s"$root/a.parquet", "--centroids", s"$root/cents.parquet")
    assert(built(("lists", 0L)) === 30L && built(("centroids", 0L)) === 4L)

    val appended = indexRun("append", "--kind", "ivf", "--index", idx,
      "--input", s"$root/b.parquet")
    assert(appended(("lists", 0L)) === 40L)

    // health report: list sizes mass the corpus, one imbalance factor
    val stats = Main.runIndex(spark, Main.parseIndex(Seq("stats",
      "--kind", "ivf", "--index", idx))).collect()
    assert(stats.map(r => r.getLong(0) * r.getLong(1)).sum === 40L)
    assert(stats.map(_.getLong(2)).distinct.length === 1)
    assert(stats.head.getLong(2) >= 1000000L) // imbalance >= 1 by definition

    val compacted = indexRun("compact", "--kind", "ivf", "--index", idx,
      "--partitions", "2")
    assert(compacted === appended)

    (30L until 40L).toDF("id").write.parquet(s"$root/gone.parquet")
    val erased = indexRun("erase", "--kind", "ivf", "--index", idx,
      "--ids", s"$root/gone.parquet")
    assert(erased === built)

    // the neighbor screen: every query gets k ranked hits, none itself
    val hits = Main.runIndex(spark, Main.parseIndex(Seq("check",
        "--kind", "ivf", "--index", idx, "--input", s"$root/b.parquet",
        "--k", "2")))
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id")))
    assert(hits.groupBy(_._1).forall(_._2.length == 2))
    assert(hits.forall { case (q, _, n) => q != n })
  }
}
