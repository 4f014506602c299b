package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.CrawlState

/** Lifecycle laws for the persisted crawl-frontier URL-seen index —
  * the same discipline the band/IVF artifacts carry: build/merge/erase
  * identities row-for-row, canonical-form collapse, screen semantics,
  * and the parquet round trip.
  */
class CrawlStateSpec extends SparkSpec {
  import spark.implicits._

  private def urlSet(idx: CrawlState.UrlIndex): Set[(String, String)] =
    idx.urls.collect().map(r => (r.getAs[String]("url"),
      r.getAs[String]("host"))).toSet

  test("build: canonicalization collapses surface forms; hosts extracted") {
    val idx = CrawlState.buildUrlIndex(Seq(
      "https://ex1.org/d/1",
      "HTTPS://EX1.ORG:443/d/1#top",          // same canonical url
      "https://ex1.org/d/1?utm_source=feed",  // tracking param vanishes
      "https://ex2.org/p/9",
      "not a url").toDF("url"))
    assert(urlSet(idx) === Set(
      ("https://ex1.org/d/1", "ex1.org"),
      ("https://ex2.org/p/9", "ex2.org")))
  }

  test("laws: build(A∪B) == merge(build(A), build(B)); append idempotent") {
    val a = (1 to 40).map(i => s"https://ex${i % 4}.org/a/$i")
    val b = (30 to 60).map(i => s"https://ex${i % 4}.org/a/$i") // overlap
    val whole = CrawlState.buildUrlIndex((a ++ b).toDF("url"))
    val merged = CrawlState.mergeUrlIndex(
      CrawlState.buildUrlIndex(a.toDF("url")),
      CrawlState.buildUrlIndex(b.toDF("url")))
    assert(urlSet(whole) === urlSet(merged))
    // appending an already-seen wave changes nothing
    val again = CrawlState.appendUrls(merged, b.toDF("url"))
    assert(urlSet(again) === urlSet(merged))
  }

  test("laws: erase(build(A∪B), B) == build(A); by-host takedown") {
    val a = (1 to 20).map(i => s"https://keep.org/a/$i")
    val b = (1 to 10).map(i => s"https://gone.org/b/$i")
    val whole = CrawlState.buildUrlIndex((a ++ b).toDF("url"))
    // url-level erase accepts any surface form (canonicalized first)
    val bSurface = (1 to 10).map(i => s"HTTPS://GONE.ORG:443/b/$i#x")
    val erased = CrawlState.eraseUrls(whole, bSurface.toDF("url"))
    assert(urlSet(erased) === urlSet(CrawlState.buildUrlIndex(a.toDF("url"))))
    // host-level takedown drops every url of the host, url list unseen;
    // the request's casing/padding must not matter (hosts canonicalize
    // before the anti-join — `Gone.ORG` names the same host)
    val taken = CrawlState.eraseHosts(whole, Seq(" Gone.ORG ").toDF("host"))
    assert(urlSet(taken) === urlSet(erased))
  }

  test("screen: canonical candidates flag known/unknown; stats histogram") {
    val idx = CrawlState.buildUrlIndex(
      (1 to 6).map(i => s"https://ex${i % 2}.org/d/$i").toDF("url"))
    val screened = CrawlState.screenUrls(Seq(
        "HTTPS://EX1.ORG/d/1",             // seen (canonical collapse)
        "https://ex1.org/d/999",           // unseen
        "https://ex1.org/d/999?utm_x=1"    // same canonical → ONE row
      ).toDF("url"), idx)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(screened.toSet === Set(
      ("https://ex1.org/d/1", "ex1.org", true),
      ("https://ex1.org/d/999", "ex1.org", false)))
    val hist = CrawlState.urlIndexStats(idx).collect()
      .map(r => r.getAs[Long]("host_size") -> r.getAs[Long]("n_hosts"))
    assert(hist.toSeq === Seq(3L -> 2L)) // 2 hosts x 3 urls each
  }

  test("canonical resolution: chains collapse; screen law; cycles bound") {
    // chains a3→a2→a1→a0 and b1→b0; a0/b0 are chain heads (no edge)
    val edges = Seq(
      ("https://ex.org/a3", "https://ex.org/a2"),
      ("HTTPS://EX.ORG/a2?utm_x=1", "https://ex.org/a1#frag"), // canon
      ("https://ex.org/a1", "https://ex.org/a0"),
      ("https://ex.org/b1", "https://ex.org/b0"),
      ("https://ex.org/self", "https://ex.org/self") // self-loop drops
    ).toDF("url", "canonical")
    val res = CrawlState.resolveCanonical(edges)
    val got = res.collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === Map(
      "https://ex.org/a3" -> (("https://ex.org/a0", 3L)),
      "https://ex.org/a2" -> (("https://ex.org/a0", 2L)),
      "https://ex.org/a1" -> (("https://ex.org/a0", 1L)),
      "https://ex.org/b1" -> (("https://ex.org/b0", 1L))))
    // LAW: screening candidates after resolution == screening their
    // final urls directly — a page reached via 3 aliases fetches once
    val idx = CrawlState.buildUrlIndex(
      Seq("https://ex.org/a0").toDF("url"))
    val cands = Seq("https://ex.org/a3", "https://ex.org/a2",
      "https://ex.org/a0", "https://ex.org/b1").toDF("url")
    val viaResolve = CrawlState.screenUrls(
      CrawlState.resolveUrls(cands, res)
        .select(col("final_url").as("url")), idx)
    val viaFinals = CrawlState.screenUrls(Seq(
      "https://ex.org/a0", "https://ex.org/b0").toDF("url"), idx)
    val canon = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(canon(viaResolve) === canon(viaFinals))
    assert(canon(viaResolve) === Set(
      ("https://ex.org/a0", "ex.org", true),   // 3 aliases → ONE row
      ("https://ex.org/b0", "ex.org", false)))
    // a CYCLE terminates at the depth bound with a deterministic
    // endpoint instead of looping
    val cyc = CrawlState.resolveCanonical(Seq(
        ("https://ex.org/c1", "https://ex.org/c2"),
        ("https://ex.org/c2", "https://ex.org/c1")).toDF("url", "canonical"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cyc.keySet === Set("https://ex.org/c1", "https://ex.org/c2"))
    assert(Set("https://ex.org/c1", "https://ex.org/c2")
      .contains(cyc("https://ex.org/c1")))
  }

  test("fetch log: latest-wins laws, idempotent append, erase, stats") {
    // the log stores TIMESTAMPS (intraday staleness); date-string
    // inputs cast to midnight, and all laws hold at the new type
    def logSet(l: CrawlState.FetchLog): Set[(String, String)] =
      l.fetches.collect().map(r =>
        (r.getString(0), r.getTimestamp(1).toString)).toSet
    val a = Seq(("https://ex.org/p1", "2024-01-10"),
      ("https://ex.org/p2", "2024-01-12")).toDF("url", "fetched_at")
    val b = Seq(
      ("HTTPS://EX.ORG/p1?utm_x=1", "2024-01-20"), // refetch, canonical
      ("https://ex.org/p3", "2024-01-05")).toDF("url", "fetched_at")
    val merged = CrawlState.mergeFetchLog(
      CrawlState.buildFetchLog(a), CrawlState.buildFetchLog(b))
    // merge == build of the union under max
    assert(logSet(merged) ===
      logSet(CrawlState.buildFetchLog(a.unionByName(b))))
    assert(logSet(merged) === Set(
      ("https://ex.org/p1", "2024-01-20 00:00:00.0"), // newer fetch won
      ("https://ex.org/p2", "2024-01-12 00:00:00.0"),
      ("https://ex.org/p3", "2024-01-05 00:00:00.0")))
    // an INTRADAY refetch advances the row at timestamp precision
    val intraday = CrawlState.appendFetches(merged,
      Seq(("https://ex.org/p2", "2024-01-12 15:30:00"))
        .toDF("url", "fetched_at"))
    assert(logSet(intraday).contains(
      ("https://ex.org/p2", "2024-01-12 15:30:00.0")))
    // appending an OLDER fetch is a row-for-row no-op; re-append idem
    val older = CrawlState.appendFetches(merged,
      Seq(("https://ex.org/p1", "2024-01-01")).toDF("url", "fetched_at"))
    assert(logSet(older) === logSet(merged))
    assert(logSet(CrawlState.appendFetches(merged, b)) === logSet(merged))
    // erase accepts any surface form
    val gone = CrawlState.eraseFetches(merged,
      Seq("HTTPS://EX.ORG:443/p1#top").toDF("url"))
    assert(logSet(gone).map(_._1) ===
      Set("https://ex.org/p2", "https://ex.org/p3"))
    // round trip + stats histogram
    val root = TempDirs.dir("graft-fetchlog").toString
    CrawlState.writeFetchLog(merged, s"$root/log")
    assert(logSet(CrawlState.readFetchLog(spark, s"$root/log")) ===
      logSet(merged))
    val st = CrawlState.fetchLogStats(merged).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1))
    assert(st.toSeq === Seq("2024-01-05" -> 1L, "2024-01-12" -> 1L,
      "2024-01-20" -> 1L))
  }

  test("urlTemplateStats: traps collapse to one template; singletons drop") {
    val urls = (
      // a calendar trap: 5 distinct urls, ONE template (values +
      // digits collapse; canonicalization sorts the params)
      (1 to 5).map(i => s"https://ex.org/cal?y=${2000 + i}&m=$i") ++
      // distinct page ids under one path shape
      (1 to 3).map(i => s"https://ex.org/d/$i") ++
      // surface variants of ONE url must not double-count (distinct
      // on the canonical form)
      Seq("https://ex.org/d/1?utm_source=x", "HTTPS://EX.ORG:443/d/1") ++
      // a singleton template drops under minUrls = 2
      Seq("https://ex.org/about")
    ).toDF("url")
    val got = CrawlState.urlTemplateStats(urls).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("ex.org", "/cal?m=#&y=#") -> 5L,
      ("ex.org", "/d/#") -> 3L))
  }

  test("robots cache: latest wins, older is a no-op, TTL report, erase") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      ("A.ORG ", "v1", "2024-01-01 00:00:00"),
      ("a.org", "v2", "2024-01-10 00:00:00"),
      ("b.org", "w1", "2024-01-31 12:00:00")).toDF("host", "txt", "fetched_at")
    val c = CrawlState.buildRobotsCache(obs)
    // hosts canonicalize; the newer observation wins
    assert(c.robots.collect().map(r =>
        r.getString(0) -> r.getString(1)).toMap ===
      Map("a.org" -> "v2", "b.org" -> "w1"))
    // merge == build-of-union; appending an OLDER policy is a no-op
    val older = Seq(("a.org", "v0", "2023-12-01 00:00:00"))
      .toDF("host", "txt", "fetched_at")
    val app = CrawlState.appendRobots(c, older)
    assert(app.robots.collect().toSet === c.robots.collect().toSet)
    // round trip + TTL: at Feb-1 with ttl 48h, a.org (22 days) is
    // stale, b.org (12h) is fresh — and freshRobots serves only b
    val root = TempDirs.dir("graft-robots").toString
    CrawlState.writeRobotsCache(c, s"$root/cache")
    val rt = CrawlState.readRobotsCache(spark, s"$root/cache")
    val rep = CrawlState.staleRobots(rt, ts("2024-02-01 00:00:00"), 48L)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("age_h"), r.getAs[Boolean]("stale")))).toMap
    assert(rep === Map("a.org" -> ((528L, true)),
      "b.org" -> ((12L, false))))
    assert(CrawlState.freshRobots(rt, ts("2024-02-01 00:00:00"), 48L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("b.org", "w1")))
    // per-host takedown erases the policy text too
    val erased = CrawlState.eraseRobots(rt, Seq("A.org").toDF("host"))
    assert(erased.robots.collect().map(_.getString(0)).toSeq ===
      Seq("b.org"))
    intercept[IllegalArgumentException] {
      CrawlState.staleRobots(rt, ts("2024-02-01 00:00:00"), -1L)
    }
  }

  test("frontierPriority: known linkers vote, hearsay drops, zero rides") {
    val idx = CrawlState.buildUrlIndex(Seq(
      "https://a.org/1", "https://a.org/2").toDF("url"))
    val edges = Seq(
      // two known pages vote for /t — priority 2
      ("https://a.org/1", "https://a.org/t"),
      ("https://a.org/2", "https://a.org/t"),
      // duplicate (src,dst) after canonicalization collapses to one
      ("HTTPS://A.ORG:443/2?utm_x=1", "https://a.org/t#frag"),
      // a known page votes for an already-known page too
      ("https://a.org/1", "https://a.org/2"),
      // hearsay: the linker was never crawled — vote drops, but the
      // candidate still appears at priority 0
      ("https://a.org/unseen", "https://b.org/h"),
      // self-link drops entirely
      ("https://a.org/1", "https://a.org/1")).toDF("src", "dst")
    val got = CrawlState.frontierPriority(edges, idx).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(got === Map(
      "https://a.org/t" -> (("a.org", false, 2L)),
      "https://a.org/2" -> (("a.org", true, 1L)),
      "https://b.org/h" -> (("b.org", false, 0L))))
  }

  test("discoveryBudget: top-k by priority, known excluded, group-limit plan") {
    val pr = Seq(
      ("https://a.org/hub", "a.org", false, 9L),
      ("https://a.org/n1", "a.org", false, 1L),
      ("https://a.org/n2", "a.org", false, 1L), // tie → url asc
      ("https://a.org/n3", "a.org", false, 0L),
      ("https://a.org/old", "a.org", true, 50L), // known never selects
      ("https://b.org/x", "b.org", false, 0L))
      .toDF("url", "host", "known", "priority")
    val sel = CrawlState.discoveryBudget(pr, perHost = 3L)
    assert(sel.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      === Map("https://a.org/hub" -> 1L, "https://a.org/n1" -> 2L,
        "https://a.org/n2" -> 3L, "https://b.org/x" -> 1L))
    // the rank<=k filter must compile to WindowGroupLimit: per-
    // partition top-k heaps, never a mega-host's full sort
    assert(sel.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
    intercept[IllegalArgumentException] {
      CrawlState.discoveryBudget(pr, perHost = 0L)
    }
  }

  test("scheduleEta: last politeness slot per host against the horizon") {
    val dec = Seq(
      ("a.org", true, Some(0L)), ("a.org", true, Some(2000L)),
      ("a.org", true, Some(4000L)),
      ("b.org", true, Some(0L)), ("b.org", true, Some(5000L)),
      // blocked/known rows carry no slot and must not count
      ("b.org", false, None), ("c.org", false, None))
      .toDF("host", "fetch", "fetch_at_ms")
    val got = CrawlState.scheduleEta(dec, horizonMs = 4000L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.getAs[java.lang.Long]("last_slot_ms")).map(_.toLong),
        r.getBoolean(3)))).toMap
    assert(got === Map(
      "a.org" -> ((3L, Some(4000L), true)),
      "b.org" -> ((2L, Some(5000L), false)),
      // a host with nothing to fetch trivially drains
      "c.org" -> ((0L, None, true))))
    intercept[IllegalArgumentException] {
      CrawlState.scheduleEta(dec, horizonMs = -1L)
    }
  }

  test("fetch log: compaction preserves the set; retention retires old copies") {
    def logSet(l: CrawlState.FetchLog): Set[(String, String)] =
      l.fetches.collect().map(r =>
        (r.getString(0), r.getTimestamp(1).toString)).toSet
    val root = TempDirs.dir("graft-fetchlog-cmp").toString
    val log = CrawlState.buildFetchLog(Seq(
      ("https://ex.org/p1", "2024-01-05 10:00:00"),
      ("https://ex.org/p2", "2024-01-12 09:00:00"),
      ("https://ex.org/p3", "2024-01-20 09:00:00"))
      .toDF("url", "fetched_at"))
    CrawlState.writeFetchLog(log, s"$root/log")
    // plain compaction: set-preserving rewrite clustered by url
    CrawlState.compactFetchLog(spark, s"$root/log", partitions = 2)
    assert(logSet(CrawlState.readFetchLog(spark, s"$root/log")) ===
      logSet(log))
    // age-based retention: copies older than the cutoff retire; the
    // cutoff itself is inclusive-kept (>=)
    CrawlState.compactFetchLog(spark, s"$root/log", 2,
      Some(java.sql.Timestamp.valueOf("2024-01-12 09:00:00")))
    assert(logSet(CrawlState.readFetchLog(spark, s"$root/log")) === Set(
      ("https://ex.org/p2", "2024-01-12 09:00:00.0"),
      ("https://ex.org/p3", "2024-01-20 09:00:00.0")))
    // retire-aside swap leaves no residue
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log.compact")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/log.old")))
    // a retired url reclassifies `new` on its next declaration — the
    // forgot-my-copy semantics retention promises
    val plan = graft.sources.Sitemaps.recrawlPlan(
      Seq(("https://ex.org/p1", "2024-01-02")).toDF("url", "lastmod"),
      CrawlState.readFetchLog(spark, s"$root/log").fetches).collect()
    assert(plan.length === 1 &&
      plan(0).getAs[String]("status") === "new")
  }

  test("parquet round trip + compact preserve the url set") {
    val root = TempDirs.dir("graft-urlseen").toString
    val idx = CrawlState.buildUrlIndex(
      (1 to 50).map(i => s"https://ex${i % 5}.org/d/$i").toDF("url"))
    CrawlState.writeUrlIndex(idx, s"$root/idx")
    val back = CrawlState.readUrlIndex(spark, s"$root/idx")
    assert(urlSet(back) === urlSet(idx))
    CrawlState.compactUrlIndex(spark, s"$root/idx", partitions = 4)
    val compacted = CrawlState.readUrlIndex(spark, s"$root/idx")
    assert(urlSet(compacted) === urlSet(idx))
    // clustered into at most 4 part files
    val parts = new java.io.File(s"$root/idx/urls").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts <= 4)
  }
}
