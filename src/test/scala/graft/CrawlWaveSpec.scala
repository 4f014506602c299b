package graft

import org.apache.spark.sql.functions._

import graft.operators.CrawlState

/** Round-16 crawlWave hardening: the robots gate bounded to the
  * wave's hosts, the banded schedule's rank == the single-window
  * rank row for row under mega-host skew, and the trap budget
  * enforcing `f_trap_report`'s per-(host, template) signal inside
  * pipeline D instead of reporting it.
  */
class CrawlWaveSpec extends SparkSpec {
  import spark.implicits._

  private def freshArtifacts(seen: Seq[String]): String = {
    val root = TempDirs.dir("graft-wave").toString
    CrawlState.writeUrlIndex(
      CrawlState.buildUrlIndex(seen.toDF("url")), s"$root/frontier")
    CrawlState.writeFetchLog(
      CrawlState.buildFetchLog(
        seen.map(u => (u, "2024-01-01")).toDF("url", "fetched_at")),
      s"$root/log")
    root
  }

  test("robots gate is bounded to the wave's hosts; AQE broadcasts") {
    val root = freshArtifacts(Seq("https://a.org/d/1"))
    val wave = Seq("https://a.org/d/2", "https://b.org/p/1").toDF("url")
    val waveRobots = Seq(
      ("a.org", "User-agent: *\nDisallow: /x/\n"),
      ("b.org", "User-agent: *\nDisallow: /p/\n")).toDF("host", "txt")
    // 500 extra hosts the wave never touches — the "every host ever
    // seen" table a real crawl maintains
    val bigRobots = waveRobots.unionByName(
      spark.range(500).select(concat(lit("z"), col("id"), lit(".org"))
        .as("host"), lit("User-agent: *\nDisallow: /\n").as("txt")))
    def run(robots: org.apache.spark.sql.DataFrame) =
      Pipelines.crawlWave(spark, wave, robots, s"$root/frontier",
        s"$root/log", java.sql.Timestamp.valueOf("2024-02-01 09:00:00"),
        "w", dryRun = true)._1.collect()
        .map(r => r.getString(0) ->
          ((r.getBoolean(3), r.getBoolean(4)))).toMap
    // identical decisions whether the robots table is wave-sized or
    // crawl-sized: the gate must act only on the wave's own hosts
    val small = run(waveRobots)
    val big = run(bigRobots)
    assert(small === big)
    assert(small("https://b.org/p/1") === ((false, false))) // blocked
    assert(small("https://a.org/d/2") === ((true, true)))
    // the bound itself: one left-semi join restricts BEFORE parsing,
    // and there is no forced broadcast hint on the rules frame
    val rules = Pipelines.boundedRobotsRules(bigRobots,
      wave.select(CrawlState.hostOf(
        graft.functions.Urls.canonicalizeUrl(col("url"))).as("host"))
        .distinct())
    assert(rules.count() === 2L) // 502-host table → 2 wave hosts
    val plan = rules.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("ResolvedHint"), plan)
  }

  test("wave served from the robots cache: stale policies withhold") {
    // a.org's cached policy aged out (withheld → crawl default
    // allows), b.org's fresh policy enforces — the robots gate runs
    // off freshRobots(cache), never off a copy the site may have
    // changed
    val root = freshArtifacts(Seq("https://a.org/d/999"))
    val cache = CrawlState.buildRobotsCache(Seq(
      ("a.org", "User-agent: *\nDisallow: /\n", "2024-01-01 00:00:00"),
      ("b.org", "User-agent: *\nDisallow: /p/\n", "2024-01-31 12:00:00"))
      .toDF("host", "txt", "fetched_at"))
    val wave = Seq("https://a.org/p/1", "https://b.org/p/1",
      "https://b.org/ok").toDF("url")
    val (dec, _) = Pipelines.crawlWave(spark, wave,
      CrawlState.freshRobots(cache,
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 48L),
      s"$root/frontier", s"$root/log",
      java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "w",
      dryRun = true)
    val got = dec.collect().map(r => r.getString(0) ->
      r.getBoolean(4)).toMap // fetch
    assert(got === Map(
      "https://a.org/p/1" -> true,  // stale policy withheld
      "https://b.org/p/1" -> false, // fresh policy enforced
      "https://b.org/ok" -> true))
  }

  test("banded schedule == single-window rank under mega-host skew") {
    // one host owns 90% of the wave — the skew that used to put the
    // whole host's sort into ONE task; the banded rank must equal
    // row_number over (host, fetch) ordered by (md5(url), url)
    val root = freshArtifacts(Seq("https://mega.org/d/0"))
    val wave = spark.range(900)
      .select(concat(lit("https://mega.org/d/"), col("id")).as("url"))
      .unionByName(spark.range(100).select(
        concat(lit("https://t"), col("id") % 10, lit(".org/d/"),
          col("id")).as("url")))
    val (dec, _) = Pipelines.crawlWave(spark, wave,
      Seq.empty[(String, String)].toDF("host", "txt"),
      s"$root/frontier", s"$root/log",
      java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "w",
      dryRun = true)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host"), col("fetch"))
      .orderBy(md5(col("url")).asc, col("url").asc)
    val mismatch = dec
      .withColumn("__expect", row_number().over(w).cast("long"))
      .filter(col("fetch") && col("rank") =!= col("__expect"))
    assert(mismatch.isEmpty, mismatch.collect().take(5).mkString("\n"))
    // ranks are a contiguous 1..n per host
    val mega = dec.filter(col("host") === "mega.org" && col("fetch"))
    assert(mega.agg(min("rank"), max("rank"), count(lit(1))).collect()
      .head.toSeq === Seq(1L, 899L, 899L)) // d/0 is known
    // and the pacing arithmetic rides the same rank
    assert(dec.filter(col("fetch") &&
      col("fetch_at_ms") =!= (col("rank") - 1) * 1000).isEmpty)
  }

  test("trap budget: per-(host, template) cap, funnel row, honest decisions") {
    val root = freshArtifacts(Seq("https://a.org/d/999"))
    // a.org: 8 real pages (/d/#) + a 20-url calendar trap
    // (/cal?m=#&y=#); b.org: 3 real pages — the cap must bound the
    // trap template without starving real pages or other hosts
    val wave =
      (1 to 8).map(i => s"https://a.org/d/$i") ++
      (1 to 20).map(i => s"https://a.org/cal?y=${2000 + i}&m=${i % 12}") ++
      (1 to 3).map(i => s"https://b.org/d/$i")
    val (dec, funnel) = Pipelines.crawlWave(spark, wave.toDF("url"),
      Seq.empty[(String, String)].toDF("host", "txt"),
      s"$root/frontier", s"$root/log",
      java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "w",
      trapCap = Some(5L), ledgerPath = Some(s"$root/ledger"))
    val byKind = dec.groupBy(col("host"),
        CrawlState.urlTemplate(col("url")).as("tmpl"))
      .agg(sum(when(col("fetch"), 1L).otherwise(0L)).as("n_fetch"),
        sum(when(col("trap_capped"), 1L).otherwise(0L)).as("n_capped"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(byKind(("a.org", "/cal?m=#&y=#")) === ((5L, 15L)))
    assert(byKind(("a.org", "/d/#")) === ((5L, 3L))) // capped too: same shape
    assert(byKind(("b.org", "/d/#")) === ((3L, 0L)))
    // the funnel carries the enforcement count
    val f = funnel.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f("trap_capped") === 18L)
    assert(f("fetched") === 13L)
    // capped urls do NOT enter the seen set — a later wave may spend
    // fresh budget on them
    val seen = CrawlState.readUrlIndex(spark, s"$root/frontier")
      .urls.count()
    assert(seen === 1L + 13L)
    // and without a cap there is no phantom column or funnel row
    val root2 = freshArtifacts(Seq("https://a.org/d/999"))
    val (dec2, f2) = Pipelines.crawlWave(spark, wave.toDF("url"),
      Seq.empty[(String, String)].toDF("host", "txt"),
      s"$root2/frontier", s"$root2/log",
      java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "w",
      dryRun = true)
    assert(!dec2.columns.contains("trap_capped"))
    assert(!f2.collect().map(_.getString(0)).contains("trap_capped"))
    intercept[IllegalArgumentException] {
      Pipelines.crawlWave(spark, wave.toDF("url"),
        Seq.empty[(String, String)].toDF("host", "txt"),
        s"$root2/frontier", s"$root2/log",
        java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), "w",
        trapCap = Some(0L), dryRun = true)
    }
  }
}
