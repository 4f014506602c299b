package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sitemaps

/** Laws for the production sitemap read path: gzip inflation, root
  * classification, loc extraction (trim + entity decode + protocol
  * cap), nested-index resolution with the depth bound, and the
  * never-crash contract on hostile payloads.
  */
class SitemapsSpec extends SparkSpec {
  import spark.implicits._

  private def gz(text: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(text.getBytes(StandardCharsets.UTF_8)); g.close()
    bos.toByteArray
  }

  private def payloads(rows: (String, Array[Byte])*) =
    rows.toDF("sitemap_url", "content")

  test("parse: classify, extract, trim, entity-decode; gzip inflates") {
    val xml = "<urlset><url><loc> https://ex.org/a?x=1&amp;y=2 </loc>" +
      "</url><url><loc>https://ex.org/&lt;odd&gt;</loc></url></urlset>"
    val got = Sitemaps.parse(payloads(
        ("https://ex.org/sitemap.xml",
          xml.getBytes(StandardCharsets.UTF_8)),
        ("https://ex.org/sitemap2.xml.gz", gz(xml)),
        ("https://ex.org/idx.xml",
          ("<sitemapindex><sitemap><loc>https://ex.org/leaf.xml</loc>" +
            "</sitemap></sitemapindex>").getBytes(StandardCharsets.UTF_8)),
        ("https://ex.org/junk.bin", Array[Byte](1, 2, 3))))
      .collect()
      .map(r => r.getAs[String]("file") ->
        ((r.getAs[String]("kind"), r.getAs[scala.collection.Seq[String]]("locs").toSeq)))
      .toMap
    val wantLocs =
      Seq("https://ex.org/a?x=1&y=2", "https://ex.org/<odd>")
    assert(got("sitemap.xml") === (("urlset", wantLocs)))
    assert(got("sitemap2.xml.gz") === (("urlset", wantLocs))) // inflated
    assert(got("idx.xml") ===
      (("sitemapindex", Seq("https://ex.org/leaf.xml"))))
    assert(got("junk.bin")._1 === null) // hostile bytes stay selectable
    // host/file keys come from the url
    val keys = Sitemaps.parse(payloads(("https://ex.org/sitemap.xml",
        xml.getBytes(StandardCharsets.UTF_8)))).collect()(0)
    assert(keys.getAs[String]("host") === "ex.org" &&
      keys.getAs[String]("file") === "sitemap.xml")
  }

  test("parse: the protocol's 50k cap is a SLICE (here cap=3)") {
    val many = (1 to 10)
      .map(i => s"<url><loc>https://ex.org/p/$i</loc></url>").mkString
    val got = Sitemaps.parse(payloads(("https://ex.org/sitemap.xml",
        s"<urlset>$many</urlset>".getBytes(StandardCharsets.UTF_8))),
        cap = 3)
      .collect()(0).getAs[scala.collection.Seq[String]]("locs").toSeq
    assert(got === Seq("https://ex.org/p/1", "https://ex.org/p/2",
      "https://ex.org/p/3"))
  }

  test("gunzip expression: magic-gated, corrupt-null, bomb guard") {
    val T = graft.expressions.TextExprs
    def run(bytes: Array[Byte]) =
      Seq(Tuple1(bytes)).toDF("b")
        .select(T.gunzipText(col("b")).as("t")).collect()(0)
    assert(run("plain text".getBytes(StandardCharsets.UTF_8))
      .getString(0) === "plain text")
    assert(run(gz("inflated text")).getString(0) === "inflated text")
    // gzip magic but corrupt stream → null, not an exception
    val corrupt = gz("x").take(6)
    assert(run(corrupt).isNullAt(0))
    // over-cap decompressed output → null (bomb guard)
    val big = gz("a" * 1000)
    val capped = Seq(Tuple1(big)).toDF("b")
      .select(org.apache.spark.sql.graft.Bridge.column(
        graft.expressions.GunzipText(
          org.apache.spark.sql.graft.Bridge.expression(col("b")),
          maxBytes = 100)).as("t")).collect()(0)
    assert(capped.isNullAt(0))
  }

  test("entries: per-block loc+lastmod, multiline blocks, w3c forms") {
    val xml = "<urlset>\n  <url>\n    <loc> https://ex.org/a </loc>\n" +
      "    <lastmod>2024-03-05T09:30:00+00:00</lastmod>\n  </url>\n" +
      "  <url><loc>https://ex.org/b?x=1&amp;y=2</loc></url>\n</urlset>"
    val got = Sitemaps.parse(payloads(("https://ex.org/sitemap.xml",
        xml.getBytes(StandardCharsets.UTF_8))))
      .select(explode(col("entries")).as("e"))
      .select(col("e.url"), col("e.lastmod")).collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    assert(got.toSeq === Seq(
      ("https://ex.org/a", Some("2024-03-05T09:30:00+00:00")),
      ("https://ex.org/b?x=1&y=2", None))) // no lastmod → null
  }

  test("recrawlPlan: new/stale/fresh/unknown; canonical + latest win") {
    val entries = Seq(
      ("https://ex.org/p1", "2024-01-20"),            // stale
      ("HTTPS://EX.ORG/p1?utm_x=1", "2024-01-02"),    // same canonical:
      // the LATEST declared lastmod (01-20) wins → still stale
      ("https://ex.org/p2", "2024-01-10T08:00:00Z"),  // fresh (w3c form)
      ("https://ex.org/p3", null),                    // fetched, no signal
      ("https://ex.org/p4", "2024-01-01")             // never fetched
    ).toDF("url", "lastmod")
    val log = Seq(("https://ex.org/p1", "2024-01-15"),
      ("https://ex.org/p2", "2024-01-15"), ("https://ex.org/p3", "2024-01-15"))
      .toDF("url", "d")
      .select(col("url"), to_date(col("d")).as("fetched_at"))
    val got = Sitemaps.recrawlPlan(entries, log).collect()
      .map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(got === Map(
      "https://ex.org/p1" -> "stale",
      "https://ex.org/p2" -> "fresh",
      "https://ex.org/p3" -> "unknown",
      "https://ex.org/p4" -> "new"))
    assert(got.size === 4) // canonical collapse: p1 appears once
  }

  test("recrawlPlan: timestamp precision — same-day updates are stale") {
    // every page fetched 09:00 on 2024-01-15
    val log = Seq("https://ex.org/a", "https://ex.org/b",
        "https://ex.org/c", "https://ex.org/d", "https://ex.org/e")
      .toDF("url")
      .select(col("url"),
        to_timestamp(lit("2024-01-15 09:00:00")).as("fetched_at"))
    val entries = Seq(
      // declared-modified SAME DAY after the fetch → stale (the old
      // date-granularity semantics silently said fresh)
      ("https://ex.org/a", "2024-01-15T17:00:00Z"),
      // same day BEFORE the fetch → fresh (timestamp precision cuts
      // both ways)
      ("https://ex.org/b", "2024-01-15T08:30:00+00:00"),
      // date-ONLY declaration on the fetch day degrades to date
      // granularity: not after → fresh
      ("https://ex.org/c", "2024-01-15"),
      // offset form: 18:00+02:00 = 16:00Z > 09:00Z → stale; the
      // fractional second truncates
      ("https://ex.org/d", "2024-01-15T18:00:00.25+02:00"),
      // unparseable (year-month only) degrades to unknown, no error
      ("https://ex.org/e", "2024-01")
    ).toDF("url", "lastmod")
    val got = Sitemaps.recrawlPlan(entries, log).collect()
      .map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(got === Map(
      "https://ex.org/a" -> "stale",
      "https://ex.org/b" -> "fresh",
      "https://ex.org/c" -> "fresh",
      "https://ex.org/d" -> "stale",
      "https://ex.org/e" -> "unknown"))
    // a mirror declaring date-only alongside a SAME-instant
    // timestamped form keeps the timestamped one (tie prefers
    // has_time), and a null-lastmod mirror never outranks a dated one
    val mixed = Seq(
      ("https://ex.org/a", "2024-01-15T17:00:00Z"),
      ("https://ex.org/a", null)).toDF("url", "lastmod")
    val m = Sitemaps.recrawlPlan(mixed, log).collect()
    assert(m.length === 1 && m(0).getAs[String]("status") === "stale" &&
      m(0).getAs[Boolean]("lastmod_has_time"))
  }

  test("expand: nested index resolves to leaves; depth bound holds") {
    val root = TempDirs.dir("graft-sm").toString
    val host = Files.createDirectories(
      java.nio.file.Paths.get(root, "ex.org"))
    def write(name: String, text: String): Unit =
      Files.write(host.resolve(name),
        text.getBytes(StandardCharsets.UTF_8))
    // entry index → mid index (gz) → two leaves; plus a never-fetched
    // declared leaf and a CYCLE back to the entry
    write("sitemap.xml",
      "<sitemapindex><sitemap><loc>https://ex.org/mid.xml.gz</loc>" +
        "</sitemap><sitemap><loc>https://ex.org/ghost.xml</loc>" +
        "</sitemap></sitemapindex>")
    Files.write(host.resolve("mid.xml.gz"), gz(
      "<sitemapindex><sitemap><loc>https://ex.org/leaf1.xml</loc>" +
        "</sitemap><sitemap><loc>https://ex.org/leaf2.xml</loc>" +
        "</sitemap><sitemap><loc>https://ex.org/sitemap.xml</loc>" +
        "</sitemap></sitemapindex>"))
    write("leaf1.xml",
      "<urlset><url><loc>https://ex.org/a</loc></url></urlset>")
    write("leaf2.xml",
      "<urlset><url><loc>https://ex.org/b</loc></url>" +
        "<url><loc>https://ex.org/c</loc></url></urlset>")
    val parsed = Sitemaps.readFrom(spark, root)
    val urls = Sitemaps.expand(parsed,
        Seq("https://ex.org/sitemap.xml").toDF("sitemap_url"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    // all three leaf urls, attributed to the ENTRY sitemap; the
    // ghost leaf contributes nothing; the cycle terminates at the
    // depth bound instead of looping
    assert(urls.toSet === Set(
      ("https://ex.org/sitemap.xml", "https://ex.org/a"),
      ("https://ex.org/sitemap.xml", "https://ex.org/b"),
      ("https://ex.org/sitemap.xml", "https://ex.org/c")))
    assert(urls.length === 3)
  }

  test("expand: hostile cycle + diamond open each payload once; exact output") {
    val root = TempDirs.dir("graft-sm-cyc").toString
    val host = Files.createDirectories(
      java.nio.file.Paths.get(root, "ex.org"))
    def write(name: String, text: String): Unit =
      Files.write(host.resolve(name),
        text.getBytes(StandardCharsets.UTF_8))
    // A→{leaf, B}, B→{leaf, A}: an index CYCLE and a DIAMOND (leaf
    // reachable via both A and B). Without the visited set the leaf
    // re-opens every round until the depth bound and its urls emit
    // once per discovery path.
    write("a.xml",
      "<sitemapindex><sitemap><loc>https://ex.org/leaf.xml</loc>" +
        "</sitemap><sitemap><loc>https://ex.org/b.xml</loc>" +
        "</sitemap></sitemapindex>")
    write("b.xml",
      "<sitemapindex><sitemap><loc>https://ex.org/leaf.xml</loc>" +
        "</sitemap><sitemap><loc>HTTPS://EX.ORG/a.xml</loc>" + // cased
        "</sitemap></sitemapindex>")
    write("leaf.xml",
      "<urlset><url><loc>https://ex.org/x</loc></url>" +
        "<url><loc>https://ex.org/y</loc></url></urlset>")
    val parsed = Sitemaps.readFrom(spark, root)
    val urls = Sitemaps.expand(parsed,
        Seq("https://ex.org/a.xml").toDF("sitemap_url"),
        maxDepth = 10) // a generous bound must not change the output
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(urls.toSet === Set(
      ("https://ex.org/a.xml", "https://ex.org/x"),
      ("https://ex.org/a.xml", "https://ex.org/y")))
    assert(urls.length === 2) // the leaf's urls appear ONCE
  }

  test("readFrom: relative and scheme-qualified spool dirs resolve") {
    // the spool root must qualify through the same FileSystem
    // resolution binaryFile applies — a relative dir previously never
    // prefix-matched the absolutized path column, so reconstructed
    // sitemap_urls kept the spool root as leading path segments
    val base = java.nio.file.Paths.get("target", "graft-sm-rel")
    val host = base.resolve("ex.org")
    Files.createDirectories(host)
    Files.write(host.resolve("sitemap.xml"),
      "<urlset><url><loc>https://ex.org/1</loc></url></urlset>"
        .getBytes(StandardCharsets.UTF_8))
    try {
      // relative path (resolves against the working directory)
      val rel = Sitemaps.readFrom(spark, "target/graft-sm-rel")
        .select("sitemap_url").collect().map(_.getString(0))
      assert(rel.toSeq === Seq("https://ex.org/sitemap.xml"))
      // explicit file: scheme over the absolute form
      val abs = base.toAbsolutePath.toString
      val sch = Sitemaps.readFrom(spark, s"file:$abs")
        .select("sitemap_url").collect().map(_.getString(0))
      assert(sch.toSeq === Seq("https://ex.org/sitemap.xml"))
    } finally {
      Files.deleteIfExists(host.resolve("sitemap.xml"))
      Files.deleteIfExists(host)
      Files.deleteIfExists(base)
    }
  }

  test("sitemapDiff: added/removed/kept; canonical forms are not churn") {
    val today = Seq(
      "https://ex.org/a", "https://ex.org/new",
      // a re-spelled surface form of yesterday's /b must read KEPT
      "HTTPS://EX.ORG:443/b?utm_x=1").toDF("url")
    val yesterday = Seq(
      "https://ex.org/a", "https://ex.org/b",
      "https://ex.org/gone").toDF("url")
    val got = Sitemaps.sitemapDiff(today, yesterday).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got === Map(
      "https://ex.org/a" -> "kept",
      "https://ex.org/b" -> "kept",
      "https://ex.org/new" -> "added",
      "https://ex.org/gone" -> "removed"))
  }

  test("expand: negative maxDepth is refused loudly") {
    val parsed = Sitemaps.parse(payloads(
      "https://ex.org/sitemap.xml" ->
        "<urlset><url><loc>https://ex.org/1</loc></url></urlset>"
          .getBytes(StandardCharsets.UTF_8)))
    intercept[IllegalArgumentException] {
      Sitemaps.expand(parsed,
        Seq("https://ex.org/sitemap.xml").toDF("sitemap_url"),
        maxDepth = -1)
    }
  }

  test("expand: same basename in different directories resolves by path") {
    val root = TempDirs.dir("graft-sm-path").toString
    val host = java.nio.file.Paths.get(root, "ex.org")
    Files.createDirectories(host.resolve("news"))
    Files.createDirectories(host.resolve("blog"))
    def write(rel: String, text: String): Unit =
      Files.write(host.resolve(rel),
        text.getBytes(StandardCharsets.UTF_8))
    write("sitemap.xml",
      "<sitemapindex><sitemap><loc>https://ex.org/news/sitemap.xml" +
        "</loc></sitemap><sitemap><loc>https://ex.org/blog/sitemap.xml" +
        "</loc></sitemap></sitemapindex>")
    write("news/sitemap.xml",
      "<urlset><url><loc>https://ex.org/news/1</loc></url></urlset>")
    write("blog/sitemap.xml",
      "<urlset><url><loc>https://ex.org/blog/1</loc></url></urlset>")
    val parsed = Sitemaps.readFrom(spark, root)
    // the spool stores both files (path-preserving layout), the
    // reconstructed urls carry their directories, and resolution
    // joins on the full path — a basename key would collide
    assert(parsed.select("sitemap_url").collect().map(_.getString(0))
      .toSet === Set("https://ex.org/sitemap.xml",
        "https://ex.org/news/sitemap.xml",
        "https://ex.org/blog/sitemap.xml"))
    val urls = Sitemaps.expand(parsed,
        Seq("https://ex.org/sitemap.xml").toDF("sitemap_url"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(urls.toSet === Set(
      ("https://ex.org/sitemap.xml", "https://ex.org/news/1"),
      ("https://ex.org/sitemap.xml", "https://ex.org/blog/1")))
    assert(urls.length === 2)
  }
}
