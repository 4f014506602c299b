package graft

import java.nio.file.{Files, Path => JPath, Paths => JPaths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.MoveSink

/** End-to-end mini-lake tests (FIXTURES.md §3): pipeline A copies and
  * retains sources; pipeline B moves (target exists ∧ source deleted);
  * report counts match the reference's found/not-found semantics.
  */
class PipelinesSpec extends SparkSpec {

  private def mkLake(): JPath = {
    val root = TempDirs.dir("graft-lake")
    Files.createDirectories(root.resolve("raw"))
    root
  }

  private def write(root: JPath, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** Relative file set, ignoring Hadoop LocalFileSystem's .crc shadows. */
  private def lakeFiles(root: JPath): Set[String] =
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString)
      .filterNot(_.split("/").last.startsWith("."))
      .toSet

  test("pipeline A: manifest semi/anti join, copy retains source, O11 rewrite") {
    val root = mkLake()
    write(root, "raw/1000_aaa.json", """{"SalesCompanyId":"1"}""")
    write(root, "raw/1001_bbb.json", """{"SalesCompanyId":"2"}""")
    val csv = root.resolve("manifest.csv")
    Files.writeString(csv,
      """QuoteId;unixtimestamp;filename
        |q1;1761940950;1000_aaa.json
        |q2;1761940950;raw/1001_bbb.json
        |q3;1761940950;missing.json
        |q4;1761940950;
        |""".stripMargin)

    val (found, notFound, results) = Pipelines.pipelineA(
      spark, csv.toString, s"file:$root", "raw/", "archive/")

    assert(found.collect().map(_.getString(0)).toSet
      === Set("raw/1000_aaa.json", "raw/1001_bbb.json"))
    assert(notFound.collect().map(_.getString(0)).toSet === Set("raw/missing.json"))

    val res = results.get.collect()
    assert(res.forall(_.ok), res.mkString("; "))
    // copy mode: sources retained (reference never deletes, app/app.py:62-66)
    assert(lakeFiles(root) === Set("manifest.csv",
      "raw/1000_aaa.json", "raw/1001_bbb.json",
      "archive/1000_aaa.json", "archive/1001_bbb.json"))
  }

  test("pipeline B: date + content filter, move deletes source, dirs created") {
    val root = mkLake()
    write(root, "raw/match.json", """{"SalesCompanyId":"12"}""")
    write(root, "raw/sub/nested.json", """{"hdr":{"SalesCompanyId":12}}""")
    write(root, "raw/wrong.json", """{"SalesCompanyId":"99"}""")
    write(root, "raw/notjson.txt", "plain text")

    val (decisions, results) = Pipelines.pipelineB(
      spark, s"file:$root", "raw/", "files/sbt/quotes/",
      companyId = Some("12"))

    val dec = decisions.collect()
      .map(r => r.getString(0).split("/").last -> r.getBoolean(2)).toMap
    assert(dec === Map("match.json" -> true, "nested.json" -> true,
      "wrong.json" -> false, "notjson.txt" -> false))

    assert(results.get.collect().forall(_.ok))
    assert(lakeFiles(root) === Set(
      "raw/wrong.json", "raw/notjson.txt", // rejected files stay
      "files/sbt/quotes/match.json", "files/sbt/quotes/sub/nested.json"))
  }

  test("listDistributed matches driver-side list") {
    val root = mkLake()
    write(root, "raw/a.json", "x")            // directly under the prefix
    write(root, "raw/e.json", "eeeee")
    write(root, "raw/sub/b.json", "yy")
    write(root, "raw/sub/deep/c.json", "zzz") // nested directories
    write(root, "raw/other/d.json", "dddd")
    Files.createDirectories(root.resolve("raw/empty/deeper"))
    /** Both listings of `prefix`, rows equal; lake-relative (name, size). */
    def listed(prefix: String): Set[(String, Long)] = {
      def rows(ds: org.apache.spark.sql.Dataset[graft.model.LakeFile]) =
        ds.collect().map(f => (f.name, f.size, f.last_modified, f.creation_time)).toSeq.sortBy(_._1)
      val a = rows(graft.sources.Listing.list(spark, s"file:$root/$prefix"))
      val b = rows(graft.sources.Listing.listDistributed(spark, s"file:$root/$prefix"))
      assert(a === b, prefix)
      a.map(r => (r._1.stripPrefix(s"$root/"), r._2)).toSet
    }
    assert(listed("raw") === Set(("raw/a.json", 1L), ("raw/e.json", 5L),
      ("raw/sub/b.json", 2L), ("raw/sub/deep/c.json", 3L), ("raw/other/d.json", 4L)))
    assert(listed("raw/sub") === Set(("raw/sub/b.json", 2L), ("raw/sub/deep/c.json", 3L)))
    assert(listed("raw/empty") === Set.empty)
    assert(listed("raw/a.json") === Set(("raw/a.json", 1L))) // the prefix is a file
    assert(listed("raw/missing") === Set.empty)
  }

  test("pipeline B: no filters → everything moves (incl. non-JSON)") {
    val root = mkLake()
    write(root, "raw/a.json", """{"x":1}""")
    write(root, "raw/b.txt", "not json")
    val (decisions, results) = Pipelines.pipelineB(
      spark, s"file:$root", "raw/", "tgt/")
    assert(decisions.collect().forall(_.getBoolean(2)))
    assert(results.get.collect().forall(_.ok))
    assert(lakeFiles(root) === Set("tgt/a.json", "tgt/b.txt"))
  }

  test("pipeline B: date bounds against file mtime, null-safe") {
    val root = mkLake()
    write(root, "raw/old.json", """{"x":1}""")
    // make the file "old" by back-dating its mtime
    Files.setLastModifiedTime(root.resolve("raw/old.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Timestamp.valueOf("2020-01-01 00:00:00").getTime))
    write(root, "raw/new.json", """{"x":1}""")

    val (decisions, _) = Pipelines.pipelineB(
      spark, s"file:$root", "raw/", "tgt/",
      after = Some(Timestamp.valueOf("2023-01-01 00:00:00")), dryRun = true)
    val dec = decisions.collect()
      .map(r => r.getString(0).split("/").last -> r.getBoolean(2)).toMap
    assert(dec === Map("old.json" -> false, "new.json" -> true))
    // dryRun: nothing moved
    assert(lakeFiles(root) === Set("raw/old.json", "raw/new.json"))
  }

  test("pipeline B: inclusive window bounds; the move scan opens only in-window files") {
    val root = mkLake()
    val (after, before) = PipelinesSpec.writeWindowLake(root.resolve("raw"))
    val (decisions, results) = Pipelines.pipelineB(
      spark, s"file:$root", "raw/", "tgt/", Some(after), Some(before))
    val dec = decisions.collect()
      .map(r => r.getString(0).split("/").last -> (r.getBoolean(2), r.getString(3))).toMap
    val kept = (true, "Matches all criteria")
    assert(dec === Map(
      "at_after.json" -> kept, "mid.json" -> kept, "at_before.json" -> kept,
      "pre_after.json" ->
        (false, "File uploaded before filter date: 2023-12-31 23:59:59"),
      "post_before.json" ->
        (false, "File uploaded after filter date: 2024-01-31 00:00:01")))

    val moved = results.get
    assert(moved.collect().forall(_.ok))
    assert(lakeFiles(root) === Set("raw/pre_after.json", "raw/post_before.json",
      "tgt/at_after.json", "tgt/mid.json", "tgt/at_before.json"))
    // the date window pruned the scan's file list on the driver: the
    // executed move plan read the three kept files, not all five
    val scans = new AdaptiveSparkPlanHelper {}
      .collect(moved.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.map(_.metrics("numFiles").value) === Seq(3L))
  }

  test("pipeline C: curation chain strips, repairs, screens, writes kept") {
    import spark.implicits._
    val root = TempDirs.dir("graft-curate")
    val moji = new String("café".getBytes(
        java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, s"<html><body><p>$good one</p></body></html>"),      // kept
      (1L, s"<p>$good $moji</p>"),                              // repaired, kept
      (2L, s"<p>$good mail x2@a.io</p>"),                       // PII → dropped
      (3L, "<p>tiny</p>"),                                      // quality → dropped
      (4L, s"<p>$good <script>var x = '<b>no</b>';</script>two</p>"))
    docs.toDF("doc_id", "text").write.parquet(s"$root/in.parquet")

    // dry run: full audit trail, no output written
    val (dry, none) = Pipelines.pipelineC(spark, s"$root/in.parquet",
      s"$root/out.parquet", dryRun = true)
    assert(none.isEmpty && !Files.exists(root.resolve("out.parquet")))
    val flags = dry.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(flags(0L)._1 === s"$good one" && flags(0L)._6)
    assert(flags(1L)._1 === s"$good café" && flags(1L)._3 && flags(1L)._6)
    assert(flags(2L)._4 && !flags(2L)._6)       // has_pii → dropped
    assert(!flags(3L)._5 && !flags(3L)._6)      // quality fail → dropped
    assert(flags(4L)._1 === s"$good two" && flags(4L)._6) // script dropped
    assert(flags.values.forall(_._2), "every doc had markup")

    // real run: kept docs land in the output parquet as clean text
    val (_, written) = Pipelines.pipelineC(spark, s"$root/in.parquet",
      s"$root/out.parquet", dryRun = false)
    assert(written === Some(3L))
    val out = spark.read.parquet(s"$root/out.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(0L -> s"$good one", 1L -> s"$good café",
      4L -> s"$good two"))

    // the funnel report masses match the flags
    val rep = Pipelines.curationReport(dry).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep === Map("ingested" -> 5L, "markup_stripped" -> 5L,
      "mojibake_repaired" -> 1L, "pii_flagged" -> 1L,
      "quality_failed" -> 1L, "kept" -> 3L))
  }

  test("pipeline C dedup + policy: exact/near dups, lang gate, quota") {
    import spark.implicits._
    val texts = Map(
      Symbol("A") -> "the quick brown fox jumps over the lazy dog again and again today",
      Symbol("B") -> "every bird sings while the green tree waves and water runs fast",
      Symbol("D") -> "some people walk along this quiet road and watch the old town",
      Symbol("E") -> "a small ship sails across that calm sea while the wind blows",
      Symbol("F") -> "children play around the big park and laugh under a clear sky")
    val german = "der hund und die katze ist gross und der vogel ist klein da"
    // historical index holds text A under its own id space
    val idx = graft.operators.Dedup.buildBandIndex(
      Seq((1000L, texts(Symbol("A")))).toDF("doc_id", "text"), "doc_id", "text",
      n = 5, bands = 3, rowsPerBand = 2)
    val raw = Seq(
      (0L, "s1", s"<p>${texts(Symbol("A"))}</p>"), // re-crawl of history → dup_near
      (1L, "s1", s"<p>${texts(Symbol("B"))}</p>"), // kept
      (2L, "s1", s"<p>${texts(Symbol("B"))}</p>"), // clone of 1 → dup_exact
      (3L, "s1", s"<p>$german</p>"),      // de → lang_failed
      (4L, "s1", s"<p>${texts(Symbol("D"))}</p>"),
      (5L, "s1", s"<p>${texts(Symbol("E"))}</p>"),
      (6L, "s1", s"<p>${texts(Symbol("F"))}</p>")  // 4 survivors, quota 3 → 1 cut
    ).toDF("doc_id", "source", "text")

    val d = Pipelines.curateChain(raw, dedup = true, dedupIndex = Some(idx),
      allowedLangs = Some(Seq("en")), quota = Some(("source", 3)))
    val rows = d.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def b(id: Long, c: String) = rows(id).getAs[Boolean](c)

    // dup_exact == exists an EARLIER doc with identical clean text
    assert(!b(1L, "dup_exact") && b(2L, "dup_exact"))
    assert((0L to 6L).filter(b(_, "dup_exact")) === Seq(2L))
    // dup_near fires exactly on the re-crawled historical text
    assert((0L to 6L).filter(b(_, "dup_near")) === Seq(0L))
    // language gate: only the german doc fails
    assert((0L to 6L).filterNot(b(_, "lang_ok")) === Seq(3L))
    // quota: dropped/dup/lang rows consume none; of the 4 survivors
    // exactly 3 keep (md5-rank deterministic)
    val survivors = Seq(1L, 4L, 5L, 6L)
    val kept = (0L to 6L).filter(b(_, "keep"))
    assert(kept.length === 3 && kept.forall(survivors.contains))
    val cut = survivors.filterNot(kept.contains)
    assert(cut.length === 1 && !b(cut.head, "quota_ok") &&
      b(cut.head, "quality_ok") && b(cut.head, "lang_ok") &&
      !b(cut.head, "dup_exact") && !b(cut.head, "dup_near"))
    // determinism: the same chain over a repartitioned input picks the
    // SAME quota victims
    val d2 = Pipelines.curateChain(raw.repartition(7), dedup = true,
      dedupIndex = Some(idx), allowedLangs = Some(Seq("en")),
      quota = Some(("source", 3)))
    assert(d2.filter(org.apache.spark.sql.functions.col("keep"))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq === kept)

    // the funnel gains one row per enabled stage
    val rep = Pipelines.curationReport(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep === Map("ingested" -> 7L, "markup_stripped" -> 7L,
      "mojibake_repaired" -> 0L, "pii_flagged" -> 0L,
      "quality_failed" -> 0L, "lang_failed" -> 1L, "dup_exact" -> 1L,
      "dup_near" -> 1L, "quota_failed" -> 1L, "kept" -> 3L))
  }

  test("pipeline C classifier stage: decimal-sign gate composes into keep") {
    import spark.implicits._
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val raw = Seq(
      (0L, s"<p>$good one</p>"),
      (1L, s"<p>$good two</p>"),
      (2L, s"<p>tiny</p>")) // quality-failed regardless of the model
      .toDF("doc_id", "text")
    val buckets = graft.operators.Logistic.bucketSpace()
    def wmap(v: String): Map[String, BigDecimal] =
      buckets.map(_ -> BigDecimal(v).setScale(6)).toMap

    // positive weights: every token sums positive → clf passes all,
    // keep still honors the earlier quality screen
    val pos = Pipelines.curateChain(raw, classifier = Some(graft.operators.Logistic.Trained(wmap("0.1"))))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("clf_ok"), r.getAs[Boolean]("keep")))).toMap
    assert(pos(0L) === ((true, true)) && pos(1L) === ((true, true)))
    assert(pos(2L)._1 && !pos(2L)._2)

    // negative weights: clf rejects everything, keep collapses to none
    val neg = Pipelines.curateChain(raw, classifier = Some(graft.operators.Logistic.Trained(wmap("-0.1"))))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("clf_ok"), r.getAs[Boolean]("keep")))).toMap
    assert(neg.values.forall(v => !v._1 && !v._2))

    // zero weights: z == 0 is NOT > 0 — the sign contract is strict
    val zer = Pipelines.curateChain(raw, classifier = Some(graft.operators.Logistic.Trained(wmap("0"))))
      .collect().map(r => r.getAs[Boolean]("clf_ok"))
    assert(zer.forall(!_))

    // the funnel gains the clf_failed row exactly when the stage is on
    val rep = Pipelines.curationReport(
      Pipelines.curateChain(raw, classifier = Some(graft.operators.Logistic.Trained(wmap("-0.1")))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("clf_failed") === 3L && rep("kept") === 0L)
    val repOff = Pipelines.curationReport(Pipelines.curateChain(raw))
      .collect().map(_.getString(0))
    assert(!repOff.contains("clf_failed"))

    // rejected docs consume no quota budget: with a per-group cap of 1
    // and the classifier rejecting doc 0's bucket set... (cap honored
    // among clf-survivors only) — use a doc-targeted map: every bucket
    // positive EXCEPT the ones doc 0's unique token hashes into
    val uniq0 = "qqqzzzword"
    val raw2 = Seq(
      (0L, "g", s"<p>$good $uniq0 $uniq0 $uniq0 $uniq0 $uniq0 $uniq0 " +
        s"$uniq0 $uniq0 $uniq0 $uniq0 $uniq0 $uniq0</p>"),
      (1L, "g", s"<p>$good three</p>"),
      (2L, "g", s"<p>$good four</p>")).toDF("doc_id", "source", "text")
    val b0 = org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.lit(uniq0))
    val bucket0 = spark.range(1).select(b0.substr(1, 2)).head.getString(0)
    // 12 copies of the -1.3 bucket outweigh ~12 tokens of +0.1
    val targeted = wmap("0.1") + (bucket0 -> BigDecimal("-1.3").setScale(6))
    val q = Pipelines.curateChain(raw2, classifier = Some(graft.operators.Logistic.Trained(targeted)),
      quota = Some(("source", 1)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("clf_ok"), r.getAs[Boolean]("keep")))).toMap
    assert(!q(0L)._1 && !q(0L)._2)
    // exactly one of the two clf-survivors keeps under the cap
    assert(Seq(q(1L), q(2L)).count(_._2) === 1)
  }

  test("token quota: deterministic prefix rule over kept docs") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks back home again" // 15 tokens clean
    val raw = Seq(1L, 2L, 3L, 4L).map(i => (i, s"<p>$good v$i</p>"))
      .toDF("doc_id", "text") // each doc: 16 tokens
      .unionByName(Seq((5L, "<p>tiny</p>")).toDF("doc_id", "text"))
    def run(budget: Long) =
      Pipelines.curateChain(raw.withColumn("source", lit("s")),
          tokenQuota = Some(("source", budget)))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("tq_ok"), r.getAs[Boolean]("keep")))).toMap
    // budget 32 = exactly two docs (16+16): the INCLUSIVE prefix rule
    // keeps the first two in md5(id) order and drops the rest
    val got = run(32L)
    assert(got.values.count(_._2) === 2)
    // quality-failed docs consume no budget and stay dropped
    assert(!got(5L)._2 && got(5L)._1)
    // one token less: the second doc no longer fits → only one keeps
    assert(run(31L).values.count(_._2) === 1)
    // a huge budget keeps all four survivors
    assert(run(1000L).values.count(_._2) === 4)
    // the funnel gains the stage row exactly when the stage is on
    val rep = Pipelines.curationReport(Pipelines.curateChain(
        raw.withColumn("source", lit("s")),
        tokenQuota = Some(("source", 32L))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("token_quota_failed") === 2L && rep("kept") === 2L)
    assert(!Pipelines.curationReport(Pipelines.curateChain(
        raw.withColumn("source", lit("s"))))
      .collect().map(_.getString(0)).contains("token_quota_failed"))
  }

  test("per-group token budgets: each source enforces its own plan") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks back home again"
    val raw = Seq(
      (1L, "a", s"<p>$good a1</p>"), (2L, "a", s"<p>$good a2</p>"),
      (3L, "b", s"<p>$good b1</p>"), (4L, "b", s"<p>$good b2</p>"),
      (5L, "c", s"<p>$good c1</p>")).toDF("doc_id", "source", "text")
    // 16 clean tokens per doc: a gets 1 doc's worth, b gets plenty,
    // c has NO budget row → unbounded
    val budgets = Seq(("a", 16L), ("b", 1000L)).toDF("source", "budget")
    val got = Pipelines.curateChain(raw,
        tokenBudgets = Some(("source", budgets)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("keep")).toMap
    assert(Seq(got(1L), got(2L)).count(identity) === 1) // a capped at 1
    assert(got(3L) && got(4L) && got(5L))
    // the two budget shapes are one stage — passing both is loud
    intercept[IllegalArgumentException] {
      Pipelines.curateChain(raw, tokenQuota = Some(("source", 5L)),
        tokenBudgets = Some(("source", budgets)))
    }
    // a duplicate budget row would silently multiply decision rows
    // through the left join — the stage must reject it loudly
    val duped = budgets.unionByName(
      Seq(("a", 99L)).toDF("source", "budget"))
    val ex = intercept[IllegalArgumentException] {
      Pipelines.curateChain(raw, tokenBudgets = Some(("source", duped)))
    }
    assert(ex.getMessage.contains("duplicate budget"))
  }

  test("curation classifier stage honors the stored operating point") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks back home again"
    val raw = Seq((1L, s"<p>$good one</p>"), (2L, s"<p>$good two</p>"))
      .toDF("doc_id", "text")
    val w = graft.operators.Logistic.bucketSpace()
      .map(_ -> BigDecimal("0.1").setScale(6)).toMap
    // every clean text scores z = 0.1 * n_tokens; compute the two z's
    // and thread a threshold BETWEEN them: >= keeps the higher doc
    // only — proving the gate is the stored point, not the sign
    val zs = Pipelines.curateDecisions(raw)
      .select(col("doc_id"), graft.operators.Logistic
        .zInline(col("clean"), w).as("z"))
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1)))
      .toMap
    assert(zs(1L) == zs(2L)) // same token count → same z here
    val zv = zs(1L)
    def keepOf(m: graft.operators.Logistic.Trained) =
      Pipelines.curateChain(raw, classifier = Some(m)).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("clf_ok"))
        .toMap
    // threshold == the achieved z: z >= t keeps (boundary INCLUSIVE)
    val at = keepOf(graft.operators.Logistic.Trained(w,
      threshold = Some(zv)))
    assert(at.values.forall(identity))
    // one ulp above: rejects — while the sign contract keeps
    val above = keepOf(graft.operators.Logistic.Trained(w,
      threshold = Some(zv + BigDecimal("0.000001"))))
    assert(above.values.forall(!_))
    assert(keepOf(graft.operators.Logistic.Trained(w))
      .values.forall(identity))
  }
}

object PipelinesSpec {

  /** Five files around the window [2024-01-01, 2024-01-31] (UTC): one
    * on each bound, one a second outside each, one mid-window. Returns
    * the window as (after, before).
    */
  def writeWindowLake(dir: JPath): (Timestamp, Timestamp) = {
    def at(iso: String) = java.time.Instant.parse(iso).toEpochMilli
    Files.createDirectories(dir)
    Seq("pre_after" -> "2023-12-31T23:59:59Z", "at_after" -> "2024-01-01T00:00:00Z",
        "mid" -> "2024-01-15T12:00:00Z", "at_before" -> "2024-01-31T00:00:00Z",
        "post_before" -> "2024-01-31T00:00:01Z").foreach { case (name, iso) =>
      val p = dir.resolve(s"$name.json")
      Files.writeString(p, """{"SalesCompanyId":"12"}""")
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(at(iso)))
    }
    (new Timestamp(at("2024-01-01T00:00:00Z")), new Timestamp(at("2024-01-31T00:00:00Z")))
  }
}
