package graft

import org.apache.spark.sql.functions._

import graft.functions.Text

class TextSpec extends SparkSpec {

  private def df1(text: String) = {
    import spark.implicits._
    Seq(text).toDF("text")
  }

  test("shingles: sliding n-grams; short docs yield empty (no desc-sequence trap)") {
    val r = df1("a b c d").select(
      Text.shingles(Text.tokens(col("text")), 3).as("sh")).collect()(0).getSeq[String](0)
    assert(r === Seq("a b c", "b c d"))
    val short = df1("a b").select(
      Text.shingles(Text.tokens(col("text")), 3).as("sh")).collect()(0).getSeq[String](0)
    assert(short === Seq.empty)
  }

  test("token and subword counts") {
    val r = df1("the quick-brown fox 42").select(
      Text.tokenCount(col("text")).as("t"),
      Text.subwordCount(col("text")).as("s")).collect()(0)
    assert(r.getInt(0) === 4)
    // subwords: the, quick, brown, fox, 42 runs + 1 hyphen glyph
    assert(r.getInt(1) === 6)
  }

  test("langId: marker argmax with declaration-order ties, und when no hits") {
    def lang(t: String): String =
      df1(t).select(Text.langId(Text.tokens(col("text"))).as("l")).collect()(0).getString(0)
    assert(lang("the cat of doom") === "en")
    assert(lang("der hund ist und") === "de")
    assert(lang("xyzzy plugh") === "und")
    // 'la' is a marker for both es and fr → es wins by declaration order
    assert(lang("la la") === "es")
  }

  test("t_perplexity: avg bigram NLL non-negative; deterministic LM cases") {
    // LM over the whole corpus: "a b" occurs twice under w1=a alongside
    // "a c" once -> p(b|a)=2/3, p(c|a)=1/3; "b a" and "c a" are the sole
    // continuations of their w1 -> p=1 (nll 0).
    val dir = TempDirs.dir("tp").toString
    import spark.implicits._
    Seq((1L, "a b a c"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t_perplexity")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // doc 3 has <2 tokens -> no bigrams -> absent from the result
    assert(out.keySet === Set(1L, 2L))
    // per-term nll rounds to 4 decimals (ln-absorption margin):
    // ln(3/2) -> 0.4055, ln(3) -> 1.0986
    // doc 1 bigrams: a b (0.4055), b a (0), a c (1.0986)
    assert(math.abs(out(1L)._1 - (0.4055 + 1.0986) / 3.0) < 1e-9)
    assert(out(1L)._2 === 3L)
    // doc 2: single bigram "a b"
    assert(math.abs(out(2L)._1 - 0.4055) < 1e-9)
    assert(out(2L)._2 === 1L)
  }

  test("t_segment_dedup: repeated segment survives only in first doc") {
    val dir = TempDirs.dir("sd").toString
    import spark.implicits._
    val seg = (1 to 10).map(i => s"w$i").mkString(" ") // one full segment
    Seq((1L, s"$seg tail one"), (2L, s"$seg other end"), (3L, "unique words"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t_segment_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 is the keeper: both its segments stay, in order
    assert(out(1L) === ((2L, 2L, s"$seg tail one")))
    // doc 2 loses the shared head segment, keeps its distinct tail
    assert(out(2L) === ((2L, 1L, "other end")))
    // doc 3 untouched
    assert(out(3L) === ((1L, 1L, "unique words")))
  }

  test("t_vocab_coverage: cumulative share strictly increases to the full-vocab total") {
    val dir = TempDirs.dir("vc").toString
    import spark.implicits._
    Seq((1L, "a a a b b c"), (2L, "a b d"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t_vocab_coverage")(spark, dir)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // frequencies: a=4 b=3 c=1 d=1 (ties broken by token asc), total 9
    assert(rows.map(t => (t._2, t._3)).toSeq ===
      Seq(("a", 4L), ("b", 3L), ("c", 1L), ("d", 1L)))
    assert(rows.map(_._4).toSeq === Seq(4.0 / 9, 7.0 / 9, 8.0 / 9, 1.0))
  }

  test("t_classifier_pr_curve: confusion counts partition the corpus, recall monotone") {
    val rows = SparkEntry.queries("t_classifier_pr_curve")(
        spark, "/root/testdata/sf0.001")
      .orderBy("i").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val n = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(rows.length === 17)
    rows.foreach { case (_, tp, fp, fn, tn) =>
      assert(tp + fp + fn + tn === n) // every doc lands in one cell
    }
    // raising the threshold can only shrink the predicted-positive set
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3)
    }
  }

  test("t_kneser_ney: P_KN sums to 1 per context over the full vocabulary") {
    val dir = TempDirs.dir("kn").toString
    import spark.implicits._
    // small corpus, few enough bigram types that LIMIT 50 keeps all
    Seq((1L, "a b a c a b d"), (2L, "b a b c d a"), (3L, "c a a b"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t_kneser_ney")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val tt = rows.length.toDouble // all types present (< 50)
    val t2of = rows.map(r => r._1.split(" ")(1) -> r._5).toMap
    // interpolated KN: observed mass + discount mass routed through
    // the continuation distribution over UNOBSERVED w2 must total 1
    rows.groupBy(_._1.split(" ")(0)).foreach { case (w1, rs) =>
      val (cp, t1) = (rs.head._3.toDouble, rs.head._4.toDouble)
      val observed = rs.map(_._6).sum
      val contObserved = rs.map(r => t2of(r._1.split(" ")(1)) / tt).sum
      val backoffUnseen = (0.75 * t1 / cp) * (1.0 - contObserved)
      assert(math.abs(observed + backoffUnseen - 1.0) < 1e-12,
        s"context '$w1' mass ${observed + backoffUnseen}")
    }
    // discounting strictly moves mass off the MLE for seen bigrams
    rows.foreach { case (bg, c, cp, t1, _, p) =>
      assert(p > 0.0 && p < 1.0, s"$bg p=$p")
    }
  }

  test("t_boilerplate_scrub: per-source threshold removes ALL occurrences") {
    val dir = TempDirs.dir("bp").toString
    import spark.implicits._
    val seg = (1 to 10).map(i => s"x$i").mkString(" ")
    Seq((1L, "A", s"$seg tail one"), (2L, "A", s"$seg other end"),
      (3L, "B", s"$seg solo words"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t_boilerplate_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // source A (2 docs): its nav header AND the shared segment recur in
    // 2 distinct docs -> boilerplate, removed from BOTH docs (no
    // first-occurrence keeper — that's t_segment_dedup's contract)
    assert(out(1L) === ((3L, 2L, "tail one")))
    assert(out(2L) === ((3L, 2L, "other end")))
    // source B (1 doc): the same segment occurs in only ONE doc of B ->
    // kept, and B's nav header is kept too (singleton source)
    assert(out(3L) === ((3L, 0L,
      "nav B home login about contact privacy terms careers press " +
        s"$seg solo words")))
  }

  test("quality score bounded and monotone in stopword density") {
    val hi = df1("the a of and to the a of and to").select(
      Text.qualityScore(col("text"), Text.tokens(col("text"))).as("q"))
      .collect()(0).getDouble(0)
    val lo = df1("xx yy zz ww vv uu tt ss rr qq").select(
      Text.qualityScore(col("text"), Text.tokens(col("text"))).as("q"))
      .collect()(0).getDouble(0)
    assert(hi > lo)
    assert(hi <= 1.0 && lo >= 0.0)
  }

  test("t_readability counts hand-checked on punctuated synthetic text") {
    import spark.implicits._
    // "the cat sat. it ran! did it? yes" — 8 words, 3 sentence breaks,
    // vowel groups: e/a/a/i/a/i/i/e = 8 (one per word here)
    val doc = Seq((1L, "the cat sat. it ran! did it? yes"))
      .toDF("doc_id", "text").createOrReplaceTempView("readtmp")
    val words = greatest(lit(1L),
      size(Text.tokens(col("text"))).cast("long"))
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val syls = greatest(lit(1L),
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long"))
    val r = spark.table("readtmp")
      .select(words.as("w"), sents.as("s"), syls.as("y")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((8L, 3L, 8L)))
    // fk_e2 replay: 8*39//3 + 8*1180//8 - 1559 = 104 + 1180 - 1559
    assert(8L * 39 / 3 + 8L * 1180 / 8 - 1559 == -275L)
  }

  test("t_readability: punctuation-free fixture docs fall back to 1 sentence") {
    val out = SparkEntry.queries("t_readability")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_sentences") == 1L)
      assert(r.getAs[Long]("n_words") >= 1L)
      assert(r.getAs[Long]("n_syllables") >= 1L)
      // formula replay straight from the emitted counts
      val (w, s, y) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_sentences"), r.getAs[Long]("n_syllables"))
      assert(r.getAs[Long]("fk_e2") == w * 39 / s + y * 1180 / w - 1559)
      assert(r.getAs[Long]("fre_e3") == 206835 - w * 1015 / s - y * 84600 / w)
    }
  }

  test("t_hapax_ratio: bounds hold; one source replays naively") {
    val fdir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("t_hapax_ratio")(spark, fdir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (tok, ty, hx) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hx <= ty && ty <= tok)
      assert(r.getLong(4) == hx * 1000000L / ty)
      assert(r.getLong(5) == ty * 1000000L / tok)
    }
    // naive replay of the lexically-first source
    val src = out.map(_.getString(0)).min
    val words = Tables.t(spark, fdir, "documents")
      .filter(col("source") === src).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
    val byW = words.groupBy(identity).map { case (_, v) => v.length }
    val row = out.find(_.getString(0) == src).get
    assert(row.getLong(1) == words.length)
    assert(row.getLong(2) == byW.size)
    assert(row.getLong(3) == byW.count(_ == 1))
  }

  test("t_domain_reweight: weights normalize; exp-gradient moves with excess loss") {
    val fdir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("t_domain_reweight")(spark, fdir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty)
    // base shares and new weights are both (near-)distributions
    assert(math.abs(out.map(_._5).sum / 1e6 - 1.0) < 1e-3)
    assert(math.abs(out.map(_._6).sum - 1.0) < 1e-3)
    // the exponentiated-gradient step: w_new/base grows with excess
    // NLL — the uplift ratio must rank exactly like the excess
    val byExcess = out.sortBy(x => (x._4, x._1)).map(_._1)
    val byUplift = out.sortBy(x => (x._6 * 1e6 / x._5, x._1)).map(_._1)
    assert(byExcess.toSeq == byUplift.toSeq,
      "uplift ordering must follow excess-loss ordering")
    // excess is centered: mass-weighted mean ~ 0
    val tm = out.map(_._2).sum.toDouble
    assert(math.abs(out.map(x => x._4 * x._2).sum / tm) < 1e-3)
  }

  test("t_ngram_novelty: matches a local set-difference replay") {
    val fdir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("t_ngram_novelty")(spark, fdir).collect()
    assert(out.length == 1)
    val r = out.head
    // replay: split via the same hashSplit, shingle locally
    val docs = graft.operators.Sampling.hashSplit(
      Tables.t(spark, fdir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("split", "text").collect()
      .map(x => (x.getString(0) == "train", x.getString(1)))
    def sh(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Seq.empty
      else w.sliding(3).map(_.mkString(" ")).toSeq
    }
    val train = docs.filter(_._1).flatMap(x => sh(x._2)).toSet
    val hold = docs.filterNot(_._1).flatMap(x => sh(x._2)).toSet
    assert(r.getLong(0) == hold.size)
    assert(r.getLong(1) == (hold -- train).size)
    assert(r.getLong(2) == r.getLong(1) * 1000000L / r.getLong(0))
  }
  private val sfDir = "/root/testdata/sf0.001"

  test("t_good_turing: naive per-source frequency-of-frequencies replay") {
    val rows = Tables.t(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val out = SparkEntry.queries("t_good_turing")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == rows.map(_._1).toSet)
    rows.groupBy(_._1).foreach { case (src, ds) =>
      val counts = ds.flatMap(_._2).groupBy(identity)
        .map { case (_, v) => v.length.toLong }.toVector
      val n = counts.sum
      val nr = (1 to 5).map(r => counts.count(_ == r.toLong).toLong)
      val row = out(src)
      assert(row.getLong(1) == n && row.getLong(2) == counts.length.toLong)
      (1 to 5).foreach(r =>
        assert(row.getLong(2 + r) == nr(r - 1), s"n$r for $src"))
      assert(row.getLong(8) == nr(0) * 1000000L / n)
      (1 to 4).foreach { r =>
        val want = if (nr(r - 1) > 0)
          (r + 1) * nr(r) * 1000000L / nr(r - 1) else 0L
        assert(row.getLong(8 + r) == want, s"rstar$r for $src")
      }
    }
  }

  test("t_classifier_ece: bin accounting and the weighted-gap fold") {
    val out = SparkEntry.queries("t_classifier_ece")(spark, sfDir)
      .collect()
    val nDocs = Tables.t(spark, sfDir, "documents").count()
    assert(out.map(_.getLong(1)).sum == nDocs, "bins partition the corpus")
    val ece = out.map(r => r.getLong(1) *
      math.abs(r.getLong(3) - r.getLong(4))).sum / out.map(_.getLong(1)).sum
    out.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) <= 9L)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L, "conf in [0,1]")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L, "acc in [0,1]")
      assert(r.getLong(5) == r.getLong(3) - r.getLong(4), "gap identity")
      assert(r.getLong(6) == ece, "ece fold replay")
      // mean confidence must lie inside its own bin's e6 range
      val bin = r.getLong(0)
      assert(r.getLong(3) >= bin * 100000L &&
        (bin == 9L || r.getLong(3) < (bin + 1) * 100000L), "conf in bin")
    }
  }
  test("t_subword_fertility: mass conservation vs t_bpe_compression") {
    val fert = SparkEntry.queries("t_subword_fertility")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val comp = SparkEntry.queries("t_bpe_compression")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // same corpus, different grouping key: totals must agree exactly
    assert(fert.map(_._2).sum == comp.map(_._1).sum, "word mass")
    assert(fert.map(_._3).sum == comp.map(_._2).sum, "char mass")
    assert(fert.map(_._4).sum == comp.map(_._3).sum, "bpe mass")
    fert.foreach { case (lang, w, c, b, f) =>
      assert(b >= w, s"merges only shrink: tokens >= words for $lang")
      assert(b <= c, s"tokens bounded by chars for $lang")
      assert(f == b * 1000000L / w)
      assert(f >= 1000000L, "fertility is at least one token per word")
    }
  }
  test("t_isotonic_calibration: naive PAV replay, monotone, mean-preserving") {
    val out = SparkEntry.queries("t_isotonic_calibration")(spark, sfDir)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // naive PAV by pooling adjacent violators on (n, pos) blocks
    case class Blk(n: Long, pos: Long)
    var blocks = Vector.empty[Blk]
    out.foreach { case (_, n, pos, _, _) =>
      blocks :+= Blk(n, pos)
      while (blocks.length >= 2 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a.pos * b.n >= b.pos * a.n // exact rational violation test
      }) {
        val b = blocks.last; val a = blocks(blocks.length - 2)
        blocks = blocks.dropRight(2) :+ Blk(a.n + b.n, a.pos + b.pos)
      }
    }
    // expand block values back over their bins
    var iso = Vector.empty[Long]
    var idx = 0
    blocks.foreach { b =>
      var covered = 0L
      while (covered < b.n) {
        iso :+= b.pos * 1000000000000L / b.n
        covered += out(idx)._2; idx += 1
      }
    }
    assert(iso.length == out.length)
    out.zip(iso).foreach { case ((bin, n, pos, raw, isoE6), want) =>
      assert(raw == pos * 1000000L / n)
      assert(isoE6 == want / 1000000L, s"iso for bin $bin")
    }
    // monotone nondecreasing by construction
    out.map(_._5).sliding(2).foreach {
      case Array(a, b) => assert(a <= b); case _ => }
  }
  test("t_shuffle_decorrelation: permutation identity and exact rho") {
    val r = SparkEntry.queries("t_shuffle_decorrelation")(spark, sfDir)
      .collect().head
    val n = r.getLong(0)
    assert(n == Tables.t(spark, sfDir, "documents").count())
    // replay: both positions from collected md5 orderings
    val ids = Tables.t(spark, sfDir, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def poss(salt: String) = ids.sortBy(id => md5hex(s"$salt:$id"))
      .zipWithIndex.map { case (id, i) => id -> (i + 1).toLong }.toMap
    val (a, b) = (poss("epoch1"), poss("epoch2"))
    val s2 = ids.map(id => { val d = a(id) - b(id); d * d }).sum
    assert(r.getLong(1) == s2, "sum of squared rank differences")
    val denD = n.toDouble * n.toDouble * n.toDouble - n.toDouble
    val numD = denD - 6.0 * s2.toDouble
    assert(r.getInt(2) == numD.sign.toInt)
    assert(r.getLong(3) == math.round(math.abs(numD) * 1000000000 / denD))
    // epochs must actually decorrelate: |rho| < 0.35 on 50 docs
    assert(r.getLong(3) < 350000000L, "shuffle epochs correlate")
  }

  test("t_truncation_loss: exact replay, monotone in max_len") {
    val tcs = Tables.t(spark, sfDir, "documents").select("text")
      .collect().map(_.getString(0).split(" ", -1).length.toLong)
    val out = SparkEntry.queries("t_truncation_loss")(spark, sfDir)
      .orderBy("max_len").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(32L, 64L, 128L))
    out.foreach { r =>
      val l = r.getLong(0)
      assert(r.getLong(1) == tcs.length.toLong)
      assert(r.getLong(2) == tcs.count(_ > l).toLong)
      assert(r.getLong(3) == tcs.sum)
      assert(r.getLong(4) == tcs.map(t => math.max(t - l, 0L)).sum)
      assert(r.getLong(5) == r.getLong(4) * 1000000L / r.getLong(3))
    }
    out.map(_.getLong(4)).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => }
  }
  test("t_hill_tail: naive order-statistic replay") {
    val xs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(t => (-t._2, t._1)).take(21)
    val xk1 = xs.last._2
    val terms = xs.take(20).map(t =>
      BigDecimal(math.log(t._2.toDouble / xk1.toDouble))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP))
    val s = terms.sum
    val r = SparkEntry.queries("t_hill_tail")(spark, sfDir)
      .collect().head
    assert(r.getLong(0) == 20L && r.getLong(1) == xk1)
    assert(math.abs(r.getDouble(2) - s.toDouble) < 1e-12)
    val want = if (s > 0) math.round(20.0 * 1000000 / s.toDouble) else 0L
    assert(r.getLong(3) == want)
    assert(r.getLong(3) > 0L, "length tail must yield a positive index")
  }
  test("t_lang_margin: naive best/second replay per source") {
    val markers = Text.langMarkers.map(_._2)
    val rows = Tables.t(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1)
        val sc = markers.map(m => toks.count(m.contains).toLong)
          .sorted.reverse
        (r.getString(0), sc.head, sc(1))
      }
    val out = SparkEntry.queries("t_lang_margin")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (src, v) =>
      val r = out(src)
      assert(r.getLong(1) == v.length.toLong)
      assert(r.getLong(2) == v.count(_._2 == 0L).toLong, s"und $src")
      assert(r.getLong(3) ==
        v.count(d => d._2 > 0 && d._2 - d._3 <= 1).toLong, s"low $src")
      assert(r.getLong(4) ==
        (r.getLong(2) + r.getLong(3)) * 1000000L / r.getLong(1))
    }
  }

  test("piiCounts: naive replay — regex census + Luhn on known strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def luhnNaive(s: String): Boolean = {
      val tot = s.zipWithIndex.map { case (ch, j) =>
        val d = ch - '0'
        if (j % 2 == 0) { val dd = d * 2; if (dd > 9) dd - 9 else dd }
        else d
      }.sum
      tot % 10 == 0
    }
    assert(luhnNaive("4532015112830366") && !luhnNaive("4532015112830367"))
    val rows = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org call +1-555-0001234 " +
        "ip 10.1.2.3 and 255.255.255.255 card 4532015112830366"),
      // invalid octet, invalid Luhn, 17-digit run (not a card), bare @
      (2L, "ip 999.288.1.300 card 4532015112830367 id 45320151128303667 @"),
      (3L, "nothing personal here"))
      .toDF("doc_id", "text")
    val c = graft.functions.Text.piiCounts(col("text"))
    val got = rows.select(col("doc_id"), c.getField("n_emails"),
        c.getField("n_phones"), c.getField("n_ipv4"), c.getField("n_cards"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) === ((2, 1, 2, 1)))
    assert(got(2L) === ((0, 0, 0, 0)))
    assert(got(3L) === ((0, 0, 0, 0)))
  }

  test("wordpiece: naive greedy replay, longest match wins, chars pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vocab = Seq("th", "the", "quick", "ck", "qu", "uick")
    def naive(w: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var pos = 0
      while (pos < w.length) {
        val piece = (math.min(8, w.length - pos) to 2 by -1)
          .map(l => w.substring(pos, pos + l)).find(vocab.contains)
          .getOrElse(w.substring(pos, pos + 1))
        out += piece; pos += piece.length
      }
      out.toSeq
    }
    val words = Seq("the", "thequick", "quickest", "xyz", "q")
    val df = words.toDF("word")
    val enc = graft.expressions.TextExprs.wordpiece(col("word"),
      array(vocab.map(lit): _*))
    val got = df.select(col("word"), enc.as("p")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach(w => assert(got(w) === naive(w), s"word $w"))
    // longest match beats a shorter prefix: "the..." takes "the" not "th"
    assert(got("thequick") === Seq("the", "quick"))
    // SQL exposure through the session extension registry
    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("wp_words")
    val viaSql = spark.sql(
      "SELECT word, graft_wordpiece(word, array('th','the','quick','ck','qu','uick')) AS p FROM wp_words")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach(w => assert(viaSql(w) === naive(w), s"sql $w"))
  }

  test("fixMojibake: repairs real misdecodes, idempotent, conservative") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clean = "café naïve résumé — déjà vu"
    val moji = new String(
      clean.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(moji != clean && moji.contains("Ã"))
    val rows = Seq(
      (1L, moji),                    // the actual bad decode → repaired
      (2L, clean),                   // already clean (em dash > 0xFF
                                     //   guards the Latin-1 round trip)
      (3L, "plain ascii text"),      // fast path, unchanged
      (4L, "café alone"),       // Latin-1 é: bytes aren't valid
                                     //   UTF-8 → untouched
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val fixed = graft.expressions.TextExprs.fixMojibake(col("text"))
    val got = rows.select(col("doc_id"), fixed.as("f")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L) === Some(clean))
    assert(got(2L) === Some(clean))
    assert(got(3L) === Some("plain ascii text"))
    assert(got(4L) === Some("café alone"))
    assert(got(5L) === None)
    // idempotent: repairing the repair is a no-op
    val twice = rows.filter(col("doc_id") === 1L)
      .select(graft.expressions.TextExprs.fixMojibake(fixed))
      .collect()(0).getString(0)
    assert(twice === clean)
    // SQL exposure
    graft.GraftExtensions.register(spark)
    rows.createOrReplaceTempView("moji_rows")
    assert(spark.sql(
      "SELECT graft_fix_mojibake(text) FROM moji_rows WHERE doc_id = 1")
      .collect()(0).getString(0) === clean)
  }

  test("t_mix_waterfall: naive iterative fixpoint replay, budget exact") {
    val dir = TempDirs.dir("wf").toString
    import spark.implicits._
    // crafted so at least one source caps (tiny size, high weight) and
    // several stay uncapped; weights derive from len(source) % 3 + 1
    def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, "s1", words(8, "a")),     // w=3, tiny → caps
      (2L, "s2", words(300, "b")),   // w=3
      (3L, "abc", words(200, "c")),  // w=1
      (4L, "wxyz", words(150, "d")), // w=2
      (5L, "s2", words(250, "e")))
    docs.toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    // independent naive fixpoint: cap any active source whose fair
    // share covers its size, recompute, repeat; then floor + largest
    // remainder over the uncapped
    val sz = docs.groupBy(_._2).map { case (s, v) =>
      s -> v.map(_._3.split(" ").length.toLong).sum }
    val w = sz.keys.map(s => s -> (s.length % 3 + 1).toLong).toMap
    val budget = sz.values.sum * 6 / 10
    var capped = Set.empty[String]
    var changed = true
    while (changed) {
      val sCap = capped.toSeq.map(sz).sum
      val wAct = (sz.keySet -- capped).toSeq.map(w).sum
      val newly = (sz.keySet -- capped).filter(s =>
        sz(s) * wAct <= (budget - sCap) * w(s))
      changed = newly.nonEmpty
      capped ++= newly
    }
    val sK = capped.toSeq.map(sz).sum
    val wK = (sz.keySet -- capped).toSeq.map(w).sum
    val base = (sz.keySet -- capped).map(s =>
      s -> (budget - sK) * w(s) / wK).toMap
    val rem = (sz.keySet -- capped).map(s =>
      s -> (budget - sK) * w(s) % wK).toMap
    val l = (budget - sK) - base.values.sum
    val topped = rem.toSeq.sortBy { case (s, r) => (-r, s) }
      .take(l.toInt).map(_._1).toSet
    val expect = sz.keySet.map { s =>
      s -> (if (capped(s)) sz(s)
            else base(s) + (if (topped(s)) 1L else 0L)) }.toMap
    val got = SparkEntry.queries("t_mix_waterfall")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got.keySet === sz.keySet)
    sz.keySet.foreach { s =>
      assert(got(s)._1 === sz(s), s"size $s")
      assert(got(s)._2 === capped(s), s"capped $s")
      assert(got(s)._3 === expect(s), s"alloc $s")
      assert(got(s)._3 <= sz(s), s"alloc exceeds size for $s")
    }
    assert(capped.nonEmpty && capped.size < sz.size)
    // allocations exhaust the budget exactly when someone is uncapped
    assert(got.values.map(_._3).sum === budget)
  }

  test("t_tokenizer_eval: weighted-fertility identities on a controlled corpus") {
    val dir = TempDirs.dir("tke").toString
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox the fox"),
      (2L, "riverriverrun there then riverriverrun"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t_tokenizer_eval")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet === Set("chars", "wordpiece", "unigram"))
    // all three run over the SAME word-type table
    val (nt, ww) = (rows("chars")._1, rows("chars")._2)
    assert(rows.values.forall(v => v._1 == nt && v._2 == ww))
    // chars baseline replay: sum freq * len(word), and it dominates
    val wf = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, v) => w -> v.size.toLong }
    assert(rows("chars")._3 ===
      wf.map { case (w, f) => f * w.length }.sum)
    assert(ww === wf.values.sum && nt === wf.size.toLong)
    Seq("wordpiece", "unigram").foreach { t =>
      assert(rows(t)._3 <= rows("chars")._3, s"$t fertility above chars")
      assert(rows(t)._3 >= ww, s"$t below one piece per word")
      assert(rows(t)._4 === rows(t)._3 * 1000000L / ww)
    }
  }

  test("t_unigram_viterbi: naive DP replay on a controlled corpus") {
    val dir = TempDirs.dir("uni").toString
    import spark.implicits._
    val docs = Seq((1L, "thethe the river there then the"),
      (2L, "rivers run there and then run the river"),
      (3L, "then the rivers ran"),
      // 13 chars — longer than the max piece, so it MUST split
      (4L, "riverriverrun riverriverrun there"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // naive replay: same induction, same integer quantization, same
    // DP with the (score, -l) tie-break — independently in plain Scala
    val wf = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val subW = scala.collection.mutable.Map[String, Long]()
    wf.foreach { case (w, f) =>
      val ss = (for { l <- 1 to 8; i <- 0 to w.length - l }
        yield w.substring(i, i + l)).toSet
      ss.foreach(s => subW(s) = subW.getOrElse(s, 0L) + f)
    }
    val chars = subW.filter(_._1.length == 1)
    val multi = subW.filter(_._1.length >= 2).toSeq
      .sortBy { case (s, c) => (-c, s) }.take(200)
    val vocab = chars.toMap ++ multi.toMap
    val tot = vocab.values.sum.toDouble
    val score = vocab.map { case (p, c) =>
      p -> BigDecimal(math.log(c / tot) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }
    def viterbi(w: String): (Long, Seq[String]) = {
      val dp = Array.fill(w.length + 1)((Long.MinValue, 0))
      dp(0) = (0L, 0)
      for (j <- 1 to w.length) {
        val cands = for {
          l <- 1 to math.min(8, j)
          p = w.substring(j - l, j) if score.contains(p)
        } yield (dp(j - l)._1 + score(p), -l, l)
        val best = cands.max
        dp(j) = (best._1, best._3)
      }
      var pos = w.length
      val ps = scala.collection.mutable.ArrayBuffer[String]()
      while (pos > 0) {
        val bp = dp(pos)._2; ps.prepend(w.substring(pos - bp, pos)); pos -= bp
      }
      (dp(w.length)._1, ps.toSeq)
    }
    val got = SparkEntry.queries("t_unigram_viterbi")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getInt(3),
        r.getString(4)))).toMap
    assert(got.keySet === wf.keySet)
    wf.keys.foreach { w =>
      val (sc, ps) = viterbi(w)
      assert(got(w) === ((sc, ps.length, ps.mkString("|"))), s"word $w")
    }
    // the corpus is built so segmentation is non-trivial somewhere
    assert(got.exists(_._2._2 > 1), "expected at least one split word")
  }

  test("sanitize: invisibles vanish, typography folds, idempotent") {
    import spark.implicits._
    import graft.functions.Text
    def san(s: String): String = Seq(s).toDF("t")
      .select(Text.sanitize(col("t"))).head().getString(0)
    assert(san("a\u200Bb\u200Cc\u200Dd\uFEFFe\u00ADf") == "abcdef")
    assert(san("\u2018q\u2019 \u201Cw\u201D") == "'q' \"w\"")
    assert(san("a\u2013b\u2014c") == "a-b-c")
    assert(san("a\u00A0b") == "a b")
    assert(san("wait\u2026 what") == "wait... what")
    assert(san("plain ascii 123.") == "plain ascii 123.")
    // idempotence: every output char is a fixed point of the chain
    val hostile = "\uFEFF\u2018x\u2019\u200B \u2014 y\u2026 z\u00AD"
    assert(san(san(hostile)) == san(hostile))
    // the sanitizer heals token splits: shingles no longer fork
    assert(san("zero\u200Bwidth") == "zerowidth")
  }

  test("t_split_by_cluster: families land whole; id-split would leak") {
    val dir = TempDirs.dir("spl").toString
    import spark.implicits._
    // 40 families of 3 exact copies each
    val docs = (0L until 40L).flatMap(f => Seq(0L, 1L, 2L).map(c =>
      (f * 1000 + c, s"family $f body words " + ("x " * 5).trim)))
      .map { case (id, t) => (id, t + s" uniq${id / 1000}") }
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t_split_by_cluster")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // zero leakage by construction, and the census masses the corpus
    assert(out.forall(_._4 == 0L), "cluster split must never leak")
    assert(out.map(_._2).sum === docs.length * 2L) // doubled corpus
    // every group is whole: docs per split == 6 * groups per split
    // (each family has 3 docs, corpus doubled -> 6 per fingerprint)
    out.foreach { case (split, nDocs, nGroups, _) =>
      assert(nDocs === nGroups * 6, s"$split fragmented a family")
    }
    // contrast: the id-keyed split on the SAME corpus leaks
    val leak = SparkEntry.queries("t_split_leakage")(spark, dir)
      .collect().map(_.getLong(2)).sum
    assert(leak > 0L, "the id split should fragment some family")
  }

  test("t_char_entropy: naive Shannon replay; spam low, varied high") {
    val dir = TempDirs.dir("ent").toString
    import spark.implicits._
    val docs = Seq((1L, "aaaaaaaaaaaaaaaa"),          // 1 symbol: H = 0
      (2L, "abcdefghijklmnop"),                        // uniform 16: ln 16
      (3L, "the quick brown fox jumps over the dog"),
      (4L, "ab"))                                      // uniform 2: ln 2
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t_char_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    def naive(s: String): Double = {
      val n = s.length.toDouble
      -s.groupBy(identity).values.map { g =>
        val p = g.length / n
        BigDecimal(p * BigDecimal(math.log(p))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sum
    }
    docs.foreach { case (id, text) =>
      val (nc, nd, h) = out(id)
      assert(nc === text.length.toLong)
      assert(nd === text.distinct.length)
      assert(math.abs(h - naive(text)) < 1e-6, s"doc $id")
    }
    assert(out(1L)._3 === 0.0)
    assert(math.abs(out(2L)._3 - math.log(16)) < 1e-4)
    assert(math.abs(out(4L)._3 - math.log(2)) < 1e-4)
    // entropy is bounded by ln(n_distinct), spam sits at the floor
    assert(out(1L)._3 < out(4L)._3 && out(4L)._3 < out(3L)._3)
    assert(out(3L)._3 <= math.log(out(3L)._2.toDouble) + 1e-9)
  }

  test("t_unigram_prune: survivors = chars + top-160 by ec; renorm exact") {
    val dir = TempDirs.dir("uniprune").toString
    import spark.implicits._
    Seq((1L, "thethe the river there then the"),
      (2L, "rivers run there and then run the river"),
      (3L, "then the rivers ran"),
      (4L, "riverriverrun riverriverrun there"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val em = SparkEntry.queries("t_unigram_em")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val out = SparkEntry.queries("t_unigram_prune")(spark, dir).collect()
    val surv = out.map(r => r.getString(0)).toSet
    // totality: every single-char piece survives
    val chars = em.keySet.filter(_.length == 1)
    assert(chars.subsetOf(surv))
    // the multi-char survivors are exactly the top-160 (or all, on a
    // corpus with fewer than 160 multi-char pieces) by expected count
    val multi = em.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, ec) => (-ec, p) }
    val expectMulti = multi.take(160).map(_._1).toSet
    assert((surv -- chars) === expectMulti)
    assert(out.head.getInt(3) === em.size - surv.size) // n_pruned
    // renormalization: surviving p_pruned sums to ~1
    val psum = out.map(_.getDouble(2)).sum
    assert(math.abs(psum - 1.0) < 1e-6, s"pruned model mass $psum")
    // both likelihoods are finite and the columns are constant
    assert(out.map(_.getDouble(4)).distinct.length === 1)
    assert(out.map(_.getDouble(5)).distinct.length === 1)
    assert(!out.head.getDouble(5).isNaN && !out.head.getDouble(5).isInfinite)
  }

  test("compressionRatio: repetition compresses, noise does not, band order") {
    import spark.implicits._
    def ratio(s: String): Double = Seq(s).toDF("t")
      .select(Text.compressionRatio(col("t"))).head().getDouble(0)
    val boiler = "home login about " * 200
    val prose = ("the quick brown fox jumps over the lazy dog and then " +
      "wanders through seventeen distinct meadows naming each flower") * 3
    val noise = (1 to 400).map(i =>
      java.lang.Long.toHexString(i * 2654435761L)).mkString(" ")
    assert(ratio(boiler) < ratio(prose) && ratio(prose) < ratio(noise),
      s"band order broke: ${ratio(boiler)} ${ratio(prose)} ${ratio(noise)}")
    assert(ratio(boiler) < 0.1)   // heavy repetition collapses
    assert(ratio(noise) > 0.5)    // hex noise barely compresses
    // determinism: same input -> same length, any partitioning
    val df = (1 to 100).map(i => (i.toLong, prose)).toDF("id", "t")
    val a = df.repartition(7)
      .select(Text.compressionRatio(col("t"))).distinct().collect()
    assert(a.length === 1 && a.head.getDouble(0) === ratio(prose))
  }

  test("t_script_census: counts replay Character.UnicodeScript exactly") {
    val dir = TempDirs.dir("scripts").toString
    import spark.implicits._
    val docs = Seq((0L, "mixed ascii"), (1L, "plain words"),
      (2L, "the end"), (3L, "a"), (4L, "bb cc"), (5L, "zz"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val inj = Map(0L -> " \u043F\u0440\u0438\u0432\u0435\u0442 \u043C\u0438\u0440",
      1L -> " \u6F22\u5B57\u6F22", 2L -> " \u03B1\u03B2\u03B3")
    import java.lang.Character.{UnicodeScript => US}
    def cnt(s: String, sc: US): Int =
      s.codePoints().toArray.count(cp => US.of(cp) == sc)
    val out = SparkEntry.queries("t_script_census")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getString(5)))).toMap
    docs.foreach { case (id, text) =>
      val d = text + inj(id % 3)
      val naive = (cnt(d, US.LATIN), cnt(d, US.CYRILLIC),
        cnt(d, US.HAN), cnt(d, US.GREEK))
      val got = out(id)
      assert((got._1, got._2, got._3, got._4) === naive, s"doc $id")
    }
    // dominance with declaration-order ties: doc 0 has 10 latin vs 9
    // cyrillic; doc 3 has 1 latin vs 9 cyrillic; doc 5 ties han at 2
    // latin... no: 'zz' = 2 latin vs 3 han -> han
    assert(out(0L)._5 === "latin")
    assert(out(3L)._5 === "cyrillic")
    assert(out(2L)._5 === "latin") // 'the end': 6 latin vs 3 greek
    assert(out(4L)._5 === "latin") // 'bb cc': 4 latin vs 3 han
    assert(out(5L)._5 === "greek") // 'zz': 2 latin vs 3 greek
  }

  test("t_unigram_em: naive forward-backward replay; likelihood rises") {
    val dir = TempDirs.dir("uniem").toString
    import spark.implicits._
    val docs = Seq((1L, "thethe the river there then the"),
      (2L, "rivers run there and then run the river"),
      (3L, "then the rivers ran"),
      (4L, "riverriverrun riverriverrun there"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // same induction as the query, probabilities as plain w/W doubles
    val wf = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val subW = scala.collection.mutable.Map[String, Long]()
    wf.foreach { case (w, f) =>
      val ss = (for { l <- 1 to 8; i <- 0 to w.length - l }
        yield w.substring(i, i + l)).toSet
      ss.foreach(s => subW(s) = subW.getOrElse(s, 0L) + f)
    }
    val vocab = subW.filter(_._1.length == 1).toMap ++
      subW.filter(_._1.length >= 2).toSeq
        .sortBy { case (s, c) => (-c, s) }.take(200).toMap
    val tot = vocab.values.sum
    val prob = vocab.map { case (p, c) => p -> c.toDouble / tot.toDouble }

    def forward(w: String, pm: Map[String, Double]): Array[Double] = {
      val a = Array.fill(w.length + 1)(0.0); a(0) = 1.0
      for (j <- 1 to w.length; l <- 1 to math.min(8, j)) {
        val p = w.substring(j - l, j)
        if (pm.contains(p)) a(j) += a(j - l) * pm(p)
      }
      a
    }
    def backward(w: String): Array[Double] = {
      val b = Array.fill(w.length + 1)(0.0); b(w.length) = 1.0
      for (j <- w.length - 1 to 0 by -1;
           l <- 1 to math.min(8, w.length - j)) {
        val p = w.substring(j, j + l)
        if (prob.contains(p)) b(j) += prob(p) * b(j + l)
      }
      b
    }
    // naive soft counts + the coverage-mass law Σ γ·l = len(word)
    val ec = scala.collection.mutable.Map[String, Double]()
    wf.foreach { case (w, f) =>
      val a = forward(w, prob); val b = backward(w)
      var mass = 0.0
      for (i <- 1 to w.length; l <- 1 to 8
           if i + l - 1 <= w.length) {
        val p = w.substring(i - 1, i - 1 + l)
        if (prob.contains(p)) {
          val g = a(i - 1) * prob(p) * b(i - 1 + l) / a(w.length)
          ec(p) = ec.getOrElse(p, 0.0) + f * g
          mass += g * l
        }
      }
      assert(math.abs(mass - w.length) < 1e-9,
        s"expected coverage of $w is ${mass}, not ${w.length}")
    }
    val out = SparkEntry.queries("t_unigram_em")(spark, dir).collect()
    val got = out.map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === ec.keySet)
    val c = ec.values.sum
    got.foreach { case (piece, (w, ecount, pNew)) =>
      assert(w === vocab(piece), s"weight of $piece")
      assert(math.abs(ecount - ec(piece)) < 1e-4, s"ecount of $piece")
      assert(math.abs(pNew - ec(piece) / c) < 1e-4, s"p_new of $piece")
    }
    // the EM guarantee, on the query's own columns AND by naive replay
    val (llPre, llPost) = (out.head.getDouble(4), out.head.getDouble(5))
    assert(llPost >= llPre, s"EM must not decrease likelihood: " +
      s"$llPre -> $llPost")
    val pNewMap = ec.map { case (p, e) => p -> e / c }.toMap
    val naivePre = wf.map { case (w, f) =>
      f * math.log(forward(w, prob)(w.length)) }.sum
    val naivePost = wf.map { case (w, f) =>
      f * math.log(forward(w, pNewMap)(w.length)) }.sum
    assert(naivePost >= naivePre - 1e-9)
    assert(math.abs(llPre - naivePre) < 1e-3 &&
      math.abs(llPost - naivePost) < 1e-3)
  }
}
