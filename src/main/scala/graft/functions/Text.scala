package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline extensions:
  * tokenization, n-gram shingling, language ID, quality scoring, and
  * document fingerprinting. Everything here is built from Spark
  * built-in / higher-order functions — no UDFs — so the hot path stays
  * JVM-native and the expressions are replicable 1:1 in the DuckDB
  * oracle SQL.
  *
  * Determinism note: every double-valued score is a FIXED expression
  * tree of IEEE ops (single divisions, left-assoc weighted sums), so
  * Spark and DuckDB produce bit-identical values — no rounding fudge
  * needed in the correctness gate.
  */
object Text {

  /** Whitespace tokenization (documents.text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alnum runs and single non-alnum glyphs each
    * count as one token (regexp over the raw text).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^a-z0-9]+"), x => length(x) > 0)) +
      (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", "")))

  /** Word n-gram shingles; empty array when the doc has < n tokens
    * (guards Spark's descending `sequence(1, 0)` pitfall).
    */
  def shingles(tok: Column, n: Int): Column =
    when(size(tok) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(tok) - (n - 1)),
        i => array_join(slice(tok, i, lit(n)), " ")))

  /** Per-language marker-word sets for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and fixed — the heuristic IS the
    * contract (the oracle replicates it; it is not ground truth).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "les", "une", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def markerHits(tok: Column, markers: Seq[String]): Column =
    size(filter(tok, x => x.isin(markers.map(_.asInstanceOf[Any]): _*)))

  /** Language ID: argmax of marker hits, ties resolved by declaration
    * order (en, de, es, fr, zh); all-zero ⇒ "und".
    */
  def langId(tok: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> markerHits(tok, m) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** English-stopword ratio (marker set of `en`), one IEEE division. */
  def stopwordRatio(tok: Column): Column =
    markerHits(tok, langMarkers.head._2).cast("double") / size(tok).cast("double")

  /** Ratio of non-[a-z0-9 space] chars, one IEEE division. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", ""))).cast("double") /
      length(text).cast("double")

  /** Composite quality score in [0,1]: stopword density + length credit
    * + punctuation penalty, as one fixed left-assoc expression tree.
    */
  def qualityScore(text: Column, tok: Column): Column =
    lit(0.5) * stopwordRatio(tok) +
      lit(0.3) * least(lit(1.0), size(tok).cast("double") / lit(50.0)) +
      lit(0.2) * (lit(1.0) - punctRatio(text))

  /** Unicode sanitization for scraped text — the normalizations a
    * crawler corpus needs BEFORE tokenization (invisible characters
    * split tokens silently; typographic punctuation forks otherwise-
    * identical n-grams and dedup shingles):
    *   - REMOVE zero-widths (ZWSP/ZWNJ/ZWJ), the BOM, soft hyphens;
    *   - MAP curly quotes → straight, en/em dash → '-', NBSP → space,
    *     ellipsis → "...".
    * A regexp_replace + translate chain — codegen'd, map-side,
    * idempotent (every output char is a fixed point). Complements
    * [[graft.expressions.FixMojibake]] (byte-level repair) and NFC
    * normalization (canonical composition): sanitize is the
    * OPINIONATED step that loses typography on purpose.
    */
  def sanitize(text: Column): Column = {
    val removed = regexp_replace(text,
      "[\\u200B\\u200C\\u200D\\uFEFF\\u00AD]", "")
    val ellipsis = regexp_replace(removed, "\\u2026", "...")
    translate(ellipsis,
      "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0",
      "''\"\"--" + " ")
  }

  /** Compression-ratio quality signal (the C4/Dolma zlib heuristic):
    * DEFLATE length over UTF-8 byte length, rounded to 4. Repetitive
    * boilerplate compresses far below natural prose; noise barely
    * compresses — a pipeline drops both tails. Library-only gate (no
    * SQL engine exposes zlib) — TextSpec pins the band structure.
    */
  def compressionRatio(text: Column): Column =
    round(graft.expressions.TextExprs.deflateLen(text).cast("double") /
      octet_length(text).cast("double"), 4)

  /** PII redaction for training corpora: emails, international phone
    * numbers, then long digit runs (account/card ids) replaced by typed
    * placeholders, in that order (emails contain digits; phones are
    * consumed before bare digit runs). A pure `regexp_replace` chain —
    * codegen'd, map-side, shuffle-free — using only the regex subset
    * Java and RE2 share, so the oracle replicates it verbatim.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email, "\\+[0-9][0-9-]{7,14}[0-9]", "<PHONE>")
    regexp_replace(phone, "[0-9]{9,}", "<ID>")
  }

  /** PII detection — the census a pipeline runs BEFORE deciding to
    * scrub with [[redactPii]] (or to drop the document): per-document
    * counts of emails, international phone numbers, IPv4 addresses
    * with VALID octets, and Luhn-valid 16-digit card numbers.
    * Extraction is `regexp_extract_all` over the Java∩RE2 regex subset
    * (no lookarounds — RE2 has none, so 16-digit candidates come from
    * generic digit runs length-filtered in array algebra), and the
    * Luhn checksum is a pure `aggregate` over the 16 digit positions
    * (double every even 0-based index from the left for even length) —
    * codegen'd, map-side, no UDF, replicated digit-for-digit by the
    * oracle. Returns a struct (n_emails, n_phones, n_ipv4, n_cards).
    */
  def piiCounts(text: Column): Column = {
    val emails = regexp_extract_all(text,
      lit("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"), lit(0))
    val phones = regexp_extract_all(text,
      lit("\\+[0-9][0-9-]{7,14}[0-9]"), lit(0))
    val octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    val ips = regexp_extract_all(text,
      lit(s"\\b$octet\\.$octet\\.$octet\\.$octet\\b"), lit(0))
    def luhnOk(s: Column): Column =
      aggregate(sequence(lit(0), lit(15)), lit(0), (acc, j) => {
        val d = ascii(s.substr(j + lit(1), lit(1))) - lit(48)
        acc + when(j % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }) % 10 === 0
    val cards = filter(regexp_extract_all(text, lit("[0-9]+"), lit(0)),
      r => length(r) === 16 && luhnOk(r))
    struct(size(emails).as("n_emails"), size(phones).as("n_phones"),
      size(ips).as("n_ipv4"), size(cards).as("n_cards"))
  }

  /** Mean word length without a per-word pass: text is single-space
    * joined, so summed word length = chars − (n−1) separators. One
    * IEEE division.
    */
  def meanWordLength(text: Column, tok: Column): Column =
    (length(text) - (size(tok) - 1)).cast("double") / size(tok).cast("double")

  def maxWordLength(tok: Column): Column =
    array_max(transform(tok, w => length(w)))

  /** Fraction of purely-alphabetic words — Gopher-style structural
    * signal (symbol-heavy and id-heavy text scores low).
    */
  def alphaWordRatio(tok: Column): Column =
    size(filter(tok, w => w.rlike("^[a-z]+$"))).cast("double") /
      size(tok).cast("double")

  /** Gopher-style keep decision: document length in tokens, mean word
    * length, and alphabetic-word fraction within the published-rule
    * bands. Thresholds are integer/exact-double comparisons — no
    * cross-engine rounding hazard.
    */
  def gopherKeep(text: Column, tok: Column): Column =
    size(tok) >= 10 && size(tok) <= 5000 &&
      meanWordLength(text, tok) >= 2.0 && meanWordLength(text, tok) <= 12.0 &&
      alphaWordRatio(tok) >= 0.6

  /** Within-document repetition: fraction of n-gram occurrences that
    * are repeats of an earlier n-gram (Gopher's duplicate-n-gram
    * signal — high values flag boilerplate/spam). 0.0 for docs shorter
    * than n tokens. One IEEE division.
    */
  def repetitionRatio(tok: Column, n: Int): Column = {
    val sh = shingles(tok, n)
    when(size(sh) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(sh)).cast("double") /
        size(sh).cast("double"))
  }

  /** Whole-document fingerprint. */
  def fingerprint(text: Column): Column = md5(text)

  /** Min-shingle fingerprint (a 1-permutation MinHash): stable under
    * local edits away from the minimizing shingle.
    */
  def minShingleFingerprint(tok: Column, n: Int): Column =
    array_min(transform(shingles(tok, n), s => md5(s)))

  /** Hashed-bag-of-words dot product with a literal weight vector —
    * the scoring core of a fastText-style linear quality classifier.
    * Weights are (md5-prefix bucket -> fixed-point decimal string);
    * the map ships as a broadcast plan literal (the trained-model
    * artifact shape) and the per-document sum is an `aggregate` HOF
    * over the token array in EXACT decimal — fully map-side, zero
    * shuffle, and the resulting sign (keep/drop) is bit-stable under
    * any partitioning or row order.
    */
  def hashedLinearDot(tok: Column, weights: Seq[(String, String)]): Column = {
    val wmap = map(weights.flatMap { case (b, w) =>
      Seq(lit(b), lit(new java.math.BigDecimal(w)))
    }: _*)
    // the accumulator type must be a fixed point of the merge lambda:
    // pin the scale to the weights' own scale and cast the sum back
    // (exact — precision 38 is never approached by a real document)
    val scale = weights.map(w => new java.math.BigDecimal(w._2).scale).max
    val accTy = s"decimal(38,$scale)"
    aggregate(tok,
      lit(new java.math.BigDecimal(0)).cast(accTy),
      (acc, x) =>
        (acc + element_at(wmap, substring(md5(x), 1, 1))).cast(accTy))
  }

  /** Score each document with the hashed linear classifier
    * ([[hashedLinearDot]] over its tokens): emits (idCol, n_tokens,
    * logit, kept). `kept` is the sign of the exact-decimal dot
    * product; `logit` is its one correctly-rounded division by the
    * token count.
    */
  def hashedLinearScores(docs: DataFrame, idCol: String, textCol: String,
                         weights: Seq[(String, String)]): DataFrame = {
    val tok = tokens(col(textCol))
    val dot = hashedLinearDot(tok, weights)
    docs.select(col(idCol),
      size(tok).cast("long").as("n_tokens"),
      round(dot.cast("double") / size(tok).cast("double"), 4).as("logit"),
      (dot > 0).as("kept"))
  }
}
