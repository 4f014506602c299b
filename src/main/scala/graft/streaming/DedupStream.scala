package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.Text
import graft.operators.Dedup

/** Continuous-ingest near-dup screening: documents arriving on a stream
  * are checked against a STATIC corpus index — the "is this new page a
  * copy of something we already have?" gate a live training-data
  * pipeline runs before admitting a document.
  *
  * Scale shape: the stream side is banded entirely MAP-SIDE (shingles →
  * minhash signature → LSH band keys, all pure expressions — no
  * streaming state, no watermark needed), then a stream-static
  * equi-join on (band, band-hash) hits the prebuilt index, and exact
  * Jaccard verification prunes LSH false positives. State is zero; the
  * per-batch cost is the candidate join only. The index is a plain
  * DataFrame: rebuild it offline and swap it in between restarts, or
  * persist it with [[graft.operators.Dedup.writeBandIndex]].
  */
object DedupStream {

  private def banded(df: DataFrame, idCol: String, textCol: String,
                     n: Int, bands: Int, rowsPerBand: Int,
                     idAs: String, shAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        array_distinct(Text.shingles(Text.tokens(col(textCol)), n)).as(shAs))
      .withColumn("__sig",
        Dedup.minhashSignature(col(shAs), bands * rowsPerBand))
      .select(col(idAs), col(shAs),
        posexplode(Dedup.lshBandKeys(col("__sig"), bands, rowsPerBand))
          .as(Seq("band", "bkey")))

  /** Build the static corpus band index: one row per (band, bkey) per
    * document, carrying the shingle set for exact verification. At
    * scale, persist this bucketed on (band, bkey) so every micro-batch
    * join is co-located. */
  def bandIndex(corpus: DataFrame, idCol: String, textCol: String,
                n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    banded(corpus, idCol, textCol, n, bands, rowsPerBand, "base_id", "base_sh")

  /** [[flagNearDups]] against the PERSISTED band-index artifact
    * ([[graft.operators.Dedup.readBandIndex]]) — the streaming twin of
    * `Dedup.pairsAgainstIndex`, sharing one on-disk asset with the
    * daily batch job: candidates from a stream-static equi-join on the
    * index's band TABLE, exact verification against its sets TABLE.
    * Same per-band row multiplicity as [[flagNearDups]] (append mode
    * cannot deduplicate; DISTINCT the pairs in `foreachBatch`).
    */
  def screenAgainstIndex(stream: DataFrame, idx: Dedup.BandIndex,
                         idCol: String, textCol: String,
                         n: Int, bands: Int, rowsPerBand: Int,
                         threshold: Double): DataFrame =
    banded(stream, idCol, textCol, n, bands, rowsPerBand, "new_id", "new_sh")
      .join(idx.bands.select(col("id").as("base_id"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      // a replayed id already in the index must not flag itself
      .filter(col("new_id") =!= col("base_id"))
      .join(idx.sets.select(col("id").as("base_id"),
        col("sh").as("base_sh")), Seq("base_id"))
      .withColumn("common",
        size(array_intersect(col("new_sh"), col("base_sh"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("new_sh")) + size(col("base_sh")) - col("common"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "base_id", "band", "jaccard")

  /** Screen a document stream against the index. Emits one row per
    * (new_id, base_id, band) whose exact Jaccard clears `threshold` —
    * a pair matching in several bands appears once per band, because an
    * append-mode stream cannot deduplicate without a watermark;
    * aggregate in `foreachBatch` if single rows per pair are needed. */
  def flagNearDups(stream: DataFrame, index: DataFrame,
                   idCol: String, textCol: String,
                   n: Int, bands: Int, rowsPerBand: Int,
                   threshold: Double): DataFrame =
    banded(stream, idCol, textCol, n, bands, rowsPerBand, "new_id", "new_sh")
      .join(index, Seq("band", "bkey"))
      .withColumn("common",
        size(array_intersect(col("new_sh"), col("base_sh"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("new_sh")) + size(col("base_sh")) - col("common"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "base_id", "jaccard", "band")

  /** Winnowing fingerprint index: (postings, meta). Postings hold one
    * narrow (fp, base_id) row per fingerprint — the blocking key side,
    * persisted bucketed on fp at scale; meta holds each base doc's
    * full fingerprint array ONCE (base_id, base_fps) for exact overlap
    * scoring at match time. Storing the array on every posting row
    * (the previous shape) multiplied index storage by the per-doc
    * fingerprint count. */
  def winnowIndex(corpus: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int): (DataFrame, DataFrame) = {
    val fps = corpus.select(col(idCol).as("base_id"),
      Dedup.winnowFingerprints(Text.tokens(col(textCol)), k, w)
        .as("base_fps"))
    (fps.select(col("base_id"), explode(col("base_fps")).as("fp")),
      fps)
  }

  /** Screen a stream against a winnowing index: any incoming document
    * sharing a run of >= w+k-1 tokens with an indexed document is
    * GUARANTEED to hit at least one fingerprint (the winnowing
    * property, spec-proven batch-side); `minShared` raises the bar to
    * suppress boilerplate-only overlap. Emits one row per
    * (new_id, base_id, fp) hit whose exact fingerprint overlap clears
    * `minShared` — append-safe (no aggregation), like
    * [[flagNearDups]]'s per-band rows; dedupe in foreachBatch when one
    * row per pair is needed. The narrow fp join blocks first; the
    * meta join fetches each base array per HIT, not per posting. */
  def winnowScreen(stream: DataFrame, postings: DataFrame,
                   meta: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int, minShared: Int): DataFrame =
    stream.select(col(idCol).as("new_id"),
        Dedup.winnowFingerprints(Text.tokens(col(textCol)), k, w)
          .as("new_fps"))
      .select(col("new_id"), col("new_fps"),
        explode(col("new_fps")).as("fp"))
      .join(postings, Seq("fp"))
      .join(meta, Seq("base_id"))
      .withColumn("common",
        size(array_intersect(col("new_fps"), col("base_fps"))))
      .filter(col("common") >= minShared)
      .select("new_id", "base_id", "common", "fp")

  // ------------------------------------------------------------------
  // Self-building screen: stream vs everything streamed so far
  // ------------------------------------------------------------------

  /** Per-(band, band-hash) bucket of previously streamed documents:
    * arrival-ordered ids and their concatenated minhash signatures
    * (k × 32 hex chars — strings round-trip the state encoder exactly;
    * see EventStreams.TrendState for the Decimal(38,18) hazard).
    */
  final case class BucketState(ids: Seq[Long], sigs: Seq[String])

  final case class NearDupHit(a_id: Long, b_id: Long, band: Int,
                              est: Double)

  /** Fraction of equal minhash components — the standard unbiased
    * Jaccard estimator (each component matches with probability J).
    */
  private[graft] def sigAgreement(a: String, b: String,
                                  k: Int): Double = {
    var m = 0
    var i = 0
    while (i < k) {
      if (a.regionMatches(i * 32, b, i * 32, 32)) m += 1
      i += 1
    }
    m.toDouble / k
  }

  /** Near-dup screen of a document stream AGAINST ITSELF: the LSH band
    * index is streaming state that grows as documents flow, so each
    * arrival is compared to every earlier document sharing a band
    * bucket — `d_jaccard_incremental`'s daily-ingest shape collapsed
    * to per-micro-batch granularity, with no offline index rebuild.
    *
    * Scale shape: banding is pure map-side expressions; the only
    * stateful operator is keyed by (band, band-hash), so state and
    * comparisons shard across executors by bucket. State per bucket
    * is ids + signatures (k×32 B each), FIFO-capped at `maxPerBucket`
    * — a boilerplate band bucket (the LSH analogue of a stop-shingle)
    * degrades to "recent corpus" semantics instead of unbounded state
    * and O(bucket²) work; legitimate near-dup buckets stay tiny.
    * Similarity is the signature-agreement estimate (matching
    * components / k): state never carries shingle sets, so the memory
    * bound holds; route hits through exact verification
    * (`Dedup.jaccardPairsAgainst`) downstream if estimates are not
    * enough. Within a batch, rows process in doc-id order and pairs
    * emit as (min, max) — the hit set is arrival-order independent
    * under a fixed batching (spec-proven); as with `flagNearDups`, a
    * pair agreeing in several bands appears once per band.
    */
  def nearDupSelfStream(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, bands: Int, rowsPerBand: Int,
                        minEst: Double, maxPerBucket: Int = 256)
      : Dataset[NearDupHit] = {
    val k = bands * rowsPerBand
    val spark = docs.sparkSession
    import spark.implicits._
    val bandedDocs = docs.select(col(idCol).as("doc_id"),
        Dedup.minhashSignature(
          array_distinct(Text.shingles(Text.tokens(col(textCol)), n)), k)
          .as("sig"))
      .select(col("doc_id"), array_join(col("sig"), "").as("sigcat"),
        posexplode(Dedup.lshBandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bkey")))
      .select(col("doc_id"), col("band"), col("bkey"), col("sigcat"))
      .as[(Long, Int, String, String)]
    bandedDocs
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state) =>
          val st = state.getOption.getOrElse(BucketState(Nil, Nil))
          var ids = st.ids.toVector
          var sigs = st.sigs.toVector
          val out = Seq.newBuilder[NearDupHit]
          rows.toSeq.sortBy(_._1).foreach { case (id, _, _, sig) =>
            var j = 0
            while (j < ids.length) {
              if (ids(j) != id) {
                val est = sigAgreement(sig, sigs(j), k)
                if (est >= minEst)
                  out += NearDupHit(math.min(id, ids(j)),
                    math.max(id, ids(j)), band, est)
              }
              j += 1
            }
            // idempotent on replay: a doc_id already in the bucket (batch
            // reprocessing, duplicate input) must not occupy a second
            // state slot — it would inflate state toward the FIFO cap and
            // re-emit hits against the same document on later arrivals
            if (!ids.contains(id)) {
              ids :+= id
              sigs :+= sig
              if (ids.length > maxPerBucket) {
                ids = ids.tail
                sigs = sigs.tail
              }
            }
          }
          state.update(BucketState(ids, sigs))
          out.result().iterator
      }
  }

  /** Embedding decontamination at ingest: arriving train vectors are
    * screened against the STATIC eval set before they ever reach the
    * lake — the streaming twin of
    * [[graft.operators.Similarity.crossSetContamination]], and
    * literally the same code path: the eval side is a static broadcast
    * and a stream-static equi-join on the sign-LSH bucket is STATELESS
    * in Structured Streaming (no watermark, no state store), so
    * per-batch output is bit-equal to the batch gate over the same
    * rows by construction. The spec proves it end-to-end through a
    * MemoryStream.
    */
  def contaminationScreen(stream: DataFrame, evalSet: DataFrame,
                          threshold: Double, bits: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    graft.operators.Similarity.crossSetContamination(
      evalSet, stream, threshold, bits, idCol, vecCol)

  /** Perceptual-duplicate screening for IMAGE ingest: each arriving
    * (id, content) payload is decoded and dHashed per partition
    * ([[graft.operators.Multimodal.dHash]] — stateless mapPartitions,
    * legal on a streaming Dataset), then a stream-static equi-join on
    * the 64-bit hash key hits the prebuilt corpus index. Zero
    * streaming state, no watermark; undecodable payloads drop out at
    * the null filter exactly as in batch. The index is a plain
    * (base_id, dhash) frame — rebuild offline, swap between restarts.
    */
  def imageScreen(stream: DataFrame, index: DataFrame): DataFrame = {
    val hashed = graft.operators.Multimodal.dHash(stream).toDF()
      .filter(col("dhash").isNotNull)
      .select(col("id").as("new_id"), col("dhash"))
    hashed.join(index.select(col("base_id"), col("dhash")), "dhash")
      .select(col("new_id"), col("base_id"))
  }

  /** Cluster-routing for an arriving embedding stream: each payload is
    * scored against a FITTED k-means model ([[graft.operators.KMeans
    * .fit]] offline, swap between restarts) by the same map-side
    * argmin the batch scorer uses — centroids are plan literals, so
    * the screen is stateless (no state store, no watermark, zero
    * shuffle) and bit-equal to batch assignment by construction. The
    * routing step of cluster-based curation at ingest time: send each
    * document to its cluster's quota/filter path as it arrives.
    */
  def clusterScreen(stream: DataFrame, model: Map[Int, Seq[Double]],
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    graft.operators.KMeans.assignTo(stream, model, idCol, vecCol)

  /** Blocklist screen at ingest: per-document dictionary hit counts
    * via the SAME plan-compiled Aho-Corasick expression the batch
    * `t_keyword_tags` uses — stateless, map-side, streaming-legal by
    * construction, so the deployed filter ("drop/route any arriving
    * doc that trips the blocklist") is literally the batch operator
    * applied to the stream. Emits (id, keyword, n) for hits only.
    */
  def keywordScreen(stream: DataFrame, dict: Seq[String],
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions._
    stream.select(col(idCol),
        posexplode(graft.expressions.TextExprs.multiMatch(
          col(textCol), lit(dict.toArray))).as(Seq("i", "n")))
      .filter(col("n") > 0L)
      .select(col(idCol),
        element_at(lit(dict.toArray), col("i") + 1).as("keyword"),
        col("n"))
  }
}
