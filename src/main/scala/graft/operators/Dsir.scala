package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** DSIR-style importance resampling (hashed n-gram importance
  * weights, after Xie et al. 2023): hash every bigram into a
  * FIXED-WIDTH feature space (md5-prefix buckets), build add-1
  * smoothed bucket-level LMs for the target domain and the raw
  * corpus, and weight each document by Σ_b k_b·ln(p_tgt(b)/p_raw(b)).
  *
  * Scoring ([[scoreRelational]]): corpus features equi-join the
  * ≤`buckets`-row LM table (broadcast), one map-combinable doc
  * aggregation.
  *
  * Determinism: the ln argument is one IEEE division of exact ≤2^53
  * integer products; each bucket's λ rounds to 4 dp into DECIMAL; doc
  * sums are exact DECIMAL — bit-stable under any partitioning or row
  * order.
  */
object Dsir {

  /** Number of hash buckets when keying on the first `hexChars` hex
    * chars of md5.
    */
  private def bucketCount(hexChars: Int): Int =
    math.pow(16, hexChars.toDouble).toInt

  private def bucketOf(bg: Column, hexChars: Int): Column =
    substring(md5(bg), 1, hexChars)

  /** Per-bucket log importance ratio λ_b = ln(p_tgt(b)/p_raw(b)) with
    * add-1 smoothing, as a (b, lam DECIMAL(18,4)) table of ≤16^hexChars
    * rows. `isTarget` marks the rows whose distribution the resampled
    * corpus should match.
    */
  def lamTable(corpus: DataFrame, textCol: String, isTarget: Column,
               hexChars: Int = 2): DataFrame = {
    val nB = bucketCount(hexChars)
    val feats = corpus.select(isTarget.as("is_tgt"),
        explode(Text.shingles(Text.tokens(col(textCol)), 2)).as("bg"))
      .select(col("is_tgt"), bucketOf(col("bg"), hexChars).as("b"))
      .groupBy("b")
      .agg(count(lit(1)).as("nr"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("nt"))
    val tot = feats.agg(sum(col("nr")).as("rtot"), sum(col("nt")).as("ttot"))
    feats.crossJoin(broadcast(tot))
      .select(col("b"),
        round(log(((col("nt") + 1) * (col("rtot") + nB)).cast("double") /
          ((col("nr") + 1) * (col("ttot") + nB)).cast("double")), 4)
          .cast("decimal(18,4)").as("lam"),
        col("rtot"), col("ttot"))
  }

  /** Batch scoring: features equi-join the broadcast λ table, one
    * map-combinable aggregation per document. Emits
    * (idCol, n_bigrams, logw).
    */
  def scoreRelational(docs: DataFrame, lam: DataFrame, idCol: String,
                      textCol: String, hexChars: Int = 2): DataFrame =
    docs.select(col(idCol),
        explode(Text.shingles(Text.tokens(col(textCol)), 2)).as("bg"))
      .select(col(idCol), bucketOf(col("bg"), hexChars).as("b"))
      .groupBy(idCol, "b").agg(count(lit(1)).as("k"))
      .join(broadcast(lam.select("b", "lam")), "b")
      .groupBy(idCol)
      .agg(sum(col("k")).cast("long").as("n_bigrams"),
        sum(col("k").cast("decimal(18,0)") * col("lam"))
          .cast("double").as("logw"))
}
