package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted MinHash/LSH band index: mergeability (index(A∪B) ==
  * merge(index(A), index(B))), write/read/compact round trip, and the
  * incremental check against the persisted table equalling the direct
  * recompute over the union corpus.
  */
class DedupIndexSpec extends SparkSpec {

  private def corpus(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ten-token sentences with deliberate near-dup structure: doc 10+i is
  // doc i with the first token dropped (high Jaccard), doc 20+i is
  // unrelated
  private def doc(i: Long): String =
    (0 until 10).map(j => s"tok${(i * 7 + j * 3) % 13}w$j").mkString(" ")
  private val corpusA = (0L until 6L).map(i => i -> doc(i))
  private val corpusB = (0L until 6L).map(i =>
    (10L + i) -> doc(i).split(" ").drop(1).mkString(" ")) ++
    (0L until 4L).map(i => (20L + i) -> doc(100 + i))

  private def collectSets(df: DataFrame): Seq[(Long, Seq[String], Int)] =
    df.collect().map(r => (r.getLong(0),
      r.getSeq[String](1).sorted, r.getInt(2))).toSeq.sortBy(_._1)

  private def collectBands(df: DataFrame): Seq[(Long, Int, String)] =
    df.select("id", "band", "bkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSeq.sorted

  private def collectDfs(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  test("mergeBandIndex: index(A union B) == merge(index(A), index(B))") {
    val union = Dedup.buildBandIndex(corpus(corpusA ++ corpusB),
      "doc_id", "text", n = 3, bands = 3, rowsPerBand = 2)
    val merged = Dedup.mergeBandIndex(
      Dedup.buildBandIndex(corpus(corpusA), "doc_id", "text", 3, 3, 2),
      Dedup.buildBandIndex(corpus(corpusB), "doc_id", "text", 3, 3, 2))
    assert(collectSets(merged.sets) === collectSets(union.sets))
    assert(collectBands(merged.bands) === collectBands(union.bands))
    assert(collectDfs(merged.dfs) === collectDfs(union.dfs))
  }

  test("write/read round trip preserves all three tables; compact too") {
    val root = TempDirs.dir("graft-bandidx").toString
    val idx = Dedup.buildBandIndex(corpus(corpusA ++ corpusB),
      "doc_id", "text", n = 3, bands = 3, rowsPerBand = 2)
    Dedup.writeBandIndex(idx, root)
    val rt = Dedup.readBandIndex(spark, root)
    assert(collectSets(rt.sets) === collectSets(idx.sets))
    assert(collectBands(rt.bands) === collectBands(idx.bands))
    assert(collectDfs(rt.dfs) === collectDfs(idx.dfs))

    Dedup.compactBandIndex(spark, root, partitions = 2)
    val cp = Dedup.readBandIndex(spark, root)
    assert(collectSets(cp.sets) === collectSets(idx.sets))
    assert(collectBands(cp.bands) === collectBands(idx.bands))
    assert(collectDfs(cp.dfs) === collectDfs(idx.dfs))
    // compaction really rewrote: each table now has exactly 2 parts
    val parts = new java.io.File(s"$root/bands").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts === 2)
  }

  test("daily-append shape: merge then persist equals one-shot rebuild") {
    val root = TempDirs.dir("graft-bandidx-app").toString
    val dayOne = Dedup.buildBandIndex(corpus(corpusA), "doc_id", "text", 3, 3, 2)
    Dedup.writeBandIndex(dayOne, root)
    // day two: merge the persisted index with the new batch's index,
    // write to a new path, swap (parquet is immutable)
    val merged = Dedup.mergeBandIndex(Dedup.readBandIndex(spark, root),
      Dedup.buildBandIndex(corpus(corpusB), "doc_id", "text", 3, 3, 2))
    val next = TempDirs.dir("graft-bandidx-app2").toString
    Dedup.writeBandIndex(merged, next)
    val rebuilt = Dedup.buildBandIndex(corpus(corpusA ++ corpusB),
      "doc_id", "text", 3, 3, 2)
    val got = Dedup.readBandIndex(spark, next)
    assert(collectSets(got.sets) === collectSets(rebuilt.sets))
    assert(collectBands(got.bands) === collectBands(rebuilt.bands))
    assert(collectDfs(got.dfs) === collectDfs(rebuilt.dfs))
  }

  test("pairsAgainstIndex == direct LSH recompute restricted to new x old") {
    val base = corpus(corpusA ++ corpusB.filter(_._1 >= 20))
    val newB = corpus(corpusB.filter(_._1 < 20)
      .map { case (id, t) => (id + 500000L, t) })
    val idx = Dedup.buildBandIndex(base, "doc_id", "text", 3, 3, 2)
    val viaIndex = Dedup.pairsAgainstIndex(newB, idx, "doc_id", "text",
        n = 3, bands = 3, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    // direct recompute over the union corpus (a_id < b_id, so the old
    // doc is always a_id — new ids are shifted above every base id)
    val direct = Dedup.minhashLshPairs(base.unionByName(newB),
        "doc_id", "text", n = 3, bands = 3, rowsPerBand = 2, threshold = 0.5)
      .filter(col("a_id") < 500000L && col("b_id") >= 500000L)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
      .toSeq.sorted
    assert(viaIndex.nonEmpty) // the drop-1-token near-dups must surface
    assert(viaIndex === direct)
  }

  test("band-bucket histogram accounts for every band row") {
    import org.apache.spark.sql.functions._
    val idx = Dedup.buildBandIndex(corpus(corpusA ++ corpusB),
      "doc_id", "text", n = 3, bands = 3, rowsPerBand = 2)
    val hist = idx.bands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map { case (sz, n) => sz * n }.sum
    assert(total === idx.bands.count())
    // the near-dup construction guarantees at least one shared bucket
    assert(hist.exists(_._1 >= 2L))
  }

  test("eraseFromBandIndex: erase(index(A u B), B) == index(A), df-exact") {
    import spark.implicits._
    val union = Dedup.buildBandIndex(corpus(corpusA ++ corpusB),
      "doc_id", "text", n = 3, bands = 3, rowsPerBand = 2)
    val erased = Dedup.eraseFromBandIndex(union,
      corpusB.map(_._1).toDF("id"))
    val onlyA = Dedup.buildBandIndex(corpus(corpusA),
      "doc_id", "text", 3, 3, 2)
    assert(collectSets(erased.sets) === collectSets(onlyA.sets))
    assert(collectBands(erased.bands) === collectBands(onlyA.bands))
    // document frequencies decremented exactly, zero rows dropped
    assert(collectDfs(erased.dfs) === collectDfs(onlyA.dfs))
    // erasing nothing is the identity
    val noop = Dedup.eraseFromBandIndex(union, Seq.empty[Long].toDF("id"))
    assert(collectDfs(noop.dfs) === collectDfs(union.dfs))
    assert(collectSets(noop.sets) === collectSets(union.sets))
  }
}
