package graft

import org.apache.spark.sql.functions._

import graft.operators.Tokenizer

/** Lifecycle laws for the persisted tokenizer-model artifact (the
  * KMeansSpec shape): exact round-trip, encode-from-artifact ==
  * encode-from-fit, and the drift report's fixed points.
  */
class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  test("vocab artifact round-trips pieces, weights, and meta exactly") {
    val dir = TempDirs.dir("tok").toString
    val wf = Tokenizer.wordFreqs(corpus(Seq(
      (1L, "river riverrun runner run"),
      (2L, "run river runner riverrun river"))))
      .localCheckpoint(false)
    for (kind <- Seq("wordpiece", "unigram")) {
      val induced = Tokenizer.induceVocab(wf, kind, top = 50)
        .localCheckpoint(false)
      val uses = Tokenizer.pieceUses(wf,
        graft.expressions.TextExprs.wordpiece(col("word"),
          array(induced.collect().map(r => lit(r.getString(0))).toSeq: _*)))
      Tokenizer.writeVocab(spark, s"$dir/$kind", kind, induced, uses)
      val m = Tokenizer.readVocab(spark, s"$dir/$kind")
      assert(m.kind === kind)
      val want = induced.collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(m.pieces === want)
      assert(m.wTotal === want.map(_._2).sum)
      // unigram keeps every character (totality); wordpiece is 2..8
      if (kind == "unigram")
        assert(Set("r", "i", "v", "e", "n", "u")
          .subsetOf(m.vocabList.toSet))
      else assert(m.vocabList.forall(p => p.length >= 2 && p.length <= 8))
    }
  }

  test("encode-from-artifact == encode-from-fit (gated query law)") {
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toSeq).map(_.toList).toSet
    assert(rows("t_wordpiece_artifact") === rows("t_wordpiece"))
    assert(rows("t_unigram_artifact") === rows("t_unigram_viterbi"))
  }

  test("scoreMapE6 from the artifact equals scores from the fit") {
    val wf = Tokenizer.wordFreqs(corpus(Seq(
      (1L, "aaa bbb aaa ccc aaa bbb")))).localCheckpoint(false)
    val induced = Tokenizer.induceVocab(wf, "unigram", top = 50)
    val pcs = induced.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val tot = pcs.map(_._2).sum
    // the fit-side quantization (the t_unigram_viterbi expression)
    val fit = induced.select(col("piece"),
        round(log(col("w").cast("double") / lit(tot.toDouble))
          * lit(1e6), 0).cast("long").as("sc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val art = Tokenizer.scoreMapE6(spark,
      Tokenizer.VocabModel("unigram", tot, pcs))
    assert(art === fit)
  }

  test("vocabDrift: self-drift is zero; shifts flag both directions") {
    val dir = TempDirs.dir("tokdrift").toString
    val train = Tokenizer.wordFreqs(corpus(Seq(
      (1L, "river river river runner runner delta"))))
      .localCheckpoint(false)
    val induced = Tokenizer.induceVocab(train, "wordpiece", top = 20)
      .localCheckpoint(false)
    val vocab = array(induced.collect()
      .map(r => lit(r.getString(0))).toSeq: _*)
    def uses(wf: org.apache.spark.sql.DataFrame) = Tokenizer.pieceUses(wf,
      graft.expressions.TextExprs.wordpiece(col("word"), vocab))
    Tokenizer.writeVocab(spark, s"$dir/wp", "wordpiece", induced,
      uses(train))
    // a batch identical to training drifts nowhere
    val self = Tokenizer.vocabDrift(spark, s"$dir/wp", uses(train))
      .collect()
    assert(self.nonEmpty)
    assert(self.forall(_.getAs[Long]("delta_ppm") == 0L))
    // a batch missing a training word zeroes its pieces (negative
    // delta) and a new word surfaces full-outer rows with train 0
    val batch = Tokenizer.wordFreqs(corpus(Seq(
      (1L, "runner runner zzqq")))).localCheckpoint(false)
    val drift = Tokenizer.vocabDrift(spark, s"$dir/wp", uses(batch))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("train_uses"), r.getAs[Long]("batch_uses"),
          r.getAs[Long]("delta_ppm")))).toMap
    val vanished = drift.filter { case (_, (t, b, _)) => t > 0 && b == 0 }
    val fresh = drift.filter { case (_, (t, b, _)) => t == 0 && b > 0 }
    assert(vanished.nonEmpty && vanished.values.forall(_._3 < 0))
    assert(fresh.nonEmpty && fresh.values.forall(_._3 > 0))
  }
}
