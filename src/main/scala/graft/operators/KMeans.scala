package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the
  * clustering pass under cluster-based curation (DataComp-style
  * cluster-then-filter, SemDedup's cluster stage, domain discovery).
  *
  * Scale shape per iteration (the only shape that survives 100 TB):
  *   - ASSIGN is map-side: centroids are a plan literal (k·dim doubles
  *     broadcast with the closure), each row computes k fold-distances
  *     inside the scan stage — the corpus is never shuffled;
  *   - RECOMPUTE is one keyed aggregation: groupBy(cid) over a typed
  *     per-partition vector-sum accumulator ([[VecSumAggregator]], the
  *     [[GramAggregator]] shape) — each row folds its dim components
  *     straight into the partition-local buffer, and only
  *     #partitions·k buffers (dim exact decimals each) reach the
  *     merge; the corpus rows are never exploded.
  * Iterations are driver-orchestrated literals, like [[Similarity]]'s
  * IVF centroids — "small model to driver, big data stays put".
  *
  * Determinism (the partition-invariance property SCALE.md §12 audits):
  * inputs are round-9 quantized and centroid component sums run in
  * DECIMAL(28,9) — exact, order-independent — then divide once in
  * double. Distances are left-associated folds over the index order;
  * assignment ties break by lowest centroid id. Bit-identical at any
  * parallelism, and replayable in an external engine (the DuckDB
  * oracle unrolls the same iterations).
  *
  * Init is the first `k` rows by id — deterministic and
  * oracle-replayable (k-means++ trades replayability for seeding
  * quality; curation pipelines need the audit trail more).
  */
object KMeans {

  /** Squared L2 between a vector column and a literal centroid, as a
    * left-associated fold (cross-engine-stable summation order). */
  private def sqDist(v: org.apache.spark.sql.Column, c: Seq[Double]) =
    aggregate(zip_with(v, typedLit(c), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** Run `iters` Lloyd iterations; returns (assignments, centroids):
    * assignments (idCol, cid, dist — squared L2 to the final centroid,
    * rounded to 6), centroids as an in-memory model
    * Map[cid -> component seq].
    */
  def fit(df: DataFrame, k: Int, dim: Int, iters: Int,
          idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Map[Int, Seq[Double]]) = {
    require(k >= 1 && iters >= 1 && dim >= 1,
      s"k, dim, iters must all be >= 1; got k=$k dim=$dim iters=$iters")
    val vq = transform(col(vecCol).cast("array<double>"), x => round(x, 9))
    // measured r16: Par.spread here is neutral-to-negative (the typed
    // aggregation per iteration is combine-bound, not map-bound) —
    // left unspread deliberately
    val pts = df.select(col(idCol).cast("long").as("id"), vq.as("v"))
      .localCheckpoint(false) // consumed once per iteration + final assign

    // deterministic init: first k points by id
    var centroids: Seq[(Int, Seq[Double])] = pts.orderBy("id").limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    require(centroids.length == k,
      s"KMeans: corpus has ${centroids.length} rows, need k=$k")
    // a dim that disagrees with the data would otherwise null out
    // distances silently through zip_with's null padding — and a wrong
    // length ANYWHERE in the corpus (not just the k init rows) would
    // funnel that row to the lowest cid via NULL-first struct ordering.
    // Cheap aggs over the checkpointed input make it loud instead.
    // NULL vectors and null ELEMENTS need their own check: min/max
    // SKIP nulls, so they'd sail through the size bounds and still
    // funnel to cid 0 (and an all-null corpus would NPE on getInt
    // instead of raising the intended message).
    // ONE fused guard pass (r17: the separate count + agg were two
    // full-scan jobs in an already job-latency-bound serial chain);
    // same checks, same failure messages, same order (nulls first).
    // size(null) is null under the non-legacy default, so min/max
    // skip exactly the rows the null guard counts — as before.
    val g = pts.agg(
      sum(when(col("v").isNull || exists(col("v"), x => x.isNull), 1L)
        .otherwise(0L)).as("nBad"),
      min(size(col("v"))).as("mn"),
      max(size(col("v"))).as("mx")).head()
    val nBad = if (g.isNullAt(0)) 0L else g.getLong(0)
    require(nBad == 0L,
      s"KMeans: $nBad vectors are null or contain null elements")
    require(g.getInt(1) == dim && g.getInt(2) == dim,
      s"KMeans: corpus vector lengths span [${g.getInt(1)}, " +
        s"${g.getInt(2)}], dim=$dim given")

    def assign(cs: Seq[(Int, Seq[Double])]): org.apache.spark.sql.Column = {
      // argmin over k literal centroids via array_min on (d, cid)
      // structs: lexicographic struct ordering picks the lowest
      // distance, ties to the LOWEST cid. Each distance is evaluated
      // exactly once — a when-chain fold would inline the accumulator
      // twice per step and, without common-subexpression elimination,
      // re-evaluate earlier distances exponentially often.
      val scored = cs.map { case (cid, cv) =>
        struct(sqDist(col("v"), cv).as("d"), lit(cid).as("cid"))
      }
      array_min(array(scored: _*))
    }

    // One typed aggregation per iteration: each input row folds its
    // dim components into the partition-local buffer, so only
    // #partitions·k buffers cross the shuffle (the posexplode
    // predecessor materialized n·dim (cid, pos, x) rows per iteration
    // before the combine — the GramAggregator lesson, round 7).
    // Summands replicate cast(x AS DECIMAL(28,9)) exactly, so the
    // centroid sums — and every downstream hash — are bit-identical.
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val vecSum = udaf(new VecSumAggregator(dim),
      ExpressionEncoder[Seq[Double]]())

    var it = 0
    while (it < iters) {
      val assigned = pts.select(col("v"),
        assign(centroids).getField("cid").as("cid"))
      val sums = assigned
        .groupBy("cid")
        .agg(vecSum(col("v")).as("s"))
        .collect()
      val next = sums.map { r =>
        val s = r.getStruct(1)
        val comp = s.getSeq[String](0)
        val n = s.getLong(1).toDouble
        require(comp.length == dim,
          s"KMeans: centroid partial has ${comp.length} components, " +
            s"dim=$dim")
        (r.getInt(0), comp.map(c =>
          new java.math.BigDecimal(c).doubleValue() / n))
      }.toMap
      // a centroid that lost every point keeps its previous position
      // (deterministic; matches the oracle's LEFT JOIN + COALESCE)
      centroids = centroids.map { case (cid, prev) =>
        (cid, next.getOrElse(cid, prev))
      }
      it += 1
    }

    val out = assignTo(
      pts.select(col("id").as(idCol), col("v").as(vecColQuantized)),
      centroids.toMap, idCol, vecColQuantized, preQuantized = true)
    (out, centroids.toMap)
  }

  private val vecColQuantized = "__vq"

  /** Persist a fitted model as a parquet artifact (the IVF-centroid
    * treatment for the clustering model): `centroids` (cid, cv) plus
    * per-cluster training `stats` (cid, n, mean_dist — exact-decimal
    * mean of the round-6 assignment distances), the baseline a daily
    * routing job compares fresh batches against. Both tables are
    * model-sized — one file each.
    */
  def writeModel(spark: SparkSession, path: String,
                 model: Map[Int, Seq[Double]],
                 assignments: DataFrame): Unit = {
    import spark.implicits._
    model.toSeq.sortBy(_._1).toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assignments.groupBy("cid")
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_dist"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Read the persisted model back: the centroid map (model-sized
    * collect — doubles round-trip parquet exactly, so
    * assign-from-artifact == assign-from-fit bit-for-bit, the
    * KMeansSpec lifecycle law) and the training stats table.
    */
  def readModel(spark: SparkSession, path: String)
      : (Map[Int, Seq[Double]], DataFrame) = {
    val m = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    (m, spark.read.parquet(s"$path/stats"))
  }

  /** Score rows against a fitted centroid model: map-side argmin over
    * the plan-literal centroids — stateless, zero shuffle. Returns
    * (idCol, cid, dist) with dist = squared L2 rounded to 6.
    */
  def assignTo(df: DataFrame, model: Map[Int, Seq[Double]],
               idCol: String = "vec_id", vecCol: String = "embedding",
               preQuantized: Boolean = false): DataFrame = {
    require(model.nonEmpty, "assignTo: empty centroid model")
    require(model.values.map(_.length).toSet.size == 1,
      "assignTo: centroid model has mixed dimensionality " +
        s"{${model.values.map(_.length).toSet.toSeq.sorted.mkString(",")}}")
    val v =
      if (preQuantized) col(vecCol)
      else transform(col(vecCol).cast("array<double>"), x => round(x, 9))
    val scored = model.toSeq.sortBy(_._1).map { case (cid, cv) =>
      struct(sqDist(v, cv).as("d"), lit(cid).as("cid"))
    }
    val best = array_min(array(scored: _*))
    df.select(col(idCol), best.getField("cid").as("cid"),
      round(best.getField("d"), 6).as("dist"))
  }
}

/** Partition-local centroid-sum buffer: per-component exact scale-9
  * decimal sums split into a hot long lane (unscaled ×1e9 integers,
  * `Math.addExact`) and a BigDecimal spill lane a component overflows
  * into — together they always represent the exact decimal sum.
  * `n` counts the rows folded in (the centroid divisor).
  */
private[graft] final case class VecSumBuf(
    longs: Array[Long], spill: Array[java.math.BigDecimal], var n: Long)

/** Per-partition vector-sum accumulator for [[KMeans.fit]]'s centroid
  * recompute: buffer = dim exact scale-9 decimal sums + a row count;
  * each reduce folds one assigned vector into the partition-local
  * buffer, so a corpus pass ships #partitions·k buffers instead of
  * n·dim exploded rows.
  *
  * Component arithmetic replicates the declarative plan it replaced
  * exactly: `cast(x AS DECIMAL(28,9))` is
  * `BigDecimal(Double.toString(x)).setScale(9, HALF_UP)` (Spark's
  * double→decimal cast path), so each summand is the identical
  * decimal, and exact decimal addition makes the total independent of
  * row order and partitioning (the determinism-audit property).
  * Results travel to the driver as plain strings — the default encoder
  * would narrow to DECIMAL(38,18) and a Double would round.
  */
private[graft] class VecSumAggregator(dim: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], VecSumBuf, (Seq[String], Long)] {
  import java.math.{BigDecimal => JBD, RoundingMode}

  override def zero: VecSumBuf =
    VecSumBuf(new Array[Long](dim), Array.fill(dim)(JBD.ZERO), 0L)

  /** Unscaled (×1e9) HALF_UP rounding of `x`, replicating
    * `cast(x AS DECIMAL(28,9))` exactly. Fast path: for |x| < 1 the
    * scaled double x·1e9 carries ≤ ~0.12 of combined error vs the
    * exact decimal (shortest-repr drift 1e9·ulp(x)/2 ≤ 0.112 plus the
    * multiply rounding ≤ ulp(1e9)/2), so when the scaled value sits
    * within 0.25 of an integer the HALF_UP result is provably that
    * integer (true fractional part ≤ 0.37 < 0.5) — no string
    * round-trip. KMeans inputs are round-9 quantized, so the true
    * scaled value IS an integer and |x| < 1 always takes this path.
    * The band and |x| ≥ 1 fall back to the exact BigDecimal path
    * (valueOf → setScale is the Spark cast's double semantic).
    */
  private def unscaled9(x: Double): Long = {
    if (math.abs(x) < 1.0) {
      val y = x * 1e9
      val r = math.rint(y)
      if (math.abs(y - r) < 0.25) return r.toLong
    }
    JBD.valueOf(x).setScale(9, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  override def reduce(b: VecSumBuf, row: Seq[Double]): VecSumBuf = {
    require(row.length == dim,
      s"VecSumAggregator: expected $dim-dim vector, got ${row.length}")
    var i = 0
    while (i < dim) {
      val lu = unscaled9(row(i))
      try b.longs(i) = Math.addExact(b.longs(i), lu)
      catch {
        case _: ArithmeticException =>
          b.spill(i) = b.spill(i).add(JBD.valueOf(b.longs(i), 9))
          b.longs(i) = lu
      }
      i += 1
    }
    b.n += 1L
    b
  }

  override def merge(a: VecSumBuf, b: VecSumBuf): VecSumBuf = {
    var i = 0
    while (i < dim) {
      try a.longs(i) = Math.addExact(a.longs(i), b.longs(i))
      catch {
        case _: ArithmeticException =>
          a.spill(i) = a.spill(i).add(JBD.valueOf(b.longs(i), 9))
      }
      a.spill(i) = a.spill(i).add(b.spill(i))
      i += 1
    }
    a.n += b.n
    a
  }

  override def finish(b: VecSumBuf): (Seq[String], Long) = {
    val out = new Array[String](dim)
    var i = 0
    while (i < dim) {
      out(i) = JBD.valueOf(b.longs(i), 9).add(b.spill(i)).toPlainString
      i += 1
    }
    (out.toSeq, b.n)
  }

  override def bufferEncoder: org.apache.spark.sql.Encoder[VecSumBuf] =
    org.apache.spark.sql.Encoders.kryo[VecSumBuf]

  override def outputEncoder
      : org.apache.spark.sql.Encoder[(Seq[String], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      (Seq[String], Long)]()
}
