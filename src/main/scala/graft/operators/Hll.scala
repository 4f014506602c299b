package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch with an EXACTLY-replayable
  * register contract (Flajolet et al. 2007).
  *
  * Companion to [[Kmv]] in the oracle-gated sketch family: KMV keeps
  * the k smallest hashes (k longs per group), HLL keeps a fixed
  * m = 1024 register table of leading-zero maxima (≤ m bytes per group
  * regardless of k or cardinality) — the sketch a 100 TB pipeline
  * persists per partition/day when even bottom-k is too wide, because
  * `merge` is a per-register MAX and therefore associative, commutative
  * and idempotent (re-merging a day twice is harmless).
  *
  * Why this is oracle-checkable when `approx_count_distinct` is not:
  * Spark's HLL++ hashes with engine-internal xxHash and applies bias
  * tables, so only an error ENVELOPE can be gated
  * (`q_approx_stats_gate`). Here every register is a pure function of
  * the value set through md5 ([[Kmv.hash52]]): h is 52 bits, the low
  * 10 bits pick the register, the high 42 bits w give
  * rho = 43 − bitlength(w) (rho = 43 for w = 0) — all integer ops an
  * external engine replays bit-for-bit. The estimate is the raw
  * harmonic-mean formula with the indicator sum kept EXACT:
  * Z·2^43 = Σ_j 2^(43−M_j) is an integer ≤ m·2^43 = 2^53, summed as
  * BIGINT, so the only floating-point steps are one literal constant
  * and one division — the identical IEEE expression in any engine.
  *
  * Deliberately NOT implemented: the small-range linear-counting branch
  * (m·ln(m/V)). `ln` is not guaranteed correctly rounded, so its last
  * ulp may differ across engines and break hash equality; and at the
  * cardinalities this sketch exists for (100 TB corpora) the raw branch
  * is the one that runs. The register table itself is exact at EVERY
  * cardinality — a consumer who needs small-range correction applies it
  * to the emitted (v_zero, s_scaled) pair downstream.
  *
  * Scale shape: one groupBy(g, reg) MAX (map-side combine collapses
  * each task's slice to ≤ m rows per group before the exchange), one
  * groupBy(g) fold over ≤ m rows per group, zero joins, zero windows.
  * Reference frame: the same "how many distinct?" question as
  * `app/app.py:166-168`'s found/not-found counts, at sketch scale.
  */
object Hll {

  /** Number of registers (2^10). */
  val m = 1024

  /** Maximum rho: 1 + number of leading zeros of a 42-bit value. */
  private val rhoMax = 43

  /** 2^43 — the exact-integer scaling of the indicator Z. */
  private val zScale = 8796093022208L

  /** alpha_m · m² · 2^43, evaluated with the exact literal/op sequence
    * the oracle SQL uses (all three multiplications scale by powers of
    * two, so the only roundings are the two divisions inside alpha —
    * IEEE-identical in any engine).
    */
  private val alphaM2Scaled: Double =
    ((0.7213 / (1.0 + 1.079 / 1024.0)) * 1048576.0) * 8796093022208.0

  /** The same constant as a verbatim SQL expression (kept as source
    * text so both engines parse identical literals).
    */
  private val alphaM2ScaledSql: String =
    "((0.7213 / (1.0 + 1.079 / 1024.0)) * 1048576.0) * 8796093022208.0"

  /** Per-group register table: (g, reg ∈ [0,1024), mj ∈ [1,43]).
    * Absent registers are implicitly zero. Pure column algebra over
    * [[Kmv.hash52]] — reg/w/rho run codegen'd map-side; the single
    * exchange carries ≤ 1024 rows per group per task.
    */
  def registers(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    rhoRows(df, groupCol, valueCol)
      .groupBy("g", "reg").agg(max(col("rho")).as("mj"))

  /** The stateless per-row half of [[registers]]: (g, reg, rho) for
    * every input row.
    */
  def rhoRows(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val h = Kmv.hash52(valueCol)
    df.select(groupCol.as("g"), h.as("h"))
      .select(col("g"), (col("h") % m).as("reg"),
        expr(s"h div $m").as("w"))
      .select(col("g"), col("reg"),
        when(col("w") === 0, rhoMax)
          .otherwise(lit(rhoMax) - length(bin(col("w")))).as("rho"))
  }

  /** Merge register tables (possibly from disjoint corpus slices) by
    * per-register MAX under a new group label — the associative fold
    * that makes the sketch persistable per partition/day.
    */
  def merge(regs: DataFrame, as: String): DataFrame =
    regs.groupBy("reg").agg(max(col("mj")).as("mj"))
      .select(lit(as).as("g"), col("reg"), col("mj"))

  /** Fold a register table to one row per group:
    * (g, v_zero = empty registers, s_scaled = Z·2^43 exact BIGINT,
    * est_distinct = raw harmonic estimate rounded to 2).
    */
  def estimate(regs: DataFrame): DataFrame =
    regs.groupBy("g")
      .agg(count(lit(1)).as("n_regs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $rhoMax - mj)")).as("s_present"))
      .select(col("g"),
        (lit(m) - col("n_regs")).cast("long").as("v_zero"),
        (col("s_present") + (lit(m.toLong) - col("n_regs")) * zScale)
          .as("s_scaled"))
      // floor(x·100 + 0.5)/100, NOT round(x, 2): Spark's Round on
      // doubles goes through the shortest-decimal-repr BigDecimal
      // (HALF_UP on the printed digits) while DuckDB's round(DOUBLE, 2)
      // does float math — ~5% of half-digit-boundary values diverge.
      // floor/mul/add are plain IEEE ops, identical on identical
      // inputs in any engine.
      .withColumn("est_distinct",
        floor((lit(alphaM2Scaled) / col("s_scaled").cast("double")) *
          100.0 + 0.5).cast("double") / 100.0)

  /** DuckDB replay of registers+estimate over `(SELECT g, v FROM …)`.
    * @param src SQL producing columns (g, v) — v the hashed value text
    */
  def estimateSql(src: String): String = {
    val h = Kmv.hash52Sql("v")
    s"""WITH hv AS (SELECT g, $h AS h FROM ($src)),
       |hr AS (SELECT g, h % $m AS reg, h // $m AS w FROM hv),
       |rr AS (SELECT g, reg,
       |    MAX(CASE WHEN w = 0 THEN $rhoMax
       |             ELSE $rhoMax - length(bin(w)) END) AS mj
       |  FROM hr GROUP BY g, reg),
       |ff AS (SELECT g, CAST($m - COUNT(*) AS BIGINT) AS v_zero,
       |    SUM(CAST(1 AS BIGINT) << ($rhoMax - mj))
       |      + ($m - COUNT(*)) * $zScale AS s_scaled
       |  FROM rr GROUP BY g)
       |SELECT g, v_zero, CAST(s_scaled AS BIGINT) AS s_scaled,
       |  FLOOR(($alphaM2ScaledSql / CAST(s_scaled AS DOUBLE)) * 100.0
       |    + 0.5) / 100.0 AS est_distinct
       |FROM ff""".stripMargin
  }
}
