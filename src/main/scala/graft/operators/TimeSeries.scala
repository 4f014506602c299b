package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-interval time-series resampling with gap fill — the step
  * between raw events and anything that consumes a regular grid
  * (dashboards, anomaly detection, feature windows for training).
  * Missing bins are materialized from a generated spine, count-like
  * columns zero-fill, and level-like columns carry the last observed
  * value forward.
  *
  * Scale shape: the spine is `distinct keys × sequence(min, max, step)`
  * — the global bin bounds are ONE broadcast row (no driver collect of
  * data; two scalar aggregates), the per-key series generation is a
  * map-side `explode`, and the only data-sized costs are the left join
  * onto the spine (equi-join on key+bin) and one keyed window for the
  * forward fill. Bin count is bounded by the time range / step, never
  * by the event count.
  */
object TimeSeries {

  /** Fill gaps in an already-binned frame.
    *
    * @param binned      aggregated frame: `keys ++ (binCol: timestamp)
    *                    ++ value columns`, at most one row per
    *                    (keys, bin)
    * @param keys        series identity columns
    * @param binCol      timestamp bin column (regular grid, e.g. from
    *                    `date_trunc`)
    * @param step        bin width as a SQL interval, e.g. "1 hour"
    * @param zeroFill    value columns where a missing bin means 0
    *                    (counts, sums)
    * @param forwardFill value columns where a missing bin carries the
    *                    last observed value (levels, averages); null
    *                    until the first observation of the key
    */
  def gapFill(binned: DataFrame, keys: Seq[String], binCol: String,
              step: String, zeroFill: Seq[String],
              forwardFill: Seq[String]): DataFrame = {
    val bounds = binned.agg(min(col(binCol)).as("__lo"), max(col(binCol)).as("__hi"))
    val spine = binned.select(keys.map(col): _*).distinct()
      .crossJoin(broadcast(bounds))
      .select(keys.map(col) :+
        explode(sequence(col("__lo"), col("__hi"), expr(s"INTERVAL $step")))
          .as(binCol): _*)
    val joined = spine.join(binned, keys :+ binCol, "left")
    val zeroed = zeroFill.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(c), lit(0L)))
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(binCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    forwardFill.foldLeft(zeroed) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Trailing-window z-score over an already-binned count series:
    * each bin scored against the `lookback` bins immediately before it
    * (rows, not wall-time — sparse series score against what was
    * observed). Mean and variance come from exact integer sums of n
    * and n², and every post-sum op is IEEE +,-,*,/,sqrt — z is
    * bit-reproducible under any partitioning. Bins with
    * fewer than `lookback` predecessors or zero variance are dropped.
    *
    * Scale: the window runs over ONE ROW PER BIN per key — bounded by
    * the time horizon, not event volume. `keys` may be empty for a
    * single global series (the window then runs single-partition,
    * safe for the same reason).
    *
    * @param binned one row per (keys, binCol) with integer count `nCol`
    */
  def trailingZ(binned: DataFrame, keys: Seq[String], binCol: String,
                nCol: String, lookback: Int = 24,
                zCut: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(binCol).asc)
      .rowsBetween(-lookback, -1)
    binned.select(keys.map(col) ++ Seq(col(binCol), col(nCol),
        sum(col(nCol)).over(w).as("__s"),
        // n² in DECIMAL: a long product wraps (ANSI: throws) once a bin
        // exceeds ~3e9 rows — decimal keeps the sum exact, and the
        // decimal→double cast below rounds identically to long→double
        sum((col(nCol).cast("decimal(19,0)") * col(nCol)))
          .over(w).as("__ss"),
        count(col(nCol)).over(w).as("__c")): _*)
      .filter(col("__c") === lookback)
      .withColumn("__mean", col("__s").cast("double") / col("__c"))
      .withColumn("__var",
        (col("__ss").cast("double") - col("__s").cast("double") * col("__s") /
          col("__c")) / (col("__c") - 1))
      .filter(col("__var") > 0)
      .withColumn("z",
        (col(nCol).cast("double") - col("__mean")) / sqrt(col("__var")))
      .select(keys.map(col) ++ Seq(col(binCol), col(nCol), col("z"),
        (abs(col("z")) > zCut).as("is_anomaly")): _*)
  }

  /** Per-key OLS trend over an already-binned series: slope/intercept
    * of `yCol` vs `xCol`, with x rebased to each key's own minimum
    * (keeps Σx² in long range at any epoch and makes the intercept
    * "level at the key's first bin"). Σx, Σy, Σxy, Σx² are exact
    * integer sums; the closed form is then pure IEEE doubles —
    * bit-reproducible under any partitioning.
    *
    * Scale: two map-combinable aggregations over one row per
    * (key, bin) — regression state per key is 5 numbers.
    */
  def linearTrend(binned: DataFrame, keys: Seq[String], xCol: String,
                  yCol: String): DataFrame = {
    val x0 = binned.groupBy(keys.map(col): _*)
      .agg(min(col(xCol)).as("__x0"))
    val st = binned.join(broadcast(x0), keys)
      .withColumn("__x", col(xCol) - col("__x0"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("__x").as("__sx"),
        sum(col(yCol)).as("__sy"),
        // x·y and x² in DECIMAL — long products wrap silently at the
        // bin volumes the 100 TB posture implies (same hardening as
        // trailingZ's n² sums)
        sum(col("__x").cast("decimal(19,0)") * col(yCol)).as("__sxy"),
        sum(col("__x").cast("decimal(19,0)") * col("__x")).as("__sxx"))
    // a single-bin key (or an all-equal-x degenerate) has no slope:
    // emit NULL, not 0/0 NaN
    val den = col("n").cast("double") * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx")
    st.withColumn("slope",
        when(den =!= 0.0,
          (col("n").cast("double") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy")) / den))
      .withColumn("intercept",
        (col("__sy").cast("double") - col("slope") * col("__sx")) /
          col("n"))
      .select(keys.map(col) ++
        Seq(col("n"), col("slope"), col("intercept")): _*)
  }
}
