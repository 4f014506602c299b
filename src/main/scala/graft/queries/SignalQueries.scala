package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Signal-processing queries over the event stream: seasonal
  * decomposition, CUSUM changepoint detection, and a micro-batch
  * watermark / late-arrival audit. These are the monitoring layer a
  * training-data ingest pipeline runs on its OWN telemetry (ingest
  * volume per hour, arrival lateness) before trusting a day's crawl.
  *
  * Scale shape shared by all three: the raw event table is reduced to
  * a TIME-BOUNDED series first (one row per hour / per ingest batch —
  * cardinality grows with wall-clock time, not with corpus size), via
  * map-combinable aggregations; only that small series ever enters an
  * ordered window. At 100 TB the events scan is the distributed part;
  * the unpartitioned window runs over a few thousand rows. The driver
  * never sees per-event rows.
  *
  * Numeric contract (the suite's fixed-point discipline): every
  * cross-row sum is an exact integer (micro-units, `*_e6`) or exact
  * DECIMAL, so results are partition-order invariant and the DuckDB
  * hash gate applies bit-for-bit. The one division per query happens
  * on a scalar double built from identical exact integers in both
  * engines (IEEE-deterministic), then rounds to fixed point.
  */
object SignalQueries {

  /** ±12h centered moving average window → 25 rows when complete. */
  private val trendHalf = 12
  private val trendWin = 2 * trendHalf + 1

  /** CUSUM alarm threshold: cumulative deviation above/below target
    * exceeding 4 average-hours' worth of volume. */
  private val cusumHours = 4

  /** Watermark audit: transport jitter bound (seconds), micro-batch
    * trigger width (seconds), and the stream's watermark allowance. */
  private val jitterModSec = 900
  private val triggerSec = 60
  private val wmDelaySec = 600

  /** Hourly ingest series on a DENSE calendar spine: hours with zero
    * events appear as explicit (n_events = 0, y_e6 = 0) rows. Without
    * the spine, a TOTAL ingest outage — the most severe changepoint —
    * would contribute no rows at all, so the CUSUM would never see its
    * −μ drift and the "±12h" trend window would silently mean
    * "±12 observed buckets". The spine is built relationally
    * (min/max + sequence — no driver collect) and is wall-clock
    * bounded like everything downstream of it.
    */
  private def denseHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,6)")) * 1000000)
          .cast("long").as("y_e6"))
    val spine = hourly.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    spine.join(hourly, Seq("h"), "left")
      .select(col("h"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("y_e6"), lit(0L)).as("y_e6"))
  }

  /** The identical dense spine in DuckDB SQL (CTE named `hourly`). */
  private val denseHourlySql =
    """raw AS (
      |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y_e6
      |  FROM events GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT MIN(h) FROM raw),
      |    (SELECT MAX(h) FROM raw), INTERVAL 1 HOUR)) AS h),
      |hourly AS (
      |  SELECT spine.h, COALESCE(raw.n_events, 0) AS n_events,
      |    COALESCE(raw.y_e6, 0) AS y_e6
      |  FROM spine LEFT JOIN raw ON spine.h = raw.h)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- classical additive decomposition of the hourly ingest
    //      volume: trend = ±12h centered moving average, seasonal =
    //      per-hour-of-day mean of the detrended series, remainder.
    //      All series values are exact e6 micro-units; trend/seasonal/
    //      remainder are carried at ×25 scale (the window width) so
    //      the moving average never divides — `25·y − Σwin(y)` is the
    //      detrended value times 25, integer-exact. The only division
    //      (seasonal mean over ~28 samples per hod) is one scalar
    //      double op rounded back to a long. Edges (incomplete ±12h
    //      window) carry NULL trend/remainder and are excluded from
    //      the seasonal fit, as in textbook MA decomposition. ----
    "e_seasonal_decompose" -> ((s, dir) => {
      val hourly = denseHourly(s, dir)
      // unpartitioned window: BOUNDED — one row per wall-clock hour of
      // the dataset's span (the dense hourly spine), never corpus rows
      val w = Window.orderBy("h").rowsBetween(-trendHalf, trendHalf)
      val det = hourly
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("t25", sum(col("y_e6")).over(w))
        .select(col("h"), col("n_events"), col("y_e6"),
          when(col("win_n") === trendWin, col("t25")).as("trend25_e6"),
          when(col("win_n") === trendWin,
            lit(trendWin) * col("y_e6") - col("t25")).as("detr25_e6"))
        .localCheckpoint(false) // feeds the seasonal fit AND the output
      val seas = det.filter(col("detr25_e6").isNotNull)
        .groupBy(hour(col("h")).as("hod"))
        .agg(round(sum(col("detr25_e6")).cast("double") /
          count(lit(1))).cast("long").as("seasonal25_e6"))
      det.join(broadcast(seas), hour(col("h")) === col("hod"), "left")
        .select(col("h"), col("n_events"), col("y_e6"),
          col("trend25_e6"), col("seasonal25_e6"),
          (col("detr25_e6") - col("seasonal25_e6")).as("resid25_e6"))
    }),

    // ---- CUSUM changepoint screen on hourly event counts. The
    //      textbook recursion C⁺_t = max(0, C⁺_{t−1} + x_t − μ) is not
    //      window-expressible, but its closed form is: with prefix
    //      sums S_t of (x_t − μ), C⁺_t = S_t − min_{0≤j≤t} S_j and
    //      C⁻_t = max_{0≤j≤t} S_j − S_t, where the empty prefix
    //      S_0 = 0 is part of the min/max (drop it and the first
    //      row's excursion is silently absorbed) — a running sum plus
    //      a 0-clamped running min/max, all exact longs at e6 scale (μ enters as the
    //      floor-divided global mean, identical in both engines on
    //      the non-negative sums). Alarm when either side exceeds
    //      4 average-hours of cumulative drift. ----
    "e_cusum_changepoint" -> ((s, dir) => {
      // dense spine: a zero-event hour must contribute its full −μ
      // drift — a total outage is the changepoint this screen exists
      // to catch, and absent rows would hide it entirely
      val hourly = denseHourly(s, dir)
        .select(col("h"), col("n_events").as("x"))
        .localCheckpoint(false) // scanned for μ AND for the series
      val tgt = hourly.agg(
        expr("(sum(x) * 1000000L) div count(1)").as("target_e6"))
      // unpartitioned window: BOUNDED — one row per wall-clock hour of
      // the span (dense spine), never corpus rows
      val wRun = Window.orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourly.crossJoin(broadcast(tgt))
        .withColumn("s_e6",
          sum(col("x") * 1000000L - col("target_e6")).over(wRun))
        .withColumn("cusum_pos_e6",
          col("s_e6") - least(lit(0L), min(col("s_e6")).over(wRun)))
        .withColumn("cusum_neg_e6",
          greatest(lit(0L), max(col("s_e6")).over(wRun)) - col("s_e6"))
        .select(col("h"), col("x"), col("s_e6"),
          col("cusum_pos_e6"), col("cusum_neg_e6"),
          (col("cusum_pos_e6") > lit(cusumHours) * col("target_e6") ||
            col("cusum_neg_e6") > lit(cusumHours) * col("target_e6"))
            .cast("int").as("alarm"))
    }),

    // ---- seasonal-naive forecast backtest: tomorrow's hourly volume
    //      is forecast as the SAME HOUR YESTERDAY (the snaive-24
    //      baseline every real forecast must beat), then scored per
    //      day: MAPE and signed bias, both exact e4 fixed point
    //      (per-hour APE = |y−f|·1e4 div y on exact e6 longs; the
    //      daily mean is one integer division). The first day has no
    //      forecast and is excluded. One hourly agg + one lag(24) over
    //      the bounded series + one daily rollup — the backtest a
    //      pipeline runs nightly to decide whether its ingest
    //      forecaster still beats persistence. ----
    "e_snaive_backtest" -> ((s, dir) => {
      // the forecast joins on h − 24 HOURS (true calendar alignment),
      // not a positional lag(24): over a dense spine the two agree,
      // but the time join stays "same hour yesterday" even if the
      // spine construction ever changes, and reads as the semantics
      val hourly = denseHourly(s, dir).select(col("h"), col("y_e6"))
        .localCheckpoint(false) // both sides of the forecast join
      val fc = hourly.select(
        (col("h") + expr("interval 24 hours")).as("h"),
        col("y_e6").as("f_e6"))
      // |bias| and its sign separately: signed integer division floors
      // in DuckDB (//) but truncates in Spark (div) — keeping every
      // divided quantity non-negative removes the semantic fork
      hourly.join(fc, Seq("h"))
        .withColumn("ape_e4", when(col("y_e6") > 0,
          expr("(abs(y_e6 - f_e6) * 10000) div y_e6")))
        .groupBy(col("h").cast("date").as("day"))
        .agg(count(lit(1)).as("n_hours"),
          expr("sum(ape_e4) div count(ape_e4)").as("mape_e4"),
          expr("(abs(sum(f_e6 - y_e6)) * 10000) div sum(y_e6)")
            .as("abs_bias_e4"),
          signum(sum(col("f_e6") - col("y_e6"))).cast("int")
            .as("bias_sign"))
    }),

    // ---- micro-batch watermark / late-arrival audit, the batch
    //      replay of Structured Streaming's watermark semantics. The
    //      fixture's event_id order IS event-time order (a vacuous
    //      stream never exercises the late path), so arrival time is
    //      modeled as ts + deterministic per-event transport jitter
    //      (md5(event_id) mod 900 s — the multi-source collector whose
    //      shards drain at different speeds). Events bucket into
    //      60-second trigger micro-batches BY ARRIVAL; a batch's
    //      watermark is the max event-time over all PRIOR batches
    //      (Spark's global watermark update rule), and an event is
    //      late iff it trails that watermark by more than the
    //      10-minute allowance in whole seconds (the integer-second
    //      metric is the definition — no microsecond boundary
    //      hazards between engines). Rollup: per arrival-hour ingest
    //      health (volume, late count, worst lateness). Shapes:
    //      per-batch max (map-combinable), a window over the
    //      wall-clock-bounded batch series, one broadcast join back —
    //      the raw events are never globally ordered. ----
    "e_late_arrivals" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("ts").cast("long").as("ts_s"),
          (conv(substring(md5(col("event_id").cast("string")), 1, 4),
            16, 10).cast("long") % jitterModSec).as("jit"))
        .select(col("ts_s"),
          expr(s"(ts_s + jit) div $triggerSec").as("batch"))
        .localCheckpoint(false) // feeds the batch-max agg AND the
                                // join — uncheckpointed, the scan and
                                // per-event md5 jitter run twice
      val bm = e.groupBy("batch").agg(max(col("ts_s")).as("b_max"))
      // unpartitioned window: BOUNDED — one row per 60 s trigger batch
      // of the dataset's wall-clock span, never raw events
      val wPrior = Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wm = bm
        .withColumn("wm_s", max(col("b_max")).over(wPrior))
        .select(col("batch"), col("wm_s"))
      val perHour = 3600 / triggerSec
      e.join(broadcast(wm), "batch")
        .withColumn("late_by",
          when(col("wm_s") - col("ts_s") - wmDelaySec > 0,
            col("wm_s") - col("ts_s") - wmDelaySec))
        .groupBy(expr(s"(batch div $perHour) * 3600L").as("arr_hour_s"))
        .agg(count(lit(1)).as("n_events"),
          count(col("late_by")).as("n_late"),
          max(col("late_by")).as("max_late_sec"))
    }),

    // ---- autocorrelation function of the hourly ingest volume for
    //      lags 1..24 — the diagnostic that picks the seasonal period
    //      (a daily cycle shows as the k=24 peak) before anyone fits
    //      e_seasonal_decompose or e_holt_linear. Centering uses the
    //      xn trick (c_t = n*x_t - S, exact integers — no floating
    //      mean subtraction), numerator/denominator are exact DECIMAL
    //      sums, one closing division per lag. Shapes: one hourly agg,
    //      a 24-way explode of the BOUNDED series, one equi-join on
    //      the shifted hour key — never a window over raw events. ----
    // ---- SLO burn-rate alerting (the multiwindow rule from the
    //      public SRE workbook, hourly granularity): error budget =
    //      0.5% of events; burn = error_ratio / budget, computed at
    //      1 h and trailing-6 h windows; a page requires BOTH the
    //      fast window ≥ 14.4× and the slow window ≥ 6× — the
    //      combination that ignores blips but catches sustained
    //      burns. Corpus-scale work is ONE hourly agg; the windows
    //      run over the wall-clock-bounded hourly series. Exact
    //      integer ppm / x100 arithmetic throughout. ----
    "e_slo_burn" -> ((s, dir) => {
      // unpartitioned window: BOUNDED — runs over the post-agg hourly
      // series (one row per wall-clock hour), never raw events
      val wTrail = Window.orderBy("he").rowsBetween(-5, 0)
      t(s, dir, "events")
        .select(expr("unix_micros(date_trunc('hour', ts))" +
          " div 3600000000").as("he"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("isErr"))
        .groupBy("he").agg(count(lit(1)).as("n_events"),
          sum("isErr").as("n_errors"))
        .withColumn("err6", sum("n_errors").over(wTrail))
        .withColumn("tot6", sum("n_events").over(wTrail))
        .select(col("he"), col("n_events"), col("n_errors"),
          expr("n_errors * 1000000L div n_events").as("err_ppm"),
          expr("(n_errors * 1000000L div n_events) div 50")
            .as("burn1h_x100"),
          expr("(err6 * 1000000L div tot6) div 50").as("burn6h_x100"))
        .withColumn("page",
          col("burn1h_x100") >= 1440L && col("burn6h_x100") >= 600L)
    }),

    // ---- burstiness (Fano factor / index of dispersion) per event
    //      type over the DENSE hourly spine: var/mean of hourly
    //      counts, > 1 = bursty arrivals, ≈ 1 = Poisson-like — the
    //      capacity-planning readout e_acf's correlations don't give.
    //      F = (H·Σx² − (Σx)²)/(H·Σx): Σx² accumulates as exact
    //      DECIMAL and the ratio closes in one shared double tree
    //      (overflow-free at any volume; exact to the ulp while the
    //      numerator fits 2⁵³ — ~10⁸ events/hour-type). Zero hours
    //      INCLUDED — an observed-hours-only series understates
    //      dispersion. The spine is global-min..max hour epochs (one
    //      broadcast 2-value agg + a bounded sequence explode);
    //      per-type work is one map-combinable agg. ----
    "e_burstiness" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
            .as("he"))
        .localCheckpoint(false) // spine bounds + bucket counts
      val cnt = ev.groupBy("event_type", "he")
        .agg(count(lit(1)).as("x"))
      val span = ev.agg(min("he").as("h0"), max("he").as("h1"))
      val spine = ev.select("event_type").distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"))).as("he"))
      spine.join(cnt, Seq("event_type", "he"), "left")
        .withColumn("x", coalesce(col("x"), lit(0L)))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_hours"), sum("x").as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
        .select(col("event_type"), col("n_hours"), col("sx").as("n_events"),
          expr("sx * 1000000L div n_hours").as("mean_e6"),
          expr("cast(round((cast(n_hours as double) " +
            "* cast(sxx as double) - cast(sx as double) " +
            "* cast(sx as double)) * 1000000 " +
            "/ (cast(n_hours as double) * cast(sx as double)), 0) " +
            "as bigint)").as("fano_e6"))
    }),

    "e_acf" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(expr("unix_micros(date_trunc('hour', ts))" +
          " div 3600000000").as("he"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(false) // totals + both join sides
      val tot = hourly.groupBy()
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val c = hourly.crossJoin(broadcast(tot))
        .select(col("he"), (col("n") * col("x") - col("sx")).as("c"))
        .localCheckpoint(false) // left and right of the lag join
      val den = c.groupBy()
        .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).as("den"))
      val lagged = c
        .withColumn("k", explode(sequence(lit(1), lit(24))))
        .select(col("k"), (col("he") + col("k")).as("he2"),
          col("c").as("ca"))
      lagged.join(c.select(col("he").as("he2"), col("c").as("cb")),
          "he2")
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("num"))
        .crossJoin(broadcast(den))
        .select(col("k"), col("n_pairs"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("acf"))
    }),

    // ---- Holt linear-trend smoothing per event_type over the
    //      observed-hour series: the level+slope forecaster that
    //      replaces snaive once e_snaive_backtest shows drift. The
    //      recursion is sequential by nature, so the engine shape is
    //      ONE corpus-sized hourly agg + a keyed `mapGroups` fold over
    //      each bounded series (operators/Holt). Raw IEEE doubles
    //      through the recursion (literal
    //      0.8/0.9, never computed 1−α — the ulp fork matters over
    //      700 iterations), rounded once at the edge; the oracle is a
    //      recursive CTE replaying the identical formula. ----
    "e_holt_linear" -> ((s, dir) => {
      import s.implicits._
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type").as("et"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
        .as[graft.operators.Holt.In]
      graft.operators.Holt.fit(hourly).toDF()
        .select(col("event_type"), col("h"), col("x"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("fcst"), 6).as("fcst"))
    }),

    // ---- Holt-Winters additive seasonal smoothing of hourly ingest
    //      volume (period 24 — the diurnal crawl cycle): level, trend,
    //      per-hour seasonal factor, and the one-step-ahead forecast
    //      that was in force before each observation. Shapes/numerics:
    //      the HoltWinters operator's keyed fold (see its Scaladoc) —
    //      corpus reduces to the hourly series, per-key state is
    //      (l, b, 24 doubles), the oracle's recursive CTE carries the
    //      seasonal vector as a LIST and replays bit-for-bit ----
    "e_holt_winters" -> ((s, dir) => {
      import s.implicits._
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type").as("et"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
        .as[graft.operators.HoltWinters.In]
      graft.operators.HoltWinters.fit(hourly).toDF()
        .select(col("event_type"), col("h"), col("x"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("fcst"), 6).as("fcst"))
    }),

    // ---- Theil-Sen robust trend per event type: the median of all
    //      pairwise daily-volume slopes, plus the median-residual
    //      intercept — the outlier-proof alternative to least-squares
    //      when one crawl burst would drag an OLS line. Shapes: the
    //      corpus reduces to a DAILY series first (≤ window-length
    //      rows per key), so the pairwise fan-out is C(days, 2) per
    //      key — bounded by the calendar window squared, never by
    //      corpus size; the per-key windows order those ≤ C(31,2)
    //      rows. Numeric contract: every slope is one IEEE division
    //      of exact integers (bit-identical across engines) and the
    //      median is the LOWER-MEDIAN ELEMENT — row_number selection,
    //      never interpolation, so no engine-specific averaging or
    //      rounding-tie fork can move a bit; outputs are raw
    //      bit-equal doubles. ----
    "e_theil_sen" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
        .select(col("event_type"),
          datediff(col("d"), lit("2024-01-01").cast("date")).as("x"),
          col("y"))
        .localCheckpoint(false) // pair slopes + intercept residuals
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.x") < col("b.x"))
        .select(col("a.event_type").as("event_type"),
          ((col("b.y") - col("a.y")).cast("double") /
            (col("b.x") - col("a.x")).cast("double")).as("slope"))
      val wp = Window.partitionBy("event_type")
      val slopes = pairs
        .withColumn("rn", row_number().over(wp.orderBy(col("slope").asc)))
        .withColumn("np", count(lit(1)).over(wp))
        .filter(col("rn") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"), col("slope"))
      daily.join(broadcast(slopes), "event_type")
        .select(col("event_type"), col("n_pairs"), col("slope"),
          (col("y").cast("double") -
            col("slope") * col("x").cast("double")).as("resid"))
        .withColumn("rn", row_number().over(wp.orderBy(col("resid").asc)))
        .withColumn("nd", count(lit(1)).over(wp))
        .filter(col("rn") === expr("(nd + 1) div 2"))
        .select(col("event_type"), col("nd").as("n_days"),
          col("n_pairs"), col("slope"), col("resid").as("intercept"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "e_seasonal_decompose" ->
      s"""WITH $denseHourlySql,
         |tw AS (
         |  SELECT h, n_events, y_e6,
         |    COUNT(*) OVER w AS win_n,
         |    CAST(SUM(y_e6) OVER w AS BIGINT) AS t25
         |  FROM hourly
         |  WINDOW w AS (ORDER BY h
         |    ROWS BETWEEN $trendHalf PRECEDING AND $trendHalf FOLLOWING)),
         |det AS (
         |  SELECT h, n_events, y_e6,
         |    CASE WHEN win_n = $trendWin THEN t25 END AS trend25_e6,
         |    CASE WHEN win_n = $trendWin THEN $trendWin * y_e6 - t25 END AS detr25
         |  FROM tw),
         |seas AS (
         |  SELECT EXTRACT(hour FROM h) AS hod,
         |    CAST(ROUND(CAST(SUM(detr25) AS DOUBLE) / COUNT(detr25)) AS BIGINT)
         |      AS seasonal25_e6
         |  FROM det WHERE detr25 IS NOT NULL GROUP BY 1)
         |SELECT d.h, d.n_events, d.y_e6, d.trend25_e6, s.seasonal25_e6,
         |  d.detr25 - s.seasonal25_e6 AS resid25_e6
         |FROM det d LEFT JOIN seas s ON EXTRACT(hour FROM d.h) = s.hod""".stripMargin,

    "e_cusum_changepoint" ->
      s"""WITH $denseHourlySql,
         |hx AS (SELECT h, n_events AS x FROM hourly),
         |tgt AS (SELECT (SUM(x) * 1000000) // COUNT(*) AS target_e6 FROM hx),
         |run AS (
         |  SELECT h, x, target_e6,
         |    CAST(SUM(x * 1000000 - target_e6) OVER w AS BIGINT) AS s_e6
         |  FROM hx, tgt
         |  WINDOW w AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |cs AS (
         |  SELECT h, x, target_e6, s_e6,
         |    s_e6 - LEAST(0, MIN(s_e6) OVER w) AS cusum_pos_e6,
         |    GREATEST(0, MAX(s_e6) OVER w) - s_e6 AS cusum_neg_e6
         |  FROM run
         |  WINDOW w AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT h, x, s_e6, cusum_pos_e6, cusum_neg_e6,
         |  CAST(cusum_pos_e6 > $cusumHours * target_e6
         |    OR cusum_neg_e6 > $cusumHours * target_e6 AS INTEGER) AS alarm
         |FROM cs""".stripMargin,

    "e_snaive_backtest" ->
      s"""WITH $denseHourlySql,
        |lagged AS (
        |  SELECT a.h, a.y_e6, f.y_e6 AS f_e6
        |  FROM hourly a LEFT JOIN hourly f
        |    ON a.h = f.h + INTERVAL 24 HOURS),
        |scored AS (
        |  SELECT CAST(h AS DATE) AS day, y_e6, f_e6,
        |    CASE WHEN y_e6 > 0
        |      THEN (ABS(y_e6 - f_e6) * 10000) // y_e6 END AS ape_e4
        |  FROM lagged WHERE f_e6 IS NOT NULL)
        |SELECT day, COUNT(*) AS n_hours,
        |  CAST(SUM(ape_e4) // COUNT(ape_e4) AS BIGINT) AS mape_e4,
        |  CAST((ABS(SUM(f_e6 - y_e6)) * 10000) // SUM(y_e6) AS BIGINT)
        |    AS abs_bias_e4,
        |  CAST(CASE WHEN SUM(f_e6 - y_e6) > 0 THEN 1
        |    WHEN SUM(f_e6 - y_e6) < 0 THEN -1 ELSE 0 END AS INTEGER)
        |    AS bias_sign
        |FROM scored GROUP BY day""".stripMargin,

    "e_late_arrivals" ->
      s"""WITH e AS (
         |  SELECT epoch_us(ts) // 1000000 AS ts_s,
         |    (epoch_us(ts) // 1000000
         |      + CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4)
         |          AS BIGINT) % $jitterModSec) // $triggerSec AS batch
         |  FROM events),
         |bm AS (SELECT batch, MAX(ts_s) AS b_max FROM e GROUP BY 1),
         |wm AS (
         |  SELECT batch,
         |    MAX(b_max) OVER (ORDER BY batch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_s
         |  FROM bm),
         |j AS (
         |  SELECT e.batch,
         |    CASE WHEN w.wm_s - e.ts_s - $wmDelaySec > 0
         |      THEN w.wm_s - e.ts_s - $wmDelaySec END AS late_by
         |  FROM e JOIN wm w ON e.batch = w.batch)
         |SELECT (batch // ${3600 / triggerSec}) * 3600 AS arr_hour_s,
         |  COUNT(*) AS n_events, COUNT(late_by) AS n_late,
         |  MAX(late_by) AS max_late_sec
         |FROM j GROUP BY 1""".stripMargin,

    "e_slo_burn" ->
      """WITH h AS (SELECT
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS he,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_errors
        |  FROM events GROUP BY 1),
        |w AS (SELECT he, n_events, n_errors,
        |    CAST(SUM(n_errors) OVER tw AS BIGINT) AS err6,
        |    CAST(SUM(n_events) OVER tw AS BIGINT) AS tot6
        |  FROM h WINDOW tw AS (ORDER BY he
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
        |SELECT CAST(he AS BIGINT) AS he, n_events, n_errors,
        |  CAST(n_errors * 1000000 // n_events AS BIGINT) AS err_ppm,
        |  CAST((n_errors * 1000000 // n_events) // 50 AS BIGINT)
        |    AS burn1h_x100,
        |  CAST((err6 * 1000000 // tot6) // 50 AS BIGINT)
        |    AS burn6h_x100,
        |  (n_errors * 1000000 // n_events) // 50 >= 1440
        |    AND (err6 * 1000000 // tot6) // 50 >= 600 AS page
        |FROM w""".stripMargin,

    "e_burstiness" ->
      """WITH ev AS MATERIALIZED (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS he
        |  FROM events),
        |cnt AS (SELECT event_type, he, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT MIN(he) AS h0, MAX(he) AS h1 FROM ev),
        |spine AS (SELECT et.event_type, CAST(s.g AS BIGINT) AS he
        |  FROM (SELECT DISTINCT event_type FROM ev) et
        |  CROSS JOIN span
        |  CROSS JOIN LATERAL (SELECT UNNEST(generate_series(
        |    span.h0, span.h1)) AS g) s),
        |filled AS (SELECT spine.event_type,
        |    COALESCE(cnt.x, 0) AS x
        |  FROM spine LEFT JOIN cnt ON cnt.event_type = spine.event_type
        |    AND cnt.he = spine.he),
        |agg AS (SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_hours,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx
        |  FROM filled GROUP BY event_type)
        |SELECT event_type, n_hours, sx AS n_events,
        |  CAST(sx * 1000000 // n_hours AS BIGINT) AS mean_e6,
        |  CAST(ROUND((CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000
        |    / (CAST(n_hours AS DOUBLE) * CAST(sx AS DOUBLE)), 0)
        |    AS BIGINT) AS fano_e6
        |FROM agg""".stripMargin,

    "e_acf" ->
      """WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS he,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, SUM(x) AS sx FROM hourly),
        |c AS (SELECT he, tot.n * x - tot.sx AS c
        |  FROM hourly CROSS JOIN tot),
        |den AS (SELECT SUM(CAST(c * c AS DECIMAL(38,0))) AS den FROM c),
        |lagged AS (SELECT k, he + k AS he2, c AS ca
        |  FROM c CROSS JOIN (SELECT unnest(range(1, 25)) AS k)),
        |num AS (SELECT l.k, COUNT(*) AS n_pairs,
        |    SUM(CAST(l.ca * b.c AS DECIMAL(38,0))) AS num
        |  FROM lagged l JOIN c b ON l.he2 = b.he
        |  GROUP BY l.k)
        |SELECT num.k, num.n_pairs,
        |  ROUND(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6)
        |    AS acf
        |FROM num CROSS JOIN den""".stripMargin,

    "e_holt_linear" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type AS et, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT et, h, x,
        |    ROW_NUMBER() OVER (PARTITION BY et ORDER BY h) AS t
        |  FROM hourly),
        |it AS (
        |  SELECT s1.et, CAST(1 AS BIGINT) AS t, s1.h, s1.x,
        |    CAST(s1.x AS DOUBLE) AS l,
        |    CAST(s2.x - s1.x AS DOUBLE) AS b,
        |    CAST(NULL AS DOUBLE) AS f
        |  FROM s s1 JOIN s s2
        |    ON s1.et = s2.et AND s1.t = 1 AND s2.t = 2
        |  UNION ALL
        |  SELECT n.et, n.t, n.h, n.x,
        |    0.2 * CAST(n.x AS DOUBLE) + 0.8 * (it.l + it.b) AS l,
        |    0.1 * ((0.2 * CAST(n.x AS DOUBLE) + 0.8 * (it.l + it.b))
        |      - it.l) + 0.9 * it.b AS b,
        |    it.l + it.b AS f
        |  FROM it JOIN s n ON n.et = it.et AND n.t = it.t + 1)
        |SELECT et AS event_type, h, x, ROUND(l, 6) AS level,
        |  ROUND(b, 6) AS trend, ROUND(f, 6) AS fcst
        |FROM it""".stripMargin,

    "e_holt_winters" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type AS et, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT et, h, x,
        |    ROW_NUMBER() OVER (PARTITION BY et ORDER BY h) AS t
        |  FROM hourly),
        |base AS (SELECT et,
        |    SUM(CASE WHEN t <= 24 THEN x END) AS s1,
        |    SUM(CASE WHEN t > 24 AND t <= 48 THEN x END) AS s2
        |  FROM s GROUP BY et HAVING MAX(t) >= 48),
        |init AS (SELECT et,
        |    CAST(s1 AS DOUBLE) / 24.0 AS l,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)) / (24.0 * 24.0)
        |      AS b
        |  FROM base),
        |sl AS (SELECT s.et,
        |    list(CAST(s.x AS DOUBLE) - i.l ORDER BY s.t) AS ss
        |  FROM s JOIN init i USING (et) WHERE s.t <= 24 GROUP BY s.et),
        |it AS (
        |  SELECT i.et, CAST(24 AS BIGINT) AS t, i.l, i.b, sl.ss,
        |    CAST(NULL AS DOUBLE) AS f, CAST(NULL AS DOUBLE) AS snew,
        |    CAST(NULL AS TIMESTAMP) AS h, CAST(NULL AS BIGINT) AS x
        |  FROM init i JOIN sl USING (et)
        |  UNION ALL
        |  SELECT n.et, n.t,
        |    0.2 * (CAST(n.x AS DOUBLE) - it.ss[1])
        |      + 0.8 * (it.l + it.b) AS l,
        |    0.1 * ((0.2 * (CAST(n.x AS DOUBLE) - it.ss[1])
        |        + 0.8 * (it.l + it.b)) - it.l) + 0.9 * it.b AS b,
        |    it.ss[2:24] || [
        |      0.3 * (CAST(n.x AS DOUBLE)
        |        - (0.2 * (CAST(n.x AS DOUBLE) - it.ss[1])
        |           + 0.8 * (it.l + it.b)))
        |      + 0.7 * it.ss[1]] AS ss,
        |    it.l + it.b + it.ss[1] AS f,
        |    0.3 * (CAST(n.x AS DOUBLE)
        |      - (0.2 * (CAST(n.x AS DOUBLE) - it.ss[1])
        |         + 0.8 * (it.l + it.b)))
        |    + 0.7 * it.ss[1] AS snew,
        |    n.h, n.x
        |  FROM it JOIN s n ON n.et = it.et AND n.t = it.t + 1)
        |SELECT et AS event_type, h, x, ROUND(l, 6) AS level,
        |  ROUND(b, 6) AS trend, ROUND(snew, 6) AS seasonal,
        |  ROUND(f, 6) AS fcst
        |FROM it WHERE t > 24""".stripMargin,

    "e_theil_sen" ->
      """WITH daily AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.x < b.x),
        |sl AS (SELECT event_type, np AS n_pairs, slope FROM (
        |    SELECT event_type, slope,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY slope ASC) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS np
        |    FROM pairs)
        |  WHERE rn = (np + 1) // 2),
        |res AS (SELECT d.event_type, sl.n_pairs, sl.slope,
        |    CAST(d.y AS DOUBLE) - sl.slope * CAST(d.x AS DOUBLE) AS resid
        |  FROM daily d JOIN sl USING (event_type))
        |SELECT event_type, nd AS n_days, n_pairs, slope,
        |  resid AS intercept
        |FROM (SELECT event_type, n_pairs, slope, resid,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY resid ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM res)
        |WHERE rn = (nd + 1) // 2""".stripMargin
  )
}
