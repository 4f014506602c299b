package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Event-stream analytics over `events` in batch form (tumbling and
  * hopping windows, gap-based sessionization, funnels, as-of joins).
  * Money-style sums use exact DECIMAL before
  * the final double cast so 32-partition Spark and single-threaded
  * DuckDB agree bitwise.
  */
object EventQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- tumbling 1-hour windows per event type ----
    "e_tumbling_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"))
    }),

    // ---- gap-based sessionization (30-min inactivity) ----
    "e_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val gap = col("ts").cast("long") -
        lag(col("ts"), 1).over(byUser).cast("long")
      t(s, dir, "events")
        .withColumn("new_session",
          when(gap.isNull || gap > 1800, lit(1)).otherwise(lit(0)))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_id"), col("user_id"), col("session_idx"))
    }),

    // ---- as-of join: each purchase gets the user's most recent
    //      at-or-before click (union + one keyed window — no range
    //      cross join, single shuffle) ----
    "e_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.AsOf.asOfJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), tsCol = "ts",
          leftCols = Seq("event_id"), rightCols = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("m_event_id"), col("m_value"))
    }),

    // ---- range join: clicks in the 2 hours before each purchase
    //      (bucketed equi-join on (user, time-bucket); the oracle
    //      verifies it against the straightforward theta join) ----
    "e_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.RangeJoin.rangeJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), tsCol = "ts",
          loSeconds = -7200L, hiSeconds = 0L,
          leftCols = Seq("event_id"), rightCols = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          col("r_event_id"), col("r_offset_sec"))
    }),

    // ---- interval-overlap join: 2h purchase windows × 1h click
    //      windows per user (span-bucketed equi-join; pairs deduped at
    //      the first shared bucket — a predicate, not a shuffle) ----
    "e_overlap_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def windowed(typ: String, spanH: Int) = ev
        .filter(col("event_type") === typ)
        .withColumn("lo", col("ts"))
        .withColumn("hi", col("ts") + expr(s"INTERVAL $spanH HOURS"))
      graft.operators.RangeJoin.overlapJoin(
          windowed("purchase", 2), windowed("click", 1),
          keys = Seq("user_id"), loCol = "lo", hiCol = "hi",
          bucketSeconds = 7200L,
          leftCols = Seq("event_id"), rightCols = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("r_event_id"))
    }),

    // ---- ordered funnel with conversion windows: signup → click
    //      within 24h → purchase within 24h of the click. Stage minima
    //      computed in dependency order (three cheap per-user
    //      aggregations, no window over the raw stream) ----
    // stage assignment: operators/Funnel.stages
    "e_funnel" -> ((s, dir) => {
      graft.operators.Funnel.stages(t(s, dir, "events").localCheckpoint(false))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
    }),

    // ---- weekly cohort retention: users grouped by first-seen week,
    //      counted per week offset they return in ----
    "e_cohort_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cohort = ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
      ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("active_week"))
        .distinct()
        .join(cohort, "user_id")
        .withColumn("week_offset",
          (datediff(col("active_week"), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
    }),

    // ---- exact distinct-at-scale: two-phase salted countDistinct —
    //      salt by the distinct key itself (user_id % 8), so per-salt
    //      distinct sets are disjoint and their SUM is exact; a skewed
    //      group fans over 8 reducers instead of melting one. Oracle =
    //      plain COUNT(DISTINCT), proving equivalence ----
    "e_distinct_twophase" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("salt"))
        .agg(countDistinct(col("user_id")).as("part_users"))
        .groupBy("event_type")
        .agg(sum(col("part_users")).as("n_users"))
    }),

    // ---- JSON payload extraction (events.props is a JSON string) ----
    "e_props_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),

    // ---- corrupt-input robustness: a third of the payloads are
    //      truncated mid-object; PERMISSIVE parsing yields null for
    //      them (flagged, not failed) while valid rows parse — the
    //      poison-pill contract a 100 TB ingest needs (one bad record
    //      must never kill a 10-hour job) ----
    "e_corrupt_json" -> ((s, dir) => {
      val raw = when(col("event_id") % 3 === 0,
        regexp_replace(col("props"), "\\}$", "")).otherwise(col("props"))
      // validity = does the document PARSE — tracked via the
      // _corrupt_record channel (Spark 4's permissive from_json never
      // returns a null struct), so it matches the oracle's json_valid
      // for any object payload, not just ones where "$.k" is present
      val opts = new java.util.HashMap[String, String]()
      opts.put("columnNameOfCorruptRecord", "_corrupt_record")
      t(s, dir, "events").select(col("event_id"), raw.as("raw"))
        .select(col("event_id"),
          from_json(col("raw"), lit("k BIGINT, _corrupt_record STRING"),
            opts).as("p"))
        .select(col("event_id"),
          col("p").getField("k").as("k"),
          col("p").getField("_corrupt_record").isNull.as("is_valid"))
    }),

    // ---- Spark 4 VariantType ingestion: parse the semi-structured
    //      props ONCE into the binary variant encoding, then typed
    //      path gets — the modern schema-agnostic JSON path (O14's
    //      per-probe string parsing, replaced by a decode-once
    //      columnar form). try_variant_get on an absent path is null,
    //      never an error ----
    "e_variant_props" -> ((s, dir) => {
      val v = parse_json(col("props"))
      t(s, dir, "events").select(col("event_id"),
        variant_get(v, "$.k", "long").as("k"),
        try_variant_get(v, "$.missing", "string").as("absent"))
    }),

    // ---- time-series resample + gap fill: hourly grid per event
    //      type materialized from a generated spine; missing hours
    //      zero-fill the count and carry the average forward ----
    "e_gap_fill" -> ((s, dir) => {
      val binned = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_val"))
      graft.operators.TimeSeries.gapFill(binned,
        keys = Seq("event_type"), binCol = "hour", step = "1 hour",
        zeroFill = Seq("n"), forwardFill = Seq("avg_val"))
    }),

    // ---- per-user activity profile ----
    "e_user_stats" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          min(col("ts")).cast("date").as("first_day"),
          max(col("ts")).cast("date").as("last_day"),
          sum(dec(col("value"))).cast("double").as("total_value"))
    }),

    // ---- per-user exponential moving average (alpha = 3/10) of event
    //      values in time order — sequential-by-nature semantics done
    //      scale-right: collect only each user's own events (bounded by
    //      per-key history, never a global sort), sort in-array, fold
    //      left. Values live as 1e-6 fixed-point BIGINTs and the fold
    //      is integer arithmetic (3·x + 7·acc) div 10, so the result is
    //      bit-deterministic across engines and partitionings ----
    "e_ema" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * lit(1000000.0)).cast("long").as("v6"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("v6")))).as("seq"))
        .withColumn("vs", expr("transform(seq, x -> x.v6)"))
        .withColumn("ema_e6", expr(
          "aggregate(slice(vs, 2, greatest(size(vs) - 1, 0)), vs[0]," +
            " (acc, x) -> (3 * x + 7 * acc) div 10)"))
        .select(col("user_id"), col("n_events"), col("ema_e6"),
          (col("ema_e6").cast("double") / lit(1000000.0)).as("ema"))
    }),

    // ---- z-score anomaly flagging per event_type: mean and E[x²] from
    //      exact DECIMAL sums (partition-order independent), variance =
    //      msq − mean² and sqrt are IEEE-exact given identical inputs,
    //      so the |z| > 2 cut is bit-reproducible across engines AND
    //      across cluster sizes. One small stats agg broadcast back —
    //      the events table itself is never shuffled ----
    "e_anomaly_zscore" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val stats = e.groupBy("event_type").agg(
        (sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean"),
        (sum(round(col("value") * col("value"), 6).cast("decimal(18,6)"))
          .cast("double") / count(lit(1))).as("msq"))
        .withColumn("std", sqrt(col("msq") - col("mean") * col("mean")))
      e.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mean")) / col("std"))
        .filter(abs(col("z")) > 2)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 4).as("z"))
    }),

    // ---- hopping (sliding) windows: 1-hour window sliding every
    //      15 min. Spark's native window(slide) replicates each event
    //      into its 4 overlapping windows before the aggregation, so
    //      partial (map-side) aggregation still combines per
    //      (window, type) — the shuffle carries pre-aggregated rows,
    //      not the 4× exploded events ----
    "e_hopping_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
    }),

    // ---- session-level rollup on top of the sessionize labels:
    //      duration, event count, value per (user, session). The
    //      labeling windows and the rollup share the user_id shuffle ----
    "e_session_stats" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val gap = col("ts").cast("long") -
        lag(col("ts"), 1).over(byUser).cast("long")
      t(s, dir, "events")
        .withColumn("new_session",
          when(gap.isNull || gap > 1800, lit(1)).otherwise(lit(0)))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts").cast("long")) - min(col("ts").cast("long")))
            .as("duration_sec"),
          sum(dec(col("value"))).cast("double").as("total_value"))
    }),

    // ---- path mining: each user's first-3-event sequence as a
    //      ">"-joined path, counted across users — the "how do
    //      sessions start" report. A rank<=3 window filter bounds the
    //      rows BEFORE the collect, so per-user aggregation state is
    //      O(3) regardless of history length (collect-then-slice
    //      would buffer the whole history); both the window and the
    //      collect share the user_id shuffle, and the final count agg
    //      is map-combinable ----
    "e_user_paths" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(byUser))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(array_join(
          transform(col("evs"), e => e.getField("event_type")),
          ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
    }),

    // ---- distinct users per hour via the mergeable HLL sketch — the
    //      sketch × time-window composition a continuous monitor runs
    //      (per-hour register tables persist; any coarser rollup is a
    //      per-register MAX fold, never a recount). Exact countDistinct
    //      beside the estimate so every row self-reports its error.
    //      Shapes: two bounded aggs (≤ 1024 rows/hour cross the
    //      exchange) + countDistinct's expand — zero windows ----
    "e_hll_hourly" -> ((s, dir) => {
      import graft.operators.Hll
      val e = t(s, dir, "events")
        .select(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("user_id").cast("string").as("v"))
      val est = Hll.estimate(Hll.registers(e, col("hour"), col("v")))
      val ex = e.groupBy(col("hour").as("g"))
        .agg(countDistinct(col("v")).as("n_exact"))
      est.join(ex, "g")
        .select(col("g").as("hour"), col("n_exact"), col("v_zero"),
          col("s_scaled"), col("est_distinct"))
    }),

    // ---- first-order Markov transition matrix over each user's
    //      event sequence: P(next | prev) as exact ppm of the prev
    //      type's outgoing transitions — the sequence statistic a
    //      behavioral LM (or curriculum sampler) is fit from. Shapes:
    //      one user_id-keyed lag window (per-user state, shared
    //      shuffle), a map-combinable pair count collapsing to
    //      #types² rows, and a broadcast equi-join against the
    //      #types-sized marginals — the corpus never shuffles twice ----
    "e_markov_transitions" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val pairs = t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // reused for the marginal and the join
      val marg = pairs.groupBy("prev").agg(sum(col("n")).as("tot"))
      pairs.join(broadcast(marg), "prev")
        .select(col("prev"), col("next"), col("n"),
          expr("n * 1000000 div tot").as("p_ppm"))
    }),

    // ---- held-out evaluation of the Markov next-event model: fit
    //      transition counts on even user_ids, predict argmax(next)
    //      per prev state (deterministic lexicographic tie-break),
    //      score top-1 accuracy on odd users — the check that says
    //      whether e_markov_transitions' table actually PREDICTS or
    //      just describes. The model is states² rows (broadcast);
    //      both passes are one lag window per user + one keyed agg.
    //      Exact integer ppm. ----
    "e_markov_eval" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val pairs = t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), col("prev"),
          col("event_type").as("next"))
        .localCheckpoint(false) // train + test halves
      val train = pairs.filter(col("user_id") % 2 === 0)
        .groupBy("prev", "next").agg(count(lit(1)).as("n"))
      val wBest = Window.partitionBy("prev")
        .orderBy(col("n").desc, col("next").asc)
      val model = train.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("prev"), col("next").as("pred"))
      val nTrain = train.agg(sum("n").as("n_train_pairs"))
      pairs.filter(col("user_id") % 2 === 1)
        .join(broadcast(model), Seq("prev"), "left")
        .agg(count(lit(1)).as("n_test_pairs"),
          sum(when(col("pred") === col("next"), 1L).otherwise(0L))
            .as("n_hit"),
          sum(when(col("pred").isNull, 1L).otherwise(0L))
            .as("n_unseen"))
        .crossJoin(broadcast(nTrain))
        .select(col("n_train_pairs"), col("n_test_pairs"), col("n_hit"),
          col("n_unseen"),
          expr("n_hit * 1000000L div n_test_pairs").as("acc_ppm"))
    }),

    // ---- SCD-2 dimension build: compress each user's event_type
    //      history into validity intervals [valid_from, valid_to),
    //      open-ended for the current state. One shuffle on user_id;
    //      the change-filter and the lead() share the same sort ----
    "e_scd2_intervals" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    }),

    // ---- time-series anomaly: hourly error counts vs their trailing
    //      24-hour window (exact integer sums of n and n², variance by
    //      the textbook formula — every op after the sums is IEEE
    //      +,-,*,/,sqrt, so z is bit-reproducible with no rounding).
    //      The hourly rollup is map-combinable; the trailing window
    //      runs over ONE row per hour — bounded by the time horizon,
    //      not the event volume, so the single-partition window is
    //      safe at any scale ----
    "e_ts_anomaly" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .filter(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      graft.operators.TimeSeries.trailingZ(hourly, keys = Seq.empty,
        binCol = "hour", nCol = "n", lookback = 24, zCut = 3.0)
    }),

    // ---- JSON key census: which keys exist in a semi-structured
    //      column and what fraction of rows carry each — the schema
    //      discovery report run before committing to a typed extract.
    //      Keys come from the engine's native JSON parser
    //      (json_object_keys ↔ DuckDB json_keys); the fixture builds
    //      variant-keyed objects so coverage genuinely varies ----
    "e_key_census" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val js = concat(lit("{\"uid\":"), col("user_id"),
        when(col("event_id") % 2 === 0,
          concat(lit(",\"eid\":"), col("event_id"))).otherwise(lit("")),
        when(col("event_id") % 3 === 0,
          // strip JSON-breaking characters from the embedded string so
          // a free-text event_type can never make the object malformed
          // (Spark would silently null it; the DuckDB oracle would
          // ERROR — the sanitization keeps both sides total)
          concat(lit(",\"t\":\""),
            regexp_replace(col("event_type"), "[\"\\\\]", ""), lit("\"")))
          .otherwise(lit("")),
        lit("}"))
      val keyed = ev.select(explode(json_object_keys(js)).as("key"))
      val total = ev.agg(count(lit(1)).as("total"))
      keyed.groupBy("key").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("key"), col("n"),
          (col("n").cast("double") / col("total")).as("coverage"))
    }),

    // ---- per-type linear trend: OLS slope/intercept of hourly event
    //      counts vs hours-since-start, from exact integer sums
    //      (Σx, Σy, Σxy, Σx² are BIGINT-exact; the closed form is then
    //      pure IEEE doubles — bit-reproducible, no rounding). Two
    //      map-combinable aggregations + one broadcast scalar; the
    //      regression state per type is 5 numbers at any volume ----
    "e_linear_trend" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("CAST(ts AS LONG) div 3600").as("hb"))
        .agg(count(lit(1)).as("y"))
      graft.operators.TimeSeries.linearTrend(hourly,
        keys = Seq("event_type"), xCol = "hb", yCol = "y")
    }),

    // ---- interrupted time series (segmented regression): separate
    //      OLS fits on the hourly series before/after a cutoff, then
    //      the level shift and slope change AT the cutoff — the
    //      causal readout for "did the deploy change traffic" when
    //      no control group exists. Reuses TimeSeries.linearTrend
    //      (exact DECIMAL moments per segment); the closing
    //      level/slope deltas are one shared IEEE tree with the
    //      cutoff as a literal. Two model-sized fits per type. ----
    "e_intervention_analysis" -> ((s, dir) => {
      val cutHb = 473688L // 2024-01-15T00:00Z in hour bins
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("CAST(ts AS LONG) div 3600").as("hb"))
        .agg(count(lit(1)).as("y"))
        .withColumn("seg",
          when(col("hb") < cutHb, "pre").otherwise("post"))
        .localCheckpoint(false) // fits + per-segment origins
      val fits = graft.operators.TimeSeries.linearTrend(hourly,
        keys = Seq("event_type", "seg"), xCol = "hb", yCol = "y")
      val x0 = hourly.groupBy("event_type", "seg")
        .agg(min("hb").as("x0"))
      val j = fits.join(x0, Seq("event_type", "seg"))
      def side(sg: String, sfx: String) = j.filter(col("seg") === sg)
        .select(col("event_type"), col("n").as(s"n_$sfx"),
          col("slope").as(s"slope_$sfx"),
          col("intercept").as(s"int_$sfx"), col("x0").as(s"x0_$sfx"))
      side("pre", "pre").join(side("post", "post"), "event_type")
        .withColumn("level_pre", col("int_pre") + col("slope_pre") *
          (lit(cutHb.toDouble) - col("x0_pre").cast("double")))
        .withColumn("level_post", col("int_post") + col("slope_post") *
          (lit(cutHb.toDouble) - col("x0_post").cast("double")))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          round(col("slope_pre"), 6).as("slope_pre"),
          round(col("slope_post"), 6).as("slope_post"),
          round(col("slope_post") - col("slope_pre"), 6)
            .as("slope_delta"),
          round(col("level_pre"), 6).as("level_pre"),
          round(col("level_post"), 6).as("level_post"),
          round(col("level_post") - col("level_pre"), 6)
            .as("level_shift"))
    }),

    // ---- last-touch attribution: each purchase credits the user's
    //      most recent view/click within a 7-day lookback (atomic
    //      as-of match — one keyed shuffle, no range cross join);
    //      revenue sums in exact DECIMAL before the double cast ----
    "e_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // AsOf requires (keys, ts) unique on the right; a view and a
      // click at the same instant would otherwise make the credited
      // touch nondeterministic — keep the max-event_id row per (user,
      // ts), the same tie-break the oracle applies
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id", "ts")
            .orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1).drop("__rn")
      graft.operators.AsOf.asOfJoin(
          ev.filter(col("event_type") === "purchase"),
          touches,
          keys = Seq("user_id"), tsCol = "ts",
          leftCols = Seq("event_id", "value"),
          rightCols = Seq("event_id", "event_type"),
          toleranceSeconds = Some(7L * 24 * 3600))
        .withColumn("touch", coalesce(col("m_event_type"), lit("none")))
        .groupBy("touch")
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("revenue"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "e_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "e_sessionize" ->
      """SELECT event_id, user_id,
        | CAST(SUM(new_session) OVER (PARTITION BY user_id
        |   ORDER BY ts ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |FROM (SELECT event_id, user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |         ORDER BY ts ASC, event_id ASC) IS NULL
        |    OR date_diff('second', lag(ts) OVER (PARTITION BY user_id
        |         ORDER BY ts ASC, event_id ASC), ts) > 1800
        |  THEN 1 ELSE 0 END AS new_session
        |  FROM events)""".stripMargin,

    // replicates the union+window construction; side 0 sorts right
    // rows first at equal timestamps (the <= contract). The right
    // payload is ONE struct (row-atomic match, like the engine).
    "e_asof_join" ->
      """WITH l AS (SELECT user_id, ts, 1 AS side, event_id,
        |    CAST(NULL AS STRUCT(r_eid BIGINT, r_val DOUBLE)) AS m
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
        |    struct_pack(r_eid := event_id, r_val := "value") AS m
        |  FROM events WHERE event_type = 'click'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |w AS (SELECT event_id, user_id, side,
        |    last_value(m IGNORE NULLS) OVER w AS mm
        |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, side ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, mm.r_eid AS m_event_id,
        |  mm.r_val AS m_value FROM w
        |WHERE side = 1""".stripMargin,

    // overlap semantics as a plain theta join — verifies the bucketed
    // equi-join + first-shared-bucket dedup produces exactly the pairs
    "e_overlap_join" ->
      """SELECT p.event_id, p.user_id, c.event_id AS r_event_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts) + 7200000000""".stripMargin,

    // the oracle states the SEMANTICS as a plain theta join — it
    // verifies the engine's bucketed equi-join produces exactly the
    // theta-join pairs
    "e_range_join" ->
      """SELECT p.event_id, p.user_id, c.event_id AS r_event_id,
        | (epoch_us(c.ts) - epoch_us(p.ts)) / 1000000.0 AS r_offset_sec
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin,

    "e_funnel" ->
      """WITH su AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |cl AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e
        |  JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'click' AND e.ts > su.s_ts
        |    AND e.ts <= su.s_ts + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e
        |  JOIN cl ON e.user_id = cl.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > cl.c_ts
        |    AND e.ts <= cl.c_ts + INTERVAL 24 HOURS
        |  GROUP BY e.user_id)
        |SELECT CASE WHEN pu.user_id IS NOT NULL THEN 3
        |            WHEN cl.user_id IS NOT NULL THEN 2
        |            ELSE 1 END AS stage, COUNT(*) AS n_users
        |FROM su LEFT JOIN cl ON su.user_id = cl.user_id
        |        LEFT JOIN pu ON su.user_id = pu.user_id
        |GROUP BY 1""".stripMargin,

    "e_cohort_retention" ->
      """WITH cohort AS (SELECT user_id,
        |    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS active_week
        |  FROM events)
        |SELECT cohort_week,
        | CAST(date_diff('day', cohort_week, active_week) // 7 AS INT)
        |   AS week_offset,
        | COUNT(*) AS n_users
        |FROM act JOIN cohort ON act.user_id = cohort.user_id
        |GROUP BY 1, 2""".stripMargin,

    "e_distinct_twophase" ->
      """SELECT event_type,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    "e_props_extract" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "e_gap_fill" ->
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_val
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM ev),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT DISTINCT event_type FROM ev), b),
        |j AS (SELECT s.event_type, s.hour,
        |    COALESCE(e.n, 0) AS n, e.avg_val
        |  FROM spine s LEFT JOIN ev e
        |    ON s.event_type = e.event_type AND s.hour = e.hour)
        |SELECT event_type, hour, n,
        |  last_value(avg_val IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY hour ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_val
        |FROM j""".stripMargin,

    "e_variant_props" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(NULL AS VARCHAR) AS absent
        |FROM events""".stripMargin,

    "e_corrupt_json" ->
      """WITH r AS (SELECT event_id,
        |    CASE WHEN event_id % 3 = 0
        |         THEN regexp_replace(props, '\}$', '')
        |         ELSE props END AS raw
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN json_valid(raw)
        |       THEN CAST(json_extract_string(raw, '$.k') AS BIGINT) END AS k,
        |  json_valid(raw) AS is_valid
        |FROM r""".stripMargin,

    "e_ema" ->
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS v6
        |  FROM events),
        |f AS (SELECT user_id, COUNT(*) AS n_events,
        |    list_reduce(array_agg(v6 ORDER BY ts, event_id),
        |      (acc, x) -> (3 * x + 7 * acc) // 10) AS ema_e6
        |  FROM b GROUP BY user_id)
        |SELECT user_id, n_events, ema_e6,
        |  CAST(ema_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS ema
        |FROM f""".stripMargin,

    "e_user_stats" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | COUNT(DISTINCT event_type) AS n_types,
        | CAST(MIN(ts) AS DATE) AS first_day,
        | CAST(MAX(ts) AS DATE) AS last_day,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin,

    "e_anomaly_zscore" ->
      """WITH st AS (SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |    AS mean,
        |  CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(18,6)))
        |    AS DOUBLE) / COUNT(*) AS msq
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value,
        |  ROUND((value - mean) / sqrt(msq - mean * mean), 4) AS z
        |FROM events JOIN st USING (event_type)
        |WHERE ABS((value - mean) / sqrt(msq - mean * mean)) > 2""".stripMargin,

    // Each event belongs to exactly 4 hop windows (3600/900); window
    // starts are the 4 preceding 15-min grid points, computed on
    // epoch micros so DuckDB and Spark agree exactly.
    "e_hopping_window" ->
      """WITH x AS (SELECT
        |    make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000)
        |      AS window_start,
        |    event_type, value
        |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1, 2""".stripMargin,

    "e_session_stats" ->
      """WITH lab AS (SELECT user_id, ts, value,
        |  CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |FROM (SELECT event_id, user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |         ORDER BY ts ASC, event_id ASC) IS NULL
        |    OR date_diff('second', lag(ts) OVER (PARTITION BY user_id
        |         ORDER BY ts ASC, event_id ASC), ts) > 1800
        |  THEN 1 ELSE 0 END AS new_session
        |  FROM events))
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  date_diff('second', MIN(ts), MAX(ts)) AS duration_sec,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM lab GROUP BY 1, 2""".stripMargin,

    "e_user_paths" ->
      """WITH p AS (SELECT user_id, array_to_string(
        |    (array_agg(event_type ORDER BY ts, event_id))[1:3], '>')
        |      AS path
        |  FROM events GROUP BY user_id)
        |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path""".stripMargin,

    "e_hll_hourly" -> {
      val hll = graft.operators.Hll.estimateSql(
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS g,
          |  CAST(user_id AS VARCHAR) AS v FROM events""".stripMargin)
      s"""WITH est AS ($hll),
         |ex AS (SELECT strftime(date_trunc('hour', ts),
         |      '%Y-%m-%d %H:%M:%S') AS g,
         |    COUNT(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT est.g AS hour, ex.n_exact, est.v_zero, est.s_scaled,
         |  est.est_distinct
         |FROM est JOIN ex ON est.g = ex.g""".stripMargin
    },

    "e_markov_transitions" ->
      """WITH p AS (SELECT user_id, event_type AS next,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events),
        |pc AS (SELECT prev, next, COUNT(*) AS n FROM p
        |  WHERE prev IS NOT NULL GROUP BY prev, next),
        |mg AS (SELECT prev, SUM(n) AS tot FROM pc GROUP BY prev)
        |SELECT pc.prev, pc.next, pc.n,
        |  CAST(pc.n * 1000000 // mg.tot AS BIGINT) AS p_ppm
        |FROM pc JOIN mg USING (prev)""".stripMargin,

    "e_markov_eval" ->
      """WITH p AS (SELECT user_id, event_type AS next,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events),
        |pairs AS (SELECT user_id, prev, next FROM p
        |  WHERE prev IS NOT NULL),
        |train AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pairs WHERE user_id % 2 = 0 GROUP BY prev, next),
        |model AS (SELECT prev, next AS pred FROM (
        |    SELECT prev, next, ROW_NUMBER() OVER (PARTITION BY prev
        |      ORDER BY n DESC, next ASC) AS rn FROM train)
        |  WHERE rn = 1),
        |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_train_pairs
        |  FROM train),
        |ev AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test_pairs,
        |    CAST(SUM(CASE WHEN model.pred = pairs.next THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_hit,
        |    CAST(SUM(CASE WHEN model.pred IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_unseen
        |  FROM pairs LEFT JOIN model USING (prev)
        |  WHERE user_id % 2 = 1)
        |SELECT nt.n_train_pairs, ev.n_test_pairs, ev.n_hit,
        |  ev.n_unseen,
        |  CAST(n_hit * 1000000 // n_test_pairs AS BIGINT) AS acc_ppm
        |FROM ev, nt""".stripMargin,

    "e_scd2_intervals" ->
      """WITH c AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) IS NULL AS is_current
        |FROM c WHERE prev IS NULL OR prev <> event_type""".stripMargin,

    // variance from exact integer sums with the same association as
    // the engine: ((ss − s·s/c)/(c−1)); all post-sum ops IEEE-exact
    "e_ts_anomaly" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour,
        |    count(*) AS n FROM events WHERE event_type = 'error'
        |  GROUP BY 1),
        |w AS (SELECT hour, n,
        |    sum(n) OVER t AS s, sum(n * n) OVER t AS ss,
        |    count(n) OVER t AS c
        |  FROM hourly WINDOW t AS (ORDER BY hour
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT hour, n, s, ss, c,
        |    CAST(s AS DOUBLE) / c AS mean,
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / c) / (c - 1)
        |      AS variance
        |  FROM w WHERE c = 24)
        |SELECT hour, n,
        |  (CAST(n AS DOUBLE) - mean) / sqrt(variance) AS z,
        |  abs((CAST(n AS DOUBLE) - mean) / sqrt(variance)) > 3
        |    AS is_anomaly
        |FROM v WHERE variance > 0""".stripMargin,

    "e_key_census" ->
      """WITH j AS (SELECT '{"uid":' || user_id ||
        |    CASE WHEN event_id % 2 = 0 THEN ',"eid":' || event_id
        |         ELSE '' END ||
        |    CASE WHEN event_id % 3 = 0 THEN ',"t":"' ||
        |           regexp_replace(event_type, '["\\]', '', 'g') || '"'
        |         ELSE '' END || '}' AS js
        |  FROM events),
        |k AS (SELECT unnest(json_keys(js)) AS key FROM j),
        |tot AS (SELECT count(*) AS total FROM events)
        |SELECT key, count(*) AS n,
        |  CAST(count(*) AS DOUBLE) / total AS coverage
        |FROM k CROSS JOIN tot
        |GROUP BY key, total""".stripMargin,

    // identical association: exact BIGINT sums, then the same double
    // expression tree as the engine
    "e_linear_trend" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hb,
        |    count(*) AS y FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, min(hb) AS h0 FROM hourly GROUP BY 1),
        |st AS (SELECT hourly.event_type, count(*) AS n,
        |    sum(hb - h0) AS sx, sum(y) AS sy,
        |    sum((hb - h0) * y) AS sxy, sum((hb - h0) * (hb - h0)) AS sxx
        |  FROM hourly JOIN m ON hourly.event_type = m.event_type
        |  GROUP BY 1),
        |sl AS (SELECT event_type, n, sx, sy,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * sy) /
        |    NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * sx, 0) AS slope
        |  FROM st)
        |SELECT event_type, n, slope,
        |  (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept
        |FROM sl""".stripMargin,

    "e_intervention_analysis" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hb, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |sg AS (SELECT event_type, hb, y,
        |    CASE WHEN hb < 473688 THEN 'pre' ELSE 'post' END AS seg
        |  FROM hourly),
        |m AS (SELECT event_type, seg, min(hb) AS h0
        |  FROM sg GROUP BY 1, 2),
        |st AS (SELECT sg.event_type, sg.seg, count(*) AS n,
        |    sum(hb - h0) AS sx, sum(y) AS sy,
        |    sum((hb - h0) * y) AS sxy,
        |    sum((hb - h0) * (hb - h0)) AS sxx,
        |    min(h0) AS x0
        |  FROM sg JOIN m ON sg.event_type = m.event_type
        |    AND sg.seg = m.seg
        |  GROUP BY 1, 2),
        |sl AS (SELECT event_type, seg, n, x0,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * sy) /
        |    NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * sx, 0) AS slope,
        |    sx, sy
        |  FROM st),
        |fit AS (SELECT event_type, seg, n, x0, slope,
        |    (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept
        |  FROM sl),
        |pre AS (SELECT event_type, n AS n_pre, slope AS slope_pre,
        |    intercept AS int_pre, x0 AS x0_pre
        |  FROM fit WHERE seg = 'pre'),
        |post AS (SELECT event_type, n AS n_post, slope AS slope_post,
        |    intercept AS int_post, x0 AS x0_post
        |  FROM fit WHERE seg = 'post'),
        |w AS (SELECT pre.event_type, n_pre, n_post, slope_pre,
        |    slope_post,
        |    int_pre + slope_pre * (473688.0 - CAST(x0_pre AS DOUBLE))
        |      AS level_pre,
        |    int_post + slope_post * (473688.0 - CAST(x0_post AS DOUBLE))
        |      AS level_post
        |  FROM pre JOIN post USING (event_type))
        |SELECT event_type, n_pre, n_post,
        |  ROUND(slope_pre, 6) AS slope_pre,
        |  ROUND(slope_post, 6) AS slope_post,
        |  ROUND(slope_post - slope_pre, 6) AS slope_delta,
        |  ROUND(level_pre, 6) AS level_pre,
        |  ROUND(level_post, 6) AS level_post,
        |  ROUND(level_post - level_pre, 6) AS level_shift
        |FROM w""".stripMargin,

    "e_attribution" ->
      """WITH l AS (SELECT user_id, ts, 1 AS side, "value",
        |    CAST(NULL AS STRUCT(etype VARCHAR, rts TIMESTAMP)) AS m
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, 0 AS side, CAST(NULL AS DOUBLE) AS "value",
        |    struct_pack(etype := event_type, rts := ts) AS m
        |  FROM (SELECT user_id, ts, event_type, row_number() OVER (
        |      PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('view', 'click'))
        |  WHERE rn = 1),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |w AS (SELECT user_id, ts, side, "value",
        |    last_value(m IGNORE NULLS) OVER w AS mm
        |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, side ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |a AS (SELECT CASE WHEN epoch_us(ts) - epoch_us(mm.rts)
        |        <= 604800000000
        |      THEN mm.etype ELSE 'none' END AS touch, "value"
        |  FROM w WHERE side = 1)
        |SELECT touch, COUNT(*) AS n_conversions,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM a GROUP BY 1""".stripMargin
  )
}
