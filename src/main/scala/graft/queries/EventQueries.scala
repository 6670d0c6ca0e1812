package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream analytics over the `events` table: lag/gap analysis, pivot,
  * semi-structured JSON extraction, and tumbling time windows (the batch
  * expression of the streaming windowed aggregation in
  * [[graft.streaming.IncrementalIngest]]).
  *
  * Scale posture: all windows partition by `user_id` (high cardinality — state
  * per partition stays tiny); the tumbling-window agg groups by (window,
  * event_type) which Spark hashes across the cluster; JSON extraction is a
  * codegen'd built-in, not a UDF.
  */
object EventQueries extends QueryPack {

  override def queries: Map[String, Query] = Map(
    // Semi-structured extraction: props is a JSON object column.
    "e_json_extract" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy(col("event_id"))),

    // Per-user inter-event gap via lag() — sessionization's first step.
    "e_lag_gaps" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts2"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts2"))
        .withColumn("gap_seconds",
          unix_timestamp(col("ts2")) - unix_timestamp(lag(col("ts2"), 1).over(w)))
        .select(col("event_id"), col("user_id"), col("gap_seconds"))
        .orderBy(col("event_id"))
    }),

    // Conversion funnel view→click→purchase: per user, the first view,
    // the first click strictly after it, the first purchase strictly after
    // that — the sequential-pattern query behind conversion dashboards.
    // Three filtered min-aggregations and two equi-joins, all keyed on
    // user_id (high cardinality — no hot reducer); the funnel root (users
    // with ≥1 view) bounds every later stage. Missing stages surface as a
    // sentinel timestamp (NULL timestamps cross the oracle compare as
    // dtype noise).
    "e_funnel_stages" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts2"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts2")).as("view_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts2") > col("view_ts"))
        .groupBy(col("user_id")).agg(min(col("ts2")).as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts2") > col("click_ts"))
        .groupBy(col("user_id")).agg(min(col("ts2")).as("purchase_ts"))
      val sent = lit("9999-12-31 00:00:00").cast("timestamp")
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1) + col("click_ts").isNotNull.cast("int")
            + col("purchase_ts").isNotNull.cast("int")).as("funnel_stage"),
          col("view_ts"),
          coalesce(col("click_ts"), sent).as("click_ts"),
          coalesce(col("purchase_ts"), sent).as("purchase_ts"))
        .orderBy(col("user_id"))
    }),

    // Lag-1 autocorrelation of each event type's time-ordered value stream
    // — the first stationarity/seasonality diagnostic on any metric
    // stream. Adjacent pairs come from one lead() window; the Pearson
    // correlation over pairs derives from decimal-exact sums through the
    // same double shape as a_regression_stats, so r1 is bit-equal
    // cross-engine. One window + one mergeable aggregation.
    // Burstiness screen: per-user index of dispersion (variance-to-mean of
    // ACTIVE-day event counts) in exact integer micro-units — Poisson
    // traffic sits near 10⁶, bots and scripted bursts far above. One
    // narrow two-level aggregation; dispersion_q = (n·Σx²−(Σx)²)·10⁶ div
    // ((n−1)·Σx) never touches a double.
    "e_burstiness" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("n_events"),
          sum(col("x") * col("x")).as("s2"))
        .filter(col("n_days") >= 2)
        .select(col("user_id"), col("n_days"), col("n_events"),
          expr("""((n_days * s2 - n_events * n_events) * 1000000)
                  div ((n_days - 1) * n_events)""").as("dispersion_q"))
        .orderBy(col("user_id"))
    }),

    "e_autocorr" -> ((s, dir) => {
      import graft.ops.Aggregations.sumStable
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts2"), col("event_id"))
      val pairs = Tables.load(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          date_trunc("second", col("ts")).as("ts2"), col("value").as("x"))
        .withColumn("y", lead(col("x"), 1).over(w))
        .filter(col("y").isNotNull)
      val m = pairs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumStable(col("x")).as("sx"), sumStable(col("y")).as("sy"),
          sumStable(col("x") * col("y")).as("sxy"),
          sumStable(col("x") * col("x")).as("sxx"),
          sumStable(col("y") * col("y")).as("syy"))
      val nd = col("n").cast("double")
      m.select(col("event_type"), col("n"),
          (col("sxy") - col("sx") * col("sy") / nd).as("cov_n"),
          (col("sxx") - col("sx") * col("sx") / nd).as("vx_n"),
          (col("syy") - col("sy") * col("sy") / nd).as("vy_n"))
        .select(col("event_type"), col("n"),
          (col("cov_n") / sqrt(col("vx_n") * col("vy_n"))).as("r1"))
        .orderBy(col("event_type"))
    }),

    // Exponential smoothing (EWMA, α = 1/2) of each user's ordered value
    // stream — the one-number forecast state a monitoring pipeline keeps
    // per key. α = 1/2 makes every step s_i = (s_{i-1} + x_i)/2 an IEEE add
    // plus an EXACT halving, so an identically-ordered fold is bit-equal
    // across engines — no quantization needed. Per-key sequence state is
    // bounded by that key's event count (the sessionize caveat); the fold
    // itself is one collect + one linear HOF pass, no shuffle beyond the
    // groupBy.
    "e_ewma_smooth" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts2"),
          col("event_id"), col("value"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(
            struct(col("ts2"), col("event_id"), col("value")))).as("seq"))
        .select(col("user_id"), col("n"),
          aggregate(
            expr("slice(transform(seq, r -> r.value), 2, 1000000000)"),
            expr("element_at(transform(seq, r -> r.value), 1)"),
            (acc, x) => (acc + x) / lit(2.0)).as("ewma"))
        .orderBy(col("user_id"))
    }),

    // Brown double exponential smoothing (α=1/2) with trend forecast:
    // s1 = EWMA of the series, s2 = EWMA of s1 (folded in ONE pass with a
    // struct accumulator), level = 2s1−s2, trend = s1−s2 (α/(1−α)=1),
    // one-step forecast = level + trend — the trend-aware upgrade of
    // e_ewma_smooth. The oracle replays the IDENTICAL fold order via a
    // recursive CTE, so results are bit-exact. Same scale shape as the
    // EWMA: per-user sequences are bounded, collected once, never
    // shuffled element-wise.
    "e_double_smooth" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts2"),
          col("event_id"), col("value"))
      val x1 = expr("element_at(transform(seq, r -> r.value), 1)")
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(
            struct(col("ts2"), col("event_id"), col("value")))).as("seq"))
        .select(col("user_id"), col("n"),
          aggregate(
            expr("slice(transform(seq, r -> r.value), 2, 1000000000)"),
            struct(x1.as("s1"), x1.as("s2")),
            (acc, x) => struct(
              ((acc.getField("s1") + x) / lit(2.0)).as("s1"),
              ((acc.getField("s2") + (acc.getField("s1") + x) / lit(2.0))
                / lit(2.0)).as("s2"))).as("st"))
        .select(col("user_id"), col("n"),
          col("st.s1").as("s1"), col("st.s2").as("s2"),
          (lit(2.0) * col("st.s1") - col("st.s2")).as("level"),
          (col("st.s1") - col("st.s2")).as("trend"),
          ((lit(2.0) * col("st.s1") - col("st.s2"))
            + (col("st.s1") - col("st.s2"))).as("forecast"))
        .orderBy(col("user_id"))
    }),

    // Holt-Winters additive triple smoothing (α=β=γ=1/2, weekly period 7)
    // over each event type's daily decimal-stable totals: level + trend +
    // seasonal state folded in ONE pass with a struct accumulator whose
    // 7-slot seasonal array updates by slice-concat. Halving keeps every
    // step an exact IEEE operation; the oracle replays the identical fold
    // as a recursive CTE — bit-exact. Same scale shape as e_double_smooth:
    // the fold runs over the BOUNDED per-type daily series (one row per
    // day), never over raw events.
    "e_holt_winters" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(graft.ops.Aggregations.sumStable(col("value")).as("v"))
      val g = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("d"), col("v")))).as("seq"))
      val x1 = expr("element_at(transform(seq, r -> r.v), 1)")
      val fold = aggregate(
        expr("slice(transform(seq, r -> r.v), 2, 1000000000)"),
        struct(x1.as("l"), lit(0.0).as("b"),
          array_repeat(lit(0.0), 7).as("s"), lit(1).as("t")),
        (acc, x) => {
          val t = acc.getField("t")
          val idx = (t % 7) + 1 // 1-based seasonal slot of observation t+1
          val sOld = element_at(acc.getField("s"), idx)
          val l0 = acc.getField("l")
          val b0 = acc.getField("b")
          val lNew = ((x - sOld) + (l0 + b0)) / lit(2.0)
          val bNew = ((lNew - l0) + b0) / lit(2.0)
          val sNew = ((x - lNew) + sOld) / lit(2.0)
          struct(lNew.as("l"), bNew.as("b"),
            concat(slice(acc.getField("s"), lit(1), idx - 1), array(sNew),
              slice(acc.getField("s"), idx + 1, lit(7) - idx)).as("s"),
            (t + 1).as("t"))
        })
      val nextSeason = element_at(col("st.s"),
        (col("n") % 7 + 1).cast("int"))
      g.select(col("event_type"), col("n"), fold.as("st"))
        .select(col("event_type"), col("n"),
          col("st.l").as("level"), col("st.b").as("trend"),
          nextSeason.as("season_next"),
          (col("st.l") + col("st.b") + nextSeason).as("forecast"))
        .orderBy(col("event_type"))
    }),

    // Classical additive seasonal decomposition (the moving-average
    // method, period 7): trend = centered 7-day MA, seasonal index =
    // per-weekday mean of the detrended series, remainder = what's left —
    // the first-look diagnostic for any daily metric. ALL state is exact
    // integer cents scaled to avoid division (trend_sum7 = Σ7 days,
    // detrended = 7·v − trend_sum7, remainder pre-multiplied by the
    // seasonal denominator), so the only doubles are final single
    // divisions. Edge days and gap-broken frames emit null trend — a
    // row-frame MA over a gapped series would silently average
    // non-adjacent days.
    "e_classical_decompose" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(round(col("value") * 100).cast("long")).as("v_cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(-3, 3)
      val t = daily
        .withColumn("dow",
          pmod(datediff(col("d"), lit("1970-01-01")), lit(7)).cast("long"))
        .withColumn("trend_sum7",
          when(count(lit(1)).over(w) === 7 &&
            datediff(max(col("d")).over(w), min(col("d")).over(w)) === 6,
            sum(col("v_cents")).over(w)))
        .withColumn("detr", when(col("trend_sum7").isNotNull,
          lit(7L) * col("v_cents") - col("trend_sum7")))
        .localCheckpoint() // feeds the seasonal agg AND the final join
      val seas = t.filter(col("detr").isNotNull)
        .groupBy(col("event_type"), col("dow"))
        .agg(sum(col("detr")).as("seas_num"),
          count(lit(1)).as("seas_den"))
      t.join(seas, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("d"), col("v_cents"), col("dow"),
          col("trend_sum7"),
          (col("trend_sum7").cast("double") / lit(700.0)).as("trend"),
          col("seas_num"), col("seas_den"),
          (col("seas_den") * col("detr") - col("seas_num"))
            .as("rem_scaled"))
        .orderBy(col("event_type"), col("d"))
    }),

    // Two-sided CUSUM changepoint detection (Page 1954) over each event
    // type's daily totals, fully in integer half-cents — zero doubles, so
    // every cusum value and alarm flag is engine-exact. The max(0, ·)
    // recursion is rewritten as the window identity S_i = C_i − min(0,
    // min_{j≤i} C_j) with C = cumsum(d), so one ordered pass per type
    // replaces the sequential fold. Robust location/scale come from exact
    // order statistics (lower median, lower-median MAD) instead of μ/σ —
    // no sqrt, no IEEE drift. Slack k = MAD/2 (the ±half-scale deadband),
    // alarm at S > 8·MAD. Scale posture: the per-type series is BOUNDED by
    // the calendar (one row per day), so the rank/cumsum windows never see
    // data-sized partitions; raw events only feed the map-combinable
    // daily aggregation.
    "e_cusum_change" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(round(col("value") * 100).cast("long")).as("v"))
        .localCheckpoint() // feeds two rank passes + the cusum pass
      val byType = Window.partitionBy(col("event_type"))
      def lowerMedian(df: org.apache.spark.sql.DataFrame, c: String,
          as: String) = {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col(c), col("d"))
        df.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(byType))
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("event_type"), col(c).as(as))
      }
      val med = lowerMedian(daily, "v", "med")
      val withMed = daily.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs(col("v") - col("med")))
      val mad = lowerMedian(withMed, "ad", "mad")
      val wc = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withMed.join(broadcast(mad), Seq("event_type"))
        .withColumn("dp", lit(2L) * (col("v") - col("med")) - col("mad"))
        .withColumn("dn", lit(2L) * (col("med") - col("v")) - col("mad"))
        .withColumn("cp", sum(col("dp")).over(wc))
        .withColumn("cn", sum(col("dn")).over(wc))
        .withColumn("cusum_pos",
          col("cp") - least(lit(0L), min(col("cp")).over(wc)))
        .withColumn("cusum_neg",
          col("cn") - least(lit(0L), min(col("cn")).over(wc)))
        .select(col("event_type"), col("d"), col("v").as("v_cents"),
          col("med"), col("mad"), col("cusum_pos"), col("cusum_neg"),
          (col("cusum_pos") > lit(16L) * col("mad")).cast("int")
            .as("alarm_pos"),
          (col("cusum_neg") > lit(16L) * col("mad")).cast("int")
            .as("alarm_neg"))
        .orderBy(col("event_type"), col("d"))
    }),

    // Two-sample Kolmogorov-Smirnov distance between the purchase and
    // click value distributions — the classic nonparametric drift test
    // (complement to the binned PSI). Values discretize to cents, so the
    // ECDF window runs over the BOUNDED distinct-bucket support (never
    // data-sized rows); per-bucket |F1−F2| quantizes to nano-units before
    // the order-free max.
    "e_ks_test" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("b"))
      val counts = ev.groupBy(col("b"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c1"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))
        .localCheckpoint() // feeds totals + the ECDF pass
      val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val w = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.crossJoin(broadcast(tot))
        .withColumn("f1",
          sum(col("c1")).over(w).cast("double") / col("n1").cast("double"))
        .withColumn("f2",
          sum(col("c2")).over(w).cast("double") / col("n2").cast("double"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(round(abs(col("f1") - col("f2")) * lit(1e9)).cast("long"))
            .as("d_q"))
    }),

    // Multi-touch attribution (first / last / linear) — every purchase
    // credits the click/view touches of the same user in the preceding
    // 7 days. Candidate pairs come from the banded range equi-join (no
    // BNLJ); ranking is one per-purchase window over the bounded touch
    // set; credits are integer micro-units (linear = truncating
    // 10⁶ div n), so the per-channel totals are engine-exact.
    "e_attribution" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts2"),
          col("event_id"), col("event_type"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts2").as("t_ts"),
          col("event_id").as("t_id"), col("event_type").as("t_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts2").as("p_ts"),
          col("event_id").as("p_id"))
      val pairs = graft.operators.Temporal.bandedRangeJoin(
        touches, purchases, "user_id", "t_ts", "p_ts", 0L, 604800L)
      val w = Window.partitionBy(col("p_id")).orderBy(col("t_ts"), col("t_id"))
      val ranked = pairs
        .withColumn("rn", row_number().over(w))
        .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("p_id"))))
      ranked.groupBy(col("t_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("rn") === 1, lit(1000000L)).otherwise(lit(0L)))
            .as("first_q"),
          sum(when(col("rn") === col("nt"), lit(1000000L)).otherwise(lit(0L)))
            .as("last_q"),
          sum(expr("CAST(1000000 AS BIGINT) div nt")).as("linear_q"))
        .orderBy(col("t_type"))
    }),

    // Behavioral sequence mining: event-type trigrams along each user's
    // time-ordered stream, counted corpus-wide — the "what do users do
    // next" building block of journey analysis. One per-user window (two
    // leads share it) + one narrow groupBy over a ≤|types|³ key space;
    // ordering is second-truncated-ts + event_id, so engines and retries
    // sequence ties identically.
    // SAX-style symbolic motifs (Lin et al. 2003, with the Gaussian
    // breakpoints replaced by EXACT per-user rank quartiles — no float
    // mean/std, so the discretization is engine- and partition-exact):
    // each user's values map to symbols 0-3 by within-user rank, and
    // consecutive symbol 3-grams are the motif vocabulary — the discords/
    // patterns screen a telemetry pipeline runs over raw series. One
    // rank window + one lead window per user, then a global count.
    "e_sax_motifs" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          date_trunc("second", col("ts")).as("ts2"))
      val wr = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("ts2"), col("event_id"))
      val wt = Window.partitionBy(col("user_id"))
        .orderBy(col("ts2"), col("event_id"))
      base
        .withColumn("rk", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .withColumn("sym", expr("((rk - 1) * 4) div n"))
        .withColumn("s2", lead(col("sym"), 1).over(wt))
        .withColumn("s3", lead(col("sym"), 2).over(wt))
        .filter(col("s3").isNotNull)
        .select(concat(col("sym"), col("s2"), col("s3")).as("motif"))
        .groupBy(col("motif")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("motif"))
    }),

    "e_behavior_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts2"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts2"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("trigram"))
        .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(20)
    }),

    // Exact first/second moments per event type: decimal-summed Σv and Σv²
    // (order-insensitive, so 1000-executor merges are bit-identical), with
    // mean/variance/stddev derived through the SAME double expression shape
    // in both engines — classical descriptive statistics with none of the
    // usual float-summation drift. One map-side-combinable aggregation.
    "e_moment_stats" -> ((s, dir) => {
      import graft.ops.Aggregations.sumStable
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumStable(col("value")).as("sum_v"),
          sumStable(col("value") * col("value")).as("sum_v2"))
        .select(col("event_type"), col("n"), col("sum_v"),
          (col("sum_v") / col("n").cast("double")).as("mean"),
          ((col("sum_v2") - col("sum_v") * col("sum_v") / col("n").cast("double"))
            / (col("n").cast("double") - lit(1.0))).as("variance"))
        .withColumn("stddev", sqrt(col("variance")))
        .orderBy(col("event_type"))
    }),

    // Cohort retention: users grouped by first-activity week, counted per
    // weekly offset they return in — the product-analytics retention
    // matrix. Exact integers end to end (week truncation, day-diff/7
    // offsets, distinct-user counts). Two narrow user-keyed aggregations
    // + one join; the matrix itself is cohorts × offsets, tiny at any
    // scale.
    "e_cohort_retention" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, Seq("user_id"))
        .select(to_date(col("cohort_wk")).as("cohort_week"),
          (datediff(to_date(col("wk")), to_date(col("cohort_wk"))) / 7)
            .cast("int").as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Time-series regularization: resample each user's event stream onto a
    // 1-hour grid (sequence + explode) and forward-fill the last observed
    // value — the gap-filling step before any windowed feature extraction.
    // Per-user grid, so no global sequence materializes; the fill is one
    // per-user window with IGNORE NULLS last_value. Values are carried,
    // never recomputed — engine-exact. In-hour pick is deterministic:
    // latest second-truncated ts, event_id tiebreak (raw ns ts would let
    // the engines disagree below microsecond resolution).
    "e_resample_ffill" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          date_trunc("second", col("ts")).as("ts2"), col("event_id"), col("value"))
      val wPick = Window.partitionBy(col("user_id"), col("h"))
        .orderBy(col("ts2").desc, col("event_id").desc)
      val hourly = ev.withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("h"), col("value"))
      val grid = ev.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
      val wf = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h").as("hour_ts"),
          last(col("value"), ignoreNulls = true).over(wf).as("value"),
          col("value").isNotNull.cast("int").as("is_observed"))
        .orderBy(col("user_id"), col("hour_ts"))
    }),

    // Linear-interpolation resampling — the ffill query's sibling for
    // signals where carrying the last value biases downstream features:
    // unobserved grid hours take v_prev + (v_next − v_prev)·Δ with Δ the
    // integer-hour gap ratio, computed in ONE double expression with a
    // fixed op order, so both engines produce bit-identical doubles.
    // The grid spans [min, max] observed hour per user, so every gap has
    // both endpoints — no edge extrapolation case. Observed hours return
    // their value verbatim (Δ = 0 multiplies to exactly v_prev).
    "e_resample_interp" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          date_trunc("second", col("ts")).as("ts2"), col("event_id"), col("value"))
      val wPick = Window.partitionBy(col("user_id"), col("h"))
        .orderBy(col("ts2").desc, col("event_id").desc)
      val hourly = ev.withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("h"), col("value"))
      val grid = ev.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val hh = expr("unix_timestamp(h) DIV 3600")
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("__hh", hh)
        .withColumn("__ph",
          last(when(col("value").isNotNull, hh), ignoreNulls = true).over(wPrev))
        .withColumn("__pv", last(col("value"), ignoreNulls = true).over(wPrev))
        .withColumn("__nh",
          first(when(col("value").isNotNull, hh), ignoreNulls = true).over(wNext))
        .withColumn("__nv", first(col("value"), ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("h").as("hour_ts"),
          when(col("value").isNotNull, col("value"))
            .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
              ((col("__hh") - col("__ph")).cast("double") /
                (col("__nh") - col("__ph")).cast("double")))
            .as("value"),
          col("value").isNotNull.cast("int").as("is_observed"))
        .orderBy(col("user_id"), col("hour_ts"))
    }),

    // PSI drift report between two deterministic halves of the event stream
    // (even vs odd event_id — a stand-in for yesterday-vs-today): reference
    // deciles as exact order statistics, Laplace-smoothed per-bucket terms
    // quantized to micro-nats. See ops.Drift for the exactness and scale
    // argument.
    "e_drift_psi" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      graft.ops.Drift.psiReport(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        "value")
    }),

    // Trimmed mean of event values per type (10% off each tail by value
    // rank): the location estimate for value streams whose tails are
    // corrupt — kept multiset is tie-order-independent, the sum is
    // decimal-stable, so the report is engine-exact.
    "e_trimmed_mean" -> ((s, dir) =>
      graft.ops.Robust.trimmedMean(Tables.load(s, dir, "events"),
          "event_type", "value", "event_id", trim = 0.1)
        .orderBy(col("event_type"))),

    // Winsorized mean per event type — the tail-clamping complement of the
    // trimmed mean (n stays constant, so counts reconcile across reports);
    // boundaries are order statistics of real values, clamping is exact
    // selection, sum is decimal-stable → engine-exact.
    "e_winsorized_mean" -> ((s, dir) =>
      graft.ops.Robust.winsorizedMean(Tables.load(s, dir, "events"),
          "event_type", "value", "event_id", trim = 0.1)
        .orderBy(col("event_type"))),

    // Robust (median/MAD) outlier screen on event values per type — the
    // data-quality gate that doesn't move when the anomalies themselves
    // shift the mean. All statistics are order statistics of real data
    // values (see ops.Robust), so the flagged counts are engine-exact.
    "e_value_outliers" -> ((s, dir) =>
      graft.ops.Robust.madOutlierStats(
        Tables.load(s, dir, "events"), "event_type", "value", "event_id")
        .orderBy(col("event_type"))),

    // Pivot: event-type counts per user as columns.
    "e_pivot_counts" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0)
        .orderBy(col("user_id"))),

    // Tumbling 1-hour windows per event type — the batch equivalent of the
    // streaming groupBy(window(...)) aggregation.
    "e_hourly_windows" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.ops.Aggregations.sumStable(col("value")).as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))),

    // Gap-based sessionization (30-minute gap) over window functions.
    "e_sessions" -> ((s, dir) =>
      graft.streaming.Sessionize
        .sessionsBatch(Tables.load(s, dir, "events"), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_start"))),

    // Unpivot (wide→long): per-type measure columns melted to (metric,
    // value) rows — the inverse of e_pivot_counts. Narrow transform after
    // the aggregation, so the melt costs nothing at scale: 5 groups × 3
    // metrics regardless of input size.
    "e_unpivot_measures" -> ((s, dir) => {
      val stable = graft.ops.Aggregations.sumStable(col("value"))
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n_events"),
          stable.as("total_value"),
          (stable / count(lit(1))).as("avg_value"))
        .unpivot(Array(col("event_type")),
          Array(col("n_events"), col("total_value"), col("avg_value")),
          "metric", "metric_value")
        .orderBy(col("event_type"), col("metric"))
    }))

  override def oracleSql: Map[String, String] = Map(
    "e_burstiness" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS n_events,
        |    CAST(sum(x * x) AS BIGINT) AS s2 FROM daily GROUP BY 1)
        |SELECT user_id, n_days, n_events,
        |  CAST(((n_days * s2 - n_events * n_events) * 1000000)
        |    // ((n_days - 1) * n_events) AS BIGINT) AS dispersion_q
        |FROM a WHERE n_days >= 2 ORDER BY user_id""".stripMargin,

    "e_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "e_autocorr" -> {
      def stable(e: String) =
        s"CAST(CAST(SUM(CAST($e AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
      s"""WITH e AS (SELECT event_type, event_id,
         |    date_trunc('second', ts) AS ts2, value AS x FROM events),
         |p AS (SELECT event_type, x,
         |    lead(x, 1) OVER (PARTITION BY event_type
         |      ORDER BY ts2, event_id) AS y
         |  FROM e),
         |q AS (SELECT event_type, x, y FROM p WHERE y IS NOT NULL),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    ${stable("x")} AS sx, ${stable("y")} AS sy,
         |    ${stable("x * y")} AS sxy,
         |    ${stable("x * x")} AS sxx, ${stable("y * y")} AS syy
         |  FROM q GROUP BY event_type),
         |d AS (SELECT event_type, n,
         |    sxy - sx * sy / CAST(n AS DOUBLE) AS cov_n,
         |    sxx - sx * sx / CAST(n AS DOUBLE) AS vx_n,
         |    syy - sy * sy / CAST(n AS DOUBLE) AS vy_n
         |  FROM m)
         |SELECT event_type, n, cov_n / sqrt(vx_n * vy_n) AS r1
         |FROM d ORDER BY event_type""".stripMargin
    },

    "e_ewma_smooth" ->
      """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts2,
        |    event_id, value FROM events),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    list(value ORDER BY ts2, event_id) AS vals
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n,
        |  list_reduce(vals, (acc, x) -> (acc + x) / CAST(2.0 AS DOUBLE)) AS ewma
        |FROM g ORDER BY user_id""".stripMargin,

    "e_ks_test" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS b
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |c AS (SELECT b,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2
        |  FROM e GROUP BY b),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM c),
        |f AS (SELECT b,
        |    CAST(sum(c1) OVER (ORDER BY b) AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      AS f1,
        |    CAST(sum(c2) OVER (ORDER BY b) AS DOUBLE) / CAST(n2 AS DOUBLE)
        |      AS f2,
        |    n1, n2
        |  FROM c CROSS JOIN t)
        |SELECT max(n1) AS n1, max(n2) AS n2,
        |  max(CAST(round(abs(f1 - f2) * 1e9) AS BIGINT)) AS d_q
        |FROM f""".stripMargin,

    "e_attribution" ->
      """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts2,
        |    event_id, event_type FROM events),
        |t AS (SELECT user_id, ts2 AS t_ts, event_id AS t_id,
        |    event_type AS t_type FROM e
        |  WHERE event_type IN ('click', 'view')),
        |p AS (SELECT user_id, ts2 AS p_ts, event_id AS p_id FROM e
        |  WHERE event_type = 'purchase'),
        |pr AS (SELECT t.t_type, t.t_ts, t.t_id, p.p_id
        |  FROM t JOIN p ON t.user_id = p.user_id
        |    AND epoch(p.p_ts) - epoch(t.t_ts) > 0
        |    AND epoch(p.p_ts) - epoch(t.t_ts) <= 604800),
        |r AS (SELECT t_type, p_id,
        |    row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn,
        |    count(*) OVER (PARTITION BY p_id) AS nt FROM pr)
        |SELECT t_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1000000 ELSE 0 END) AS BIGINT)
        |    AS first_q,
        |  CAST(sum(CASE WHEN rn = nt THEN 1000000 ELSE 0 END) AS BIGINT)
        |    AS last_q,
        |  CAST(sum(1000000 // nt) AS BIGINT) AS linear_q
        |FROM r GROUP BY t_type ORDER BY t_type""".stripMargin,

    "e_double_smooth" ->
      """WITH RECURSIVE g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    list(value ORDER BY date_trunc('second', ts), event_id) AS vals
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT user_id, 1 AS t, n, vals, vals[1] AS s1, vals[1] AS s2
        |  FROM g
        |  UNION ALL
        |  SELECT user_id, t + 1, n, vals,
        |    (s1 + vals[t + 1]) / CAST(2.0 AS DOUBLE),
        |    (s2 + (s1 + vals[t + 1]) / CAST(2.0 AS DOUBLE))
        |      / CAST(2.0 AS DOUBLE)
        |  FROM r WHERE t < n),
        |f AS (SELECT user_id, n, s1, s2 FROM r WHERE t = n)
        |SELECT user_id, n, s1, s2,
        |  CAST(2.0 AS DOUBLE) * s1 - s2 AS level,
        |  s1 - s2 AS trend,
        |  (CAST(2.0 AS DOUBLE) * s1 - s2) + (s1 - s2) AS forecast
        |FROM f ORDER BY user_id""".stripMargin,

    "e_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
        |      AS DOUBLE) AS v
        |  FROM events GROUP BY event_type, d),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    list(v ORDER BY d) AS vals
        |  FROM daily GROUP BY event_type),
        |r AS (
        |  SELECT event_type, 1 AS t, n, vals, vals[1] AS l,
        |    CAST(0.0 AS DOUBLE) AS b,
        |    list_transform(range(7), x -> CAST(0.0 AS DOUBLE)) AS s
        |  FROM g
        |  UNION ALL
        |  SELECT event_type, t + 1, n, vals,
        |    ((vals[t+1] - s[(t % 7) + 1]) + (l + b)) / CAST(2.0 AS DOUBLE),
        |    ((((vals[t+1] - s[(t % 7) + 1]) + (l + b)) / CAST(2.0 AS DOUBLE)
        |      - l) + b) / CAST(2.0 AS DOUBLE),
        |    s[1:(t % 7)] ||
        |      [((vals[t+1] - ((vals[t+1] - s[(t % 7) + 1]) + (l + b))
        |          / CAST(2.0 AS DOUBLE)) + s[(t % 7) + 1])
        |        / CAST(2.0 AS DOUBLE)] ||
        |      s[(t % 7) + 2:7]
        |  FROM r WHERE t < n),
        |f AS (SELECT event_type, n, l, b, s FROM r WHERE t = n)
        |SELECT event_type, n, l AS level, b AS trend,
        |  s[(n % 7) + 1] AS season_next,
        |  l + b + s[(n % 7) + 1] AS forecast
        |FROM f ORDER BY event_type""".stripMargin,

    "e_cusum_change" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY event_type, d),
        |medr AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, d) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |med AS (SELECT event_type, v AS med FROM medr
        |  WHERE rn = (n + 1) // 2),
        |wm AS (SELECT daily.event_type, d, v, med, abs(v - med) AS ad
        |  FROM daily JOIN med ON daily.event_type = med.event_type),
        |madr AS (SELECT event_type, ad,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ad, d) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM wm),
        |mad AS (SELECT event_type, ad AS mad FROM madr
        |  WHERE rn = (n + 1) // 2),
        |dd AS (SELECT wm.event_type, d, v, med, mad,
        |    2 * (v - med) - mad AS dp, 2 * (med - v) - mad AS dn
        |  FROM wm JOIN mad ON wm.event_type = mad.event_type),
        |c AS (SELECT event_type, d, v, med, mad,
        |    sum(dp) OVER w AS cp, sum(dn) OVER w AS cn
        |  FROM dd
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT event_type, d, v, med, mad,
        |    cp - least(0, min(cp) OVER w) AS cusum_pos,
        |    cn - least(0, min(cn) OVER w) AS cusum_neg
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, v AS v_cents, med, mad,
        |  CAST(cusum_pos AS BIGINT) AS cusum_pos,
        |  CAST(cusum_neg AS BIGINT) AS cusum_neg,
        |  CAST(cusum_pos > 16 * mad AS INTEGER) AS alarm_pos,
        |  CAST(cusum_neg > 16 * mad AS INTEGER) AS alarm_neg
        |FROM s ORDER BY event_type, d""".stripMargin,

    "e_classical_decompose" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v_cents
        |  FROM events GROUP BY event_type, d),
        |t AS (SELECT event_type, d, v_cents,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) % 7
        |      AS BIGINT) AS dow,
        |    CASE WHEN count(*) OVER w = 7 AND date_diff('day',
        |        CAST(min(d) OVER w AS DATE), CAST(max(d) OVER w AS DATE))
        |        = 6
        |      THEN CAST(sum(v_cents) OVER w AS BIGINT) END AS trend_sum7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT *, CASE WHEN trend_sum7 IS NOT NULL
        |    THEN 7 * v_cents - trend_sum7 END AS detr FROM t),
        |seas AS (SELECT event_type, dow,
        |    CAST(sum(detr) AS BIGINT) AS seas_num,
        |    CAST(count(*) AS BIGINT) AS seas_den
        |  FROM t2 WHERE detr IS NOT NULL GROUP BY 1, 2)
        |SELECT t2.event_type, d, v_cents, t2.dow, trend_sum7,
        |  CAST(trend_sum7 AS DOUBLE) / CAST(700.0 AS DOUBLE) AS trend,
        |  seas_num, seas_den,
        |  CAST(seas_den * detr - seas_num AS BIGINT) AS rem_scaled
        |FROM t2 LEFT JOIN seas
        |  ON t2.event_type = seas.event_type AND t2.dow = seas.dow
        |ORDER BY t2.event_type, d""".stripMargin,

    "e_sax_motifs" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |    date_trunc('second', ts) AS ts2 FROM events),
        |r AS (SELECT user_id, event_id, ts2,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value, ts2, event_id) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM e),
        |sy AS (SELECT user_id, event_id, ts2,
        |    ((rk - 1) * 4) // n AS sym FROM r),
        |g AS (SELECT sym, lead(sym, 1) OVER w AS s2, lead(sym, 2) OVER w AS s3
        |  FROM sy WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id)),
        |t AS (SELECT CAST(sym AS VARCHAR) || CAST(s2 AS VARCHAR)
        |    || CAST(s3 AS VARCHAR) AS motif
        |  FROM g WHERE s3 IS NOT NULL)
        |SELECT motif, CAST(count(*) AS BIGINT) AS n
        |FROM t GROUP BY motif ORDER BY n DESC, motif""".stripMargin,

    "e_behavior_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts2 FROM events),
        |s AS (SELECT event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id)),
        |t AS (SELECT event_type || '>' || e2 || '>' || e3 AS trigram
        |  FROM s WHERE e3 IS NOT NULL)
        |SELECT trigram, CAST(count(*) AS BIGINT) AS n
        |FROM t GROUP BY trigram
        |ORDER BY n DESC, trigram LIMIT 20""".stripMargin,

    "e_moment_stats" -> {
      def stable(e: String) =
        s"CAST(CAST(SUM(CAST($e AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
      s"""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    ${stable("value")} AS sum_v, ${stable("value * value")} AS sum_v2
         |  FROM events GROUP BY event_type),
         |d AS (SELECT event_type, n, sum_v,
         |    sum_v / CAST(n AS DOUBLE) AS mean,
         |    (sum_v2 - sum_v * sum_v / CAST(n AS DOUBLE))
         |      / (CAST(n AS DOUBLE) - 1.0) AS variance
         |  FROM m)
         |SELECT event_type, n, sum_v, mean, variance, sqrt(variance) AS stddev
         |FROM d ORDER BY event_type""".stripMargin
    },

    "e_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT CAST(cohort_wk AS DATE) AS cohort_week,
        |  CAST(date_diff('day', CAST(cohort_wk AS DATE), CAST(wk AS DATE)) // 7
        |    AS INTEGER) AS week_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "e_resample_ffill" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h,
        |    date_trunc('second', ts) AS ts2, event_id, value FROM events),
        |hr AS (SELECT user_id, h, value FROM (
        |    SELECT user_id, h, value, row_number() OVER (
        |      PARTITION BY user_id, h ORDER BY ts2 DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |sp AS (SELECT user_id, min(h) AS h0, max(h) AS h1
        |  FROM e GROUP BY user_id),
        |g AS (SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp),
        |j AS (SELECT g.user_id, g.h, hr.value
        |  FROM g LEFT JOIN hr ON g.user_id = hr.user_id AND g.h = hr.h)
        |SELECT user_id, h AS hour_ts,
        |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS is_observed
        |FROM j ORDER BY user_id, hour_ts""".stripMargin,

    "e_trimmed_mean" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |k AS (SELECT event_type, value, n FROM r
        |  WHERE rn > floor(CAST(n AS DOUBLE) * 0.1)
        |    AND rn <= n - floor(CAST(n AS DOUBLE) * 0.1))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        |    / count(*) AS trimmed_mean
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e_winsorized_mean" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (SELECT event_type,
        |    max(CASE WHEN rn = floor(CAST(n AS DOUBLE) * 0.1) + 1
        |      THEN value END) AS lo_bound,
        |    max(CASE WHEN rn = n - floor(CAST(n AS DOUBLE) * 0.1)
        |      THEN value END) AS hi_bound
        |  FROM r GROUP BY event_type)
        |SELECT r.event_type, CAST(count(*) AS BIGINT) AS n,
        |  lo_bound, hi_bound,
        |  CAST(CAST(sum(CAST(least(greatest(value, lo_bound), hi_bound)
        |    AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        |    / count(*) AS winsorized_mean
        |FROM r JOIN b USING (event_type)
        |GROUP BY r.event_type, lo_bound, hi_bound
        |ORDER BY r.event_type""".stripMargin,

    "e_resample_interp" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h,
        |    date_trunc('second', ts) AS ts2, event_id, value FROM events),
        |hr AS (SELECT user_id, h, value FROM (
        |    SELECT user_id, h, value, row_number() OVER (
        |      PARTITION BY user_id, h ORDER BY ts2 DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |sp AS (SELECT user_id, min(h) AS h0, max(h) AS h1
        |  FROM e GROUP BY user_id),
        |g AS (SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp),
        |j AS (SELECT g.user_id, g.h,
        |    CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', g.h)
        |      AS BIGINT) AS hh, hr.value
        |  FROM g LEFT JOIN hr ON g.user_id = hr.user_id AND g.h = hr.h),
        |w AS (SELECT user_id, h, hh, value,
        |    last_value(CASE WHEN value IS NOT NULL THEN hh END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY h
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    last_value(value IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY h
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(CASE WHEN value IS NOT NULL THEN hh END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY h
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh,
        |    first_value(value IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY h
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM j)
        |SELECT user_id, h AS hour_ts,
        |  CASE WHEN value IS NOT NULL THEN value
        |    ELSE pv + (nv - pv) * (CAST(hh - ph AS DOUBLE)
        |      / CAST(nh - ph AS DOUBLE)) END AS value,
        |  CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS is_observed
        |FROM w ORDER BY user_id, hour_ts""".stripMargin,

    "e_drift_psi" -> {
      val edgeDefs = (1 to 9).map(j =>
        s"""max(CASE WHEN rn = CAST(ceil(n * CAST(${j / 10.0} AS DOUBLE)) AS BIGINT)
           |      THEN value END) AS e$j""".stripMargin).mkString(",\n    ")
      val bucketExpr = (1 to 9)
        .map(j => s"(CASE WHEN value > e$j THEN 1 ELSE 0 END)").mkString(" + ")
      val pExpr = "((CAST(ref_c AS DOUBLE) + 1.0) / (CAST(ref_n AS DOUBLE) + 10.0))"
      val qExpr = "((CAST(cur_c AS DOUBLE) + 1.0) / (CAST(cur_n AS DOUBLE) + 10.0))"
      s"""WITH ref AS (SELECT value FROM events WHERE event_id % 2 = 0),
         |cur AS (SELECT value FROM events WHERE event_id % 2 = 1),
         |t AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ref) AS ref_n,
         |             (SELECT CAST(count(*) AS BIGINT) FROM cur) AS cur_n),
         |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
         |    COUNT(*) OVER () AS n FROM ref),
         |e AS (SELECT
         |    $edgeDefs
         |  FROM r),
         |rb AS (SELECT $bucketExpr AS bucket FROM ref CROSS JOIN e),
         |cb AS (SELECT $bucketExpr AS bucket FROM cur CROSS JOIN e),
         |rbc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ref_c
         |  FROM rb GROUP BY bucket),
         |cbc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cur_c
         |  FROM cb GROUP BY bucket),
         |j AS (SELECT COALESCE(rbc.bucket, cbc.bucket) AS bucket,
         |    COALESCE(ref_c, CAST(0 AS BIGINT)) AS ref_c,
         |    COALESCE(cur_c, CAST(0 AS BIGINT)) AS cur_c
         |  FROM rbc FULL OUTER JOIN cbc ON rbc.bucket = cbc.bucket)
         |SELECT bucket, ref_c AS ref_count, cur_c AS cur_count,
         |  CAST(round(($pExpr - $qExpr) * ln($pExpr / $qExpr) * 1000000)
         |    AS BIGINT) AS psi_q
         |FROM j CROSS JOIN t ORDER BY bucket""".stripMargin
    },

    "e_value_outliers" ->
      """WITH r AS (SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS med
        |  FROM r GROUP BY event_type),
        |dev AS (SELECT e.event_type, e.event_id, abs(e.value - med) AS d, med
        |  FROM events e JOIN med USING (event_type)),
        |rd AS (SELECT event_type, d, med,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY d, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |mad AS (SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN d END) AS mad
        |  FROM rd GROUP BY event_type)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(d.med) AS med, max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN d.d > CAST(3.0 AS DOUBLE) * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(d.d) AS max_dev
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "e_funnel_stages" ->
      """WITH e AS (SELECT user_id, event_type,
        |    date_trunc('second', ts) AS ts2 FROM events),
        |v AS (SELECT user_id, min(ts2) AS view_ts FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(ts2) AS click_ts FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts2 > view_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(ts2) AS purchase_ts FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts2 > click_ts GROUP BY e.user_id)
        |SELECT v.user_id,
        |  1 + CASE WHEN click_ts IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END AS funnel_stage,
        |  view_ts,
        |  COALESCE(click_ts, TIMESTAMP '9999-12-31 00:00:00') AS click_ts,
        |  COALESCE(purchase_ts, TIMESTAMP '9999-12-31 00:00:00') AS purchase_ts
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,

    "e_lag_gaps" ->
      """SELECT event_id, user_id,
        |  date_diff('second',
        |    lag(date_trunc('second', ts)) OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('second', ts), event_id),
        |    date_trunc('second', ts)) AS gap_seconds
        |FROM events ORDER BY event_id""".stripMargin,

    "e_pivot_counts" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "e_hourly_windows" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin,

    "e_sessions" ->
      """WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts2, value
        |  FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts2) OVER w IS NULL
        |    OR date_diff('second', lag(ts2) OVER w, ts2) > 1800 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id)),
        |s AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts2, event_id) AS sid
        |  FROM m)
        |SELECT user_id, min(ts2) AS session_start, max(ts2) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "e_unpivot_measures" ->
      """WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n_events,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        |      AS total_value
        |  FROM events GROUP BY event_type)
        |SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM g
        |UNION ALL
        |SELECT event_type, 'total_value', total_value FROM g
        |UNION ALL
        |SELECT event_type, 'avg_value', total_value / n_events FROM g
        |ORDER BY event_type, metric""".stripMargin)
}
