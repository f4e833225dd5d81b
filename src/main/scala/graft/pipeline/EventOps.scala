package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (SURVEY.md §2.8 E5, batch
  * form — the streaming form with watermarks lives in
  * [[graft.streaming.StreamingOps]] and is held to batch parity by test).
  *
  * All three shapes shuffle once on their natural keys and aggregate
  * partially map-side; nothing is collected to the driver. At 100 TB the
  * `events` source would be date-partitioned so the window queries prune to
  * the scanned time range.
  */
object EventOps {

  /** Tumbling 1-hour windows per event type: the canonical
    * `groupBy(window(...))` aggregation. Window start rendered ISO for
    * oracle parity (DuckDB `time_bucket`). */
  def hourlyDf(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_format(window(col("ts"), "1 hour").getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .orderBy("hour_start", "event_type")

  /** Sliding 1-hour windows every 15 minutes: each event lands in 4 windows
    * (Spark expands via the `window` generator — no self-join). Distinct
    * users per window is exact, computed as a two-stage aggregation —
    * pre-aggregate (window, type, user) then count the survivors — instead
    * of `countDistinct`: the per-user partial collapses map-side before
    * the shuffle, so the wire carries one row per (window, type, user)
    * instead of the full ×4 window expansion, and no distinct-rewrite
    * Expand appears in the plan. Bit-identical output (both are exact). */
  def slidingDf(events: DataFrame): DataFrame =
    events
      .select(
        date_format(window(col("ts"), "1 hour", "15 minutes").getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("user_id"))
      .groupBy("window_start", "event_type", "user_id")
      .agg(count(lit(1)).as("n_per_user"))
      .groupBy("window_start", "event_type")
      .agg(
        sum(col("n_per_user")).as("n_events"),
        count(lit(1)).as("n_users"))
      .orderBy("window_start", "event_type")

  /** Two-phase salted aggregation — the skew pattern for hot grouping keys
    * (here: only 5 event_type values, so a plain groupBy funnels the whole
    * table through ≤5 reducers at scale). Phase 1 aggregates on
    * (key, salt ∈ [0,32)), spreading each hot key over 32 reducers; phase 2
    * merges the 32 partials per key. Values are summed as integer cents
    * (`round(value·100)` per element — exact: fixture values are 2 dp), so
    * partial sums re-associate with NO floating-point order sensitivity and
    * the result is bit-equal to a direct single-phase groupBy — which is
    * exactly what the DuckDB oracle runs, making the salted plan
    * hash-compared against the unsalted semantics. AQE's skew-join split
    * handles the join-side analogue automatically. */
  def saltedEventTotalsDf(events: DataFrame, saltBuckets: Int = 32): DataFrame =
    events
      .withColumn("salt", pmod(hash(col("event_id")), lit(saltBuckets)))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"))
      .groupBy("event_type")
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("pc")).cast("double") / 100.0, 6).as("total_value"))
      .orderBy("event_type")

  /** Sessionization with a 30-minute inactivity gap, the batch analogue of
    * `session_window`: lag → session-start flags → running session ids →
    * per-session sizes → per-user stats. Both running windows use the
    * default RANGE frame so timestamp ties get identical values in Spark
    * and DuckDB. One shuffle on user_id; sessions never leave their
    * partition. */
  def sessionizeDf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapUs = 30L * 60 * 1000000
    val sessions = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // STRICTLY > gap splits: Spark's session_window MERGES an event at
      // exactly last+gap (measured on the boundary drill — four events
      // spaced exactly 30 min formed ONE 4-event session), so the batch
      // analogue, both streaming sessionizers, and the oracles all use
      // the same inclusive-merge rule; a `>=` split disagrees with
      // session_window on exact-boundary events (which no driver fixture
      // contains)
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("session_events"))
    sessions
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("session_events")).as("n_events"),
        max(col("session_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** eq125 — burstiness audit (index of dispersion): per event type, the
    * Fano factor of per-minute arrival counts over the type's observed
    * minute span — var/mean ≈ 1 for Poisson-like traffic, ≫ 1 for bursty
    * (flash crowds, retry storms), ≈ 0 for metronomic (bots, schedulers).
    * The number that sizes streaming micro-batch capacity and flags
    * synthetic traffic. Zero minutes inside the span count via the span
    * term (Σx² over observed minutes only — zeros contribute nothing);
    * fano = (span·Σx² − S²) / (span·S), non-negative by Cauchy–Schwarz,
    * computed in exact BIGINT ppm then one double division (the eq53
    * rounding discipline; at extreme corpus scale the products move to
    * decimal(38,0) — the eq120 pattern). Two shuffles: (type, minute)
    * pre-agg collapses map-side, then 5 type rows. */
  def burstinessDf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy("event_type", "minute")
      .agg(count(lit(1)).as("x"))
      .groupBy("event_type")
      .agg(
        (max(col("minute")) - min(col("minute")) + lit(1L)).as("span_minutes"),
        sum(col("x")).as("n_events"),
        sum(col("x") * col("x")).as("sx2"))
      .withColumn("mean_per_min",
        round(expr("(n_events * 1000000L) div span_minutes").cast("double") / 1000000.0, 6))
      .withColumn("fano",
        round(expr("((span_minutes * sx2 - n_events * n_events) * 1000000L)" +
          " div (span_minutes * n_events)").cast("double") / 1000000.0, 6))
      .select(col("event_type"), col("span_minutes"), col("n_events"),
        col("mean_per_min"), col("fano"))
      .orderBy("event_type")

  /** eq53 — per-user inter-event gap statistics: the lag-window "think
    * time" features behind session quality scoring and bot detection.
    * Gaps are exact integer microseconds (`unix_micros` differences), so
    * the per-user sum is order-insensitive and the mean is one final
    * division; min/max/avg are rendered in seconds at 6 dp. Equal
    * timestamps contribute a 0 gap whichever side of the (ts, event_id)
    * tie-break they land on, so the per-user gap multiset — and therefore
    * every aggregate — is deterministic. One shuffle on user_id; the lag
    * window and the aggregation share that partitioning, so the window
    * output aggregates without a second exchange. */
  def interEventGapsDf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        // micro-truncated mean: the integer division happens in exact
        // BIGINT space, so the rounded value is a true 6-dp decimal —
        // a raw double mean can land on a round() tie that Spark
        // (decimal HALF_UP) and DuckDB (float-multiplied) break
        // differently (observed 1-ulp divergence at sf0.1)
        round(expr("sum(gap_us) div count(1)").cast("double") / 1000000.0, 6)
          .as("avg_gap_s"),
        round(min(col("gap_us")) / lit(1000000.0), 6).as("min_gap_s"),
        round(max(col("gap_us")) / lit(1000000.0), 6).as("max_gap_s"))
      .orderBy("user_id")
  }

  /** eq58 — weekly retention cohorts: users grouped by the ISO week of
    * their first event (`date_trunc('week')` — Monday in both engines),
    * with distinct actives per (cohort_week, week_offset) — the retention
    * triangle every product-analytics stack publishes. Two shuffles, both
    * on user_id (the per-user week dedup and the cohort min reuse one
    * hash partitioning; AQE coalesces), then one bounded aggregate over
    * ≤ cohorts×weeks cells. The per-user first-week is a window min, not a
    * driver lookup, so the shape holds at any user count. */
  def retentionCohortsDf(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    weeks
      .withColumn("cohort_week",
        min(col("week")).over(Window.partitionBy("user_id")))
      .withColumn("week_offset", expr("datediff(week, cohort_week) div 7"))
      // ISO-rendered for oracle parity (the eq3 date convention)
      .groupBy(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** eq59 — strictly-ordered conversion funnel view → click → purchase:
    * a user converts a stage only with an event strictly AFTER their
    * earliest qualifying event of the previous stage (min-ts semantics, so
    * the funnel is a pure function of the event set — no row-order
    * sensitivity). Three aggregates and two joins, ALL keyed on user_id:
    * one hash partitioning serves every stage, so at 100 TB this is one
    * shuffle of the events table plus per-partition work. The single
    * output row is assembled from three one-row aggregates (broadcast-able
    * by construction). */
  def eventFunnelDf(events: DataFrame): DataFrame = {
    val viewed = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val clicked = events.filter(col("event_type") === "click")
      .join(viewed, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val purchased = events.filter(col("event_type") === "purchase")
      .join(clicked, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    events.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(viewed.agg(count(lit(1)).as("n_viewed")))
      .crossJoin(clicked.agg(count(lit(1)).as("n_clicked_after_view")))
      .crossJoin(purchased.agg(count(lit(1)).as("n_purchased_after_click")))
  }

  /** eq60 — rolling 7-day active users per day (DAU + trailing WAU): each
    * distinct (user, day) contributes to the 7 trailing windows it falls
    * in, materialized by a bounded `sequence` explode (×7 fan-out — a
    * constant, not a join), then one distinct-count per day. This is the
    * standard distributed formulation of rolling COUNT(DISTINCT), which no
    * window frame computes directly; the fan-out key (day) is
    * low-cardinality but the countDistinct expands per user first
    * (Spark's Expand), so no reducer sees more than a day's users. Days
    * past the observed horizon are clipped with a broadcast 1-row max. */
  def rollingActivesDf(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val horizon = events.agg(to_date(max(col("ts"))).as("max_day"))
    userDays
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("day"),
        explode(expr("sequence(day, least(date_add(day, 6), max_day))")).as("d"))
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("day"))
      .agg(
        countDistinct(when(col("day") === col("d"), col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau_trailing"))
      .orderBy("day")
  }

  /** eq64 — SCD Type-2 dimension build: per-user purchase-value tier
    * tracked as validity intervals, the warehouse pattern for "what was
    * this attribute WHEN the fact happened" (Kimball slowly-changing
    * dimensions). Consecutive identical tiers collapse; each surviving
    * change point opens an interval `[valid_from, valid_to)` whose close
    * is the next change's open (`lead`), the last one flagged current.
    * Ordering is the total (ts, event_id) key, so equal timestamps
    * version deterministically. Both windows partition on user_id — one
    * shuffle, two in-partition sorts; at 100 TB each user's history
    * builds inside its partition and nothing is driver-side. */
  def scd2TiersDf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    events
      .filter(col("event_type") === "purchase")
      .withColumn("tier",
        when(col("value") < 20, "low")
          .when(col("value") < 55, "mid")
          .otherwise("high"))
      .withColumn("prev_tier", lag(col("tier"), 1).over(w))
      .filter(col("prev_tier").isNull || col("tier") =!= col("prev_tier"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
      .select(
        col("user_id"), col("tier"),
        date_format(col("ts"), fmt).as("valid_from"),
        coalesce(date_format(col("valid_to_ts"), fmt), lit("current"))
          .as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  /** eq67 — CDC changelog compaction (last-write-wins with tombstones):
    * signup/purchase upsert a user's profile row, `error` is read as a
    * tombstone; the materialized state is each key's latest change by the
    * total (ts, event_id) order, minus tombstoned keys — the same
    * semantics a streaming MERGE / compacted-topic reader applies. The
    * row_number and the per-key change count ride one user_id window
    * partitioning: one shuffle, no join, works key-parallel at any
    * scale. */
  def cdcCompactDf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val latest = byUser.orderBy(col("ts").desc, col("event_id").desc)
    events
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .withColumn("rn", row_number().over(latest))
      .withColumn("n_changes", count(lit(1)).over(byUser))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(
        col("user_id"),
        col("event_type").as("last_op"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        col("n_changes"))
      .orderBy("user_id")
  }

  /** eq69 — grouping-key skew diagnosis: the pre-flight check before any
    * large shuffle — per-key share of rows (exact integer ppm), the top-10
    * keys' combined share, and Shannon entropy in nats. Entropy uses the
    * eq62 micro-integer convention: each key contributes
    * `floor(cnt · ln(total/cnt) · 1e6)`, an exact BIGINT, so the sum is
    * order-free and both engines agree bit-for-bit; one final division
    * renders nats at 6 dp. One groupBy(key) shuffle; the top-10 is a
    * TakeOrderedAndProject over the ≤|keys| aggregate, and the three
    * 1-row summaries combine by broadcast. */
  def keySkewStatsDf(events: DataFrame): DataFrame = {
    val cnts = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val total = events.agg(count(lit(1)).as("total"))
    val perKey = cnts.crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("cnt * 1000000L div total"))
      .withColumn("e_micro",
        floor(col("cnt") * log(col("total").cast("double") / col("cnt")) * lit(1e6))
          .cast("long"))
    val top10 = perKey
      .orderBy(col("cnt").desc, col("user_id").asc).limit(10)
      .agg(sum(col("cnt")).as("top10_cnt"))
    perKey
      .groupBy()
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("share_ppm")).as("max_share_ppm"),
        sum(col("e_micro")).as("e_sum"))
      .crossJoin(broadcast(top10))
      .crossJoin(broadcast(total))
      .select(
        col("n_keys"), col("n_rows"), col("max_share_ppm"),
        expr("top10_cnt * 1000000L div total").as("top10_share_ppm"),
        round(col("e_sum").cast("double") / (col("total") * lit(1e6)), 6)
          .as("entropy_nats"))
  }

  /** eq70 — recency-weighted engagement scores: per user,
    * Σ value · 1/(1 + age_days) over all events, the harmonic-decay
    * freshness score behind "active and still buying" rankings. The
    * arithmetic is ALL integer: 2-dp values become exact cents, each
    * term is `(cents · 10000) div (1 + age_days)` (operands positive, so
    * trunc ≡ floor in both engines), and the per-user sum of BIGINTs is
    * order-free — one final /1e6 division renders the score. The horizon
    * (max day) is a broadcast 1-row aggregate; the per-user aggregation
    * is the only shuffle. */
  def decayScoresDf(events: DataFrame): DataFrame = {
    val horizon = events.agg(to_date(max(col("ts"))).as("max_day"))
    events
      .crossJoin(broadcast(horizon))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("age_d", datediff(col("max_day"), to_date(col("ts"))))
      .withColumn("term", expr("cents * 10000L div (1 + age_d)"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("term")).cast("double") / lit(1e6), 6).as("decay_score"))
      .orderBy("user_id")
  }

  /** eq73 — behavioral path mining: the top event-type trigrams users
    * actually walk (view>click>purchase, error>view>error, …), the
    * session-path analysis behind UX funnels and bot signatures. The
    * trigram at each position is two `lead`s over the total
    * (ts, event_id) per-user order — NO collect_list, no per-user arrays:
    * the window is one shuffle on user_id, the trigram rows stream out of
    * it, and the global count + top-20 is a TakeOrderedAndProject over a
    * ≤|types|³ aggregate. */
  def sessionPathsDf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("e1", lead(col("event_type"), 1).over(w))
      .withColumn("e2", lead(col("event_type"), 2).over(w))
      .filter(col("e1").isNotNull && col("e2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e1"), col("e2")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_walks"))
      .orderBy(col("n_walks").desc, col("path").asc)
      .limit(20)
  }

  /** eq74 — column profiler: per-column null count, distinct count, and
    * min/max rendered to strings — the schema-health pass an ingest
    * pipeline runs before accepting a new drop. One wide aggregate (the
    * six distincts share one Expand), then a 6-element explode pivots the
    * single row into per-column rows; doubles render via %.6f (exact for
    * the 2-dp fixture values), timestamps via the micro format, so the
    * strings are engine-independent. */
  def profileColumnsDf(events: DataFrame): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    def nulls(c: String) = sum(col(c).isNull.cast("long")).as(s"${c}_nulls")
    // STRING min/max live in their OWN keyless aggregate: a
    // string-buffered min/max is not hash-aggregable, so keeping them in
    // the multi-distinct aggregate forced the WHOLE thing — including the
    // 7× Expand the six distincts produce — through SortAggregate with a
    // full sort of the expanded corpus. Split out, the Expand aggregate
    // goes hash-based (primitive buffers only) and the string pass is one
    // keyless SortAggregate with no sort (global aggregation has no
    // ordering requirement). Same values, same schema: the two 1-row
    // frames recombine by broadcast cross join.
    val aggStr = events.agg(
      min(col("event_type")).as("event_type_min"),
      max(col("event_type")).as("event_type_max"),
      min(col("props")).as("props_min"),
      max(col("props")).as("props_max"))
    val agg = events.agg(
      nulls("event_id"), countDistinct(col("event_id")).as("event_id_d"),
      min(col("event_id")).cast("string").as("event_id_min"),
      max(col("event_id")).cast("string").as("event_id_max"),
      nulls("ts"), countDistinct(col("ts")).as("ts_d"),
      date_format(min(col("ts")), fmt).as("ts_min"),
      date_format(max(col("ts")), fmt).as("ts_max"),
      nulls("user_id"), countDistinct(col("user_id")).as("user_id_d"),
      min(col("user_id")).cast("string").as("user_id_min"),
      max(col("user_id")).cast("string").as("user_id_max"),
      nulls("event_type"), countDistinct(col("event_type")).as("event_type_d"),
      nulls("value"), countDistinct(col("value")).as("value_d"),
      format_string("%.6f", min(col("value"))).as("value_min"),
      format_string("%.6f", max(col("value"))).as("value_max"),
      nulls("props"), countDistinct(col("props")).as("props_d"))
      .crossJoin(broadcast(aggStr))
    def cell(c: String) = struct(
      lit(c).as("col_name"), col(s"${c}_nulls").as("n_null"),
      col(s"${c}_d").as("n_distinct"),
      col(s"${c}_min").as("min_repr"), col(s"${c}_max").as("max_repr"))
    agg
      .select(explode(array(cell("event_id"), cell("ts"), cell("user_id"),
        cell("event_type"), cell("value"), cell("props"))).as("p"))
      .select(col("p.*"))
      .orderBy("col_name")
  }

  /** eq80 — Markov transition matrix over user walks: P(next event type |
    * current), in exact integer ppm — the behavioral model behind anomaly
    * scoring and synthetic-session generation, and the 2-gram closure of
    * eq73's path mining. One lead over the per-user (ts, event_id) total
    * order → bigram counts → per-row ppm against a window total over the
    * ≤|types|² aggregate; every number is an integer ratio of two exact
    * counts, so the matrix is engine-independent. One shuffle on user_id
    * (the window), one on the bigram key. */
  def transitionMatrixDf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_ppm",
        expr("n_trans * 1000000L div sum(n_trans) OVER (PARTITION BY from_type)"))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** eq81 — rolling z-score anomaly detection over inter-event gaps: each
    * gap is scored against the mean/std of the user's previous 10 gaps
    * (`rowsBetween(-10, -1)` — the trailing frame never sees the scored
    * value), flagged when |gap − μ| > 3σ with ≥ 5 history rows — the
    * online "did this user suddenly change rhythm" detector. Gaps are
    * exact integer seconds, the rolling Σ and Σ² are exact BIGINTs, and
    * z is ONE fixed-shape double expression over them — identical in
    * both engines (the eq53/eq57 moment discipline); a ~0-variance
    * history is guarded (σ² ≤ 0 ⇒ unscored) so FP cancellation can't
    * produce NaNs. One shuffle on user_id; the gap lag, the rolling
    * frame, and the final per-user rollup all share it. */
  def gapAnomaliesDf(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trail = order.rowsBetween(-10, -1)
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_s",
        expr("(unix_micros(ts) - unix_micros(lag(ts, 1) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id))) div 1000000"))
      .filter(col("gap_s").isNotNull)
      .withColumn("h_n", count(col("gap_s")).over(trail))
      .withColumn("h_sum", sum(col("gap_s")).over(trail))
      .withColumn("h_sumsq", sum(col("gap_s") * col("gap_s")).over(trail))
      .filter(col("h_n") >= 5)
      .withColumn("z", expr(
        """CASE WHEN (CAST(h_sumsq AS DOUBLE) - CAST(h_sum AS DOUBLE) * CAST(h_sum AS DOUBLE) / CAST(h_n AS DOUBLE)) / CAST(h_n AS DOUBLE) > 0D
          |THEN (CAST(gap_s AS DOUBLE) - CAST(h_sum AS DOUBLE) / CAST(h_n AS DOUBLE))
          |     / sqrt((CAST(h_sumsq AS DOUBLE) - CAST(h_sum AS DOUBLE) * CAST(h_sum AS DOUBLE) / CAST(h_n AS DOUBLE)) / CAST(h_n AS DOUBLE))
          |ELSE NULL END""".stripMargin))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_scored"),
        // CASE-shaped so an all-unscored (zero-variance) user reports 0
        // anomalies, not NULL — the exact shape the oracle runs
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_anomalies"),
        round(max(col("z")), 6).as("max_z"))
      .orderBy("user_id")
  }

  /** eq82 — purchase co-occurrence mining ("users who bought X also
    * bought Y"): distinct (user, item) pairs from the purchase stream's
    * JSON payload, self-joined per user into unordered item pairs,
    * counted across users — the item-item collaborative-filtering
    * matrix. The pair fan-out is Σᵤ C(|items_u|, 2) — never corpus², but
    * unbounded in the heavy-user tail: one bot account with a 10k-item
    * basket emits ~50M pairs on a single join key. So baskets are CAPPED
    * at the [[CoPurchaseBasketCap]] most-RECENT items per user (standard
    * CF practice — stale purchases carry little signal anyway), making
    * the worst key C(256,2) ≈ 32k pairs. The cap is part of the query
    * contract and mirrored in the oracle SQL. Top-20 cells via
    * TakeOrderedAndProject. */
  private[graft] val CoPurchaseBasketCap = 256

  def coPurchasesDf(events: DataFrame): DataFrame = {
    val items = basketItemsDf(events)
    val a = items.select(col("user_id"), col("item").as("item_a"))
    val b = items.select(col("user_id"), col("item").as("item_b"))
    a.join(b, Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)
  }

  /** The capped per-user basket item set shared by eq82 and eq102:
    * distinct (user, item) purchases, each user's basket bounded to the
    * [[CoPurchaseBasketCap]] most recent items (the skew cap). */
  private def basketItemsDf(events: DataFrame): DataFrame = {
    val byRecency = Window.partitionBy("user_id")
      .orderBy(col("last_ts").desc, col("item").asc)
    events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        // try_cast, not cast: malformed props must not kill the job
        expr("try_cast(get_json_object(props, '$.k') AS bigint)").as("item"),
        col("ts"))
      .filter(col("item").isNotNull)
      .groupBy("user_id", "item")
      .agg(max(col("ts")).as("last_ts"))
      .withColumn("rn", row_number().over(byRecency))
      .filter(col("rn") <= CoPurchaseBasketCap)
      .select("user_id", "item")
  }

  /** eq102 — co-purchase LIFT: association strength
    * P(a,b) / (P(a)·P(b)) for the item pairs, the market-basket metric
    * that separates "popular with everything" from genuinely associated
    * items (raw pair counts — eq82 — rank ubiquitous items first even
    * when independent). All counts are exact integers over the SAME
    * capped baskets as eq82; lift is one double division of exact BIGINT
    * products per surviving pair, rounded BEFORE the top-20 cut. Adds
    * two item-keyed marginal joins and a 1-row total broadcast to eq82's
    * bounded pair fan-out. */
  def pairLiftDf(events: DataFrame): DataFrame = {
    // materialized once: marginals, total and both pair sides consume it
    val items = basketItemsDf(events).localCheckpoint()
    val total = items.select("user_id").distinct()
      .agg(count(lit(1)).as("n_total"))
    val marg = items.groupBy("item").agg(count(lit(1)).as("n_item"))
    val a = items.select(col("user_id"), col("item").as("item_a"))
    val b = items.select(col("user_id"), col("item").as("item_b"))
    a.join(b, Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_pairs"))
      .join(marg.select(col("item").as("item_a"), col("n_item").as("n_a")), Seq("item_a"))
      .join(marg.select(col("item").as("item_b"), col("n_item").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        round((col("n_pairs") * col("n_total")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 6))
      .select(col("item_a"), col("item_b"), col("n_pairs"),
        col("n_a"), col("n_b"), col("lift"))
      .orderBy(col("lift").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)
  }

  /** eq85 — temporal activity profile: the (day-of-week × hour) load
    * matrix with each cell's share of traffic in exact integer ppm and
    * its deviation from the uniform cell — capacity planning's first
    * chart and the seasonality feature behind anomaly baselines. Pure
    * single-shuffle aggregation; shares are integer ratios of two exact
    * counts (168 cells regardless of scale). `dayofweek` is rendered as
    * the ISO day name so the contract doesn't depend on engine weekday
    * numbering conventions. */
  def activityProfileDf(events: DataFrame): DataFrame = {
    val total = events.agg(count(lit(1)).as("total"))
    events
      .groupBy(
        date_format(col("ts"), "EEEE").as("dow"),
        hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(total))
      .select(
        col("dow"), col("hour_of_day"), col("n_events"),
        expr("n_events * 1000000L div total").as("share_ppm"),
        expr("n_events * 1000000L div total - 1000000 div 168").as("dev_ppm"))
      .orderBy("dow", "hour_of_day")
  }

  /** x14 — sampled join-cardinality estimation: the optimizer-statistics
    * pass that predicts |A ⋈ B| before paying for the shuffle — here the
    * self-join size Σ cnt(k)² on user_id, estimated from a deterministic
    * 1-in-2 KEY sample (28-bit md5 of the key, the eq27/eq31 sampling
    * convention) and scaled back up. Key-sampling (not row-sampling) is
    * what makes Σ cnt² estimable — a row sample would bias cnt²
    * quadratically. Because the sample is content-keyed, the estimate is
    * bit-reproducible: the oracle recomputes BOTH numbers exactly, and
    * the ±50% flag is derived, not pinned. One shuffle (the per-key
    * count); the sample filter is map-side on the ≤|keys| frame. */
  def joinSizeEstimateDf(events: DataFrame): DataFrame = {
    import graft.functions.Md5Expressions.md5_key28
    val cnts = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // exact and sampled sums both read it
    val exact = cnts.agg(sum(col("cnt") * col("cnt")).as("exact_pairs"))
    val est = cnts
      .filter(md5_key28(col("user_id").cast("string")) % 2 === 0)
      .agg((coalesce(sum(col("cnt") * col("cnt")), lit(0L)) * 2).as("est_pairs"))
    exact.crossJoin(est)
      .select(
        col("exact_pairs"), col("est_pairs"),
        (abs(col("est_pairs") - col("exact_pairs")).cast("double")
          / col("exact_pairs") <= 0.5).as("within_50pct"))
  }

  /** x13 — per-group HLL distinct-user sketch: `approx_count_distinct`
    * (HyperLogLog++, rsd 2%) per event_type beside the exact count, with
    * the x6-convention boolean the oracle pins TRUE (|approx−exact| ≤ 5%
    * of exact — 2.5σ of the configured rsd). The sketch is the mergeable
    * fixed-memory path a 100 TB pipeline uses for per-slice cardinality
    * dashboards where the exact Expand-based count would shuffle every
    * (slice, user) pair; here both run so the sketch is verifiable. */
  def approxUsersPerTypeDf(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("au"))
      .select(
        col("event_type"), col("exact_users"),
        when(col("exact_users") === 0, col("au") === 0)
          .otherwise(abs(col("au") - col("exact_users")).cast("double")
            / col("exact_users") <= 0.05).as("approx_users_ok"))
      .orderBy("event_type")

  /** x20 — MERGEABLE-sketch distinct counting (Apache DataSketches HLL via
    * `hll_sketch_agg`/`hll_union_agg`): per-event-type sketches are built
    * in one map-side pass, then the global cardinality is a UNION OF THE
    * SKETCH BUFFERS — no re-scan. This is the cube/dashboard contract at
    * 100 TB: per-slice sketches persist once (~KB each, fixed memory) and
    * any rollup — day→month, slice→all — is a cheap buffer merge, which a
    * plain `approx_count_distinct` result (a number, not a sketch) cannot
    * do. Output: one row per type plus the merged ALL row; exact distincts
    * hash-compared, estimates surfaced as the pinned ≤5% flags (x6/x13
    * convention — the merged flag also proves union correctness, since a
    * wrong merge would blow the bound). */
  def hllMergeUsersDf(events: DataFrame): DataFrame = {
    // materialized once: the per-type rows and the ALL-row union both
    // consume the 5-row sketch frame
    val per = events.groupBy("event_type")
      .agg(
        hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
      .localCheckpoint()
    val perRows = per.select(col("event_type"), col("exact_users"),
      hll_sketch_estimate(col("sk")).as("est"))
    val allRow = per.agg(hll_union_agg(col("sk")).as("g"))
      .crossJoin(broadcast(
        events.agg(countDistinct(col("user_id")).as("exact_users"))))
      .select(lit("ALL").as("event_type"), col("exact_users"),
        hll_sketch_estimate(col("g")).as("est"))
    perRows.unionAll(allRow)
      .select(col("event_type"), col("exact_users"),
        when(col("exact_users") === 0, col("est") === 0)
          .otherwise(abs(col("est") - col("exact_users")).cast("double")
            / col("exact_users") <= 0.05).as("approx_ok"))
      .orderBy("event_type")
  }

  /** x16 — HLL column profiler, the 100 TB default beside [[profileColumnsDf]]:
    * per-column null counts and distinct cardinalities where the distincts
    * are HyperLogLog++ sketches (rsd 2%). The exact profiler's six
    * `countDistinct` plan ONE Expand that multiplies the scan ×7 before the
    * shuffle; the sketch profiler's aggregate carries six fixed-size HLL
    * buffers in a single un-expanded pass — O(1) memory per column at any
    * corpus size. Oracle shape follows the x13 convention: the exact
    * distincts are hash-compared (both run here so the sketch is
    * verifiable), and the sketch surfaces as the |approx−exact| ≤ 5%
    * boolean the oracle pins TRUE. Production drops the exact columns and
    * with them the Expand. */
  def profileColumnsApproxDf(events: DataFrame): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // TWO aggregation passes, deliberately: the sketch+null pass is one
    // clean un-expanded scan (what production runs alone); the exact
    // distincts — verification-only — go in a SEPARATE agg so their
    // distinct-rewrite Expand cannot multiply the HLL pass's input (mixed
    // into one agg, the 6 HLL buffers each update on the ×7-expanded
    // stream: measured 12.5 s vs ~3 s split at sf0.1). The two 1-row
    // results meet in a broadcast cross join.
    val sketchAggs = cols.flatMap { c =>
      Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
        approx_count_distinct(col(c), 0.02).as(s"${c}_a"))
    }
    val exactAggs = cols.map(c => countDistinct(col(c)).as(s"${c}_d"))
    def cell(c: String) = struct(
      lit(c).as("col_name"),
      col(s"${c}_nulls").as("n_null"),
      col(s"${c}_d").as("n_distinct"),
      when(col(s"${c}_d") === 0, col(s"${c}_a") === 0)
        .otherwise(abs(col(s"${c}_a") - col(s"${c}_d")).cast("double")
          / col(s"${c}_d") <= 0.05).as("approx_ok"))
    events.agg(sketchAggs.head, sketchAggs.tail: _*)
      .crossJoin(broadcast(events.agg(exactAggs.head, exactAggs.tail: _*)))
      .select(explode(array(cols.map(cell): _*)).as("p"))
      .select(col("p.*"))
      .orderBy("col_name")
  }

  private[graft] val AsofStateTs = "2024-01-15 00:00:00"

  /** eq96 — point-in-time ("time travel") state reconstruction, two ways,
    * with a consistency audit: the as-of question every warehouse answers
    * when reproducing a historical report or debugging a training-data
    * snapshot. Path A replays the raw change log (last purchase ≤ T per
    * user, (ts, event_id) total order). Path B looks T up in the eq64
    * SCD-2 dimension (the interval with valid_from ≤ T < valid_to, open
    * current rows included) — the dimension is built over FULL history
    * first, exactly like a production dim table, then probed at the
    * literal. The two tiers agree by construction; `agree` is the pinned
    * audit column (and the whole frame is hash-checked, so a divergence
    * between the replay and the interval build is a round-failing event).
    *
    * Scale: both paths are one user_id window each; the probe is a
    * map-side filter on the interval frame, no extra shuffle. T is the
    * literal mid-corpus timestamp (no now()), per the §2.9 as-of rule. */
  def asofStateAuditDf(events: DataFrame): DataFrame = {
    val t = to_timestamp(lit(AsofStateTs))
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val p = events
      .filter(col("event_type") === "purchase")
      .withColumn("tier",
        when(col("value") < 20, "low")
          .when(col("value") < 55, "mid")
          .otherwise("high"))
    // path A: direct replay of the log cut at T
    val wDesc = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val replay = p.filter(col("ts") <= t)
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("tier").as("tier_replay"))
    // path B: the SCD-2 dimension (eq64's collapse/close rules over full
    // history) probed with the interval-containment predicate at T
    val wAsc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lookup = p
      .withColumn("prev_tier", lag(col("tier"), 1).over(wAsc))
      .filter(col("prev_tier").isNull || col("tier") =!= col("prev_tier"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(wAsc))
      .filter(col("ts") <= t &&
        (col("valid_to_ts").isNull || col("valid_to_ts") > t))
      .select(col("user_id"), col("tier").as("tier_scd2"),
        date_format(col("ts"), fmt).as("valid_from"))
    replay.join(lookup, Seq("user_id"))
      .withColumn("agree", col("tier_replay") === col("tier_scd2"))
      .orderBy("user_id")
  }

  private val PoissonCdfMicros = Seq(367879L, 735759L, 919699L, 981012L, 996340L)

  /** eq94 — Poisson-bootstrap confidence interval for the mean event
    * value: the distributed bootstrap (each row enters replica b with
    * multiplicity ~ Poisson(1), the standard approximation to
    * sample-with-replacement that needs no global N and no shuffle of the
    * resample itself). Multiplicities are DERANDOMIZED: u =
    * md5_key28(event_id:b) % 10⁶ inverted through the Poisson(1) CDF
    * quantized to micros (367879 | 735759 | 919699 | 981012 | 996340),
    * so both engines draw the identical 32 resamples and the CI is
    * hash-checkable. Replica sums are exact integer cents; the CI is the
    * exact p05/p95 of the 32 six-dp replica means (percentile ≡
    * quantile_cont, the x8-proven pairing).
    *
    * Scale shape: one ×32 map-side explode (bounded fan-out), one
    * 32-group aggregation, one 32-row final percentile — corpus-linear
    * with no skew exposure. */
  def bootstrapCiDf(events: DataFrame): DataFrame = {
    val reps = events
      .select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("u", graft.functions.Md5Expressions.md5_key28(
        concat(col("event_id").cast("string"), lit(":"), col("b").cast("string")))
        % 1000000L)
      .withColumn("w",
        PoissonCdfMicros.zipWithIndex.foldRight(lit(5): org.apache.spark.sql.Column) {
          case ((thr, i), rest) => when(col("u") < thr, i).otherwise(rest)
        }.cast("long"))
      .groupBy("b")
      .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
      .withColumn("mean_cents",
        round(col("swc").cast("double") / col("sw"), 6))
    reps.agg(
      count(lit(1)).as("n_replicas"),
      round(expr("percentile(mean_cents, 0.05)"), 6).as("ci_lo_cents"),
      round(expr("percentile(mean_cents, 0.95)"), 6).as("ci_hi_cents"))
  }

  /** eq100 — exponential smoothing (EWMA, α = ½) of the daily revenue
    * series per event type, plus the one-step-ahead forecast (= the
    * final level): the standard load/volume trending signal. α = ½ makes
    * the recursion s_t = (x_t + s_{t-1})/2 EXACT in integers: the closed
    * form is s_n·2ⁿ⁻¹ = x_1 + Σ_{i≥2} x_i·2ⁱ⁻², so the level is one
    * BIGINT dot product with power-of-two weights (shiftleft — no
    * floating-point pow) and ONE final double division. At this corpus
    * (30 days, ~10⁶-cent daily totals) the scaled sum stays ≈ 10¹⁴ —
    * inside both BIGINT and double-exact range; a longer series would
    * renormalize per window (documented bound, asserted by test).
    *
    * One (type, day) roll-up shuffle, one type-partitioned index window,
    * one 5-row final aggregate. */
  def ewmaDailyDf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("i", row_number().over(byDay))
      .withColumn("w", expr("CASE WHEN i = 1 THEN 1L ELSE shiftleft(1L, cast(i - 2 AS INT)) END"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        date_format(max(col("day")), "yyyy-MM-dd").as("last_day"),
        sum(col("w") * col("cents")).as("s_scaled"),
        max(when(col("i") === 1, col("cents"))).as("first_cents"))
      .withColumn("ewma_cents",
        round(col("s_scaled").cast("double")
          / expr("shiftleft(1L, cast(n_days - 1 AS INT))").cast("double"), 6))
      .select(col("event_type"), col("n_days"), col("last_day"),
        col("ewma_cents"), col("ewma_cents").as("forecast_cents"))
      .orderBy("event_type")
  }


  private val JoinSaltBuckets = 8

  /** x25 — SALTED JOIN: the join-side twin of x7's salted aggregation,
    * for the case where the hot key sits on the probe side of a
    * fact ⋈ dim join (one power user's events all land on one reducer of
    * a shuffled hash join). The dimension (per-user profile) is
    * replicated ×[[JoinSaltBuckets]] with a salt column; each fact row
    * draws a deterministic salt from its event_id and joins on
    * (user_id, salt) — every hot user's rows now spread over
    * [[JoinSaltBuckets]] reducers. Semantics are THE PLAIN JOIN's:
    * results roll up to per-type totals in exact integer cents, and the
    * oracle runs the unsalted join — bit-equality IS the correctness
    * statement (the x7 convention). At broadcast-able dim sizes Spark
    * would broadcast and salting is moot; this pattern is for the
    * dim-too-big, key-skewed regime. */
  def saltedJoinTotalsDf(events: DataFrame): DataFrame = {
    val dim = events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("hist_events"),
        sum(round(col("value") * 100).cast("long")).as("hist_value_cents"))
    val dimSalted = dim.crossJoin(
      events.sparkSession.range(JoinSaltBuckets).select(col("id").cast("int").as("salt")))
    events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("salt", pmod(hash(col("event_id")), lit(JoinSaltBuckets)))
      .join(dimSalted, Seq("user_id", "salt"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("hist_events")).as("partner_events"),
        sum(col("hist_value_cents")).as("partner_value_cents"))
      .orderBy("event_type")
  }

  /** eq110 — leakage-safe training-set assembly: per-user features from
    * STRICTLY before the as-of cut (2024-01-29) and a binary label
    * (purchased on/after it) in one conditional-aggregation pass. The
    * leakage guarantee is structural, not procedural: every feature
    * aggregate carries the `ts < cut` predicate inside the agg expression
    * and the label carries `ts >= cut`, so no code path can mix windows —
    * the point-in-time discipline eq96 audits, applied at dataset-build
    * time. Population = users with ≥ 1 feature-window event (a user with
    * only label-window activity has no features to train on). ONE scan,
    * ONE shuffle on user_id — the naive build (feature frame ⋈ label
    * frame) scans the fact twice and shuffles twice for the same result.
    * Value mass in exact integer cents (the x7 convention). */
  private val TrainCut = "2024-01-29 00:00:00"

  def trainAssemblyDf(events: DataFrame): DataFrame = {
    val cut = to_timestamp(lit(TrainCut))
    val inF = col("ts") < cut
    events.groupBy("user_id")
      .agg(
        sum(inF.cast("long")).as("n_events"),
        sum((inF && col("event_type") === "purchase").cast("long")).as("n_purchases"),
        coalesce(sum(when(inF, round(col("value") * 100).cast("long"))), lit(0L))
          .as("value_cents"),
        countDistinct(when(inF, to_date(col("ts")))).as("n_active_days"),
        max((!inF && col("event_type") === "purchase").cast("int")).as("label"))
      .filter(col("n_events") > 0)
      .orderBy("user_id")
  }

  /** eq103 — declarative data-quality gates: the expectations battery a
    * pipeline runs against a landing table before letting it feed
    * anything downstream (the data-contract pattern). Each gate is one
    * exact violation count over a single shared scan — non-null keys,
    * domain membership, value range, timestamp window, key uniqueness —
    * plus a PASS verdict per gate and the row count it was judged
    * against. One aggregate pass (the uniqueness gate adds the one
    * count-distinct it needs), output fixed at one row per gate
    * regardless of corpus size. Uniqueness is judged over NON-NULL keys
    * (count(key) − countDistinct(key)) so a null id is one not-null
    * violation, not a not-null violation plus a phantom duplicate. */
  def qualityGatesDf(events: DataFrame): DataFrame = {
    val agg = events.agg(
      count(lit(1)).as("n_rows"),
      sum(col("event_id").isNull.cast("long")).as("v_id_null"),
      sum(col("user_id").isNull.cast("long")).as("v_user_null"),
      sum((!col("event_type").isin("view", "click", "purchase", "signup", "error"))
        .cast("long")).as("v_type_domain"),
      sum((col("value").isNull || col("value") < 0.0 || col("value") > 10000.0)
        .cast("long")).as("v_value_range"),
      sum((col("ts") < to_timestamp(lit("2024-01-01 00:00:00")) ||
        col("ts") >= to_timestamp(lit("2024-02-01 00:00:00"))).cast("long"))
        .as("v_ts_window"),
      (count(col("event_id")) - countDistinct(col("event_id"))).as("v_id_dup"))
    def gate(name: String, c: String) = struct(
      lit(name).as("gate"),
      col(c).as("n_violations"),
      (col(c) === 0).as("pass"))
    agg.select(col("n_rows"), explode(array(
        gate("event_id_not_null", "v_id_null"),
        gate("event_id_unique", "v_id_dup"),
        gate("event_type_in_domain", "v_type_domain"),
        gate("ts_in_window", "v_ts_window"),
        gate("user_id_not_null", "v_user_null"),
        gate("value_in_range", "v_value_range"))).as("g"))
      .select(col("g.gate").as("gate"), col("n_rows"),
        col("g.n_violations").as("n_violations"), col("g.pass").as("pass"))
      .orderBy("gate")
  }

  /** eq115 — Pareto frontier (2-D skyline): the users no other user
    * strictly dominates on (total spend ↑, event count ↓) — "most value
    * for the fewest interactions". The naive skyline is an all-pairs
    * NOT-EXISTS (the oracle's INDEPENDENT formulation, O(n²)); the engine
    * computes the same set distributed: per-user integer-cents totals
    * (one shuffle), fixed-width 256-bucket partitioning on the spend
    * axis via a broadcast bounds row, a ≤256-row bucket-metadata frame
    * whose strictly-higher-bucket suffix-min prunes every user a higher
    * spend bucket dominates (safe by dominance transitivity: if a pruned
    * same-bucket point dominated a survivor, its own dominator — in a
    * strictly higher bucket — would have pruned that survivor too), and
    * an exact within-bucket sweep (range-frame running min over the few
    * survivors). The only global structure is the bucket suffix-min —
    * zone-map-sized metadata, not data — so no global sort touches the
    * per-user frame. Duplicate (spend, count) points are mutually
    * non-dominating and all surface, matching the oracle's strict
    * dominance. */
  def paretoFrontierDf(events: DataFrame): DataFrame = {
    val u = events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(sum("cents").as("cents"), count(lit(1)).as("n"))
    val bounds = u.agg(min("cents").as("cmin"), max("cents").as("cmax"))
    val b = u.crossJoin(broadcast(bounds))
      .withColumn("cbkt", expr("(cents - cmin) * 256L div (cmax - cmin + 1)"))
      .drop("cmin", "cmax")
    // bucket metadata: min event count per spend bucket, then the
    // strictly-higher-bucket suffix min (≤256 rows, single-partition
    // window over metadata only)
    val bstats = b.groupBy("cbkt").agg(min("n").as("bmin"))
    val thr = bstats
      .withColumn("thr", min("bmin").over(
        Window.orderBy(col("cbkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("cbkt", "thr")
    val cand = b.join(broadcast(thr), Seq("cbkt"))
      .filter(col("thr").isNull || col("n") < col("thr"))
    // exact within-bucket skyline over the survivors: same-cents group
    // keeps only its min-count rows; the range frame sees strictly
    // higher cents inside the bucket
    val wSame = Window.partitionBy("cbkt", "cents")
    val wHigher = Window.partitionBy("cbkt").orderBy(col("cents").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    cand
      .withColumn("minn_same", min("n").over(wSame))
      .withColumn("minn_hi", min("n").over(wHigher))
      .filter(col("n") === col("minn_same") &&
        (col("minn_hi").isNull || col("minn_hi") > col("n")))
      .select(col("user_id"),
        round(col("cents").cast("double") / 100.0, 2).as("total_value"),
        col("n").as("n_events"))
      .orderBy(col("total_value").desc, col("user_id"))
  }

  /** eq117 — CUPED-adjusted experiment readout: the variance-reduced A/B
    * metric (Deng et al.'s pre-period covariate adjustment) every
    * experimentation platform reports. Variant assignment is a pure
    * function of the unit id (the eq27 28-bit md5 key, mod 2) so both
    * engines agree without a stored assignment table. Per-user pre-
    * (day ≤ 15) and post-period spend are exact integer cents from ONE
    * conditional-aggregation pass; θ = cov(x,y)/var(x) comes from pooled
    * BIGINT moment sums (order-free), and the adjusted means are three
    * mirrored double ops over a 2-row variant frame joined to the
    * broadcast 1-row pooled moments. Moment magnitudes: |xy| ≤ (per-user
    * cents)² ≈ 10⁸ summed over users — the production variant at 10⁹
    * users shifts the moments to DecimalType(38,0), same plan shape. */
  def cupedReadoutDf(events: DataFrame): DataFrame = {
    val perUser = events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15, col("cents")).otherwise(0L)).as("x"),
        sum(when(dayofmonth(col("ts")) > 15, col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant",
        graft.functions.Md5Expressions.md5_key28(col("user_id").cast("string")) % 2)
    val pooled = perUser.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val theta = when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(0.0))
      .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")))
    perUser.groupBy("variant")
      .agg(count(lit(1)).as("nv"), sum("x").as("svx"), sum("y").as("svy"))
      .crossJoin(broadcast(pooled))
      .select(
        col("variant"), col("nv").as("n_users"),
        round(col("svx").cast("double") / col("nv") / 100, 6).as("pre_mean"),
        round(col("svy").cast("double") / col("nv") / 100, 6).as("post_mean"),
        round((col("svy").cast("double") / col("nv") - theta *
          (col("svx").cast("double") / col("nv") -
            col("sx").cast("double") / col("n"))) / 100, 6).as("adj_mean"),
        round(theta, 6).as("theta"))
      .orderBy("variant")
  }

  /** eq118 — Benford first-digit audit: the classic anomaly screen for
    * fabricated or re-keyed monetary data — compare the first significant
    * digit's distribution against Benford's log₁₀(1+1/d) expectation.
    * The first digit is taken from the DECIMAL STRING of the exact
    * integer cents (no floating log on the hot path — `log10(1000)`
    * rounding at bucket boundaries is exactly the bug class this dodges);
    * one groupBy(digit) over the scan is the only shuffle, and the 9-row
    * digit spine left-joins the observed counts so missing digits report
    * zero instead of vanishing. Shares are integer PPM (`n·10⁶ div
    * total`); the Benford expectation — the audit's only floating point —
    * is floored to PPM in the same shape as the oracle. */
  def benfordAuditDf(events: DataFrame): DataFrame = {
    val obs = events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .filter(col("cents") > 0)
      .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("long"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_obs"))
    val total = obs.agg(sum("n_obs").as("total"))
    val spine = events.sparkSession.range(1, 10).toDF("digit")
    spine
      .join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(total))
      .select(
        col("digit"), col("n_obs"),
        expr("n_obs * 1000000L div total").as("obs_ppm"),
        floor(log10((col("digit") + 1).cast("double") / col("digit")) * 1000000)
          .cast("long").as("exp_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .orderBy("digit")
  }

  /** eq114 — Z-order layout audit: quantifies what multi-column
    * clustering buys data skipping. Both query dimensions (user, day) are
    * scaled to 8-bit buckets with integer arithmetic (operands
    * non-negative, so trunc-div ≡ floor-div in both engines), their bits
    * interleaved into a 16-bit Z-value, and rows assigned to 64 "files"
    * two ways: by the Z-value's top 6 bits (the Z-order layout) and by
    * arrival order (event_id rank, the naive layout). Per layout the
    * per-file zone maps (min/max of each dimension — exactly the parquet
    * row-group stats a reader prunes on) are aggregated, and a
    * deterministic probe panel (every 97th event's coordinates) counts
    * how many files a point lookup must open under each layout. Every
    * step is embarrassingly parallel — fixed-width bucketing needs only a
    * broadcast 1-row bounds aggregate, file assignment is a pure
    * projection (no global sort), and the probe⋈zone-map containment
    * join broadcasts the ≤128 zone rows. At 100 TB this IS the layout
    * decision loop: write with `repartitionByRange(zval)` +
    * `sortWithinPartitions`, and this audit prices the rewrite before
    * paying for it. */
  def zorderLayoutDf(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_id"),
      col("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
    val bounds = base.agg(
      min("user_id").as("umin"), max("user_id").as("umax"),
      min("day").as("dmin"), max("day").as("dmax"),
      min("event_id").as("emin"), max("event_id").as("emax"))
    val zExpr = (0 until 8).map(i =>
      s"shiftleft(shiftright(ubkt, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright(dbkt, $i) & 1, ${2 * i})").mkString(" + ")
    val z = base.crossJoin(broadcast(bounds))
      .select(
        col("event_id"),
        expr("(user_id - umin) * 256L div (umax - umin + 1)").as("ubkt"),
        expr("(day - dmin) * 256L div (dmax - dmin + 1)").as("dbkt"),
        expr("(event_id - emin) * 65536L div (emax - emin + 1)").as("ebkt"))
      .withColumn("zval", expr(zExpr))
    val layouts = z
      .select(lit("zorder").as("layout"), expr("shiftright(zval, 10)").as("file_id"),
        col("ubkt"), col("dbkt"), col("event_id"))
      .unionByName(z.select(lit("linear").as("layout"),
        expr("shiftright(ebkt, 10)").as("file_id"),
        col("ubkt"), col("dbkt"), col("event_id")))
    val zones = layouts.groupBy("layout", "file_id").agg(
      min("ubkt").as("fumin"), max("ubkt").as("fumax"),
      min("dbkt").as("fdmin"), max("dbkt").as("fdmax"),
      count(lit(1)).as("n"))
    val probes = z.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("pid"), col("ubkt").as("pu"), col("dbkt").as("pd"))
    val hits = probes
      .join(broadcast(zones),
        col("pu").between(col("fumin"), col("fumax")) &&
          col("pd").between(col("fdmin"), col("fdmax")))
      .groupBy("layout", "pid")
      .agg(count(lit(1)).as("files_hit"))
    val fileStats = zones.groupBy("layout").agg(
      count(lit(1)).as("n_files"),
      sum("n").as("n_rows"),
      max("n").as("max_file_rows"),
      round(avg(col("fumax") - col("fumin")), 6).as("avg_u_span"),
      round(avg(col("fdmax") - col("fdmin")), 6).as("avg_d_span"))
    hits.groupBy("layout")
      .agg(count(lit(1)).as("n_probes"),
        round(avg("files_hit"), 6).as("avg_files_hit"))
      .join(fileStats, Seq("layout"))
      .select(col("layout"), col("n_files"), col("n_rows"), col("max_file_rows"),
        col("avg_u_span"), col("avg_d_span"), col("n_probes"), col("avg_files_hit"))
      .orderBy("layout")
  }
}
