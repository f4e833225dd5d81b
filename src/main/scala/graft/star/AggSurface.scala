package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Aggregation surface beyond the reference's GROUP BY: rollup subtotals,
  * pivot, and exact interpolated percentiles. All oracle-checked — the
  * subtotal NULLs are rendered as 'ALL' so the hash compare is unambiguous,
  * and percentiles use the exact linear-interpolation definition shared by
  * Spark's `percentile` and DuckDB's `quantile_cont`. */
object AggSurface {

  /** eq20 — ROLLUP over (region, nation): per-nation rows, per-region
    * subtotals, grand total. Pre-aggregated: the fact rows collapse to one
    * row per (region, nation) FIRST, and the rollup's Expand runs over
    * those ~25 partials instead of tripling the joined fact (counts and
    * integer-cent sums re-aggregate exactly) — measured 5.8 s → star-join
    * cost only at sf0.1. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    StarQueries.starJoin(spark, dir)
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("pn"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("pc"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        sum(col("pn")).as("n_items"),
        sum(col("pc")).as("revenue_cents"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("n_items"), col("revenue_cents"))
      .orderBy("r_name", "n_name")
  }

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** eq21 — pivot: daily event counts, one column per event type (explicit
    * value list for a stable schema — at scale an unbounded pivot would
    * need a distinct-values pass first). */
  def dailyEventPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy("day")

  /** eq24 — 7-day moving average of daily event volume: an analytic window
    * FRAME (`rowsBetween(-6, 0)`) over the day-ordered aggregate — the
    * window-function surface beyond ranking/cumulative. The frame runs
    * over ~30 daily rows post-aggregation, so the window stage is trivial
    * at any fact scale. */
  def dailyMovingAverage(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
    // partitionBy(lit(1)): the frame is inherently global (one ~30-row
    // day-ordered series post-aggregation — bounded at any fact scale), but
    // an empty partitionSpec makes WindowExec log a single-partition warning
    // per run; the constant key is the same single partition, silently.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("ma7", round(avg(col("n_events")).over(w), 6))
      .withColumn("peak7", max(col("n_events")).over(w))
      .orderBy("day")
  }

  /** eq25 — scalar-subquery shape through the SQL surface (S5): suppliers
    * whose shipped quantity exceeds the all-supplier average. Runs via
    * `spark.sql` over the registered views — Catalyst plans the subquery as
    * a broadcast scalar. */
  def aboveAvgSuppliers(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    spark.sql(
      """WITH per_supp AS (
        |  SELECT l_suppkey, SUM(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey AS s_suppkey, ROUND(total_qty, 6) AS total_qty
        |FROM per_supp
        |WHERE total_qty > (SELECT AVG(total_qty) FROM per_supp)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** x8 — approximate percentiles (`percentile_approx`, the mergeable
    * Greenwald-Khanna sketch for 100 TB-cardinality distributions).
    *
    * Driver-checkable shape: exact p50/p90 (interpolated `percentile`,
    * ≡ DuckDB `quantile_cont`) are oracle-verified values, and the sketch
    * output is emitted as in-bounds booleans the oracle pins to TRUE.
    *
    * The bound is the sketch's own RANK guarantee, checked on ranks:
    * accuracy = 1000 ⇒ the returned element's rank interval
    * (#{v < approx}, #{v ≤ approx}] must intersect [(q−ε)·n, (q+ε)·n]
    * with ε = 0.005 (5× the 1/1000 guarantee). A value-interval check
    * against interpolated percentiles would be unsound for small groups,
    * where percentile_cont can land strictly between two data elements and
    * exclude every value the sketch is allowed to return. The rank check
    * costs one extra conditional-aggregation pass over the group, joined
    * against the broadcast per-group sketch row. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val sketch = events
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5D)"), 6).as("p50_exact"),
        round(expr("percentile(value, 0.9D)"), 6).as("p90_exact"),
        expr("percentile_approx(value, 0.5D, 1000)").as("p50a"),
        expr("percentile_approx(value, 0.9D, 1000)").as("p90a"))
    val eps = 0.005
    events
      .join(broadcast(sketch), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        first(col("p50_exact")).as("p50_exact"),
        first(col("p90_exact")).as("p90_exact"),
        count(lit(1)).as("n"),
        sum(when(col("value") < col("p50a"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("p50a"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("p90a"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("value") <= col("p90a"), 1L).otherwise(0L)).as("le90"))
      .select(
        col("event_type"), col("p50_exact"), col("p90_exact"),
        (col("lt50") <= (lit(0.5) + eps) * col("n") &&
          col("le50") >= (lit(0.5) - eps) * col("n")).as("p50_in_bounds"),
        (col("lt90") <= (lit(0.9) + eps) * col("n") &&
          col("le90") >= (lit(0.9) - eps) * col("n")).as("p90_in_bounds"))
      .orderBy("event_type")
  }

  /** eq23 — set operations + anti-join semantics (SURVEY.md §2.6): user
    * audiences by behavior. `except`/`intersect` are Spark's set operators
    * (EXCEPT/INTERSECT DISTINCT); the view-only count is also exactly a
    * left-anti join — one op, two formulations, same oracle. */
  def audienceSetOps(spark: SparkSession, dir: String): DataFrame = {
    // one per-user conditional aggregate feeds every branch: each set-op
    // branch recomputes only the small flags frame, not a per-branch
    // filter+distinct over the raw events (the 100 TB version would
    // persist `flags`; Spark has no within-query CTE materialization)
    val flags = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("b"))
    val viewers = flags.filter(col("v") === 1).select("user_id")
    val buyers = flags.filter(col("b") === 1).select("user_id")
    val viewOnly = viewers.except(buyers)
    val both = viewers.intersect(buyers)
    val anti = viewers.join(buyers, Seq("user_id"), "left_anti")
    viewOnly.agg(count(lit(1)).as("n_view_only"))
      .crossJoin(both.agg(count(lit(1)).as("n_both")))
      .crossJoin(anti.agg(count(lit(1)).as("n_view_only_anti")))
      .crossJoin(viewers.union(buyers).distinct().agg(count(lit(1)).as("n_any")))
  }

  /** eq22 — exact interpolated percentiles of `value` per event type
    * (Spark `percentile` ≡ DuckDB `quantile_cont`; both sort-exact, so
    * unlike approx sketches this hash-matches). */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        round(min(col("value")), 6).as("vmin"),
        round(max(col("value")), 6).as("vmax"))
      .orderBy("event_type")

  /** eq76 — GROUPING SETS with explicit grouping flags: the general form
    * of eq20's rollup — (region, nation), (region), (nation), and grand
    * total in ONE pass (Catalyst plans one Expand over the pre-joined
    * frame, not four scans), with `grouping()` flags disambiguating the
    * 'ALL' placeholders the way every BI tool expects. Declared via
    * `spark.sql` over the registered star view (the S5 surface); money is
    * exact integer cents so every grouping-set cell re-aggregates
    * order-free. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    StarQueries.starJoin(spark, dir).createOrReplaceTempView("star_v")
    spark.sql(
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |       COALESCE(n_name, 'ALL') AS n_name,
        |       CAST(grouping(r_name) AS INT) AS g_r,
        |       CAST(grouping(n_name) AS INT) AS g_n,
        |       COUNT(*) AS n_items,
        |       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS revenue_cents
        |FROM star_v
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name), ())
        |ORDER BY g_r, g_n, r_name, n_name""".stripMargin)
  }

  /** eq77 — distribution-rank windows: percent_rank / cume_dist /
    * ntile(4) over per-supplier revenue — the "where does this supplier
    * sit in the distribution" scorecard. The global window runs over the
    * AGGREGATED frame (≤ |suppliers| rows, already reduced by the one
    * real shuffle), which is the legitimate use of a partition-less
    * window: bounded input by construction, exactly like eq62's top-1000
    * regression frame. Ranks are exact rationals of (rank, n), rendered
    * at 6 dp identically by both engines. */
  def supplierRankDist(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("revenue_cents").desc, col("l_suppkey").asc)
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .select(col("l_suppkey").as("suppkey"), col("revenue_cents"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("revenue_cents").desc, col("suppkey").asc)
  }

  /** eq87 — population stability index (PSI): the ML-monitoring drift
    * metric between the month's first half and second half, per event
    * type — "did the value distribution my model was calibrated on
    * move". Bins are eq68's exact overall deciles (broadcast); per
    * (type, bin) the two periods' counts are exact, shares are fixed-
    * shape doubles of exact integers, and each bin's PSI term
    * `(p−q)·ln(p/q)` is floored to integer micros before the sum (the
    * eq62 convention), so the index is engine-exact. Bins empty on
    * either side are skipped (reported, not interpolated). One shuffle
    * on (type, bin); everything after is a ≤ types×10-row frame. */
  def psiDriftDf(events: DataFrame): DataFrame = {
    val bounds = events.agg(
      expr("percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("bs"))
    val binned = events
      .crossJoin(broadcast(bounds))
      .select(
        col("event_type"),
        expr("1 + aggregate(bs, 0, (acc, b) -> acc + CASE WHEN value >= b THEN 1 ELSE 0 END)")
          .as("bin"),
        (to_date(col("ts")) < lit("2024-01-16")).as("early"))
      .groupBy("event_type", "bin")
      .agg(
        sum(when(col("early"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("cnt_b"))
    val totals = binned.groupBy("event_type")
      .agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
    binned.join(totals, "event_type")
      .withColumn("term_micro",
        when(col("cnt_a") > 0 && col("cnt_b") > 0,
          floor((col("cnt_a").cast("double") / col("tot_a")
              - col("cnt_b").cast("double") / col("tot_b"))
            * log((col("cnt_a").cast("double") / col("tot_a"))
              / (col("cnt_b").cast("double") / col("tot_b")))
            * lit(1e6)).cast("long")))
      .groupBy("event_type")
      .agg(
        sum(when(col("term_micro").isNotNull, 1L).otherwise(0L)).as("n_bins_used"),
        round(sum(col("term_micro")).cast("double") / 1e6, 6).as("psi"))
      .orderBy("event_type")
  }

  /** eq68 — equi-depth histogram of `value`: exact decile boundaries
    * (eq22's `percentile` ≡ `quantile_cont` parity), broadcast back as a
    * 9-element array, each row binned by a codegen'd `aggregate` lambda
    * (bin = 1 + #boundaries ≤ value) — the optimizer-statistics /
    * data-profiling primitive. The global percentile is one sort-exact
    * aggregate; binning is map-side against the broadcast array, so the
    * only shuffle after it is the 10-group rollup. (The 100 TB variant
    * swaps `percentile` for `approx_percentile` — same plan shape; exact
    * is kept here because the oracle hash-checks it.) */
  def equidepthBins(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val bounds = events.agg(
      expr("percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("bs"))
    events
      .crossJoin(broadcast(bounds))
      .withColumn("bin",
        expr("1 + aggregate(bs, 0, (acc, b) -> acc + CASE WHEN value >= b THEN 1 ELSE 0 END)"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("value")), 6).as("lo"),
        round(max(col("value")), 6).as("hi"))
      .orderBy("bin")
  }

  /** eq98 — winsorized mean per event type: the robust-mean cleaning step
    * (clip to the exact [p05, p95] of each type, then average) that keeps
    * a fat-tailed or corrupted value column from dragging per-slice
    * statistics. Exactness: the percentile bounds (quantile_cont ≡ Spark
    * percentile, the x8 pairing) are quantized to integer micros, values
    * are clipped in BIGINT micro space, and the clipped sum is an exact
    * integer — order-free — with ONE final division per type. Two passes
    * over events (bounds, then clip+sum), one broadcast of the per-type
    * bounds frame. */
  def winsorizedMeansDf(events: DataFrame): DataFrame = {
    val bounds = events.groupBy("event_type")
      .agg(
        expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    events.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("p05"), col("p95"),
        least(greatest(round(col("value") * 1000000.0).cast("long"),
            round(col("p05") * 1000000.0).cast("long")),
          round(col("p95") * 1000000.0).cast("long")).as("vm"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(max(col("p05")), 6).as("p05"),
        round(max(col("p95")), 6).as("p95"),
        round(sum(col("vm")).cast("double")
          / (count(lit(1)) * 1000000.0), 6).as("winsorized_mean"),
        round(sum(col("cents")).cast("double")
          / (count(lit(1)) * 100.0), 6).as("raw_mean"))
      .orderBy("event_type")
  }

  /** x26 — MERGEABLE quantiles via KLL (DataSketches), the x20-of-x8:
    * where `percentile_approx`'s GK sketch degrades under merging, KLL
    * carries an a-priori normalized rank-error bound that SURVIVES buffer
    * merges — so per-slice sketches persisted once can answer any rollup's
    * quantiles later, the cube contract at 100 TB. One typed-Aggregator
    * pass builds a sketch per event type (partials shuffle as KB byte
    * images); the ≤|types| sketch rows are collected (bounded-collect
    * contract, the x9/x10 "build once, probe everywhere" pattern), the ALL
    * row is a driver-side BUFFER MERGE of the per-type images, and each
    * sketch's p50/p90 answers re-enter the plan as broadcast literals for
    * the same rank-interval audit as x8 — lt/le counts against [(q−ε)·n,
    * (q+ε)·n] with ε = 5× the sketch's own `getNormalizedRankError`
    * guarantee (KLL compaction is randomized, so quantile values are
    * run-varying and only the guaranteed-bound flags are pinned; a wrong
    * merge would blow the ALL row's bound). Exact p50/p90 per type and
    * merged-ALL are hash-checked alongside. */
  def kllQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import graft.functions.DsSketchAggregators.KllDoublesAgg

    val events = Tables.load(spark, dir, "events")
    val kll = udaf(new KllDoublesAgg(200), org.apache.spark.sql.Encoders.scalaDouble)
    val per = events.groupBy("event_type")
      .agg(
        kll(col("value")).as("skb"),
        round(expr("percentile(value, 0.5D)"), 6).as("p50_exact"),
        round(expr("percentile(value, 0.9D)"), 6).as("p90_exact"))
      .collect() // ≤ |event types| rows, ~KB sketch each
    val sketches = per.map { r =>
      r.getString(0) -> KllDoublesSketch.heapify(Memory.wrap(r.getAs[Array[Byte]]("skb")))
    }.toSeq.sortBy(_._1)
    val merged = KllDoublesSketch.newHeapInstance(200)
    sketches.foreach { case (_, s) => merged.merge(s) }
    val probes = (sketches :+ ("ALL" -> merged)).map { case (t, s) =>
      (t, s.getQuantile(0.5), s.getQuantile(0.9), 5.0 * s.getNormalizedRankError(false))
    }
    import spark.implicits._
    val probeDf = probes.toDF("event_type", "p50a", "p90a", "eps")
    val exact = events.sparkSession.createDataFrame(
      spark.sparkContext.parallelize(per.toSeq.map(r =>
        org.apache.spark.sql.Row(r.getString(0),
          r.getAs[Double]("p50_exact"), r.getAs[Double]("p90_exact"))), 1),
      new org.apache.spark.sql.types.StructType()
        .add("event_type", "string").add("p50_exact", "double").add("p90_exact", "double"))
      .unionByName(events.agg(
        round(expr("percentile(value, 0.5D)"), 6).as("p50_exact"),
        round(expr("percentile(value, 0.9D)"), 6).as("p90_exact"))
        .select(lit("ALL").as("event_type"), col("p50_exact"), col("p90_exact")))
    // rank audit: every event row feeds its own type AND the merged ALL row
    val tagged = events.select(col("event_type"), col("value"))
      .unionByName(events.select(lit("ALL").as("event_type"), col("value")))
    tagged
      .join(broadcast(probeDf), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        first(col("eps")).as("eps"),
        sum(when(col("value") < col("p50a"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("p50a"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("p90a"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("value") <= col("p90a"), 1L).otherwise(0L)).as("le90"))
      .join(broadcast(exact), Seq("event_type"))
      .select(
        col("event_type"), col("p50_exact"), col("p90_exact"),
        (col("lt50") <= (lit(0.5) + col("eps")) * col("n") &&
          col("le50") >= (lit(0.5) - col("eps")) * col("n")).as("p50_in_bounds"),
        (col("lt90") <= (lit(0.9) + col("eps")) * col("n") &&
          col("le90") >= (lit(0.9) - col("eps")) * col("n")).as("p90_in_bounds"))
      .orderBy("event_type")
  }

  /** x27 — theta-sketch audience overlap, the approximate eq23: theta is
    * the ONLY mergeable sketch family with set INTERSECTION / A-NOT-B
    * estimates (HLL unions only), which is exactly the audience-overlap
    * question. One typed-Aggregator pass builds a sketch per cohort
    * (viewers, buyers) over the hashed user stream; the two KB-sized
    * compact images are collected (bounded-collect contract) and the
    * overlap estimates — intersection, A-not-B, union — are driver-side
    * SET OPERATIONS ON SKETCH BUFFERS, never a re-scan: the 100 TB
    * contract where cohort sketches persist once and any pairwise overlap
    * matrix is assembled from buffers alone. Exact counts (the eq23
    * set-algebra, reusing one per-user flags pass) are hash-checked;
    * estimates surface as ≤5% flags — deterministic because theta hashes
    * with a fixed seed and, under 2^12 nominal entries, these cohorts
    * stay in exact mode (the flags also prove the buffer ops are sound:
    * corrupt set-algebra would not land within 5%). */
  def thetaAudience(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import graft.functions.DsSketchAggregators.ThetaUnionAgg

    val events = Tables.load(spark, dir, "events")
    val th = udaf(new ThetaUnionAgg(12), org.apache.spark.sql.Encoders.scalaLong)
    // A theta sketch is duplicate-insensitive, so pre-distinct the
    // (cohort, user) pairs first: the distinct is a cheap map-side partial
    // hash-agg, and the sketch aggregator — whose per-row cost is a
    // serialize/heapify round-trip — then sees |users| rows, not |events|.
    val per = events.filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type")
      .agg(th(col("user_id")).as("skb"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("skb")).toMap
    def wrap(t: String) = Sketches.wrapSketch(Memory.wrap(per(t)))
    val inter = SetOperation.builder().buildIntersection()
      .intersect(wrap("view"), wrap("purchase")).getEstimate
    val aNotB = SetOperation.builder().buildANotB()
      .aNotB(wrap("view"), wrap("purchase")).getEstimate
    val un = { val u = SetOperation.builder().buildUnion()
      u.union(wrap("view")); u.union(wrap("purchase")); u.getResult.getEstimate }
    // exact counts: eq23's one-pass per-user flags feed every branch
    val flags = events.groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("b"))
    def ok(est: Double, exact: org.apache.spark.sql.Column) =
      when(exact === 0, lit(est) === 0.0)
        .otherwise(abs(lit(est) - exact) / exact <= 0.05)
    flags.agg(
      sum(when(col("v") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n_view_only"),
      sum(when(col("v") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n_both"),
      sum(when(col("v") === 1 || col("b") === 1, 1L).otherwise(0L)).as("n_any"))
      .select(
        col("n_view_only"), col("n_both"), col("n_any"),
        ok(aNotB, col("n_view_only")).as("view_only_ok"),
        ok(inter, col("n_both")).as("both_ok"),
        ok(un, col("n_any")).as("any_ok"))
  }
}
