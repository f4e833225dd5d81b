package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Queries over the full driver star schema (region/nation/customer/
  * orders/lineitem/supplier) and the JSON event payloads — the engine
  * surface beyond the reference's two tables: multi-way join planning,
  * semi-structured extraction, and partitioned window analytics.
  *
  * Hash-determinism discipline for the oracle: aggregate only
  * order-insensitive quantities — counts, COUNT(DISTINCT), sums of
  * integer-valued doubles (exact in double), and money as integer CENTS
  * (`round(price*100)` per element, then an exact integer sum) — never a
  * raw double sum, whose accumulation order differs between engines.
  */
object StarQueries {

  /** eq15 — JSON property extraction over `events.props` (semi-structured
    * column surface): per event type, count + sum + distinct of `$.k`.
    * get_json_object is codegen'd; no UDF. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        // try_cast: a non-numeric $.k (one malformed log line in 100 TB)
        // must null out, not ANSI-crash the job (degenerate-corpus drill)
        expr("try_cast(get_json_object(props, '$.k') AS bigint)").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("total_k"),
        countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")

  /** eq130 — the same property surface through Spark 4's native VARIANT
    * type: `parse_json` decodes each payload ONCE into the binary variant
    * encoding, then every access is a typed `variant_get` path — no
    * re-parse per path, unlike eq15's per-call `get_json_object` string
    * walk. At 100 TB this is the semi-structured posture that matters:
    * variant parses once at ingest (and shreds to columns in Parquet),
    * so N path accesses cost one decode instead of N string parses.
    * Alongside eq15's numbers the query also audits path hygiene — a
    * probe of a MISSING path (`$.m`) must come back null for every row,
    * and `try_variant_get` with an uncastable type must null rather than
    * throw. All outputs are exact integers; oracle pairs via DuckDB's
    * JSON extraction on the same paths. */
  def variantProps(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      // try_parse_json / try_variant_get on the data paths: a malformed
      // payload or an uncastable value nulls out instead of ANSI-crashing
      // (degenerate-corpus drill); the missing-path probe semantics are
      // unchanged (NULL variant -> NULL path -> counted missing)
      .select(col("event_type"), try_parse_json(col("props")).as("v"))
      .select(col("event_type"),
        try_variant_get(col("v"), "$.k", "long").as("k"),
        // try_ on the $.m probe too: a PRESENT but
        // non-numeric $.m (valid JSON like {"m":"xyz"}) would make plain
        // variant_get ANSI-throw on the long cast; try_variant_get nulls
        // it, which the counter then classifies as missing — the same
        // bucket the oracle's TRY_CAST puts it in
        try_variant_get(col("v"), "$.m", "long").as("m"),
        try_variant_get(col("v"), "$.k", "array<long>").as("bad_cast"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("total_k"),
        countDistinct(col("k")).as("distinct_k"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_missing_path"),
        sum(when(col("bad_cast").isNull, 1L).otherwise(0L)).as("n_bad_cast"))
      .orderBy("event_type")

  /** The five-way lineitem⋈orders⋈customer⋈nation⋈region join, shared by
    * the revenue and rollup queries. Left entirely to Catalyst/AQE: at test
    * scale the four dimension sides all broadcast; at 100 TB the customer
    * side becomes a shuffled hash join on the same declarative plan. */
  private[star] def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
  }

  /** eq16 — revenue by (region, customer nation), summed as exact integer
    * cents so the hash compare is immune to double accumulation order. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    starJoin(spark, dir)
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        round(sum(col("l_quantity")), 6).as("total_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("r_name", "n_name")
  }

  /** eq17 — partitioned window ranking: top-3 suppliers by shipped quantity
    * within each nation (`row_number` over a nation partition, suppkey
    * tie-break). Quantity totals are integer-valued doubles — exact. */
  def topSuppliersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.load(spark, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(sum(col("l_quantity")).as("total_qty"), count(lit(1)).as("n_items"))
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    val byNation = Window.partitionBy("n_name")
      .orderBy(col("total_qty").desc, col("s_suppkey").asc)
    perSupp
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .withColumn("rank", row_number().over(byNation))
      .filter(col("rank") <= 3)
      .select(col("n_name"), col("rank"), col("s_suppkey"),
        round(col("total_qty"), 6).as("total_qty"), col("n_items"))
      .orderBy("n_name", "rank")
  }

  /** eq91 — per-nation revenue trend: closed-form OLS over the monthly
    * revenue series, the "is this market growing or shrinking" analytic a
    * warehouse publishes per dimension. All five regression moments
    * (n, Σx, Σy, Σx², Σxy) are exact BIGINT sums over integer terms —
    * x = months since 1995-01 (0..82 on this corpus), y = exact revenue
    * cents — so slope and intercept are two fixed-shape double divisions
    * per nation: bit-deterministic, order-free under any partitioning.
    *
    * Scale posture: one star join (dims broadcast), one (nation, month)
    * shuffle with map-side partials, then a 25-row nation roll-up. The
    * moment magnitudes stay far inside BIGINT and the 2^53 double-exact
    * window even at 1000× this corpus (n·Σxy ~ 1e16 needs ~10⁹ months·
    * cents·months — revenue cents would hit BIGINT limits first). */
  def trendSlopesDf(li: DataFrame, o: DataFrame, c: DataFrame, n: DataFrame): DataFrame = {
    val monthly = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .select(col("n_name"),
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy("n_name", "x")
      .agg(sum(col("cents")).as("y"))
    monthly.groupBy("n_name")
      .agg(
        count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n_name"), col("n_months"),
        // OLS denominator n·Σx²−(Σx)² is 0 iff a nation has ONE distinct
        // month — slope undefined, NULL in both engines (the unguarded
        // divide is an ANSI crash)
        round(graft.pipeline.Similarity.safeDiv(
          (col("n_months") * col("sxy") - col("sx") * col("sy")).cast("double"),
          (col("n_months") * col("sxx") - col("sx") * col("sx")).cast("double")), 6)
          .as("slope_cents_per_month"),
        round(graft.pipeline.Similarity.safeDiv(
          (col("sxx") * col("sy") - col("sx") * col("sxy")).cast("double"),
          (col("n_months") * col("sxx") - col("sx") * col("sx")).cast("double")), 6)
          .as("intercept_cents"))
      .orderBy("n_name")
  }

  /** eq120 — per-nation revenue concentration: exact Gini coefficient and
    * top-decile share over customer lifetime revenue (integer cents).
    * Gini via the rank formula `G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)` with
    * xᵢ ascending — tie order cannot change Σi·xᵢ (equal x), and the
    * explicit custkey tie-break makes the top-decile cut deterministic
    * anyway. The ranking shuffle partitions by nation (≤25 groups at TPC-H
    * shape — each nation's customers sort within one partition; at a
    * billion customers the per-nation sort is the intrinsic cost of an
    * exact Gini, and the distributed sort-within-partition is exactly how
    * Spark executes it). The rank-weighted sum and the PPM numerators are
    * carried as decimal(38,0) — `Σi·x · 10⁶` clears 2⁶³ already at a few
    * hundred customers per group — and `div` (integral divide) brings the
    * ≤10⁶ PPM result back to BIGINT exactly; no floating point anywhere. */
  def giniConcentrationDf(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val rev = orders
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val j = rev
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("cents"), col("o_custkey").as("ck"))
    val byNation = Window.partitionBy("n_name")
    val ranked = j
      .withColumn("i",
        row_number().over(byNation.orderBy(col("cents"), col("ck"))))
      .withColumn("n", count(lit(1)).over(byNation))
      .withColumn("tot", sum("cents").over(byNation))
    ranked
      .groupBy("n_name")
      .agg(
        max("n").as("n_customers"), max("tot").as("total_cents"),
        sum(col("i").cast("decimal(38,0)") * col("cents")).as("ix"),
        // top decile = the ceil(n/10) highest-revenue customers,
        // i.e. ascending rank i > n - (n+9) div 10
        sum(when(expr("i > n - ((n + 9) div 10)"), col("cents")))
          .as("top_cents"))
      .select(col("n_name"), col("n_customers"), col("total_cents"),
        // a zero-revenue nation has no defined concentration: NULL, not a
        // division-by-zero crash
        expr("CASE WHEN total_cents > 0 THEN " +
          "(2*ix - (n_customers+1) * cast(total_cents as decimal(38,0)))" +
          " * 1000000 div (n_customers * cast(total_cents as decimal(38,0))) END")
          .as("gini_ppm"),
        expr("CASE WHEN total_cents > 0 THEN " +
          "cast(top_cents as decimal(38,0)) * 1000000 div total_cents END")
          .as("top_decile_ppm"))
      .orderBy("n_name")
  }
}
