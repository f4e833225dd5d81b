package graft.retail

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's 11 analytics query types (SURVEY.md §2.9, Q1–Q11),
  * re-expressed as declarative DataFrame programs. Each maps to one
  * QUERY_MAP template or Python-orchestrated composite in
  * `/root/reference/etl_project/api_etl/views.py`; the Python post-loops
  * (views.py:226-254, 300-339) become joins + conditional aggregates, and
  * the only driver-side collect is a composite's ≤10-row phase 1 — never
  * fact-sized data (100 TB posture, SURVEY.md §7 risk 6).
  *
  * One builder per API type, over a pdv frame and typed arguments: the
  * served snapshot in [[graft.api.QueryService]], `Tables.pdv` in q1–q11.
  * q1–q11 call the builders at the frozen t2 parameters and add only the
  * oracle's output canonicalization, so what the API serves is what the
  * DuckDB oracle checks.
  *
  * Determinism rules of q1–q11 (SURVEY.md §2.9 canon): fixed parameters,
  * `round(_, 6)` on every double *before* any order-sensitive step,
  * `magid ASC` tie-breaks on all top-k, explicit full ORDER BY on output.
  */
object RetailQueries {
  // Frozen t2 parameters, verified non-degenerate at sf0.01 (SURVEY.md §2.9).
  val Cat   = "STANDARD"
  val Fab   = "Brand#12"
  val Debut = "1995-01-01"
  val Fin   = "1996-12-31"
  val Annee = 1995
  val AsOf  = "1998-09-01"

  /** Exact COUNT(DISTINCT c): the size of the group's set of non-null
    * values — nulls skipped, 0 on empty input, `bigint` non-nullable, the
    * same values and schema as `countDistinct`. It plans as one
    * ObjectHashAggregate pair per grouping: no Expand (one copy of each row
    * per distinct column) and no second aggregate level with its extra
    * exchange. Every set here is bounded by a dimension's cardinality
    * (products per store, stores per category or month, brands per
    * category), never by the number of fact rows, and the aggregate's
    * sort-based fallback bounds memory per task. */
  private def distinctCount(c: Column): Column = size(collect_set(c)).cast("long")

  /** `cat` (views.py:10): the category's produits rows. */
  private[graft] def catRows(pdv: DataFrame, cat: String): DataFrame =
    Tables.produitsOf(pdv).filter(col("catid") === cat)

  /** Q1 — `cat`, dateid rendered ISO and fully ordered for oracle parity. */
  def q1(spark: SparkSession, dir: String): DataFrame =
    catRows(Tables.pdv(spark, dir), Cat)
      .select(
        date_format(col("dateid"), "yyyy-MM-dd").as("dateid"),
        col("prodid"), col("catid"), col("fabid"))
      .orderBy("dateid", "prodid", "catid", "fabid")

  /** `mag-cat` (views.py:12): scalar COUNT(DISTINCT), exact; the set holds
    * at most the category's stores. */
  private[graft] def magCat(pdv: DataFrame, cat: String): DataFrame =
    pdv.filter(col("catid") === cat)
      .agg(distinctCount(col("magid")).as("total_magasins"))

  def q2(spark: SparkSession, dir: String): DataFrame = magCat(Tables.pdv(spark, dir), Cat)

  /** `fab-cat` (views.py:14). */
  private[graft] def fabCat(pdv: DataFrame, cat: String): DataFrame =
    Tables.produitsOf(pdv).filter(col("catid") === cat)
      .agg(distinctCount(col("fabid")).as("total_fabricants"))

  def q3(spark: SparkSession, dir: String): DataFrame = fabCat(Tables.pdv(spark, dir), Cat)

  /** `avg-prod-per-fab` (views.py:16-25): AVG over a grouped subquery. */
  private[graft] def avgProdPerFab(pdv: DataFrame, cat: String,
                                   debut: String, fin: String): DataFrame =
    Tables.produitsOf(pdv)
      .filter(col("catid") === cat && col("dateid").between(debut, fin))
      .groupBy("fabid")
      .agg(distinctCount(col("prodid")).as("product_count"))
      .agg(avg(col("product_count")).as("avg_products_per_fab"))

  /** Q4 — integer counts sum exactly in double, so the average is
    * order-insensitive and safe to hash at 6 dp. */
  def q4(spark: SparkSession, dir: String): DataFrame =
    round6(avgProdPerFab(Tables.pdv(spark, dir), Cat, Debut, Fin), "avg_products_per_fab")

  /** The `n` best stores by `score`, ties broken by `magid ASC`
    * (SURVEY.md §7 risk 3). Planned as `TakeOrderedAndProject` — no full
    * sort. */
  private[graft] def ranked(stats: DataFrame, score: Column, n: Int): DataFrame =
    stats.withColumn("score", score)
      .orderBy(col("score").desc, col("magid").asc)
      .limit(n)

  /** `top-magasins` (views.py:27-43): per-store multi-COUNT(DISTINCT)
    * (exact, one set per store and column, each bounded by the store's
    * brands, categories or products) + weighted score. The score is rounded
    * to 6 dp *before* the sort so the top-k cut is decided on identical
    * values in both engines. */
  private[graft] def topMagasins(pdv: DataFrame, debut: String, fin: String): DataFrame =
    ranked(
      pdv
        .filter(col("dateid").between(debut, fin))
        .groupBy("magid")
        .agg(
          distinctCount(col("fabid")).as("total_fabricants"),
          distinctCount(col("catid")).as("total_categories"),
          distinctCount(col("prodid")).as("total_produits"),
          count(lit(1)).as("total_ventes")),
      round(
        col("total_fabricants") * 0.1 + col("total_categories") * 0.2 +
          col("total_produits") * 0.3 + col("total_ventes") * 0.4, 6),
      10)

  def q5(spark: SparkSession, dir: String): DataFrame = topMagasins(Tables.pdv(spark, dir), Debut, Fin)

  /** `top-magasins-cat` (views.py:45-60): same shape, category-filtered,
    * weights 0.1/0.3/0.6, no catid distinct. */
  private[graft] def topMagasinsCat(pdv: DataFrame, cat: String, debut: String, fin: String): DataFrame =
    ranked(
      pdv
        .filter(col("catid") === cat && col("dateid").between(debut, fin))
        .groupBy("magid")
        .agg(
          distinctCount(col("fabid")).as("total_fabricants"),
          distinctCount(col("prodid")).as("total_produits"),
          count(lit(1)).as("total_ventes")),
      round(
        col("total_fabricants") * 0.1 + col("total_produits") * 0.3 +
          col("total_ventes") * 0.6, 6),
      10)

  def q6(spark: SparkSession, dir: String): DataFrame =
    topMagasinsCat(Tables.pdv(spark, dir), Cat, Debut, Fin)

  /** `nb-mag-cat-date` (views.py:62-71): month-bucketed COUNT(DISTINCT),
    * year predicate. */
  private[graft] def nbMagCatDate(pdv: DataFrame, cat: String, annee: Int): DataFrame =
    pdv
      .filter(col("catid") === cat && year(col("dateid")) === annee)
      .groupBy(date_format(col("dateid"), "yyyy-MM").as("mois"))
      .agg(distinctCount(col("magid")).as("nbmag"))
      .orderBy("mois")

  def q7(spark: SparkSession, dir: String): DataFrame =
    nbMagCatDate(Tables.pdv(spark, dir), Cat, Annee)

  /** `score-evolution` (views.py:73-88): conditional SUM + safe ratio.
    * `DATE('now')` (views.py:85, bug B4) is the `asOf` argument. Arithmetic
    * order mirrors SQLite: (sum * 100.0) / count, in double. */
  private[graft] def scoreEvolution(pdv: DataFrame, cat: String, fab: String,
                                    debut: String, asOf: String): DataFrame =
    pdv
      .filter(col("catid") === cat && col("dateid").between(debut, asOf))
      .groupBy(date_format(col("dateid"), "yyyy-MM").as("mois"))
      .agg(
        count(lit(1)).as("total_ventes"),
        sum(when(col("fabid") === fab, 1).otherwise(0)).as("ventes_fab"))
      .withColumn("score_sante", coalesce(
        col("ventes_fab") * lit(100.0) /
          when(col("total_ventes") === 0, lit(null)).otherwise(col("total_ventes")),
        lit(0.0)))
      .orderBy("mois")

  def q8(spark: SparkSession, dir: String): DataFrame =
    round6(scoreEvolution(Tables.pdv(spark, dir), Cat, Fab, Debut, AsOf), "score_sante")

  /** The oracle's 6-dp rounding of a double output column. */
  private[graft] def round6(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, round(col(c), 6))

  /** Collect the ≤10-row phase-1 top-10 ONCE — the composite analogue of
    * the reference materializing `df_top_mag` in pandas (views.py:119/130).
    * Driver-side by design: the frame is bounded at 10 rows, and feeding it
    * back as literals means the fact table is scanned once per phase-2
    * aggregate instead of once per plan reference (Spark has no within-query
    * CTE materialization), and the emptiness guard costs no extra job. */
  private[graft] def collectTop10Cat(pdv: DataFrame, cat: String,
                                     debut: String, fin: String): Seq[(Long, Long)] =
    topMagasinsCat(pdv, cat, debut, fin).select("magid", "total_produits")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** All-category top-10 magids, collected once (`top-1`'s phase 1). */
  private[graft] def collectTop10Magids(pdv: DataFrame, debut: String, fin: String): Seq[Long] =
    topMagasins(pdv, debut, fin).select("magid").collect().toSeq.map(_.getLong(0))

  /** `top-1` as intended (views.py:157-190; bug B1 makes the reference
    * endpoint 500 — SURVEY.md §2.10), phase 2: the per-store counts of
    * category `cat` (no date filter — faithful to views.py:179), restricted
    * to the phase-1 ids by a broadcast left-semi join (≤10 rows on the
    * build side). Rank with [[top1Score]]. */
  private[graft] def top1Stats(pdv: DataFrame, cat: String, top10: Seq[Long]): DataFrame = {
    val spark = pdv.sparkSession
    import spark.implicits._
    pdv
      .filter(col("catid") === cat)
      .join(broadcast(top10.toDF("magid")), Seq("magid"), "left_semi")
      .groupBy("magid")
      .agg(
        distinctCount(col("fabid")).as("total_fabricants"),
        distinctCount(col("prodid")).as("total_produits"),
        count(lit(1)).as("total_ventes"))
  }

  /** `top-1`'s weights 0.3/0.6/0.1 (views.py:175-177). */
  private[graft] def top1Score: Column =
    col("total_produits") * 0.3 + col("total_ventes") * 0.6 + col("total_fabricants") * 0.1

  /** Q9 — `top-1` over Q5's top-10, the score rounded to 6 dp before the
    * ranking, like Q5's. */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    val pdv = Tables.pdv(spark, dir)
    ranked(top1Stats(pdv, Cat, collectTop10Magids(pdv, Debut, Fin)), round(top1Score, 6), 1)
  }

  /** `avg-cat-fab-10-mag` (views.py:118-126, 206-254), phase 2 over the
    * collected `top-magasins-cat` top-10 (magid, total_produits):
    * left-joined with the per-store fabricant distinct-product count
    * (0-filled — the `dict.get(magid, 0)` at views.py:232), percentage per
    * store, and the scalar mean over stores with a nonzero denominator
    * (views.py:234-249). Python's `(best/top)*100` float order is preserved.
    * The scalar is attached via a 1-row crossJoin (broadcast), not a global
    * window — no single-partition shuffle of the row set. */
  private[graft] def avgFabTop10From(pdv: DataFrame, top10Rows: Seq[(Long, Long)],
                                     cat: String, fab: String): DataFrame = {
    val spark = pdv.sparkSession
    import spark.implicits._
    val top10 = top10Rows.toDF("magid", "total_produits")
    val best = pdv
      .filter(col("catid") === cat && col("fabid") === fab)
      .join(broadcast(top10.select("magid")), Seq("magid"), "left_semi")
      .groupBy("magid")
      .agg(distinctCount(col("prodid")).as("nb_produits_fab"))
    // ≤10 rows, read twice (emitted rows + the scalar mean) — materialized
    // so the phase-2 fact aggregate runs once, not once per plan reference
    // (the same two-consumer rule as the funnel's d4/d8 checkpoints)
    val rows = top10
      .join(best, Seq("magid"), "left_outer")
      .withColumn("nb_produits_fab", coalesce(col("nb_produits_fab"), lit(0L)))
      // NULL for a zero total, as the oracle's DOUBLE / 0 gives (and no
      // ANSI DIVIDE_BY_ZERO); the mean skips those rows
      .withColumn("pct_raw", when(col("total_produits") =!= 0,
        col("nb_produits_fab").cast("double") / col("total_produits") * lit(100.0)))
      .localCheckpoint()
    val avgRow = rows.agg(round(coalesce(avg(col("pct_raw")), lit(0.0)), 6).as("average"))
    rows
      .select(col("magid"), col("total_produits"), col("nb_produits_fab"),
        round(col("pct_raw"), 6).as("percentage"))
      .crossJoin(broadcast(avgRow))
      .orderBy("magid")
  }

  def q10(spark: SparkSession, dir: String): DataFrame = {
    val pdv = Tables.pdv(spark, dir)
    avgFabTop10From(pdv, collectTop10Cat(pdv, Cat, Debut, Fin), Cat, Fab)
  }

  /** `score-sante-touts-les-mois` (views.py:127-137, 256-339), over the
    * collected `top-magasins-cat` top-10 of the window debut..asOf
    * (views.py:131): the three-SQL-queries-plus-Python-loops composite as
    * ONE DataFrame DAG — month spine (sequence/explode) × the top-10
    * stores, left-joined with the per-(store, month) distinct-product
    * counts (no date filter — faithful to views.py:294), then the dual
    * semantics of views.py:317-335: emitted rows zero-fill empty months,
    * but both means skip them (avg(when(...)) ignores nulls). The spine
    * bounds are typed dates injected as literals (never interpolated into
    * SQL text — reference bug B3 stays fixed). */
  private[graft] def scoreSanteMonthsFrom(pdv: DataFrame,
      top10Rows: Seq[(Long, Long)], cat: String, fab: String,
      debut: java.time.LocalDate, asOf: java.time.LocalDate): DataFrame = {
    val spark = pdv.sparkSession
    import spark.implicits._
    val top10 = top10Rows.toDF("magid", "total_produits")
    val perMonth = pdv
      .filter(col("catid") === cat && col("fabid") === fab)
      .join(broadcast(top10.select("magid")), Seq("magid"), "left_semi")
      .groupBy(col("magid"), date_format(col("dateid"), "yyyy-MM").as("mois_annee"))
      .agg(distinctCount(col("prodid")).as("nb"))
    val spine = spark.range(1)
      .select(explode(sequence(
        lit(java.sql.Date.valueOf(debut)),
        lit(java.sql.Date.valueOf(asOf)),
        expr("interval 1 month"))).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("mois_annee"))
    // |months| rows, read twice (emitted rows + the scalar mean) —
    // materialized so the per-(store, month) fact aggregate runs once,
    // not once per plan reference (the d4/d8 two-consumer rule)
    val monthly = spine
      .crossJoin(broadcast(top10))
      .join(perMonth, Seq("magid", "mois_annee"), "left_outer")
      .groupBy("mois_annee")
      .agg(avg(when(col("nb").isNotNull && col("total_produits") =!= 0,
        col("nb").cast("double") / col("total_produits") * lit(100.0))).as("avg_raw"))
      .localCheckpoint()
    val avgRow = monthly.agg(round(coalesce(avg(col("avg_raw")), lit(0.0)), 6).as("average"))
    monthly
      .select(col("mois_annee"),
        round(coalesce(col("avg_raw"), lit(0.0)), 6).as("avg_percentage"))
      .crossJoin(broadcast(avgRow))
      .orderBy("mois_annee")
  }

  def q11(spark: SparkSession, dir: String): DataFrame = {
    val pdv = Tables.pdv(spark, dir)
    scoreSanteMonthsFrom(pdv, collectTop10Cat(pdv, Cat, Debut, AsOf), Cat, Fab,
      java.time.LocalDate.parse(Debut), java.time.LocalDate.parse(AsOf))
  }
}
