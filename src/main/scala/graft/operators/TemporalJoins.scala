package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks as primitives — as-of join and
  * range join — built by composition (preference order (a), SURVEY.md:
  * compose built-ins before reaching for a custom SparkStrategy), in the
  * shapes that scale:
  *
  *  - as-of: the union-and-running-last trick — tag both sides, sort
  *    within the key partition, carry the last right-side timestamp
  *    forward. ONE shuffle on the key, no point-in-time probe per row, no
  *    skew amplification: exactly how a 100 TB attribution join wants to
  *    run.
  *  - range: the bucket trick — quantize time to the range width, explode
  *    one side to its 3 candidate buckets, equi-join on (key, bucket),
  *    then apply the exact range predicate. Turns an inequality join
  *    (cartesian per key) into an equi-join with 3× fan-out.
  *
  * Both are oracle-checked against DuckDB's native formulations
  * (`ASOF JOIN`, inequality join) — same results, different physical
  * strategy.
  */
object TemporalJoins {

  /** eq18 — as-of attribution: for every `purchase` event, the most recent
    * `view` event of the same user at-or-before it. Composition: union the
    * two sides with a tag, then `last(view_ts, ignoreNulls)` over
    * (user, ts, tag) rows-unbounded-preceding — views at the same
    * timestamp order before purchases, so ties attribute. */
  def asOfAttributionDf(ev: DataFrame): DataFrame = {
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
        col("event_id"), lit(null).cast("timestamp").as("view_ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("last_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        date_format(col("last_view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
        (unix_micros(col("ts")) - unix_micros(col("last_view_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  private val RangeUs = 5L * 60 * 1000000 // 5 minutes

  /** eq19 — range self-join: pairs of same-user events strictly within 5
    * minutes of each other, counted per user. Bucket trick: one side
    * explodes to buckets {b-1, b, b+1}; each qualifying pair meets in
    * exactly one bucket (the right row's own), so no distinct needed. */
  def rangePairsPerUserDf(evIn: DataFrame): DataFrame = {
    val ev = evIn
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("bucket", floor(col("us") / RangeUs))
    val probe = ev.select(
      col("event_id").as("id_a"), col("user_id"), col("us").as("us_a"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("bucket"))
    val build = ev.select(
      col("event_id").as("id_b"), col("user_id"), col("us").as("us_b"), col("bucket"))
    probe.join(build, Seq("user_id", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("us_a") - col("us_b")) < RangeUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }
}
