package graft

import graft.operators.TemporalJoins

class TemporalJoinsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def eventsDf(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) =
    rows.map { case (id, t, u, ty) => (id, t, u, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("as-of: picks the latest view at-or-before each purchase; null when none") {
    val df = eventsDf(Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view"),
      (2L, ts("2024-01-01 10:05:00"), 7L, "view"),
      (3L, ts("2024-01-01 10:05:00"), 7L, "purchase"), // tie: same-ts view attributes
      (4L, ts("2024-01-01 11:00:00"), 7L, "purchase"),
      (5L, ts("2024-01-01 09:00:00"), 8L, "purchase"), // no prior view
      (6L, ts("2024-01-01 09:30:00"), 8L, "view")))
    val out = TemporalJoins.asOfAttributionDf(df)
    val got = out.collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got(3L).contains("2024-01-01 10:05:00.000000"))
    assert(got(4L).contains("2024-01-01 10:05:00.000000"))
    assert(got(5L).isEmpty)
    assert(out.columns.toSeq ==
      Seq("event_id", "user_id", "purchase_ts", "view_ts", "gap_us"))
  }

  test("range pairs: bucket-trick equi-join finds each qualifying pair exactly once") {
    val got = SparkEntry.queries("eq19_range_pairs")(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cross-check against the direct (quadratic) formulation on sf0.001
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, Sf, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val a = ev.select(col("event_id").as("id_a"), col("user_id"), col("us").as("us_a"))
    val b = ev.select(col("event_id").as("id_b"), col("user_id"), col("us").as("us_b"))
    val direct = a.join(b, Seq("user_id"))
      .filter(col("id_a") < col("id_b") && abs(col("us_a") - col("us_b")) < 300000000L)
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == direct)
    assert(got.values.sum > 0)
  }
}
