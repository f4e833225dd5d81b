package graft

import graft.star.StarQueries

class StarQueriesSpec extends SparkSpec {

  test("eq15: JSON extraction totals are coherent with event counts") {
    val rows = StarQueries.jsonProps(spark, Sf).collect()
    assert(rows.length == 5) // click/error/purchase/signup/view
    rows.foreach { r =>
      assert(r.getLong(1) > 0)                    // n_events
      assert(r.getLong(3) <= 101)                 // distinct_k bounded by domain
      assert(r.getLong(2) >= 0)                   // total_k
    }
  }

  test("eq16: star join covers every customer nation once, revenue positive") {
    val rows = StarQueries.revenueByNation(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
    rows.foreach(r => assert(r.getAs[Long]("revenue_cents") > 0))
    // item count reconciles with the full lineitem when summed
    val totalItems = rows.map(_.getAs[Long]("n_items")).sum
    assert(totalItems == Tables.load(spark, Sf, "lineitem").count())
  }

  test("x8: exact percentiles match eq22; sketch values inside their rank bounds") {
    val exact = graft.star.AggSurface.valuePercentiles(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    graft.star.AggSurface.approxPercentiles(spark, Sf).collect().foreach { r =>
      val (p50, p90) = exact(r.getString(0))
      assert(r.getAs[Double]("p50_exact") == p50)
      assert(r.getAs[Double]("p90_exact") == p90)
      assert(r.getAs[Boolean]("p50_in_bounds"))
      assert(r.getAs[Boolean]("p90_in_bounds"))
    }
  }

  test("eq17: exactly <=3 suppliers per nation, ranks 1..3, qty descending within nation") {
    val rows = StarQueries.topSuppliersPerNation(spark, Sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.length <= 3)
      val ranks = g.map(_.getAs[Int]("rank")).sorted
      assert(ranks.sameElements(1 to g.length))
      val qtys = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("total_qty"))
      assert(qtys.sameElements(qtys.sortBy(-_)))
    }
  }

  test("eq76: every grouping set conserves the grand total; flags match placeholders") {
    val rows = graft.star.AggSurface.groupingSetsRevenue(spark, Sf).collect()
    def level(gr: Int, gn: Int) = rows.filter(r =>
      r.getAs[Int]("g_r") == gr && r.getAs[Int]("g_n") == gn)
    val grand = level(1, 1)
    assert(grand.length == 1)
    val total = grand.head.getAs[Long]("revenue_cents")
    for ((gr, gn) <- Seq((0, 0), (0, 1), (1, 0)))
      assert(level(gr, gn).map(_.getAs[Long]("revenue_cents")).sum == total,
        s"grouping set ($gr,$gn) must re-aggregate to the grand total")
    rows.foreach { r =>
      assert((r.getAs[Int]("g_r") == 1) == (r.getString(0) == "ALL"))
      assert((r.getAs[Int]("g_n") == 1) == (r.getString(1) == "ALL"))
    }
  }

  test("eq77: rank distributions are exact rationals over the supplier frame") {
    val rows = graft.star.AggSurface.supplierRankDist(spark, Sf).collect()
    val n = rows.length
    assert(rows.head.getAs[Double]("pct_rank") == 0.0)
    assert(rows.last.getAs[Double]("pct_rank") == 1.0)
    assert(rows.last.getAs[Double]("cume") == 1.0)
    val cumes = rows.map(_.getAs[Double]("cume"))
    assert(cumes.sameElements(cumes.sorted), "cume_dist non-decreasing in rank order")
    val quartiles = rows.map(_.getAs[Int]("quartile"))
    assert(quartiles.sameElements(quartiles.sorted) && quartiles.distinct.length == 4)
  }

  test("eq78: drift audit — null fill lands on exactly the missing columns") {
    val rows = graft.ingest.SchemaDrift.eq78(spark, Sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = Tables.load(spark, Sf, "documents")
    val n = docs.count()
    val chars = docs.agg(org.apache.spark.sql.functions.sum("n_chars"))
      .head().getLong(0)
    assert(rows("legacy") == ((n, 0L, n, 0L)))
    assert(rows("modern") == ((n, n, 0L, chars)))
  }

  test("eq87: PSI is exactly 0 on identical halves, non-negative on the fixture") {
    val rows = SparkEntry.queries("eq87_psi_drift")(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"PSI must be non-negative: $r")
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 10)
    }
    // identical value distributions in both periods -> every bin has
    // p = q -> every micro term is floor(0) -> PSI exactly 0
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sym = (1 to 10).flatMap { v =>
      Seq((v.toLong, ts("2024-01-01 10:00:00"), 1L, "view", v.toDouble, "{}"),
        (v.toLong + 100, ts("2024-01-20 10:00:00"), 1L, "view", v.toDouble, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.star.AggSurface.psiDriftDf(sym).collect()
    assert(r.length == 1)
    assert(r.head.getDouble(2) == 0.0, "identical halves must give PSI 0")
    assert(r.head.getLong(1) == 10L, "all ten bins populated on both sides")
  }

  test("eq91: perfectly linear monthly series recovers exact slope and intercept") {
    import spark.implicits._
    // one nation, months x = 0,1,2 with revenue 100, 200, 300 cents:
    // OLS must return slope 100 cents/month, intercept 100 exactly
    val li = Seq(
      (1L, java.sql.Date.valueOf("1995-01-15"), 1.00),
      (2L, java.sql.Date.valueOf("1995-02-15"), 2.00),
      (3L, java.sql.Date.valueOf("1995-03-15"), 3.00))
      .toDF("l_orderkey", "l_shipdate", "l_extendedprice")
    val o = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("o_orderkey", "o_custkey")
    val c = Seq((10L, 20L)).toDF("c_custkey", "c_nationkey")
    val n = Seq((20L, "FRANCE")).toDF("n_nationkey", "n_name")
    val r = graft.star.StarQueries.trendSlopesDf(li, o, c, n).collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "FRANCE")
    assert(r.head.getLong(1) == 3L)
    assert(r.head.getDouble(2) == 100.0)
    assert(r.head.getDouble(3) == 100.0)
  }

  test("eq120 gini: perfect equality gives 0, hand-computed skew gives 500000 ppm; split orders pre-aggregate") {
    import spark.implicits._
    // EQ: four customers at 1.00 each -> gini 0, top decile (1 cust) 250000.
    // SK: revenues [9.00, 1.00, 1.00, 1.00] -> sorted cents [100,100,100,900]:
    //     ix = 100+200+300+3600 = 4200, tot = 1200,
    //     gini = (8400 - 5*1200)*1e6 div (4*1200) = 500000; top 750000.
    //     Customer 11's 9.00 arrives as two orders (4.00 + 5.00).
    val orders = (Seq((1L, 1.00), (2L, 1.00), (3L, 1.00), (4L, 1.00),
      (11L, 4.00), (11L, 5.00), (12L, 1.00), (13L, 1.00), (14L, 1.00)))
      .zipWithIndex
      .map { case ((ck, p), i) => (i.toLong + 1, ck, p) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L),
      (11L, 200L), (12L, 200L), (13L, 200L), (14L, 200L))
      .toDF("c_custkey", "c_nationkey")
    val nation = Seq((100L, "EQ"), (200L, "SK")).toDF("n_nationkey", "n_name")
    val r = graft.star.StarQueries
      .giniConcentrationDf(orders, customer, nation).collect()
    val byName = r.map(x => x.getString(0) -> x).toMap
    assert(byName("EQ").getLong(1) == 4L && byName("EQ").getLong(2) == 400L)
    assert(byName("EQ").getLong(3) == 0L && byName("EQ").getLong(4) == 250000L)
    assert(byName("SK").getLong(2) == 1200L)
    assert(byName("SK").getLong(3) == 500000L && byName("SK").getLong(4) == 750000L)
  }

  test("eq68: ten near-equal bins, rows conserved, ranges ordered and disjoint") {
    val rows = graft.star.AggSurface.equidepthBins(spark, Sf).collect()
    assert(rows.map(_.getAs[Int]("bin")).toSeq == (1 to 10))
    val total = Tables.load(spark, Sf, "events").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach(r => assert(math.abs(r.getAs[Long]("n") - total / 10.0) <= 5))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    case _ => }
  }
}
