package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ingest.WhitespaceCsv
import graft.retail.RetailQueries

class RetailQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("q1: filtered projection, only STANDARD rows, ISO dates") {
    val rows = RetailQueries.q1(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(2) == "STANDARD"))
    assert(rows.forall(_.getString(0).matches("\\d{4}-\\d{2}-\\d{2}")))
  }

  test("q2/q3: scalar count-distincts are positive and bounded") {
    val mag = RetailQueries.q2(spark, Sf).head().getLong(0)
    val fab = RetailQueries.q3(spark, Sf).head().getLong(0)
    assert(mag > 0 && mag <= 100)  // 100 suppliers in the fixture family
    assert(fab > 0 && fab <= 25)   // Brand#1..Brand#25
  }

  test("q5: top-k is sorted desc with magid tie-break and is a subset of the full ranking") {
    val top = RetailQueries.q5(spark, Sf).collect()
    assert(top.length == 10)
    val scores = top.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-_)))
    top.sliding(2).foreach {
      case Array(a, b) =>
        val (sa, sb) = (a.getAs[Double]("score"), b.getAs[Double]("score"))
        assert(sa > sb || (sa == sb && a.getAs[Long]("magid") < b.getAs[Long]("magid")))
      case _ =>
    }
  }

  test("q5 tie-break on a tie-heavy micro-fixture: identical scores order by magid asc") {
    // four stores with identical (fab, cat, prod, cnt) profiles
    val pdv = Seq.tabulate(4) { m =>
      Seq(("2022-01-01", 1L, "C", "F", m.toLong), ("2022-01-02", 2L, "C", "F", m.toLong))
    }.flatten.toDF("dateid", "prodid", "catid", "fabid", "magid")
      .withColumn("dateid", to_date(col("dateid")))
    val scored = pdv.groupBy("magid")
      .agg(countDistinct("fabid").as("f"), countDistinct("catid").as("c"),
        countDistinct("prodid").as("p"), count(lit(1)).as("n"))
      .withColumn("score", round(col("f") * 0.1 + col("c") * 0.2 + col("p") * 0.3 + col("n") * 0.4, 6))
      .orderBy(col("score").desc, col("magid").asc)
    assert(scored.select("magid").as[Long].collect().sameElements(Array(0L, 1L, 2L, 3L)))
  }

  /** A hostile pdv: a null in each counted column (store 1's product and
    * brand, store 3's category, two rows' store), duplicate rows, and a
    * store (2) with a single product. */
  private lazy val hostilePdv = Seq[(String, Option[Long], Option[String], Option[String], Option[Long])](
    ("1995-01-10", Some(1L), Some("STANDARD"), Some("Brand#12"), Some(1L)),
    ("1995-01-10", Some(1L), Some("STANDARD"), Some("Brand#12"), Some(1L)),
    ("1995-02-03", Some(2L), Some("STANDARD"), Some("Brand#12"), Some(1L)),
    ("1995-02-03", Some(3L), Some("STANDARD"), Some("Brand#13"), Some(1L)),
    ("1995-03-01", None,     Some("STANDARD"), Some("Brand#12"), Some(1L)),
    ("1996-05-05", Some(4L), Some("PROMO"),    None,             Some(1L)),
    ("1995-01-15", Some(5L), Some("STANDARD"), Some("Brand#12"), Some(2L)),
    ("1995-01-15", Some(5L), Some("STANDARD"), Some("Brand#12"), Some(2L)),
    ("1995-02-20", Some(6L), None,             Some("Brand#14"), Some(3L)),
    ("1995-02-21", Some(7L), Some("STANDARD"), Some("Brand#13"), Some(3L)),
    ("1995-02-21", Some(1L), Some("STANDARD"), Some("Brand#12"), Some(3L)),
    ("1995-01-20", Some(8L), Some("STANDARD"), Some("Brand#12"), None),
    ("1996-01-20", Some(2L), Some("STANDARD"), Some("Brand#12"), None)
  ).toDF("dateid", "prodid", "catid", "fabid", "magid")
    .withColumn("dateid", to_date(col("dateid")))

  /** `got` holds `ref`'s rows (as a multiset) under `ref`'s exact schema,
    * and each of `counts` is a non-nullable bigint there. */
  private def assertSameAs(what: String, got: DataFrame, ref: DataFrame, counts: String*): Unit = {
    val g = got.select(ref.columns.map(col).toIndexedSeq: _*)
    assert(g.schema == ref.schema, s"$what: schema ${g.schema} != ${ref.schema}")
    counts.foreach { c =>
      assert(g.schema(c).dataType == LongType && !g.schema(c).nullable, s"$what.$c: ${g.schema(c)}")
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(g) == rows(ref), s"$what: ${rows(g)} != ${rows(ref)}")
  }

  test("distinct-count builders equal a countDistinct reference on a hostile frame") {
    import RetailQueries._
    val pdv = hostilePdv
    val (debut, fin, fab) = ("1995-01-01", "1996-12-31", "Brand#12")
    // "NONE" matches no row: scalars give 0, groupings give no rows
    for (cat <- Seq("STANDARD", "NONE")) {
      val inCat = pdv.filter(col("catid") === cat)
      val inWindow = col("dateid").between(debut, fin)
      assertSameAs(s"magCat($cat)", magCat(pdv, cat),
        inCat.agg(countDistinct("magid").as("total_magasins")), "total_magasins")
      assertSameAs(s"fabCat($cat)", fabCat(pdv, cat),
        inCat.agg(countDistinct("fabid").as("total_fabricants")), "total_fabricants")
      assertSameAs(s"avgProdPerFab($cat)", avgProdPerFab(pdv, cat, debut, fin),
        inCat.filter(inWindow).groupBy("fabid").agg(countDistinct("prodid").as("n"))
          .agg(avg("n").as("avg_products_per_fab")))
      assertSameAs(s"topMagasinsCat($cat)", topMagasinsCat(pdv, cat, debut, fin),
        inCat.filter(inWindow).groupBy("magid").agg(
          countDistinct("fabid").as("total_fabricants"),
          countDistinct("prodid").as("total_produits"), count(lit(1)).as("total_ventes")),
        "total_fabricants", "total_produits", "total_ventes")
      assertSameAs(s"nbMagCatDate($cat)", nbMagCatDate(pdv, cat, 1995),
        inCat.filter(year(col("dateid")) === 1995)
          .groupBy(date_format(col("dateid"), "yyyy-MM").as("mois"))
          .agg(countDistinct("magid").as("nbmag")), "nbmag")
      // phase 2 of the composites over stores 1-3 plus one (99) with no rows
      val top10 = Seq(1L, 2L, 3L, 99L)
      assertSameAs(s"top1Stats($cat)", top1Stats(pdv, cat, top10),
        inCat.filter(col("magid").isin(top10: _*)).groupBy("magid").agg(
          countDistinct("fabid").as("total_fabricants"),
          countDistinct("prodid").as("total_produits"), count(lit(1)).as("total_ventes")),
        "total_fabricants", "total_produits", "total_ventes")
      // store 99's zero total: its percentage is NULL (the oracle's
      // DOUBLE / 0) and the mean skips it
      val top10Rows = Seq(1L -> 3L, 2L -> 1L, 3L -> 4L, 99L -> 0L)
      val refNb = inCat.filter(col("fabid") === fab && col("magid").isin(top10: _*))
        .groupBy("magid").agg(countDistinct("prodid").as("nb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perStore = avgFabTop10From(pdv, top10Rows, cat, fab)
      assert(perStore.schema("nb_produits_fab").dataType == LongType &&
        !perStore.schema("nb_produits_fab").nullable)
      assert(perStore.select("magid", "nb_produits_fab").as[(Long, Long)].collect().toMap ==
        top10.map(m => m -> refNb.getOrElse(m, 0L)).toMap, s"avgFabTop10From($cat)")
      val pct = perStore.select("magid", "percentage", "average")
        .as[(Long, Option[Double], Double)].collect()
      assert(pct.collect { case (99L, p, _) => p }.toSeq == Seq(None),
        s"avgFabTop10From($cat): a zero total's percentage is NULL")
      val nonZero = top10Rows.filter(_._2 != 0).map { case (m, t) =>
        refNb.getOrElse(m, 0L).toDouble / t * 100.0 }
      assert(pct.forall(r => math.abs(r._3 - nonZero.sum / nonZero.size) < 1e-6),
        s"avgFabTop10From($cat): the mean skips the zero total")
      // per month: mean over stores with rows that month and a nonzero total
      val refMonthly = inCat.filter(col("fabid") === fab && col("magid").isin(top10: _*))
        .groupBy(col("magid"), date_format(col("dateid"), "yyyy-MM").as("m"))
        .agg(countDistinct("prodid").as("nb"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      // store 3's zero total is skipped by the means
      val monthRows = top10Rows.updated(2, 3L -> 0L)
      val months = scoreSanteMonthsFrom(pdv, monthRows, cat, fab,
        java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-06-30"))
        .select("mois_annee", "avg_percentage").as[(String, Double)].collect()
      assert(months.map(_._1).toSeq == (1 to 6).map(m => f"1995-$m%02d"))
      months.foreach { case (m, got) =>
        val pcts = monthRows.collect { case (mag, tot) if tot != 0 && refMonthly.contains((mag, m)) =>
          refMonthly((mag, m)).toDouble / tot * 100.0 }
        val want = if (pcts.isEmpty) 0.0 else pcts.sum / pcts.length
        assert(math.abs(got - want) < 1e-6, s"scoreSanteMonthsFrom($cat) $m: $got != $want")
      }
    }
    // the second window matches no row
    for ((d, f) <- Seq((debut, fin), ("2001-01-01", "2001-12-31")))
      assertSameAs(s"topMagasins($d..$f)", topMagasins(pdv, d, f),
        pdv.filter(col("dateid").between(d, f)).groupBy("magid").agg(
          countDistinct("fabid").as("total_fabricants"), countDistinct("catid").as("total_categories"),
          countDistinct("prodid").as("total_produits"), count(lit(1)).as("total_ventes")),
        "total_fabricants", "total_categories", "total_produits", "total_ventes")
  }

  test("q8: safe ratio never yields null/NaN/Inf and months are sorted") {
    val rows = RetailQueries.q8(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("score_sante")
      assert(!s.isNaN && !s.isInfinite && s >= 0.0 && s <= 100.0)
    }
    val months = rows.map(_.getString(0))
    assert(months.sameElements(months.sorted))
  }

  test("q9: returns exactly the best store among q5's top-10") {
    val top10 = RetailQueries.q5(spark, Sf).select("magid").as[Long].collect().toSet
    val best = RetailQueries.q9(spark, Sf).collect()
    assert(best.length == 1)
    assert(top10.contains(best(0).getAs[Long]("magid")))
  }

  test("q10: percentages coherent with counts; average over all 10 stores") {
    val rows = RetailQueries.q10(spark, Sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val pct = r.getAs[Double]("percentage")
      val expect = r.getAs[Long]("nb_produits_fab").toDouble /
        r.getAs[Long]("total_produits") * 100.0
      assert(math.abs(pct - expect) < 1e-6)
    }
    val avg = rows.map(_.getAs[Double]("average")).distinct
    assert(avg.length == 1) // scalar broadcast to every row
  }

  test("q11 dual semantics: gapless spine; zero months excluded from the scalar mean") {
    val rows = RetailQueries.q11(spark, Sf).collect()
    assert(rows.length == 45) // 1995-01 .. 1998-09
    val months = rows.map(_.getString(0))
    assert(months.head == "1995-01" && months.last == "1998-09")
    assert(months.sameElements(months.sorted))
    val nonZero = rows.map(_.getAs[Double]("avg_percentage")).filter(_ != 0.0)
    if (nonZero.isEmpty) {
      // no month has data: reference emits 0.0 (views.py:335 count guard)
      assert(rows.forall(_.getAs[Double]("average") == 0.0))
    } else {
      val expected = BigDecimal(nonZero.sum / nonZero.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = rows.head.getAs[Double]("average")
      // means are computed pre-rounding in the engine; allow 1e-5 for re-derivation
      assert(math.abs(got - expected) < 1e-5, s"got $got expected ~$expected")
    }
  }

  test("ingest: whitespace CSV parses tabs/runs-of-spaces, lowercases, coerces dates") {
    val df = WhitespaceCsv.typed(WhitespaceCsv.read(spark,
      "/root/repo/src/test/resources/fixtures/produits-tous.csv"))
    assert(df.columns.toSeq == Seq("dateid", "prodid", "catid", "fabid"))
    assert(df.count() == 5)
    assert(df.schema("dateid").dataType.typeName == "date")
    val dates = df.select(date_format(col("dateid"), "yyyy-MM-dd")).as[String].collect().sorted
    assert(dates.head == "2022-01-01" && dates.last == "2022-12-31")
  }

  test("ingest: malformed rows (wrong arity) are dropped, not mis-parsed") {
    val tmp = java.nio.file.Files.createTempFile("graft_malformed", ".csv")
    java.nio.file.Files.writeString(tmp,
      """DateID  ProdID  CatID
        |20220101  1  10
        |20220102  2
        |20220103  3  30  999
        |
        |20220104  4  40
        |""".stripMargin)
    val df = WhitespaceCsv.read(spark, tmp.toString)
    // 2-token and 4-token rows and the blank line are dropped; 2 good rows remain
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("dateid", "prodid", "catid"))
  }

  test("ingest date round-trip yyyyMMdd -> date -> iso is lossless (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import org.scalatest.prop.Configuration
    val gen = for {
      y <- Gen.choose(1980, 2030); m <- Gen.choose(1, 12)
      d <- Gen.choose(1, java.time.YearMonth.of(y, m).lengthOfMonth)
    } yield (y, m, d)
    val prop = forAll(gen) { case (y, m, d) =>
      val raw = f"$y%04d$m%02d$d%02d"
      val iso = f"$y%04d-$m%02d-$d%02d"
      val got = Seq(raw).toDF("dateid")
        .select(date_format(to_date(col("dateid"), "yyyyMMdd"), "yyyy-MM-dd"))
        .head().getString(0)
      got == iso
    }
    val _ = Configuration
    org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
      .status match {
      case org.scalacheck.Test.Passed | org.scalacheck.Test.Proved(_) => ()
      case s => fail(s"property failed: $s")
    }
  }

  test("q12: ingest summary matches the authored fixture") {
    val r: Row = WhitespaceCsv.q12(spark, Sf).head()
    assert(r.getAs[Long]("n_rows") == 20)
    assert(r.getAs[String]("min_date") == "2022-01-01")
    assert(r.getAs[String]("max_date") == "2023-06-15")
    assert(r.getAs[Long]("sum_prodid") == (1 to 19).sum + 1) // dup row repeats prodid 1
  }
}
