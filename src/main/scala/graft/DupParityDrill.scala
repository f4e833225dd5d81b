package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Degenerate-corpus parity drill (round 10): the driver fixtures contain
  * ZERO exact duplicates and no document under 3 tokens (verified against
  * sf0.001/sf0.01), so the correctness gate has never exercised the
  * exact-dedup drop path, shingle-free short documents, or the
  * singleton-cluster subtlety (identical sub-3-token twins are SEPARATE
  * singleton clusters — no Jaccard-1 pair exists to merge them) against
  * the DuckDB oracle. This main manufactures a hostile `documents` table
  * that hits all of those, a hostile `embeddings` table ([[embFixture]]),
  * and copies the remaining sf0.001 base tables verbatim — so ALL
  * declared queries run against the dir — then dumps them with
  * [[Verify.dump]] (fixture preflight metadata and the full oracle map
  * included); `tools/parity.py <fixtureDir> <outDir>`
  * closes the loop in DuckDB. Run per round; results in TESTRUN_r{N}.md.
  * Round-10 findings fixed: the zero-norm ANSI cosine crash
  * ([[graft.pipeline.Similarity.safeDiv]]) and the eq113 Spearman crash
  * on a single-document language slice (zero rank variance).
  *
  * Fixture blocks (deterministic, id-derived):
  *   - 400 unique 12-alpha-token docs (the benign mass);
  *   - 20 exact-dup TRIPLES (≥3 tokens → the twins share a Jaccard-1
  *     cluster; stage-2 keeps the min doc_id, stage-3 sees one cluster);
  *   - 10 exact-dup SHORT pairs (2 tokens → shingle-free → each twin is
  *     its OWN singleton cluster; only exact dedup can collapse them);
  *   - 10 single-token docs (shingle-free, low quality, exercise the
  *     n_shingles=0 guards in eq29/eq127/eq135 and the quality gate);
  *   - 15 near-dup triples (11/12 shared tokens, Jaccard 2/3);
  *   - 10 span pairs (9-token shared run inside unique filler);
  *   - case/whitespace probes (mixed case + double spaces — lower/trim
  *     + regex '\s+' must agree across engines).
  */
object DupParityDrill {

  /** Degenerate embeddings: a zero vector (norm 0 — crashed the whole
    * cosine family under ANSI before the safeDiv guard), an exact
    * duplicate pair (sim exactly 1), an antipodal pair (sim exactly −1),
    * and a float-underflow near-zero vector, inside 200 otherwise-normal
    * seeded vectors. */
  def embFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      (0 until 64).map(d =>
        ((scala.util.hashing.MurmurHash3.productHash((seed, d)) % 1000) / 1000.0f)).toArray
    (0L until 200L).map { id =>
      val v =
        if (id == 50) Array.fill(64)(0.0f) // zero vector
        else if (id == 60) vec(59) // exact duplicate of 59
        else if (id == 61) vec(59).map(x => -x) // antipodal of 59
        else if (id == 62) Array.fill(64)(1e-30f) // underflow near-zero
        else vec(id.toInt)
      (id, v, (id % 8).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Degenerate events: timestamp TIES (a 50-event pile-up on one μs and
    * exact same-(user,type,ts) pairs — exposes any window ordered by ts
    * without an event_id tie-break), a single-event user, a single-type
    * burst inside one minute (zero-variance Fano slice), an exact
    * 30-minute-gap session chain (the >= split boundary), malformed /
    * missing / mistyped `props` JSON (the try-cast tolerance paths), and
    * zero values. ts written TIMESTAMP(MICROS)-annotated like the driver
    * fixtures (the engine's loader sniffs the annotation; DuckDB reads
    * the column as TIMESTAMP directly, as the oracles assume). */
  def eventsFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val types = Vector("click", "view", "purchase", "signup", "error")
    val rows: Seq[(Long, Long, Long, String, Double, String)] =
      (0L until 800L).map { id => // benign mass: distinct ts, 20 users
        (id, base + id * 97000000L + (id % 13) * 1000L, id % 20,
          types((id % 5).toInt), (id % 1000) / 100.0, s"""{"k": ${id % 97}}""")
      } ++
      (800L until 850L).map { id => // one shared microsecond, 50 events
        (id, base + 86400000000L, id % 5, types((id % 5).toInt),
          (id % 7) / 10.0, s"""{"k": ${id % 11}}""")
      } ++
      (850L until 870L).map { id => // 10 exact (user,type,ts) tied pairs
        val pair = (id - 850) / 2
        (id, base + 90000000000L + pair * 60000000L, 3L, "click",
          1.5, s"""{"k": ${pair}}""")
      } ++
      Seq((870L, base + 95000000000L, 777L, "purchase", 42.0, """{"k": 7}""")) ++
      (871L until 880L).map { id => // user 778: one type, 1-min spacing
        (id, base + 100000000000L + (id - 871) * 60000000L, 778L, "view",
          0.5, s"""{"k": ${id % 5}}""")
      } ++
      (880L until 910L).map { id => // 30-event single-minute burst
        (id, base + 110000000000L + (id - 880) * 1000000L, 779L, "view",
          0.25, s"""{"k": 3}""")
      } ++
      (910L until 914L).map { id => // exact 30-min session boundaries
        (id, base + 120000000000L + (id - 910) * 1800000000L, 780L, "click",
          1.0, s"""{"k": 1}""")
      } ++
      Seq( // 30-min-minus-1μs pair: must merge where the exact gap splits
        (914L, base + 130000000000L, 781L, "click", 1.0, """{"k": 1}"""),
        (915L, base + 130000000000L + 1799999999L, 781L, "click", 1.0, """{"k": 1}""")) ++
      (916L until 940L).map { id => // hostile props cycle
        val p = (id % 9) match {
          case 0 => null
          case 1 => "{}"
          case 2 => "not json at all"
          case 3 => """{"k": "xyz"}"""
          case 4 => """{"k": null}"""
          case 5 => "[1,2,3]"
          case 6 => """{"k": 87, "extra": true}"""
          case 7 => """{"m": 5}"""
          // PRESENT-but-non-numeric $.m (ADVICE r10): valid JSON whose m
          // cannot cast to long — plain variant_get would ANSI-crash eq130
          // while the DuckDB twin answers; must count as missing/null
          case _ => """{"m": "xyz"}"""
        }
        (id, base + 140000000000L + (id - 916) * 3600000000L, id % 10,
          types((id % 5).toInt), (id % 100) / 10.0, p)
      } ++
      (940L until 950L).map { id => // zero-value purchases
        (id, base + 150000000000L + (id - 940) * 7200000000L, id % 6,
          "purchase", 0.0, s"""{"k": ${id % 97}}""")
      } ++
      Seq((950L, base + 160000000000L, 2L, "purchase", 100000.0, """{"k": 96}"""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts)"))
  }

  def fixture(spark: SparkSession): DataFrame = {
    def alpha(c: org.apache.spark.sql.Column) =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"))
    // ids 0..399 unique; 400..459 exact triples (20 groups of 3);
    // 460..479 short exact pairs (10 pairs of 2); 480..489 single-token;
    // 490..534 near-dup triples (15 groups of 3); 535..554 span pairs
    // (10 pairs); 555..559 case/whitespace probes; 560 a SINGLE doc in a
    // language of its own (1-row per-lang partitions: the slice shape
    // that zeroes rank variances and per-group moments); 561..565 docs
    // whose source has NO digit suffix (the eq65 naming-contract breaker
    // that ANSI-crashed the plain regexp_extract cast)
    val base = spark.range(566).select(col("id").as("doc_id"))
    val uniqueText = concat_ws(" ",
      (0 until 12).map(j => concat(lit("base"), alpha(col("doc_id")), lit(s"t$j"))): _*)
    val tripleG = ((col("doc_id") - 400) / 3).cast("long")
    val tripleText = concat_ws(" ",
      (0 until 12).map(j => concat(lit("trip"), alpha(tripleG), lit(s"t$j"))): _*)
    val shortG = ((col("doc_id") - 460) / 2).cast("long")
    val shortText = concat(lit("tiny"), alpha(shortG), lit(" twin"))
    val oneText = concat(lit("solo"), alpha(col("doc_id")))
    val ndG = ((col("doc_id") - 490) / 3).cast("long")
    val ndM = pmod(col("doc_id") - 490, lit(3))
    val ndText = concat_ws(" ",
      ((0 until 11).map(j => concat(lit("near"), alpha(ndG), lit(s"t$j")))
        :+ concat(lit("memb"), alpha(col("doc_id")))): _*)
    val spanG = ((col("doc_id") - 535) / 2).cast("long")
    val spanText = concat_ws(" ",
      (0 until 3).map(j => concat(lit("fill"), alpha(col("doc_id")), lit(s"a$j"))) ++
        (0 until 9).map(j => concat(lit("runn"), alpha(spanG), lit(s"w$j"))) ++
        (0 until 3).map(j => concat(lit("fill"), alpha(col("doc_id")), lit(s"b$j"))): _*)
    // case/whitespace probes: same LOGICAL tokens as doc 0's text but with
    // mixed case and doubled separators — lower+trim+'\s+' must normalize
    // them identically in both engines (they become exact dups of nothing,
    // near-dups of doc 0 via full shingle overlap after normalization)
    val probeText = when(col("doc_id") === 555,
        lit("BASEa  Tt0 basea t1  basea T2 basea t3 basea t4 basea t5"))
      .when(col("doc_id") === 556,
        lit("basea  tt0 BASEA T1 basea t2 BASEA t3 basea T4 basea t5"))
      .when(col("doc_id") === 557, lit("  padded doc with  leading  spaces"))
      .when(col("doc_id") === 558, lit("Padded  Doc With  LEADING spaces"))
      .otherwise(lit("lone probe document tail case"))
    base.select(
      col("doc_id"),
      when(col("doc_id") < 400 || col("doc_id") > 560, uniqueText)
        .when(col("doc_id") < 460, tripleText)
        .when(col("doc_id") < 480, shortText)
        .when(col("doc_id") < 490, oneText)
        .when(col("doc_id") < 535, ndText)
        .when(col("doc_id") < 555, spanText)
        .when(col("doc_id") === 560, lit("lone romanian document of its very own language slice"))
        .otherwise(probeText).as("text"),
      when(col("doc_id") === 560, lit("ro"))
        .otherwise(element_at(langs, pmod(col("doc_id"), lit(5)).cast("int") + 1)).as("lang"),
      when(col("doc_id") > 560, lit("webdump"))
        .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(4)))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Hostile star slices (VERDICT r10 task 7): the r10 drill hardened
    * documents/embeddings/events while the star tables ran verbatim.
    * Three degenerate shapes the driver fixtures never produce, derived
    * from the donor tables so schemas and the remaining mass stay real:
    *
    *  - the retail surface's queried category (`RetailQueries.Cat` =
    *    STANDARD) is ABSENT from part — every retail mirror runs over an
    *    empty pdv slice (scalar counts 0, AVG/weighted-score/ratio over
    *    zero rows, empty top-k, an all-0-fill store spine);
    *  - an EMPTY month (1995-06) inside every queried BETWEEN/year window
    *    — month groupings skip it and the q11 month×store spine must
    *    densify it back with zero rows;
    *  - a single-LINEITEM nation: exactly one lineitem row survives for
    *    orders placed by nation-3 customers, so per-nation trends (eq91)
    *    see ONE month (OLS slope undefined → NULL) and every per-nation
    *    statistic crosses a 1-row slice. */
  def starFixtures(spark: SparkSession, donor: String): (DataFrame, DataFrame) = {
    val li = spark.read.parquet(s"$donor/lineitem.parquet")
    val part = spark.read.parquet(s"$donor/part.parquet")
    val orders = spark.read.parquet(s"$donor/orders.parquet")
    val cust = spark.read.parquet(s"$donor/customer.parquet")
    val n3Orders = orders.join(
        cust.filter(col("c_nationkey") === 3).select("c_custkey"),
        orders("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("n3_ok"))
    val noJune = li.filter(date_format(col("l_shipdate"), "yyyy-MM") =!= "1995-06")
    val n3One = noJune.join(broadcast(n3Orders), col("l_orderkey") === col("n3_ok"))
      .drop("n3_ok").orderBy("l_orderkey", "l_linenumber").limit(1)
    val hostileLi = noJune
      .join(broadcast(n3Orders), col("l_orderkey") === col("n3_ok"), "left_anti")
      .unionByName(n3One)
    (hostileLi, part.filter(col("p_type") =!= retail.RetailQueries.Cat))
  }

  def main(args: Array[String]): Unit = {
    val fixtureDir = if (args.length > 0) args(0) else "/tmp/paritydrill_sf"
    val outDir = if (args.length > 1) args(1) else "/tmp/paritydrill_out"
    // INT64 micros, not Spark's legacy INT96 default — the loader and
    // the DuckDB oracle both read the driver fixtures' encoding
    val spark = Harness.session(Harness.cpus(8),
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    // the harness reads single-FILE tables (testdata layout): stage each
    // Spark part-file, then move it to <fixtureDir>/<table>.parquet
    def writeTable(df: DataFrame, table: String): Unit = {
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$fixtureDir/_stage")
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val stage = new java.io.File(s"$fixtureDir/_stage")
      val part = stage.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error("no part file written"))
      Files.move(part.toPath, Paths.get(s"$fixtureDir/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      stage.listFiles().foreach(_.delete()); stage.delete()
    }
    writeTable(fixture(spark), "documents")
    writeTable(embFixture(spark), "embeddings")
    writeTable(eventsFixture(spark), "events")
    // star surface (r11): lineitem/part carry the hostile slices; the
    // remaining base tables come from sf0.001 verbatim, so EVERY declared
    // query (retail/events/star included) runs against this dir — the
    // drill is a full-surface degenerate sweep, not just the text family
    val donor = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    locally {
      val (hostileLi, hostilePart) = starFixtures(spark, donor)
      writeTable(hostileLi, "lineitem")
      writeTable(hostilePart, "part")
    }
    locally {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Tables.base.filterNot(t => t == "documents" || t == "embeddings" ||
          t == "events" || t == "lineitem" || t == "part")
        .foreach { t =>
          Files.copy(Paths.get(s"$donor/$t.parquet"),
            Paths.get(s"$fixtureDir/$t.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
    }
    graft.pipeline.Dedup.clearDerivedCaches() // fresh memo keys for this corpus
    Verify.dump(spark, fixtureDir, outDir, Harness.select(None))
    println(s"[drill] dumped ${SparkEntry.queries.size} queries over $fixtureDir")
    spark.stop()
  }
}
