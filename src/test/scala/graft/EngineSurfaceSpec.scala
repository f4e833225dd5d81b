package graft

import org.apache.spark.sql.functions._

import graft.sources.PartitionedLayout

/** Covers the remaining SURVEY.md §2 surface rows: S5 (SQL over registered
  * views), the month-partitioned at-rest layout (§4 partition pruning), and
  * the E6 typed Aggregator showcase. */
case class PdvRow(dateid: java.sql.Date, prodid: Long, catid: String,
                  fabid: String, magid: Long)

class EngineSurfaceSpec extends SparkSpec {

  test("S5: Tables.register exposes all base tables + pdv/produits to spark.sql") {
    Tables.register(spark, Sf)
    val viaSql = spark.sql(
      "SELECT COUNT(DISTINCT magid) AS total_magasins FROM pdv WHERE catid = 'STANDARD'")
      .head().getLong(0)
    val viaDf = retail.RetailQueries.q2(spark, Sf).head().getLong(0)
    assert(viaSql == viaDf)
    Tables.base.foreach(t => assert(spark.catalog.tableExists(t), t))
  }

  test("month-partitioned layout: same results, and the plan prunes partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    PartitionedLayout.writeMonthPartitioned(spark, Sf, out)
    // correctness: partitioned Q7 == view-based Q7
    val part = PartitionedLayout.q7Partitioned(spark, out, 1995).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val view = retail.RetailQueries.q7(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(part.sameElements(view))
    // pruning: the mois predicate must reach the file index as a partition
    // filter, not a data filter
    val plan = PartitionedLayout.read(spark, out)
      .filter(col("mois") === "1995-06")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1995-06"),
      s"expected partition filter in plan:\n$plan")
  }

  test("bucketed layout: co-located fact/dim join plans without a shuffle exchange") {
    import graft.sources.BucketedLayout
    // disable broadcast so the join strategy question is SMJ-vs-shuffle,
    // which is what bucketing answers at 100 TB (dims don't broadcast there)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedLayout.writeBucketed(spark, Sf)
      val joined = BucketedLayout.pdvBucketed(spark)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      // same row count as the view-based pdv
      assert(joined.count() == Tables.pdv(spark, Sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.sql(s"DROP TABLE IF EXISTS ${BucketedLayout.LineitemTable}")
      spark.sql(s"DROP TABLE IF EXISTS ${BucketedLayout.PartTable}")
    }
  }

  test("eq138 curated layout: lang partition pruning + shuffle-free doc_id bucket join") {
    import graft.sources.CuratedSink
    // disable broadcast: the join-strategy question bucketing answers at
    // 100 TB is SMJ-vs-shuffle (a 100 TB curated corpus never broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val curated = CuratedSink.writeAndRead(spark, Sf)
      // (a) a language predicate reaches the file index as a PARTITION
      // filter — a per-lang training read touches one directory
      val pplan = curated.filter(col("lang") === "en")
        .queryExecution.executedPlan.toString
      assert(pplan.contains("PartitionFilters") && pplan.contains("en"),
        s"expected lang partition filter in plan:\n$pplan")
      // (b) a doc-keyed join back to the curated corpus (enrichment /
      // provenance, the downstream consumer shape) plans with NO shuffle
      // exchange: both sides read bucket-aligned files
      val jplan = curated.as("a").join(curated.as("b"), "doc_id")
        .queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange"),
        s"expected shuffle-free bucketed self-join:\n$jplan")
      // round-trip fidelity: the read-back audit equals the in-memory
      // product's audit (same summarize, so they can only differ if the
      // write or the catalog read lost/mangled rows)
      val back = CuratedSink.summarize(curated).collect().map(_.toString)
      val mem = CuratedSink.summarize(
        pipeline.Curation.curatedDocs(spark, Sf)).collect().map(_.toString)
      assert(back.sameElements(mem), "write→read-back audit drifted from the in-memory product")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    }
  }

  test("eq139 at-rest dedup index: shuffle-free band_key bucket join + scan-only broadcast probe") {
    import graft.sources.DedupIndexSink
    import graft.pipeline.Dedup
    val docs = Tables.load(spark, Sf, "documents")
    val t = DedupIndexSink.write(spark, docs, DedupIndexSink.isNewCol)
    val (_, bandIdx, _, _) = DedupIndexSink.readBack(spark, t)
    // (a) bucket layout: an index-keyed self-join of the read-back band
    // index plans with NO shuffle exchange (broadcast off — the
    // SMJ-vs-shuffle question bucketing answers at 100 TB)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val jplan = bandIdx.as("a").join(bandIdx.as("b"), "band_key")
        .queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange"),
        s"expected shuffle-free bucketed self-join:\n$jplan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    }
    // (b) the per-ingest probe: batch band keys BROADCAST into the
    // stored-index scan — the index side must stay scan-only (no shuffle
    // exchange anywhere in the candidate join)
    val batchBanded = Dedup.batchBandKeys(docs.filter(DedupIndexSink.isNewCol))
    val pplan = Dedup.probeCandidates(batchBanded, bandIdx)
      .queryExecution.executedPlan.toString
    assert(pplan.contains("BroadcastHashJoin"),
      s"expected broadcast probe join:\n$pplan")
    assert(!pplan.contains("Exchange hashpartitioning"),
      s"expected scan-only index side (no shuffle):\n$pplan")
  }

  test("dynamic partition pruning: a join-driven month predicate prunes the partitioned fact") {
    import graft.sources.PartitionedLayout
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    PartitionedLayout.writeMonthPartitioned(spark, Sf, out)
    // a tiny dimension of months, selectively filtered — the fact-side scan
    // should receive a dynamicpruning expression on the mois partition col
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try {
    // dim as a parquet relation (DPP's benefit estimation needs a real
    // relation on the filtering side; a literal LocalRelation is folded)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dim").toString
    import spark.implicits._
    Seq(("1995-06", "june"), ("1995-07", "july"), ("1996-01", "jan"))
      .toDF("mois", "label").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = PartitionedLayout.read(spark, out)
      .join(dim.filter(col("label") === "june"), Seq("mois"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter in:\n$plan")
    assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // 50k rows all on one key vs a tiny uniform side; with toy-sized skew
    // thresholds AQE must mark the sort-merge join partition as skewed and
    // split it — the runtime re-plan the engine relies on for hot keys
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    try {
      val skewed = spark.range(50000).select(lit(0L).as("k"), col("id").as("payload"))
        .union(spark.range(200).select((col("id") % 10 + 1).as("k"), col("id")))
      val dim = spark.range(11).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = skewed.join(dim, Seq("k"))
      // drive THIS DataFrame's own query execution (count() would build a
      // separate aggregated plan and leave this one un-finalized)
      assert(joined.collect().length == 50200)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew="), s"expected a skew-handled join in:\n$finalPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    }
  }

  test("presentation-sort elision: the production plan drops the terminal global sort") {
    // the terminal orderBy on corpus-sized outputs exists only for the
    // oracle/golden canonical row order (VERDICT r8 task 7); with the
    // per-session presentationSorts conf off, the same query must plan
    // WITHOUT the range-partitioning exchange + global sort
    val docs = Tables.load(spark, Sf, "documents")
    val canonical = pipeline.TextAnalysis.qualityScoreDf(docs)
      .queryExecution.executedPlan.toString
    assert(canonical.contains("rangepartitioning"),
      s"canonical plan should carry the presentation sort:\n$canonical")
    spark.conf.set(Canonical.PresentationSortsKey, "false")
    try {
      val production = pipeline.TextAnalysis.qualityScoreDf(docs)
        .queryExecution.executedPlan.toString
      assert(!production.contains("rangepartitioning"),
        s"production plan must drop the global sort:\n$production")
      assert(!production.contains("Sort "),
        s"production plan must contain no sort at all for this map-side query:\n$production")
    } finally spark.conf.unset(Canonical.PresentationSortsKey)
  }

  test("presentation-sort toggle is session-scoped: a cloned session cannot race the parent") {
    // VERDICT r9 task 7: the toggle must not be JVM-global. Flipping it in
    // a newSession() clone serves the production plan THERE while the
    // parent session keeps planning the canonical sort concurrently.
    val child = spark.newSession()
    child.conf.set(Canonical.PresentationSortsKey, "false")
    val childPlan = pipeline.TextAnalysis
      .qualityScoreDf(Tables.load(child, Sf, "documents"))
      .queryExecution.executedPlan.toString
    val parentPlan = pipeline.TextAnalysis
      .qualityScoreDf(Tables.load(spark, Sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!childPlan.contains("rangepartitioning"),
      s"child session must plan production (no sort):\n$childPlan")
    assert(parentPlan.contains("rangepartitioning"),
      s"parent session must still plan the canonical sort:\n$parentPlan")
  }

  test("VARIANT column: parquet round-trip preserves typed paths; parse is once-per-row") {
    import org.apache.spark.sql.functions.{parse_json, variant_get, to_json}
    // the eq130 ingest shape: parse each JSON payload once into VARIANT,
    // persist to parquet (Spark 4 stores variant natively), read back,
    // and take typed paths off the stored column — no re-parse anywhere
    val out = java.nio.file.Files.createTempDirectory("graft_variant").toString
    Tables.load(spark, Sf, "events")
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema("v").dataType.typeName == "variant",
      s"parquet must round-trip the VARIANT type, got ${back.schema("v").dataType}")
    val typed = back.select(col("event_id"),
      variant_get(col("v"), "$.k", "long").as("k"))
    // values agree with the string-path extraction over the original table
    val viaString = Tables.load(spark, Sf, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    assert(typed.except(viaString).isEmpty && viaString.except(typed).isEmpty,
      "typed variant_get over stored VARIANT must equal get_json_object over the source strings")
    // the stored variant re-serializes to the same JSON it was parsed from
    val rt = back.select(to_json(col("v")).as("j")).limit(1).head().getString(0)
    assert(rt.contains("\"k\""), s"round-tripped variant JSON lost the key: $rt")
  }

  test("q1 plan: predicate pushed into the part scan, read schemas pruned, top-k never full-sorts q5") {
    val q1Plan = retail.RetailQueries.q1(spark, Sf).queryExecution.executedPlan.toString
    assert(q1Plan.contains("PushedFilters") && q1Plan.contains("EqualTo(p_type,STANDARD)"),
      s"expected pushed p_type filter in:\n$q1Plan")
    // projection pruning: the lineitem scan must not read quantity/price cols
    assert(!q1Plan.contains("l_extendedprice") && !q1Plan.contains("l_quantity"))
    val q5Plan = retail.RetailQueries.q5(spark, Sf).queryExecution.executedPlan.toString
    assert(q5Plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$q5Plan")
    assert(q5Plan.contains("Expand"), "multi-distinct should plan via Expand")
  }

  /** The executed plan of every action `body` runs, in order. The
    * listener bus is asynchronous: a marker action after `body` is awaited,
    * and events arrive in order, so `body`'s plans are all in by then. */
  private def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = spark.range(1)
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) seen.countDown()
        else plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      marker.collect()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener events never arrived")
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  test("q10/q11 composites: phase-1 top-10 is a literal, fact scanned once per phase-2 aggregate") {
    // phase 1 is collected once (<=10 rows) and re-enters phase 2 as a
    // LocalTableScan. Phase 2 runs as the localCheckpoint of its <=10-row
    // (or per-month) frame plus the final collect over that checkpoint, so
    // across the plans phase 2 actually runs the only parquet scans are one
    // pdv reference: lineitem + part = 2 — not 8 as when phase 1 was a live
    // subplan that re-scanned pdv per reference
    import retail.RetailQueries._
    val pdv = Tables.pdv(spark, Sf)
    val q10Top = collectTop10Cat(pdv, Cat, Debut, Fin)
    val q11Top = collectTop10Cat(pdv, Cat, Debut, AsOf)
    for ((q, phase2) <- Seq(
        "q10" -> (() => avgFabTop10From(pdv, q10Top, Cat, Fab).collect()),
        "q11" -> (() => scoreSanteMonthsFrom(spark, pdv, q11Top, Cat, Fab,
          java.time.LocalDate.parse(Debut), java.time.LocalDate.parse(AsOf)).collect()))) {
      val all = executedPlans(phase2()).mkString("\n---\n")
      val scans = "Scan parquet".r.findAllIn(all).length
      assert(scans <= 2, s"$q: expected <= 2 parquet scans, got $scans:\n$all")
      assert(all.contains("LocalTableScan"), s"$q: materialized top-10 missing:\n$all")
    }
  }

  test("round-6 operators: plan shapes hold (no cartesian, pruned scans, top-k, one Expand)") {
    // eq66/eq75 blocking self-joins must stay equi-joins on the block key
    for (q <- Seq(pipeline.Dedup.sortedNeighborhood(spark, Sf),
                  pipeline.Dedup.editLinkage(spark, Sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      // the rank-distance predicate must ride a hash join, not a
      // nested-loop over unbounded sides
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
    }
    // eq71: the Gramian pass reads ONLY the embedding column and the
    // top-50 is a TakeOrderedAndProject
    val g = pipeline.Similarity.gramTopPairs(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(g.contains("TakeOrderedAndProject"), s"top-k missing:\n$g")
    assert(g.contains("ReadSchema: struct<embedding"), s"unpruned scan:\n$g")
    assert(!g.contains("vec_id"), "gram scan must not read vec_id")
    // eq73: trigram mining is a window + TakeOrderedAndProject, never a
    // per-user collect
    val p = pipeline.EventOps.sessionPaths(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject") && p.contains("Window"))
    assert(!p.contains("collect_list"), "paths must not materialize per-user arrays")
    // eq76: four grouping sets plan as ONE Expand over the joined frame
    val gs = star.AggSurface.groupingSetsRevenue(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(gs).length == 1, s"expected one Expand:\n$gs")
    // eq64: both SCD windows share one user_id partitioning — exactly one
    // exchange hashpartitioning(user_id)
    val scd = pipeline.EventOps.scd2Tiers(spark, Sf)
      .queryExecution.executedPlan.toString
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(scd).length
    assert(userExchanges == 1, s"expected one user_id exchange, got $userExchanges:\n$scd")
  }

  test("round-7 operators: plan shapes hold (no cartesian, hash joins, bounded expands)") {
    // eq90/eq92: token/shingle-key hash joins only (eq90's one
    // BroadcastNestedLoopJoin is the deliberate 1-row vocab-scalar cross
    // join — the eq47 pattern — so only cartesians are banned here)
    for (q <- Seq(pipeline.TextAnalysis.bigramSurprise(spark, Sf),
                  pipeline.TextAnalysis.dupSpans(spark, Sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    }
    // eq92 carries no scalar join at all — full strictness there
    val ds = pipeline.TextAnalysis.dupSpans(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!ds.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$ds")
    // eq90's cut is a top-k, never a global sort
    val bs = pipeline.TextAnalysis.bigramSurprise(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(bs.contains("TakeOrderedAndProject"), s"top-k missing:\n$bs")
    // eq94: the ×32 replica fan-out is a generator (explode), and the
    // replica roll-up is ONE b-keyed exchange before the 32-row final
    val bc = pipeline.EventOps.bootstrapCi(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(bc.contains("Generate"), s"replica explode missing:\n$bc")
    assert(!bc.contains("CartesianProduct"), s"cartesian in:\n$bc")
    // eq98: the per-type bounds frame joins back by broadcast — never a
    // shuffle of the fact for a 5-row bounds side
    val wm = star.AggSurface.winsorizedMeans(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(wm.contains("BroadcastHashJoin"), s"bounds join not broadcast:\n$wm")
    // eq97: triangle joins stay equi-joins on the checkpointed edge list
    // (the three 1-row stat frames meet in bounded scalar cross joins, so
    // only unbounded cartesians are banned)
    val gc = pipeline.Dedup.graphClustering(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!gc.contains("CartesianProduct"), s"cartesian triangle join:\n$gc")
    // eq91: the five regression moments are ONE aggregate pass over the
    // monthly roll-up — no window, no second fact scan
    val ts = star.StarQueries.trendSlopes(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!ts.contains("Window"), s"unexpected window in OLS plan:\n$ts")
  }

  test("eq103-eq109 operators: plan shapes hold (broadcast prototypes, no cartesian, no stray shuffle)") {
    // eq105/eq107: the centroid prototype frames (labels x dims) join by
    // broadcast INSIDE the shared scoring pass (r17: both queries read
    // the one materialized top-2 assignment, so the prototype join lives
    // in the mining plan, not in each consumer's); candidate generation
    // stays equi-join — never a cartesian
    val scoring = pipeline.Similarity.centroidScores(
        Tables.load(spark, Sf, "embeddings"))
      .queryExecution.executedPlan.toString
    assert(scoring.contains("BroadcastHashJoin"),
      s"prototype join not broadcast:\n$scoring")
    for (q <- Seq(pipeline.Similarity.centroidConfusion(spark, Sf),
                  pipeline.Similarity.bitextMine(spark, Sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
    }
    // eq106: the 5-row rate frame joins the corpus by broadcast and the
    // membership test is a map-side filter — no sort-merge join anywhere
    val tm = pipeline.CorpusOps.temperatureMix(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(tm.contains("BroadcastHashJoin"), s"rate join not broadcast:\n$tm")
    assert(!tm.contains("SortMergeJoin"), s"sort-merge of a 5-row side:\n$tm")
    // eq103/eq108: single-pass shapes — no join at all in either plan
    for (q <- Seq(pipeline.EventOps.qualityGates(spark, Sf),
                  pipeline.TextAnalysis.piiScrub(spark, Sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"unexpected join in single-pass op:\n$plan")
    }
  }

  test("typed Dataset API: case-class pipeline agrees with the DataFrame plan") {
    import spark.implicits._
    val ds = Tables.pdv(spark, Sf).as[PdvRow]
    val typedCount = ds.filter(_.catid == "STANDARD")
      .groupByKey(_.magid).count().collect().toMap
    val untyped = Tables.pdv(spark, Sf).filter(col("catid") === "STANDARD")
      .groupBy("magid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(typedCount == untyped)
  }

  test("E6 Aggregator: single-pass typed weighted score equals the Expand-plan score") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.udaf
    import org.apache.spark.sql.types._
    val inSchema = StructType(Seq(
      StructField("fabid", StringType), StructField("catid", StringType),
      StructField("prodid", LongType)))
    val scoreUdaf = udaf(graft.functions.WeightedScore.q5Aggregator, Encoders.row(inSchema))
    val viaAgg = Tables.pdv(spark, Sf)
      .filter(col("dateid").between("1995-01-01", "1996-12-31"))
      .groupBy("magid").agg(round(scoreUdaf(col("fabid"), col("catid"), col("prodid")), 6).as("score"))
    val viaExpand = retail.RetailQueries.q5(spark, Sf).select("magid", "score")
    val m1 = viaAgg.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaExpand.collect().foreach { r =>
      assert(m1(r.getLong(0)) == r.getDouble(1), s"magid ${r.getLong(0)}")
    }
  }
}
