package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextAnalysis}

/** Scale-growth rehearsal (VERDICT r9 task 3) — SKEWBENCH proves the dedup
  * family survives HOSTILE fixtures; this proves it GROWS right: the
  * pair-table mining pass, the eq127 chunked-suffix span dedup, and the
  * eq131 cluster-atomic split are each run over deterministic synthetic
  * corpora at 1×/3×/10× of the sf0.1 document count (5k/15k/50k), with
  * wall-clock AND the work-proxy counts (prefix candidates, verified
  * pairs, duplicated-span instances) recorded per scale. Linear growth in
  * the counts is the scale claim — wall-clock on local[32] tracks it only
  * loosely (constant job-scheduling overhead dominates small runs), which
  * is why the counts are the pinned invariant (ScaleSpec) and the seconds
  * are the recorded evidence.
  *
  * Fixture (deterministic, id-derived, no RNG): per 100 ids — 90 unique
  * 12-token docs (no near-dups), two 4-member near-dup template groups
  * (11 of 12 tokens shared → pairwise Jaccard 2/3, well over the 0.2
  * threshold; each group one cluster), and one pair of docs sharing a
  * 9-token run inside unique filler (two duplicated 8-gram starts → one
  * maximal span of 9 for eq127). So clusters, pairs, AND span mass all
  * scale linearly with the corpus by construction — a sub-quadratic
  * engine must track them; a Σdf²-style blowup cannot hide. Languages
  * cycle over 5 values so eq131's split and the per-lang operators see
  * the production key distribution.
  *
  * Methodology: corpus generation is localCheckpoint-ed out of every
  * timing; the mining pass is timed cold (memo cleared before each of
  * three passes, median), eq131 timed with the pair memo WARM (its
  * production posture — the split consumes the mined artifact), eq127
  * timed as the self-contained pass it is. One JSON line →
  * SCALEBENCH.json; prose + table → SCALEBENCH.md §5 (committed). */
object ScaleBench {

  /** Deterministic corpus with linear near-dup/span structure: see object
    * Scaladoc. Requires only the `documents` columns the dedup family
    * reads (doc_id, text, lang, source, n_chars). Tokens are ALPHABETIC
    * (ids digit→letter translated) so the eq38 quality gate scores them
    * like text, keeping the composed eq136 chain non-trivial end to end
    * on this fixture; token DISTINCTNESS (what the dedup counts pin) is
    * untouched by the translation. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    def alpha(c: org.apache.spark.sql.Column) =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"))
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(100)).as("kind"),
      (col("id") / 100).cast("long").as("blk"))
    val uniqueText = concat_ws(" ",
      (0 until 12).map(j => concat(lit("u"), alpha(col("doc_id")), lit(s"t$j"))): _*)
    // near-dup template: 11 shared tokens per (block, subgroup) + 1
    // member-distinct token → shingle Jaccard 8/12 = 2/3 per pair
    val sub = ((col("kind") - 90) / 4).cast("int")
    val ndText = concat_ws(" ",
      ((0 until 11).map(j =>
        concat(lit("n"), alpha(col("blk")), lit("s"), alpha(sub), lit(s"t$j")))
        :+ concat(lit("m"), alpha(col("doc_id")))): _*)
    // span pair: 3 unique + 9 block-shared + 3 unique tokens
    val spanText = concat_ws(" ",
      (0 until 3).map(j => concat(lit("f"), alpha(col("doc_id")), lit(s"a$j"))) ++
        (0 until 9).map(j => concat(lit("r"), alpha(col("blk")), lit(s"w$j"))) ++
        (0 until 3).map(j => concat(lit("f"), alpha(col("doc_id")), lit(s"b$j"))): _*)
    base.select(
      col("doc_id"),
      when(col("kind") < 90, uniqueText)
        .when(col("kind") < 98, ndText)
        .otherwise(spanText).as("text"),
      element_at(langs, pmod(col("doc_id"), lit(5)).cast("int") + 1).as("lang"),
      concat(lit("s"), pmod(col("doc_id"), lit(4))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** FIXED-size delta batch for the incremental-probe phase: ids
    * n..n+m-1, text INDEPENDENT of n (probe targets live in blocks 0..49,
    * which exist at every scale), so the batch and its true-duplicate
    * relation to the corpus are IDENTICAL across scales. Per 20 ids — one
    * EXACT duplicate of an old unique doc (the uniqueText formula
    * re-evaluated at an old id), two near-dup PROBES of old template
    * groups (the 11 shared template tokens of an old (block, subgroup) +
    * a fresh member token → high Jaccard vs each old member), and 17
    * fresh unique docs. Probe work is constant in m by construction — the
    * invariant the incremental path must hold as the corpus grows.
    * `targetBlocks` bounds the probed block range (must be ≤ n/100 at the
    * SMALLEST scale compared, so the same batch is valid everywhere). */
  def deltaCorpus(spark: SparkSession, n: Long, m: Long,
      targetBlocks: Long = 50L): DataFrame = {
    def alpha(c: org.apache.spark.sql.Column) =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"))
    val base = spark.range(n, n + m).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(20L)).as("k2"),
      (pmod(col("id"), lit(targetBlocks)) * 100 + pmod(col("id"), lit(90L))).as("old_id"),
      pmod(col("id"), lit(targetBlocks)).as("old_blk"),
      pmod(col("id"), lit(2L)).as("old_sub"))
    val exactText = concat_ws(" ",
      (0 until 12).map(j => concat(lit("u"), alpha(col("old_id")), lit(s"t$j"))): _*)
    val probeText = concat_ws(" ",
      ((0 until 11).map(j =>
        concat(lit("n"), alpha(col("old_blk")), lit("s"), alpha(col("old_sub")), lit(s"t$j")))
        :+ concat(lit("m"), alpha(col("doc_id")))): _*)
    val freshText = concat_ws(" ",
      (0 until 12).map(j => concat(lit("u"), alpha(col("doc_id")), lit(s"t$j"))): _*)
    base.select(
      col("doc_id"),
      when(col("k2") === 0, exactText)
        .when(col("k2") <= 2, probeText)
        .otherwise(freshText).as("text"),
      element_at(langs, pmod(col("doc_id"), lit(5)).cast("int") + 1).as("lang"),
      concat(lit("s"), pmod(col("doc_id"), lit(4))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)

    // Work-mass meter (VERDICT r10 task 2): shuffle/spill bytes are the
    // deterministic scale observable; seconds at these sizes are
    // scheduling-overhead-dominated (see object Scaladoc).
    val meter = WorkMass.meter(spark.sparkContext)

    val scales = Seq(1, 3, 10)
    val baseN = 5000L // the sf0.1 documents count
    val results = scales.map { s =>
      val n = baseN * s
      val docs = corpus(spark, n).repartition(cpus).localCheckpoint()
      // cold mining pass: shingle sets + prefix-filtered Jaccard join,
      // memo cleared before every timed pass (it is the once-per-corpus
      // cost being measured)
      val mineSec = Harness.median3 {
        Dedup.clearDerivedCaches()
        Dedup.jaccardPairsDf(docs).count()
      }
      // work proxies — the pinned scale claim; the mining pass's shuffle
      // mass is captured alongside (ScaleSpec pins its 1x→10x linearity)
      Dedup.clearDerivedCaches()
      var candidates = 0L
      var pairs = 0L
      val mineWork = meter {
        candidates = Dedup.prefixCandidatesDf(docs).count()
        pairs = Dedup.jaccardPairsDf(docs).count() // warms the memo too
      }
      // eq131 with the pair memo warm: its production posture
      val splitSec = Harness.median3(Dedup.clusterSplitDf(docs).count())
      // eq127: self-contained chunked-suffix pass
      val eq127Sec = Harness.median3(TextAnalysis.maxDupSpansDf(docs).count())
      val spanDocs = TextAnalysis.maxDupSpansDf(docs).count()
      // the COMPOSED eq136 chain over the same corpus: cold = one run
      // paying the full mining lifecycle (pair table + CC + BPE learn),
      // warm = re-run against the populated memos (the production
      // steady state: artifacts mined once per snapshot, audits re-run)
      graft.pipeline.Dedup.clearDerivedCaches()
      val chainT0 = System.nanoTime()
      var funnel: Array[org.apache.spark.sql.Row] = null
      val chainWork = meter {
        funnel = graft.pipeline.Curation.curationPipelineDf(docs).collect()
      }
      val chainColdSec = (System.nanoTime() - chainT0) / 1e9
      val chainWarmSec =
        Harness.median3(graft.pipeline.Curation.curationPipelineDf(docs).collect())
      val kept = funnel.sortBy(_.getInt(0)).map(_.getLong(2)).last

      // ---- incremental probe (r11): a FIXED 1000-doc delta (identical
      // batch at every scale — deltaCorpus is n-independent) probed
      // against the GROWING corpus with the signature index memo WARM,
      // the eq104/eq137 "new crawl arrives" posture. The flagged counts
      // are scale-invariant by construction; the probe's WORK-MASS
      // trajectory vs corpus size is the measured claim ("touch the new
      // terabyte, not the 100 TB index").
      val deltaM = 1000L
      val union = docs.unionByName(deltaCorpus(spark, n, deltaM))
        .repartition(cpus).localCheckpoint()
      val isNew = col("doc_id") >= n
      def probeFlags(): (Long, Long) = {
        val newDocs = union.filter(isNew)
          .select(col("doc_id"), md5(col("text")).as("h"))
        val ex = newDocs
          .join(broadcast(Dedup.matchedOldHashes(union, isNew)), Seq("h"), "left_semi")
          .count()
        val nr = Dedup.incrementalNearIds(union, isNew).count()
        (ex, nr)
      }
      Dedup.clearDerivedCaches()
      val incT0 = System.nanoTime()
      val incIndexWork = meter(probeFlags()) // cold: pays the index build
      val incIndexSec = (System.nanoTime() - incT0) / 1e9
      val incProbeSec = Harness.median3(probeFlags()) // warm: the per-batch cost
      var incFlags = (0L, 0L)
      val incProbeWork = meter { incFlags = probeFlags() }

      // ---- at-rest advance + compaction (r11, eq141/eq142): the state
      // tables written once per snapshot (setup, untimed), memos cleared
      // (the fresh-restart posture), then the SAME fixed delta ADVANCED
      // into the stored state — the per-ingest maintenance cost, which
      // must stay batch-bounded as the state grows (ScaleSpec pins the
      // 1x→10x shuffle ratio). Compaction is measured beside it as the
      // corpus-sized rewrite it deliberately is (paid once, not per
      // delta).
      import graft.sources.SnapshotStateSink
      val st = SnapshotStateSink.write(spark, union, isNew, !isNew)
      Dedup.clearDerivedCaches()
      val advT0 = System.nanoTime()
      var advSt: SnapshotStateSink.StateTables = null
      val advWork = meter { advSt = SnapshotStateSink.advance(spark, union, st, isNew) }
      val advSec = (System.nanoTime() - advT0) / 1e9
      val compT0 = System.nanoTime()
      val compWork = meter(SnapshotStateSink.compact(spark, advSt))
      val compSec = (System.nanoTime() - compT0) / 1e9

      // ---- post-retraction repack (r12, eq145): measured on its own
      // fresh snapshot (the advance above appends into its state's
      // tables in place), a ~1% deletion slice of the indexed corpus,
      // tombstones applied (compact), then the pack layer rebuilt — the
      // corpus-sized per-lang window that retraction deliberately defers
      // out of the per-deletion path. Its work mass GROWING with the
      // corpus is the honest record (ScaleSpec pins that, plus the
      // batch-bounded advance after it).
      import graft.sources.DedupIndexSink
      val stR = SnapshotStateSink.write(spark, union, isNew, !isNew)
      val isDel = !isNew && pmod(col("doc_id"), lit(97)) === lit(3)
      val tR = DedupIndexSink.compact(spark,
        DedupIndexSink.retract(spark, union, stR.index, isNew, isDel))
      Dedup.clearDerivedCaches()
      val rpT0 = System.nanoTime()
      val rpWork = meter {
        SnapshotStateSink.repack(spark, union, stR.copy(index = tR), isDel, !isNew)
      }
      val rpSec = (System.nanoTime() - rpT0) / 1e9

      println(s"[scalebench] ${s}x: n=$n mine=$mineSec split=$splitSec " +
        s"eq127=$eq127Sec chainCold=$chainColdSec chainWarm=$chainWarmSec " +
        s"cand=$candidates pairs=$pairs spanDocs=$spanDocs chainKept=$kept " +
        s"mineShufRead=${mineWork.shuffleRead} chainShufRead=${chainWork.shuffleRead} " +
        s"incIndex=$incIndexSec incProbe=$incProbeSec " +
        s"incFlags=$incFlags incProbeShufRead=${incProbeWork.shuffleRead} " +
        s"advance=$advSec advShufRead=${advWork.shuffleRead} " +
        s"compact=$compSec compShufRead=${compWork.shuffleRead} " +
        s"repack=$rpSec repackShufRead=${rpWork.shuffleRead}")
      (s, n, mineSec, splitSec, eq127Sec, candidates, pairs, spanDocs,
        chainColdSec, chainWarmSec, kept, mineWork, chainWork,
        (incIndexSec, incProbeSec, incFlags, incIndexWork, incProbeWork),
        (advSec, advWork, compSec, compWork, rpSec, rpWork))
    }
    // ---- state-log MAINTENANCE horizon (r16, VERDICT r15 task 7):
    // checkpoint, graced sweep, graced vacuum at 1×/3×/10× the manifest
    // length (2/6/20 committed generations over a fixed 2k-doc base).
    // These are driver-side ops — listings, an mtime walk, a tiny
    // merged-row write, catalog drops — so the recorded claim is driver
    // SECONDS growing with manifest rows only, work proxies (files
    // merged, tables dropped) exactly linear, and data movement
    // manifest-row-sized (ScaleSpec pins the counts + byte class in CI).
    import graft.sources.{SnapshotStateSink, StateLog}
    def alphaL(c: org.apache.spark.sql.Column) =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    def miniBatch(id: Long) = spark.range(20).select(
      (lit(id) * 1000L + col("id") + 9000000L).as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("q"), alphaL(lit(id)), lit("d"), alphaL(col("id")),
          lit(s"t$j"))): _*).as("text"),
      lit("en").as("lang"), lit("src").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    def backdate(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(backdate))
      f.setLastModified(System.currentTimeMillis() - 86400000L): Unit
    }
    val maint = Seq(1, 3, 10).map { s =>
      val gens = 2 * s
      val old = corpus(spark, 2000L).localCheckpoint()
      val st = SnapshotStateSink.write(spark, old, lit(false), lit(true))
      val ref = StateLog.fromSnapshot(spark, st,
        StateLog.writeCorpusStore(spark, old))
      graft.pipeline.Dedup.clearDerivedCaches()
      (0 until gens).foreach { i =>
        require(StateLog.ingestBatch(spark, ref, st, miniBatch(i.toLong), i.toLong))
      }
      StateLog.compactLog(spark, ref)
      val ckT0 = System.nanoTime()
      var ck = (0L, 0L)
      val wCk = meter { ck = StateLog.checkpointManifest(spark, ref) }
      val ckSec = (System.nanoTime() - ckT0) / 1e9
      val orphan = new java.io.File(sys.props("java.io.tmpdir"),
        s"${ref.manifest}_hash_b99_amaint${gens}_1")
      miniBatch(99L).select("doc_id").write.mode("overwrite").parquet(orphan.getPath)
      backdate(orphan)
      val swT0 = System.nanoTime()
      var swept = 0
      val wSw = meter { swept = StateLog.sweep(spark, ref, graceMs = 600000L).size }
      val swSec = (System.nanoTime() - swT0) / 1e9
      val mdir = new java.io.File(sys.props("java.io.tmpdir"),
        s"${ref.manifest}_manifest")
      Option(mdir.listFiles()).foreach(_.filter(_.getName.startsWith("part-ckpt-"))
        .foreach(f => f.setLastModified(System.currentTimeMillis() - 86400000L): Unit))
      val vaT0 = System.nanoTime()
      var vac = 0
      val wVa = meter { vac = StateLog.vacuum(spark, ref, graceMs = 600000L).size }
      val vaSec = (System.nanoTime() - vaT0) / 1e9
      println(s"[scalebench] maint ${s}x: gens=$gens ckptFiles=${ck._1}->${ck._2} " +
        s"ckptSec=$ckSec sweepSec=$swSec swept=$swept vacSec=$vaSec vacuumed=$vac " +
        s"ckShufRead=${wCk.shuffleRead} swShufRead=${wSw.shuffleRead} " +
        s"vaShufRead=${wVa.shuffleRead}")
      s"""{"scale":$s,"gens":$gens,"ckpt_files_before":${ck._1},""" +
        s""""ckpt_files_after":${ck._2},"ckpt_sec":$ckSec,""" +
        s""""sweep_sec":$swSec,"swept":$swept,"vacuum_sec":$vaSec,""" +
        s""""vacuumed":$vac,"ckpt_work":${wCk.json},""" +
        s""""sweep_work":${wSw.json},"vacuum_work":${wVa.json}}"""
    }

    val json = "{\"metric\":\"scalebench\",\"unit\":\"sec\",\"cpus\":" + cpus +
      ",\"maintenance\":[" + maint.mkString(",") + "]" +
      ",\"base_docs\":" + baseN + ",\"scales\":[" +
      results.map { case (s, n, m, sp, e, c, p, d, cc, cw, k, mw, chw, inc, atRest) =>
        val (ii, ip, (fe, fn), iw, pw) = inc
        val (as, aw, cs, cpw, rs, rw) = atRest
        s"""{"scale":$s,"docs":$n,"mine_sec":$m,"split_sec":$sp,""" +
          s""""eq127_sec":$e,"prefix_candidates":$c,"pairs":$p,"span_docs":$d,""" +
          s""""chain_cold_sec":$cc,"chain_warm_sec":$cw,"chain_kept_docs":$k,""" +
          s""""mine_work":${mw.json},"chain_work":${chw.json},""" +
          s""""inc_index_sec":$ii,"inc_probe_sec":$ip,""" +
          s""""inc_exact_flagged":$fe,"inc_near_flagged":$fn,""" +
          s""""inc_index_work":${iw.json},"inc_probe_work":${pw.json},""" +
          s""""advance_sec":$as,"advance_work":${aw.json},""" +
          s""""compact_sec":$cs,"compact_work":${cpw.json},""" +
          s""""repack_sec":$rs,"repack_work":${rw.json}}"""
      }.mkString(",") + "]}"
    println(json)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALEBENCH_OUT", "SCALEBENCH.json")),
      json.getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[scalebench] file sink failed: ${e.getMessage}") }
    spark.stop()
  }
}
