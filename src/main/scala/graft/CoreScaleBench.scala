package graft

import org.apache.spark.sql.functions._

/** Core-scaling rehearsal (r17, VERDICT r16 task 6): the sf0.1 bench is
  * fixed-cost dominated (planning + 2–6 small jobs per query), so its
  * 8-vs-32-core ratios sit at ~1 and demonstrate nothing about parallel
  * speedup — SCALEBENCH pins the WORK growth, this pins the SPEEDUP. The
  * heavy mining operators are timed over the ScaleBench 10× synthetic
  * corpus (50k docs ≈ a 10×-sf0.1 document count, linear near-dup/span
  * structure by construction) at whatever `SPARK_GRAFT_CPUS` says; run it
  * once at 8 and once at 32 and compare the JSON lines (committed as
  * CORESCALE_8.json / CORESCALE_32.json beside SCALEBENCH.md §6).
  *
  * Phases (each median-of-3 after a warm-up, memos cleared per pass where
  * the pass IS the once-per-corpus mining cost):
  *  - `pair_mine`: shingle sets + prefix-filtered Jaccard join (eq12's
  *    mining pass — the engine's biggest single shuffle);
  *  - `containment`: the eq43 inverted-index self-join + aggregate;
  *  - `dup_spans`: eq127's chunked-suffix span dedup.
  *
  * The corpus size comes from `GRAFT_CORESCALE_DOCS` (default 500k = 100×
  * the sf0.1 document count): the first probe at 50k showed every phase
  * still fixed-cost dominated (8-core ≈ 32-core — the same flat ratios as
  * the sf0.1 bench, which is exactly the gap this rehearsal closes), so
  * the committed data point uses the larger corpus where task compute
  * dominates scheduling. The composed eq136 chain is deliberately NOT a
  * phase: its cold cost is dominated by the BPE-learn's iterative
  * driver-side merge loop (vocabulary-bounded by design, not a parallel
  * operator), which would dilute the speedup signal this exists to show.
  */
object CoreScaleBench {
  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)

    val n = sys.env.getOrElse("GRAFT_CORESCALE_DOCS", "500000").toLong
    val docs = ScaleBench.corpus(spark, n)
      .repartition(cpus).localCheckpoint()

    val pairMine = Harness.median3 {
      graft.pipeline.Dedup.clearDerivedCaches()
      graft.pipeline.Dedup.jaccardPairsDf(docs).count(): Unit
    }
    val containment = Harness.median3 {
      graft.pipeline.Dedup.clearDerivedCaches()
      graft.pipeline.Dedup.containmentPairsDf(docs)
        .write.format("noop").mode("overwrite").save()
    }
    val dupSpans = Harness.median3 {
      graft.pipeline.TextAnalysis.maxDupSpansDf(docs)
        .write.format("noop").mode("overwrite").save()
    }
    val phases = Seq(
      "pair_mine" -> pairMine, "containment" -> containment,
      "dup_spans" -> dupSpans)
    val js = phases.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
    println(s"""CORESCALE_JSON: {"cpus":$cpus,"n_docs":$n,$js}""")
    spark.stop()
  }
}
