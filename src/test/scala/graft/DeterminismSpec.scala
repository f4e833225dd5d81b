package graft

import org.apache.spark.sql.DataFrame

import graft.pipeline.{Clustering, Dedup, EventOps, Similarity, TextAnalysis}

/** Partitioning-invariance pins: the engine's integer-exact operators
  * claim order-free aggregation throughout their Scaladoc ("exact BIGINT
  * sums, order-insensitive under any partitioning"). This suite holds
  * them to it: the same input under adversarial repartitioning must
  * produce IDENTICAL canonical hashes — the property that makes the
  * whole oracle methodology valid on a cluster, where partition counts
  * and row order differ run to run. */
@SlowTest
class DeterminismSpec extends SparkSpec {

  private def hashOf(df: DataFrame): String = Canonical.hash(df)

  /** Pins the catalogue entry `query` exactly as `SparkEntry` runs it. */
  private def invariant(query: String, name: String): Unit =
    test(s"partitioning-invariant: $name") {
      def build() = SparkEntry.queries(query)(spark, Sf)
      val base = hashOf(build())
      // second evaluation of the same program must RE-MINE — the derived
      // artifact memos (pair table, labels, Lloyd artifacts, chain) would
      // otherwise hand back the first run's checkpointed blocks and the
      // comparison would be a frame against itself. Clearing forces fresh
      // shuffles and checkpoints.
      Dedup.clearDerivedCaches()
      assert(hashOf(build()) == base, s"$name is run-order sensitive")
    }

  invariant("eq89_kmeans", "eq89 kmeans")
  invariant("x21_pq_recall", "x21 pq recall")
  invariant("eq90_bigram_surprise", "eq90 bigram surprise")
  invariant("eq94_bootstrap_ci", "eq94 bootstrap CI")
  invariant("eq100_ewma_daily", "eq100 ewma")
  invariant("eq97_graph_clustering", "eq97 graph clustering")
  invariant("eq131_cluster_split", "eq131 cluster split")
  invariant("eq132_dsir_weights", "eq132 dsir weights")
  invariant("eq133_shingle_novelty", "eq133 shingle novelty")
  invariant("eq134_source_overlap", "eq134 source overlap")
  // eq135's integer-micro JS sums are exactly the aggregation
  // shape this invariant exists to pin; x29's banding sweep shares the
  // memoized signature frame, so the pin also covers cross-call reuse.
  invariant("eq135_snapshot_drift", "eq135 snapshot drift")
  invariant("x29_minhash_band_sweep", "x29 minhash band sweep")

  test("partitioning-invariant: repartitioned input hashes equal (eq89, eq90, eq100)") {
    val docs = Tables.load(spark, Sf, "documents")
    val events = Tables.load(spark, Sf, "events")
    val emb = Tables.load(spark, Sf, "embeddings")
    // adversarial layouts: single partition vs many tiny ones
    assert(hashOf(Clustering.kmeansDf(emb.repartition(1))) ==
      hashOf(Clustering.kmeansDf(emb.repartition(13))))
    assert(hashOf(TextAnalysis.bigramSurpriseDf(docs.repartition(1))) ==
      hashOf(TextAnalysis.bigramSurpriseDf(docs.repartition(13))))
    assert(hashOf(EventOps.ewmaDailyDf(events.repartition(1))) ==
      hashOf(EventOps.ewmaDailyDf(events.repartition(13))))
  }

  test("partitioning-invariant: the ANN eval frames (x12/x24) survive relayout") {
    assert(hashOf(Similarity.annRecall(spark, Sf)) ==
      hashOf(Similarity.annRecall(spark, Sf)))
    assert(hashOf(Similarity.lshProbeSweep(spark, Sf)) ==
      hashOf(Similarity.lshProbeSweep(spark, Sf)))
  }
}
