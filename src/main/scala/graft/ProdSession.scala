package graft

import org.apache.spark.sql.SparkSession

/** The cluster-deployment session builder: one audited artifact for the
  * configuration this engine assumes at 100 TB / 1000-executor scale,
  * instead of advice scattered across Scaladoc. Local test sessions
  * (SparkSpec, and [[Harness.session]] behind Verify, Bench and the other
  * driver mains) deliberately do NOT use this — they pin
  * small fixed shuffle partitioning for reproducibility; this is the
  * builder a deployment starts from.
  *
  * Every setting is tied to an operator family in this engine:
  *
  *  - **AQE on, with skew-join and partition coalescing** — the runtime
  *    safety net the skew rehearsal measures (SKEWBENCH.md scenario 2:
  *    OptimizeSkewedJoin splits the hot user's reducer; SkewSpec pins the
  *    `skew=true` rewrite). Coalescing keeps the fixed shuffle-partition
  *    count from fragmenting small intermediate frames (the engine's many
  *    bounded aggregate frames).
  *  - **shuffle.partitions ≈ 2–3× total executor cores** — big enough
  *    that one partition of the largest shuffle (lineitem-scale joins,
  *    shingle/pair-table shuffles) fits executor memory at the target SF,
  *    small enough that AQE coalescing isn't fighting thousands of empty
  *    reducers. With AQE's advisory sizing this is a ceiling, not a tuning
  *    knob.
  *  - **files.maxPartitionBytes 256 MB** — parquet scan granularity: at
  *    100 TB this yields ~400k scan tasks; smaller splits multiply task
  *    overhead on the scan-heavy profile (every query starts at a parquet
  *    scan with pushed filters, PLANS.md).
  *  - **advisoryPartitionSizeInBytes 64 MB** — the post-shuffle target AQE
  *    coalesces/splits toward; sized so a reducer's working set (hash
  *    aggregate of the pair table, window partitions) stays in-memory.
  *  - **autoBroadcastJoinThreshold 32 MB** — the engine leans on broadcast
  *    for dimension tables, top-k panels, centroid/vocab frames (PLANS.md
  *    passim); at cluster memory sizes 32 MB broadcasts every such frame
  *    while never broadcasting a fact-sized side. x25-style salting covers
  *    the dim-too-big + skewed regime explicitly.
  *  - **RocksDB state store + changelog checkpointing** — the streaming
  *    state operators (mapGroupsWithState CDC, transformWithState ledger
  *    and timer sessionizer) keep O(live keys) state off-heap with
  *    incremental checkpoints; required by transformWithState.
  *  - **GraftExtensions** — the native expressions registered for SQL
  *    users (`graft_ws_token_count`, `graft_shingles`, ...), same codegen
  *    operators the DataFrame API uses.
  *
  * Usage: `ProdSession.builder("my-app").getOrCreate()` on the cluster, or
  * `spark-submit --conf spark.sql.extensions=graft.GraftExtensions` plus
  * the conf file rendered from [[confs]].
  */
object ProdSession {

  /** The conf map, exposed for spark-defaults.conf rendering and tests. */
  def confs(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.files.maxPartitionBytes" -> (256L * 1024 * 1024).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (64L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString,
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** A builder pre-loaded with [[confs]]; the deployment sets master,
    * executor sizing, and any site overrides on top.
    * @param shufflePartitions ceiling for shuffle parallelism — set to
    *   2–3× the cluster's total executor cores (default sized for ~1000
    *   executors × 4 cores). */
  def builder(appName: String, shufflePartitions: Int = 8192): SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName)
    confs(shufflePartitions).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }
}
