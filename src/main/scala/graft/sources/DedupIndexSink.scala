package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.Dedup

/** eq139 — the AT-REST dedup index: eq104/eq137 probe a *memoized*
  * old-corpus index, but a PlanMemo lives exactly one session — at 100 TB
  * the index must survive the session that mined it, or every restart
  * re-signs the corpus. This writes the index's three frames as tables
  * (the production posture the `Dedup.guardedOldIndex` scaladoc promises:
  * "in production this IS the stored index") and probes the incoming
  * batch against the READ-BACK tables:
  *
  *  - `..._hash` — the exact layer (distinct content md5), bucketed by
  *    `h`: the batch-hash probe reads bucket-aligned files;
  *  - `..._band` — the near layer (bucket-guarded band keys, stop-buckets
  *    dropped at BUILD time so probes never pay the guard aggregate),
  *    bucketed+sorted by `band_key`: index-keyed joins need no shuffle on
  *    the index side (EngineSurfaceSpec pins the zero-Exchange self-join
  *    and the scan-only broadcast probe);
  *  - `..._stop` — the stop-bucket key list, the guard's drop set (its
  *    row count is the stop-bucket stat a shipped index carries).
  *
  * The query is the stored-index audit + probe: entry counts of the three
  * read-back layers plus the batch verdict totals from
  * [[Dedup.probeStoredIndex]], the probe eq104 runs over the in-session
  * frames — bit-identical verdicts (the DuckDB oracle recomputes everything from raw documents
  * through the shared x1 CTEs, so a row lost or duplicated across the
  * write→read round-trip breaks the hash compare). PipelineSpec pins the
  * restart story the memo can't give: a FRESH session probing these
  * tables signs only the batch (+1 signature mining) and re-mines
  * nothing.
  *
  * Reference basis: the reference persists ETL output to a second store
  * and queries the stored copy (`etl_project/data.py:41-42`); this is
  * that round-trip for the dedup index, the derived artifact whose
  * at-rest life actually gates incremental ingest cost.
  */
object DedupIndexSink {

  /** 8 at test scale; a 100 TB deployment sizes buckets to the probe
    * parallelism it wants per ingest. */
  val Buckets = 8

  /** The stored index's table names — returned by [[write]] so a later
    * (or different) session can [[readBack]] without any handle to the
    * frames that built them. `stop` is the stop-bucket KEY list (the
    * guard's drop set, part of the shipped index since eq141: advancing
    * the state needs the keys, not just their count, and post-advance
    * probes filter the band table by it; its row count is the index's
    * stop-bucket stat); `tomb` is the PENDING-RETRACTION marker (eq142/eq143) — a
    * [[retract]] call sets it, every effective view subtracts it, the
    * next [[compact]] applies it physically and clears it. `None` (the
    * write-time state) costs existing paths nothing. */
  final case class IndexTables(hash: String, band: String, stop: String,
      tomb: Option[TombTables] = None)

  /** The two tombstone tables a retraction writes: `docs` — the deleted
    * doc_ids (the band layer subtracts by row ownership); `hash` — the
    * ORPHANED content hashes (a hash leaves the exact layer only when
    * its LAST owner is deleted — computed at retraction time, when the
    * corpus store still knows the owners). */
  final case class TombTables(docs: String, hash: String)

  /** eq104's snapshot convention: doc_id % 10 ∈ {8,9} is the incoming
    * batch, the rest is the indexed corpus. */
  private[graft] def isNewCol = col("doc_id") % 10 >= 8

  /** The old split, spelled `% 10 < 8` rather than `!isNewCol`: the
    * snapshot writer's old-corpus plan, which the session chain memos key
    * on, is this exact expression tree. */
  private[graft] def isOldCol = col("doc_id") % 10 < 8

  def eq139(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = write(spark, docs, isNewCol)
    val (hashIdx, _, stop) = readBack(spark, t)
    audit(docs, isNewCol, hashIdx, effectiveBandIndex(spark, t), stop)
  }

  def eq143(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t0 = write(spark, docs, isNewCol)
    val t1 = retract(spark, docs, t0, isNewCol, col("doc_id") % 7 === 3)
    auditRetracted(spark, docs, t1, compact(spark, t1))
  }

  /** eq143 — RETRACT documents from the stored index: a production
    * corpus DELETES (takedowns, right-to-be-forgotten, license expiry),
    * and a deleted doc must stop suppressing future duplicates — the
    * next crawl of the same content has to come back `novel`, not be
    * silently dropped against a ghost. Retraction is tombstone-based
    * (the same append-only posture as [[SnapshotStateSink.advance]]:
    * never rewrite a table being read; [[compact]] applies tombstones
    * physically and clears them):
    *
    *  - band layer: a `docs` tombstone of the deleted doc_ids — the
    *    band table carries row ownership, so the effective view
    *    subtracts by one broadcast anti-join;
    *  - hash layer: the exact layer stores DISTINCT content hashes with
    *    no owner attribution, so a hash may leave ONLY when its last
    *    owner does. The orphan set is computed here, while the corpus
    *    store still knows the owners, and batch-bounded: the deleted
    *    docs' hashes broadcast-semi-prune the RETAINED corpus scan
    *    (scan-only, no corpus shuffle), and hashes with no surviving
    *    owner become the `hash` tombstone;
    *  - stop list: MONOTONE by design — a bucket that went hot stays
    *    guarded even if deletions shrink it back under the cap. The
    *    guard is a recall/perf device, not content: un-stopping would
    *    need the dropped rows back (they were never written), and a
    *    recall-conservative index is the correct failure direction.
    *    The oracle encodes the same rule (stop computed over the FULL
    *    pre-retraction corpus), and PipelineSpec pins it on a hot
    *    fixture.
    *
    * `isDeleted` is evaluated against the INDEXED side only (`!isNew &&
    * isDeleted`) — retracting a doc the index never held is a no-op.
    *
    * A state with tombstones already pending REFUSES a second
    * retraction (the advance's posture): replacing the tomb handle
    * would silently resurrect the first deletion set, and merging is
    * subtly wrong — the second orphan recount would treat the first
    * set's docs as surviving owners. Compact between retractions; the
    * production cadence batches deletions per maintenance window
    * anyway. */
  def retract(spark: SparkSession, docs: DataFrame, t: IndexTables,
      isNew: org.apache.spark.sql.Column, isDeleted: org.apache.spark.sql.Column): IndexTables = {
    require(t.tomb.isEmpty,
      "retract requires a compacted state — apply the pending tombstones first")
    val id = AtRest.nextId()
    val deleted = docs.filter(!isNew && isDeleted)
    val tomb = TombTables(
      s"graft_dedup_idx_tombd_$id", s"graft_dedup_idx_tombh_$id")
    SinkPar.run(Seq(
      () => AtRest.save(deleted.select("doc_id"), tomb.docs),
      () => AtRest.save(
        orphanedHashes(deleted, docs.filter(!isNew && !isDeleted)), tomb.hash)))
    t.copy(tomb = Some(tomb))
  }

  /** The orphan recount of a retraction: the distinct content hashes of
    * `deleted` that no `retained` doc still owns — a hash leaves the
    * exact layer only with its LAST owner. The small deleted-hash frame
    * broadcasts into the retained corpus scan, and the surviving subset
    * broadcasts back, so the recount is batch-bounded (no corpus
    * shuffle). NULL-text docs carry no hash and are never tombstoned. */
  private[sources] def orphanedHashes(deleted: DataFrame, retained: DataFrame): DataFrame = {
    val delHashes = deleted.select(md5(col("text")).as("h"))
      .filter(col("h").isNotNull).distinct().localCheckpoint()
    val surviving = retained.select(md5(col("text")).as("h"))
      .join(broadcast(delHashes), Seq("h"), "left_semi").distinct()
    delHashes.join(broadcast(surviving), Seq("h"), "left_anti")
  }

  /** Builds the index frames from the OLD side of the corpus and writes
    * them as external tables (per-invocation names, [[AtRest]]'s path
    * rule: concurrent plans never race on a directory). The three tables
    * share no data dependency and are written concurrently (SinkPar). */
  def write(spark: SparkSession, docs: DataFrame, isNew: org.apache.spark.sql.Column): IndexTables = {
    val id = AtRest.nextId()
    val t = IndexTables(
      s"graft_dedup_idx_hash_$id", s"graft_dedup_idx_band_$id", s"graft_dedup_idx_stop_$id")
    val (hash, band, stopKeys) = Dedup.indexBuildFrames(docs, isNew)
    SinkPar.run(Seq(
      () => AtRest.save(hash, t.hash, Some(AtRest.Hash)),
      () => AtRest.save(band, t.band, Some(AtRest.Band)),
      () => AtRest.save(stopKeys, t.stop)))
    t
  }

  /** Reads the stored index THROUGH THE CATALOG, so the returned frames
    * carry the bucketed-scan output partitioning. Callable from any
    * session of the context — the restart path PipelineSpec drives. */
  def readBack(spark: SparkSession, t: IndexTables): (DataFrame, DataFrame, DataFrame) =
    (spark.table(t.hash), spark.table(t.band), spark.table(t.stop))

  /** eq142 — COMPACT the stored index: [[SnapshotStateSink.advance]] is
    * deliberately append-only (survivor rows land in stop-listed or
    * newly-hot buckets and stay physically present; every append adds
    * files per bucket), so after N delta ingests the at-rest index
    * carries dead rows probes must filter on every read, and the
    * bucketed layers fragment toward the small-file wall. Compaction is
    * the maintenance pass that pays those debts down ONCE:
    *
    *  - band layer: the [[effectiveBandIndex]] view made PHYSICAL — the
    *    stop-listed rows (and any tombstoned docs' rows, eq143) are
    *    dropped and the survivors rewritten one-file-per-bucket.
    *    Post-compaction the raw table IS the effective view, and probes
    *    pay neither the anti-joins nor the dead-row scan;
    *  - hash layer: the [[effectiveHashIndex]] view made physical —
    *    content unchanged when no retraction is pending (appends are
    *    pre-deduped), orphaned hashes dropped when one is; files
    *    coalesced the same way;
    *  - stop list: REWRITTEN, NOT DROPPED — the stop keys are the
    *    guard's memory. Dropping them with the rows they guard would
    *    let the next advance recount a hot bucket from zero and
    *    resurrect it (PipelineSpec's advance-after-compaction test
    *    fails exactly that way if the stop list is cleared).
    *
    * Everything is written to NEW table names (never in-place over a
    * table being read); the old generation stays readable until the
    * caller drops it — the production swap is a catalog pointer flip.
    *
    * Plan shape: the rewrites run with `autoBucketedScan` pinned OFF so
    * the reads are TRUE bucketed scans — one task per bucket, already
    * aligned with the write's bucket-id hash — making each rewrite a
    * zero-Exchange scan→filter→write pass that emits exactly one file
    * per bucket. (The tempting `repartition(Buckets, key)` is WRONG
    * here: the optimizer elides it against the catalog's bucket spec
    * while the physical scan may still read split-based, leaving write
    * tasks holding rows of many buckets — up to tasks×Buckets files,
    * the debt compaction exists to pay down.) The conf flip is
    * session-visible for the duration of the two writes; concurrent
    * readers of bucketed tables just lose split-based scan parallelism
    * for that window, never correctness — and compaction is a
    * maintenance action, not a query. */
  def compact(spark: SparkSession, t: IndexTables): IndexTables = {
    val id = AtRest.nextId()
    val t2 = IndexTables(
      s"graft_dedup_idx_hash_c$id", s"graft_dedup_idx_band_c$id", s"graft_dedup_idx_stop_c$id")
    val AutoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAutoScan = spark.conf.get(AutoScanKey)
    try {
      spark.conf.set(AutoScanKey, "false")
      AtRest.save(effectiveBandIndex(spark, t), t2.band, Some(AtRest.Band))
      AtRest.save(effectiveHashIndex(spark, t), t2.hash, Some(AtRest.Hash))
    } finally spark.conf.set(AutoScanKey, prevAutoScan)
    AtRest.save(spark.table(t.stop).coalesce(1), t2.stop)
    t2
  }

  /** The index's EFFECTIVE near layer: the stored band rows with the
    * stop-listed buckets filtered out (one broadcast anti-join against
    * the small stop-key table). For a freshly-WRITTEN snapshot this
    * equals the raw table — the build drops stop-bucket rows before
    * writing — but after a state ADVANCE (eq141), survivor rows appended
    * into stopped or newly-hot buckets are physically present, and THIS
    * view is what every probe must read; probing the raw table would
    * resurrect the guarded buckets and diverge from the scratch-rebuilt
    * state(merged) at the second delta (pinned by PipelineSpec's
    * two-advance test). */
  def effectiveBandIndex(spark: SparkSession, t: IndexTables): DataFrame = {
    val (_, band, stop) = readBack(spark, t)
    val guarded = band.join(broadcast(stop), Seq("band", "band_key"), "left_anti")
    t.tomb.fold(guarded) { tb =>
      guarded.join(broadcast(spark.table(tb.docs)), Seq("doc_id"), "left_anti")
    }
  }

  /** Band rows minus a stop-key list that may repeat keys (a state log's
    * stop view is the union of every generation's list) — the probe view
    * of a raw band layer. */
  private[sources] def effectiveBandOf(bandRaw: DataFrame, stop: DataFrame): DataFrame =
    bandRaw.join(broadcast(stop.distinct()), Seq("band", "band_key"), "left_anti")

  /** The index's EFFECTIVE exact layer: the stored hashes minus any
    * pending hash tombstones (eq143 — a hash leaves only when its last
    * owner was retracted). Identical to the raw table when no retraction
    * is pending; NULL hashes (NULL-text docs) are never tombstoned and
    * pass the anti-join untouched. */
  def effectiveHashIndex(spark: SparkSession, t: IndexTables): DataFrame = {
    val hash = spark.table(t.hash)
    t.tomb.fold(hash) { tb =>
      hash.join(broadcast(spark.table(tb.hash)), Seq("h"), "left_anti")
    }
  }

  /** The stored-index audit + probe result: one (item, n) row per index
    * layer's entry count (the stop table's rows are its stop buckets),
    * and the batch
    * verdict totals — all read from the AT-REST tables (counts come from
    * the read-back frames, so a lossy round-trip shifts them). Every
    * verdict is present with a 0-fill: a hostile batch may produce no
    * `near` rows and the frame shape must not change. */
  private[graft] def audit(docs: DataFrame, isNew: org.apache.spark.sql.Column,
      hashIdx: DataFrame, bandIdx: DataFrame, stop: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val vc = Dedup.probeStoredIndex(docs, isNew, hashIdx, bandIdx)
      .groupBy("verdict").agg(count(lit(1)).as("n"))
    val probe = Seq("exact", "near", "novel").toDF("verdict")
      .join(broadcast(vc), Seq("verdict"), "left")
      .select(concat(lit("probe_"), col("verdict")).as("item"),
        coalesce(col("n"), lit(0L)).as("n"))
    hashIdx.agg(count(lit(1)).as("n")).select(lit("idx_hash_entries").as("item"), col("n"))
      .unionAll(bandIdx.agg(count(lit(1)).as("n")).select(lit("idx_band_entries").as("item"), col("n")))
      .unionAll(stop.agg(count(lit(1)).as("n")).select(lit("idx_stop_buckets").as("item"), col("n")))
      .unionAll(probe)
      .orderBy("item")
  }

  /** The retract-then-compact audit (eq143): [[audit]]'s six items read
    * from the COMPACTED tables (whose raw frames are their own effective
    * views — tombstones applied), plus `band_raw_rows` (≡
    * `idx_band_entries`, the application proof), and the two tombstone
    * masses from the PRE-compaction generation. The probe runs against
    * the post-retraction index: content whose last owner was deleted
    * must come back `novel`, content with a surviving owner `exact` —
    * the oracle rebuilds the retained index (monotone stop) from raw
    * documents and re-derives every verdict. */
  private[graft] def auditRetracted(spark: SparkSession, docs: DataFrame,
      pre: IndexTables, t: IndexTables): DataFrame = {
    val (_, band, stop) = readBack(spark, t)
    val tomb = pre.tomb.getOrElse(
      throw new IllegalArgumentException("auditRetracted needs the pre-compaction generation"))
    audit(docs, isNewCol, effectiveHashIndex(spark, t), effectiveBandIndex(spark, t), stop)
      .unionAll(band.agg(count(lit(1)).as("n"))
        .select(lit("band_raw_rows").as("item"), col("n")))
      .unionAll(spark.table(tomb.docs).agg(count(lit(1)).as("n"))
        .select(lit("tomb_docs").as("item"), col("n")))
      .unionAll(spark.table(tomb.hash).agg(count(lit(1)).as("n"))
        .select(lit("tomb_hashes").as("item"), col("n")))
      .orderBy("item")
  }
}
