package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Dedup}

/** The CURATION SNAPSHOT STATE at rest: eq137 proves the delta path
  * touches only the batch, but every frozen artifact it consumes — the
  * dedup index, the test-split vocabulary, the release mix rates, the
  * shipped BPE encoder, the per-lang pack summary — lives in
  * session-lifetime PlanMemos. eq139 persisted the index; this persists
  * THE REST, closing the loop: a full curation ends by writing its
  * snapshot state ([[write]]), and the next delta ingest — possibly days
  * later, in a different driver — runs the eq137 funnel reading every
  * artifact from storage ([[readAndCurate]]), holding nothing in memory
  * from the last full run. The oracle drills over this lifecycle (eq140–
  * eq142, eq145) live in [[StateDrills]].
  *
  * Restart contract: [[StateTables]] carries CATALOG TABLE NAMES, so "a
  * different driver" requires a PERSISTENT metastore (Hive or
  * equivalent) in which those names resolve — the deployment shape on a
  * real cluster. Under the default in-memory catalog the names resolve
  * only in sessions of the same SparkContext, which is exactly what the
  * fresh-session PipelineSpec pins exercise; the parquet files themselves
  * are already durable either way.
  *
  * Table layouts: the test vocabulary (the one corpus-scaled artifact)
  * is bucketed+sorted by `sg` so the decontamination probe shuffles only
  * the delta side; mix rates / pack summary are |langs|-row frames and
  * the BPE encoder is vocabulary-bounded — plain parquet tables read
  * back whole and broadcast where the funnel needs them.
  *
  * PipelineSpec pins the restart contract the memos can't give: a FRESH
  * session running [[readAndCurate]] mines only the delta (+1 pair
  * table, +1 labels, +1 batch signing) and re-learns nothing (BPE
  * vocabulary +0, index memos +0).
  *
  * Reference basis: the reference persists ETL output to a second store
  * and queries the stored copy (`etl_project/data.py:41-42`); this is
  * that round-trip for the pipeline's whole inter-snapshot state.
  */
object SnapshotStateSink {

  /** The five at-rest artifact tables (plus the index's three inside
    * [[DedupIndexSink.IndexTables]]) a finished full curation hands the
    * next delta ingest. */
  final case class StateTables(index: DedupIndexSink.IndexTables,
      testVocab: String, mixRates: String, bpeEnc: String, packSummary: String)

  /** Ends a full curation of the OLD snapshot by writing its state tables
    * — per-invocation names, [[AtRest]]'s path rule. The
    * defaults are eq104's split rule; `(isNew, isOld)` are separate
    * predicates so the standard entry keeps the exact
    * [[DedupIndexSink.isOldCol]] filter plan the eq136/eq137 chain memos
    * key on, and the two-advance PipelineSpec test drives a 3-way
    * snapshot through them. */
  def write(spark: SparkSession, docs: DataFrame,
      isNew: Column = DedupIndexSink.isNewCol,
      isOld: Column = DedupIndexSink.isOldCol): StateTables = {
    val id = AtRest.nextId()
    def save(df: DataFrame, name: String, layout: Option[AtRest.Layout] = None): String =
      AtRest.save(df, s"graft_snapshot_state_${name}_$id", layout)
    // the index write and the four artifact writes are independent table
    // writes off shared memoized frames — overlapped (SinkPar);
    // concurrent first-forcing of a shared memo is safe (the PlanMemo
    // cell serializes the mining, every thread reads the one
    // materialization)
    val (idx, artifacts) = SinkPar.run2(
      DedupIndexSink.write(spark, docs, isNew), {
        val (testVocab, mixRates, bpeEnc, packSummary) =
          Curation.snapshotArtifactFrames(docs.filter(isOld))
        SinkPar.run(Seq(
          () => save(testVocab, "test_vocab", Some(AtRest.TestVocab)),
          () => save(mixRates, "mix_rates"),
          () => save(bpeEnc, "bpe_enc"),
          () => save(packSummary, "pack_summary")))
      })
    StateTables(idx, artifacts(0), artifacts(1), artifacts(2), artifacts(3))
  }

  /** The next delta ingest: the eq137 funnel over the incoming batch
    * with every frozen artifact read back through the catalog. Callable
    * from any session of the context — the restart path PipelineSpec
    * drives. */
  def readAndCurate(spark: SparkSession, docs: DataFrame, t: StateTables): DataFrame = {
    // EFFECTIVE views on both layers: after a retraction (eq143) the raw
    // hash table still carries the ghosts, and gating a re-crawl out as
    // an exact dup against a deleted doc is exactly the failure
    // retraction exists to prevent (identical frame when no tombstones
    // are pending — the anti-join is added only under Some(tomb))
    Curation.incrementalCurationFromState(docs, DedupIndexSink.isNewCol,
      DedupIndexSink.effectiveHashIndex(spark, t.index),
      DedupIndexSink.effectiveBandIndex(spark, t.index),
      spark.table(t.testVocab), spark.table(t.mixRates),
      spark.table(t.bpeEnc), spark.table(t.packSummary))
  }

  /** The index-layer facts one delta's survivors add — the math
    * [[advance]] and [[StateLog]]'s ingest share:
    *
    *  - `newHashes`: the survivors' distinct content hashes not in
    *    `hashIdx` (NULL-text docs carry no hash). The batch hashes
    *    broadcast INTO the index scan and the matched set broadcasts
    *    back, so the index side is scan-only — never a state-wide
    *    shuffle;
    *  - `survBanded`: the survivors' band rows (`band, band_key, doc_id`)
    *    out of `batchBands` (the batch's band keys), materialized here —
    *    the guard recount below and the caller's band write both read it;
    *  - `newlyHot`: the GUARD update — only the TOUCHED buckets are
    *    recounted (`bandRaw` rows semi-pruned by a broadcast of the
    *    touched keys, plus the delta's own counts); buckets pushed past
    *    [[Dedup.maxBucket]] that `stop` does not already list join the
    *    stop-key list.
    *
    * `bandRaw` is the stored band layer WITHOUT the stop filter: rows of
    * stop-listed buckets still count toward their bucket's mass, and a
    * bucket already on the list is never re-added. Callers that append
    * `newHashes`/`newlyHot` into the very tables they read must
    * materialize them first. */
  private[graft] def deltaFacts(survivors: DataFrame, batchBands: DataFrame,
      hashIdx: DataFrame, bandRaw: DataFrame,
      stop: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val survHashes = survivors.select(md5(col("text")).as("h"))
      .filter(col("h").isNotNull).distinct()
    val matchedHashes = hashIdx.join(broadcast(survHashes), Seq("h"), "left_semi")
    val newHashes = survHashes.join(broadcast(matchedHashes), Seq("h"), "left_anti")
    val survBanded = batchBands
      .join(broadcast(survivors.select("doc_id")), Seq("doc_id"), "left_semi")
      .select("band", "band_key", "doc_id")
      .localCheckpoint()
    val touched = survBanded.groupBy("band", "band_key").agg(count(lit(1)).as("dc"))
    val storedCnt = bandRaw
      .join(broadcast(touched.select("band", "band_key")), Seq("band", "band_key"), "left_semi")
      .groupBy("band", "band_key").agg(count(lit(1)).as("oc"))
    val newlyHot = touched
      .join(storedCnt, Seq("band", "band_key"), "left_outer")
      .filter(coalesce(col("oc"), lit(0L)) + col("dc") > Dedup.maxBucket)
      .select("band", "band_key")
      .join(broadcast(stop.distinct()), Seq("band", "band_key"), "left_anti")
    (newHashes, survBanded, newlyHot)
  }

  /** ADVANCE the snapshot state by one curated delta, in O(batch): after
    * the delta ingest, the NEXT delta must probe the merged corpus, so
    * the state the last full curation wrote has to be maintainable — not
    * just readable. `isNew` marks the batch rows of `docs` (default:
    * eq104's split). The advance appends exactly the batch-bounded facts
    * the delta's survivors add ([[deltaFacts]]):
    *
    *  - hash layer: survivor content hashes not yet stored (append into
    *    the bucketed table);
    *  - band layer: the survivors' band keys (append), plus the guard
    *    update they imply. Rows of newly-hot buckets stay physically
    *    present; probes filter by the stop list (the production append-
    *    only posture — deletion is a compaction concern, not an ingest
    *    one);
    *  - pack layer: the per-lang summary advanced by
    *    [[Curation.appendPackSummary]]'s O(batch) append math, written
    *    as a NEW versioned table (a |langs|-row frame — never an
    *    in-place overwrite of a table being read).
    *
    * The DuckDB oracle (eq141) rebuilds the advanced state FROM SCRATCH
    * over the merged population (retained old rows + survivor rows, the
    * old stop list restored, the guard recounted globally) — hash-matching
    * it proves advance(state, delta) ≡ state(merged), which by induction
    * makes any number of successive delta ingests correct. */
  def advance(spark: SparkSession, docs: DataFrame, t: StateTables,
      isNew: Column = DedupIndexSink.isNewCol): StateTables = {
    // the advance's hash anti-join and appends read the RAW layers; a
    // state with pending retraction tombstones (eq143) must be compacted
    // first so the ghosts are physically gone before new facts land
    require(t.index.tomb.isEmpty,
      "advance requires a compacted state — apply pending retraction tombstones first")
    // a snapshot a StateLog wraps is a COMMITTED generation — its gen-0
    // manifest row points INTO these very tables (no copy), so an
    // in-place append here would retroactively mutate committed history.
    // Ingest through the log instead.
    require(!StateLog.wrapsSnapshotIndex(spark, t.index.hash),
      "this snapshot is wrapped by a state log (its tables ARE the log's " +
        "generation 0) — ingest through StateLog.ingestBatch instead")
    val (hashIdx, bandIdx, stopIdx) = DedupIndexSink.readBack(spark, t.index)
    // the survivors are decided against the EFFECTIVE index view — after
    // a prior advance the raw band table carries rows in stop-listed
    // buckets that the guard semantics exclude
    val survivors = Curation.deltaSurvivorsFromState(docs, isNew,
      hashIdx, DedupIndexSink.effectiveBandIndex(spark, t.index),
      spark.table(t.testVocab), spark.table(t.mixRates))
    val (hashes, survBanded, hot) = deltaFacts(survivors,
      Dedup.batchBandKeys(docs.filter(isNew)), hashIdx, bandIdx, stopIdx)
    // the appends below land in the very tables these frames read: cut
    // their lineage before any append job runs
    val newHashes = hashes.localCheckpoint()
    val newlyHot = hot.localCheckpoint()

    // pack layer: the advanced summary, versioned; written CONCURRENTLY
    // with the three index appends (SinkPar — all four read only
    // pre-materialized checkpoints or frozen tables)
    val ps2 = s"${t.packSummary}_adv_${AtRest.nextId()}"
    SinkPar.run(Seq(
      () => AtRest.save(Curation.appendPackSummary(spark.table(t.packSummary), survivors), ps2),
      () => AtRest.append(newHashes, t.index.hash, Some(AtRest.Hash)),
      () => AtRest.append(survBanded, t.index.band, Some(AtRest.Band)),
      () => AtRest.append(newlyHot, t.index.stop)))
    t.copy(packSummary = ps2)
  }

  /** COMPACT the advanced state: the index layers pay down their append
    * debts ([[DedupIndexSink.compact]] — stop-listed rows physically
    * dropped, files re-coalesced one-per-bucket, the stop-key list KEPT
    * as the guard's memory); the frozen artifacts (vocabulary, mix
    * rates, encoder, pack summary) are immutable or already
    * versioned-whole per advance, so they carry over untouched. The new
    * generation gets new table names — the old state stays readable
    * until the caller drops it. */
  def compact(spark: SparkSession, t: StateTables): StateTables =
    t.copy(index = DedupIndexSink.compact(spark, t.index))

  /** POST-RETRACTION REPACK: eq143 deliberately defers pack
    * re-accounting after deletions (the summary still counts the dead
    * docs' tokens, and the written shard layout still holds their rows'
    * gaps). The repack closes that loop once the tombstones are applied:
    * the RETAINED curated corpus of the old split `isOld` (default:
    * eq104's `% 10 < 8`) is re-sharded from scratch — the same
    * [[Curation.shardAssign]] prefix-sum rule as the full curation, so
    * deleted docs' token mass no longer pads anyone's shard — and the
    * per-lang pack summary is rebuilt over it and written as a new
    * versioned table. That re-establishes the append-pack INVARIANT
    * (summary ≡ packSummaryOf of the corpus it describes), which is the
    * precondition [[Curation.appendPackSummary]]'s O(batch) math needs:
    * the next [[advance]] after a retraction is exact again (pinned
    * retract→repack→advance ≡ scratch in PipelineSpec).
    *
    * `isDeleted` must be the SAME predicate the retraction committed —
    * the repack recomputes the retained membership from it (doc-level
    * shard assignment is corpus-sized, which is why retraction defers
    * this pass rather than paying it per deletion).
    *
    * Scale shape: one per-lang window over the retained curated corpus
    * (the price of a full curation's packing stage, paid once per repack,
    * not per deletion) + a |langs|-row write; nothing doc×doc. */
  def repack(spark: SparkSession, docs: DataFrame, t: StateTables,
      isDeleted: Column, isOld: Column = DedupIndexSink.isOldCol): StateTables = {
    require(t.index.tomb.isEmpty,
      "repack follows compaction — apply the pending tombstones first")
    // membership only: curatedDocsDf's shard_id would be computed by the
    // eager two-phase prefix sum and dropped on the next line — the
    // repack re-windows from a zero prefix sum anyway
    val retained = Curation.curatedMembership(docs.filter(isOld))
      .filter(!isDeleted)
    t.copy(packSummary = AtRest.save(Curation.packSummaryOf(retained),
      s"${t.packSummary}_rpk_${AtRest.nextId()}"))
  }
}
