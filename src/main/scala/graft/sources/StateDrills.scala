package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.Curation
import StateLog.LogRef

/** The state family's oracle drills: each runs one lifecycle of
  * [[SnapshotStateSink]] (eq140–eq142, eq145) or of a [[StateLog]]
  * wrapping a snapshot (eq144, eq146–eq154) over the `documents` table
  * and returns a small audit the DuckDB oracle rebuilds FROM SCRATCH over
  * the raw population. eq104's split holds throughout: `doc_id % 10 ∈
  * {8,9}` is the incoming batch, the rest the indexed corpus.
  *
  * Both implementations report the same seven-item audit ([[audit]]):
  * one delta ingested through the log and folded must land on EXACTLY
  * the state [[SnapshotStateSink.advance]] reaches — same survivor gates
  * against the same committed views, same monotone guard update
  * ([[SnapshotStateSink.deltaFacts]]), same O(batch) pack append — so
  * eq141 and eq144 share one oracle and one golden hash. The log drills
  * that exercise maintenance (checkpoint, sweep, vacuum, release) add
  * deterministic accounting items; a maintenance op must not move a row
  * any reader sees, so their state items share eq147's oracle verbatim.
  */
object StateDrills {

  /** One `(item, n)` row. */
  private def flag(spark: SparkSession, item: String, n: Long): DataFrame = {
    import spark.implicits._
    Seq((item, n)).toDF("item", "n")
  }

  /** A one-column count frame `n` as one `(item, n)` row. */
  private def one(item: String, df: DataFrame): DataFrame =
    df.select(lit(item).as("item"), col("n"))

  private def batchOf(docs: DataFrame): DataFrame = docs.filter(DedupIndexSink.isNewCol)

  /** The state's seven audit items, from views shaped like
    * [[StateLog.views]] — (hash layer, live band rows unfiltered by the
    * stop list, stop keys, per-lang pack summary): hash entries,
    * effective (stop-filtered) band entries, distinct stop buckets, and
    * the corpus's four pack totals. The pack totals come from ONE
    * aggregate over the summary, pivoted to rows by a bounded explode —
    * one scan of the pack table, not four (the eq74 profiler pattern). */
  private def audit(vs: (DataFrame, DataFrame, DataFrame, DataFrame),
      prefix: String = ""): DataFrame = {
    val (hash, bandLive, stop, pack) = vs
    val packItems = pack.agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("pd"),
        coalesce(sum(col("t_tokens")), lit(0L)).as("pt"),
        coalesce(sum(col("t_chars")), lit(0L)).as("pc"),
        coalesce(sum(col("n_shards")), lit(0L)).as("ps"))
      .select(explode(array(
        struct(lit(prefix + "pack_docs").as("item"), col("pd").as("n")),
        struct(lit(prefix + "pack_tokens").as("item"), col("pt").as("n")),
        struct(lit(prefix + "pack_chars").as("item"), col("pc").as("n")),
        struct(lit(prefix + "pack_shards").as("item"), col("ps").as("n")))).as("p"))
      .select(col("p.item").as("item"), col("p.n").as("n"))
    one(prefix + "idx_hash_entries", hash.agg(count(lit(1)).as("n")))
      .unionAll(one(prefix + "idx_band_entries",
        DedupIndexSink.effectiveBandOf(bandLive, stop).agg(count(lit(1)).as("n"))))
      .unionAll(one(prefix + "idx_stop_buckets", stop.distinct().agg(count(lit(1)).as("n"))))
      .unionAll(packItems)
  }

  /** A snapshot's tables in [[audit]]'s view shape. */
  private def snapshotViews(spark: SparkSession,
      t: SnapshotStateSink.StateTables): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (hash, band, stop) = DedupIndexSink.readBack(spark, t.index)
    (hash, band, stop, spark.table(t.packSummary))
  }

  /** The three corpus accounting items — row count, char mass, doc_id
    * checksum — from ONE aggregate over the corpus resolution (a union +
    * anti-join over the generation tables, the audits' most expensive
    * input, scanned once). */
  private def corpusItems(c: DataFrame, prefix: String = ""): DataFrame =
    c.agg(
        count(lit(1)).as("cd"),
        coalesce(sum(col("n_chars")), lit(0L)).as("cc"),
        coalesce(sum(col("doc_id")), lit(0L)).as("ck"))
      .select(explode(array(
        struct(lit(prefix + "corpus_docs").as("item"), col("cd").as("n")),
        struct(lit(prefix + "corpus_chars").as("item"), col("cc").as("n")),
        struct(lit(prefix + "corpus_id_checksum").as("item"), col("ck").as("n")))).as("p"))
      .select(col("p.item").as("item"), col("p.n").as("n"))

  /** The log head's seven state items + three corpus items off ONE
    * manifest read (unsorted: callers append their own items). */
  private def auditWithCorpus(spark: SparkSession, ref: LogRef): DataFrame = {
    val gens = StateLog.active(StateLog.history(spark, ref))
    audit(StateLog.viewsOf(spark, gens)).unionAll(corpusItems(StateLog.corpusOf(spark, gens)))
  }

  /** The per-lang pack summary joined with a shard-assignment checksum
    * over the re-sharded retained curated corpus (sum of
    * doc_id·(shard_id+1) — sensitive to any doc landing in the wrong
    * shard, not just to counts). */
  private def packWithShardChecksum(pack: DataFrame, retained: DataFrame): DataFrame = {
    val checks = Curation.shardAssign(retained).groupBy("lang")
      .agg(sum(col("doc_id") * (col("shard_id") + lit(1L))).as("shard_checksum"))
    pack.join(checks, Seq("lang"), "left_outer").orderBy("lang")
  }

  /** The log fixture: the documents, a full snapshot of their old split,
    * and a log wrapping it over an at-rest corpus store of that split.
    * `withMembership` also persists the store's curated membership (see
    * [[StateLog.writeCorpusStore]]). The store's split is
    * [[DedupIndexSink.isOldCol]], the snapshot writer's own old-corpus
    * plan, so a membership derivation keys the session chain memo on it —
    * one chain, zero extra mining. */
  private def wrappedLog(spark: SparkSession, dir: String,
      withMembership: Boolean = false): (DataFrame, SnapshotStateSink.StateTables, LogRef) = {
    val docs = Tables.load(spark, dir, "documents")
    val (st, store) = SinkPar.run2(SnapshotStateSink.write(spark, docs),
      StateLog.writeCorpusStore(spark, docs.filter(DedupIndexSink.isOldCol), withMembership))
    (docs, st, StateLog.fromSnapshot(spark, st, store))
  }

  /** eq140 — the AT-REST incremental curation: a full curation writes its
    * snapshot state, and the delta ingest runs the eq137 funnel reading
    * every artifact back from storage. The funnel is BIT-IDENTICAL to
    * eq137's — it shares that oracle verbatim, so any loss or mangling
    * across the write→read round-trip of ANY artifact breaks the hash
    * compare. */
  def eq140(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    SnapshotStateSink.readAndCurate(spark, docs, SnapshotStateSink.write(spark, docs))
  }

  /** eq141 — ADVANCE the snapshot by one delta, audited ONLY from the
    * post-advance tables (the (item, n) shape of eq139's audit). The
    * oracle rebuilds the advanced state from scratch over the merged
    * population: advance(state, delta) ≡ state(merged). */
  def eq141(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t1 = SnapshotStateSink.advance(spark, docs, SnapshotStateSink.write(spark, docs))
    audit(snapshotViews(spark, t1)).orderBy("item")
  }

  /** eq142 — COMPACT the advanced state: eq141's seven items (they must
    * not move — compaction is semantics-free) plus the two facts
    * compaction is FOR: `band_raw_rows`, the physical row count of the
    * compacted band table (≡ `idx_band_entries` — the raw table IS the
    * effective view now, the compaction theorem the oracle re-proves from
    * scratch), and `band_rows_removed`, the dead rows the rewrite dropped
    * (counted pre-vs-post as one union-agg — no join between the
    * generations). */
  def eq142(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pre = SnapshotStateSink.advance(spark, docs, SnapshotStateSink.write(spark, docs))
    val t = SnapshotStateSink.compact(spark, pre)
    val raw = spark.table(t.index.band)
    val removed = spark.table(pre.index.band).select(lit(1L).as("w"))
      .unionAll(raw.select(lit(-1L).as("w")))
      .agg(coalesce(sum(col("w")), lit(0L)).as("n"))
    audit(snapshotViews(spark, t))
      .unionAll(one("band_raw_rows", raw.agg(count(lit(1)).as("n"))))
      .unionAll(one("band_rows_removed", removed))
      .orderBy("item")
  }

  /** eq145 — POST-RETRACTION REPACK: retract `doc_id % 7 = 3`, compact,
    * repack; then the per-lang pack summary READ BACK from the new table,
    * with [[packWithShardChecksum]] over the re-sharded retained corpus.
    * The oracle re-derives both from the raw documents: the curated old
    * corpus minus the deleted docs, re-windowed from zero. */
  def eq145(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val isDel: Column = col("doc_id") % 7 === 3
    val st0 = SnapshotStateSink.write(spark, docs)
    val t1 = DedupIndexSink.retract(spark, docs, st0.index, DedupIndexSink.isNewCol, isDel)
    val st2 = SnapshotStateSink.repack(spark, docs,
      st0.copy(index = DedupIndexSink.compact(spark, t1)), isDel)
    packWithShardChecksum(spark.table(st2.packSummary),
      Curation.curatedMembership(docs.filter(DedupIndexSink.isOldCol)).filter(!isDel))
  }

  /** eq144 — the log under eq141's oracle: one micro-batch ingested
    * through the caller-supplied [[StateLog.ingestBatch]] and folded must
    * land on EXACTLY the advanced state, so the scratch rebuild
    * hash-checks the whole ingest→generation→commit→fold path. */
  def eq144(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, docs, DedupIndexSink.isNewCol, 0L)
    StateLog.compactLog(spark, ref)
    audit(StateLog.views(spark, ref)).orderBy("item")
  }

  /** eq146 — TIME TRAVEL: after one ingest + fold, the same audit read
    * twice off one manifest read — as-of generation 0 (`g0_` items: the
    * base snapshot exactly as it stood before the batch, though the live
    * tables have long since been superseded by the fold; the scratch
    * OLD-corpus state, eq139's numbers) and at the head (`live_` items,
    * the scratch MERGED state, eq141's) — proving manifest-prefix
    * resolution reconstructs committed history, not just the head. */
  def eq146(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, docs, DedupIndexSink.isNewCol, 0L)
    StateLog.compactLog(spark, ref)
    val hist = StateLog.history(spark, ref)
    audit(StateLog.viewsOf(spark, StateLog.asOfGensOf(spark, ref, hist, 0L,
        _.tables)), "g0_")
      .unionAll(audit(StateLog.viewsOf(spark, StateLog.active(hist)), "live_"))
      .orderBy("item")
  }

  /** eq147 — the SELF-CONTAINED log: the same single batch as eq144, but
    * the ingest resolves the corpus store from the log's own corpus layer
    * — the caller hands over ONLY the batch. The seven state items share
    * eq141's oracle verbatim; three corpus items prove the store itself
    * (row count, char mass and doc_id checksum of the resolved corpus
    * must equal the old corpus ∪ the funnel's survivors). */
  def eq147(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L)
    StateLog.compactLog(spark, ref)
    auditWithCorpus(spark, ref).orderBy("item")
  }

  /** eq148 — CORPUS TIME TRAVEL: ingest, retract, fold; then the corpus
    * read off one manifest read at three points, each re-derived from the
    * raw documents: as-of gen 0 (the base corpus alone), as-of gen 1
    * (base ∪ survivors — BEFORE the deletion, proving tombstones apply
    * order-aware in as-of resolutions too) and the live head (the fold's
    * merged store, deletion applied). */
  def eq148(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.retractBatch(spark, ref, col("doc_id") % 7 === 3, 1L) // gen 2
    StateLog.compactLog(spark, ref) // gen 3
    val hist = StateLog.history(spark, ref)
    def asOf(gen: Long): DataFrame =
      StateLog.corpusOf(spark, StateLog.asOfGensOf(spark, ref, hist, gen, _.corpusTables))
    corpusItems(asOf(0L), "g0_")
      .unionAll(corpusItems(asOf(1L), "g1_"))
      .unionAll(corpusItems(StateLog.corpusOf(spark, StateLog.active(hist)), "live_"))
      .orderBy("item")
  }

  /** eq149 — the FULL RETENTION LIFECYCLE: ingest → fold → vacuum →
    * releaseWrappedSnapshot, then the head re-proven from scratch (eq147's
    * ten items — the fold's own tables carry the whole state), plus
    * `vacuumed_tables` = 5 (the superseded delta generation's tables),
    * `released_tables` = 6 (the snapshot's hash/band/stop/pack tables, the
    * corpus store and the wrap marker) and `asof0_bounded` = 1 (the read
    * below the fold fails with the clear bounded-time-travel error). */
  def eq149(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.compactLog(spark, ref) // gen 2
    val vacuumed = StateLog.vacuum(spark, ref)
    val released = StateLog.releaseWrappedSnapshot(spark, ref)
    val bounded =
      try { StateLog.viewsAsOf(spark, ref, 0L); false }
      catch { case e: IllegalStateException => e.getMessage.contains("bounded") }
    auditWithCorpus(spark, ref)
      .unionAll(flag(spark, "vacuumed_tables", vacuumed.size.toLong))
      .unionAll(flag(spark, "released_tables", released.size.toLong))
      .unionAll(flag(spark, "asof0_bounded", if (bounded) 1L else 0L))
      .orderBy("item")
  }

  /** eq147's ten items after manifest checkpoints, plus `manifest_files`
    * (data files after the last checkpoint), `manifest_rows` (base +
    * delta + fold = 3 — no row lost across file swaps) and
    * `replay_skipped` (the committed batch id still collides against the
    * checkpointed manifest). Unsorted. */
  private def auditCheckpointed(spark: SparkSession, ref: LogRef,
      filesAfter: Long, skipped: Boolean): DataFrame =
    auditWithCorpus(spark, ref)
      .unionAll(flag(spark, "manifest_files", filesAfter))
      .unionAll(flag(spark, "manifest_rows", StateLog.history(spark, ref).size.toLong))
      .unionAll(flag(spark, "replay_skipped", if (skipped) 1L else 0L))

  /** eq150 — the MANIFEST CHECKPOINT: ingest → checkpoint → fold →
    * checkpoint → replay-probe. The checkpoint rewrites manifest FILES,
    * never a row, so the state equals eq147's; the second checkpoint
    * merges the post-fold append back into one file. */
  def eq150(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.checkpointManifest(spark, ref) // 2 row files -> 1
    StateLog.compactLog(spark, ref) // gen 2, appended AFTER the checkpoint
    val (_, filesAfter) = StateLog.checkpointManifest(spark, ref)
    // the replay-skip set must survive the file swap
    val skipped = !StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L)
    auditCheckpointed(spark, ref, filesAfter, skipped).orderBy("item")
  }

  /** eq152 — the INCREMENTAL manifest checkpoint: eq150's committed state
    * (ingest → fold), but the manifest's three one-row files drained in
    * `maxFiles = 2` slices — each call merges the OLDEST slice and is
    * row-preserving on its own — deterministically 3 → 2 → 1 files
    * (`drain_calls` = 2, `drain1_after` = 2, `drain2_after` = 1), with the
    * replay-skip probed against the sliced-and-merged manifest. */
  def eq152(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.compactLog(spark, ref) // gen 2
    val d1 = StateLog.checkpointManifest(spark, ref, maxFiles = 2) // 3 -> 2 files
    val d2 = StateLog.checkpointManifest(spark, ref, maxFiles = 2) // 2 -> 1 file
    val skipped = !StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L)
    auditCheckpointed(spark, ref, d2._2, skipped)
      .unionAll(flag(spark, "drain_calls", 2L))
      .unionAll(flag(spark, "drain1_after", d1._2))
      .unionAll(flag(spark, "drain2_after", d2._2))
      .orderBy("item")
  }

  /** eq153 — the GRACED SWEEP: eq147's committed state (a store-level GC
    * must not change a row any reader sees), with the live-writer-safe
    * sweep's contract pinned: an aged foreign orphan and a dead commit
    * stage — shapes only the STORE-level candidate scan can see, no
    * catalog ever knew them — are reclaimed (`swept_aged` = 2, and nothing
    * else: `swept_total` = 2), a young in-flight stand-in survives the
    * grace window (`kept_young` = 1), and the replay-skip set holds across
    * the sweep (`replay_skipped` = 1). */
  def eq153(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.compactLog(spark, ref) // gen 2
    // plant what a MULTI-PROCESS deployment's crashes leave on the store:
    // a foreign attempt's table dir (store-only — no catalog here or
    // anywhere ever saw it) and a dead commit stage, both aged a day; plus
    // a YOUNG orphan standing in for a live foreign writer's in-flight
    // attempt, which the grace window must protect
    val root = new java.io.File(sys.props("java.io.tmpdir"))
    def plant(name: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(root, name)
      docs.limit(1).select(col("doc_id")).write.mode("overwrite").parquet(d.getPath)
      if (ageMs > 0) {
        val t = System.currentTimeMillis() - ageMs
        def walk(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(walk)); f.setLastModified(t): Unit
        }
        walk(d)
      }
      d
    }
    val agedOrphan = plant(s"${ref.manifest}_hash_b9_aeq153dead_1", 86400000L)
    val agedStage = plant(s"${ref.manifest}_stage_eq153_1", 86400000L)
    val young = plant(s"${ref.manifest}_band_b9_aeq153live_1", 0L)
    val dropped = StateLog.sweep(spark, ref, graceMs = 600000L)
    val keptYoung = young.exists() && !dropped.contains(young.getName)
    val skipped = !StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L)
    // the young stand-in is litter once audited — reclaim it eagerly (the
    // returned frame never reads it)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(young)
    auditWithCorpus(spark, ref)
      .unionAll(flag(spark, "swept_aged", dropped.count(n =>
        n == agedOrphan.getName || n == agedStage.getName).toLong))
      .unionAll(flag(spark, "swept_total", dropped.size.toLong))
      .unionAll(flag(spark, "kept_young", if (keptYoung) 1L else 0L))
      .unionAll(flag(spark, "replay_skipped", if (skipped) 1L else 0L))
      .orderBy("item")
  }

  /** eq154 — the GRACED VACUUM: eq147's committed state (a retention GC
    * must not change a row any reader sees), with the reader-retention
    * contract pinned end to end: a graced vacuum against the YOUNG fold
    * drops nothing (`vacuumed_young` = 0) while a live as-of reader
    * resolves below it (`asof1_live` = 1); once the fold's supersession
    * instant is aged past the window the superseded delta generation's
    * five tables are reclaimed (`vacuumed_aged` = 5); the reader's
    * PRE-RESOLVED frames — the exact handle a scan racing the drop would
    * hold — surface the clean bounded-time-travel error through
    * [[StateLog.guardAsOfRead]], never a raw missing-file failure
    * (`asof1_guarded_bounded` = 1); and the replay-skip set holds across
    * the GC (`replay_skipped` = 1).
    *
    * The handle is the as-of views' hash layer AND the as-of corpus. A
    * batch that adds no new hash leaves the delta's bucketed hash table
    * with no file at all (sf0.1's batch does), so a hash-only handle
    * lists nothing the vacuum can take and reads on, correctly, after
    * the drop; the corpus reads the delta's `cur` table, a plain parquet
    * write that keeps one file even when empty. */
  def eq154(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.compactLog(spark, ref) // gen 2
    // a live as-of reader's frames, resolved BEFORE any GC (the existence
    // checks pass) — the handle a concurrent scan would be holding
    val asof1 = Seq(StateLog.viewsAsOf(spark, ref, 1L)._1, StateLog.corpusAsOf(spark, ref, 1L))
    def readAsof1(): Long = asof1.map(_.count()).sum
    val asof1Live = readAsof1() >= 0
    // graced vacuum against the YOUNG fold: the supersession is seconds
    // old, well inside the 10-minute window — nothing may drop
    val youngDrop = StateLog.vacuum(spark, ref, graceMs = 600000L)
    // age the fold's commit past the window: its manifest row file is the
    // supersession instant (the one the graced basis reads)
    val mdir = new java.io.File(sys.props("java.io.tmpdir"), s"${ref.manifest}_manifest")
    Option(mdir.listFiles()).foreach(_.filter(_.getName.startsWith("part-row-g2-"))
      .foreach(f => f.setLastModified(System.currentTimeMillis() - 86400000L): Unit))
    val agedDrop = StateLog.vacuum(spark, ref, graceMs = 600000L)
    // the reader's pre-resolved frames now point at dropped files: the
    // guarded read must surface the clean bounded-time-travel error, not
    // a raw missing-file failure
    val guardedBounded =
      try { StateLog.guardAsOfRead(spark, ref, 1L)(readAsof1()); false }
      catch { case e: IllegalStateException => e.getMessage.contains("bounded") }
    val skipped = !StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L)
    auditWithCorpus(spark, ref)
      .unionAll(flag(spark, "vacuumed_young", youngDrop.size.toLong))
      .unionAll(flag(spark, "vacuumed_aged", agedDrop.size.toLong))
      .unionAll(flag(spark, "asof1_live", if (asof1Live) 1L else 0L))
      .unionAll(flag(spark, "asof1_guarded_bounded", if (guardedBounded) 1L else 0L))
      .unionAll(flag(spark, "replay_skipped", if (skipped) 1L else 0L))
      .orderBy("item")
  }

  /** eq151 — POST-RETRACTION REPACK THROUGH THE LOG (eq145's claim
    * carried into the log family): ingest → retract → [[StateLog.repackLog]]
    * → fold, over a log whose corpus store persists its curated membership
    * (the production posture: the curated corpus is the at-rest PRODUCT,
    * so the self-contained repack reads it instead of re-mining the
    * genesis corpus). The pack summary is read back FROM THE LOG'S VIEWS
    * (the fold must carry the repacked table forward) with
    * [[packWithShardChecksum]] over the log's retained curated corpus,
    * off one manifest read. The oracle's retained membership is the
    * curated OLD corpus UNION the delta funnel's survivors, both minus the
    * deleted docs (the log ingested the batch BEFORE the deletion — the
    * difference from eq145's snapshot-only retained set). */
  def eq151(spark: SparkSession, dir: String): DataFrame = {
    val (docs, st, ref) = wrappedLog(spark, dir, withMembership = true)
    StateLog.ingestBatch(spark, ref, st, batchOf(docs), 0L) // gen 1
    StateLog.retractBatch(spark, ref, col("doc_id") % 7 === 3, 1L) // gen 2
    StateLog.repackLog(spark, ref, 2L) // gen 3
    StateLog.compactLog(spark, ref) // gen 4
    val hist = StateLog.history(spark, ref)
    val (_, _, _, pack) = StateLog.viewsOf(spark, StateLog.active(hist))
    packWithShardChecksum(pack, StateLog.curatedRetained(spark, hist))
  }
}
