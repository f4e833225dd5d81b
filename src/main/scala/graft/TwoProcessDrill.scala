package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DedupIndexSink, SnapshotStateSink, StateLog}

/** TRUE two-process commit rehearsal: the claim CAS is exercised
  * in-process by the two-writer tests with the commit mutex disabled, but
  * those writers still share one JVM. This drill is driven by
  * `tools/two_process_drill.sh`, which launches TWO SEPARATE JVMs (plain
  * `java`, no sbt — each its own SparkSession, its own in-memory catalog,
  * nothing shared but the filesystem) ingesting concurrently into ONE
  * log, then a third process checks the outcome: dense unique gen_ids,
  * every batch exactly once, and final state ≡ a scratch replay.
  *
  * Roles:
  *  - `prep <workdir>`   — build a deterministic base corpus, write the
  *    snapshot + corpus store + log, record the handle (manifest name +
  *    the snapshot tables the ingest gates read) in
  *    `<workdir>/drill.properties`.
  *  - `ingest <workdir> <firstBatch> <count>` — attach
  *    ([[StateLog.attach]]) and run `count` self-contained ingests with
  *    batch ids `firstBatch..`. Run two of these CONCURRENTLY.
  *  - `check <workdir> <batchIdsCsv>` — attach, assert the manifest is
  *    dense/unique/complete, then replay the same batches into a FRESH
  *    scratch log in this third process and assert the raced log's hash
  *    view and corpus are set-equal to the replay's.
  *
  * Batches are mutually inert (per-batch-unique vocabularies), so any
  * interleaving lands the same final state — what the race decides is
  * only the gen_id order, which is exactly the property the claim CAS
  * must keep sound. */
object TwoProcessDrill {

  private def session(): SparkSession = Harness.session(Harness.cpus(8))

  /** The base corpus: ScaleBench's deterministic fixture (alphabetic
    * tokens — survives the quality gates). */
  private def baseDocs(spark: SparkSession): DataFrame =
    ScaleBench.corpus(spark, 2000L).localCheckpoint()

  /** One mutually-inert batch per id: 40 fresh unique docs whose tokens
    * embed the batch id, so no two batches (and no batch vs the base)
    * share a shingle — survivor sets are order-independent. */
  private def batchDocs(spark: SparkSession, batchId: Long): DataFrame = {
    def alpha(c: org.apache.spark.sql.Column) =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    spark.range(40).select(
      (lit(batchId) * 1000L + col("id") + 1000000L).as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("x"), alpha(lit(batchId)), lit("d"), alpha(col("id")),
          lit(s"t$j"))): _*).as("text"),
      lit("en").as("lang"), lit("src").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
  }

  private def propsPath(workdir: String) =
    java.nio.file.Paths.get(workdir, "drill.properties")

  /** Full location URI (scheme kept — the registration must not re-root
    * a shared-store table onto the session default filesystem). */
  private def tableLocation(spark: SparkSession, t: String): String =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
      .location.toString

  /** Register a snapshot table by its recorded (name, location): the
    * snapshot is not a log table, so [[StateLog.attach]]'s generation
    * registration does not cover it. */
  private def register(spark: SparkSession, t: String, location: String): Unit =
    if (!spark.catalog.tableExists(t))
      StateLog.registerExternalParquet(spark, t, location)

  private def stateTablesOf(p: java.util.Properties): SnapshotStateSink.StateTables =
    SnapshotStateSink.StateTables(
      DedupIndexSink.IndexTables(p.getProperty("idx.hash"),
        p.getProperty("idx.band"), p.getProperty("idx.stop")),
      p.getProperty("testVocab"), p.getProperty("mixRates"),
      p.getProperty("bpeEnc"), p.getProperty("packSummary"))

  private def loadProps(workdir: String): java.util.Properties = {
    val p = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(propsPath(workdir))
    try p.load(in) finally in.close()
    p
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "prep" :: workdir :: Nil => prep(workdir)
    case "ingest" :: workdir :: first :: count :: Nil =>
      ingest(workdir, first.toLong, count.toInt)
    case "checkpoint" :: workdir :: loops :: Nil =>
      checkpointLoop(workdir, loops.toInt)
    case "sweeploop" :: workdir :: loops :: graceMs :: Nil =>
      sweepLoop(workdir, loops.toInt, graceMs.toLong)
    case "fold" :: workdir :: Nil => fold(workdir)
    case "asofreader" :: workdir :: gen :: loops :: Nil =>
      asofReader(workdir, gen.toLong, loops.toInt)
    case "vacuumloop" :: workdir :: loops :: graceMs :: Nil =>
      vacuumLoop(workdir, loops.toInt, graceMs.toLong)
    case "check" :: workdir :: ids :: Nil =>
      check(workdir, ids.split(",").map(_.trim.toLong).toSeq)
    case "randwalk" :: workdir :: writer :: seed :: rounds :: Nil =>
      randWalk(workdir, writer.toInt, seed.toLong, rounds.toInt)
    case "checkrand" :: workdir :: Nil => checkRand(workdir)
    case other =>
      System.err.println(s"usage: prep <dir> | ingest <dir> <first> <n> | " +
        s"checkpoint <dir> <loops> | sweeploop <dir> <loops> <graceMs> | " +
        s"fold <dir> | asofreader <dir> <gen> <loops> | " +
        s"vacuumloop <dir> <loops> <graceMs> | check <dir> <idsCsv> | " +
        s"randwalk <dir> <writer> <seed> <rounds> | checkrand <dir> — got $other")
      sys.exit(2)
  }

  /** The retract predicate derived FROM the op id alone — the randomized
    * walkers and their checker must agree on what a retraction meant
    * without any side channel beyond the manifest's (batch_id, kind). */
  private def randRetract(id: Long): (Int, Int) =
    (5 + (id % 5).toInt, (id % 3).toInt)

  /** RANDOMIZED cross-process walk: the in-process concurrent model
    * walk taken onto REAL processes. Each of two JVMs draws a seeded
    * random op per round — ingest, retract, fold, checkpoint, zero-grace
    * vacuum, graced sweep — and races it against whatever the peer drew,
    * arbitrated only by the filesystem claim CAS. No process knows the
    * other's plan; the committed manifest order is the one truth, and
    * [[checkRand]] replays exactly that order into a scratch log and
    * demands set-equal state. Writer w mints ids ≡ w (mod 2) so the two
    * plans can never collide on an id. */
  private def randWalk(workdir: String, writer: Int, seed: Long,
      rounds: Int): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    val st = stateTablesOf(p)
    val rnd = new scala.util.Random(seed * 2 + writer)
    var nextIngest = 500L + writer
    var nextRetract = 700L + writer
    val hist = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until rounds).foreach { i =>
      // round 0 always ingests: both walkers start by racing the CAS on
      // real appends, and the corpus walks from a non-trivial state.
      // round 2 forces fold||sweep so neither kind depends on where the
      // seed walks — the fold gives later vacuums something to take, the
      // sweep races the peer's live op cross-process.
      val roll =
        if (i == 0) 0
        else if (i == 2) { rnd.nextInt(100): Unit; if (writer == 0) 70 else 95 }
        else rnd.nextInt(100)
      val op = roll match {
        case r if r < 45 =>
          val id = nextIngest; nextIngest += 2
          require(StateLog.ingestBatch(spark, ref, st, batchDocs(spark, id), id),
            s"fresh batch $id must apply")
          s"ingest($id)"
        case r if r < 65 =>
          val id = nextRetract; nextRetract += 2
          val (m, rem) = randRetract(id)
          require(StateLog.retractBatch(spark, ref,
            col("doc_id") % m === rem, id), s"retraction $id must commit")
          s"retract($id,%$m==$rem)"
        case r if r < 80 =>
          StateLog.compactLog(spark, ref); "fold"
        case r if r < 87 =>
          val (b, a) = StateLog.checkpointManifest(spark, ref)
          require(a <= b && a >= 1, s"checkpoint $b->$a malformed")
          s"checkpoint($b->$a)"
        case r if r < 94 =>
          // zero-grace vacuum is legal against live WRITERS: only as-of
          // readers touch pre-fold generations, and none run here
          s"vacuum(${StateLog.vacuum(spark, ref).size})"
        case _ =>
          // the graced form is the only sweep legal against a live peer
          s"sweep(${StateLog.sweep(spark, ref, graceMs = 150000L).size})"
      }
      hist(op.takeWhile(_ != '(')) += 1
      println(s"[drill] pid=${ProcessHandle.current().pid()} w$writer " +
        s"round $i: $op")
    }
    println(s"[drill] randwalk done: pid=${ProcessHandle.current().pid()} " +
      s"w$writer ops=${hist.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")}")
    spark.stop()
  }

  /** Check the randomized walk: gen_ids dense and unique, zero claim
    * residue, and — the strong half — a FRESH scratch log replayed in the
    * COMMITTED manifest order (the serialization the CAS durably chose,
    * retractions re-derived from their op ids) lands set-equal on the
    * hash view, the effective band, and the corpus. A raced GC that ate
    * one live row, one duplicated append, or one lost retraction would
    * all surface here. */
  private def checkRand(workdir: String): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)

    spark.catalog.refreshTable(ref.manifest)
    val manifest = spark.table(ref.manifest).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val genIds = manifest.map(_._1)
    require(genIds == (0L until genIds.size.toLong),
      s"gen_ids must be dense and unique from 0, got $genIds")
    val manifestDir = java.nio.file.Paths.get(
      new java.net.URI(tableLocation(spark, ref.manifest))).toFile
    val claimsDir = new java.io.File(manifestDir.getParentFile,
      s"${ref.manifest}_manifest_claims")
    val residue = Option(claimsDir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".claim"))
    require(residue.isEmpty,
      s"clean commits must self-drop their claims, found $residue")

    val docs = baseDocs(spark)
    val st2 = SnapshotStateSink.write(spark, docs, lit(false), lit(true))
    val scratch = StateLog.fromSnapshot(spark, st2,
      StateLog.writeCorpusStore(spark, docs))
    manifest.foreach { case (gen, bid, kind) =>
      kind match {
        case "base" => ()
        case "delta" =>
          require(StateLog.ingestBatch(spark, scratch, st2,
            batchDocs(spark, bid), bid),
            s"scratch replay of batch $bid (gen $gen) must apply")
        case "retract" =>
          val (m, rem) = randRetract(bid)
          require(StateLog.retractBatch(spark, scratch,
            col("doc_id") % m === rem, bid),
            s"scratch replay of retraction $bid (gen $gen) must commit")
        case "fold" => StateLog.compactLog(spark, scratch)
        case other => sys.error(s"unexpected manifest kind $other at gen $gen")
      }
    }
    def sameSet(a: DataFrame, b: DataFrame, what: String): Unit =
      require(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what diverged between the raced log and the scratch replay")
    sameSet(StateLog.views(spark, ref)._1, StateLog.views(spark, scratch)._1,
      "hash view")
    sameSet(
      StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      StateLog.effectiveBand(spark, scratch).select("band", "band_key", "doc_id"),
      "effective band")
    sameSet(StateLog.corpus(spark, ref), StateLog.corpus(spark, scratch),
      "corpus")
    val kinds = manifest.groupBy(_._3).view.mapValues(_.size).toMap
    println(s"[drill] checkrand OK: ${genIds.size} gens " +
      s"(${kinds.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")}), " +
      "raced state == committed-order scratch replay, zero claim residue")
    spark.stop()
  }

  /** Commit one FOLD — the supersession event the graced-vacuum phase
    * ages. Prints the head generation so the script can name it. */
  private def fold(workdir: String): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    StateLog.compactLog(spark, ref)
    spark.catalog.refreshTable(ref.manifest)
    val head = spark.table(ref.manifest).distinct()
      .agg(max(col("gen_id"))).head().getLong(0)
    println(s"[drill] pid=${ProcessHandle.current().pid()} fold committed: head gen=$head")
    spark.stop()
  }

  /** A LIVE AS-OF READER racing a vacuuming peer:
    * loops a guarded historical read at `gen` (index views + corpus).
    * Legal outcomes per loop: the read RESOLVES, or it surfaces the clean
    * bounded-time-travel error (the peer's graced vacuum dropped the
    * generation) — at which point the reader exits green. A raw
    * missing-file failure crashes this process and fails the drill: that
    * is precisely the seam guardAsOfRead + the graced window close.
    * Requires at least one successful resolve (the script sequences the
    * vacuum to land mid-loop). */
  private def asofReader(workdir: String, gen: Long, loops: Int): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    var resolved = 0
    var bounded = false
    var i = 0
    while (i < loops && !bounded) {
      try {
        val n = StateLog.guardAsOfRead(spark, ref, gen) {
          StateLog.viewsAsOf(spark, ref, gen)._1.count() +
            StateLog.corpusAsOf(spark, ref, gen).count()
        }
        resolved += 1
        println(s"[drill] pid=${ProcessHandle.current().pid()} " +
          s"asof($gen) loop $i resolved (n=$n)")
      } catch {
        case e: IllegalStateException if e.getMessage.contains("bounded") =>
          bounded = true
          println(s"[drill] pid=${ProcessHandle.current().pid()} " +
            s"asof($gen) loop $i BOUNDED cleanly after $resolved resolves")
      }
      Thread.sleep(1000)
      i += 1
    }
    require(resolved > 0,
      "the reader must resolve at least once before the window closes")
    println(s"[drill] asof reader done: pid=${ProcessHandle.current().pid()} " +
      s"resolved=$resolved bounded=$bounded")
    spark.stop()
  }

  /** GRACED vacuums in a loop against the live reader: drops nothing
    * while the superseding fold is young; once the script ages the fold's
    * manifest row file past the grace, the superseded generations are
    * reclaimed. Asserts the reclamation happened and the head still
    * reads. */
  private def vacuumLoop(workdir: String, loops: Int, graceMs: Long): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    var total = 0
    (0 until loops).foreach { i =>
      val dropped = StateLog.vacuum(spark, ref, graceMs)
      total += dropped.size
      println(s"[drill] pid=${ProcessHandle.current().pid()} vacuum $i " +
        s"(grace ${graceMs}ms): dropped=${dropped.size} ${dropped.take(4).mkString(",")}")
      Thread.sleep(1500)
    }
    require(total > 0,
      "the graced vacuum must reclaim the aged-fold's superseded generations")
    val (hashV, _, _, _) = StateLog.views(spark, ref)
    require(hashV.count() > 0 && StateLog.corpus(spark, ref).count() > 0,
      "the head state must survive the vacuum")
    println(s"[drill] vacuum loop done: pid=${ProcessHandle.current().pid()} " +
      s"dropped=$total, head reads green")
    spark.stop()
  }

  /** A FOURTH concurrent process class: GRACED
    * sweeps in a loop against the two LIVE ingesters. The grace window
    * protects their in-flight attempts (young writes) while the AGED
    * foreign orphan `prep` planted — a crashed attempt from a process no
    * live catalog ever saw — must be reclaimed from the store. Asserts
    * the reclamation before exiting; `check` then proves no live
    * generation was lost. */
  private def sweepLoop(workdir: String, loops: Int, graceMs: Long): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    val orphan = new java.io.File(p.getProperty("orphanDir"))
    (0 until loops).foreach { i =>
      val dropped = StateLog.sweep(spark, ref, graceMs)
      println(s"[drill] pid=${ProcessHandle.current().pid()} sweep $i " +
        s"(grace ${graceMs}ms): dropped=${dropped.size} ${dropped.take(4).mkString(",")}")
      Thread.sleep(2000)
    }
    require(!orphan.exists(),
      s"the aged foreign orphan $orphan must be reclaimed by a graced sweep")
    println(s"[drill] sweep loop done: pid=${ProcessHandle.current().pid()} " +
      "aged foreign orphan reclaimed, live writers untouched")
    spark.stop()
  }

  /** A THIRD concurrent process class: manifest checkpoints in a loop
    * against the two live ingesters — the in-process checkpoint-under-
    * live-committers rehearsal taken cross-process (the checkpoint is safe
    * under live committers BY DESIGN: concurrent appends land as their
    * own files outside the listed set, losers of the read race retry
    * into the no-op; `sweep` is NOT in this loop — it requires foreign
    * writers quiesced by contract). */
  private def checkpointLoop(workdir: String, loops: Int): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    (0 until loops).foreach { i =>
      val (before, after) = StateLog.checkpointManifest(spark, ref)
      println(s"[drill] pid=${ProcessHandle.current().pid()} " +
        s"checkpoint $i: $before -> $after files")
      Thread.sleep(1500)
    }
    println(s"[drill] checkpoint loop done: pid=${ProcessHandle.current().pid()}")
    spark.stop()
  }

  private def prep(workdir: String): Unit = {
    val spark = session()
    val docs = baseDocs(spark)
    val st = SnapshotStateSink.write(spark, docs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st,
      StateLog.writeCorpusStore(spark, docs))
    val p = new java.util.Properties()
    p.setProperty("manifest", ref.manifest)
    Seq("idx.hash" -> st.index.hash, "idx.band" -> st.index.band,
      "idx.stop" -> st.index.stop,
      "testVocab" -> st.testVocab, "mixRates" -> st.mixRates,
      "bpeEnc" -> st.bpeEnc, "packSummary" -> st.packSummary)
      .foreach { case (k, t) =>
        p.setProperty(k, t)
        p.setProperty(s"path.$t", tableLocation(spark, t))
      }
    // plant an AGED foreign orphan under the shared root: a crashed
    // attempt's table dir with this log's name prefix that NO live
    // catalog knows — only the graced store-level sweep can see it.
    // Backdate every mtime well past any sane grace window.
    val orphan = new java.io.File(sys.props("java.io.tmpdir"),
      s"${ref.manifest}_hash_b999_aforeigndead_1")
    docs.limit(2).select("doc_id").write.mode("overwrite").parquet(orphan.getPath)
    val old = System.currentTimeMillis() - 24L * 3600 * 1000
    def backdate(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(backdate))
      f.setLastModified(old): Unit
    }
    backdate(orphan)
    p.setProperty("orphanDir", orphan.getPath)
    val out = java.nio.file.Files.newOutputStream(propsPath(workdir))
    try p.store(out, "graft two-process drill handle") finally out.close()
    println(s"[drill] prep done: manifest=${ref.manifest} orphan=$orphan")
    spark.stop()
  }

  private def attachAll(spark: SparkSession,
      p: java.util.Properties): StateLog.LogRef = {
    // the ingest gates read testVocab/mixRates through the catalog;
    // register every snapshot table by its recorded path first
    Seq("idx.hash", "idx.band", "idx.stop", "testVocab", "mixRates", "bpeEnc", "packSummary").foreach { k =>
      val t = p.getProperty(k)
      register(spark, t, p.getProperty(s"path.$t"))
    }
    StateLog.attach(spark, p.getProperty("manifest"))
  }

  private def ingest(workdir: String, first: Long, count: Int): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    val st = stateTablesOf(p)
    (0 until count).foreach { i =>
      val id = first + i
      val applied = StateLog.ingestBatch(spark, ref, st,
        batchDocs(spark, id), id)
      println(s"[drill] pid=${ProcessHandle.current().pid()} batch=$id " +
        s"applied=$applied")
    }
    println(s"[drill] ingest done: pid=${ProcessHandle.current().pid()} " +
      s"batches=$first..${first + count - 1}")
    spark.stop()
  }

  private def check(workdir: String, batchIds: Seq[Long]): Unit = {
    val spark = session()
    val p = loadProps(workdir)
    val ref = attachAll(spark, p)
    val st = stateTablesOf(p)

    spark.catalog.refreshTable(ref.manifest)
    val manifest = spark.table(ref.manifest).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val genIds = manifest.map(_._1)
    require(genIds == (0L to batchIds.size.toLong),
      s"gen_ids must be dense and unique 0..${batchIds.size}, got $genIds")
    require(manifest.filter(_._3 == "delta").map(_._2).toSet == batchIds.toSet,
      s"every batch exactly once, got ${manifest.map(_._2).toList}")
    val manifestDir = java.nio.file.Paths.get(
      new java.net.URI(tableLocation(spark, ref.manifest))).toFile
    val claimsDir = new java.io.File(manifestDir.getParentFile,
      s"${ref.manifest}_manifest_claims")
    val residue = Option(claimsDir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".claim"))
    require(residue.isEmpty,
      s"clean commits must self-drop their claims, found $residue")

    // scratch replay in THIS (third) process: same base, same batches,
    // sequential — the raced log must land on the same state
    val docs = baseDocs(spark)
    val st2 = SnapshotStateSink.write(spark, docs, lit(false), lit(true))
    val scratch = StateLog.fromSnapshot(spark, st2,
      StateLog.writeCorpusStore(spark, docs))
    batchIds.sorted.foreach { id =>
      require(StateLog.ingestBatch(spark, scratch, st2,
        batchDocs(spark, id), id), s"scratch replay of batch $id must apply")
    }
    def sameSet(a: DataFrame, b: DataFrame, what: String): Unit =
      require(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what diverged between the raced log and the scratch replay")
    sameSet(StateLog.views(spark, ref)._1, StateLog.views(spark, scratch)._1,
      "hash view")
    sameSet(StateLog.corpus(spark, ref), StateLog.corpus(spark, scratch),
      "corpus")
    println(s"[drill] check OK: gens=$genIds batches=${batchIds.sorted} " +
      "final == scratch replay, zero claim residue")
    spark.stop()
  }
}
