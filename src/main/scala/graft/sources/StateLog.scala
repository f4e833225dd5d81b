package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextCountExpressions.ws_token_count
import graft.pipeline.{Curation, Dedup}

/** The GENERATIONAL state log — exactly-once STREAMING ingest into the
  * at-rest curation state (the composition of the streaming family with
  * eq139–eq143's stored-state family).
  *
  * [[SnapshotStateSink.advance]] appends into shared tables, which is the
  * right shape for a driver-run batch job but cannot give a streaming
  * sink exactly-once: a micro-batch REPLAYED after a crash would append
  * its survivor rows twice, and worse, the replay's probes would see the
  * first attempt's rows and gate the whole batch out as duplicates. The
  * log fixes both with a write-ahead discipline:
  *
  *  - every operation attempt writes its delta as its OWN GENERATION —
  *    five tables under ATTEMPT-UNIQUE names (unique per attempt, not
  *    just per batch id, so a slow concurrent duplicate attempt can
  *    never overwrite tables a committed manifest row already points
  *    at); the manifest row BINDS the names, so nothing about a
  *    generation is resolved by naming convention;
  *  - a single-row append to the MANIFEST table is the COMMIT POINT,
  *    guarded by a per-generation COMMIT-CLAIM table (the durable
  *    cross-process CAS, below). Probes and views read only
  *    manifest-committed generations, so an in-flight (crashed,
  *    half-written) attempt is invisible — the replay recomputes
  *    survivors against exactly the pre-batch state and converges, and
  *    the crashed attempt's unreferenced tables are reclaimed by
  *    [[sweep]];
  *  - a replayed batch whose id is already in the manifest is skipped
  *    outright (the at-least-once → exactly-once gate).
  *
  * The manifest itself is APPEND-ONLY — including compaction and
  * deletion. A fold ([[compactLog]]) writes the merged generation's
  * tables and then appends ONE `fold`-kind manifest row; readers
  * resolve the active state as "the latest fold row plus everything
  * after it", so the pointer flip is a single atomic-append commit,
  * never an in-place rewrite of the table every reader depends on (an
  * overwrite would have a drop-recreate window in which a crash strands
  * the whole log). A retraction ([[retractBatch]]) commits eq143's two
  * tombstones as a `retract`-kind generation that every view subtracts,
  * applied physically at the next fold. Batch-id skip checks scan the
  * FULL manifest history (kind-aware), so a replay of a long-committed
  * operation is still skipped after any number of folds. Manifest rows
  * accumulate one per operation — tiny — while the per-probe union
  * width is bounded by the folds.
  *
  * Layer semantics per generation (the hash, band and stop facts are
  * [[SnapshotStateSink.deltaFacts]], the advance's own math): `hash` —
  * the batch survivors' content
  * hashes not present in any committed generation (probed scan-only:
  * batch hashes broadcast INTO the state union, never a state-wide
  * shuffle); `band` — the survivors' band keys (probes filter by the
  * UNION of stop lists, the monotone guard, exactly eq141's posture);
  * `stop` — buckets the batch pushed past the cap, relative to the
  * committed raw mass; `pack` — the CUMULATIVE per-lang pack summary
  * ([[Curation.appendPackSummary]]'s O(batch) math over the latest
  * committed summary), so the newest generation's pack table is always
  * the whole corpus's summary.
  *
  * The driver-side manifest read (one tiny collect per batch) is the
  * log's only driver-side state — nothing else survives a restart,
  * which is the point: StreamingSpec pins that a fresh "driver"
  * resuming from the manifest skips committed batches and lands on the
  * same final state. The log's oracle drills (eq144, eq146–eq154) live
  * in [[StateDrills]].
  *
  * Reference basis: the reference persists ETL output and serves queries
  * from the stored copy (`etl_project/data.py:41-42`); this is that
  * round-trip under continuous arrival with failure recovery.
  */
object StateLog {

  /** Index-hash table names of snapshots a log wraps ([[fromSnapshot]]'s
    * gen 0 POINTS at the snapshot's live tables, no copy) — an in-place
    * [[SnapshotStateSink.advance]] on such a snapshot would retroactively
    * mutate a committed generation, so the sink refuses it.
    * The marker is DURABLE (a catalog marker table derived from the
    * wrapped hash table's name) plus a fast in-process set: the failure
    * this guard exists for is precisely the OTHER-driver restart — a
    * fresh JVM resolving the same names through a persistent metastore —
    * where a memory-only set would silently fail open. */
  private val wrappedSnapshots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def wrapMarker(hashTable: String): String = s"${hashTable}_logwrapped"
  private[sources] def wrapsSnapshotIndex(spark: SparkSession, hashTable: String): Boolean =
    wrappedSnapshots.contains(hashTable) ||
      spark.catalog.tableExists(wrapMarker(hashTable))
  /** Test hook: forget the in-process wrap registration, simulating a
    * FRESH driver that resolves the same names through the catalog — the
    * durable marker must still refuse the in-place advance. */
  private[graft] def forgetWrappedInProcess(hashTable: String): Unit =
    wrappedSnapshots.remove(hashTable): Unit

  /** Table names currently being written by an in-flight attempt of THIS
    * process — [[sweep]]'s protection against reclaiming an attempt that
    * has not reached its commit point yet. Cross-process, sweep has no
    * such registry: the zero-grace form must only run with foreign
    * writers quiesced; a GRACED sweep is the live-writer-safe form — it
    * reclaims only candidates whose newest write is older than the grace
    * window, which a live attempt never is. */
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-manifest commit mutex + optimistic re-check + the durable
    * per-generation COMMIT CLAIM. The
    * manifest is append-only and every committer mints gen_id = max+1
    * from its own read, so two concurrent committers racing the
    * read→append window would mint duplicate gen_ids and lose an update.
    * Three rings close that window:
    *
    *  (a) same-process committers serialize on a per-manifest mutex;
    *  (b) under the mutex, the max gen_id is re-checked against the one
    *      this operation READ its views at — if the manifest advanced,
    *      the operation's survivor math is stale and the commit ABORTS
    *      into [[withCommitRetry]], which recomputes from fresh history;
    *  (c) CROSS-PROCESS writers — which the mutex cannot see — are
    *      arbitrated by a durable FILESYSTEM CAS (a catalog create
    *      would only arbitrate writers sharing a metastore — two driver
    *      processes with per-JVM in-memory catalogs never see each
    *      other's claims; the shared STORE is the one thing every writer
    *      of the same log provably shares):
    *      before appending, the committer must PUBLISH the claim marker
    *      `<manifest>_manifest_claims/g<N>.claim` exclusively. The
    *      marker's content (the ENTIRE manifest row, written to an
    *      attempt-unique temp file first) is complete BEFORE the
    *      publish, and the publish is a single atomic primitive — a
    *      hard link on local stores (O_EXCL semantics: fails if the
    *      marker exists), a no-overwrite rename on HDFS — so no reader
    *      ever observes a half-written claim on an atomic store. The
    *      committer then reads the marker back and must see its OWN
    *      payload (the verify half: an object store whose rename is
    *      last-wins resolves a double-publish silently, and the verify
    *      makes the loser abort). The loser aborts into the same retry
    *      as an in-process loser.
    *
    * Crash recovery: the marker carries the ENTIRE manifest row, and
    * every generation table is fully written before the claim is
    * attempted — so a claimant that dies between its claim and its
    * manifest append is ROLLED FORWARD by the next committer (the claim
    * content is appended on its behalf). If the claimant was merely slow
    * and appends too, the rows are byte-identical and [[history]] dedups;
    * a torn claim (unparseable content — only possible on a non-atomic
    * store) never committed anything and is deleted so the slot can be
    * re-claimed. A committer whose manifest append LANDED deletes its
    * own marker immediately: the roll-forward and
    * sweep paths re-check the manifest first, so the claim is inert the
    * instant its row is durable, and N clean commits leave zero claim
    * residue. One residual asymmetry, documented: a writer whose own
    * earlier claim gets rolled forward by a peer observes `false`
    * ("already committed") from its retry — the batch landed exactly
    * once either way. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  /** Test hook (the `forgetWrappedInProcess` of the commit path): while a
    * manifest is registered here, every commit takes a FRESH lock object,
    * making the in-process mutex ineffective — two threads then race the
    * read→claim→append window exactly like two separate DRIVER PROCESSES
    * sharing a metastore would, and the durable claim CAS must arbitrate
    * alone. */
  private val unsharedLocks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def simulateCrossProcessWriters(manifest: String, on: Boolean): Unit =
    if (on) { unsharedLocks.add(manifest): Unit }
    else { unsharedLocks.remove(manifest): Unit }

  /** The directory holding this log's durable claim markers — a sibling
    * of the manifest directory on the SAME shared store, so any process
    * that can read the log can arbitrate commits against it. */
  private def claimsDir(spark: SparkSession, ref: LogRef): org.apache.hadoop.fs.Path = {
    val loc = manifestDir(spark, ref)
    new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + "_claims")
  }

  /** The manifest's parquet data files (one per committed row, or a
    * checkpoint's merged file) under its directory `dir`. */
  private def manifestFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The manifest table's directory, as the catalog records it. */
  private def manifestDir(spark: SparkSession, ref: LogRef): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(ref.manifest)).location)

  private def hadoopFs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The log's shared root: the manifest directory's parent — where every
    * generation table, commit stage and claim dir is minted, on the
    * manifest's OWN store (scheme kept). [[saveGen]] minting HERE is
    * what makes a log attached under a non-default root
    * coherent: peers resolve committed tables from this root
    * ([[registerForeign]]), and the graced [[sweep]]'s age walk finds
    * them where the candidate scan looks. For a default-root log this is
    * exactly the old java.io.tmpdir convention. */
  private def logRoot(spark: SparkSession, ref: LogRef): org.apache.hadoop.fs.Path =
    manifestDir(spark, ref).getParent

  /** "Now" AS THE STORE SEES IT: the graced
    * [[sweep]]/[[vacuum]] age candidates by store-reported mtimes, so a
    * sweeper whose WALL clock is skewed from the store's would silently
    * shrink (clock ahead) or stretch (clock behind) the grace window.
    * Deriving the clock origin from the store itself — write one tiny
    * probe file beside the claims, read its mtime back, delete it —
    * makes the age comparison same-clock by construction: skew cancels.
    * One create+stat+delete per sweep; falls back to the wall clock only
    * if the store refuses the probe (degraded: skew then shifts the
    * window). */
  private def storeNow(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long =
    try {
      fs.mkdirs(dir): Unit
      val probe = new org.apache.hadoop.fs.Path(dir, s".graft_clock_probe_${AtRest.nextId()}")
      val out = fs.create(probe, true)
      out.close()
      try fs.getFileStatus(probe).getModificationTime
      finally fs.delete(probe, false): Unit
    } catch { case _: java.io.IOException => System.currentTimeMillis() }

  /** Test seam for the probe basis: the skew test reads the store clock
    * through a deliberately skewed FileSystem and asserts the graced age
    * decision follows the STORE's clock, not the JVM's. */
  private[graft] def probedStoreNow(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path): Long = storeNow(hadoopFs(spark, dir), dir)

  /** The name shapes this log MINTS under its root — the only directories
    * the store-level candidate scan may consider (`<manifest>_<layer>_<tag>`
    * attempt tables from [[saveGen]], `<manifest>_stage_<nonce>` commit
    * stages from [[commitOneFile]]). A bare prefix match would
    * let user-named sibling logs (`mylog` / `mylog_v2`) reclaim each
    * other's live directories. */
  private val MintedSuffixes =
    Seq("hash_", "band_", "stop_", "pack_", "cur_", "stage_")

  /** `p`'s newest write is at least `graceMs` older than `storeNowMs`
    * (both on the STORE's clock). A path that vanishes or mutates
    * mid-walk is a live writer's — young. */
  private[graft] def agedOnStore(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, storeNowMs: Long, graceMs: Long): Boolean = {
    def newestMtime(q: org.apache.hadoop.fs.Path): Long = {
      val st = fs.getFileStatus(q)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +: fs.listStatus(q).toSeq.map(s =>
        if (s.isDirectory) newestMtime(s.getPath) else s.getModificationTime)).max
    }
    try storeNowMs - newestMtime(p) >= graceMs
    catch { case _: java.io.FileNotFoundException => false }
  }

  private def markerName(gen: Long): String = s"g$gen.claim"
  private val MarkerGenRe = """^g(\d+)\.claim$""".r

  /** Test hook: the local path of gen `gen`'s claim marker — the crash
    * matrix plants dead claimants' markers and asserts self-drops
    * through it. */
  private[graft] def claimMarkerPathForTest(spark: SparkSession, ref: LogRef,
      gen: Long): String =
    new org.apache.hadoop.fs.Path(claimsDir(spark, ref), markerName(gen))
      .toUri.getPath

  /** Marker content: the 8 manifest-row fields, tab-joined (gen_id,
    * batch_id, kind and 5 table names — all tab-free by construction). */
  private def claimPayload(g: Gen): String = genRowValues(g).mkString("\t")

  private def parseClaim(s: String, gen: Long): Option[Gen] =
    s.split("\t", -1) match {
      case Array(gid, bid, kind, h, b, st, p, c) =>
        try {
          val g = Gen(gid.toLong, bid.toLong, kind, h, b, st, p, c)
          if (g.genId == gen && Seq(kind, h, b, st, p, c).forall(_.nonEmpty))
            Some(g)
          else None
        } catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** None = the marker vanished (a peer self-dropped or swept it) —
    * NEVER a torn read: a real IO failure propagates. */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(marker)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** HARD PRECONDITION of the claim CAS: the claim store
    * must offer an atomic EXCLUSIVE publish primitive — a posix hard
    * link (local) or a no-overwrite rename (HDFS and compatible). On a
    * store whose rename is LAST-WINS (object stores: rename is a copy
    * that silently replaces the destination), the read-back verify only
    * NARROWS the double-commit window, it does not close it: A publishes
    * and verifies its own payload, B then overwrites and also verifies
    * its own — both proceed, both append, and two DISTINCT rows share a
    * gen_id ([[history]] fails loudly, but the log then needs manual
    * repair). KNOWN last-wins schemes are therefore refused up front;
    * `spark.graft.statelog.claims.allowNonAtomicStore=true` accepts the
    * residual window explicitly (legitimate only for single-writer
    * deployments, where the CAS never races) and downgrades the refusal
    * to a one-time warning. Schemes this list cannot know about are
    * still caught at RUNTIME by the read-back verify whenever the
    * interleaving allows (pinned by LastWinsClaimSpec) — the list is the
    * fail-fast layer, the verify the best-effort net behind it. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "swift", "cosn")
  private val warnedNonAtomic =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def requireAtomicPublishStore(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, ref: LogRef): Unit =
    if (NonAtomicRenameSchemes.contains(fs.getScheme)) {
      if (!spark.conf.getOption("spark.graft.statelog.claims.allowNonAtomicStore")
          .exists(_.toBoolean))
        throw new UnsupportedOperationException(
          s"state log ${ref.manifest}: the claim store (scheme " +
            s"'${fs.getScheme}') has no atomic exclusive rename/link, so " +
            "the commit-claim CAS cannot arbitrate concurrent writers (a " +
            "double-publish resolves last-wins and BOTH writers can " +
            "proceed). Put the log on a store with an atomic exclusive " +
            "publish (local posix, HDFS), or accept the single-writer-only " +
            "posture explicitly with " +
            "spark.graft.statelog.claims.allowNonAtomicStore=true")
      else if (warnedNonAtomic.add(s"${fs.getScheme}:${ref.manifest}"))
        System.err.println(s"[statelog] WARNING: claim store scheme " +
          s"'${fs.getScheme}' for ${ref.manifest} has no atomic exclusive " +
          "publish — the commit-claim CAS is sound ONLY with a single " +
          "writer (allowNonAtomicStore=true accepted the risk)")
    }

  /** The attach-time (read-entry) form of the precondition:
    * pure readers proceed with no flag — reads carry no commit risk — but
    * the coming refusal is named ONCE up front so a would-be committer is
    * not surprised at its first commit. */
  private def warnNonAtomicStoreOnAttach(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, ref: LogRef): Unit =
    if (NonAtomicRenameSchemes.contains(fs.getScheme) &&
        !spark.conf.getOption("spark.graft.statelog.claims.allowNonAtomicStore")
          .exists(_.toBoolean) &&
        warnedNonAtomic.add(s"attach:${fs.getScheme}:${ref.manifest}"))
      System.err.println(s"[statelog] NOTE: ${ref.manifest} lives on scheme " +
        s"'${fs.getScheme}', which has no atomic exclusive publish. Reads " +
        "are unaffected; COMMITS will be refused unless " +
        "spark.graft.statelog.claims.allowNonAtomicStore=true accepts the " +
        "single-writer posture")

  /** Publish `payload` at `marker` atomically and exclusively: the
    * content goes to an attempt-unique temp file first (complete before
    * publish), then ONE primitive moves it into place — a hard link
    * where the store supports it (local posix: O_EXCL, fails on an
    * existing marker), a no-overwrite rename elsewhere (HDFS: atomic,
    * fails on an existing destination). Returns whether this attempt
    * WON the slot; the temp file is always cleaned. Object stores whose
    * rename is last-wins can mis-report a win here — the caller's
    * read-back verify catches the interleavings it can (it does NOT
    * close the window: see [[requireAtomicPublishStore]], which refuses
    * known last-wins schemes up front). */
  private def publishExclusive(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, marker: org.apache.hadoop.fs.Path,
      payload: Array[Byte]): Boolean = {
    fs.mkdirs(dir): Unit
    val tmp = new org.apache.hadoop.fs.Path(dir, s"${marker.getName}.${AtRest.nextId()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(payload) finally out.close()
    val won =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(marker.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.nio.file.NoSuchFileException => false // tmp swept
        }
      else
        // only the lost-race shapes are a "false" — HDFS reports an
        // existing destination by RETURNING false, FileContext-style
        // stores by throwing; a genuine IO failure must PROPAGATE, not
        // masquerade as 16 rounds of phantom contention
        try fs.rename(tmp, marker) catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    fs.delete(tmp, false): Unit
    won
  }

  /** Every manifest read goes through here: the manifest is the ONE
    * mutable (append-only) table in the log, and Spark caches a resolved
    * table's file list per session — a peer SESSION or PROCESS's append
    * would be invisible to the stale cache (found by the cross-process
    * race test), so the relation cache is refreshed first. Generation
    * and claim tables need no refresh: attempt-unique names make every
    * other table in the log write-once. */
  private def freshManifest(spark: SparkSession, ref: LogRef): DataFrame = {
    spark.catalog.refreshTable(ref.manifest)
    spark.table(ref.manifest)
  }

  private def maxGen(spark: SparkSession, ref: LogRef): Long =
    withManifestRetry() {
      // manifest-sized driver read: the manifest is the
      // log's one deliberate driver-side read, so take the max on the
      // driver instead of paying a two-stage agg exchange per commit check
      val rows = freshManifest(spark, ref).select(col("gen_id")).collect()
      // every log starts at a genesis row, so an EMPTY manifest means the
      // handle points at a location that is not a log — name the problem
      // instead of NPE-ing in getLong on the null max
      require(rows.nonEmpty,
        s"state log ${ref.manifest}: the manifest is empty — this handle " +
          "does not point at a log (attach with the root the log was " +
          "created under?)")
      rows.iterator.map(_.getLong(0)).max
    }

  /** A manifest read can race [[checkpointManifest]]'s file swap: the
    * checkpoint's merged file is renamed in BEFORE the superseded row
    * files are deleted, so every row is readable at every instant — but
    * a reader that planned its scan from a listing taken just before the
    * deletes can still try to open a now-missing file. The rows it
    * wanted are in the merged file, so the read is simply re-planned
    * from a fresh listing. Bounded: each retry requires another
    * concurrent checkpoint swap in the window. */
  private def withManifestRetry[T](attemptsLeft: Int = 4)(body: => T): T =
    try body catch {
      case e: Throwable if attemptsLeft > 1 && missingFile(e, 8) =>
        withManifestRetry(attemptsLeft - 1)(body)
    }

  /** Both shapes a vanished file takes in Spark 4: executor-side reads
    * throw FileNotFoundException (often wrapped), while an explicit-path
    * `spark.read.parquet(files)` fails PLANNING with AnalysisException
    * PATH_NOT_FOUND ("Path does not exist") — the concurrent-checkpoint
    * loser's path, which must retry into the no-op, not crash.
    *
    * NARROW on purpose: only a FileNotFoundException
    * instance, an AnalysisException whose error CONDITION is
    * PATH_NOT_FOUND, or a task-failure SparkException quoting one (an
    * executor exception that could not be re-serialized crosses the
    * wire as message text only) qualifies — an arbitrary Throwable whose
    * message merely mentions a missing path (a misconfigured manifest
    * location wrapped in some other error) must surface immediately,
    * not after 4 blind retries. */
  private def missingFile(e: Throwable, depth: Int): Boolean =
    e != null && depth > 0 && (e.isInstanceOf[java.io.FileNotFoundException] ||
      (e match {
        case a: org.apache.spark.sql.AnalysisException =>
          Option(a.getCondition).exists(_.contains("PATH_NOT_FOUND"))
        case s: org.apache.spark.SparkException =>
          Option(s.getMessage).exists(m => m.contains("FileNotFoundException") ||
            m.contains("Path does not exist"))
        case _ => false
      }) || missingFile(e.getCause, depth - 1))

  /** The SAME-PROCESS twin of [[missingFile]] (found by the raced
    * maintenance walk): a session sharing this JVM's external catalog
    * with a vacuuming one loses the table ENTRY, not just the files, so
    * an as-of read racing the drop fails ANALYSIS with
    * TABLE_OR_VIEW_NOT_FOUND before any path is touched. Only
    * [[guardAsOfRead]] consults this shape — its store re-check decides
    * whether the table is genuinely gone. A manifest read must NEVER
    * retry through it: the manifest table always exists, and a missing
    * one is a misconfiguration to surface, so [[withManifestRetry]]
    * stays on [[missingFile]] alone. */
  private def missingLogTable(e: Throwable, depth: Int): Boolean =
    e != null && depth > 0 && ((e match {
      case a: org.apache.spark.sql.AnalysisException =>
        Option(a.getCondition).exists(_.contains("TABLE_OR_VIEW_NOT_FOUND"))
      case _ => false
    }) || missingLogTable(e.getCause, depth - 1))

  /** Append one manifest row as ONE uniquely-named parquet file, staged
    * at a private path and RENAMED into the table directory — the
    * append-only-log file pattern. A `saveAsTable("append")` stages
    * every writer's tasks under the SAME `_temporary` directory inside
    * the table path, so two appends racing from different processes (a
    * roll-forward vs the slow claimant it is finishing, or any two
    * drivers) can delete each other's in-flight task files and abort —
    * the failure the cross-process race test caught for real. With one
    * staged file per row and an atomic rename, concurrent appenders
    * never share a byte of staging; readers list the directory fresh
    * ([[freshManifest]]). */
  private def appendManifestRow(spark: SparkSession, ref: LogRef, g: Gen): Unit = {
    commitOneFile(spark, ref, genRow(spark, g), s"part-row-g${g.genId}-${AtRest.nextId()}.parquet")
  }

  /** The atomic commit-file step shared by [[appendManifestRow]] and
    * [[checkpointManifest]]: write `df` as ONE parquet file at a private
    * staging path, then RENAME it to `<manifest location>/<destName>` —
    * racers never share a staging byte; the rename is the only
    * shared-namespace operation. */
  private def commitOneFile(spark: SparkSession, ref: LogRef,
      df: DataFrame, destName: String): Unit = {
    val loc = manifestDir(spark, ref)
    // the stage lives beside the manifest ON THE MANIFEST'S OWN STORE:
    // a stage on the session-default filesystem breaks the commit
    // rename whenever the log's root is a DIFFERENT store (defaultFS=file
    // with an hdfs:// manifest, or any attached non-default root) —
    // rename cannot cross filesystems. Crashed stage dirs are log-prefix
    // siblings of the manifest, so the graced [[sweep]] reclaims them.
    val stagePath = new org.apache.hadoop.fs.Path(loc.getParent,
      s"${ref.manifest}_stage_${AtRest.nextId()}")
    df.coalesce(1).write.mode("overwrite").parquet(stagePath.toString)
    val fs = hadoopFs(spark, stagePath)
    val part = fs.listStatus(stagePath).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .head
    val dest = new org.apache.hadoop.fs.Path(loc, destName)
    require(fs.rename(part, dest),
      s"state log ${ref.manifest}: commit-file rename failed for $destName")
    fs.delete(stagePath, true): Unit
    spark.catalog.refreshTable(ref.manifest)
  }

  private def stale(ref: LogRef, msg: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"state log ${ref.manifest}: $msg")

  /** Append `g` iff the manifest still ends at `expectedMaxGen` AND this
    * committer wins the durable claim for gen `expectedMaxGen + 1`. */
  private def commitRow(spark: SparkSession, ref: LogRef,
      expectedMaxGen: Long, g: Gen): Unit = {
    val lock =
      if (unsharedLocks.contains(ref.manifest)) new Object
      else commitLocks.computeIfAbsent(ref.manifest, _ => new Object)
    lock.synchronized {
      val cur = maxGen(spark, ref)
      if (cur != expectedMaxGen)
        stale(ref, s"manifest advanced ($expectedMaxGen -> $cur) " +
          "since this operation read its views")
      val dir = claimsDir(spark, ref)
      val fs = hadoopFs(spark, dir)
      requireAtomicPublishStore(spark, fs, ref)
      val marker = new org.apache.hadoop.fs.Path(dir, markerName(expectedMaxGen + 1))
      if (fs.exists(marker)) {
        // another (crashed or foreign in-flight) claimant holds the slot:
        // finish its commit if it is whole, clear it if it is torn, and
        // abort — this attempt's math is stale against the claimed state
        rollForwardClaim(spark, ref, fs, marker, expectedMaxGen + 1)
        stale(ref, s"generation ${expectedMaxGen + 1} was claimed by another writer")
      }
      val payload = claimPayload(g)
      if (!publishExclusive(fs, dir, marker, payload.getBytes("UTF-8")))
        stale(ref, s"lost the claim race for generation ${expectedMaxGen + 1}")
      // publish-then-VERIFY: the readback must be exactly this attempt's
      // payload (the row is its own token — the table names are
      // attempt-unique); a store without an exclusive publish resolves
      // a double-publish last-wins, and the verify makes the loser abort
      if (!readMarker(fs, marker).contains(payload))
        stale(ref, s"claim for generation ${expectedMaxGen + 1} " +
          "verified against another writer's content")
      // belt-and-braces: a committed row could have landed between the
      // max re-check and the claim publish if a sweep reclaimed the
      // winner's claim in that window — never append over it (and free
      // the slot again iff the marker is still this attempt's)
      val cur2 = maxGen(spark, ref)
      if (cur2 != expectedMaxGen) {
        if (readMarker(fs, marker).contains(payload))
          fs.delete(marker, false): Unit
        stale(ref, s"manifest advanced ($expectedMaxGen -> $cur2) during the claim")
      }
      // crash-drill hook (the SIGKILL analogue of
      // claimMarkerPathForTest's planted markers): with this env var set,
      // announce the published claim at the named sentinel path and hang
      // INSIDE the claim→append window, so tools/two_process_drill.sh can
      // SIGKILL this JVM mid-commit and a peer must roll the claim
      // forward for real. Inert unless the var is set.
      sys.env.get("GRAFT_TEST_HANG_AFTER_CLAIM").foreach { sentinel =>
        java.nio.file.Files.write(java.nio.file.Paths.get(sentinel),
          claimPayload(g).getBytes("UTF-8"))
        Thread.sleep(3600000L)
      }
      appendManifestRow(spark, ref, g)
      // the row is durably in the manifest — the claim is inert from
      // this instant; drop it NOW so clean commits leave no residue
      // (crash windows stay covered by the roll-forward, which
      // re-checks the manifest first)
      try { fs.delete(marker, false): Unit } catch { case _: Exception => () }
    }
  }

  /** A pre-existing claim at the slot this committer wanted: if its
    * content parses to a whole row whose generation never reached the
    * manifest, the claimant died between claim and append — append its
    * row on its behalf (every generation table is written BEFORE the
    * claim, so the content is complete), then delete the now-inert
    * marker. Unparseable content (torn — only a non-atomic store can
    * produce one, a local hard link or HDFS rename publishes complete
    * content or nothing) never committed anything and is deleted so the
    * slot can be re-claimed. */
  private def rollForwardClaim(spark: SparkSession, ref: LogRef,
      fs: org.apache.hadoop.fs.FileSystem, marker: org.apache.hadoop.fs.Path,
      gen: Long): Unit = {
    readMarker(fs, marker).flatMap(parseClaim(_, gen)) match {
      case Some(claimed) =>
        if (withManifestRetry() {
          freshManifest(spark, ref).filter(col("gen_id") === gen).isEmpty
        }) {
          // operational visibility (and the crash drill's observable):
          // finishing a dead claimant's commit is rare and worth a line
          System.err.println(s"[statelog] rolling claim for generation " +
            s"$gen (batch ${claimed.batchId}, kind ${claimed.kind}) " +
            "forward on behalf of a dead or slow claimant")
          appendManifestRow(spark, ref, claimed)
        }
        // the row is in the manifest either way now — the claim is inert
        try { fs.delete(marker, false): Unit } catch { case _: Exception => () }
      case None =>
        // torn (or vanished mid-read) — it never committed anything
        try { fs.delete(marker, false): Unit } catch { case _: Exception => () }
    }
  }

  /** Re-run `body` (which re-reads history, recomputes against the NEW
    * committed views, writes a fresh attempt's generation tables and
    * re-attempts the commit) after an optimistic-commit abort. Bounded:
    * a log with more concurrent committers than this is misconfigured. */
  private def withCommitRetry[T](attemptsLeft: Int = 16)(body: => T): T =
    try body catch {
      case e: java.util.ConcurrentModificationException if attemptsLeft > 1 =>
        // operational visibility: concurrent-writer aborts are healthy
        // (the retry recomputes against the new head) but a log drowning
        // in them is a sign of too many committers — make them countable
        System.err.println(s"[statelog] optimistic commit abort " +
          s"(${17 - attemptsLeft}/16), retrying: ${e.getMessage}")
        withCommitRetry(attemptsLeft - 1)(body)
    }

  /** Commit + attempt-table lifecycle: on success the attempt's tables
    * are bound by the manifest row (and leave the in-flight registry);
    * on an optimistic abort they are dropped NOW — with attempt-unique
    * names no retry will ever overwrite them, so without this they would
    * be orphaned until a [[sweep]]. Kept if anything durable references
    * them: a committed manifest row (a retract row BORROWS the last
    * delta's stop/pack pointers — dropping those would corrupt committed
    * state) or a still-pending claim (a peer may roll it forward). */
  private def commitAttempt(spark: SparkSession, ref: LogRef,
      expectedMaxGen: Long, g: Gen): Unit = {
    val mine = g.tables.distinct
    try {
      commitRow(spark, ref, expectedMaxGen, g)
      mine.foreach(inFlight.remove)
    } catch {
      case e: java.util.ConcurrentModificationException =>
        val committed = history(spark, ref)
          .flatMap(_.tables).toSet
        val claimed = pendingClaimRefs(spark, ref)
        mine.foreach { t =>
          if (!committed(t) && !claimed(t)) dropTableAndData(spark, t)
          inFlight.remove(t): Unit
        }
        throw e
    }
  }

  /** All claim markers currently on the store, as (gen, path). */
  private def listClaims(spark: SparkSession, ref: LogRef,
      fs: org.apache.hadoop.fs.FileSystem): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val dir = claimsDir(spark, ref)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath).flatMap(p => p.getName match {
      case MarkerGenRe(n) => Seq((n.toLong, p))
      case _ => Seq.empty
    })
  }

  /** Tables referenced by claims whose generation has NOT reached the
    * manifest — content a peer may yet roll forward, so neither the
    * abort cleanup nor [[sweep]] may reclaim it. */
  private def pendingClaimRefs(spark: SparkSession, ref: LogRef): Set[String] = {
    val committedGens = history(spark, ref).map(_.genId).toSet
    val fs = hadoopFs(spark, claimsDir(spark, ref))
    listClaims(spark, ref, fs).flatMap { case (gen, p) =>
      if (committedGens.contains(gen)) Seq.empty
      else readMarker(fs, p).flatMap(parseClaim(_, gen))
        .map(_.tables)
        .getOrElse(Seq.empty)
    }.toSet
  }

  private def listLogTables(spark: SparkSession, ref: LogRef): Seq[String] =
    spark.sessionState.catalog
      .listTables(spark.sessionState.catalog.getCurrentDatabase)
      .map(_.table).filter(_.startsWith(ref.manifest + "_"))

  /** Handle to a log: just the manifest table name — every generation
    * table is recorded IN the manifest (names are attempt-unique; the
    * manifest row is the only binding), and operation ids in the
    * manifest are what make replays collide on purpose. */
  final case class LogRef(manifest: String)

  /** Manifest row kinds: `base` — the genesis pointer at a finished full
    * curation's tables; `delta` — one ingested micro-batch's generation;
    * `retract` — one deletion operation's tombstone generation (its
    * `hash` table holds ORPHANED hashes, its `band` table holds deleted
    * doc_ids — eq143's two tombstones as a committed generation, which
    * every view subtracts); `fold` — a compaction pointer: the merged
    * generation all prior rows collapse into (tombstones applied).
    *
    * `cur` is the CORPUS layer (eq147): the generation's contribution to
    * the raw document store — the base's at-rest corpus table for gen 0,
    * each delta's survivor rows, the merged store for a fold, and the
    * doc-tombstone table for a retract (corpus resolution subtracts it,
    * order-aware like every layer). With it the log is SELF-CONTAINED:
    * ingest and retraction can resolve the store from the log instead of
    * trusting the caller to reconstruct it — the last caller-maintained
    * piece of the state's life between sessions. */
  private[sources] final case class Gen(genId: Long, batchId: Long, kind: String,
      hash: String, band: String, stop: String, pack: String, cur: String) {
    def tables: Seq[String] = Seq(hash, band, stop, pack, cur)
    /** The tables this generation's corpus layer reads: a delta's `cur`
      * table, a retract's doc-tombstone table too. */
    def corpusTables: Seq[String] =
      if (kind == "retract") Seq(band, cur).distinct else Seq(cur)
  }

  /** The raw-store columns every funnel input needs — what the corpus
    * layer persists per generation. */
  private val StoreCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** The corpus store's optional CURATED-MEMBERSHIP companion table name —
    * derived from the manifest-bound `cur_tbl` name exactly like
    * [[wrapMarker]] derives from the bound hash-table name, so resolution
    * still flows through the manifest row. */
  private def curMemTable(storeTbl: String): String = s"${storeTbl}_curmem"

  /** An at-rest RAW corpus store for [[fromSnapshot]]'s gen-0 corpus
    * pointer — the production table eq138's product build reads from;
    * written as a plain parquet table of the store columns.
    *
    * `withMembership = true` additionally persists the store's CURATED
    * MEMBERSHIP (the stage-7 survivor frame — doc_id, lang, n_tokens,
    * n_chars) as an at-rest companion table, the same artifact class as
    * the snapshot's hash/band/pack layers: the curated corpus is the
    * PRODUCT, persisted at rest, and the post-retraction [[repackLog]]
    * resolves the base generation's membership from this table instead of
    * re-mining the genesis corpus per repack (at 100 TB the re-mine is a
    * full pair-mining pass over the corpus per repack; the membership
    * table is 4 narrow columns of the survivors). Derived from the
    * CALLER's frame, so the mining rides the session's plan-keyed chain
    * memo; [[curatedRetained]] falls back to the honest re-derivation when
    * the companion is absent (pre-existing logs, foreign processes whose
    * catalog never saw it). */
  def writeCorpusStore(spark: SparkSession, docs: DataFrame,
      withMembership: Boolean = false): String = {
    val tbl = AtRest.save(docs.select(StoreCols.map(col): _*),
      s"graft_corpus_store_${AtRest.nextId()}")
    if (withMembership)
      AtRest.save(Curation.curatedMembership(docs)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_chars")),
        curMemTable(tbl))
    tbl
  }

  /** Start a log over a finished full curation: generation 0 POINTS AT
    * the snapshot's existing index + pack tables and the at-rest corpus
    * store (no copy — the log wraps the snapshot; eq140's write is the
    * expensive pass, the log is a one-row manifest write). Gen 0 is the
    * genesis fold point. */
  def fromSnapshot(spark: SparkSession, st: SnapshotStateSink.StateTables,
      corpusStore: String): LogRef = {
    require(st.index.tomb.isEmpty,
      "the log ingests forward — apply pending retraction tombstones first")
    val ref = LogRef(s"graft_state_log_${AtRest.nextId()}")
    val row = genRow(spark, Gen(0L, -1L, "base",
      st.index.hash, st.index.band, st.index.stop, st.packSummary, corpusStore))
    // the durable wrap marker goes FIRST: a crash between the two writes
    // then fails CLOSED (a spurious refusal on a log that never
    // materialized) instead of open (a live log whose snapshot a fresh
    // driver could still advance in place)
    wrappedSnapshots.add(st.index.hash)
    AtRest.save(row, wrapMarker(st.index.hash))
    AtRest.saveAt(row, ref.manifest, s"${AtRest.tmpRoot}/${ref.manifest}_manifest")
    ref
  }

  private def genRowValues(g: Gen): Seq[Any] =
    Seq(g.genId, g.batchId, g.kind, g.hash, g.band, g.stop, g.pack, g.cur)

  private def genRow(spark: SparkSession, g: Gen): DataFrame = {
    import spark.implicits._
    Seq((g.genId, g.batchId, g.kind, g.hash, g.band, g.stop, g.pack, g.cur))
      .toDF("gen_id", "batch_id", "kind", "hash_tbl", "band_tbl", "stop_tbl",
        "pack_tbl", "cur_tbl")
  }

  /** The FULL manifest history, oldest first — one tiny driver-side
    * read. The skip set needs all of it; the active state is the suffix
    * from the latest fold point ([[active]]). Byte-identical duplicate
    * rows are legal (a slow claimant whose claim a peer already rolled
    * forward appends the same row twice) and collapse here; two DISTINCT
    * rows sharing a gen_id mean a writer bypassed the claim protocol and
    * fail loudly. */
  private[sources] def history(spark: SparkSession, ref: LogRef): Seq[Gen] = {
    // dedupe + sort on the DRIVER: the read is manifest-sized by
    // design, and a DataFrame `distinct().orderBy()` would pay two
    // exchanges per read — on the hottest call in the log (every
    // ingest, commit, audit and resolution reads history).
    // Gen is a case class over the same 8 fields, so Seq#distinct is the
    // row-identical dedupe and sortBy(genId) the same order (gen_ids are
    // unique after the dedupe — enforced right below).
    val gens = withManifestRetry() {
      freshManifest(spark, ref).collect().toSeq
    }.map(r => Gen(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6), r.getString(7)))
      .distinct.sortBy(_.genId)
    require(gens.map(_.genId).distinct.size == gens.size,
      s"state log ${ref.manifest}: conflicting manifest rows share a " +
        "gen_id — a writer bypassed the commit-claim protocol")
    registerForeign(spark, ref, gens)
    gens
  }

  /** Generation tables a PEER process committed exist on the shared
    * store but not in this session's in-memory catalog — register them
    * as external parquet tables on first sight (every log table lives
    * under the manifest directory's parent, the one shared root), so a
    * second driver's reads resolve without any side channel. Locally
    * written tables are already registered and cost one catalog lookup;
    * vacuumed tables stay unregistered (their data is gone — the
    * bounded-time-travel errors stay precise). Bucketing metadata is
    * NOT recovered for foreign tables (a plain parquet registration) —
    * reads stay correct, co-located-join pruning just does not apply to
    * a table this process did not write. */
  private def registerForeign(spark: SparkSession, ref: LogRef, gens: Seq[Gen]): Unit = {
    // names verified once per JVM: table names are manifest-prefixed and
    // globally unique, the in-memory external catalog is shared across
    // sessions, and a later DROP (vacuum/sweep) must NOT re-register —
    // so the check never needs repeating, keeping history() O(new
    // tables) instead of O(5 per generation) catalog lookups per read
    val missing = gens.flatMap(_.tables)
      .distinct.filterNot(foreignChecked.contains)
      .filterNot(foreignMissing.contains)
      .filterNot { t =>
        val known = spark.catalog.tableExists(t)
        if (known) foreignChecked.add(t): Unit
        known
      }
    if (missing.nonEmpty) {
      val root = logRoot(spark, ref)
      val fs = hadoopFs(spark, root)
      missing.foreach { t =>
        val p = new org.apache.hadoop.fs.Path(root, t)
        if (fs.exists(p)) {
          registerExternalParquet(spark, t, p.toString)
          foreignChecked.add(t): Unit
        } else foreignMissing.add(t): Unit
      }
    }
  }

  private val foreignChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Known-MISSING names: a manifest-referenced table whose
    * data is absent from the shared root was vacuumed or swept — and,
    * names being attempt-unique and every table fully written strictly
    * BEFORE its manifest row commits, a missing table can never
    * reappear, so the negative result is as permanently cacheable as the
    * positive one. Without it, every [[history]] read (which runs on
    * every commit) re-probes each vacuumed generation's five tables with
    * a catalog lookup + fs.exists — driver overhead growing unboundedly
    * with a long-lived log's vacuumed-table count. No invalidation is
    * needed: our own drops only move tables TOWARD missing, consistent
    * with the cache. */
  private val foreignMissing =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The one registration snippet. `location` keeps its
    * scheme/authority — stripping it
    * to the bare path would silently re-root a log table from the shared
    * store (hdfs://...) onto the session default filesystem. */
  private[graft] def registerExternalParquet(spark: SparkSession,
      table: String, location: String): Unit =
    try spark.sql(s"CREATE TABLE IF NOT EXISTS `$table` USING parquet " +
      s"LOCATION '$location'"): Unit
    catch { case _: org.apache.spark.sql.AnalysisException => () }

  /** ATTACH to an existing log from a fresh session or a SECOND DRIVER
    * PROCESS: registers the manifest's external
    * parquet directory in this session's catalog; [[registerForeign]]
    * then resolves every generation table a manifest row references
    * from the same shared root as peers commit them. With the claim CAS
    * on the shared filesystem, two attached processes ingesting
    * concurrently into one log serialize exactly like two sessions in
    * one JVM — no shared metastore required. `root` is the shared
    * scratch root the log was created under. */
  def attach(spark: SparkSession, manifest: String,
      root: String = sys.props("java.io.tmpdir")): LogRef = {
    val ref = LogRef(manifest)
    if (!spark.catalog.tableExists(manifest)) {
      // fail FAST on a wrong root: CREATE TABLE on a
      // nonexistent location succeeds silently, registering an EMPTY
      // external manifest whose first real use then dies far away (a
      // null-max in maxGen) instead of naming the actual problem here
      val dir = new org.apache.hadoop.fs.Path(s"$root/${manifest}_manifest")
      val fs = hadoopFs(spark, dir)
      require(fs.exists(dir),
        s"state log $manifest: no manifest data at $dir — `root` must be " +
          "the shared scratch root the log was created under (default " +
          "java.io.tmpdir); nothing was registered")
      registerExternalParquet(spark, manifest, dir.toString)
    }
    // the claim-store precondition is WARNED here, not enforced: attach
    // is also the pure-reader entry point, and a reader on an object
    // store accepts no commit risk — forcing the allowNonAtomicStore
    // flag on it would misstate the contract. A would-be
    // committer still learns early (the warning names the refusal), and
    // the hard refusal itself stays at the first commit ([[commitRow]]).
    warnNonAtomicStoreOnAttach(spark, hadoopFs(spark, claimsDir(spark, ref)), ref)
    history(spark, ref): Unit // fail fast on a torn manifest; register gen tables
    ref
  }

  private[sources] def active(hist: Seq[Gen]): Seq[Gen] =
    hist.drop(hist.lastIndexWhere(g => g.kind == "base" || g.kind == "fold"))

  /** The committed state's layer views over a resolved generation list:
    * the hash layer (delta unions MINUS orphaned-hash tombstones), the
    * LIVE band rows (delta unions MINUS doc tombstones — stop-unfiltered:
    * the guard recount counts live rows, eq143's retained-keys
    * semantics), the stop-key union (the monotone guard, never shrunk by
    * retraction), and the LATEST delta generation's cumulative pack
    * summary (retraction does not re-account packing — that is
    * [[SnapshotStateSink.repack]]'s job, the eq143 posture).
    *
    * Tombstone subtraction is ORDER-AWARE: a retract row
    * tombstones only what was committed BEFORE it. Content re-admitted
    * by a LATER ingest legitimately owns its hash again — the ingest
    * probed the post-retraction views, saw the hash gone, and wrote it
    * into its own generation — so each delta generation subtracts only
    * the retract rows with a HIGHER gen_id. Without the ordering, a
    * retract→re-admit sequence would subtract the re-admitted hash
    * forever, the next fold would bake the loss in physically, and
    * further exact duplicates of live content would probe 'novel'. */
  /** Delta-layer union MINUS the order-aware tombstones: each delta
    * generation subtracts only the retract rows with a HIGHER gen_id
    * (deltas sharing the same later-retract suffix share one anti-join;
    * retracts are gen_id-sorted, so the applicable set is always a
    * suffix). `layer` resolves a non-retract generation's contribution
    * FRAME and `tombLayer` a retract row's tombstones for this layer —
    * frames, not table names, so [[curatedRetained]]'s derived
    * contributions share this exact subtraction instead of re-implementing
    * it (the re-admission bug class lives in ONE place). */
  private def minusLaterTombs(gens: Seq[Gen],
      layer: Gen => DataFrame, tombLayer: Gen => DataFrame, key: String,
      tombCols: DataFrame => DataFrame): DataFrame = {
    val deltas = gens.filter(_.kind != "retract")
    val retracts = gens.filter(_.kind == "retract")
    deltas.groupBy(d => retracts.count(_.genId > d.genId)).toSeq.sortBy(_._1)
      .map { case (nLater, ds) =>
        val raw = ds.map(layer).reduce(_ unionAll _)
        if (nLater == 0) raw
        else raw.join(
          broadcast(tombCols(
            retracts.takeRight(nLater).map(tombLayer).reduce(_ unionAll _))),
          Seq(key), "left_anti")
          // the USING-join fronts the key column; restore the layer's
          // order so the cross-group unionAll stays position-aligned
          .select(raw.columns.map(col).toIndexedSeq: _*)
      }.reduce(_ unionAll _)
  }

  private[sources] def viewsOf(spark: SparkSession, gens: Seq[Gen]): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val deltas = gens.filter(_.kind != "retract")
    val hashV = minusLaterTombs(gens,
      g => spark.table(g.hash), g => spark.table(g.hash), "h", identity)
    val bandLive = minusLaterTombs(gens,
      g => spark.table(g.band), g => spark.table(g.band), "doc_id", _.select("doc_id"))
    (hashV, bandLive,
      deltas.map(g => spark.table(g.stop)).reduce(_ unionAll _),
      spark.table(deltas.last.pack))
  }

  /** The committed CORPUS STORE resolved from the log itself (eq147):
    * the base at-rest corpus plus every committed batch's survivors,
    * minus deleted docs — order-aware like every layer (a retract's doc
    * tombstones live in its band/cur table). This is "the corpus store"
    * every funnel input and every retraction's orphan recount needs, so
    * the self-contained [[ingestBatch]]/[[retractBatch]] overloads
    * resolve it here instead of trusting the caller to reconstruct it. */
  def corpus(spark: SparkSession, ref: LogRef): DataFrame =
    corpusOf(spark, active(history(spark, ref)))

  private[sources] def corpusOf(spark: SparkSession, gens: Seq[Gen]): DataFrame =
    minusLaterTombs(gens,
      g => spark.table(g.cur), g => spark.table(g.band), "doc_id", _.select("doc_id"))

  def views(spark: SparkSession, ref: LogRef): (DataFrame, DataFrame, DataFrame, DataFrame) =
    viewsOf(spark, active(history(spark, ref)))

  /** The manifest prefix ending at `gen`, resolved exactly like a live
    * read (latest fold point in the prefix + its suffix), with the
    * needed layer tables' existence checked up front: a generation whose
    * tables a [[vacuum]] (or [[releaseWrappedSnapshot]]) dropped fails
    * with a clear bounded-time-travel error, not a missing-table
    * resolve. */
  private def asOfGens(spark: SparkSession, ref: LogRef, gen: Long,
      layers: Gen => Seq[String]): Seq[Gen] =
    asOfGensOf(spark, ref, history(spark, ref), gen, layers)

  /** [[asOfGens]] over an already-read manifest snapshot: multi-point
    * audits resolve several as-of frames from ONE history read instead of
    * re-reading the manifest per point. */
  private[sources] def asOfGensOf(spark: SparkSession, ref: LogRef, hist: Seq[Gen],
      gen: Long, layers: Gen => Seq[String]): Seq[Gen] = {
    require(hist.exists(_.genId == gen),
      s"generation $gen was never committed to ${ref.manifest}")
    val need = active(hist.filter(_.genId <= gen))
    need.flatMap(layers).distinct.foreach { t =>
      if (!spark.catalog.tableExists(t))
        throw new IllegalStateException(s"as-of generation $gen needs $t, " +
          "which a vacuum or snapshot release dropped — time travel is " +
          "bounded by the latest fold")
    }
    need
  }

  /** TIME-TRAVEL read (eq146): the state's views AS OF generation `gen`.
    * Nearly free: generations are immutable once committed, so a
    * historical read is just a different manifest resolution, no data
    * movement — the audit/debugging surface every versioned store ships.
    * [[vacuum]] bounds it from below. */
  def viewsAsOf(spark: SparkSession, ref: LogRef, gen: Long): (DataFrame, DataFrame, DataFrame, DataFrame) =
    viewsOf(spark, asOfGens(spark, ref, gen,
      _.tables))

  /** TIME-TRAVEL read of the CORPUS layer (eq148):
    * the raw document store AS OF generation `gen` — the historical
    * population the as-of index views indexed, which eq146 alone could
    * not reconstruct. Same manifest-prefix resolution, same vacuum
    * bound; only the layers the corpus needs are required to exist (a
    * delta's `cur` table, a retract's doc-tombstone table). */
  def corpusAsOf(spark: SparkSession, ref: LogRef, gen: Long): DataFrame =
    corpusOf(spark, asOfGens(spark, ref, gen, _.corpusTables))

  /** Generation GC: drop every generation table STRICTLY BEFORE the
    * latest fold point — the superseded deltas, retract tombstones, and
    * earlier folds the active resolution no longer reads. What stays: the
    * FULL manifest history (one tiny row per operation — the replay-skip
    * set and the audit trail), and the latest fold + suffix (the active
    * state). Only log-OWNED tables are dropped: gen 0 (`base`) points INTO
    * the wrapped snapshot's tables, which the snapshot owns (and retract
    * rows carry borrowed stop/pack pointers — the keep-set and
    * ownership-prefix checks cover both). After a vacuum, [[viewsAsOf]]
    * is bounded below by the latest fold — the retention trade every
    * versioned table format ships. Returns the dropped table names.
    *
    * `graceMs` is the reader-retention window: a generation's tables are
    * dropped only when the fold that SUPERSEDED it committed more than
    * `graceMs` ago, so a peer reading [[viewsAsOf]]/[[corpusAsOf]] below
    * the fold has a guaranteed window (resolve before the fold + grace,
    * finish within it) before the data vanishes. Readers starting AFTER
    * the window get the clean bounded-time-travel error from the
    * resolution's existence check (and a scan unlucky enough to straddle
    * the boundary maps to the same error through [[guardAsOfRead]]).
    * Ages compare STORE mtimes against the store-probed clock
    * ([[storeNow]] — skew-immune). The supersession instant is the fold's
    * manifest ROW FILE mtime (written at the commit, exact; the newest is
    * taken if a crash window left byte-identical duplicates); if a
    * checkpoint merged that file away, the newest checkpoint file's
    * mtime bounds it from above — the window only ever stretches, never
    * shrinks.
    *
    * Like [[sweep]], the ZERO-GRACE default assumes no peer is mid-read at
    * a pre-fold generation: a concurrent [[viewsAsOf]]/[[corpusAsOf]] scan
    * can race the drop and die with a raw missing-file error instead of
    * the clean bounded-time-travel one. */
  def vacuum(spark: SparkSession, ref: LogRef, graceMs: Long = 0L): Seq[String] = {
    val hist = history(spark, ref)
    val cut = hist.lastIndexWhere(g => g.kind == "base" || g.kind == "fold")
    val keep = hist.drop(cut)
      .flatMap(_.tables).toSet
    val supersededLongEnough: Int => Boolean =
      if (graceMs <= 0L) _ => true
      else {
        val loc = manifestDir(spark, ref)
        val fs = hadoopFs(spark, loc)
        val now = storeNow(fs, claimsDir(spark, ref))
        val files = manifestFiles(fs, loc)
        val ckptNewest = files
          .filter(_.getPath.getName.startsWith("part-ckpt-"))
          .map(_.getModificationTime).maxOption
        def foldCommitMs(genId: Long): Option[Long] = files
          .filter(_.getPath.getName.startsWith(s"part-row-g$genId-"))
          .map(_.getModificationTime).maxOption.orElse(ckptNewest)
        val agedFolds = scala.collection.mutable.Map.empty[Long, Boolean]
        i => {
          // the first fold point AFTER generation i is its supersession
          // event (hist is gen-ordered; one exists — the cut itself)
          val fold = hist.drop(i + 1)
            .find(g => g.kind == "base" || g.kind == "fold").get
          agedFolds.getOrElseUpdate(fold.genId,
            foldCommitMs(fold.genId).exists(t => now - t >= graceMs))
        }
      }
    val dropped = hist.take(cut).zipWithIndex
      .filter { case (_, i) => supersededLongEnough(i) }
      .flatMap { case (g, _) => g.tables }
      .distinct
      .filter(t => t.startsWith(ref.manifest + "_") && !keep(t))
      .filter(spark.catalog.tableExists) // already-vacuumed rows are a no-op
    dropped.foreach(dropTableAndData(spark, _))
    dropped
  }

  /** Run a read over as-of views/corpus with the concurrent-GC race
    * converted to the clean bounded-time-travel error: a reader that
    * resolved its as-of frames just before a peer's
    * [[vacuum]]/[[releaseWrappedSnapshot]] dropped them would otherwise
    * die mid-scan with a raw missing-file failure. On that shape the
    * generation's tables are re-checked — if a GC took them, the precise
    * `IllegalStateException` the resolution would throw today surfaces
    * instead; if they all still exist the failure was something else and
    * propagates untouched. Zero cost on the happy path.
    *
    * The re-check consults the STORE, not just this session's catalog: a
    * peer PROCESS's vacuum drops the data and its own catalog entry, but
    * this session's in-memory catalog still carries the registration — a
    * catalog-only re-check would read "still exists" and rethrow the raw
    * failure (found by the live-reader drill). The shared store is
    * the one truth every attached process provably shares.
    *
    * A vacuum racing from a session in the SAME process is the mirrored
    * shape (found by the raced maintenance walk): the sessions share
    * one external catalog, so the drop removes the table ENTRY between
    * the resolution's existence check and the frame build, and the read
    * dies in ANALYSIS with TABLE_OR_VIEW_NOT_FOUND before any path is
    * touched. That shape is caught here too ([[missingLogTable]]) and
    * runs the same re-check — gone maps to the bounded error, still-there
    * rethrows the original failure untouched. */
  def guardAsOfRead[T](spark: SparkSession, ref: LogRef, gen: Long)(
      action: => T): T =
    try action catch {
      case e: Throwable if missingFile(e, 8) || missingLogTable(e, 8) =>
        val hist = history(spark, ref)
        require(hist.exists(_.genId == gen),
          s"generation $gen was never committed to ${ref.manifest}")
        val need = active(hist.filter(_.genId <= gen))
          .flatMap(_.tables).distinct
        val root = logRoot(spark, ref)
        val fs = hadoopFs(spark, root)
        val cat = spark.sessionState.catalog
        need.foreach { t =>
          val gone = !cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t)) ||
            !fs.exists(tableLocation(spark, t).getOrElse(new org.apache.hadoop.fs.Path(root, t)))
          if (gone)
            throw new IllegalStateException(s"as-of generation $gen needs " +
              s"$t, which a vacuum or snapshot release dropped — time " +
              "travel is bounded by the latest fold")
        }
        throw e
    }

  /** Orphan sweep: [[vacuum]] walks manifest rows, so an attempt that
    * CRASHED before its commit point — its generation tables fully or
    * half written, no manifest row, no claim — leaves tables nothing can
    * ever reclaim. The sweep closes that leak from the other side: every
    * catalog table under this log's name prefix (log-owned by
    * construction — attempt tables and claims are the only names minted
    * there) is dropped UNLESS something still references it: a manifest
    * row (any kind, any age — vacuum owns the superseded ones), a pending
    * claim's content (a peer may roll it forward), a pending claim
    * itself, or this process's in-flight attempt registry. Claims whose
    * generation is committed are inert and reclaimed too. Returns the
    * dropped names.
    *
    * `graceMs` makes the sweep safe against LIVE foreign writers (the
    * standard table-format GC trick): a candidate is reclaimed only when
    * its newest write is older than `graceMs`. A live peer's in-flight
    * attempt (tables being written, no claim yet — the one shape the
    * pending-claim protection cannot see) is by definition younger than
    * any sane grace window, while a genuinely crashed attempt only gets
    * older. Pick `graceMs` well above the longest single attempt's
    * write→commit span (minutes, not seconds). Sweeper-vs-store clock
    * skew does NOT erode the window: ages compare store-reported mtimes
    * against the STORE-PROBED clock origin ([[storeNow]] — one tiny probe
    * write per sweep), so both sides of the comparison are on the same
    * clock by construction.
    *
    * A graced sweep also widens the candidate SCAN from this session's
    * catalog to the shared STORE: directories under the log's root with
    * this log's name prefix (the only place attempt tables and commit
    * stages are minted — [[saveGen]], [[commitOneFile]]). A foreign
    * process's crashed attempt never appears in any other catalog, so a
    * catalog-only sweep could not reclaim exactly the orphans a
    * multi-process deployment produces. The manifest and claims
    * directories are the log's live spine and are never candidates.
    * Publish temp files (`*.tmp`) respect the same grace — a live peer's
    * between-create-and-link temp must not be yanked (it would read as a
    * lost race and waste a retry).
    *
    * The zero-grace default is the quiesced-writers contract, like every
    * table-format GC: catalog candidates only, all temps reclaimed, and
    * it must only run with foreign writers quiesced (in-process writers
    * are protected by the registry). */
  def sweep(spark: SparkSession, ref: LogRef, graceMs: Long = 0L): Seq[String] = {
    val hist = history(spark, ref)
    val referenced = hist.flatMap(_.tables).toSet
    val committedGens = hist.map(_.genId).toSet
    val claimRefs = pendingClaimRefs(spark, ref)
    val loc = manifestDir(spark, ref)
    val root = loc.getParent
    val rootFs = hadoopFs(spark, root)
    // the clock origin is the STORE's, not this JVM's: a skewed sweeper
    // would otherwise silently shrink the window
    val now = if (graceMs <= 0L) 0L else storeNow(rootFs, claimsDir(spark, ref))
    // a path that vanishes or mutates mid-walk is a LIVE writer's — young
    def aged(p: org.apache.hadoop.fs.Path): Boolean =
      graceMs <= 0L || agedOnStore(rootFs, p, now, graceMs)
    // a CATALOG candidate ages at its RECORDED location (a table minted
    // under tmpdir for a non-default-root log would FNF the
    // Path(root, t) walk and read as never-aged forever); store
    // candidates have no catalog entry — the minting convention is the path
    def pathOf(t: String): org.apache.hadoop.fs.Path =
      tableLocation(spark, t).getOrElse(new org.apache.hadoop.fs.Path(root, t))
    val spine = Set(loc.getName, loc.getName + "_claims")
    // only the MINTED shapes are store candidates: attach()
    // accepts arbitrary manifest names, so a bare prefix match could let
    // one user-named log (`mylog`) reclaim a sibling's (`mylog_v2`) live
    // directories; attempt tables and commit stages are the only names
    // this log ever mints under its root.
    val storeCandidates =
      if (graceMs <= 0L || !rootFs.exists(root)) Seq.empty
      else rootFs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(p => MintedSuffixes.exists(s =>
          p.getName.startsWith(s"${ref.manifest}_$s")) && !spine(p.getName))
        .map(_.getName)
    val candidates = (listLogTables(spark, ref) ++ storeCandidates).distinct
    val droppedTables = candidates.filter(t =>
      !referenced(t) && !claimRefs(t) && !inFlight.contains(t) &&
        aged(pathOf(t))).sorted
    droppedTables.foreach { t =>
      dropTableAndData(spark, t) // catalog entry + its recorded location
      // store-only candidates (foreign orphans) have no catalog entry to
      // resolve a location from — free the directory itself (idempotent
      // for catalog candidates: same path by the minting convention)
      try rootFs.delete(new org.apache.hadoop.fs.Path(root, t), true): Unit
      catch { case _: java.io.FileNotFoundException => () }
    }
    // claim residue on the store: markers of COMMITTED generations are
    // inert (the self-drop usually beat us here; a crashed winner's or a
    // belt-and-braces loser's marker can survive) and reclaimed
    // regardless of age — their generation is durably in the manifest;
    // PENDING markers are in-flight commit state — never swept.
    val dir = claimsDir(spark, ref)
    val fs = hadoopFs(spark, dir)
    val inertClaims = listClaims(spark, ref, fs)
      .filter { case (gen, _) => committedGens.contains(gen) }
      .map { case (gen, p) =>
        fs.delete(p, false): Unit
        s"${ref.manifest}_claim_g$gen"
      }
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.endsWith(".tmp") && aged(p))
        .foreach(p => fs.delete(p, false): Unit)
    droppedTables ++ inertClaims.sorted
  }

  /** Release the WRAPPED SNAPSHOT: after a fold,
    * gen 0's tables — the snapshot's index/pack tables and the at-rest
    * corpus store the log wrapped at [[fromSnapshot]] — are read only by
    * as-of resolutions below the fold, yet [[vacuum]] correctly refuses
    * to touch them (the log does not own them). Once the history before
    * the latest fold is vacuumed, that time-travel window is already
    * gone, so the snapshot's only remaining reader is as-of(0): this
    * call drops the snapshot tables and the wrap marker, freeing the
    * genesis copy of the corpus. ONLY legal when (a) the active state is
    * a fold past gen 0 and (b) the pre-fold history is vacuumed —
    * enforced here, fail-loud. The caller's contract: nothing OUTSIDE
    * the log still reads the snapshot tables or the corpus store (the
    * fold's own `cur` table carries the live corpus forward). After a
    * release, as-of(0) fails with the clear bounded-time-travel error.
    * Returns the dropped names. */
  def releaseWrappedSnapshot(spark: SparkSession, ref: LogRef): Seq[String] = {
    val hist = history(spark, ref)
    val cut = hist.lastIndexWhere(g => g.kind == "base" || g.kind == "fold")
    val head = hist(cut)
    require(head.kind == "fold" && head.genId > 0,
      s"state log ${ref.manifest}: releasing the wrapped snapshot requires " +
        "the active state to be a fold past the genesis generation")
    val keep = hist.drop(cut)
      .flatMap(_.tables).toSet
    val preCutOwned = hist.take(cut)
      .flatMap(_.tables).distinct
      .filter(t => t.startsWith(ref.manifest + "_") && !keep(t))
    require(preCutOwned.forall(!spark.catalog.tableExists(_)),
      s"state log ${ref.manifest}: vacuum the pre-fold history first — " +
        "the snapshot release only makes sense once the time-travel " +
        "window below the fold is already gone")
    val base = hist.head
    require(base.kind == "base",
      s"state log ${ref.manifest}: no wrapped snapshot at generation 0")
    val targets = (base.tables
      .distinct.filterNot(keep)
      // the corpus store's membership companion shares the store's
      // lifecycle — dropped with it, never alone
      ++ Seq(curMemTable(base.cur)).filterNot(_ => keep(base.cur))
      :+ wrapMarker(base.hash))
      .filter(spark.catalog.tableExists)
    targets.foreach(dropTableAndData(spark, _))
    wrappedSnapshots.remove(base.hash): Unit
    targets
  }

  /** Manifest CHECKPOINT — cap the log's one remaining growth axis.
    * [[appendManifestRow]] commits one parquet FILE per manifest row (the
    * pattern that keeps concurrent appenders from ever sharing staging
    * bytes), so a long-lived log accumulates one tiny file per operation
    * and every [[freshManifest]] read lists and opens all of them — at a
    * production cadence (a micro-batch a minute for a year) that is half
    * a million files behind every read. The checkpoint coalesces them
    * WITHOUT changing a row: list the current data files, read exactly
    * those (deduping byte-identical rows a prior crash window may have
    * left), rewrite them as ONE merged file staged privately and
    * atomically renamed in, then delete EXACTLY the listed files.
    *
    * Safety, by window:
    *  - a concurrent APPEND lands as its own new file, never in the
    *    listed set — untouched in both directions;
    *  - a concurrent READER sees the old files, old + merged (duplicate
    *    rows — [[history]] collapses byte-identical rows by design), or
    *    the merged file alone; a reader whose planned scan raced the
    *    deletes re-plans from a fresh listing via [[withManifestRetry]];
    *  - a crash after the rename leaves duplicates that collapse on read
    *    and merge away at the next checkpoint; a crash before it leaves
    *    the manifest bit-untouched (the stage is private);
    *  - two concurrent checkpoints each delete only their own listed set
    *    (deletes are idempotent), and the loser of the read race retries
    *    into a no-op via the same [[withManifestRetry]].
    *
    * The merged file is written from the DRIVER-COLLECTED rows (the
    * manifest is the log's one tiny driver-side read by design), so the
    * write cannot race the deletes of a concurrent checkpoint either.
    *
    * Driver cost: the explicit-path read, the collect and the deletes are
    * all O(files merged) on the driver, so a manifest left
    * unchecked-pointed for ~500k operations would make the FIRST
    * checkpoint itself a heavy driver call. Two reliefs: deletes run on
    * a bounded parallel pool (not serially), and `maxFiles` caps one call
    * at the OLDEST `maxFiles` row files (default: all of them) — merging
    * a subset is row-preserving by the same argument (merged + remaining
    * = the same rows; a crash-window duplicate straddling the cut
    * collapses on read and merges away later), so a caller facing a
    * badly overgrown manifest checkpoints incrementally in bounded slices
    * instead of one giant step. Returns (data files before, data files
    * after). */
  def checkpointManifest(spark: SparkSession, ref: LogRef,
      maxFiles: Int = Int.MaxValue): (Long, Long) =
    withManifestRetry() {
      val dir = manifestDir(spark, ref)
      val fs = hadoopFs(spark, dir)
      def dataFiles(): Seq[org.apache.hadoop.fs.Path] =
        manifestFiles(fs, dir)
          .sortBy(s => (s.getModificationTime, s.getPath.getName))
          .map(_.getPath)
      val all = dataFiles()
      val parts = all.take(math.max(2, maxFiles))
      if (all.size <= 1 || parts.size <= 1) (all.size.toLong, all.size.toLong)
      else {
        // dedupe on the DRIVER: the read is already a driver-side
        // collect of manifest-sized rows by design, so a DataFrame
        // distinct() would only add an exchange per checkpoint
        val src = spark.read.parquet(parts.map(_.toString): _*)
        val rows = src.collect().toSeq.distinct
        // the history() invariant, re-checked BEFORE any file is touched:
        // a torn manifest must fail loudly, never get baked into one file
        require(rows.map(_.getLong(0)).distinct.size == rows.size,
          s"state log ${ref.manifest}: conflicting manifest rows share a " +
            "gen_id — refusing to checkpoint a torn manifest")
        commitOneFile(spark, ref, spark.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava), src.schema),
          s"part-ckpt-${AtRest.nextId()}.parquet")
        // crash-drill hook (the checkpoint sibling of the commit
        // hook): hang between the merged file's publish and the
        // superseded-file deletes, so the drill can SIGKILL this JVM in
        // the one checkpoint window that leaves residue — duplicate rows
        // that must collapse on read and merge away at the next
        // checkpoint. Inert unless the env var is set.
        sys.env.get("GRAFT_TEST_HANG_AFTER_CKPT_MERGE").foreach { sentinel =>
          java.nio.file.Files.write(java.nio.file.Paths.get(sentinel),
            s"${parts.size}".getBytes("UTF-8"))
          Thread.sleep(3600000L)
        }
        // bounded-parallel deletes: serial unlink of N merged files is a
        // needless O(N·rpc) driver stall on a remote store
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, math.max(1, parts.size)))
        try parts.map(p => pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = { fs.delete(p, false): Unit }
          })).foreach(_.get())
        finally pool.shutdown()
        spark.catalog.refreshTable(ref.manifest)
        (all.size.toLong, dataFiles().size.toLong)
      }
    }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** Drop a table AND its data: external tables (every table here — the
    * tmpdir path convention) keep their files across DROP TABLE, so the
    * location is resolved from the catalog first and deleted after. */
  private def dropTableAndData(spark: SparkSession, t: String): Unit = {
    val loc = tableLocation(spark, t)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    loc.foreach(p => deletePath(spark, p.toString))
  }

  /** `t`'s location as this session's catalog records it; None when the
    * catalog does not know the table (or cannot say where it lives). */
  private def tableLocation(spark: SparkSession, t: String): Option[org.apache.hadoop.fs.Path] = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(t)
    if (!cat.tableExists(ident)) None
    else try cat.getTableMetadata(ident).storage.locationUri
      .map(u => new org.apache.hadoop.fs.Path(u))
    catch { case _: Exception => None }
  }

  /** The committed EFFECTIVE band index: every active generation's band
    * rows, minus the union stop list — the probe view (eq141's
    * stop-filter posture across generations). */
  def effectiveBand(spark: SparkSession, ref: LogRef): DataFrame = {
    val (_, band, stop, _) = views(spark, ref)
    DedupIndexSink.effectiveBandOf(band, stop)
  }

  /** One generation table under an ATTEMPT-UNIQUE name (a slow
    * concurrent duplicate attempt writing deterministic names could
    * overwrite tables a committed manifest row already points at, AFTER
    * the winner's commit — mutating committed history. Unique names make
    * every attempt's tables private until the manifest row binds them;
    * losers are dropped by [[commitAttempt]], crashed attempts by
    * [[sweep]]). The name keeps the manifest prefix (ownership) and the
    * op tag (debuggability); registered in-flight for sweep safety. */
  private def saveGen(spark: SparkSession, ref: LogRef, df: DataFrame,
      layer: String, tag: String, layout: Option[AtRest.Layout]): String = {
    val tbl = s"${ref.manifest}_${layer}_$tag"
    inFlight.add(tbl)
    // minted BESIDE THE MANIFEST on its own store — not
    // under java.io.tmpdir: for a log attached under a non-default root,
    // tmpdir-minted tables would be invisible to peers' registerForeign
    // walks and unreachable by the graced sweep's age check (both resolve
    // Path(root, t)). Default-root logs are byte-unchanged: the manifest
    // parent IS tmpdir there.
    AtRest.save(df, tbl, layout, logRoot(spark, ref).toString)
  }

  /** One attempt's unique tag: the op id (for humans and sweeps reading
    * the catalog) plus a process-unique nonce (for correctness). */
  private def attemptTag(opTag: String): String =
    s"${opTag}_a${AtRest.nextId()}"

  /** Exactly-once micro-batch ingest — the foreachBatch body. `docs`
    * must be the corpus store unioned with the batch (`isNew` marking
    * the batch rows): the near-verify layer point-reads candidate old
    * docs' shingle sets from it, broadcast-pruned, exactly like the
    * advance. Gates (test vocabulary, mix rates) come from the frozen
    * snapshot `st`. Returns true if the batch was applied, false if the
    * manifest already had it (replay of a committed batch — skipped,
    * checked against the FULL history so folds never forget a batch).
    *
    * Crash matrix: die before any write → nothing visible; die
    * mid-generation-write → the half-written attempt tables are bound by
    * nothing (no manifest row, no claim), invisible to every view, and
    * reclaimed by the next [[sweep]] while the replay writes a fresh
    * attempt; die after the claim but before the manifest append → the
    * next committer rolls the claim forward (the commit effectively
    * happened); die after commit but before the offset commit → the
    * replay finds the batch id in the manifest and skips. Every path
    * converges to the same committed state. */
  def ingestBatch(spark: SparkSession, ref: LogRef, st: SnapshotStateSink.StateTables,
      docs: DataFrame, isNew: Column, batchId: Long): Boolean = withCommitRetry() {
    ingestOnce(spark, ref, st, history(spark, ref),
      docs.filter(isNew), docs.filter(!isNew), batchId)
  }

  /** `hist` is the ONE manifest snapshot this attempt works from: the
    * views, the (self-contained path's) corpus resolution, and the
    * commit's optimistic max-gen check all derive from it, so a commit
    * landing after the snapshot ALWAYS aborts the attempt (no window in
    * which half the inputs see the newer state). */
  private def ingestOnce(spark: SparkSession, ref: LogRef, st: SnapshotStateSink.StateTables,
      hist: Seq[Gen], batch: DataFrame, oldDocs: DataFrame, batchId: Long): Boolean = {
    if (hist.exists(g => g.batchId == batchId && g.kind == "delta")) return false
    val (hashV, bandRawV, stopV, packV) = viewsOf(spark, active(hist))
    // (batch, oldDocs) arrive as SEPARATE frames: a
    // `(corpus ∪ batch).filter(is_new)` plan would embed this log's
    // generation table names, so the batch signing/labeling memos would
    // miss on every log instance even though the batch frame itself is
    // stable. deltaSurvivorsSplit's d8 is already a localCheckpoint — a
    // second checkpoint here would only re-copy the survivor rows
    val survivors = Curation.deltaSurvivorsSplit(batch, oldDocs,
      hashV, DedupIndexSink.effectiveBandOf(bandRawV, stopV),
      spark.table(st.testVocab), spark.table(st.mixRates))

    // generation content — all batch-bounded, all derived from COMMITTED
    // views + the batch, so a replay recomputes identical frames; the
    // tables are fresh, so the frames need no materialization of their own
    val (newHashes, survBanded, newlyHot) = SnapshotStateSink.deltaFacts(
      survivors, Dedup.batchBandKeys(batch), hashV, bandRawV, stopV)
    val pack = Curation.appendPackSummary(packV, survivors)

    // this attempt's private generation tables (unique names — bound to
    // the log only if the manifest row below commits), written as
    // CONCURRENT independent jobs (SinkPar): the
    // five layer tables share no data dependency, so the scheduler
    // back-fills one write's task tail with the next write's tasks
    val tag = attemptTag(s"b$batchId")
    val Seq(hashT, bandT, stopT, packT, curT) = SinkPar.run(Seq(
      () => saveGen(spark, ref, newHashes, "hash", tag, Some(AtRest.Hash)),
      () => saveGen(spark, ref, survBanded, "band", tag, Some(AtRest.Band)),
      () => saveGen(spark, ref, newlyHot, "stop", tag, None),
      () => saveGen(spark, ref, pack, "pack", tag, None),
      () => saveGen(spark, ref,
        survivors.select(StoreCols.map(col): _*), "cur", tag, None)))

    // THE COMMIT POINT: one manifest row, iff the manifest is still at
    // the max gen_id the views above were read at AND the durable claim
    // for the minted gen_id is won
    val base = hist.map(_.genId).max
    commitAttempt(spark, ref, base, Gen(base + 1, batchId, "delta",
      hashT, bandT, stopT, packT, curT))
    true
  }

  /** SELF-CONTAINED ingest (eq147): the corpus store is resolved from
    * the log's own corpus layer — the caller hands over ONLY the batch.
    * The corpus, the views, and the commit check all derive from the
    * SAME manifest snapshot, taken inside the retry scope: a concurrent
    * commit aborts the attempt at the commit point and the retry
    * re-resolves everything against the post-conflict state. */
  def ingestBatch(spark: SparkSession, ref: LogRef, st: SnapshotStateSink.StateTables,
      batch: DataFrame, batchId: Long): Boolean = withCommitRetry() {
    val hist = history(spark, ref)
    // the sides stay separate frames all the way down: a
    // `corpus ∪ batch` + `filter(is_new)` construction would re-split
    // what this call site already has split, and its union plan would
    // key the batch's signing/labeling memos on this log's table names
    ingestOnce(spark, ref, st, hist,
      batch.select(StoreCols.map(col): _*), corpusOf(spark, active(hist)), batchId)
  }

  /** Exactly-once RETRACTION through the log — eq143's tombstones as a
    * committed generation, under the same discipline as every ingest:
    * attempt-private tables, a one-row manifest append (claim-guarded)
    * as the commit point, operation ids skipped if already committed
    * (kind-aware, so a deletion op and a stream batch may share a
    * numeric id space without colliding).
    *
    * `indexedDocs` must be the INDEXED corpus store — the base snapshot
    * plus committed survivors (production maintains exactly this: it is
    * the curated training corpus, eq138's written product). The orphan
    * recount is eq143's, extended across prior retractions: a deleted
    * hash survives only if some indexed doc that is neither in THIS
    * deletion set nor in any PRIOR retract generation still owns it.
    * The stop list is never shrunk (the monotone guard); pack
    * re-accounting is deferred to a repack (the eq143 posture). */
  def retractBatch(spark: SparkSession, ref: LogRef, indexedDocs: DataFrame,
      isDeleted: Column, opId: Long): Boolean = withCommitRetry() {
    retractOnce(spark, ref, history(spark, ref), indexedDocs, isDeleted, opId,
      priorTombsApplied = false)
  }

  /** `priorTombsApplied`: the self-contained path's corpus resolution
    * already subtracts prior tombstones ORDER-AWARE (a doc_id re-admitted
    * by a later delta stays live) — re-subtracting them here would be
    * order-BLIND and could exclude a legitimately live re-admitted doc
    * from the orphan recount, wrongly tombstoning its hash.
    * The caller-supplied path keeps the subtraction (its contract: a raw
    * store with prior deletions possibly still present, fresh doc_ids on
    * re-admission). */
  private def retractOnce(spark: SparkSession, ref: LogRef, hist: Seq[Gen],
      indexedDocs: DataFrame, isDeleted: Column, opId: Long,
      priorTombsApplied: Boolean): Boolean = {
    if (hist.exists(g => g.batchId == opId && g.kind == "retract")) return false
    val priorTombs =
      if (priorTombsApplied) Seq.empty
      else active(hist).filter(_.kind == "retract")
    val deleted = indexedDocs.filter(isDeleted)
    val retained0 = indexedDocs.filter(!isDeleted)
    val retained =
      if (priorTombs.isEmpty) retained0
      else retained0.join(
        broadcast(priorTombs.map(g => spark.table(g.band)).reduce(_ unionAll _)
          .select("doc_id")), Seq("doc_id"), "left_anti")
    val orphaned = DedupIndexSink.orphanedHashes(deleted, retained)

    val tag = attemptTag(s"r$opId")
    val Seq(tombDocsT, tombHashT) = SinkPar.run(Seq(
      () => saveGen(spark, ref, deleted.select("doc_id"), "band", tag, None),
      () => saveGen(spark, ref, orphaned, "hash", tag, None)))
    // stop/pack slots carry pointers (never read through a retract row:
    // the stop union and the latest pack resolve over delta rows only);
    // the cur slot names the doc-tombstone table — corpus resolution
    // subtracts it, order-aware like the band layer
    val lastDelta = active(hist).filter(_.kind != "retract").last
    val base = hist.map(_.genId).max
    commitAttempt(spark, ref, base, Gen(base + 1, opId, "retract",
      tombHashT, tombDocsT, lastDelta.stop, lastDelta.pack, tombDocsT))
    true
  }

  /** SELF-CONTAINED retraction (eq147): the indexed corpus store — the
    * base snapshot plus committed survivors, prior deletions already
    * subtracted — is resolved from the log's own corpus layer, so the
    * orphan recount can never be computed against a store the caller
    * reconstructed wrong. Prior tombstones are already applied by the
    * resolution itself. */
  def retractBatch(spark: SparkSession, ref: LogRef,
      isDeleted: Column, opId: Long): Boolean = withCommitRetry() {
    val hist = history(spark, ref)
    retractOnce(spark, ref, hist, corpusOf(spark, active(hist)), isDeleted, opId,
      priorTombsApplied = true)
  }

  /** The retained CURATED corpus resolved from the log itself — the
    * membership the pack summary describes: the base generation's
    * curated product (re-derived deterministically from the genesis raw
    * corpus by the same [[Curation.curatedDocsDf]] chain that produced
    * gen 0's summary — the pack layer aggregates, so membership is not
    * recoverable from it) plus every committed delta's survivors (their
    * `cur` tables ARE the curated contributions; `n_tokens` is
    * recomputed by the funnel's own deterministic `ws_token_count`),
    * minus deleted docs — ORDER-AWARE like every layer (a retract row
    * tombstones only generations committed before it).
    *
    * Resolution walks base + delta rows of the FULL history (a fold's
    * merged store cannot split curated-old from raw-old, so folds are
    * skipped — their content is derived, not primary), which bounds the
    * repack exactly like time travel: a [[vacuum]] or snapshot release
    * that dropped a needed table fails loudly here. Repack BEFORE
    * vacuuming the generations it must re-account. */
  private[sources] def curatedRetained(spark: SparkSession, hist: Seq[Gen]): DataFrame = {
    val contribs = hist.filter(g => g.kind == "base" || g.kind == "delta")
    val retracts = hist.filter(_.kind == "retract")
    (contribs.map(_.cur) ++ retracts.map(_.band)).distinct.foreach { t =>
      if (!spark.catalog.tableExists(t))
        throw new IllegalStateException(s"repack needs $t, which a vacuum " +
          "or snapshot release dropped — the curated membership resolves " +
          "from the base and delta generations; repack before vacuuming them")
    }
    def contrib(g: Gen): DataFrame =
      if (g.kind == "base")
        // the at-rest membership companion first: when
        // [[writeCorpusStore]] persisted the
        // base store's curated membership, the repack reads that table —
        // the same rows the re-derivation below produces (the chain
        // depends only on the store columns; n_tokens is the funnel's own
        // deterministic ws_token_count either way) — instead of paying a
        // full pair-mining pass over the genesis corpus PER REPACK.
        if (spark.catalog.tableExists(curMemTable(g.cur)))
          spark.table(curMemTable(g.cur))
            .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_chars"))
        else
        // membership only: curatedDocsDf would attach
        // shard_id via the eager two-phase prefix sum and this select
        // would immediately discard it — the repack re-windows from
        // scratch anyway. Row-identical (shardAssign is row-preserving).
        Curation.curatedMembership(spark.table(g.cur))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_chars"))
      else spark.table(g.cur).select(col("doc_id"), col("lang"),
        ws_token_count(col("text")).cast("long").as("n_tokens"), col("n_chars"))
    minusLaterTombs(contribs ++ retracts, contrib,
      g => spark.table(g.band), "doc_id", _.select("doc_id"))
  }

  /** POST-RETRACTION REPACK through the log — eq145's pack re-accounting
    * under the log's exactly-once discipline. A retraction deliberately
    * defers pack math (eq143's posture), so after a [[retractBatch]] the
    * pack layer still counts the dead docs' tokens and
    * [[Curation.appendPackSummary]]'s O(batch) invariant (summary ≡
    * packSummaryOf of the corpus it describes) is broken for every
    * subsequent ingest. This commits a `repack`-kind generation that
    * restores it: the retained curated corpus ([[curatedRetained]]) is
    * re-windowed from a zero prefix sum by the SAME
    * [[Curation.packSummaryOf]] rule as the full curation, written as
    * the generation's pack table; the other four layers are committed as
    * well-formed EMPTY tables (the repack changes accounting, not
    * membership — the degenerate-generation class the log already
    * supports), so every view except the pack resolves bit-identically.
    * Replay-skipped kind-aware like every operation; corpus-sized once
    * per repack (the full-chain re-derivation over the genesis corpus is
    * its honest cost, mirrored from [[SnapshotStateSink.repack]]), never
    * per deletion. */
  def repackLog(spark: SparkSession, ref: LogRef, opId: Long): Boolean =
    withCommitRetry() {
      val hist = history(spark, ref)
      if (hist.exists(g => g.batchId == opId && g.kind == "repack")) false
      else commitRepack(spark, ref, hist,
        Curation.packSummaryOf(curatedRetained(spark, hist)), opId)
    }

  /** Caller-supplied REPACK — the production-epoch form. The
    * self-contained [[repackLog]] re-derives the curated membership from
    * the base + delta generations, which a [[vacuum]] reclaims: after a
    * fold + vacuum, a retraction in a LATER epoch could never re-account
    * its packs through the log alone (the fold's merged store cannot
    * split curated-old from raw-old). Production does not need it to —
    * the curated corpus is the PRODUCT, persisted at rest (eq138's
    * written layout, advanced by every append-pack), so the caller hands
    * over the RETAINED curated rows (`lang, doc_id, n_tokens, n_chars`
    * after deletions — [[SnapshotStateSink.repack]]'s exact contract)
    * and the log commits the re-windowed summary under the same
    * exactly-once discipline. Usable at ANY epoch, any vacuum state. */
  def repackLog(spark: SparkSession, ref: LogRef,
      retainedCurated: DataFrame, opId: Long): Boolean =
    withCommitRetry() {
      val hist = history(spark, ref)
      if (hist.exists(g => g.batchId == opId && g.kind == "repack")) false
      else commitRepack(spark, ref, hist,
        Curation.packSummaryOf(retainedCurated), opId)
    }

  private def commitRepack(spark: SparkSession, ref: LogRef, hist: Seq[Gen],
      ps: DataFrame, opId: Long): Boolean = {
    val gens = active(hist)
    val (hashV, bandRawV, stopV, _) = viewsOf(spark, gens)
    val tag = attemptTag(s"p$opId")
    val Seq(hashT, bandT, stopT, packT, curT) = SinkPar.run(Seq(
      () => saveGen(spark, ref, hashV.limit(0), "hash", tag, Some(AtRest.Hash)),
      () => saveGen(spark, ref, bandRawV.limit(0), "band", tag, Some(AtRest.Band)),
      () => saveGen(spark, ref, stopV.limit(0), "stop", tag, None),
      () => saveGen(spark, ref, ps, "pack", tag, None),
      () => saveGen(spark, ref, corpusOf(spark, gens).limit(0), "cur", tag, None)))
    val base = hist.map(_.genId).max
    commitAttempt(spark, ref, base, Gen(base + 1, opId, "repack",
      hashT, bandT, stopT, packT, curT))
    true
  }

  /** Fold every active generation into one (eq142's compaction applied
    * to the log): the effective views written physically as a fresh
    * generation — retraction tombstones applied, stop-guarded rows
    * dropped, the union stop list kept (the monotone guard's memory),
    * the latest cumulative pack carried — committed by APPENDING one
    * `fold` manifest row, the same claim-guarded atomic-append
    * discipline as every batch commit. Readers resolve the active state
    * from the latest fold, so the flip has no drop-recreate window; the
    * superseded generation tables stay readable until dropped. A lost
    * fold race's attempt tables are private (attempt-unique names) and
    * dropped by [[commitAttempt]]'s cleanup before the retry recomputes
    * against the new head. */
  def compactLog(spark: SparkSession, ref: LogRef): Unit = withCommitRetry() {
    val hist = history(spark, ref)
    val gens = active(hist)
    val (hashV, bandLiveV, stopV, packV) = viewsOf(spark, gens)
    val base = hist.map(_.genId).max
    val tag = attemptTag(s"c$base")
    val Seq(hashT, bandT, stopT, packT, curT) = SinkPar.run(Seq(
      () => saveGen(spark, ref, hashV, "hash", tag, Some(AtRest.Hash)),
      () => saveGen(spark, ref, DedupIndexSink.effectiveBandOf(bandLiveV, stopV), "band", tag, Some(AtRest.Band)),
      () => saveGen(spark, ref, stopV.distinct(), "stop", tag, None),
      () => saveGen(spark, ref, packV, "pack", tag, None),
      () => saveGen(spark, ref, corpusOf(spark, gens), "cur", tag, None)))
    commitAttempt(spark, ref, base, Gen(base + 1, hist.map(_.batchId).max, "fold",
      hashT, bandT, stopT, packT, curT))
  }

  /** Active generation count (post-fold width) — the bounded quantity
    * probes pay for; test-visible. */
  private[graft] def activeGenerations(spark: SparkSession, ref: LogRef): Int =
    active(history(spark, ref)).size
}
