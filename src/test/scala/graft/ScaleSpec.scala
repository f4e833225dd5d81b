package graft

import graft.pipeline.{Dedup, TextAnalysis}

/** VERDICT r9 task 3's pinned invariant: on the deterministic ScaleBench
  * fixture (linear near-dup/span structure BY CONSTRUCTION), the dedup
  * family's work proxies must grow EXACTLY linearly with the corpus —
  * prefix candidates, verified pairs, and span-emitting docs at 10× the
  * corpus are 10× the 1× counts, to the row. A Σdf²-style candidate
  * blowup, a lossy prefix filter, or a pair table that starts admitting
  * false candidates all break the equality. Wall-clock lives in
  * SCALEBENCH.md/json (local[32] timing is overhead-dominated at these
  * sizes and would pin nothing); counts are the scale CLAIM. */
@SlowTest
class ScaleSpec extends SparkSpec {

  test("1x→10x: prefix candidates, pairs, and span docs grow exactly linearly") {
    val d1 = ScaleBench.corpus(spark, 2000).localCheckpoint()
    val d10 = ScaleBench.corpus(spark, 20000).localCheckpoint()
    Dedup.clearDerivedCaches()
    val c1 = Dedup.prefixCandidatesDf(d1).count()
    val p1 = Dedup.jaccardPairsDf(d1).count()
    val s1 = TextAnalysis.maxDupSpansDf(d1).count()
    val c10 = Dedup.prefixCandidatesDf(d10).count()
    val p10 = Dedup.jaccardPairsDf(d10).count()
    val s10 = TextAnalysis.maxDupSpansDf(d10).count()
    // per 100 ids: 2 template groups × C(4,2) + 1 span pair = 13 pairs;
    // 8 template members + 2 span docs = 10 span-emitting docs
    assert(c1 == 2000 / 100 * 13, s"prefix candidates at 1x: $c1")
    assert(p1 == c1, "every prefix candidate on this fixture is a true pair " +
      "(the filter admits no false candidates here)")
    assert(s1 == 2000 / 100 * 10, s"span docs at 1x: $s1")
    assert(c10 == 10 * c1, s"candidates must grow 10x, got $c1 -> $c10")
    assert(p10 == 10 * p1, s"pairs must grow 10x, got $p1 -> $p10")
    assert(s10 == 10 * s1, s"span docs must grow 10x, got $s1 -> $s10")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("1x→10x: the mining pass's SHUFFLE MASS grows linearly, not " +
    "quadratically (VERDICT r10 task 2)") {
    // Candidate COUNTS being linear (above) does not by itself prove the
    // plan ships linear bytes — a Σdf²-style self-join would explode the
    // shuffle before the filter prunes the count back down. Pin the bytes:
    // at 10× the corpus, the cold mining pass's total shuffle read must be
    // ≤ ~1.5× linear (constant per-run framing overhead makes small runs
    // read slightly super-linear-proportionally LOW, never high), and far
    // below the ~100× a quadratic candidate blowup would ship.
    val meter = WorkMass.meter(spark.sparkContext)
    val d1 = ScaleBench.corpus(spark, 2000).localCheckpoint()
    val d10 = ScaleBench.corpus(spark, 20000).localCheckpoint()
    Dedup.clearDerivedCaches()
    val w1 = meter(Dedup.jaccardPairsDf(d1).count())
    val w10 = meter(Dedup.jaccardPairsDf(d10).count())
    assert(w1.shuffleRead > 0, "meter must observe the 1x mining shuffle")
    assert(w10.shuffleRead > 3L * w1.shuffleRead,
      s"10x corpus must shuffle materially more than 1x " +
        s"(meter sanity): ${w1.shuffleRead} -> ${w10.shuffleRead}")
    assert(w10.shuffleRead < 15L * w1.shuffleRead,
      s"10x corpus must shuffle ~10x the bytes, not quadratically more: " +
        s"${w1.shuffleRead} -> ${w10.shuffleRead}")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("incremental probe: a FIXED batch against a 10x corpus — flags " +
    "identical, probe shuffle mass batch-bounded (r11)") {
    // eq104/eq137's scale claim, measured: with the stored index memoized
    // (guarded band index + hash index), probing the SAME 400-doc batch
    // against a 10x bigger corpus must find the SAME duplicates (the
    // batch's true-dup relation is scale-invariant by construction) and
    // ship ~the same shuffle bytes — the probe is batch-bounded, while
    // the index BUILD is corpus-sized (the once-per-snapshot cost).
    // Before the r11 broadcast-probe restructure, the probe's shuffle
    // read grew ~20x for the 10x corpus (ScaleBench measured 3.6->73 MB);
    // this pin keeps it from regressing to corpus-proportional.
    import org.apache.spark.sql.functions._
    val meter = WorkMass.meter(spark.sparkContext)
    def probe(n: Long): (Long, Long, WorkMass, WorkMass) = {
      val union = ScaleBench.corpus(spark, n)
        .unionByName(ScaleBench.deltaCorpus(spark, n, 400, targetBlocks = 20))
        .localCheckpoint()
      val isNew = col("doc_id") >= n
      Dedup.clearDerivedCaches()
      def flags(): (Long, Long) = {
        val newDocs = union.filter(isNew)
          .select(col("doc_id"), md5(col("text")).as("h"))
        val ex = newDocs.join(broadcast(Dedup.storedMatchedHashes(union.filter(isNew),
          Dedup.indexBuildFrames(union, isNew)._1)), Seq("h"), "left_semi").count()
        val nr = Dedup.storedNearIds(union.filter(isNew), union.filter(!isNew),
          Dedup.indexBuildFrames(union, isNew)._2).count()
        (ex, nr)
      }
      val indexWork = meter(flags()) // cold: pays the index build
      var f = (0L, 0L)
      val probeWork = meter { f = flags() } // warm: the per-batch cost
      (f._1, f._2, indexWork, probeWork)
    }
    val (e1, n1, i1, p1) = probe(2000)
    val (e10, n10, i10, p10) = probe(20000)
    // per 20 batch ids: 1 exact dup, 2 near probes -> 20 exact; the near
    // layer also flags the exact dups (Jaccard 1), so near >= 40
    assert(e1 == 20 && e10 == 20, s"exact flags: $e1 / $e10")
    assert(n1 == n10 && n1 >= 40,
      s"near flags must be identical across scales: $n1 / $n10")
    assert(p1.shuffleRead > 0, "meter must observe the probe")
    assert(i10.shuffleRead > 3L * i1.shuffleRead,
      s"index build is corpus-sized (sanity): ${i1.shuffleRead} -> ${i10.shuffleRead}")
    assert(p10.shuffleRead < 3L * p1.shuffleRead,
      s"probe must be batch-bounded, not corpus-bounded: " +
        s"${p1.shuffleRead} -> ${p10.shuffleRead}")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("at-rest advance: a FIXED delta against a 10x stored state — " +
    "advance shuffle batch-bounded; compaction is the corpus-sized " +
    "rewrite, paid once (r11)") {
    // eq141/eq142's scale claim, measured end to end on the AT-REST path:
    // the state tables are written once per snapshot (untimed setup), the
    // memos are cleared (the fresh-restart posture — only the batch gets
    // signed), and the SAME 400-doc delta is advanced into a state built
    // from a 10x bigger corpus. The advance's shuffle mass must stay
    // batch-bounded: every probe broadcasts batch keys into bucketed
    // scan-only index tables, the hash anti-join aligns the BATCH side to
    // the index's buckets, and the guard recount touches only the
    // batch-collided buckets. Compaction's cost is corpus-sized in I/O
    // (it rewrites the whole effective layer — why it is a separate
    // maintenance pass, not part of the ingest) but ZERO-EXCHANGE by
    // construction: a forced bucketed scan feeds the bucketed write
    // already aligned, so the rewrite ships no shuffle at ANY scale.
    import org.apache.spark.sql.functions._
    import graft.sources.SnapshotStateSink
    val meter = WorkMass.meter(spark.sparkContext)
    def adv(n: Long): (WorkMass, WorkMass) = {
      val union = ScaleBench.corpus(spark, n)
        .unionByName(ScaleBench.deltaCorpus(spark, n, 400, targetBlocks = 20))
        .localCheckpoint()
      val isNew = col("doc_id") >= n
      val st = SnapshotStateSink.write(spark, union, isNew, !isNew)
      Dedup.clearDerivedCaches()
      var t1: SnapshotStateSink.StateTables = null
      val advWork = meter { t1 = SnapshotStateSink.advance(spark, union, st, isNew) }
      val compWork = meter { SnapshotStateSink.compact(spark, t1) }
      (advWork, compWork)
    }
    val (a1, c1) = adv(2000)
    val (a10, c10) = adv(20000)
    assert(a1.shuffleRead > 0, "meter must observe the advance")
    assert(a10.shuffleRead < 3L * a1.shuffleRead,
      s"advance must be batch-bounded, not state-bounded: " +
        s"${a1.shuffleRead} -> ${a10.shuffleRead}")
    assert(c1.shuffleRead < 10240 && c10.shuffleRead < 10240,
      s"the compaction rewrite must stay shuffle-free at every scale " +
        s"(bucket-aligned scan -> bucketed write): " +
        s"${c1.shuffleRead} / ${c10.shuffleRead} bytes")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("post-retraction repack: the corpus-sized window is paid once by " +
    "the repack itself — the advance AFTER it stays batch-bounded (r12)") {
    // eq145's scale claim, measured: retraction defers pack re-accounting
    // precisely because it is corpus-sized (a per-lang prefix-sum window
    // over the retained curated corpus). The repack pays that window once
    // (its shuffle mass must GROW with the corpus — that is its honest
    // cost, same class as the index build), and in exchange the advance
    // that follows keeps eq141's batch-bounded shuffle shape against the
    // repacked summary — the invariant the repack exists to restore.
    import org.apache.spark.sql.functions._
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    val meter = WorkMass.meter(spark.sparkContext)
    def rp(n: Long): (WorkMass, WorkMass) = {
      val union = ScaleBench.corpus(spark, n)
        .unionByName(ScaleBench.deltaCorpus(spark, n, 400, targetBlocks = 20))
        .localCheckpoint()
      val isNew = col("doc_id") >= n
      val isDel = !isNew && col("doc_id") % 97 === 3
      val st = SnapshotStateSink.write(spark, union, isNew, !isNew)
      val tc = DedupIndexSink.compact(spark,
        DedupIndexSink.retract(spark, union, st.index, isNew, isDel))
      Dedup.clearDerivedCaches() // fresh-restart posture: repack re-mines
      var st2: SnapshotStateSink.StateTables = null
      val rpWork = meter {
        st2 = SnapshotStateSink.repack(spark, union, st.copy(index = tc), isDel, !isNew)
      }
      val advWork = meter { SnapshotStateSink.advance(spark, union, st2, isNew) }
      (rpWork, advWork)
    }
    val (r1, a1) = rp(2000)
    val (r10, a10) = rp(20000)
    assert(r1.shuffleRead > 0, "meter must observe the repack")
    assert(r10.shuffleRead > 3L * r1.shuffleRead,
      s"repack is corpus-sized by design (sanity): " +
        s"${r1.shuffleRead} -> ${r10.shuffleRead}")
    assert(a10.shuffleRead < 3L * a1.shuffleRead,
      s"the advance after a repack must stay batch-bounded: " +
        s"${a1.shuffleRead} -> ${a10.shuffleRead}")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("state log repack: the corpus-sized re-derivation is paid once by " +
    "the repack itself — the ingest AFTER it stays batch-bounded (r13)") {
    // eq151's scale claim, measured through the LOG: the self-contained
    // repack re-derives the curated membership from the log's own
    // generations (one full-curation pass — its shuffle mass must GROW
    // with the corpus, the honest cost class the soak bench records as
    // ~linear), and in exchange the ingest that follows keeps the
    // batch-bounded shape against the repacked summary — the invariant
    // the repack exists to restore, now pinned in CI like its snapshot
    // twin above.
    import org.apache.spark.sql.functions._
    import graft.sources.{SnapshotStateSink, StateLog}
    val meter = WorkMass.meter(spark.sparkContext)
    def rp(n: Long): (WorkMass, WorkMass) = {
      val old = ScaleBench.corpus(spark, n).localCheckpoint()
      val st = SnapshotStateSink.write(spark, old, lit(false), lit(true))
      val ref = StateLog.fromSnapshot(spark, st,
        StateLog.writeCorpusStore(spark, old))
      val both = ScaleBench.deltaCorpus(spark, n, 800, targetBlocks = 20)
      val b1 = both.filter(col("doc_id") < n + 400L).localCheckpoint()
      val b2 = both.filter(col("doc_id") >= n + 400L).localCheckpoint()
      Dedup.clearDerivedCaches()
      assert(StateLog.ingestBatch(spark, ref, st, b1, 0L))
      assert(StateLog.retractBatch(spark, ref,
        col("doc_id") < n && col("doc_id") % 97 === 3, 1L))
      Dedup.clearDerivedCaches() // fresh-restart posture: the repack re-derives
      val rpWork = meter { assert(StateLog.repackLog(spark, ref, 2L)) }
      Dedup.clearDerivedCaches() // fresh-restart posture for the metered batch
      val ingWork = meter { assert(StateLog.ingestBatch(spark, ref, st, b2, 3L)) }
      (rpWork, ingWork)
    }
    val (r1, i1) = rp(2000)
    val (r10, i10) = rp(20000)
    assert(r1.shuffleRead > 0, "meter must observe the repack")
    assert(r10.shuffleRead > 3L * r1.shuffleRead,
      s"log repack is corpus-sized by design (sanity): " +
        s"${r1.shuffleRead} -> ${r10.shuffleRead}")
    assert(i10.shuffleRead < 3L * i1.shuffleRead,
      s"the ingest after a log repack must stay batch-bounded: " +
        s"${i1.shuffleRead} -> ${i10.shuffleRead}")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("state log: a FIXED batch ingested into 10x accumulated committed " +
    "state — per-batch shuffle flat (VERDICT r12 task 5)") {
    // The at-rest pin above covers the snapshot path; this is the LOG
    // path, and 'accumulated' means accumulated THROUGH the log: the
    // metered batch lands on a state that already took an ingest and a
    // fold (so the corpus resolves from the fold's cur table, the probes
    // union committed generations). At 10x the committed state the same
    // 400-doc batch must ship ~the same shuffle bytes — the survivor
    // gates broadcast batch keys into scan-only state unions, the corpus
    // resolution is scan+filter, the commit is a claim + one-row append.
    // StateLogSoakBench records the full soak trajectory in SCALEBENCH.md;
    // this is the CI pin on its headline ratio.
    import org.apache.spark.sql.functions._
    import graft.sources.{SnapshotStateSink, StateLog}
    val meter = WorkMass.meter(spark.sparkContext)
    def secondIngest(n: Long): WorkMass = {
      val old = ScaleBench.corpus(spark, n).localCheckpoint()
      val st = SnapshotStateSink.write(spark, old, lit(false), lit(true))
      val ref = StateLog.fromSnapshot(spark, st,
        StateLog.writeCorpusStore(spark, old))
      val both = ScaleBench.deltaCorpus(spark, n, 800, targetBlocks = 20)
      val b1 = both.filter(col("doc_id") < n + 400L).localCheckpoint()
      val b2 = both.filter(col("doc_id") >= n + 400L).localCheckpoint()
      Dedup.clearDerivedCaches()
      assert(StateLog.ingestBatch(spark, ref, st, b1, 0L))
      StateLog.compactLog(spark, ref)
      Dedup.clearDerivedCaches() // fresh-restart posture for the metered batch
      var applied = false
      val w = meter { applied = StateLog.ingestBatch(spark, ref, st, b2, 1L) }
      assert(applied, "the metered batch must apply")
      w
    }
    val w1 = secondIngest(2000)
    val w10 = secondIngest(20000)
    assert(w1.shuffleRead > 0, "meter must observe the ingest")
    assert(w10.shuffleRead < 3L * w1.shuffleRead,
      s"per-batch log ingest must be batch-bounded, not state-bounded: " +
        s"${w1.shuffleRead} -> ${w10.shuffleRead}")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("state log: per-batch shuffle returns to the flat baseline after EACH " +
    "retraction epoch — the second epoch post-release, via the caller-supplied " +
    "repack (VERDICT r13 task 7)") {
    // The soak horizon's CI pin (StateLogSoakBench runs the full
    // trajectory → STATELOGSOAK.json): two COMPLETE retraction epochs
    // back-to-back — epoch 1 through the self-contained repack, epoch 2
    // after the wrapped snapshot is RELEASED (the genesis store gone,
    // the corpus resolving from the fold's cur table) and therefore
    // through the caller-supplied repack (production's at-rest curated
    // product, base slice here). The claim: the batch landing after the
    // SECOND epoch ships batch-bounded shuffle, same as the first —
    // maintenance epochs restore the flat baseline, they never erode it.
    import org.apache.spark.sql.functions._
    import graft.sources.{SnapshotStateSink, StateLog}
    val meter = WorkMass.meter(spark.sparkContext)
    def afterTwoEpochs(n: Long): (WorkMass, WorkMass) = {
      val old = ScaleBench.corpus(spark, n).localCheckpoint()
      val st = SnapshotStateSink.write(spark, old, lit(false), lit(true))
      val ref = StateLog.fromSnapshot(spark, st,
        StateLog.writeCorpusStore(spark, old))
      val all = ScaleBench.deltaCorpus(spark, n, 1200, targetBlocks = 20)
      val b = (0 until 3).map(i => all
        .filter(col("doc_id") >= n + i * 400L && col("doc_id") < n + (i + 1) * 400L)
        .localCheckpoint())
      Dedup.clearDerivedCaches()
      assert(StateLog.ingestBatch(spark, ref, st, b(0), 0L))
      // epoch 1: retract → self-contained repack → fold → vacuum
      assert(StateLog.retractBatch(spark, ref,
        col("doc_id") < n && pmod(col("doc_id"), lit(97)) === lit(3), 100L))
      Dedup.clearDerivedCaches()
      assert(StateLog.repackLog(spark, ref, 101L))
      StateLog.compactLog(spark, ref)
      StateLog.vacuum(spark, ref)
      Dedup.clearDerivedCaches()
      var ok1 = false
      val w1 = meter { ok1 = StateLog.ingestBatch(spark, ref, st, b(1), 1L) }
      assert(ok1, "the post-epoch-1 batch must apply")
      // epoch 2: release the snapshot, retract again, caller-supplied
      // repack (post-release the log alone cannot re-derive curated
      // membership), fold, vacuum
      assert(StateLog.releaseWrappedSnapshot(spark, ref).nonEmpty)
      val isDel2 = col("doc_id") < n && pmod(col("doc_id"), lit(97)) === lit(5)
      assert(StateLog.retractBatch(spark, ref, isDel2, 200L))
      Dedup.clearDerivedCaches()
      val retained = graft.pipeline.Curation.curatedDocsDf(old)
        .select("lang", "doc_id", "n_tokens", "n_chars")
        .filter(!(pmod(col("doc_id"), lit(97)) === lit(3)) && !isDel2)
        .localCheckpoint()
      assert(StateLog.repackLog(spark, ref, retained, 201L))
      StateLog.compactLog(spark, ref)
      StateLog.vacuum(spark, ref)
      Dedup.clearDerivedCaches()
      var ok2 = false
      val w2 = meter { ok2 = StateLog.ingestBatch(spark, ref, st, b(2), 2L) }
      assert(ok2, "the post-epoch-2 batch must apply")
      (w1, w2)
    }
    val (e1a, e2a) = afterTwoEpochs(2000)
    val (e1b, e2b) = afterTwoEpochs(20000)
    println(s"[scalespec] two-epoch soak pin: post-e1 ${e1a.shuffleRead}B -> " +
      s"${e1b.shuffleRead}B, post-e2 ${e2a.shuffleRead}B -> ${e2b.shuffleRead}B")
    assert(e2a.shuffleRead > 0, "meter must observe the post-epoch-2 ingest")
    assert(e2b.shuffleRead < 3L * e2a.shuffleRead,
      s"the post-epoch-2 batch must stay batch-bounded across 10x state: " +
        s"${e2a.shuffleRead} -> ${e2b.shuffleRead}")
    assert(e2b.shuffleRead < 3L * e1b.shuffleRead,
      s"the second epoch must RESTORE the flat baseline, not erode it: " +
        s"post-e1 ${e1b.shuffleRead} -> post-e2 ${e2b.shuffleRead}")
    Dedup.clearDerivedCaches() // 20k-doc frames must not outlive the test
  }

  test("state log maintenance ops at 1x→3x manifest length: merge/drop work " +
    "proxies exactly linear, data movement MANIFEST-row-sized — never " +
    "state-sized (VERDICT r15 task 7)") {
    // checkpoint / graced sweep / graced vacuum are DRIVER-side
    // maintenance: file listings, an mtime walk, a tiny merged-row write,
    // catalog drops. The scale claim: their work proxies (files merged,
    // tables dropped) track the manifest length exactly, and the only
    // bytes that MOVE are the manifest rows themselves (the history()
    // read) — KB-class at any state size, while the state tables they
    // manage hold MBs. ScaleBench's maintenance section records the
    // driver seconds at 1x/3x/10x; this is the CI pin on the counts.
    import org.apache.spark.sql.functions._
    import graft.sources.{SnapshotStateSink, StateLog}
    val meter = WorkMass.meter(spark.sparkContext)
    def alphaC(c: org.apache.spark.sql.Column) =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    def miniBatch(id: Long) = spark.range(20).select(
      (lit(id) * 1000L + col("id") + 9000000L).as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("q"), alphaC(lit(id)), lit("d"), alphaC(col("id")),
          lit(s"t$j"))): _*).as("text"),
      lit("en").as("lang"), lit("src").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    def maintenance(gens: Int): (Long, Long, Long, Long, WorkMass, WorkMass, WorkMass) = {
      val old = ScaleBench.corpus(spark, 2000).localCheckpoint()
      val st = SnapshotStateSink.write(spark, old, lit(false), lit(true))
      val ref = StateLog.fromSnapshot(spark, st,
        StateLog.writeCorpusStore(spark, old))
      (0 until gens).foreach { i =>
        assert(StateLog.ingestBatch(spark, ref, st, miniBatch(i.toLong), i.toLong))
      }
      StateLog.compactLog(spark, ref)
      // checkpoint: base + gens + fold one-row files -> 1 merged file
      var ck = (0L, 0L)
      val wCk = meter { ck = StateLog.checkpointManifest(spark, ref) }
      // graced sweep: exactly the planted aged orphan is reclaimable
      val orphan = new java.io.File(sys.props("java.io.tmpdir"),
        s"${ref.manifest}_hash_b99_ascale${gens}_1")
      miniBatch(99L).select("doc_id").write.mode("overwrite").parquet(orphan.getPath)
      def backdate(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(backdate))
        f.setLastModified(System.currentTimeMillis() - 86400000L): Unit
      }
      backdate(orphan)
      var swept = Seq.empty[String]
      val wSw = meter { swept = StateLog.sweep(spark, ref, graceMs = 600000L) }
      assert(swept == Seq(orphan.getName),
        s"graced sweep must reclaim exactly the planted orphan, got $swept")
      // graced vacuum: the fold's row file was checkpoint-merged, so the
      // aged basis falls back to the newest checkpoint file — backdate it
      // (this pins the merged-fallback path of the supersession basis)
      val mdir = new java.io.File(sys.props("java.io.tmpdir"),
        s"${ref.manifest}_manifest")
      Option(mdir.listFiles()).foreach(_.filter(_.getName.startsWith("part-ckpt-"))
        .foreach(f => f.setLastModified(System.currentTimeMillis() - 86400000L): Unit))
      var vac = Seq.empty[String]
      val wVa = meter { vac = StateLog.vacuum(spark, ref, graceMs = 600000L) }
      (ck._1, ck._2, swept.size.toLong, vac.size.toLong, wCk, wSw, wVa)
    }
    val (f1, a1, s1, v1, wc1, ws1, wv1) = maintenance(2)
    val (f3, a3, s3, v3, wc3, ws3, wv3) = maintenance(6)
    println(s"[scalespec] maintenance pin: ckpt ${f1}->${a1} / ${f3}->${a3} " +
      s"files, swept $s1/$s3, vacuumed $v1/$v3; shuffle bytes ckpt " +
      s"${wc1.shuffleRead}/${wc3.shuffleRead} sweep ${ws1.shuffleRead}/" +
      s"${ws3.shuffleRead} vacuum ${wv1.shuffleRead}/${wv3.shuffleRead}")
    // work proxies: exactly linear in the manifest length
    assert(f1 == 4 && a1 == 1, s"1x checkpoint must merge base+2+fold -> 1, got $f1 -> $a1")
    assert(f3 == 8 && a3 == 1, s"3x checkpoint must merge base+6+fold -> 1, got $f3 -> $a3")
    assert(s1 == 1 && s3 == 1, "the graced sweep reclaims exactly the planted orphan")
    assert(v1 == 5 * 2 && v3 == 5 * 6,
      s"graced vacuum must drop exactly 5 tables per superseded delta: $v1 / $v3")
    // data movement: manifest-row-sized at every scale — the history()
    // read and the merged-row rewrite, never the state tables (MB-class)
    Seq(wc1, wc3, ws1, ws3, wv1, wv3).foreach(w =>
      assert(w.shuffleRead < 1000000L && w.shuffleWrite < 1000000L,
        s"maintenance ops must move manifest rows only, got ${w.json}"))
    Dedup.clearDerivedCaches()
  }
}
