package graft

import org.apache.spark.sql.functions._

import graft.sources.{SnapshotStateSink, StateLog}

/** The STATE-LOG SOAK at scale (VERDICT r12 task 5): eq144–eq148 prove
  * the log correct and ScaleSpec pins single operations, but the 100 TB
  * claim the log actually makes is about the TRAJECTORY — per-batch
  * ingest work must stay flat while the committed state underneath it
  * grows, across the full operation mix (ingest → fold → retract →
  * vacuum → more ingests). This harness drives that soak shape on the
  * deterministic ScaleBench corpus at 1×/3×/10× and records per-batch
  * work mass; SCALEBENCH.md carries the table, ScaleSpec pins the
  * 1×→10× per-batch shuffle ratio in CI.
  *
  * Shape per scale (r13 close — the full maintenance mix): wrap a
  * finished snapshot of corpus(n) in a log, then four FIXED 400-doc
  * batches through the SELF-CONTAINED ingest (memos cleared before each
  * — the fresh-restart posture, so each batch pays only its own
  * signing), a manifest CHECKPOINT after batch 1, a retraction (~1% of
  * the old corpus) after batch 2 followed immediately by the log-side
  * REPACK (the production order: retract → repack → fold → vacuum),
  * then batch 3 and a closing fold + vacuum + checkpoint. The honest
  * costs stay visible: folds are corpus-sized in scan/write by design
  * (paid once per maintenance window), the retraction's orphan recount
  * scales with the deletion slice, the repack's membership re-derivation
  * scales with the corpus (once per retraction epoch) — what must NOT
  * grow with the corpus is the per-batch ingest, and that is the
  * recorded claim (b3 lands after retract+repack+fold and must ship
  * b0's bytes). */
object StateLogSoakBench {

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)
    val meter = WorkMass.meter(spark.sparkContext)

    val scales = Seq(1, 3, 10)
    val baseN = 5000L
    val results = scales.map { s =>
      val n = baseN * s
      val old = ScaleBench.corpus(spark, n)
        .repartition(cpus).localCheckpoint()
      val st = SnapshotStateSink.write(spark, old, lit(false), lit(true))
      val ref = StateLog.fromSnapshot(spark, st,
        StateLog.writeCorpusStore(spark, old))
      // five fixed 400-doc batches (the delta fixture is n-independent in
      // structure: exact dups + near probes target blocks 0..19, which
      // exist at every scale); b4 lands after the SECOND retraction epoch
      val batches = (0 until 5).map { i =>
        ScaleBench.deltaCorpus(spark, n, 2000, targetBlocks = 20)
          .filter(col("doc_id") >= n + i * 400L && col("doc_id") < n + (i + 1) * 400L)
          .localCheckpoint()
      }
      val ingests = scala.collection.mutable.ArrayBuffer[(Double, WorkMass)]()
      def ingest(i: Int): Unit = {
        graft.pipeline.Dedup.clearDerivedCaches()
        val t0 = System.nanoTime()
        val w = meter {
          require(StateLog.ingestBatch(spark, ref, st, batches(i), i.toLong),
            s"soak batch $i must apply")
        }
        ingests += (((System.nanoTime() - t0) / 1e9, w))
      }
      ingest(0); ingest(1)
      // manifest CHECKPOINT mid-horizon (r13): one file per committed op
      // so far; must merge to ONE and cost driver-side file work only
      val ckpt1 = StateLog.checkpointManifest(spark, ref)
      ingest(2)
      val isDel = col("doc_id") < n && pmod(col("doc_id"), lit(97)) === lit(3)
      val retract = meter {
        require(StateLog.retractBatch(spark, ref, isDel, 100L),
          "soak retraction must apply")
      }
      // log-side REPACK right after the retraction (r13) — the production
      // order (retract → repack → fold → vacuum): corpus-sized by honest
      // design (the curated membership re-derived from the log's own
      // generations), expected ~linear in n, paid once per retraction
      // epoch — what must NOT grow is the per-batch ingest after it
      val t0r = System.nanoTime()
      val repack = meter {
        graft.pipeline.Dedup.clearDerivedCaches()
        require(StateLog.repackLog(spark, ref, 101L), "soak repack must apply")
      }
      val repackSec = (System.nanoTime() - t0r) / 1e9
      val fold1 = meter(StateLog.compactLog(spark, ref))
      StateLog.vacuum(spark, ref)
      ingest(3)
      val fold2 = meter(StateLog.compactLog(spark, ref))
      StateLog.vacuum(spark, ref)
      val ckpt2 = StateLog.checkpointManifest(spark, ref)

      // EPOCH 2 (VERDICT r13 task 7): release the wrapped snapshot (the
      // genesis store is no longer needed — the fold's cur table carries
      // the corpus), then a SECOND full retraction epoch: retract →
      // caller-supplied repack (post-release, post-vacuum, the log alone
      // can no longer split curated-old from raw-old — production hands
      // over the at-rest curated product; tracked here by its base
      // slice, work-mass equivalent) → fold → vacuum → one more batch.
      // The recorded claim: b4's ingest shuffle returns to b0's flat
      // baseline after the SECOND epoch too.
      val releasedTables = StateLog.releaseWrappedSnapshot(spark, ref).size
      val isDel2 = col("doc_id") < n && pmod(col("doc_id"), lit(97)) === lit(5)
      val retract2 = meter {
        require(StateLog.retractBatch(spark, ref, isDel2, 200L),
          "soak epoch-2 retraction must apply")
      }
      graft.pipeline.Dedup.clearDerivedCaches()
      val retainedCurated = graft.pipeline.Curation.curatedDocsDf(old)
        .select("lang", "doc_id", "n_tokens", "n_chars")
        .filter(!(pmod(col("doc_id"), lit(97)) === lit(3)) && !isDel2)
        .localCheckpoint()
      val t0r2 = System.nanoTime()
      val repack2 = meter {
        require(StateLog.repackLog(spark, ref, retainedCurated, 201L),
          "soak epoch-2 repack must apply")
      }
      val repack2Sec = (System.nanoTime() - t0r2) / 1e9
      val fold3 = meter(StateLog.compactLog(spark, ref))
      StateLog.vacuum(spark, ref)
      ingest(4)
      val ckpt3 = StateLog.checkpointManifest(spark, ref)

      println(s"[statelogsoak] ${s}x: n=$n " +
        ingests.zipWithIndex.map { case ((sec, w), i) =>
          f"b$i=$sec%.2fs/${w.shuffleRead}B" }.mkString(" ") +
        s" ckpt1=${ckpt1._1}->${ckpt1._2} " +
        f"repack=$repackSec%.2fs/${repack.shuffleRead}B " +
        s"fold1Shuf=${fold1.shuffleRead} retractShuf=${retract.shuffleRead} " +
        s"fold2Shuf=${fold2.shuffleRead} ckpt2=${ckpt2._1}->${ckpt2._2} " +
        s"released=$releasedTables retract2Shuf=${retract2.shuffleRead} " +
        f"repack2=$repack2Sec%.2fs/${repack2.shuffleRead}B " +
        s"fold3Shuf=${fold3.shuffleRead} ckpt3=${ckpt3._1}->${ckpt3._2}")
      (s, n, ingests.toSeq, fold1, retract, fold2, (ckpt1, ckpt2, ckpt3),
        (repackSec, repack), (retract2, repack2Sec, repack2, fold3, releasedTables))
    }
    val json = "{\"metric\":\"statelogsoak\",\"unit\":\"sec\",\"cpus\":" + cpus +
      ",\"base_docs\":" + baseN + ",\"scales\":[" +
      results.map { case (s, n, ing, f1, rw, f2, (c1, c2, c3), (rps, rpw),
          (rw2, rps2, rpw2, f3, rel)) =>
        s"""{"scale":$s,"docs":$n,"ingests":[""" +
          ing.map { case (sec, w) =>
            s"""{"sec":$sec,"work":${w.json}}""" }.mkString(",") +
          s"""],"ckpt1_files":[${c1._1},${c1._2}],"ckpt2_files":[${c2._1},${c2._2}],""" +
          s""""repack_sec":$rps,"repack_work":${rpw.json},""" +
          s""""fold1_work":${f1.json},"retract_work":${rw.json},""" +
          s""""fold2_work":${f2.json},""" +
          s""""released_tables":$rel,"retract2_work":${rw2.json},""" +
          s""""repack2_sec":$rps2,"repack2_work":${rpw2.json},""" +
          s""""fold3_work":${f3.json},"ckpt3_files":[${c3._1},${c3._2}]}"""
      }.mkString(",") + "]}"
    println(json)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_STATELOGSOAK_OUT", "STATELOGSOAK.json")),
      json.getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[statelogsoak] file sink failed: ${e.getMessage}") }
    spark.stop()
  }
}
