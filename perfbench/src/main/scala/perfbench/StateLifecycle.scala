package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Canonical, ScaleBench}
import graft.pipeline.Dedup
import graft.sources.{SnapshotStateSink, StateLog}

/** The state-log lifecycle, the one part of the benchmark that writes. It
  * runs in traced `catalog_batch` runs, after the timed passes, so that the
  * `StateLog` layer is measured without a workload of its own.
  *
  * It wraps a finished snapshot of `ScaleBench.corpus(CorpusDocs)` in a
  * state log (`SnapshotStateSink.write`, `StateLog.fromSnapshot`), then runs,
  * in this order: ingest, checkpoint, retract (`doc_id mod 97 = r`, about 1%
  * of the documents, `r` drawn from the seed), repack, fold, vacuum, ingest,
  * checkpoint. Each ingest adds a fixed `BatchDocs`-document slice of
  * `ScaleBench.deltaCorpus`, with the dedup memos cleared first.
  *
  * The log's tables live in the run's own directory (the JVM's
  * `java.io.tmpdir` and the session's warehouse), never in the checkout's
  * `spark-warehouse/`. The `Canonical.hash` of the final `StateLog.corpus`
  * must equal the committed hash for `r`. */
object StateLifecycle {

  val CorpusDocs = 1000L
  val BatchDocs = 400L
  val Batches = 2

  /** The retraction residues a seed picks from; the committed hash table
    * holds one final-corpus hash for each. */
  val Residues: IndexedSeq[Int] = IndexedSeq(3, 11, 19, 28, 41, 57, 70, 88)

  val HashFile = "perfbench/expected/state_sf0.1.tsv"

  def residue(seed: Long): Int = Residues(Math.floorMod(seed, Residues.size.toLong).toInt)

  final case class Op(kind: String, body: () => Boolean)

  /** The log under test plus the batches it ingests. */
  private final class Log(ctx: Ctx) {
    val spark = ctx.spark
    val old: DataFrame = ctx.tracer.span("ScaleBench.corpus")(
      ScaleBench.corpus(spark, CorpusDocs).repartition(ctx.cpus).localCheckpoint())
    val batches: IndexedSeq[DataFrame] = (0 until Batches).map { i =>
      ctx.tracer.span("ScaleBench.deltaCorpus")(
        ScaleBench.deltaCorpus(spark, CorpusDocs, Batches * BatchDocs, targetBlocks = CorpusDocs / 100)
          .filter(col("doc_id") >= CorpusDocs + i * BatchDocs &&
            col("doc_id") < CorpusDocs + (i + 1) * BatchDocs)
          .localCheckpoint())
    }
    var st: SnapshotStateSink.StateTables = _
    var ref: StateLog.LogRef = _
    def wrap(): Boolean = {
      st = ctx.tracer.span("SnapshotStateSink.write")(
        SnapshotStateSink.write(spark, old, lit(false), lit(true)))
      ref = ctx.tracer.span("StateLog.fromSnapshot")(
        StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, old)))
      true
    }

    def ops(r: Int): Seq[Op] = {
      def ingest(i: Int) = Op("ingest", () => {
        Dedup.clearDerivedCaches()
        StateLog.ingestBatch(spark, ref, st, batches(i), i.toLong)
      })
      val checkpoint = Op("checkpoint", () => { StateLog.checkpointManifest(spark, ref); true })
      val fold = Op("fold", () => { StateLog.compactLog(spark, ref); true })
      val vacuum = Op("vacuum", () => { StateLog.vacuum(spark, ref); true })
      Seq(ingest(0), checkpoint,
        Op("retract", () => StateLog.retractBatch(spark, ref,
          pmod(col("doc_id"), lit(97)) === lit(r), 100L)),
        Op("repack", () => StateLog.repackLog(spark, ref, 101L)),
        fold, vacuum, ingest(1), checkpoint)
    }

    def corpusHash(): String = Canonical.hash(StateLog.corpus(spark, ref))
  }

  /** Files under the directories that hold the log's tables. */
  private def files(ctx: Ctx): Map[String, Long] = {
    val roots = new File(s"${ctx.work}/warehouse") +:
      Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    roots.flatMap(walk).map(f => f.getPath -> f.length).toMap
  }

  private val OpKinds = Seq("wrap", "ingest", "checkpoint", "retract", "repack", "fold", "vacuum")

  /** Runs the lifecycle on the session of a traced run and reports its
    * per-layer metrics (`state.*`); the final-corpus hash check counts as
    * one op. */
  def run(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val meter = ctx.meter.getOrElse(
      throw new IllegalStateException("the state-log lifecycle runs in traced runs only"))
    val r = residue(ctx.seed)
    val log = new Log(ctx)
    // per op: kind, cost, files written, files deleted, catalog table delta
    val done = scala.collection.mutable.ArrayBuffer[(String, Cost, Int, Int, Int)]()

    def measure(op: Op): Boolean = {
      val f0 = files(ctx).keySet
      val tables0 = spark.catalog.listTables().count()
      val (ok, cost) = meter.window(ctx.tracer.span(s"StateLog.${op.kind}")(
        try op.body()
        catch { case e: Exception => System.err.println(s"[perfbench] ${op.kind} failed: $e"); false }))
      val f1 = files(ctx).keySet
      done += ((op.kind, cost, (f1 -- f0).size, (f0 -- f1).size,
        (spark.catalog.listTables().count() - tables0).toInt))
      ok
    }

    report.op(measure(Op("wrap", () => log.wrap())), "snapshot wrap failed")
    log.ops(r).foreach(op => report.op(measure(op), s"${op.kind} failed or was skipped"))
    val golden = Golden.read(HashFile).get(r.toString)
    val got = try Some(ctx.tracer.span("StateLog.corpus")(log.corpusHash())) catch { case _: Exception => None }
    report.op(got.isDefined && got == golden,
      s"final corpus hash for r=$r: ${got.getOrElse("failed")}, expected ${golden.getOrElse("none")}")

    val ops = done.filter(_._1 != "wrap")
    report.layer("state.lifecycle_s", ops.map(_._2.wallMs).sum / 1000, "s")
    report.layer("state.ingest_batch_s", Stats.median(ops.filter(_._1 == "ingest").map(_._2.wallMs).toSeq) / 1000, "s")
    report.layer("state.store_mb", files(ctx).values.sum / 1048576.0, "MB")
    OpKinds.foreach { k =>
      val xs = done.filter(_._1 == k)
      val n = xs.size.toDouble
      def l(name: String, v: Double, u: String) = report.layer(s"state.$k.$name", v, u)
      l("wall_s", xs.map(_._2.wallMs).sum / 1000 / n, "s")
      l("jobs", xs.map(_._2.c.jobs).sum / n, "count")
      l("tasks", xs.map(_._2.c.tasks).sum / n, "count")
      l("shuffle_bytes", xs.map(_._2.c.shuffleBytes).sum / n, "bytes")
      l("driver_ms", xs.map(_._2.driverMs).sum / n, "ms")
      l("files_written", xs.map(_._3).sum / n, "count")
      l("files_deleted", xs.map(_._4).sum / n, "count")
      l("catalog_tables_delta", xs.map(_._5).sum / n, "count")
    }
  }

  /** The content of `HashFile`: the final-corpus hash for every residue. */
  def golden(ctx: Ctx): Seq[(String, String)] = Residues.map { r =>
    val log = new Log(ctx)
    log.wrap()
    log.ops(r).foreach(op => require(op.body(), s"golden lifecycle: ${op.kind} did not apply"))
    r.toString -> log.corpusHash()
  }
}
