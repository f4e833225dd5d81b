package perfbench

import scala.util.Random

import graft.{Canonical, SparkEntry, Tables}
import graft.pipeline.{Dedup, TextAnalysis}

/** `catalog_batch`: the analytical compute surface. Setup follows
  * `graft.Bench`: `Tables.validate`, a cached `Tables.pdv`, a cached
  * `Dedup.jaccardPairs` and a primed `TextAnalysis.bpeTrain`. An un-timed
  * pass then checks every query of the subset against its committed
  * `Canonical.hash`, and one un-timed warm pass in name order follows.
  * Timed passes follow, each in a seeded order, each query forced through
  * the `noop` sink; they start until `--seconds` have passed.
  *
  * The subset: the non-state queries of `SparkEntry.queries` (the at-rest /
  * state-log family eq137–eq154 writes tables), sorted by name, every
  * `Stride`-th from the first. The rule ignores timings; at this stride the
  * q*, eq* and x* families all appear.
  *
  * Traced runs go on, after the timed passes, with the state-log lifecycle
  * of [[StateLifecycle]]. */
object CatalogBatch {

  val Stride = 20

  val HashFile = "perfbench/expected/catalog_sf0.1.tsv"

  def isState(name: String): Boolean = name match {
    case s"eq${n}_$_" => n.toIntOption.exists(i => i >= 137 && i <= 154)
    case _ => false
  }

  def family(name: String): String = name.takeWhile(_.isLetter)

  def subset: IndexedSeq[String] =
    SparkEntry.queries.keys.filterNot(isState).toIndexedSeq.sorted
      .zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }

  private def setup(ctx: Ctx, report: Report): Unit = {
    val (spark, dir, tr) = (ctx.spark, ctx.sfDir, ctx.tracer)
    def phase(name: String)(body: => Unit): Unit = ctx.meter match {
      case Some(m) =>
        val (_, cost) = m.window(tr.span(name)(body))
        report.layer(s"setup.${name}_s", cost.wallMs / 1000, "s")
        if (name == "bpe_train") report.layer("setup.bpe_jobs", cost.c.jobs.toDouble, "count")
      case None => body
    }
    tr.span("Tables.validate")(Tables.validate(spark, dir))
    phase("pdv_cache")(Tables.pdv(spark, dir).cache().count())
    phase("jaccard_pairs")(Dedup.jaccardPairs(spark, dir).cache().count())
    phase("bpe_train")(TextAnalysis.bpeTrain(spark, dir).count())
  }

  def run(ctx: Ctx, report: Report): Unit = {
    val (spark, dir, tr) = (ctx.spark, ctx.sfDir, ctx.tracer)
    setup(ctx, report)
    val setupS = ctx.sinceStartS
    val names = subset
    val golden = Golden.read(HashFile)
    names.foreach { n =>
      val got = try Some(tr.span("Canonical.hash", "query" -> n)(
        Canonical.hash(SparkEntry.queries(n)(spark, dir)))) catch { case _: Exception => None }
      report.op(got.isDefined && got == golden.get(n),
        s"$n: hash ${got.getOrElse("failed")}, expected ${golden.getOrElse(n, "none")}")
    }

    def force(n: String): Unit =
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
    // one un-timed pass forced the way the timed passes are, so that their
    // first pass does not pay the warm-up of the noop write path; in a fixed
    // order, because the order of the first runs in a JVM changed the speed
    // of every later query by up to 1.5x
    names.foreach { n =>
      try force(n)
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up of $n failed: $e") }
    }
    val samples = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val passes = scala.collection.mutable.ArrayBuffer[Double]()
    val costs = scala.collection.mutable.ArrayBuffer[(String, Cost)]()
    // timed passes start until `--seconds` have passed; the pass in progress
    // then ends, so every pass runs the whole subset
    val rnd = new Random(ctx.seed)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      rnd.shuffle(names).foreach { n =>
        def timed(): Unit = tr.span("SparkEntry.query", "query" -> n)(force(n))
        val t0 = System.nanoTime()
        val ok = try {
          ctx.meter match {
            case Some(m) => costs += n -> m.window(timed())._2
            case None => timed()
          }
          true
        } catch { case e: Exception => System.err.println(s"[perfbench] $n failed: $e"); false }
        samples += n -> (System.nanoTime() - t0) / 1e6
        report.op(ok, s"$n: exception")
      }
      passes += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] pass ${passes.size}: ${passes.last}%.3f s")
    }
    // each query's median over the passes; the end-to-end figures are taken
    // from these, so that a run's pass count does not change which queries
    // its median falls on
    val perQuery = samples.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, xs) => n -> Stats.median(xs.map(_._2).toSeq) }
    perQuery.foreach { case (n, ms) =>
      System.err.println(f"[perfbench] $n%-28s median=$ms%8.1f ms")
    }
    val times = samples.map(_._2).toSeq
    report.e2e("setup_s", setupS, "s")
    report.e2e("latency_p50_ms", Stats.median(perQuery.map(_._2)), "ms")
    report.e2e("throughput_ops_s", perQuery.size / (perQuery.map(_._2).sum / 1e3), "1/s")
    report.layer("latency_p95_ms", Stats.quantile(times, 0.95), "ms")
    report.layer("latency_samples", times.size.toDouble, "count")
    report.layer("catalog.pass_s", Stats.median(passes.toSeq), "s")
    report.layer("cached_mb", Main.cachedMb(spark), "MB")

    if (ctx.meter.isDefined) {
      val all = costs.map(_._2)
      val total = all.map(_.c).foldLeft(Counters.zero)(_ + _)
      report.sparkPerOp(total, all.map(_.driverMs).sum, all.size.toLong)
      val np = passes.size.toDouble
      Seq("q", "eq", "x").foreach { f =>
        val fc = costs.filter(x => family(x._1) == f).map(_._2)
        val c = fc.map(_.c).foldLeft(Counters.zero)(_ + _)
        def l(k: String, v: Double, u: String) = report.layer(s"catalog.$f.$k", v, u)
        l("wall_s", fc.map(_.wallMs).sum / 1000 / np, "s")
        l("planning_ms", c.planningMs / np, "ms")
        l("jobs", c.jobs / np, "count")
        l("tasks", c.tasks / np, "count")
        l("executor_cpu_ms", c.cpuNs / 1e6 / np, "ms")
        l("shuffle_bytes", c.shuffleBytes / np, "bytes")
        l("spill_bytes", c.spillBytes / np, "bytes")
        l("peak_exec_mem", fc.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble, "bytes")
        l("driver_ms", fc.map(_.driverMs).sum / np, "ms")
      }
      StateLifecycle.run(ctx, report)
    }
  }

  /** The content of `HashFile`: the hash of each query of the subset. */
  def golden(ctx: Ctx): Seq[(String, String)] = {
    Tables.validate(ctx.spark, ctx.sfDir)
    subset.map(n => n -> Canonical.hash(SparkEntry.queries(n)(ctx.spark, ctx.sfDir)))
  }
}

/** Committed `key<TAB>hash` tables under `perfbench/expected/`. */
object Golden {
  def read(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(k, v) = l.split("\t"); k -> v
    }.toMap
    finally src.close()
  }

  def write(path: String, rows: Seq[(String, String)]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes("UTF-8"))
}
