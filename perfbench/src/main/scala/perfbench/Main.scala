package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. Runs one workload on a fresh local session and
  * writes its report (end-to-end metrics, per-layer metrics when traced,
  * op counts) as one JSON object to `--out`. `perfbench/run.py` builds the
  * harness, launches this class and prints the final result line.
  *
  * {{{
  * perfbench.Main --workload retail_api --seed 1 --seconds 20 --trace 0
  *   --cpus 4 --sf /path/to/sf0.1 --work <run dir> --out result.json
  *   [--trace-out trace.jsonl]
  * }}}
  * `--workload golden_retail` / `golden_catalog` / `golden_state` write the hash tables that
  * `perfbench/expected/` holds to `--out` instead of measuring. */
object Main {

  def main(argv: Array[String]): Unit = {
    val sessionStart = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val (cpus, work) = (arg("cpus").toInt, arg("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val traced = args.get("trace").contains("1")
    val ctx = Ctx(spark, arg("sf"), arg("seed").toLong, arg("seconds").toInt, cpus, work,
      new Tracer(traced, sessionStart), if (traced) Some(new SparkMeter(spark)) else None,
      sessionStart)
    val report = new Report
    try {
      arg("workload") match {
        case "retail_api"      => RetailApi.run(ctx, report)
        case "catalog_batch"   => CatalogBatch.run(ctx, report)
        case "golden_retail"   => Golden.write(arg("out"), RetailApi.golden(ctx))
        case "golden_catalog"  => Golden.write(arg("out"), CatalogBatch.golden(ctx))
        case "golden_state"    => Golden.write(arg("out"), StateLifecycle.golden(ctx))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (report.attempted > 0) {
        java.nio.file.Files.write(java.nio.file.Paths.get(arg("out")),
          report.json.getBytes("UTF-8"))
        args.get("trace-out").filter(_ => traced).foreach(p =>
          TraceFile.write(p, ctx.tracer, report.summary))
      }
    } finally spark.stop()
  }

  /** Spark storage memory held by cached blocks, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

/** Everything a workload needs: the session, its inputs and the tracing
  * hooks (`meter` is set only in traced runs). */
final case class Ctx(spark: SparkSession, sfDir: String, seed: Long, seconds: Int,
    cpus: Int, work: String, tracer: Tracer, meter: Option[SparkMeter],
    sessionStart: Long) {
  def sinceStartS: Double = (System.nanoTime() - sessionStart) / 1e9
}

/** Op accounting plus the metrics one run reports. */
final class Report {
  private val e2eM = mutable.LinkedHashMap[String, (Double, String)]()
  private val layerM = mutable.LinkedHashMap[String, (Double, String)]()
  private val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
  def e2e(name: String, v: Double, unit: String): Unit = synchronized { e2eM(name) = (v, unit) }
  def layer(name: String, v: Double, unit: String): Unit = synchronized { layerM(name) = (v, unit) }

  /** The Spark counters of `c`, spread over `ops` operations. */
  def sparkPerOp(c: Counters, driverMs: Double, ops: Long): Unit = {
    val n = math.max(ops, 1L).toDouble
    layer("spark.jobs_per_op", c.jobs / n, "count")
    layer("spark.tasks_per_op", c.tasks / n, "count")
    layer("spark.planning_ms_per_op", c.planningMs / n, "ms")
    layer("spark.executor_cpu_ms_per_op", c.cpuNs / 1e6 / n, "ms")
    layer("spark.scan_bytes_per_op", c.scanBytes / n, "bytes")
    layer("spark.shuffle_bytes_per_op", c.shuffleBytes / n, "bytes")
    layer("spark.driver_ms_per_op", driverMs / n, "ms")
  }

  /** The end-to-end figures the traced run measured, kept so that the
    * tracing overhead can be read against an untraced run. */
  def summary: Map[String, Double] = synchronized {
    e2eM.map { case (k, (v, _)) => k -> v }.toMap ++
      layerM.map { case (k, (v, _)) => k -> v } ++
      Map("attempted" -> attempted.toDouble, "failed" -> failed.toDouble)
  }

  def json: String = synchronized {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metrics(e2eM)},"per_layer":${metrics(layerM)}}"""
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
