package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** What the driver mains share: the local session and its per-run temp
  * dir, the warm-up + median-of-3 timer, query-name selection, the JSON
  * string escaper and the best-effort result-file sink.
  * The cluster-deployment session is [[ProdSession]]'s, not this one. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC and the UI off,
    * logging at WARN; `extraConfs` are set on top. */
  def session(cpus: Int, extraConfs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConfs
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` in a `local[cpus]` [[session]] whose run owns a fresh
    * temp dir: `java.io.tmpdir` points at it before the session is built
    * (the state code reads the property at call time, so every table a
    * run's state drills write, and Spark's scratch files, land there).
    * However `body` ends, the session stops and the dir is deleted, so
    * nothing piles up in the machine's temp dir across runs. */
  def withRun[A](cpus: Int, extraConfs: (String, String)*)(body: SparkSession => A): A = {
    val tmp = Files.createTempDirectory("graft_run_")
    System.setProperty("java.io.tmpdir", tmp.toString)
    try {
      val spark = session(cpus, extraConfs: _*)
      try body(spark) finally spark.stop()
    } finally deleteTree(tmp)
  }

  /** Best-effort recursive delete: a failure is reported on stderr and
    * never thrown, so it cannot mask `body`'s own outcome or output. */
  private[graft] def deleteTree(dir: Path): Unit =
    try {
      val walk = Files.walk(dir)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.reverse.foreach(Files.deleteIfExists) // children before parents
    } catch { case e @ (_: IOException | _: UncheckedIOException) =>
      System.err.println(s"[harness] could not delete $dir: $e")
    }

  /** Best-effort file sink for a main's JSON record (a captured stdout
    * line can be truncated): writes `text` to `path` and returns the
    * path; a failure, computing `path` included, is reported on stderr
    * under `tag` and never thrown. */
  def writeFile(tag: String, path: => String, text: String): Option[String] =
    try {
      val p = path
      Files.write(java.nio.file.Paths.get(p), text.getBytes("UTF-8"))
      Some(p)
    } catch { case e: Exception =>
      System.err.println(s"[$tag] file sink failed: ${e.getMessage}")
      None
    }

  /** Runs `f` once un-timed (warm-up), then three timed times; returns
    * the median in seconds. */
  def median3(f: => Unit): Double = {
    f
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    ts.sorted.apply(1)
  }

  /** The [[SparkEntry.queries]] names a comma-separated filter picks,
    * sorted. Blank tokens are dropped, so an absent or blank filter picks
    * every query; a name that is not a query is an error. */
  def select(filterArg: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keySet
    val only = filterArg.toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty).toSet
    val unknown = only -- all
    require(unknown.isEmpty,
      s"unknown queries requested: ${unknown.toSeq.sorted.mkString(",")}")
    (if (only.isEmpty) all else only).toSeq.sorted
  }

  /** The body of a JSON string literal for `s`: backslash, quote and every
    * control char (< 0x20) escaped — a tab or CR left raw would make the
    * reader's parse fail. */
  def jsonEsc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
