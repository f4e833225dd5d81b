package graft

import org.apache.spark.sql.SparkSession

/** What the driver mains share: the local session, the warm-up +
  * median-of-3 timer, query-name selection and the JSON string escaper.
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
