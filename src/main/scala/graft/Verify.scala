package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query names — default: all]
    val (sfDir, outDir) = (args(0), args(1))
    val only = Harness.select(args.lift(2))
    // SPARK_GRAFT_MEM_FRACTION: same spill-rehearsal knob as Bench — a
    // constrained run must also prove results UNCHANGED, which is this
    // dump + the parity compare under the same squeezed memory pool.
    val spark = Harness.session(Harness.cpus(4),
      sys.env.get("SPARK_GRAFT_MEM_FRACTION").map("spark.memory.fraction" -> _).toSeq: _*)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes the `only` query results over `sfDir` to `outDir/<name>`, the
    * fixture preflight metadata to `outDir/_fixture_meta.json` and every
    * oracle to `outDir/oracle_sql.json` — the input of
    * `tools/parity.py <sfDir> <outDir>`. A failing query is reported on
    * stderr as `[verify] <name> failed` and the dump goes on. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Seq[String]): Unit = {
    // Fail fast on fixture-schema drift (footer reads only) — one explicit
    // error beats 159 queries against corrupted decodes.
    Tables.validate(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    only.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Fixture preflight metadata: the ENGINE's decoded view of the base
    // tables (row counts; events ts range in epoch-micros). The parity
    // harness compares these against the oracle's native read of the same
    // parquet, so an engine-vs-oracle fixture disagreement — e.g. the r7
    // ts-unit drift, where every Spark timestamp was 1000× off while
    // DuckDB read the file correctly — fails one explicit preflight check
    // instead of 27 opaque per-query hash mismatches.
    locally {
      import org.apache.spark.sql.functions.{max, min, unix_micros}
      val counts = Tables.base.map { t =>
        s""""$t": ${Tables.load(spark, sfDir, t).count()}"""
      }.mkString("{", ", ", "}")
      val ev = Tables.load(spark, sfDir, "events")
        .agg(unix_micros(min(org.apache.spark.sql.functions.col("ts"))).as("lo"),
             unix_micros(max(org.apache.spark.sql.functions.col("ts"))).as("hi"))
        .head()
      Files.writeString(Paths.get(s"$outDir/_fixture_meta.json"),
        s"""{"counts": $counts, "events_ts_min_us": ${ev.getLong(0)}, "events_ts_max_us": ${ev.getLong(1)}}""")
    }
    def q(s: String): String = "\"" + Harness.jsonEsc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
