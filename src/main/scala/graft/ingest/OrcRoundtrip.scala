package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.AtRest

/** eq55 — ORC round-trip: the second columnar format of the source/sink
  * surface (parquet is the native one, SURVEY.md §2.1 S6). The documents
  * metadata projection is written as ORC **partitioned by lang** (the
  * layout that gives per-language partition pruning on read — a
  * lang-filtered scan would touch one directory), read back through
  * Spark's vectorized ORC reader, and summarized per language with an
  * id-sum checksum, proving write → directory layout → read → schema
  * recovery end to end. The oracle computes the same summary from the
  * original parquet, so any row lost or mangled in transit breaks the
  * hash compare.
  *
  * Reference basis: the reference persists its ETL output to a second
  * store and reads it back for querying (`etl_project/data.py:41-42`
  * pandas→SQLite); this is that round-trip re-expressed over a columnar
  * format with a partitioned layout.
  */
object OrcRoundtrip {

  def eq55(spark: SparkSession, dir: String): DataFrame = {
    // per-invocation sink (the q12 convention): concurrent plans —
    // parallel suites in one JVM, or several JVMs — never race on the
    // directory
    val sink = s"${AtRest.tmpRoot}/graft_orc_sink_${AtRest.nextId()}"
    Tables.load(spark, dir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").partitionBy("lang").orc(sink)
    summarize(spark.read.orc(sink))
  }

  /** Per-language summary with an id-sum checksum — shared by eq55 and its
    * spec so the round-trip and the direct frame summarize identically. */
  private[graft] def summarize(docs: DataFrame): DataFrame =
    docs
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")
}
