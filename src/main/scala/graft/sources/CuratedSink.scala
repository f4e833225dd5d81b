package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.Curation

/** eq138 — the at-rest layout for the curated product:
  * [[Curation.curatedDocsDf]] ends at a DataFrame; the 100 TB story
  * ends at storage. The trainer-consumable corpus is written
  * `partitionBy(lang)` (per-language partition pruning: a lang-filtered
  * scan touches one directory — the eq55/PartitionedLayout posture) and
  * `bucketBy(doc_id)` + sorted by (shard_id, doc_id) within each bucket
  * (doc-keyed joins back to the corpus — enrichment, eval overlap
  * audits, per-doc provenance — read bucket-aligned files and need NO
  * shuffle on the corpus side; at 100 TB that removes the largest
  * exchange of every downstream consumer). Both plan properties are
  * asserted by EngineSurfaceSpec against the executed plans.
  *
  * The query itself is the READ-BACK audit (the eq55 ORC-roundtrip
  * shape): write → partition/bucket layout → catalog read → per-lang
  * summary with shard stats and an id-sum checksum, while the DuckDB
  * oracle recomputes the same audit from the raw documents through the
  * shared eq136 chain SQL — a row lost or duplicated anywhere across the
  * round-trip breaks the hash compare.
  *
  * Reference basis: the reference persists its ETL output to a second
  * store and reads it back for querying (`etl_project/data.py:41-42`,
  * pandas→SQLite); this is that round-trip for the pipeline's terminal
  * product with the layout a cluster deployment would choose.
  */
object CuratedSink {

  /** 8 at test scale; a 100 TB deployment sizes this to target file
    * counts (buckets × partitions files per write). */
  val Buckets = 8

  /** Partitioned by `lang`, bucketed on `doc_id`, sorted by (shard_id,
    * doc_id) within each bucket. */
  private val Layout = AtRest.Layout(Buckets, "doc_id", Seq("shard_id", "doc_id"), Seq("lang"))

  def eq138(spark: SparkSession, dir: String): DataFrame =
    summarize(writeAndRead(spark, dir))

  /** Writes the curated corpus to a fresh external table (per-invocation
    * name, [[AtRest]]'s path rule: concurrent plans never race on a
    * directory) and reads it back THROUGH THE CATALOG, so the returned
    * frame carries the bucketed-scan output partitioning. */
  def writeAndRead(spark: SparkSession, dir: String): DataFrame =
    spark.table(AtRest.save(Curation.curatedDocsDf(Tables.load(spark, dir, "documents")),
      s"graft_curated_${AtRest.nextId()}", Some(Layout)))

  /** Per-language audit of the curated corpus: doc/shard counts, token
    * and char mass, and an id-sum checksum — shared by eq138 and its spec
    * so the round-trip and the in-memory product summarize identically. */
  private[graft] def summarize(curated: DataFrame): DataFrame =
    curated
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("shard_id")).as("n_shards"),
        max(col("shard_id")).as("max_shard"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")
}
