package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (training-data-pipeline surface): media
  * payloads as opaque `binary` columns + typed metadata, with decode /
  * feature-extraction as partition-batched transforms.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB ([[FakeDecoder]]) — the Spark-side
  * plumbing (schema, batch shape, partitioning) is real and tested. The
  * `documents.text` bytes stand in for media payloads so the pipeline runs
  * on driver fixtures.
  */
object Multimodal {

  /** A media row: opaque payload + metadata, the at-rest layout for media
    * at 100 TB (payloads in parquet binary columns, metadata columns for
    * predicate pushdown so scans prune without touching payload bytes). */
  case class MediaRow(doc_id: Long, payload: Array[Byte], format: String,
                      width: Int, height: Int)

  /** Extracted feature vector per media item. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, byte_sum: Long,
                           feature: Array[Float])

  /** STUB decoder — stands in for an image/audio codec (libjpeg, ffmpeg…)
    * that is not in this container. Deterministic on the payload bytes so
    * tests are stable. The partition-batched call shape below is the real
    * contract: a codec would be initialized once per partition (not per
    * row) exactly where this object is referenced. */
  object FakeDecoder {
    /** "Decode" a payload into a fixed-size feature vector: byte histogram
      * folded to 8 buckets. A real decoder would decompress + resize +
      * embed here. */
    def decode(payload: Array[Byte]): Array[Float] = {
      val buckets = new Array[Float](8)
      var i = 0
      while (i < payload.length) {
        buckets((payload(i) & 0xFF) % 8) += 1f
        i += 1
      }
      buckets
    }
  }

  /** Synthesize the media table from documents: payload = UTF-8 bytes,
    * fake image metadata derived deterministically from doc stats. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaTableDf(Tables.load(spark, dir, "documents"))

  def mediaTableDf(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("format"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
      .as[MediaRow]
  }

  /** Decode + feature-extract, partition-batched: `mapPartitions` so a real
    * codec pays its init cost once per partition and the iterator keeps the
    * pipeline streaming (no partition-sized materialization). This is the
    * one place the module leaves Catalyst — by design, codecs are black
    * boxes. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here
      rows.map { r =>
        val f = FakeDecoder.decode(r.payload)
        MediaFeatures(r.doc_id, r.payload.length.toLong,
          r.payload.foldLeft(0L)((s, b) => s + (b & 0xFF)), f)
      }
    }
  }

  /** Oracle-checked slice of the pipeline: payload metadata computed with
    * pure built-ins (octet_length / ascii / md5) — DuckDB-expressible, so
    * the binary plumbing is hash-verified even though the decoder is a
    * stub. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        ascii(col("text")).as("first_byte"),
        md5(encode(col("text"), "UTF-8")).as("checksum"),
        when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("format"))
      .orderBy("doc_id")

  /** eq50 — byte-window payload chunking: the media payload split into
    * fixed [[PayloadWindow]]-byte windows (per-window byte length + md5) —
    * the AV-stream shape of eq32's token chunking: segment opaque binary
    * payloads into bounded pieces for parallel decode / frame-sampling /
    * transfer, where a real pipeline cuts at GOP or sample boundaries.
    * Pure per-row explode over the binary column (Catalyst `substring`
    * works on binary — no decode, no UDF); parallelism is per payload and
    * the only shuffle is the presentation sort. Empty payloads yield no
    * windows. Oracle-expressible because the fixture payloads are ASCII
    * (window boundaries cannot split a code point, so DuckDB's
    * decode→md5 sees the same bytes). */
  private[graft] val PayloadWindow = 64

  def payloadChunksDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("p"))
      .withColumn("n", octet_length(col("p")))
      .filter(col("n") > 0)
      .withColumn("n_chunks", expr(s"(n + ${PayloadWindow - 1}) div $PayloadWindow"))
      .select(col("doc_id"), col("p"),
        explode(sequence(lit(0), (col("n_chunks") - 1).cast("int"))).as("chunk_id"))
      .withColumn("w",
        expr(s"substring(p, chunk_id * $PayloadWindow + 1, $PayloadWindow)"))
      .select(
        col("doc_id"), col("chunk_id"),
        octet_length(col("w")).as("n_window_bytes"),
        md5(col("w")).as("window_md5"))
      .orderBy("doc_id", "chunk_id")

  /** Features summary as a DataFrame query — drives the mapPartitions path
    * end-to-end. Oracle-checked: the stub decoder is pure byte arithmetic,
    * which the DuckDB oracle re-derives from `hex(encode(text))` (byte_sum
    * + the first histogram bucket), so even the off-Catalyst hop is
    * hash-verified. */
  def featuresSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaTable(spark, dir))
      .select(col("doc_id"), col("n_bytes"), col("byte_sum"),
        round(element_at(col("feature"), 1).cast("double"), 6).as("f0"))
      .orderBy("doc_id")
  }

  case class ResizedMedia(doc_id: Long, orig_bytes: Long, resized_bytes: Long,
                          resized_sum: Long, resized_md5: String)

  /** Downsample factor for [[resizeMedia]]. */
  private[graft] val ResizeFactor = 4

  /** eq86 — media resize (plumbing): every payload is downsampled by
    * keeping each [[ResizeFactor]]-th byte — the stand-in for bilinear
    * image / sample-rate audio resize, running at the same
    * `mapPartitions` codec boundary as [[extractFeatures]] (a real
    * resizer initializes per partition and streams). The audit columns
    * (byte counts, exact byte sum, md5 of the resized payload) are what
    * the oracle re-derives from hex-expanded bytes, so the off-Catalyst
    * hop stays hash-verified end-to-end — the x4 discipline applied to a
    * payload-PRODUCING (not just payload-consuming) codec step. */
  def resizeMedia(spark: SparkSession, dir: String): DataFrame =
    resizeMediaDs(mediaTable(spark, dir))

  def resizeMediaDs(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition resizer init would go here
      rows.map { r =>
        val out = Array.tabulate(
          (r.payload.length + ResizeFactor - 1) / ResizeFactor)(i =>
          r.payload(i * ResizeFactor))
        ResizedMedia(r.doc_id, r.payload.length.toLong, out.length.toLong,
          out.foldLeft(0L)((s, b) => s + (b & 0xFF)),
          java.security.MessageDigest.getInstance("MD5").digest(out)
            .map("%02x".format(_)).mkString)
      }
    }
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame geometry for [[frameSamplesDf]]: 64-byte "frames", up to 4
    * samples per payload. */
  private[graft] val FrameBytes = 64
  private[graft] val SampleFrames = 4

  /** eq83 — video frame sampling (plumbing): treat each payload as a
    * stream of fixed-size frames and pick ≤ 4 evenly spaced ones (first
    * and last always included) — the "sample frames for captioning /
    * embedding" step of a video curation pipeline, here as pure
    * Catalyst arithmetic: the index math is integer (engine-exact), the
    * frame slice is a binary `substring`, and the per-frame digest is
    * codegen'd md5 — the decode of the sampled frame is where
    * [[FakeDecoder]]'s mapPartitions boundary would sit in production.
    * Map-side explode ×≤4; no shuffle before the presentation sort. */
  def frameSamplesDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("p"))
      .withColumn("n_frames", expr(s"octet_length(p) div $FrameBytes"))
      .filter(col("n_frames") >= 1)
      .withColumn("j", explode(sequence(lit(0),
        least(lit(SampleFrames), col("n_frames")).cast("int") - 1)))
      .withColumn("frame_idx",
        expr(s"""CASE WHEN n_frames <= $SampleFrames THEN j
                 |ELSE (j * (n_frames - 1)) div ${SampleFrames - 1} END""".stripMargin))
      .select(
        col("doc_id"), col("n_frames"), col("frame_idx").cast("int").as("frame_idx"),
        md5(expr(s"substring(p, frame_idx * $FrameBytes + 1, $FrameBytes)"))
          .as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** Scene-cut threshold for [[sceneChangesDf]]: a transition counts as a
    * cut when consecutive frames' byte sums differ by more than 16 per
    * byte (16 × [[FrameBytes]] total). */
  private[graft] val CutDelta = 16L * FrameBytes

  /** eq124 — scene-change detection over the eq83 frame stream: per-frame
    * "luma" (unsigned-byte sum, the native [[
    * graft.functions.BinaryExpressions.FrameByteSums]] single scan), then
    * a lag window PARTITIONED BY doc_id marks transitions whose delta
    * exceeds [[CutDelta]] — the keyframe-selection step of a video
    * curation pipeline (sample MORE frames around cuts, fewer inside
    * static scenes), with the decode stub exactly where eq83 documents
    * it. Per-payload work is linear in payload bytes; the window never
    * crosses payloads, so there is no global sort — the same posture as
    * eq83/eq50. All-integer output, hash-exact. */
  def sceneChangesDf(docs: DataFrame): DataFrame = {
    val framed = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("p"))
      .withColumn("sums",
        graft.functions.BinaryExpressions.frame_byte_sums(col("p"), FrameBytes))
      .filter(size(col("sums")) >= 2) // at least one transition
      .select(col("doc_id"), size(col("sums")).cast("long").as("n_frames"),
        posexplode(col("sums")))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "luma")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    framed
      .withColumn("prev", lag(col("luma"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("delta", abs(col("luma") - col("prev")))
      .groupBy("doc_id")
      .agg(first(col("n_frames")).as("n_frames"),
        sum(when(col("delta") > CutDelta, 1L).otherwise(0L)).as("n_cuts"),
        max(col("delta")).as("max_delta"))
      .orderBy("doc_id")
  }
}
