package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` column):
  * brute-force cosine top-k as the exactness baseline; IVF and SRP-LSH
  * (with the x24 probe-radius sweep) as the scale paths; plus the
  * evaluation surface — recall@k (x12), matryoshka prefix-dim recall
  * (x15), int8 quantization (x11) — and the centroid/variance/Gramian/
  * PCA statistics family. Product quantization lives in [[Clustering]].
  *
  * Vector math is pure Catalyst higher-order functions (`zip_with` +
  * `aggregate` folds) in double precision — codegen'd, no UDF, and the
  * left-to-right fold order matches the oracle's unnest-order sum so
  * results are bit-deterministic.
  */
object Similarity {

  /** Dot product of two float-array columns, computed in double.
    * Backed by the codegen'd [[graft.functions.DotProduct]] expression —
    * the composable `aggregate(zip_with(...))` fold is CodegenFallback
    * (interpreted) and measured 30× slower on the sf0.1 pair scan; both
    * produce bit-identical left-to-right double accumulation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Norm-guarded division for similarity ratios: NULL when the
    * denominator is zero, instead of Spark 4's ANSI `DIVIDE_BY_ZERO`
    * crash. A single zero-norm embedding — one failed embedding job row
    * in 100 TB — would otherwise kill the whole cosine family's jobs
    * (observed on the degenerate-corpus drill). NULL is the
    * right value, not 0: "similarity undefined", filtered by every
    * ≥-threshold gate and sorted last by every DESC top-k in BOTH
    * engines (the oracles carry the same guard via `NULLIF`). For
    * den > 0 the division is bit-identical to the unguarded form, so
    * all recorded hashes are unchanged. */
  private[graft] def safeDiv(num: Column, den: Column): Column =
    when(den > 0, num / den)

  /** Cosine similarity of two float-array columns (zero-norm → NULL). */
  def cosine(a: Column, b: Column): Column =
    safeDiv(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** E-Q4 — brute-force cosine top-k (k=5) against the query vector
    * vec_id=0: broadcast the 1-row query side, scan-and-score, then
    * `TakeOrderedAndProject` (no full sort). This is the shape that still
    * works at 100 TB: one scan, no shuffle except the final top-k. */
  def cosineTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 5): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  private val LshBits = 8

  /** Deterministic ±1 hyperplanes for sign-random-projection (seeded —
    * offline-trainable state, like IVF centroids). The first [[LshBits]]
    * planes are [[lshTopK]]'s buckets; [[Dedup.embeddingNearDupsDf]] draws
    * 128 from the same stream for its banded pair mining. */
  private[pipeline] def hyperplanes(dim: Int, n: Int = LshBits): Seq[Array[Float]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(n)(Array.fill(dim)(if (rng.nextBoolean()) 1f else -1f))
  }

  /** The same hyperplanes as ±-sign strings, so the DuckDB oracle can
    * reconstruct the exact banding ([[graft.Oracles]] splices these into
    * eq13's SQL — both engines then bucket identically). */
  private[graft] def hyperplaneSigns(dim: Int, n: Int): Seq[String] =
    hyperplanes(dim, n).map(_.map(f => if (f > 0) '+' else '-').mkString)

  /** SRP-LSH bucket id of a vector column: bit j = sign(v · h_j), via the
    * one-pass native [[graft.functions.SrpBandSignatures]] (a single band
    * covering all bits). */
  private def srpBucket(v: Column, hps: Seq[Array[Float]]): Column =
    element_at(
      graft.functions.VectorFunctions.srp_band_signatures(v, hps, hps.length), 1)

  /** Sign-random-projection LSH approximate top-k — the hash-bucketed
    * alternative to [[ivfTopK]]: 8 ±1-hyperplane bits bucket every vector
    * (one narrow pass, written once at scale — bit count scales with log of
    * corpus size); the query multi-probes its own bucket plus all
    * hamming ≤ 2 neighbors (37 of 256 buckets), and only those candidates
    * are scored exactly. Recall vs [[cosineTopK]] is pinned by test, and
    * the full pipeline is oracle-checked: the DuckDB oracle rebuilds the
    * buckets from [[hyperplaneSigns]] and probes
    * `bit_count(xor(bucket, q)) <= 2` — the same 37-bucket set. */
  def lshTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 5): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val dim = e.selectExpr("size(embedding)").head().getInt(0)
    val hps = hyperplanes(dim, LshBits)
    val bucketed = e.withColumn("bucket", srpBucket(col("embedding"), hps))
    // driver-side: the query's bucket id (1-row collect) -> probe buckets;
    // unknown queryId -> empty result, same contract as cosineTopK/ivfTopK
    val qRow = bucketed.filter(col("bucket").isNotNull && col("vec_id") === queryId)
      .select("bucket").take(1)
    if (qRow.isEmpty)
      return e.filter(lit(false))
        .select(col("vec_id"), lit(0.0).as("sim"))
    val qBucket = qRow(0).getInt(0)
    val probes = (qBucket +:
      (0 until LshBits).map(j => qBucket ^ (1 << j))) ++
      (for { i <- 0 until LshBits; j <- i + 1 until LshBits }
        yield qBucket ^ (1 << i) ^ (1 << j))
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    bucketed
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** eq36 — per-label centroids (class prototypes): the element-wise mean
    * embedding per label, one output row per (label, dimension). Float
    * components are scaled to exact integers (`round(x·10⁶)` as BIGINT,
    * the money-cents trick) before summing, so the aggregation is
    * order-insensitive and bit-reproducible under any partitioning — the
    * property a naive double sum loses, since IEEE addition is
    * non-associative and Spark's aggregation order is partition-dependent.
    * One shuffle on (label, pos), partial-aggregated map-side; output is
    * labels × dims rows regardless of corpus size. The means divide as
    * `sum::DOUBLE / (n · 10⁶)` — a single deterministic rounding. */
  def labelCentroidsDf(embeddings: DataFrame): DataFrame =
    centroidOf(embeddings, "label", countName = "n_vecs")

  /** The shared scaled-integer centroid aggregation behind eq36 and eq46:
    * element-wise mean of `embedding` per `key`, with components scaled to
    * exact integers before summing (see [[labelCentroidsDf]]'s Scaladoc for
    * why). One copy so a scale/overflow change cannot miss a consumer. */
  private def centroidOf(df: DataFrame, key: String, countName: String): DataFrame =
    df
      .select(col(key), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col(key), col("pos"),
        round(col("x").cast("double") * 1000000.0).cast("long").as("v"))
      .groupBy(key, "pos")
      .agg(
        count(lit(1)).as(countName),
        sum(col("v")).as("sum_scaled"))
      .withColumn("mean",
        round(col("sum_scaled").cast("double") / (col(countName) * 1000000.0), 6))
      .orderBy(key, "pos")

  /** eq57 — per-(label, dimension) embedding variance: the spread
    * statistics behind whitening, drift detection, and dead-dimension
    * audits. Same scaled-integer discipline as eq36: components are
    * quantized to micro-units, and n / Σv / Σv² are exact BIGINT
    * aggregates (order-insensitive under any partitioning; |v| ≤ 10⁶ ⇒
    * Σv² fits BIGINT up to ~10⁷ rows per cell — past that, widen the sums
    * to DECIMAL(38,0)); mean and variance are then single fixed-shape
    * double expressions per output row, so the result is
    * bit-deterministic. One shuffle on (label, pos) with map-side
    * partials; output is labels × dims rows regardless of corpus size. */
  def labelVarianceDf(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        round(col("x").cast("double") * 1000000.0).cast("long").as("v"))
      .groupBy("label", "pos")
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ssq"))
      .select(
        col("label"), col("pos"), col("n"),
        round(col("s").cast("double") / (col("n") * 1000000.0), 6).as("mean"),
        round((col("ssq").cast("double")
            - col("s").cast("double") * col("s").cast("double") / col("n"))
          / (col("n") * 1000000000000.0), 6).as("variance"))
      .orderBy("label", "pos")

  /** eq52 — label-centroid affinity matrix: pairwise cosine between the
    * eq36 class prototypes, the "which slices of the corpus look alike"
    * diagnostic behind cluster merging and domain-mix design. Cosine is
    * invariant under positive scaling of each vector, so it is computed on
    * the centroids quantized to integer micro-units (`round(mean·10⁶)`,
    * exact by construction since `mean` is 6-dp-rounded): dots and norms
    * are then BIGINT sums — order-insensitive, overflow-safe (|mi| ≤ 10⁶
    * ⇒ Σ₆₄ mi² ≤ 6.4·10¹³) — and the only float op is one final
    * divide-and-round per pair. Scale shape: one bounded centroid
    * aggregate (labels × dims rows, materialized once), then all joins are
    * over that bounded frame — labels²·dims intermediate rows, independent
    * of corpus size. */
  def centroidAffinityDf(embeddings: DataFrame): DataFrame = {
    // labels × dims rows, consumed three times (two pair sides + norms) —
    // materialized once so the full embeddings aggregate runs once
    val mi = labelCentroidsDf(embeddings)
      .select(col("label"), col("pos"),
        round(col("mean") * 1000000.0).cast("long").as("mi"))
      .localCheckpoint()
    val norms = mi.groupBy("label")
      .agg(sum(col("mi") * col("mi")).as("nrm"))
    val a = mi.select(col("label").as("label_a"), col("pos"), col("mi").as("ma"))
    val b = mi.select(col("label").as("label_b"), col("pos"), col("mi").as("mb"))
    a.join(b, Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("ma") * col("mb")).as("dot"))
      .join(broadcast(norms.select(col("label").as("label_a"), col("nrm").as("na"))), Seq("label_a"))
      .join(broadcast(norms.select(col("label").as("label_b"), col("nrm").as("nb"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        round(safeDiv(col("dot").cast("double"),
          sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6).as("cos_sim"))
      .orderBy("label_a", "label_b")
  }

  /** eq105 — nearest-centroid classification eval: every vector is
    * assigned to its most-cosine-similar label centroid and the result is
    * the confusion matrix (label, predicted, n_vecs) — the embedding-
    * quality probe behind "are the classes separable at all" and cluster-
    * assignment drift checks. Cosine is invariant under positive scaling
    * of either side, so the centroid is represented by its raw
    * scaled-integer SUM vector (no mean, no rounding on the prototype) and
    * the vector by its micro-unit quantization: dot and both norms are
    * exact BIGINT sums (|v| ≤ ~10⁷, |s| ≤ 10⁶·rows-per-label ⇒ products
    * stay < 2⁶³ up to ~10⁵ rows per label at 64 dims; widen to
    * DECIMAL(38,0) past that), and the only float op is one
    * divide-and-round per (vector, centroid) cell. The argmax orders by
    * the 6-dp-ROUNDED cosine then label — deterministic in both engines.
    * Scale shape: centroid frame is labels × dims rows (broadcast); the
    * score join explodes each vector ×labels — corpus × k·dims work,
    * linear in the corpus, one shuffle on vec_id. */
  def centroidConfusionDf(embeddings: DataFrame): DataFrame =
    centroidScoresTop2(embeddings)
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("cl").as("predicted"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "predicted")

  /** The eq105 scoring pass split for reuse: every vector cosine-scored
    * against every label-centroid prototype, ranked per vector —
    * (vec_id, label, cl, cos, rn). eq105 keeps rn = 1 for the confusion
    * matrix; eq107 uses rn ≤ 2 as the IVF probe list for bitext mining. */
  private[graft] def centroidScores(embeddings: DataFrame): DataFrame = {
    val u = embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        round(col("x").cast("double") * 1000000.0).cast("long").as("v"))
    val cent = u.groupBy(col("label").as("cl"), col("pos"))
      .agg(sum(col("v")).as("s"))
      .localCheckpoint()
    val centNorms = cent.groupBy("cl").agg(sum(col("s") * col("s")).as("ns"))
    u.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("cl"))
      .agg(
        sum(col("v") * col("s")).as("dot"),
        sum(col("v") * col("v")).as("nv"))
      .join(broadcast(centNorms), Seq("cl"))
      .filter(col("nv") > 0)
      .withColumn("cos", round(safeDiv(col("dot").cast("double"),
        sqrt(col("nv").cast("double")) * sqrt(col("ns").cast("double"))), 6))
      .withColumn("rn",
        row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("cl").asc)))
  }

  /** The top-2 rows per vector of [[centroidScores]], materialized ONCE
    * per (session, embeddings plan) — the coarse-quantizer assignment
    * both consumers read: eq105 keeps rn = 1 (the confusion matrix),
    * eq107 probes rn ≤ 2 cells.
    * Before this memo, eq107's src and tgt branches each embedded the
    * FULL scoring subtree (scan → explode → centroid agg → score agg →
    * window: the plan's two mirrored 28-operator chains), relying on
    * runtime stage reuse that the window exchanges defeated; now both
    * branches — and eq105 — read one 2-rows-per-vector checkpoint. The
    * production shape at 100 TB: the IVF assignment is computed once per
    * corpus snapshot and every mining pass reads it. */
  private val centScoresCache = new PlanMemo[DataFrame]
  private def centroidScoresTop2(embeddings: DataFrame): DataFrame =
    centScoresCache(embeddings)(
      centroidScores(embeddings)
        .filter(col("rn") <= 2)
        .select(col("vec_id"), col("label"), col("cl"), col("cos"), col("rn"))
        .localCheckpoint())

  /** Mining floor for eq107: a pair is emitted only when its exact cosine
    * reaches this — on synthetic embeddings the cross-lingual ceiling is
    * ~0.49, so 0.3 keeps the mined set selective but non-empty. */
  private[graft] val BitextCosFloor = 0.3

  /** eq107 — cross-lingual bitext mining, the parallel-corpus bootstrap:
    * for every non-English document, find its best English neighbour by
    * embedding cosine and score the match with the MARGIN criterion
    * (best minus runner-up — the absolute-threshold-free signal from the
    * LASER/CCMatrix mining line: a true translation is not just close,
    * it is close and ISOLATED). Candidates come from an IVF-style coarse
    * quantizer — the eq105 label-centroid cells: each query probes its 2
    * nearest cells, the target side is indexed in its 1 nearest — so
    * pair work is Σ(cell sizes × probing queries), never |src|×|tgt|;
    * at 100 TB the cells are a k-means codebook (eq89) and the per-cell
    * joins are ordinary co-partitioned equi-joins. Exact cosine on
    * candidates only; ranking and margin use the 6-dp-ROUNDED cosine
    * with tgt_id tie-break — deterministic in both engines. Output:
    * top-20 mined pairs by (margin DESC, src_id). */
  def bitextMineDf(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val langOf = docs.select(col("doc_id").as("vec_id"), col("lang"))
    // both branches read the ONE materialized coarse-quantizer assignment,
    // so src and tgt do not each re-embed the whole scoring subtree
    val scored = centroidScoresTop2(embeddings).join(langOf, Seq("vec_id"))
    val src = scored.filter(col("rn") <= 2 && col("lang") =!= "en")
      .select(col("vec_id").as("src_id"), col("lang").as("src_lang"), col("cl"))
    val tgt = scored.filter(col("rn") === 1 && col("lang") === "en")
      .select(col("vec_id").as("tgt_id"), col("cl"))
    val cands = src.join(tgt, Seq("cl"))
      .select("src_id", "src_lang", "tgt_id")
      .distinct()
    // tgt embedding attached FIRST so the LAST equi-join is keyed on
    // src_id — at scale (non-broadcast joins) its output partitioning is
    // exactly the margin window's, saving the window's exchange (§2.4);
    // inner joins commute, so the rows are identical
    val withCos = cands
      .join(embeddings.select(col("vec_id").as("tgt_id"), col("embedding").as("te")), Seq("tgt_id"))
      .join(embeddings.select(col("vec_id").as("src_id"), col("embedding").as("se")), Seq("src_id"))
      .withColumn("cos", round(cosine(col("se"), col("te")), 6))
    val w = Window.partitionBy("src_id").orderBy(col("cos").desc, col("tgt_id").asc)
    withCos
      .withColumn("r", row_number().over(w))
      .withColumn("cos_next", lead(col("cos"), 1).over(w))
      .filter(col("r") === 1 && col("cos") >= BitextCosFloor)
      .withColumn("margin", round(col("cos") - coalesce(col("cos_next"), lit(0.0)), 6))
      .select(col("src_id"), col("src_lang"), col("tgt_id"), col("cos"), col("margin"))
      .orderBy(col("margin").desc, col("src_id").asc)
      .limit(20)
  }

  /** eq41 — SemDeDup-style semantic dedup: pairwise cosine ONLY inside a
    * cluster (here the `label` column — in production the cell id of an
    * offline k-means over the embeddings, exactly as the SemDeDup paper
    * prunes within k-means clusters), a member is dropped when it is ≥
    * [[SemanticThreshold]]-similar to a lower-id member of its cluster.
    * Per-cluster tally: members, duplicate pairs, dropped members — all
    * integers, so the output is aggregation-order-proof; the threshold
    * compares UNROUNDED cosines in both engines. The equi-join on the
    * cluster key is the entire scale story: pair work is Σ(cluster size)²,
    * bounded by the largest cluster, never corpus², and each cluster's
    * pairs compute in parallel after one co-partitioned shuffle. */
  private[graft] val SemanticThreshold = 0.3

  def semanticDedupDf(embeddings: DataFrame): DataFrame = {
    val a = embeddings.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = embeddings.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val dups = a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", cosine(col("ea"), col("eb")))
      .filter(col("sim") >= SemanticThreshold)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("vec_b")).as("n_dropped"))
    embeddings
      .groupBy("label").agg(count(lit(1)).as("n_members"))
      .join(dups, Seq("label"), "left")
      .select(col("label"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("label")
  }

  /** Giant-cluster guard for [[semanticDedupDf]] — the adversarial case
    * the skew rehearsal (SkewSpec / [[graft.SkewBench]]) measures:
    * SemDeDup's pair work is Σ(cluster size)², so one mislabeled GIANT
    * cluster (collapsed clustering, k chosen too small) degrades toward
    * corpus². The guard: clusters whose member count exceeds `cap` are
    * sub-sharded by one 8-bit SRP band over the member vectors (the eq13
    * banding machinery, deterministic hyperplanes), and pair search runs
    * within (label, shard) — candidate mass inside a degenerate cluster
    * collapses by ~2⁸ while well-sized clusters are untouched (shard 0).
    * Near-identical members still collide: for cos ≥ 0.95 each SRP bit
    * flips with p = θ/π ≤ 0.1, so true duplicate pairs survive the
    * sub-shard w.h.p. — the same recall contract as the banded near-dup
    * path (eq13/x12), invoked only where the cluster size itself proves
    * the labels degenerate. Output schema matches [[semanticDedupDf]]
    * (rolled up to the ORIGINAL label), so the two compare row-for-row. */
  /** The declared eq128 cap — fixture-scaled (labels hold 42–63 members
    * at sf0.001 and 44–59 at sf0.01, so cap 50 exercises BOTH paths:
    * some clusters sub-shard, some keep shard 0 and must stay bit-equal
    * to eq41's pairing for those labels). */
  private[graft] val SemanticShardCap = 50

  def semanticDedupShardedDf(embeddings: DataFrame, cap: Int = 1000): DataFrame = {
    val sharded = shardedGroupsDf(embeddings, cap)
    val a = sharded.select(col("label"), col("shard"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = sharded.select(col("label"), col("shard"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val dups = a.join(b, Seq("label", "shard"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", cosine(col("ea"), col("eb")))
      .filter(col("sim") >= SemanticThreshold)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("vec_b")).as("n_dropped"))
    embeddings
      .groupBy("label").agg(count(lit(1)).as("n_members"))
      .join(dups, Seq("label"), "left")
      .select(col("label"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("label")
  }

  /** Member → (label, shard) assignment behind [[semanticDedupShardedDf]],
    * exposed so the skew rehearsal can compute candidate cardinalities
    * (Σ C(group,2)) without materializing the quadratic join. Shard = 0
    * for members of clusters within `cap`; the first 8-bit SRP band
    * signature (+1, so it never collides with the 0 sentinel) for members
    * of oversized clusters. The size roll-up is label-bounded and
    * broadcast. */
  private[graft] def shardedGroupsDf(embeddings: DataFrame, cap: Int): DataFrame = {
    val firstRow = embeddings.selectExpr("size(embedding)").take(1)
    if (firstRow.isEmpty)
      return embeddings.select(col("label"), col("vec_id"), col("embedding"), lit(0).as("shard"))
    val hps = hyperplanes(firstRow(0).getInt(0), 8)
    val sizes = embeddings.groupBy("label").agg(count(lit(1)).as("cl_n"))
    embeddings.join(broadcast(sizes), Seq("label"))
      .withColumn("shard",
        when(col("cl_n") > cap,
          element_at(graft.functions.VectorFunctions.srp_band_signatures(
            col("embedding"), hps, 8), 1) + 1)
          .otherwise(lit(0)))
      .select(col("label"), col("vec_id"), col("embedding"), col("shard"))
  }

  /** eq46 — quality-gated class prototypes, the engine's first cross-modal
    * query: documents surviving eq8's quality threshold (≥ 0.5 on the
    * 6-dp score, the eq38 keep rule) select their embeddings via the
    * doc_id = vec_id equi-join, and each language gets the exact mean
    * embedding of its surviving docs — [[labelCentroidsDf]]' scaled-integer
    * arithmetic, so the means are order-insensitive and bit-reproducible.
    * The corpus-prep use: after text-side filtering, the centroid of what
    * SURVIVED is the reference point for embedding-space drift checks and
    * for seeding the [[semanticDedupDf]] clustering. Join is id-keyed
    * (co-partitioned shuffle at scale); output rows = langs × dims,
    * independent of corpus size. */
  def qualityCentroidsDf(docs: DataFrame, embeddings: DataFrame): DataFrame =
    centroidOf(
      TextAnalysis.qualityCols(docs)
        .filter(col("quality") >= 0.5)
        .select(col("doc_id"), col("lang"))
        .join(embeddings, col("doc_id") === col("vec_id"))
        .select(col("lang"), col("embedding")),
      "lang", countName = "n_docs")

  /** x11 — int8 scalar quantization of the embedding column: per-dimension
    * global [min, max] (one bounded aggregate — output rows = dims, not
    * vectors) broadcast back over the corpus, each component mapped to an
    * 8-bit code `round((x−min)/(max−min)·255)` — the 4× compression that
    * makes a 100 TB ANN index RAM-resident (the scalar-quantization half of
    * IVF-PQ; codes feed [[ivfTopK]]-style cells). Driver-checkable shape
    * (the x6/x8 pattern): per-dim min/max and the exact integer code sum
    * are oracle-verified values; the quantizer's hard guarantee — every
    * reconstruction error ≤ half a quantization step — surfaces as a
    * boolean the oracle pins TRUE. All arithmetic is the same-order double
    * math in both engines; a constant dimension (max = min) degenerates to
    * code 0 by definition in both. */
  def quantizeEmbeddingsDf(embeddings: DataFrame): DataFrame = {
    val ex = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast("double").as("x"))
    val bounds = ex.groupBy("pos").agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
    val step = (col("vmax") - col("vmin")) / 255.0
    val q = when(col("vmax") > col("vmin"),
      round((col("x") - col("vmin")) / (col("vmax") - col("vmin")) * 255.0).cast("int"))
      .otherwise(lit(0))
    ex.join(broadcast(bounds), Seq("pos"))
      .withColumn("q", q)
      .withColumn("ok",
        abs(col("x") - (col("vmin") + col("q") * step)) <= step / 2.0 + lit(1e-9))
      .groupBy("pos")
      .agg(
        round(first(col("vmin")), 6).as("vmin"),
        round(first(col("vmax")), 6).as("vmax"),
        sum(col("q").cast("long")).as("code_sum"),
        (sum(when(col("ok"), 0L).otherwise(1L)) === 0L).as("within_half_step"))
      .orderBy("pos")
  }

  /** IVF-style approximate top-k: a deterministic centroid subset (every
    * 40th vector — a stand-in for k-means, which would be trained offline),
    * each vector assigned to its nearest centroid (broadcast argmin — one
    * narrow pass), the query probes the `nprobe` nearest cells, and only
    * those cells are scored. At scale the assignment is written once,
    * bucketed by cell id, so a query touches `nprobe/cells` of the data.
    * Approximate but fully deterministic, so the DuckDB oracle reconstructs
    * the whole pipeline (centroids → argmin assignment → probe cells →
    * exact scoring) and hash-compares it; recall vs [[cosineTopK]] is
    * additionally pinned by test. */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 5,
              nprobe: Int = 8, centroidStride: Int = 40): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("ce"))
    // nearest-centroid assignment: broadcast centroids, argmin by window
    // NULLS LAST explicitly: zero-norm rows now carry NULL distances and
    // Spark's ASC default (nulls first) differs from DuckDB's (nulls last)
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("d").asc_nulls_last, col("cell_id").asc)
    val assigned = e.crossJoin(broadcast(centroids))
      .withColumn("d", -cosine(col("embedding"), col("ce")))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell_id"), col("embedding"))
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val probeCells = centroids.crossJoin(broadcast(q))
      .select(col("cell_id"), (-cosine(col("ce"), col("qe"))).as("d"))
      .orderBy(col("d").asc_nulls_last, col("cell_id").asc)
      .limit(nprobe)
      .select("cell_id")
    assigned
      .join(broadcast(probeCells), Seq("cell_id"), "left_semi")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** x12 — ANN recall@k evaluation: the retrieval-eval harness AS a data
    * operator — each approximate index ([[ivfTopK]], [[lshTopK]]) is
    * scored against the exact [[cosineTopK]] ground truth by semi-joining
    * the two k-row result sets and counting hits, all inside one plan.
    * This is how an embedding pipeline audits its index quality in the
    * same job that builds it (recall regressions surface as data, not as
    * a notebook afterthought). Every frame past the underlying queries is
    * ≤ k rows, so the eval's own cost is nil; the DuckDB oracle composes
    * the exact same three reconstructions it already checks one by one. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val exact = cosineTopK(spark, dir, k = k).select("vec_id")
    Seq("ivf" -> ivfTopK(spark, dir, k = k), "srp_lsh" -> lshTopK(spark, dir, k = k))
      .map { case (method, approx) =>
        approx.select("vec_id")
          .join(exact, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(
            lit(method).as("method"), lit(k).as("k"), col("n_hits"),
            round(col("n_hits").cast("double") / k, 6).as("recall"))
      }
      .reduce(_ unionByName _)
      .orderBy("method")
  }

  /** x15 — matryoshka (prefix-dimension) recall: how much ANN quality
    * survives truncating embeddings to their first 16 of 64 dims — the
    * evaluation behind MRL-style "store the prefix, pay 4× less" cost
    * decisions. For a 10-query panel, top-5 by full cosine vs top-5 by
    * prefix cosine; rankings order by the 6-dp ROUNDED similarity with
    * a vec_id tie-break, so both engines rank identically and the whole
    * evaluation — not just a bound — is hash-checked. The panel is a
    * constant, so the pair frame is |panel|×|corpus| with a broadcast
    * query side: one corpus scan, rank windows partitioned per query. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val (k, prefixDim, panel) = (5, 16, 10)
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < panel)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def cos(x: Column, y: Column): Column =
      round(cosine(x, y), 6)
    val pairs = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cos(col("embedding"), col("qe")).as("sim_full"),
        cos(slice(col("embedding"), 1, prefixDim), slice(col("qe"), 1, prefixDim))
          .as("sim_pre"))
    val byFull = Window.partitionBy("qid")
      .orderBy(col("sim_full").desc, col("vec_id").asc)
    val byPre = Window.partitionBy("qid")
      .orderBy(col("sim_pre").desc, col("vec_id").asc)
    val hits = pairs
      .withColumn("rf", row_number().over(byFull))
      .withColumn("rp", row_number().over(byPre))
      .filter(col("rf") <= k && col("rp") <= k)
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    queries.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), lit(k).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy("qid")
  }

  /** eq71 — Gramian top pairs: the strongest off-diagonal covariance
    * structure of the embedding space (Σ vᵢvⱼ over the corpus), computed
    * in ONE pass by [[graft.functions.GramAggregator]] — executors
    * exchange 16 KB triangle buffers, never vectors, and every cell is an
    * exact micro-integer (see the aggregator's Scaladoc for why that
    * makes the result engine-independent). The d² cell→(i,j) mapping is a
    * broadcast 2,080-row join, and the top-50 is a TakeOrderedAndProject
    * over d² rows — nothing downstream of the scan depends on corpus
    * size. This is the statistics pass a PCA/whitening stage runs before
    * projecting a 100 TB embedding table. */
  def gramTopPairs(spark: SparkSession, dir: String): DataFrame =
    gramCells(spark, dir)
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("gram_micro"))
      .orderBy(abs(col("gram_micro")).desc, col("i"), col("j"))
      .limit(50)

  /** Upper-triangle Gramian cells (i ≤ j, exact micro-integers) from the
    * single-pass [[graft.functions.GramAggregator]] — shared by eq71's
    * top-pairs view and eq72's power iteration. */
  private def gramCells(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = 64
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("embedding")).as[Array[Float]]
    val gram = vecs.select(new graft.functions.GramAggregator(d).toColumn).toDF("g")
    val idx = (for { i <- 0 until d; j <- i until d }
      yield (i * d - i * (i - 1) / 2 + (j - i), i, j)).toDF("pos", "i", "j")
    gram
      .select(posexplode(col("g")).as(Seq("pos", "gram_micro")))
      .join(broadcast(idx), "pos")
      .select(col("i"), col("j"), col("gram_micro"))
  }

  /** eq72 — dominant PCA axis by integer power iteration: five matvec
    * rounds `v ← G·v` over the eq71 Gramian, renormalized each round to
    * ≤10⁶ by integer division (negatives handled as sign·(abs div mx), so
    * trunc-vs-floor can never diverge between engines — the eq61
    * convention for iterative algorithms). The corpus-scaled work is ONE
    * pass (the Gramian aggregation, materialized once); each iteration
    * then joins a 4,096-row mirrored matrix against a 64-row vector —
    * driver-free, constant-size, broadcast-planned. This is the
    * "principal direction of the embedding space" a whitening /
    * dimensionality audit publishes, without ever collecting vectors. */
  def pcaPowerIteration(spark: SparkSession, dir: String): DataFrame = {
    val cells = gramCells(spark, dir)
    // materialized once: five iterations and the mirror both reuse it —
    // without this every iteration would re-run the corpus aggregation
    val tri = cells.localCheckpoint()
    val m = tri.select(col("i"), col("j"), col("gram_micro").as("s"))
      .union(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("gram_micro").as("s")))
    var v = m.select(col("i").as("pos")).distinct()
      .withColumn("v", lit(1000000L))
    for (_ <- 1 to 5) {
      // 64-row checkpoint per round: w is read twice (norm + update), and
      // without the cut Catalyst re-expands the whole iteration lineage
      // on both sides — a ~2^k plan for k rounds
      val w = m.join(v, m("j") === v("pos"))
        .groupBy(m("i").as("wpos"))
        .agg(sum(col("s") * col("v")).cast("long").as("w"))
        .localCheckpoint()
      val n = w.agg(
        greatest(expr("max(abs(w)) div 1000000L"), lit(1L)).as("mx"))
      v = w.crossJoin(broadcast(n))
        .select(col("wpos").as("pos"),
          expr("CASE WHEN w < 0 THEN -(abs(w) div mx) ELSE abs(w) div mx END")
            .cast("long").as("v"))
    }
    v.select(col("pos"), col("v").as("loading_ppm")).orderBy("pos")
  }

  /** x24 — SRP-LSH probe-radius sweep: recall@5 and candidate volume at
    * hamming radii 0/1/2 around the query bucket — the tuning matrix that
    * decides how many probe buckets a production ANN deployment pays for.
    * Radius 2 is exactly the x5 configuration, so the sweep's last row
    * grades the shipped default; the monotone recall-vs-candidates trade
    * is pinned by test. Candidates are computed with the direct
    * `bit_count(bucket XOR q) ≤ r` predicate (an EVAL formulation — the
    * production path x5 enumerates probe buckets so the scan can prune;
    * same candidate set, different access pattern, both deterministic).
    * One bucketed scan crossed with the 3-row radius frame; top-5 per
    * radius via a rank window over ≤3 bounded candidate partitions. */
  def lshProbeSweep(spark: SparkSession, dir: String, queryId: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
    val dimRow = e.selectExpr("size(embedding)").take(1)
    if (dimRow.isEmpty)
      return e.sparkSession.range(0).select(
        lit(0).as("radius"), lit(0L).as("n_candidates"),
        lit(0L).as("n_hits"), lit(0.0).as("recall"))
    val hps = hyperplanes(dimRow(0).getInt(0), LshBits)
    // materialized once: the candidate filter and count both consume it
    val bucketed = e.withColumn("bucket", srpBucket(col("embedding"), hps))
      .localCheckpoint()
    // driver-side: the query's bucket id (1-row collect, bounded — the
    // x5 contract)
    val qRow = bucketed.filter(col("vec_id") === queryId).select("bucket").take(1)
    if (qRow.isEmpty)
      return e.sparkSession.range(0).select(
        lit(0).as("radius"), lit(0L).as("n_candidates"),
        lit(0L).as("n_hits"), lit(0.0).as("recall"))
    val qb = qRow(0).getInt(0)
    val radii = spark.range(1)
      .select(explode(array(lit(0), lit(1), lit(2))).as("radius"))
    val cands = bucketed.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(radii))
      .filter(expr(s"bit_count(bucket ^ $qb)") <= col("radius"))
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val byRadius = Window.partitionBy("radius")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val ranked = cands.crossJoin(broadcast(q))
      .withColumn("sim", round(cosine(col("embedding"), col("qe")), 6))
      .withColumn("rk", row_number().over(byRadius))
    val exact = cosineTopK(spark, dir, queryId)
      .select(col("vec_id").as("hit_id"))
    val hits = ranked.filter(col("rk") <= 5)
      .join(broadcast(exact), col("vec_id") === col("hit_id"))
      .groupBy("radius").agg(count(lit(1)).as("n_hits"))
    cands.groupBy("radius").agg(count(lit(1)).as("n_candidates"))
      .join(hits, Seq("radius"), "left")
      .select(col("radius"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / 5, 6).as("recall"))
      .orderBy("radius")
  }
}
