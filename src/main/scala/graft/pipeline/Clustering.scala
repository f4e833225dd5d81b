package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative clustering over the `embeddings` table: Lloyd's k-means with
  * exact scaled-integer arithmetic, and the product-quantization codebooks
  * built on top of it (x21).
  *
  * Determinism discipline (shared with eq36/eq57/eq72): float components
  * are quantized to integer micro-units once, every per-cluster moment is
  * an exact BIGINT sum (order-free under any partitioning), and centroid
  * updates use an explicit floor-division `(s - pmod(s, n)) div n` whose
  * DuckDB twin is `(s - ((s % n + n) % n)) // n` — bit-identical in both
  * engines, so a 5-iteration run is hash-checkable end to end. This is the
  * same reason MLlib's KMeans can't be the oracle surface here: its
  * float accumulation order varies with partitioning.
  *
  * Scale posture: each iteration is one broadcast join of the k×d centroid
  * frame against the exploded corpus plus one (cid, pos) shuffle — the
  * canonical distributed k-means shape. Centroids live in k×d-row frames
  * (k=8, d=64 ⇒ 512 rows), localCheckpoint'd per round like eq72's power
  * iteration so the lineage stays O(1) instead of O(2^iters).
  */
object Clustering {

  private val Scale = 1000000.0

  /** Exact portable floor division of BIGINT columns (n > 0): pmod lands
    * in [0, n) so the numerator is exactly divisible and `div`'s
    * truncation equals the floor. DuckDB twin: `(s - ((s%n + n) % n)) // n`. */
  private def fdiv(s: Column, n: Column): Column =
    ((s - pmod(s, n)) / n).cast("long")

  /** The exploded micro-unit view of `embeddings`:
    * (vec_id, pos, v = round(x·10⁶) as BIGINT). */
  private[pipeline] def microVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        round(col("x").cast("double") * Scale).cast("long").as("v"))

  // Learned artifacts are memoized per (session, source plan) like the
  // pair table / near-dup labels / BPE vocabulary: a production pipeline
  // trains its centroids and codebooks once per corpus snapshot and every
  // downstream readout (sizes, recall evals, confusion audits) consumes
  // the materialized result. Keyed by the SOURCE embeddings plan — the
  // intermediate localCheckpoint frames are unique per invocation and
  // would never hit.
  private val microCache = new PlanMemo[DataFrame]
  // Lifecycle caveat: entries key on (source plan, k, iters), so a
  // config SWEEP (e.g. an elbow plot over k = 2..16) pins one
  // corpus-sized assignment checkpoint per config until the context
  // stops — unlike the single-key-per-corpus pair/labels memos, this one
  // is multiplicative in configs. The engine's own queries use two fixed
  // configs (eq89's k=8×5, x21's PQ 32×3); a sweeping consumer should
  // interleave Dedup.clearDerivedCaches() or accept the pin as its
  // materialized model store.
  private val lloydCache = new PlanMemo[(DataFrame, DataFrame)]
  /** Lloyd training passes actually RUN (the mining-once observable,
    * like Dedup.pairTableMisses) — pinned by ClusteringSpec. */
  private[graft] def lloydMisses: Long = lloydCache.misses.get

  private def microOf(e: DataFrame): DataFrame =
    microCache(e)(microVectors(e).localCheckpoint())

  /** eq89 — Lloyd's k-means (k=8, 5 iterations) over the embedding corpus,
    * exact in integer micro-units so the run is oracle-reproducible:
    *
    *  - init: the k vectors ranked first by (md5(vec_id), vec_id) — a
    *    deterministic pseudo-random spread; planned as
    *    TakeOrderedAndProject, never a global sort;
    *  - assign: squared-L2 in exact BIGINT (|v| ≤ ~10⁶ ⇒ Σ_d diff² ≤
    *    ~2.6e14 at d=64 — far inside BIGINT), argmin = min(struct(dist,
    *    cid)) with cid as the deterministic tie-break;
    *  - update: per-(cid, pos) BIGINT sums, floor-div mean; clusters that
    *    lose all members keep their previous centroid (deterministic, no
    *    re-seeding randomness).
    *
    * Output: (cid, pos, n_members, centroid) — k×d rows regardless of
    * corpus size. The per-iteration driver work is nil: centroids stay in
    * a k×d-row DataFrame (localCheckpoint'd, like eq72), never collected.
    */
  def kmeansDf(e: DataFrame, k: Int = 8, iters: Int = 5): DataFrame = {
    val (cents, assign) = lloydCache(e, ("kmeans", k, iters)) {
      // materialized once: seeding, every assign pass and every update
      // pass re-consume the exploded frame (iters·2 + 1 scans otherwise)
      val (c, a) = lloyd(microOf(e), k, iters)
      (c, a.localCheckpoint())
    }
    val sizes = assign.groupBy("cid").agg(count(lit(1)).as("n_members"))
    // ≤k rows; must be explicit — the memoized inputs scan as ExistingRDD
    // with no stats, so the auto-broadcast threshold can't see how small
    // this side is
    cents.join(broadcast(sizes), Seq("cid"), "left")
      .select(col("cid"), col("pos"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        round(col("cv").cast("double") / Scale, 6).as("centroid"))
      .orderBy("cid", "pos")
  }

  /** The Lloyd loop over a pre-exploded micro-unit frame
    * (vec_id, pos, v). Returns (final centroids (cid, pos, cv), final
    * assignment (vec_id, cid)) — eq89's entry point; delegates to
    * [[lloydBy]] with a single constant group. */
  private[pipeline] def lloyd(v: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    val (c, a) = lloydBy(v.withColumn("sub", lit(0)), k, iters)
    (c.drop("sub"), a.drop("sub"))
  }

  /** GROUPED Lloyd: one loop drives an independent k-means per `sub`
    * group simultaneously — (sub, cid) centroid keys, (sub, pos)
    * assignment joins, (sub, cid, pos) updates. x21 runs its 8 subspace
    * codebooks through a single 3-iteration loop this way instead of 8
    * separate chains: same arithmetic (seeds, argmin, floor-div updates
    * are all per-sub), ~8× fewer Spark jobs. Seeds rank (md5(vec_id),
    * vec_id) per sub — a partition-bounded window, k rows kept per group.
    */
  private[pipeline] def lloydBy(v: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    val seedW = Window.partitionBy("sub").orderBy(col("h"), col("vec_id"))
    val seeds = v.select("sub", "vec_id").distinct()
      .withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= k)
      .select(col("sub"), col("vec_id"), (col("rn") - 1).cast("int").as("cid"))

    var cents = seeds.join(v, Seq("sub", "vec_id"))
      .select(col("sub"), col("cid"), col("pos"), col("v").as("cv"))
      .localCheckpoint()
    var assign: DataFrame = null
    for (_ <- 1 to iters) {
      assign = assignTo(v, cents)
      val upd = assign.join(v, Seq("sub", "vec_id"))
        .groupBy("sub", "cid", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      cents = cents.join(upd, Seq("sub", "cid", "pos"), "left")
        .select(col("sub"), col("cid"), col("pos"),
          when(col("n").isNull, col("cv"))
            .otherwise(fdiv(col("s"), col("n"))).as("cv"))
        .localCheckpoint() // groups×k×d rows; cuts the per-iteration lineage
    }
    (cents, assign)
  }

  private val PqSubspaces = 8
  private val PqSubDim    = 8 // d=64 / m=8
  private val PqCodes     = 32
  private val PqIters     = 3

  /** x21 — product-quantization ANN with recall evaluation: the third
    * scale path beside IVF (x3) and SRP-LSH (x5), for corpora where even
    * the quantized vectors don't fit memory. PQ splits the d=64 space
    * into m=8 subspaces, learns a 32-code Lloyd codebook per subspace
    * (3 iterations, the eq89 machinery on a sliced frame), encodes every
    * vector as 8 small codes (64 dims → 8 bytes, a 32× compression), and
    * answers the query via the asymmetric-distance computation: an 8×32
    * lookup table of exact-integer query-to-codeword distances, one
    * broadcast hash join per vector — no original vectors touched at
    * query time.
    *
    * Everything is exact integer arithmetic (micro-units), so the ADC
    * ranking is deterministic and the frame hash-checks: output is the
    * ADC top-10 for the vec_id=0 query, each row flagged with membership
    * in the exact integer-L2 top-5 (recall@5 surface, the x12 pattern).
    *
    * Scale posture: codebook learning touches each subspace slice
    * (corpus-linear, k×dsub centroid frames); encoding is one broadcast
    * join per subspace; the query path is a 64-row lookup-table build
    * plus one broadcast join over the codes — never a vector scan. */
  def pqRecallDf(e: DataFrame): DataFrame = {
    // materialized once: the codebook build, the encoder, the query
    // lookup tables and the exact ground truth all consume this frame
    val v = microOf(e)

    // all 8 subspace codebooks in ONE grouped Lloyd loop: sub = pos/8,
    // local pos = pos mod 8 (8× fewer jobs than 8 separate chains)
    val vs = v.select(col("vec_id"),
      (col("pos") / PqSubDim).cast("int").as("sub"),
      pmod(col("pos"), lit(PqSubDim)).cast("int").as("pos"), col("v"))
    val (cents, codes) = lloydCache(e, ("pq", PqCodes, PqIters)) {
      val (c, a) = lloydBy(vs, PqCodes, PqIters)
      (c, a.localCheckpoint())
    }

    // the query's per-(sub, code) distance lookup table — 8×32 rows
    val lut = cents.join(vs.filter(col("vec_id") === 0), Seq("sub", "pos"))
      .groupBy(col("sub"), col("cid").as("code"))
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("qd"))

    // ADC: one broadcast join codes ⋈ lookup table, sum over subspaces
    val adc = codes.select(col("vec_id"), col("sub"), col("cid").as("code"))
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum(col("qd")).as("adc_dist"))
      .filter(col("vec_id") =!= 0)

    // exact integer-L2 ground truth top-5 (query row broadcast)
    val q = v.filter(col("vec_id") === 0)
      .select(col("pos"), col("v").as("qv"))
    val exact = v.filter(col("vec_id") =!= 0)
      .join(broadcast(q), Seq("pos"))
      .groupBy("vec_id")
      .agg(sum((col("v") - col("qv")) * (col("v") - col("qv"))).as("d"))
      .orderBy(col("d"), col("vec_id"))
      .limit(5)
      .select(col("vec_id").as("hit_id"))

    // row_number over exactly 10 rows — bounded by design
    val byAdc = Window.orderBy(col("adc_dist"), col("vec_id"))
    adc.orderBy(col("adc_dist"), col("vec_id")).limit(10)
      .withColumn("rank", row_number().over(byAdc))
      .join(broadcast(exact), col("vec_id") === col("hit_id"), "left")
      .select(col("rank"), col("vec_id"), col("adc_dist"),
        col("hit_id").isNotNull.as("hit"))
      .orderBy("rank")
  }

  /** One grouped Lloyd assignment pass: nearest centroid per (sub,
    * vector) by exact integer squared-L2, ties to the smallest cid. One
    * broadcast of the groups×k×d centroid frame, one partial-agg
    * shuffle. */
  private[graft] def assignTo(v: DataFrame, cents: DataFrame): DataFrame =
    v.join(broadcast(cents), Seq("sub", "pos"))
      .groupBy("sub", "vec_id", "cid")
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
      .groupBy("sub", "vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("sub"), col("vec_id"), col("m.cid").as("cid"))
}
