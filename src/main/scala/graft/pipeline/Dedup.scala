package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The deduplication family over `documents` (training-data-pipeline
  * surface): exact, exact-keep-first, n-gram Jaccard (exact, PPJoin
  * prefix-filtered by default), MinHash+LSH (approximate candidates,
  * exact verify, plus the x23 estimate-error eval), SimHash
  * (hamming-bucketed), embedding-cosine near-dup — and the graph layer
  * on top of the pair sets: connected components, cluster
  * representatives, PageRank, density cores, topology stats, and the
  * text-vs-embedding modality-agreement audit.
  *
  * Scale posture: every variant is a shuffle-on-key program —
  * hash-partition by content hash / shingle / band / bit-chunk — with no
  * driver-side state. The quadratic risk lives only in candidate-pair
  * verification, which each approximate method bounds by bucketing.
  */
object Dedup {

  /** E-Q1 — exact duplicate count via content hash (`sha2`): at 100 TB you
    * group on the 256-bit digest, never on the document bytes. */
  def exactDupCountDf(docs: DataFrame): DataFrame =
    docs
      .agg((count(lit(1)) - countDistinct(sha2(col("text"), 256))).as("dup_count"))

  /** HLL opt-in for A1-class count-distincts (SURVEY.md §2.2 A1 note): the
    * oracle queries stay exact, but at 100 TB-cardinality you trade the
    * Expand-plan exact distinct for a mergeable HyperLogLog++ sketch.
    *
    * Driver-checkable shape: the exact counts are oracle-verified rows, and
    * the HLL estimates are emitted as `|approx − exact| / exact ≤ 0.05`
    * booleans (rsd = 0.02, so 5% is a generous envelope) that the oracle
    * pins to TRUE — a sketch gone wild flips the flag and fails the hash
    * compare. The raw estimates themselves are implementation-defined, so
    * they can't be a hash-compared column. */
  def approxDistinctDf(pdv: DataFrame): DataFrame =
    pdv.agg(
      countDistinct(col("magid")).as("exact_magasins"),
      countDistinct(col("prodid")).as("exact_produits"),
      approx_count_distinct(col("magid"), 0.02).as("am"),
      approx_count_distinct(col("prodid"), 0.02).as("ap"))
      .select(
        col("exact_magasins"), col("exact_produits"),
        // zero-guard: x/0 is NULL (non-ANSI), which would break the
        // boolean contract — an empty input is "ok" iff the sketch is 0 too
        when(col("exact_magasins") === 0, col("am") === 0)
          .otherwise(abs(col("am") - col("exact_magasins")).cast("double")
            / col("exact_magasins") <= 0.05).as("approx_magasins_ok"),
        when(col("exact_produits") === 0, col("ap") === 0)
          .otherwise(abs(col("ap") - col("exact_produits")).cast("double")
            / col("exact_produits") <= 0.05).as("approx_produits_ok"))

  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    approxDistinctDf(Tables.pdv(spark, dir))

  /** Exact dedup keeping the smallest doc_id per content
    * (hash-partitioned window, `row_number`). Reports survivors per source. */
  def dedupKeepFirstDf(docs: DataFrame): DataFrame =
    keepFirstPerText(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("source")

  /** eq11's rule: the smallest-doc_id row per identical text, windowed on
    * the 32-byte sha2 key (never the text itself). The curation chains'
    * exact stages use it too. */
  private[pipeline] def keepFirstPerText(docs: DataFrame): DataFrame =
    docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")))
      .filter(col("rn") === 1).drop("rn")

  /** doc_id + distinct 3-token shingle set + set size. */
  private def shingleSetsDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.ShingleExpressions.shingle_hashes(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh")))

  /** The corpus shingle-set frame, filtered to non-empty and checkpointed
    * ONCE per docs plan: the prefix Jaccard path, the plain equivalence
    * variant, and containment mining all read this one materialization
    * instead of re-shingling the corpus each. */
  private[pipeline] def shingleSets(docs: DataFrame): DataFrame =
    shingleSetsCache(docs)(
      shingleSetsDf(docs).filter(col("sz") > 0).localCheckpoint())

  /** Exact n-gram Jaccard near-dup pairs (sim ≥ 0.2). The DEFAULT for the
    * whole eq12 family (eq26/eq49/eq61/eq84 compose it) is the PPJoin
    * prefix-filtered path [[jaccardPairsPrefixDf]] — lossless (prefix
    * theorem, proven ≡ the plain inverted join by test) and immune to the
    * Σdf² hot-shingle blowup a boilerplate-heavy 100 TB corpus triggers on
    * the plain self-join. The plain variant survives as
    * [[jaccardPairsPlainDf]] for the equivalence pin and for small corpora
    * where its single join beats the prefix path's extra passes. */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsDf(Tables.load(spark, dir, "documents"))

  private val JaccardThreshold = 0.2

  /** Derived corpus artifacts (the Jaccard pair table, the MinHash
    * signature/band frames) are memoized per (session, canonicalized docs
    * plan): eq12/eq26/eq49/eq61/eq84/eq99 compose the pair table and
    * x1/x23/eq104 the signature pass over the same documents scan, and the
    * eager localCheckpoints inside each path otherwise recompute per call
    * site (~10 s of the sf0.1 bench across both families). This is the
    * production shape too: a corpus pipeline materializes its pair table
    * and signature index once and every downstream audit reads those, not
    * a fresh similarity join. Keyed by the canonicalized logical plan
    * (structural equality — no hash-collision risk), so distinct corpora
    * (e.g. eq104's union frame) never share. Fixtures are immutable per
    * session; a mutated-in-place source dir would need an explicit
    * [[clearDerivedCaches]]. */
  // The memo class itself lives in pipeline/PlanMemo.scala (shared with
  // TextAnalysis's learned-vocabulary cache); instances
  // self-register for the context-stop eviction listener.
  private val pairTableCache = new PlanMemo[DataFrame]
  private val signaturePartsCache = new PlanMemo[(DataFrame, DataFrame, DataFrame)]
  private val minhashPartsCache = new PlanMemo[(DataFrame, DataFrame)]
  private val embPairsCache = new PlanMemo[DataFrame]
  private val shingleSetsCache = new PlanMemo[DataFrame]
  private val containPairsCache = new PlanMemo[DataFrame]

  def clearDerivedCaches(): Unit = PlanMemo.clearAll()

  /** Mining passes actually run for the Jaccard pair table — the eq136
    * pipeline spec asserts this advances by exactly 1 across a full
    * curation chain (the materialize-once contract, observed not argued). */
  private[graft] def pairTableMisses: Long = pairTableCache.misses.get

  def jaccardPairsDf(docs: DataFrame): DataFrame =
    // the checkpoint makes the memo a MATERIALIZATION, not a shared lazy
    // plan: without it every consumer re-ran the
    // prefix path's verify join — computeNeardupLabels' symmetric edge
    // union paid it twice per labeling — which is exactly the re-mining
    // the memo exists to prevent (signatureParts/minhashParts already
    // checkpoint for the same reason). Qualifying pairs only — small.
    // The checkpoint holds the UNSORTED pairs (the sort would re-run the
    // verify join in its range-sampling pass); the canonical order is
    // layered on the returned frame, where aggregate/join consumers
    // shed it via EliminateSorts and eq12's declared output keeps it.
    pairTableCache(docs)(jaccardPairsPrefixUnsortedDf(docs).localCheckpoint())
      .orderBy("doc_a", "doc_b")

  /** Plain inverted-index self-join: explode shingle hashes (8-byte keys
    * from the native [[graft.functions.ShingleExpressions.ShingleHashes]]
    * expression), join on shingle, count common,
    * J = |A∩B| / (|A|+|B|-|A∩B|). Join fan-out is Σ df² over shingle
    * document frequencies — benign only when no shingle is ultra-frequent
    * (this corpus: max df 25, Σdf² ≈ 2.8M at sf0.1); one stop-shingle
    * shared by k docs emits k² candidate rows on a single key, which is
    * why [[jaccardPairsPrefixDf]] is the family default. */
  def jaccardPairsPlainDf(docs: DataFrame): DataFrame = {
    // both sides of the self-join derive from the one memoized shingle-set
    // checkpoint ([[shingleSets]]); the explode re-runs per side but reads
    // in-memory checkpointed rows, not the corpus.
    // Lifecycle of the localCheckpoint blocks in these pair-mining paths:
    // scale-proportional but bounded per (session, corpus), held by the
    // memo caches; [[clearDerivedCaches]] releases them to the
    // ContextCleaner.
    val ex = shingleSets(docs)
      .select(col("doc_id"), col("sz"), explode(col("sh")).as("sg"))
    val a = ex.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("sg"))
    val b = ex.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("sg"))
    a.join(b, Seq("sg"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"), max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** PPJoin-style prefix-filtered variant — identical output to
    * [[jaccardPairsPlainDf]], built for corpora where frequent shingles
    * make the plain inverted join's Σdf² fan-out explode
    * (boilerplate-heavy web crawls):
    *
    *  1. global canonical shingle order = (document frequency ASC, hash) —
    *     rare shingles first;
    *  2. each doc indexes only its (sz − ⌈t·sz⌉ + 1)-prefix. Prefix
    *     theorem: J(A,B) ≥ t ⟹ |A∩B| ≥ max(⌈t·|A|⌉, ⌈t·|B|⌉) ⟹ the
    *     prefixes intersect — no qualifying pair is lost;
    *  3. candidate pairs verified with the exact set intersection.
    *
    * The join then fans out only on rare shingles. Pinned equal to the
    * plain variant by test. */
  def jaccardPairsPrefixDf(docs: DataFrame): DataFrame =
    jaccardPairsPrefixUnsortedDf(docs).orderBy("doc_a", "doc_b")

  /** The prefix path WITHOUT the terminal presentation sort: the sort's
    * range partitioning SAMPLES its input, so sorting before the memo's
    * checkpoint ran the verify join twice per materialization — and
    * every non-terminal consumer (labels, overlap roll-ups, estimate
    * joins) re-aggregates anyway, where Catalyst's EliminateSorts drops
    * the order. The memo stores this unsorted
    * materialization; [[jaccardPairsPrefixDf]] (and with it eq12's
    * declared frame) layers the canonical order on top — same multiset,
    * same hash (the driver/golden compare is row-order-insensitive by
    * construction: rows are sorted during canonical serialization). */
  private def jaccardPairsPrefixUnsortedDf(docs: DataFrame): DataFrame = {
    val t = JaccardThreshold
    val sets = shingleSets(docs)
    prefixCandidatesDf(docs)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The prefix path's CANDIDATE pairs (before exact verification) —
    * factored out so the skew rehearsal (SkewSpec / [[graft.SkewBench]])
    * can pin the candidate cardinality on hostile fixtures. freq, prefix
    * and the verify-join in [[jaccardPairsPrefixDf]] all consume the one
    * memoized shingle-set checkpoint. */
  private[graft] def prefixCandidatesDf(docs: DataFrame): DataFrame = {
    val t = JaccardThreshold
    val sets = shingleSets(docs)
    val ex = sets.select(col("doc_id"), col("sz"), explode(col("sh")).as("sg"))
    val freq = ex.groupBy("sg").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df").asc, col("sg").asc)
    val prefix = ex.join(freq, Seq("sg"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * t) + 1)
      .select(col("doc_id"), col("sg"))
      .localCheckpoint() // self-joined below
    prefix.as("a").join(prefix.as("b"), Seq("sg"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The PLAIN inverted join's candidate-row cardinality Σ_sg C(df_sg, 2)
    * — computed from the document-frequency table alone (no need to
    * materialize the quadratic join itself), for the skew rehearsal's
    * "what the naive path would have paid" figure. */
  private[graft] def plainCandidateCount(docs: DataFrame): Long =
    shingleSets(docs)
      .select(explode(col("sh")).as("sg"))
      .groupBy("sg").agg(count(lit(1)).as("df"))
      .agg(coalesce(expr("sum(df * (df - 1) div 2)"), lit(0L)).as("c"))
      .head().getLong(0)

  /** eq49 — source-overlap provenance matrix: the eq12 near-dup pairs
    * rolled up to (source, source) cells — how many qualifying pairs link
    * each pair of sources and their exact duplication mass (6-dp Jaccards
    * ×1e6 are integer-valued, so the mass sums exactly, order-free). The
    * answer to "which crawl sources mirror each other", i.e. which source
    * to drop wholesale before paying for per-doc dedup. Source cells are
    * unordered (least/greatest) so the matrix is triangular. Adds two
    * id-keyed broadcast joins on a ≤|pairs|-row frame — the corpus-scaled
    * work is eq12's, unchanged. */
  def sourceOverlapDf(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    // the pairs side is the small one (qualifying near-dup pairs, not the
    // corpus) — hint it explicitly so the corpus-sized source projection
    // streams map-side instead of shuffling twice
    broadcast(broadcast(jaccardPairsDf(docs))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a")))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1000000.0).cast("long")).as("jac_millionths"))
      .orderBy("source_a", "source_b")
  }

  /** eq123 — quality×duplication profile: for each (lang, length
    * quartile), how many docs participate in ≥1 near-dup pair (the eq12
    * pair table) — the audit that tells a curation pipeline WHERE its
    * duplication lives. The common expectation (boilerplate is short and
    * duplicated; long-form is unique) decides whether dedup can be
    * restricted to the cheap quartiles at 100 TB. Length quartile =
    * ntile(4) per lang over (n_chars, doc_id) — windows partitioned by
    * lang, no global sort; pair membership is a distinct projection of the
    * memoized pair table, so the mining cost is shared, not re-paid.
    * Integer output (counts + ppm), hash-exact. */
  def qualityDupProfileDf(docs: DataFrame): DataFrame = {
    val pairs = jaccardPairsDf(docs)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("is_dup", lit(1L))
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    docs.select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .join(members, Seq("doc_id"), "left_outer")
      .groupBy("lang", "quartile")
      .agg(count(lit(1)).as("n_docs"), count(col("is_dup")).as("n_dup_docs"))
      .withColumn("dup_ppm", expr("(n_dup_docs * 1000000L) div n_docs"))
      .orderBy("lang", "quartile")
  }

  /** eq43 — asymmetric containment near-dup pairs: C(A→B) = |A∩B| / |A|
    * over distinct 3-token shingle sets, emitted DIRECTIONALLY for every
    * ordered pair with C ≥ [[ContainmentThreshold]]. Containment catches
    * what Jaccard structurally cannot: a short document quoted wholesale
    * inside a long one has high containment but low Jaccard (the union is
    * dominated by the long doc), and it is the signature of excerpt/
    * aggregator pages in crawl corpora. Same inverted-index shape as
    * [[jaccardPairsDf]] — fan-out bounded by Σdf², never doc×doc. The
    * threshold is tuned low for the synthetic corpus's overlap range;
    * production excerpt-mining runs the same plan at ~0.8. */
  private[graft] val ContainmentThreshold = 0.15

  def containmentPairsDf(docs: DataFrame): DataFrame = {
    // both sides of the inverted-index self-join derive from the one
    // memoized shingle-set checkpoint ([[shingleSets]])
    val ex = shingleSets(docs)
      .select(col("doc_id"), col("sz"), explode(col("sh")).as("sg"))
    val a = ex.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("sg"))
    val b = ex.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("sg"))
    // mine each UNORDERED pair once (half the aggregation input/state of a
    // doc_a ≠ doc_b formulation), then emit the two directions from the
    // tiny aggregated frame — materialized once PER (session, docs plan)
    // (a per-CALL checkpoint would re-run the inverted self-join +
    // aggregate on every execution): the containment pair table is the
    // same session-scoped derived artifact as the eq12 Jaccard pair
    // table — mined once per corpus snapshot, read by every consumer
    val pairs = containPairsCache(docs)(a.join(b, Seq("sg"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"),
        max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
      .localCheckpoint())
    pairs
      .select(col("doc_a"), col("doc_b"), col("common"), col("sz_a").as("sz"))
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
        col("common"), col("sz_b").as("sz")))
      .withColumn("containment", col("common").cast("double") / col("sz"))
      .filter(col("containment") >= ContainmentThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  private val NumHashes = 64
  private val BandRows = 4
  private val NumBands = NumHashes / BandRows // 16

  /** Mersenne prime 2³¹−1: the modulus of the affine minhash permutations.
    * Keys are 28-bit (7 hex chars of md5), so a·x + b ≤ 2⁵⁹ — overflow-free
    * 64-bit arithmetic in BOTH engines (DuckDB BIGINT math is
    * overflow-checked, so a 2⁶⁴-wrapping hash like xxhash64 cannot be
    * reproduced there; this affine family can, exactly). */
  private[graft] val MinhashPrime = 2147483647L

  /** Seeded (a, b) coefficients of the 64 affine permutations
    * h_i(x) = (a_i·x + b_i) mod p — deterministic so [[graft.Oracles]] can
    * splice them into the DuckDB oracle as literals. */
  private[graft] def minhashPerms(n: Int = NumHashes): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(7)
    Seq.fill(n)((rng.nextInt(Int.MaxValue - 1) + 1L, rng.nextInt(Int.MaxValue).toLong))
  }

  /** Band buckets larger than this are dropped before pairing: on a skewed
    * corpus a degenerate common signature (tiny vocabularies, boilerplate)
    * would otherwise explode one bucket into O(bucket²) candidates — the
    * standard LSH stop-bucket guard. True near-dups collide in *rare*
    * buckets, so recall for high-sim pairs survives (pinned by test). */
  private val MaxBucket = 50

  /** The guard cap, exposed for eq141's incremental guard update (the
    * state advance recounts only the TOUCHED buckets against it). */
  private[graft] def maxBucket: Int = MaxBucket

  /** MinHash + LSH near-dup pairs: per-shingle 28-bit keys (md5 prefix) run
    * through 64 affine permutations mod 2³¹−1 → minhash signature; 16 bands
    * × 4 rows → band keys; candidates are pairs sharing a band key;
    * candidates verified with EXACT Jaccard ≥ 0.2 so false positives cost
    * only the verify join. At 16 bands × 4 rows the miss probability for
    * sim ≥ 0.5 pairs is ≤ (1-0.5⁴)¹⁶ ≈ 0.36 — the knob to turn for recall;
    * the exact [[jaccardPairs]] is the exhaustive variant.
    *
    * Every step (md5, hex parse, affine mod, min, band concat, bucket
    * guard, verify) is reproduced verbatim by the DuckDB oracle — the full
    * approximate pipeline is hash-compared end-to-end, like eq13's. */
  def minhashLshPairsDf(docs: DataFrame): DataFrame =
    minhashParts(docs)._2

  /** The signature half of the x1 machinery, split out so the
    * whole-corpus pairing (x1/x23) and the incremental old-index probe
    * (eq104) share one bit-identical shingle → 28-bit key → 64-permutation
    * → band-key pass. Returns (sets (doc_id, shd, sz), sig (doc_id,
    * m0..m63), banded (doc_id, band, band_key)). Memoized per docs plan
    * with the signature frame checkpointed — the 64-min aggregation is the
    * expensive half and every consumer (x1 pairing, x23 estimate joins,
    * eq104 probing, repeated bench passes) reads the one materialization. */
  private[pipeline] def signatureParts(docs: DataFrame): (DataFrame, DataFrame, DataFrame) =
    signaturePartsCache(docs) {
      val (sets, sig, banded) = signaturePartsUncached(docs)
      val sigCk = sig.localCheckpoint()
      val bandedCk = bandedOf(sigCk)
      (sets, sigCk, bandedCk)
    }

  private def signaturePartsUncached(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // materialized once: the signature pass and BOTH sides of the verify
    // join consume this frame (three shingling passes otherwise)
    val sets = docs.select(col("doc_id"),
        array_distinct(graft.functions.ShingleExpressions.shingles(col("text"), 3)).as("shd"))
      .withColumn("sz", size(col("shd")))
      .filter(col("sz") > 0)
      .localCheckpoint()
    // 28-bit shingle key: first 7 hex chars of md5 — the one hash both
    // engines share bit-for-bit (native digest-byte read; ≡ the
    // conv(substring(md5)) form the oracle mirrors, pinned by test)
    val exploded = sets.select(col("doc_id"), explode(col("shd")).as("sg"))
      .withColumn("x", graft.functions.Md5Expressions.md5_key28(col("sg")))
    // signatures via explode + 64 codegen'd min-aggregates (the nested
    // higher-order formulation — transform(array_min(transform(...))) — is
    // CodegenFallback and was the sf0.1 bottleneck)
    val minCols = minhashPerms(NumHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("x") + lit(b)) % MinhashPrime).as(s"m$i")
    }
    val sig = exploded.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    (sets, sig, bandedOf(sig))
  }

  /** Band keys from a signature frame: 16 bands × 4 concatenated minhashes. */
  private def bandedOf(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"),
      posexplode(array((0 until NumBands).map { k =>
        concat_ws(",", (0 until BandRows).map(r => col(s"m${k * BandRows + r}")): _*)
      }: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")

  /** The x1 machinery split for reuse: returns (signature frame
    * (doc_id, m0..m63), verified pairs frame (doc_a, doc_b, jaccard)) —
    * x1 consumes the pairs; x23's estimate-error eval joins the pairs
    * back to the signatures. Memoized with the verified pairs frame
    * checkpointed (small — qualifying pairs only), so x1 and x23 share one
    * band self-join + exact verify. */
  private[pipeline] def minhashParts(docs: DataFrame): (DataFrame, DataFrame) =
    minhashPartsCache(docs) {
      val (sig, pairs) = minhashPartsUncached(docs)
      (sig, pairs.localCheckpoint())
    }

  private def minhashPartsUncached(docs: DataFrame): (DataFrame, DataFrame) = {
    val (sets, sig, banded) = signatureParts(docs)
    val smallBuckets = banded.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= MaxBucket)
      .select("band", "band_key")
    val pruned = banded.join(smallBuckets, Seq("band", "band_key"))
    val cands = pruned.as("x").join(pruned.as("y"), Seq("band", "band_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val withSets = cands
      .join(sets.select(col("doc_id").as("doc_a"), col("shd").as("sh_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shd").as("sh_b"), col("sz").as("sz_b")), Seq("doc_b"))
    val pairs = withSets
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
    (sig, pairs)
  }

  /** x29 — MinHash BANDING sweep: the (bands × rows-per-band) tuning
    * eval for the x1 pipeline, the MinHash sibling of x24's SRP
    * probe-radius sweep. The 64 shared signature minhashes are regrouped
    * under five band shapes r ∈ {1,2,4,8,16} (b = 64/r); for each, the
    * x1 candidate generation runs unchanged (band-key self-join under
    * the same ≤50 bucket guard) and is scored against the exact-Jaccard
    * ≥ 0.2 truth set: candidate count (the cost axis) and recall (the
    * quality axis). The sweep shows both failure modes honestly: r too
    * small → band keys collide everywhere, buckets blow past the guard
    * and get dropped (recall collapses from the GUARD, the production
    * behavior); r too large → collision probability J^r starves
    * candidates. r = 4 is x1's shipped operating point.
    *
    * Cost shape: the signature frame is the memoized checkpoint (mined
    * once for x1/x23/eq104); all five configs ride ONE banded frame —
    * one bucket-guard aggregate, one (config, band, key) self-join, one
    * distinct. Runtime is dominated BY DESIGN by the r=1 cell's
    * candidate mass (its ~200× cost-for-equal-recall is the sweep's
    * finding); a production tuning sweep runs on a corpus sample. */
  private val SweepRowsPerBand = Seq(1, 2, 4, 8, 16)

  def minhashBandSweepDf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val (_, sig, _) = signatureParts(docs)
    val truth = jaccardPairsDf(docs).select(col("doc_a"), col("doc_b"))
    val nTrue = truth.agg(count(lit(1)).as("n_true_pairs"))
    // ALL five configs in ONE banded frame (124 struct rows per doc):
    // one bucket-guard aggregate, one self-join, one distinct — instead
    // of five chains of each (was 5.6 s at sf0.1, the then-most-expensive
    // query; the join key is (config, band, key) so configs never mix)
    val banded = sig.select(
      col("doc_id"),
      explode(array((for {
        r <- SweepRowsPerBand
        k <- 0 until NumHashes / r
      } yield struct(
        lit(r).as("rows_per_band"), lit(k).as("band"),
        concat_ws(",", (0 until r).map(q => col(s"m${k * r + q}")): _*).as("band_key"))
      ): _*)).as("e"))
      .select(col("doc_id"), col("e.rows_per_band"), col("e.band"), col("e.band_key"))
    val key = Seq("rows_per_band", "band", "band_key")
    val ok = banded.groupBy(key.head, key.tail: _*)
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= MaxBucket)
      .select(key.head, key.tail: _*)
    val pruned = banded.join(ok, key)
    val cands = pruned.as("x").join(pruned.as("y"), key)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("rows_per_band"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // the found-join re-reads it; pair sets are guard-bounded
      .localCheckpoint()
    val nc = cands.groupBy("rows_per_band").agg(count(lit(1)).as("n_candidates"))
    val nf = cands.join(truth, Seq("doc_a", "doc_b"))
      .groupBy("rows_per_band").agg(count(lit(1)).as("n_found"))
    SweepRowsPerBand.toDF("rows_per_band")
      .join(broadcast(nc), Seq("rows_per_band"), "left")
      .join(broadcast(nf), Seq("rows_per_band"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("rows_per_band"),
        (lit(NumHashes) / col("rows_per_band")).cast("int").as("n_bands"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_true_pairs"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        round(coalesce(col("n_found"), lit(0L)).cast("double")
          / col("n_true_pairs"), 6).as("recall"))
      .orderBy("rows_per_band")
  }

  /** Exact-Jaccard threshold for the eq104 'near' verdict: stricter than
    * x1's 0.2 pair floor — an incremental gate answers "is this new doc
    * a near-COPY of something already indexed", not "is it related". */
  private val IncrementalNearThreshold = 0.5

  /** The bucket-guarded CORPUS-side band index, memoized per (corpus,
    * split) as a checkpointed artifact. In production this IS the stored
    * index: band keys of every indexed doc with the stop-buckets (>
    * [[MaxBucket]]) already dropped at index-BUILD time — so probes read
    * it, they never recompute the guard aggregate. When every probe
    * re-shuffled the corpus for the guard + the band join, the ScaleBench
    * incremental phase measured the per-batch probe shuffle growing
    * 3.6 → 73 MB over a 1×→10× corpus with a FIXED batch. With the index
    * memoized and the batch side broadcast, the probe's shuffle mass is
    * batch-bounded. */
  private val guardedIndexCache = new PlanMemo[DataFrame]
  private def guardedOldIndex(docs: DataFrame, isNew: Column): DataFrame = {
    val (_, _, banded) = signatureParts(docs)
    val bandedOld = banded.filter(!isNew)
    val okBuckets = bandedOld.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= MaxBucket)
      .select("band", "band_key")
    val guarded = bandedOld.join(okBuckets, Seq("band", "band_key"))
    guardedIndexCache(guarded)(guarded.localCheckpoint())
  }

  /** The corpus-side content-hash index (distinct md5 — the x1/eq104 hash
    * convention), memoized per (corpus, split) as a checkpointed
    * artifact: the exact layer's stored index. */
  private val hashIndexCache = new PlanMemo[DataFrame]
  private def oldHashIndex(docs: DataFrame, isNew: Column): DataFrame = {
    val hashes = docs.filter(!isNew).select(md5(col("text")).as("h")).distinct()
    hashIndexCache(hashes)(hashes.localCheckpoint())
  }

  /** eq104 — incremental cross-snapshot dedup: classify every document of
    * an incoming batch against an existing corpus as `exact` (content-hash
    * match), `near` (MinHash band collision with an indexed doc, verified
    * by exact Jaccard ≥ 0.5), or `novel` — WITHOUT ever pairing the old
    * corpus against itself. This is the pattern that keeps 100 TB crawls
    * tractable: the corpus-side signatures/band keys are a precomputed
    * index you probe with the (much smaller) batch, so per-ingest cost is
    * O(batch × bucket), not O(corpus²) — re-running whole-corpus dedup
    * (eq12/eq26) per ingest would be.
    *
    * The snapshot split is deterministic — `doc_id % 10 ∈ {8,9}` is the
    * incoming batch (~20%), the rest is the indexed corpus — so the
    * DuckDB oracle reconstructs the full pipeline verbatim (same affine
    * permutations, band keys, bucket guard, verify join; the x1
    * convention). The bucket guard (≤ [[MaxBucket]]) is applied on the
    * INDEX side only: a degenerate boilerplate bucket in the corpus is
    * dropped, mirroring the stop-bucket list a production index ships
    * with. Exact beats near when both fire. One row per (lang, verdict);
    * output is O(langs), invariant to corpus size.
    *
    * The probe is eq139's at-rest one ([[probeStoredIndex]]) over the
    * in-session index frames ([[indexBuildFrames]], memoized per corpus
    * and split): one verdict path, whether the index was just built or
    * read back from storage. */
  def incrementalDedupDf(docs: DataFrame): DataFrame = {
    val isNew = col("doc_id") % 10 >= 8
    val (hashIdx, bandIdx, _) = indexBuildFrames(docs, isNew)
    probeStoredIndex(docs, isNew, hashIdx, bandIdx)
      .groupBy("lang", "verdict")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "verdict")
  }

  /** Mining passes actually RUN for the signature/band frames and the two
    * eq104 index layers — the observables behind eq139's stored-index
    * contract: probing the AT-REST index from a fresh session advances
    * [[signatureMisses]] by exactly 1 (the batch signing) and the index
    * memos by 0, because the stored tables replace re-mining. */
  private[graft] def signatureMisses: Long = signaturePartsCache.misses.get
  private[graft] def guardedIndexMisses: Long = guardedIndexCache.misses.get
  private[graft] def hashIndexMisses: Long = hashIndexCache.misses.get

  /** eq139 build side — the three frames a production deployment writes
    * AT REST as the dedup index of a corpus snapshot: the exact layer
    * (distinct content md5), the near layer (the bucket-guarded band
    * index, stop-buckets already dropped at build time), and the index
    * metadata (how many stop-buckets the guard dropped — the stat the
    * index ships with, like a stop-word list). Build cost is one
    * signature pass over the corpus (memoized — shared with eq104/x1 in
    * the same session); at 100 TB this runs once per snapshot and every
    * later ingest probes the stored tables instead. */
  private[graft] def indexBuildFrames(
      docs: DataFrame, isNew: Column): (DataFrame, DataFrame, DataFrame) = {
    val (_, _, banded) = signatureParts(docs)
    val stopKeys = banded.filter(!isNew)
      .groupBy("band", "band_key").agg(count(lit(1)).as("bc"))
      .filter(col("bc") > MaxBucket)
      .select("band", "band_key")
    (oldHashIndex(docs, isNew), guardedOldIndex(docs, isNew), stopKeys)
  }

  /** The batch's band-key frame (the probe's driving side), exposed so
    * EngineSurfaceSpec can pin the probe join's physical shape at the
    * [[probeCandidates]] seam. */
  private[graft] def batchBandKeys(batch: DataFrame): DataFrame =
    signatureParts(batch)._3

  /** The near-layer candidate join of the stored-index probe, pre-distinct
    * — split out so EngineSurfaceSpec can pin its shape: the (small,
    * signed-in-this-session) batch band keys BROADCAST against the at-rest
    * index scan, so the index side is scan-only — no shuffle Exchange, no
    * re-signing, exactly the per-ingest cost a 100 TB deployment pays. */
  private[graft] def probeCandidates(batchBanded: DataFrame, bandIdx: DataFrame): DataFrame =
    bandIdx.as("o").join(broadcast(batchBanded.as("n")), Seq("band", "band_key"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))

  /** The exact layer against a hash index (the at-rest table, or eq104's
    * memoized [[oldHashIndex]]): the old-content hashes that occur in the
    * batch. The batch hashes broadcast into the index scan and the
    * matched set is small enough to broadcast back, so the index side
    * stays scan-only in both hops — no corpus shuffle per batch. For
    * batch rows, semi/anti against the index ≡ semi/anti against this
    * frame (eq104's and eq139's probes semi-join it, the curation delta
    * path anti-joins it). */
  private[graft] def storedMatchedHashes(batch: DataFrame, hashIdx: DataFrame): DataFrame = {
    val batchHashes = batch.select(md5(col("text")).as("h")).distinct()
    hashIdx.join(broadcast(batchHashes), Seq("h"), "left_semi")
  }

  /** The near layer against the stored band table: the batch's band keys
    * (signed in THIS session, in the batch's own [[signatureParts]] memo
    * entry — the only signing the probe pays) broadcast into the
    * scan-only index, candidates verified at exact Jaccard ≥
    * [[IncrementalNearThreshold]] against the candidate old docs' shingle
    * sets — rebuilt by the SAME pipeline the index build signed them with
    * (array_distinct ∘ shingles, empty sets dropped), fetched as a
    * broadcast-pruned point read of `oldDocs` (≤ batch × [[MaxBucket]]
    * ids). Returns the distinct batch doc_ids that verify.
    *
    * The batch and the indexed corpus are SEPARATE frames so the caller
    * can hand the batch's own stable plan: a `(corpus ∪ batch).filter(…)`
    * batch side embeds the state log's per-generation TABLE NAMES in its
    * canonicalized plan, so its signing could never be shared across
    * logs or repeated runs. */
  private[graft] def storedNearIds(batch: DataFrame, oldDocs: DataFrame,
      bandIdx: DataFrame): DataFrame = {
    val (batchSets, _, batchBanded) = signatureParts(batch)
    val cands = probeCandidates(batchBanded, bandIdx).distinct()
    val oldCandIds = cands.select(col("old_id").as("doc_id")).distinct()
    val oldSets = oldDocs
      .join(broadcast(oldCandIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleExpressions.shingles(col("text"), 3)).as("shd"))
      .withColumn("sz", size(col("shd")))
      .filter(col("sz") > 0)
    cands
      .join(batchSets.select(col("doc_id").as("new_id"), col("shd").as("sh_n"), col("sz").as("sz_n")), Seq("new_id"))
      .join(oldSets.select(col("doc_id").as("old_id"), col("shd").as("sh_o"), col("sz").as("sz_o")), Seq("old_id"))
      .withColumn("common", size(array_intersect(col("sh_n"), col("sh_o"))))
      .filter(col("common").cast("double") / (col("sz_n") + col("sz_o") - col("common"))
        >= IncrementalNearThreshold)
      .select(col("new_id").as("doc_id"))
      .distinct()
  }

  /** The stored-index probe — classify the incoming batch against the
    * index frames: eq139 hands it the AT-REST tables (read back through
    * the catalog), eq104 the in-session [[indexBuildFrames]]. `exact` on
    * a stored-hash match, `near` on a band collision with an indexed doc
    * verified at exact Jaccard ≥ [[IncrementalNearThreshold]], else
    * `novel`. The session signs ONLY
    * the batch (the corpus is never re-signed, pinned by PipelineSpec's
    * fresh-session test). Returns (doc_id, verdict, lang) per batch doc. */
  private[graft] def probeStoredIndex(docs: DataFrame, isNew: Column,
      hashIdx: DataFrame, bandIdx: DataFrame): DataFrame = {
    val batch = docs.filter(isNew)
    val batchHashes = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val exactIds = batchHashes
      .join(broadcast(storedMatchedHashes(batch, hashIdx)), Seq("h"), "left_semi")
      .select("doc_id")
    val nearIds = storedNearIds(batch, docs.filter(!isNew), bandIdx)
    // exact beats near
    batch.select(col("doc_id"), col("lang"))
      .join(exactIds.withColumn("is_exact", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), lit("exact")).when(col("is_near"), lit("near"))
          .otherwise(lit("novel")).as("verdict"),
        col("lang"))
  }

  /** 64-bit SimHash per document: per-token md5, each of the first 16 hex
    * digits contributes 4 fingerprint bits, each bit votes ±1 per token
    * occurrence, sign of the vote is the fingerprint bit. Near-dup pairs =
    * hamming distance ≤ 6, found by the pigeonhole chunk join (4 × 16-bit
    * chunks kept as separate INT columns — any pair at distance ≤ 3 shares
    * a chunk; ≤ 6 is best-effort recall the test pins). Chunk join keeps
    * the candidate set far below the cross product at scale.
    *
    * md5 (not xxhash64) so the DuckDB oracle rebuilds the identical
    * fingerprints — bit votes, chunk join, hamming filter and all — and the
    * full approximate pipeline is hash-compared end-to-end; 16-bit chunk
    * values also keep every intermediate inside overflow-checked BIGINT
    * math on the oracle side. */
  def simhashPairsDf(docs: DataFrame): DataFrame = {
    // 64 bits per token from the md5 digest bytes in one native eval
    // (≡ per-hex-digit conv(substring(md5)) as the oracle derives them —
    // the interpreted form was ~4.3M conv evals at sf0.1), packed as 4
    // 16-bit ints: fingerprint bit j lives at chunk j/16, position j%16
    val tokenDigits = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("hb", graft.functions.Md5Expressions.md5_bits_4x16(col("tok")))
      .select(col("doc_id") +: (0 until 4).map(c =>
        element_at(col("hb"), c + 1).as(s"r$c")): _*)
    val bitVotes = (0 until 64).map { j =>
      sum(when(shiftright(col(s"r${j / 16}"), j % 16).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val votes = tokenDigits.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val fp = votes.select(col("doc_id") +: (0 until 4).map { c =>
      (0 until 16).map(j =>
        when(col(s"b${c * 16 + j}") > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).as(s"c$c")
    }: _*)
    // materialized once: the chunk self-join consumes this frame on both
    // sides — without it the whole token-vote fingerprint pipeline
    // (explode + 64 vote aggregates) runs twice
    val chunked = fp.select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
      .localCheckpoint()
    chunked.as("x").join(chunked.as("y"), Seq("chunk", "chunk_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        ((0 until 4).map(c =>
          bit_count(col(s"x.c$c").bitwiseXOR(col(s"y.c$c")))).reduce(_ + _)).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  /** SRP-LSH banding for [[embeddingNearDupsDf]]: 16 bands × 8 sign bits
    * (128 seeded ±1 hyperplanes shared with [[Similarity]]'s SRP stream),
    * multi-probed at hamming ≤ 1 per band. */
  private[pipeline] val NdBandBits = 8
  private[pipeline] val NdBands = 16

  /** Embedding-cosine near-dup pairs (sim ≥ 0.5) via SRP-LSH banding +
    * exact verify — the shape that survives 100 TB, replacing the former
    * all-pairs `vec_a < vec_b` join (O(N²) rows regardless of output size):
    *
    *  1. one narrow pass computes 16 band signatures of 8 SRP sign bits per
    *     vector (codegen'd dots against literal hyperplanes — written once
    *     and bucketed by (band, sig) at scale);
    *  2. candidates = pairs whose signatures collide in SOME band, probing
    *     each band at hamming ≤ 1 (sig itself + 8 one-bit flips) — a
    *     shuffle-on-(band, sig) hash join, never a cartesian. Candidate
    *     volume is Σ bucket² — balanced buckets on real corpora because the
    *     bit count per band scales with log N;
    *  3. only candidates get the exact cosine (and the ≥ 0.5 filter), so
    *     false positives cost one dot product and false negatives are the
    *     only approximation.
    *
    * Approximate by design at the candidate step: the DuckDB oracle
    * reconstructs the identical banding from [[Similarity.hyperplaneSigns]]
    * (the verified-pair form), so correctness is checked end-to-end; recall
    * vs the brute-force exact pairs is pinned by test (100% on the test
    * corpora — misses need ≥ 2 flipped bits in EVERY band). Dot products
    * fold left-to-right in double, matching the oracle's unnest-order sum. */
  def embeddingNearDupsDf(e: DataFrame): DataFrame =
    embeddingNearDupsAt(e, 0.5)

  /** The eq13 pipeline with a caller-chosen verify threshold — same
    * banded candidate generation, so lower thresholds trade recall for
    * the fixed collision probability of the bands (documented at
    * [[densityCoresDf]], its consumer). Memoized per (embeddings plan,
    * threshold) with the verified pairs checkpointed: eq13/eq99 share the
    * 0.5-threshold frame and eq95/eq97 the core-threshold one, so the SRP
    * banding + multi-probe self-join + exact verify runs once per session,
    * not once per consumer (the embedding-side twin of the pair-table
    * materialization above). */
  private[pipeline] def embeddingNearDupsAt(e: DataFrame, threshold: Double): DataFrame =
    embPairsCache(e, threshold)(embeddingNearDupsAtUncached(e, threshold).localCheckpoint())

  private def embeddingNearDupsAtUncached(e: DataFrame, threshold: Double): DataFrame = {
    val firstRow = e.selectExpr("size(embedding)").take(1)
    if (firstRow.isEmpty) // empty table: no pairs (the pre-banding path degraded the same way)
      return e.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_a"), lit(0L).as("vec_b"), lit(0.0).as("sim"))
    verifyPairs(e, srpCandidatesDf(e, firstRow(0).getInt(0)), threshold)
  }

  /** The SRP-LSH banded candidate pairs (before exact cosine verify) —
    * factored out so the skew rehearsal can pin that banding follows TRUE
    * similarity structure, not cluster assignment: a mislabeled giant
    * cluster inflates within-cluster all-pairs quadratically while the
    * banded candidate set stays bounded. */
  private[graft] def srpCandidatesDf(e: DataFrame, dim: Int): DataFrame = {
    val hps = Similarity.hyperplanes(dim, NdBandBits * NdBands)
    // one native eval per row for all 16 signatures — the composable
    // 128×typedLit-dot form was dominated by plan/codegen constant cost
    val sigs = e.select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions.srp_band_signatures(
          col("embedding"), hps, NdBandBits)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "sig")
    // multi-probe side: the signature itself plus its 8 hamming-1 flips
    val probes = sigs.select(col("vec_id"), col("band"),
      explode(array(col("sig") +:
        (0 until NdBandBits).map(f => col("sig").bitwiseXOR(lit(1 << f))): _*)).as("probe"))
    sigs.as("x")
      .join(probes.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.probe") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("vec_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("vec_b"))
      .distinct()
  }

  /** Brute-force all-pairs variant — the exactness baseline the banded
    * path's recall is pinned against (test-only; O(N²), does not scale). */
  private[graft] def embeddingNearDupsBruteDf(e: DataFrame): DataFrame = {
    val withNorm = e.select(col("vec_id"), col("embedding"),
      sqrt(Similarity.dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim",
        Similarity.safeDiv(Similarity.dot(col("ea"), col("eb")), col("na") * col("nb")))
      .filter(col("sim") >= 0.5)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** eq26 — near-duplicate CLUSTERS: connected components over the exact
    * Jaccard near-dup pairs ([[jaccardPairsDf]], sim ≥ 0.2), the step a
    * real dedup pipeline runs after pair mining — group transitive
    * near-dups, keep one survivor per cluster.
    *
    * Algorithm: iterative min-label propagation (the DataFrame form of
    * large-star/small-star CC): every vertex starts labeled with itself;
    * each round joins labels across edges and keeps the min; stop when a
    * round changes nothing. Each round is one shuffle-on-key join — no
    * driver-side graph state — and `localCheckpoint` truncates the plan
    * lineage per round (the standard guard for iterative DataFrame
    * algorithms; without it the plan doubles every iteration). Rounds
    * needed = cluster diameter, tiny for near-dup clusters.
    *
    * Output: one row per cluster — survivor (min doc_id), size, and the
    * sorted member list — so the DuckDB oracle (a recursive-CTE
    * reachability closure + min label) hash-compares the full clustering. */
  def neardupClustersDf(docs: DataFrame): DataFrame =
    neardupLabelsDf(docs)
      .groupBy(col("label").as("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("members"))
      .orderBy("cluster_id")

  /** (doc_id, label) connected-component labeling of the eq12 pair graph
    * — the shared core of eq26's clustering, eq84's representative
    * selection, eq131's leakage-safe split, and eq137's within-batch
    * clustering. Memoized per (session, canonicalized plan) like the pair
    * table it is built from: cluster labels are a materialized derived
    * artifact in a production corpus pipeline (labeled once per snapshot,
    * read by every downstream consumer), not something each audit re-runs
    * an iterative graph algorithm for. */
  private val labelsCache = new PlanMemo[DataFrame]
  /** Labeling passes actually RUN (the mining-once observable, like
    * [[pairTableMisses]]) — pinned by PipelineSpec. */
  private[graft] def labelsMisses: Long = labelsCache.misses.get
  private[graft] def neardupLabelsDf(docs: DataFrame): DataFrame =
    labelsCache(docs)(computeNeardupLabels(docs))

  private def computeNeardupLabels(docs: DataFrame): DataFrame = {
    val pairs = jaccardPairsDf(docs).select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("s", "t")
      .localCheckpoint()
    var labels = edges.select(col("s").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var converged = false
    var rounds = 0
    // propagation needs cluster-diameter rounds; 50 covers any plausible
    // near-dup graph, and non-convergence FAILS LOUDLY below rather than
    // silently emitting split clusters
    while (!converged && rounds < 50) {
      // Carry each vertex's OLD label through the propagation aggregate
      // (the self-union branch is the only one with a non-null `old`, so
      // max() recovers it) — the convergence test then reads the already-
      // materialized checkpoint blocks instead of paying a second
      // shuffle-join per round. Min-propagation is monotone, so
      // changed ⟺ label < old.
      val propagated = labels
        .join(edges, labels("doc_id") === edges("s"))
        .select(col("t").as("doc_id"), col("label"),
          lit(null).cast(labels.schema("label").dataType).as("old"))
        .union(labels.select(col("doc_id"), col("label"),
          col("label").as("old")))
        .groupBy("doc_id")
        .agg(min(col("label")).as("label"), max(col("old")).as("old"))
      // PATH-HALVING hop: follow each vertex's label
      // one more step — label := label's OWN current label. Every label
      // value IS a vertex id of the same graph (labels start as vertex
      // ids and min() only selects among them), and min-propagation is
      // monotone, so the hop can only lower a label toward the component
      // min: the fixpoint (every label = component min) is unchanged,
      // but convergence needs O(log diameter) rounds instead of
      // O(diameter) — a 50-round chain cluster resolves in ~7. One extra
      // tiny self-join per round against rounds-halved-repeatedly; the
      // non-convergence guard below is unchanged.
      val lmap = propagated.select(col("doc_id").as("label"), col("label").as("l2"))
      val jumped = propagated.join(lmap, Seq("label"), "left")
        .select(col("doc_id"),
          coalesce(col("l2"), col("label")).as("label"), col("old"))
        .localCheckpoint()
      converged = jumped.filter(col("label") < col("old")).isEmpty
      labels = jumped.drop("old")
      rounds += 1
    }
    require(converged,
      s"near-dup cluster labeling did not converge in $rounds rounds " +
        "(cluster diameter > 50?) — refusing to emit a partial clustering")
    labels
  }

  /** eq84 — cluster representative selection: for every eq26 near-dup
    * cluster, KEEP the highest-quality member (eq8's 6-dp score,
    * doc_id tie-break) — the curation step that turns "these N docs are
    * the same" into "this is the one we train on". Composition of the
    * shared labeling and quality pipelines, so it can never disagree
    * with eq26's clusters or eq8's scores; one rank window partitioned
    * by cluster label on top of them. */
  def clusterRepsDf(docs: DataFrame): DataFrame = {
    val labeled = neardupLabelsDf(docs)
      .join(TextAnalysis.qualityCols(docs).select(col("doc_id"), col("quality")),
        Seq("doc_id"))
    val byQuality = Window.partitionBy("label")
      .orderBy(col("quality").desc, col("doc_id").asc)
    labeled
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("label")))
      .filter(col("rn") === 1)
      .select(col("label").as("cluster_id"), col("n_docs"),
        col("doc_id").as("rep_doc_id"), col("quality").as("rep_quality"))
      .orderBy("cluster_id")
  }

  /** eq61 — integer PageRank over the near-dup pair graph: 5 power
    * iterations with damping 0.85 over eq12's Jaccard edges (undirected →
    * both directions), ranking the "template hubs" — documents whose
    * near-dup neighborhoods are largest-and-best-connected, the ones a
    * boilerplate audit reads first. ALL rank arithmetic is integer
    * parts-per-million (start 1 000 000; contribution `rank div degree`
    * per edge; update `150000 + (85·Σin) div 100`), so every iteration is
    * a pure function of the edge set — no float-summation order
    * sensitivity, bit-identical across engines, partitionings and retries.
    * Each iteration is one join on the static degree-annotated edge list
    * (hash-partitioned on the source node) + one aggregate on the target
    * node; lineage is cut per iteration, the edge frame is materialized
    * once. Top-20 by (rank DESC, doc_id ASC). */
  private val PagerankIters = 5

  def pairGraphPagerankDf(docs: DataFrame): DataFrame = {
    val pairs = jaccardPairsDf(docs).select(col("doc_a"), col("doc_b"))
    // materialized once: deg, the degree-annotated edge list and the rank
    // seed all derive from the edge list — without this the O(corpus)
    // pair mining would re-run for each of them
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("s", "t")
      .localCheckpoint()
    val deg = edges.groupBy("s").agg(count(lit(1)).as("deg"))
    // static across iterations: every edge with its source degree
    val edgesDeg = edges.join(deg, "s").localCheckpoint()
    var ranks = deg.select(col("s").as("doc_id"), lit(1000000L).as("rank_ppm"))
      .localCheckpoint()
    for (_ <- 1 to PagerankIters) {
      ranks = edgesDeg
        .join(ranks, edgesDeg("s") === ranks("doc_id"))
        .select(col("t"), expr("rank_ppm div deg").as("c"))
        .groupBy(col("t").as("doc_id"))
        .agg(sum(col("c")).as("in_ppm"))
        .select(col("doc_id"),
          (lit(150000L) + expr("(85 * in_ppm) div 100")).as("rank_ppm"))
        .localCheckpoint()
    }
    ranks
      .join(deg.select(col("s").as("doc_id"), col("deg")), "doc_id")
      .orderBy(col("rank_ppm").desc, col("doc_id").asc)
      .limit(20)
      .select(col("doc_id"), col("deg").as("degree"), col("rank_ppm"))
  }

  /** eq63 — normalization-masked duplicate accounting: per source, the
    * distinct-content count under three successively coarser content keys —
    * raw text, whitespace/case-normalized text (the shared token pipeline
    * re-joined on single spaces), and the sorted bag-of-words fingerprint
    * (tokens sorted before hashing, catching shuffled/reordered copies that
    * survive exact dedup). The delta between levels is exactly the
    * duplicate mass each normalization tier would newly reclaim — the
    * measurement a pipeline runs BEFORE committing to a dedup key. One
    * groupBy with three distinct aggregates (Spark plans one Expand ×3 —
    * one shuffle, not three); all keys are md5 digests so no reducer ever
    * holds full texts. */
  def normalizedDupsDf(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs
      .select(
        col("source"),
        md5(col("text").cast("binary")).as("raw_key"),
        md5(concat_ws(" ", toks).cast("binary")).as("norm_key"),
        md5(concat_ws(" ", array_sort(toks)).cast("binary")).as("bow_key"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_key")).as("n_raw_distinct"),
        countDistinct(col("norm_key")).as("n_norm_distinct"),
        countDistinct(col("bow_key")).as("n_bow_distinct"))
      .orderBy("source")
  }

  /** Exact-cosine verification of candidate (vec_a, vec_b) pairs: norms
    * once per vector, one codegen'd dot per pair, ≥ 0.5 filter. */
  private def verifyPairs(e: DataFrame, cands: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val withNorm = e.select(col("vec_id"), col("embedding"),
      sqrt(Similarity.dot(col("embedding"), col("embedding"))).as("nrm"))
    cands
      .join(withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), Seq("vec_a"))
      .join(withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("sim",
        Similarity.safeDiv(Similarity.dot(col("ea"), col("eb")), col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** eq66 — sorted-neighborhood blocking (Hernández–Stolfo): documents
    * sort by their normalized text inside a first-token block, and only
    * pairs within rank distance ≤ 3 are compared — the classic
    * entity-resolution compromise that turns O(N²) comparison into
    * O(N·w) while the sort clusters look-alikes. Cross-block neighbors
    * are deliberately out of contract (that's the blocking trade-off;
    * the lossless alternatives are eq12's inverted index / x1's LSH).
    * Pairs are emitted in rank order with their exact token-set Jaccard,
    * kept at ≥ 0.5. One shuffle on the block key; the rank window and
    * the rank-distance self-join stay inside that partitioning, so no
    * global sort and no cartesian anywhere in the plan. */
  def sortedNeighborhoodDf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(
        col("doc_id"),
        array_distinct(col("t")).as("ts"),
        col("t").getItem(0).as("blk"),
        array_join(col("t"), " ").as("sk"))
    val w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    // materialized once: both sides of the rank-distance self-join
    val ranked = toks.withColumn("rn", row_number().over(w)).localCheckpoint()
    val a = ranked.select(col("blk"), col("doc_id").as("doc_a"),
      col("ts").as("ts_a"), col("rn").as("rn_a"))
    val b = ranked.select(col("blk"), col("doc_id").as("doc_b"),
      col("ts").as("ts_b"), col("rn").as("rn_b"))
    a.join(b, Seq("blk"))
      .filter((col("rn_b") - col("rn_a")).between(1, 3))
      .withColumn("common", size(array_intersect(col("ts_a"), col("ts_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("ts_a")) + size(col("ts_b")) - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        (col("rn_b") - col("rn_a")).as("rank_dist"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** eq79 — corpus snapshot diff: the incremental-build reconciliation
    * between two crawls — which documents appeared, vanished, changed
    * content, or stayed identical — computed as a full-outer join on
    * doc_id comparing content hashes (`sha2`, so 100 TB diffs compare
    * 32-byte digests, never text). The two snapshots are derived
    * deterministically from the fixture (old = id < 450; new = id ≥ 50,
    * with every 100th doc's text rewritten) so the oracle can rebuild
    * them; the operator itself is the join + classification. One shuffle
    * on doc_id; per-class tallies are a bounded aggregate. */
  def snapshotDiffDf(docs: DataFrame): DataFrame = {
    val old = docs.filter(col("doc_id") < 450)
      .select(col("doc_id"), sha2(col("text"), 256).as("h_old"))
    val nw = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"),
        sha2(when(col("doc_id") % 100 === 0, concat(lit("v2 "), col("text")))
          .otherwise(col("text")), 256).as("h_new"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select(
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("status")
  }

  /** eq75 — record linkage by bounded edit distance: eq66's
    * sorted-neighborhood candidates re-scored with `levenshtein` over the
    * normalized 40-char prefix — the fuzzy-string comparator entity
    * resolution uses where token sets are too coarse (typos,
    * hyphenation, OCR noise). The prefix cap bounds the DP at 40×40
    * cells per pair, so the comparator cost is a constant on top of the
    * same O(N·w) blocking plan as eq66 — no global sort, no cartesian;
    * Spark and DuckDB both implement unit-cost Wagner–Fischer, which is
    * what makes the distance hash-checkable. */
  def editLinkageDf(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("t").getItem(0).as("blk"),
        array_join(col("t"), " ").as("sk"))
    val w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    val ranked = keyed.withColumn("rn", row_number().over(w)).localCheckpoint()
    val a = ranked.select(col("blk"), col("doc_id").as("doc_a"),
      substring(col("sk"), 1, 40).as("pk_a"), col("rn").as("rn_a"))
    val b = ranked.select(col("blk"), col("doc_id").as("doc_b"),
      substring(col("sk"), 1, 40).as("pk_b"), col("rn").as("rn_b"))
    a.join(b, Seq("blk"))
      .filter((col("rn_b") - col("rn_a")).between(1, 3))
      .withColumn("lev", levenshtein(col("pk_a"), col("pk_b")))
      .filter(col("lev") <= 10)
      .select(col("doc_a"), col("doc_b"), col("lev"))
      .orderBy("doc_a", "doc_b")
  }

  private val CoreMinDegree = 3

  private[pipeline] val CoreThreshold = 0.4

  /** eq95 — density cores over the embedding near-dup graph: per vector,
    * its neighbor DEGREE among SRP-LSH banded candidates verified at exact
    * cosine ≥ 0.4 and a DBSCAN-style core flag (degree ≥ 3). The bar sits
    * BELOW eq13's 0.5 near-dup threshold on purpose: this corpus's
    * planted near-dups form a perfect matching (max degree 1 at 0.5), and
    * density mining looks for the broader semantic clumps underneath the
    * pair layer. At 0.4 the banded candidate generation still recalls
    * ~90% of true pairs (16 bands × 9 probes at 8 bits). Cores are the "mode collapse" regions a curation
    * pipeline down-samples — dense semantic clumps that survive pairwise
    * dedup because no single pair crosses the near-dup bar alone. Built
    * entirely on [[embeddingNearDupsDf]]'s banded output: one union of
    * the two pair sides, one degree roll-up, one left join back to the
    * corpus spine — adds nothing corpus-quadratic. */
  def densityCoresDf(e: DataFrame): DataFrame = {
    val pairs = embeddingNearDupsAt(e, CoreThreshold).select(col("vec_a"), col("vec_b"))
    val deg = pairs.select(col("vec_a").as("vec_id"))
      .union(pairs.select(col("vec_b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    e.select(col("vec_id")).join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        (coalesce(col("degree"), lit(0L)) >= CoreMinDegree).as("is_core"))
      .orderBy("vec_id")
  }

  /** eq97 — near-dup graph topology audit: edge, wedge (open 2-path) and
    * triangle counts over the cosine ≥ 0.4 banded pair graph, plus the
    * global clustering coefficient 3·triangles / wedges — the one-row
    * answer to "is the near-dup layer a matching, chains, or dense
    * clumps", which decides whether pairwise dedup suffices or the eq26
    * connected-components pass is required. Triangles are counted by the
    * canonical vertex-ordered edge join (a<b<c: e1(a,b) ⋈ e2(b,c) ⋈
    * e3(a,c)) — fan-out bounded by Σ deg² of the PAIR graph, never
    * corpus-sized. Wedges are Σ C(deg, 2) from the degree roll-up. */
  def graphClusteringDf(e: DataFrame): DataFrame = {
    // edges are vec_a < vec_b by construction; materialized once — the
    // degree roll-up and all three triangle-join sides consume it
    val edges = embeddingNearDupsAt(e, CoreThreshold)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
      .localCheckpoint()
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"),
      count(lit(1)).as("n_vertices"))
    val tris = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("ta"), col("e2.b").as("tc"))
      .join(edges.as("e3"),
        col("ta") === col("e3.a") && col("tc") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val ecnt = edges.agg(count(lit(1)).as("n_edges"))
    ecnt.crossJoin(broadcast(wedges)).crossJoin(broadcast(tris))
      .select(col("n_edges"), col("n_vertices"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(null).cast("double"))
          .otherwise(round(lit(3.0) * col("n_triangles")
            / col("n_wedges").cast("double"), 6))
          .as("global_clustering"))
  }

  /** x23 — MinHash estimate-error evaluation: for every x1 near-dup pair,
    * the 64-hash signature-agreement Jaccard ESTIMATE (n_agree/64, the
    * quantity LSH banding actually thresholds on) laid beside the exact
    * set Jaccard, with the absolute error — the honest-approximation
    * audit for the whole MinHash family (x12's pattern applied to
    * similarity values instead of retrieval ranks). Everything is
    * deterministic (md5-affine permutations), so the error column itself
    * is hash-checked; the sampling-theory bound (σ = √(J(1−J)/64) ≤ 0.063)
    * is pinned by test, not by oracle flag. Adds two id-keyed joins of
    * the pair frame against the signature frame — pair-scaled, not
    * corpus-scaled. */
  def minhashEstErrorDf(docs: DataFrame): DataFrame = {
    val (sig, pairs) = minhashParts(docs)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("n_agree", agree.cast("long"))
      .withColumn("jaccard_est",
        round(col("n_agree").cast("double") / NumHashes, 6))
      .withColumn("abs_err",
        round(abs(col("jaccard_est") - col("jaccard")), 6))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("jaccard_est"), col("n_agree"), col("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** The 80/10/10 bucket→split rule shared by eq131 and the eq136 composed
    * pipeline (so the two can never disagree on a cluster's split). */
  private[graft] def splitOfBucket(b: org.apache.spark.sql.Column) =
    when(b < 80, "train").when(b < 90, "val").otherwise("test")

  /** eq131 — cluster-atomic leakage-safe corpus split (the step a dedup
    * pipeline runs AFTER clustering: Lee et al.'s motivation for dedup is
    * exactly that per-document hash splits leak near-duplicates across
    * train/test). Every document gets its eq26 connected-component label
    * (docs outside the pair graph are their own singleton cluster), and
    * the 80/10/10 assignment hashes the CLUSTER label — so a near-dup
    * cluster lands in one split atomically and cross-split near-dup pairs
    * are zero BY CONSTRUCTION. The eq27-style per-document content-hash
    * split is computed alongside as the control, so one frame quantifies
    * the leakage the cluster-atomic split removes.
    *
    * Output: one row per (method ∈ {cluster, dochash}, split) with doc /
    * distinct-cluster / char tallies and `leaked_pairs` = near-dup pairs
    * with exactly one endpoint in this split (each straddling pair counts
    * once in each of its two splits). For method=cluster the column is
    * provably 0; for method=dochash it measures the contamination. For
    * method=dochash, Σ n_clusters over splits exceeding the true cluster
    * count is the same straddle signal at cluster granularity.
    *
    * Scale shape: the labeling and pair table are the memoized artifacts
    * (shared with eq26/eq84); on top of those this is one broadcast-able
    * left join (labels are pair-graph-sized, ≪ corpus), two md5 keys per
    * doc, a 6-group aggregate, and a pair-keyed join onto the (doc,
    * split) frame — shuffle-on-doc_id, never corpus². */
  def clusterSplitDf(docs: DataFrame): DataFrame = {
    import graft.functions.Md5Expressions.md5_key28
    val labels = neardupLabelsDf(docs).withColumnRenamed("label", "label_")
    // every doc: component label where one exists, else singleton self-label
    val assigned = docs
      .select(col("doc_id"), col("n_chars"), col("text"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("label_"), col("doc_id")))
      .select(col("doc_id"), col("cluster"), col("n_chars"),
        splitOfBucket(md5_key28(col("cluster").cast("string")) % 100).as("cluster_split"),
        splitOfBucket(md5_key28(col("text")) % 100).as("doc_split"))
      // both methods' tallies and the leak join re-read this frame; it is
      // labels ⋈ corpus — materialize once, lineage cut
      .localCheckpoint()
    val byMethod = assigned.select(col("doc_id"), col("cluster"), col("n_chars"),
      expr("stack(2, 'cluster', cluster_split, 'dochash', doc_split) AS (method, split)"))
    val tallies = byMethod
      .groupBy("method", "split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("n_chars")).as("total_chars"))
    val pairs = jaccardPairsDf(docs).select(col("doc_a"), col("doc_b"))
    val leaked = pairs
      .join(byMethod.select(col("doc_id"), col("method"), col("split").as("split_a")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(byMethod.select(col("doc_id"), col("method").as("method_b"), col("split").as("split_b")),
        col("doc_b") === col("doc_id") && col("method") === col("method_b"))
      .filter(col("split_a") =!= col("split_b"))
      // a straddling pair contributes one count to each endpoint's split
      .select(col("method"), explode(array(col("split_a"), col("split_b"))).as("split"))
      .groupBy("method", "split")
      .agg(count(lit(1)).as("leaked_pairs"))
    tallies
      .join(leaked, Seq("method", "split"), "left")
      .select(col("method"), col("split"), col("n_docs"), col("n_clusters"),
        col("total_chars"), coalesce(col("leaked_pairs"), lit(0L)).as("leaked_pairs"))
      .orderBy("method", "split")
  }

  /** eq99 — near-dup MODALITY agreement audit: does the text layer
    * (eq12, 3-gram Jaccard ≥ 0.2) and the embedding layer (eq13, cosine
    * ≥ 0.5) nominate the same pairs? One row: both pair counts, the
    * intersection (doc_id ≡ vec_id on this corpus), and the Jaccard of
    * the two pair SETS — the "do my cheap and expensive dedup signals
    * agree" check run before trusting either alone at 100 TB. Composes
    * the two existing pipelines unchanged; adds one pair-keyed join and
    * three 1-row aggregates. */
  def modalityAgreementDf(docs: DataFrame, emb: DataFrame): DataFrame = {
    val tp = jaccardPairsDf(docs).select(col("doc_a"), col("doc_b"))
    val ep = embeddingNearDupsDf(emb)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val nBoth = tp.join(ep, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_both"))
    tp.agg(count(lit(1)).as("n_text_pairs"))
      .crossJoin(broadcast(ep.agg(count(lit(1)).as("n_embedding_pairs"))))
      .crossJoin(broadcast(nBoth))
      .withColumn("pair_union",
        col("n_text_pairs") + col("n_embedding_pairs") - col("n_both"))
      .select(col("n_text_pairs"), col("n_embedding_pairs"), col("n_both"),
        when(col("pair_union") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double")
            / col("pair_union").cast("double"), 6))
          .as("pair_jaccard"))
  }
}
