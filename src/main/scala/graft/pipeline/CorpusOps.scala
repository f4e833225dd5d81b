package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Md5Expressions.md5_key28
import graft.functions.ShingleExpressions
import graft.functions.TextCountExpressions.ws_token_count

/** Corpus-preparation operators over the `documents` table — the
  * curation steps a training-data pipeline runs between raw ingest and
  * tokenization (SURVEY.md §2.8 extension surface): domain-mix
  * down-sampling, context-window chunking, corpus heavy-hitters,
  * token-budget shard packing, and length-outlier trimming.
  *
  * All five are content-keyed or single-pass by design, the property that
  * matters at 100 TB:
  *  - sampling and packing decisions are pure functions of the document
  *    text / the (lang, doc_id) order, so re-ingestion, re-partitioning
  *    and replication reproduce them bit-for-bit;
  *  - nothing here compares documents pairwise — every operator is a
  *    map-side transform plus one bounded aggregation or a
  *    partition-parallel window.
  */
object CorpusOps {

  /** eq135 — snapshot DRIFT audit: per-language Jensen–Shannon
    * divergence between the corpus's arrival-order halves (doc_id ≤
    * midpoint = "old snapshot", above = "new"), over add-one-smoothed
    * unigram distributions — the crawl-monitoring signal that a feed's
    * token distribution moved between snapshots (vocabulary churn,
    * template shifts, language drift) BEFORE retraining on it.
    *
    * Exactness discipline (the eq47/eq132 convention, extended to JS):
    * the per-token log-ratios ln(p/m) and ln(q/m) (m = the midpoint
    * mixture) are quantized to integer micros at the VOCABULARY level;
    * each KL side is then the exact integer sum Σ (cnt+1)·lnratio_micro
    * over the per-lang vocabulary — order-free under any partitioning —
    * normalized once by the smoothed token mass. Per-lang output is
    * lang-cardinality-bounded; the one tokenize pass and one vocabulary
    * aggregate carry both snapshots' counts (conditional sums, not two
    * scans).
    *
    * Scale bound: unlike the PER-DOCUMENT integer sums of
    * eq47/eq132 (bounded by doc length × |lnratio| ≲ 2·10⁶ tokens ×
    * 15·10⁶ micros ≈ 3·10¹³ ≪ 2⁶³), this sum runs over a WHOLE
    * language's token mass — at 100 TB that is ~10¹³ tokens × up to
    * ~ln(corpus)·10⁶ ≈ 3·10⁷ micros per term, and the per-term product
    * alone can exceed Long range. Both the product and the sum therefore
    * run in DECIMAL(38,0): exact, order-free, headroom to ~10³⁸ (≈10¹⁷×
    * the worst 100 TB case), where a silent BIGINT wraparound would have
    * let the two engines diverge without failing. The oracle keeps
    * DuckDB's checked BIGINT (test scale is ~10⁹ micro-units); only the
    * final double divide ever leaves integer arithmetic, so parity is
    * unchanged. */
  def snapshotDriftDf(docs: DataFrame): DataFrame = {
    val mid = docs.agg(
      expr("(min(doc_id) + max(doc_id)) div 2").as("mid"))
    val tok = docs
      .crossJoin(broadcast(mid))
      .select(col("lang"), (col("doc_id") <= col("mid")).as("old_half"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    // vocabulary-bounded; materialized once so the totals aggregate and
    // the term frame don't each re-run the corpus tokenize+explode
    val vocab = tok.groupBy("lang", "token").agg(
      sum(when(col("old_half"), 1L).otherwise(0L)).as("cnt_a"),
      sum(when(col("old_half"), 0L).otherwise(1L)).as("cnt_b"))
      .localCheckpoint()
    val totals = vocab.groupBy("lang").agg(
      sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"),
      count(lit(1)).as("v_size"))
    // p, q, m as doubles from exact integers (IEEE-identical in DuckDB);
    // the only libm calls quantized to micros on the vocabulary frame
    val terms = vocab.join(broadcast(totals), Seq("lang"))
      .withColumn("p", (col("cnt_a") + 1).cast("double") / (col("n_a") + col("v_size")))
      .withColumn("q", (col("cnt_b") + 1).cast("double") / (col("n_b") + col("v_size")))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("lra_micro", round(log(col("p") / col("m")) * 1000000.0).cast("long"))
      .withColumn("lrb_micro", round(log(col("q") / col("m")) * 1000000.0).cast("long"))
    val kl = terms.groupBy("lang").agg(
      sum((col("cnt_a") + 1).cast("decimal(38,0)") * col("lra_micro")).as("sa"),
      sum((col("cnt_b") + 1).cast("decimal(38,0)") * col("lrb_micro")).as("sb"))
    val docCounts = docs.crossJoin(broadcast(mid)).groupBy("lang").agg(
      sum(when(col("doc_id") <= col("mid"), 1L).otherwise(0L)).as("n_docs_a"),
      sum(when(col("doc_id") <= col("mid"), 0L).otherwise(1L)).as("n_docs_b"))
    kl.join(totals, Seq("lang")).join(docCounts, Seq("lang"))
      .select(col("lang"), col("n_docs_a"), col("n_docs_b"),
        col("n_a").as("n_tokens_a"), col("n_b").as("n_tokens_b"),
        round((col("sa").cast("double") / ((col("n_a") + col("v_size")) * 1000000.0)
          + col("sb").cast("double") / ((col("n_b") + col("v_size")) * 1000000.0)) / 2, 6)
          .as("js_divergence"))
      .orderBy("lang")
  }

  /** eq31 — stratified (per-language) content-keyed down-sampling, the
    * domain-mixing primitive: each language keeps a fixed per-mille of its
    * documents, selected by a 28-bit md5 key of the TEXT (not doc_id, not
    * a RNG) so the sample is reproducible across runs, engines and
    * partitionings, and exact duplicates are kept or dropped together.
    * Pure map-side filter — no shuffle beyond the summary groupBy, so it
    * runs at any corpus size. Summarized per (lang, source) for the
    * oracle hash-compare; the per-doc filter is the same predicate
    * un-aggregated. */
  private[graft] val SampleRatePerMille: Seq[(String, Int)] =
    Seq("de" -> 800, "en" -> 300, "es" -> 600, "fr" -> 1000, "zh" -> 500)

  /** The per-document keep predicate of [[stratifiedSampleDf]] — a pure
    * function of (text, lang), shared with the streaming ingest gate
    * ([[graft.streaming.StreamingOps.corpusGate]]) so batch and streaming
    * can never disagree on membership. */
  private[graft] def sampleKeep(text: org.apache.spark.sql.Column,
                                lang: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rate = SampleRatePerMille.foldLeft(lit(0)) { case (els, (l, r)) =>
      when(lang === l, lit(r)).otherwise(els)
    }
    md5_key28(text) % 1000 < rate
  }

  def stratifiedSampleDf(docs: DataFrame): DataFrame = {
    docs
      .filter(sampleKeep(col("text"), col("lang")))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "source")
  }

  /** eq32 — context-window chunking: split every document into windows of
    * [[ChunkLen]] whitespace tokens with stride [[ChunkStride]] (8-token
    * overlap), the pre-tokenization step that shapes long documents into
    * training sequences. One row per chunk with its token count and
    * content md5. Pure per-row explode — parallelism is per document, no
    * shuffle except the presentation sort (which a real pipeline would
    * drop, writing chunks partitioned by shard instead). */
  private val ChunkLen = 32
  private val ChunkStride = 24

  /** Ingest-time giant-document split (the SkewBench scenario-4
    * mitigation): re-shape `(doc_id, text, source)` into non-overlapping
    * `chunkTokens`-token chunk ROWS `(doc_id, chunk_id, source, text)`.
    * An analysis query that explodes tokens fans one 2M-token document
    * into 2M rows inside the single task that owns the row — the one skew
    * unit Spark cannot split — so a 100 TB corpus stores bounded chunks
    * and every downstream explode is bounded by the chunk length. The
    * split itself is the one-time O(doc length) cost in the owning task,
    * paid once at ingest instead of once per query. Token-boundary exact:
    * chunk texts re-join the token slices, so token counts/contents are
    * preserved exactly (pinned by SkewSpec). */
  def chunkTexts(docs: DataFrame, chunkTokens: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("source"), col("t"),
        explode(sequence(lit(0), expr(s"(n - 1) div $chunkTokens").cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("source"),
        concat_ws(" ",
          slice(col("t"), col("chunk_id") * chunkTokens + 1, lit(chunkTokens))).as("text"))

  def docChunksDf(docs: DataFrame): DataFrame =
    chunksDf(docs).orderBy("doc_id", "chunk_id")

  /** The unordered chunk frame `(doc_id, chunk_id, n_chunk_tokens,
    * chunk_md5)` — eq32's body, shared with [[chunkDedupDf]] so the dedup
    * plan never carries eq32's presentation sort. */
  private def chunksDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      // chunk starts at i*stride; last chunk is the first that reaches the
      // end: n <= len -> 1 chunk, else ceil((n-len)/stride)+1 of them
      .withColumn("n_chunks",
        when(col("n") <= ChunkLen, lit(1))
          .otherwise(expr(s"((n - ${ChunkLen - ChunkStride + 1}) div $ChunkStride) + 1")))
      .select(col("doc_id"), col("t"),
        // `div` yields LONG; chunk ordinals are small — keep them INT
        explode(sequence(lit(0), (col("n_chunks") - 1).cast("int"))).as("chunk_id"))
      .withColumn("c", slice(col("t"), col("chunk_id") * ChunkStride + 1, lit(ChunkLen)))
      .select(
        col("doc_id"), col("chunk_id"),
        size(col("c")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c")).cast("binary")).as("chunk_md5"))

  /** eq39 — cross-document chunk-level exact dedup: every [[ChunkLen]]-token
    * chunk (the eq32 chunking) is deduplicated corpus-wide on its content
    * md5, keeping the first occurrence in (doc_id, chunk_id) order — the
    * sub-document granularity at which crawl corpora actually repeat
    * (mirrored articles embedded in different page chrome survive doc-level
    * dedup; their chunks don't). Per-doc kept/dropped tally. The shuffle key
    * is the chunk hash, so the window partitions are tiny (duplicate groups)
    * and skew-free — the same shape as eq11's doc-level keep-first, one
    * level down. A doc's own internal repeats dedup too (global keep-first,
    * not per-doc). */
  def chunkDedupDf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_md5").orderBy("doc_id", "chunk_id")
    chunksDf(docs)
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("n_dropped", col("n_chunks") - col("n_kept"))
      .orderBy("doc_id")
  }

  /** eq40 — vocabulary-coverage (OOV-rate) scoring: the corpus top-
    * [[VocabSize]] whitespace tokens by total occurrences (deterministic
    * `(count DESC, token ASC)` tie-break) form the vocabulary; each
    * language's out-of-vocabulary token rate is reported from integer sums
    * with one final division — the cheap "does this slice look like the
    * reference distribution" proxy a pipeline runs before paying for real
    * tokenization. The vocabulary is a ≤[[VocabSize]]-row broadcast, so the
    * corpus-side pass is map-side only; token counting is a map-side
    * partial aggregate bounded by vocabulary size. */
  private[graft] val VocabSize = 20

  def vocabCoverageDf(docs: DataFrame): DataFrame = {
    // materialized once: the vocabulary build and the coverage join both
    // consume the exploded frame (the cmsTopK convention)
    val tok = docs
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .localCheckpoint()
    val vocab = tok
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(VocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    tok
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("total_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("in_vocab_tokens"))
      .withColumn("oov_rate",
        round(lit(1.0) - col("in_vocab_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy("lang")
  }

  /** eq42 — corpus novelty attribution: for every document's distinct
    * 3-token shingles, which fraction first appears in THIS document
    * (global first occurrence = min doc_id over the corpus)? Aggregated per
    * source as integer tallies + one division — the redundancy curve that
    * tells a crawl pipeline when a source has stopped contributing new
    * content and can be down-weighted. Both sides of the first-occurrence
    * join hash-partition on the shingle key, so the join is co-located;
    * nothing is ever doc×doc. */
  def noveltyRateDf(docs: DataFrame): DataFrame = {
    // materialized once: consumed by the first-occurrence aggregate and as
    // the probe side of the join
    val ex = docs
      .select(col("doc_id"), col("source"),
        explode(ShingleExpressions.shingle_hashes(col("text"), 3)).as("sg"))
      .localCheckpoint()
    val first = ex.groupBy("sg").agg(min(col("doc_id")).as("first_doc"))
    ex.join(first, Seq("sg"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("total_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("novel_shingles"))
      .withColumn("novelty_rate",
        round(col("novel_shingles").cast("double") / col("total_shingles"), 6))
      .orderBy("source")
  }

  /** eq44 — weight-proportional deterministic sampling: each document is
    * kept with probability min(1, n_chars/[[WeightDenom]]), decided by
    * comparing a 28-bit content-hash residue against the integer weight —
    * size-biased importance sampling with zero RNG state, reproducible
    * across engines/partitionings/retries (the property that makes
    * distributed sampling auditable), and exact integer arithmetic end to
    * end. Pure map-side filter + bounded per-lang aggregate. Contrast eq31:
    * that is a per-language uniform rate; this is per-row weight-
    * proportional. */
  private[graft] val WeightDenom = 512

  /** eq48 — k-anonymity release accounting: documents grouped by their
    * quasi-identifier tuple (lang, source, [[LenBucket]]-wide length
    * bucket); a group is released only when it holds ≥ [[KAnonymity]]
    * documents, otherwise suppressed — the minimum-cell-size rule a
    * pipeline enforces before publishing per-slice corpus statistics, so
    * no released row can be pinned to fewer than k individuals. Exact
    * release/suppression accounting per (lang, source). Two bounded
    * aggregations (groups, then slices), map-side partials, all-integer
    * output — nothing scales with doc count except the first groupBy's
    * shuffle, keyed by the quasi-identifier (skew-free: bucket widths cap
    * group populations). */
  private[graft] val KAnonymity = 3
  private[graft] val LenBucket = 250

  def kAnonymityDf(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), col("source"),
        expr(s"n_chars div $LenBucket").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy("lang", "source")
      .agg(
        sum(when(col("n") >= KAnonymity, 1L).otherwise(0L)).as("groups_released"),
        sum(when(col("n") >= KAnonymity, col("n")).otherwise(0L)).as("docs_released"),
        sum(when(col("n") < KAnonymity, 1L).otherwise(0L)).as("groups_suppressed"),
        sum(when(col("n") < KAnonymity, col("n")).otherwise(0L)).as("docs_suppressed"))
      .orderBy("lang", "source")

  def weightedSampleDf(docs: DataFrame): DataFrame =
    docs
      .withColumn("keep",
        md5_key28(col("text")) % WeightDenom < least(lit(WeightDenom.toLong), col("n_chars")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy("lang")

  /** eq54 — the curation FUNNEL: the sequential keep/drop accounting a
    * corpus release actually publishes — per language, how many documents
    * survive each successive gate: eq38's quality threshold, then eq30's
    * repetition cap ([[RepMaxDupRatio]] on the 6-dp `dup_ratio`; docs too
    * short to shingle fail the gate), then eq35's per-language p05–p95
    * length band (compared against the UNROUNDED bounds, the eq35 rule).
    * Every per-document metric comes from the same shared column builders
    * as its standalone query, so the funnel cannot disagree with eq30/35/38
    * on any single document. Scale shape: both per-doc gates are map-side
    * column arithmetic in ONE pass over the corpus (no doc-level join);
    * the length bounds are a 5-row aggregate broadcast back; one bounded
    * groupBy ends the plan. */
  private[graft] val RepMaxDupRatio = 0.005

  def curationFunnelDf(docs: DataFrame): DataFrame = {
    val bounds = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05D)").as("p05"),
      expr("percentile(n_chars, 0.95D)").as("p95"))
    val qPass = col("quality") >= 0.5
    val rPass = col("dup_ratio") <= RepMaxDupRatio
    val lPass = col("n_chars") >= col("p05") && col("n_chars") <= col("p95")
    TextAnalysis.repetitionCols(TextAnalysis.qualityCols(docs))
      .join(broadcast(bounds), Seq("lang"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(qPass, 1L).otherwise(0L)).as("n_quality"),
        sum(when(qPass && rPass, 1L).otherwise(0L)).as("n_low_repetition"),
        sum(when(qPass && rPass && lPass, 1L).otherwise(0L)).as("n_released"))
      .orderBy("lang")
  }

  /** eq56 — PMI collocation mining: the [[PmiTopK]] adjacent-token bigrams
    * most over-represented vs their unigram frequencies — pointwise mutual
    * information `ln(p(ab) / (p(a)·p(b)))`, the classic "new york"-style
    * phrase detector a tokenizer-training pipeline runs to pick merge
    * candidates. Counts are exact integers (unigram and bigram occurrence
    * tallies, both vocabulary-bounded aggregations with map-side
    * partials); bigrams under [[PmiMinCount]] occurrences are dropped
    * before scoring (the standard low-count PMI-noise guard, and the
    * reason the scored frame is small). The only float math is one
    * fixed-shape expression per surviving bigram, so the score is
    * bit-deterministic; the cut is a [[PmiTopK]]-row
    * TakeOrderedAndProject on (pmi DESC, bigram ASC). Bigrams come from
    * the native width-2 shingle expression — one eval per document, no
    * higher-order-function fallback. */
  private[graft] val PmiMinCount = 5
  private[graft] val PmiTopK = 20

  def pmiBigramsDf(docs: DataFrame): DataFrame = {
    // vocabulary-sized, consumed by the total and both join probes —
    // materialized once so the corpus token explode runs once
    val uni = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val big = docs
      .select(explode(ShingleExpressions.shingles(col("text"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val nBig = big.agg(sum(col("c_ab")).as("n_big"))
    big
      .filter(col("c_ab") >= PmiMinCount)
      .withColumn("token_a", split(col("bg"), " ").getItem(0))
      .withColumn("token_b", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("token").as("token_a"), col("c").as("c_a")), Seq("token_a"))
      .join(uni.select(col("token").as("token_b"), col("c").as("c_b")), Seq("token_b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .withColumn("pmi",
        log((col("c_ab").cast("double") / col("n_big"))
          / ((col("c_a").cast("double") / col("n_tok"))
            * (col("c_b").cast("double") / col("n_tok")))))
      .orderBy(col("pmi").desc, col("bg").asc)
      .limit(PmiTopK)
      .select(col("token_a"), col("token_b"), col("c_ab"),
        round(col("pmi"), 6).as("pmi"))
  }

  /** eq62 — Zipf-slope estimation: least-squares slope of
    * log(count) vs log(rank) over the corpus top-[[ZipfTopN]] tokens — the
    * one-number "does this corpus look like natural language" diagnostic
    * (natural text ≈ −1; templated/synthetic corpora flatten). The token
    * tally is the vocabulary-bounded aggregate (map-side partials); the
    * ranked top-N is a [[ZipfTopN]]-row TakeOrderedAndProject, after which
    * everything is single-row arithmetic. Regression moments are summed as
    * exact integers over micro-scaled logs (`floor(ln·10⁶)` — ln of
    * deterministic integer inputs, identical in both engines), combined in
    * DECIMAL(38,0) so `n·Σxy − Σx·Σy` cannot overflow, with ONE double
    * division (and one double square for r²) at the very end — the
    * float-determinism discipline of eq36/eq52 applied to regression.
    * The rank window runs on the 1000-row frame, not the corpus. */
  private[graft] val ZipfTopN = 1000

  def zipfSlopeDf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    val moments = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(ZipfTopN)
      .withColumn("r", row_number().over(w))
      .select(
        floor(log(col("r").cast("double")) * 1e6).as("x"),
        floor(log(col("cnt").cast("double")) * 1e6).as("y"))
      .agg(
        count(lit(1)).as("n_ranks"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val d = (c: String) => col(c).cast("decimal(38,0)")
    val num = d("n_ranks") * d("sxy") - d("sx") * d("sy")
    val denX = d("n_ranks") * d("sxx") - d("sx") * d("sx")
    val denY = d("n_ranks") * d("syy") - d("sy") * d("sy")
    moments.select(
      col("n_ranks"),
      // denX = 0 iff one rank; denY = 0 additionally when every top-N
      // count is identical (uniform corpus) — slope/r² undefined, NULL in
      // both engines (pinned by the degenerate-corpus drill)
      round(Similarity.safeDiv(num.cast("double"), denX.cast("double")), 6)
        .as("slope"),
      round(Similarity.safeDiv(num.cast("double") * num.cast("double"),
        denX.cast("double") * denY.cast("double")), 6).as("r2"))
  }

  /** eq33 — corpus heavy hitters: the 20 most frequent 3-token shingles
    * with total occurrences and document frequency. The aggregation key is
    * the shingle, so cost is bounded by vocabulary (with map-side partial
    * aggregation), never by doc×doc; the cut is a 20-row
    * TakeOrderedAndProject with a deterministic (count DESC, shingle ASC)
    * tie-break. The boilerplate-detection primitive: at 100 TB these top
    * shingles are the site templates/navigation chrome you strip. */
  def trigramTopKDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(ShingleExpressions.shingles(col("text"), 3)).as("shingle"))
      .groupBy("shingle")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("shingle").asc)
      .limit(20)

  /** x10 — Count-Min-sketched heavy hitters: the [[trigramTopKDf]] top-20
    * with each shingle's frequency re-estimated from a mergeable Count-Min
    * sketch built in one distributed aggregate — the fixed-memory
    * frequency oracle a 100 TB pipeline keeps where exact per-key counts
    * would need a full shuffle. Driver-checkable shape (the x6/x8
    * pattern): the exact counts are oracle-verified values, and the sketch
    * surfaces as booleans the oracle pins TRUE — `cms_ge` is the sketch's
    * hard guarantee (estimate ≥ true count, always), `cms_close` the
    * probabilistic one (estimate ≤ true + 5·ε·N, ε = 1e-4 — 5× the
    * per-probe bound, astronomically safe at depth 5). Sketch hashing is
    * seeded Murmur3, so the estimates are deterministic across runs. */
  def cmsTopKDf(docs: DataFrame): DataFrame = {
    // materialized once: the sketch build and the exact aggregate both
    // consume this frame — without it each job re-runs the shingling pass
    val exploded = docs
      .select(col("doc_id"),
        explode(ShingleExpressions.shingles(col("text"), 3)).as("shingle"))
      .localCheckpoint()
    val eps = 1e-4
    val cms = exploded.stat.countMinSketch(col("shingle"), eps, 0.99, 42)
    val n = cms.totalCount() // stream length N for the ε·N bound, free from the sketch
    val est = graft.functions.SketchExpressions.cms_estimate(col("shingle"), cms)
    exploded
      .groupBy("shingle")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("shingle").asc)
      .limit(20)
      .withColumn("cms_ge", est >= col("n_occurrences"))
      .withColumn("cms_close", est <= col("n_occurrences") + lit(5.0 * eps) * lit(n))
      .orderBy(col("n_occurrences").desc, col("shingle").asc)
  }

  /** eq34 — token-budget shard packing: documents are laid out in
    * deterministic (lang, doc_id) order and cut into shards of
    * [[ShardBudget]] whitespace tokens by exclusive prefix sum — the
    * "pack sequences into shards of N tokens" step before training. The
    * window is PARTITIONED BY lang, so each language packs independently
    * and in parallel; at 100 TB the partition key would be (lang, day) or
    * similar to bound any single sort, which changes shard numbering but
    * not the mechanism. Integer token counts make the prefix sum exact and
    * order-stable. */
  private val ShardBudget = 2000

  def packShardsDf(docs: DataFrame): DataFrame = {
    // the two-phase distributed prefix sum (Curation.packPrefixCum):
    // same exact cum as the plain per-lang window, but the dominant
    // language no longer flows through ONE window task
    Curation.packPrefixCum(docs
      .select(col("lang"), col("doc_id"),
        ws_token_count(col("text")).cast("long").as("n_tokens")))
      .withColumn("shard_id", expr(s"cum div $ShardBudget"))
      .groupBy("lang", "shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "shard_id")
  }

  /** eq121 — padding-waste audit of training-batch assembly: documents are
    * packed into fixed-size batches of [[PadBatch]] and padded to each
    * batch's max token length (the attention-mask shape every trainer
    * pays); compared across two assembly orders — `naive` (doc_id arrival
    * order) vs `length_sorted` (token count, then doc_id) — per language.
    * Length-sorted batching is the standard fix for padding waste; this
    * query QUANTIFIES the win as an exact integer ppm so a curation
    * pipeline can decide whether the extra sort is worth it. Windows are
    * PARTITIONED BY lang (same scale posture as eq34: no global sort; at
    * 100 TB the partition key grows a day/shard component, changing batch
    * numbering but not the waste arithmetic). All integer math — counts,
    * sums, and the ppm ratio are exact, so the frame hash-checks. */
  private val PadBatch = 32

  def paddingWasteDf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("lang"), col("doc_id"),
      ws_token_count(col("text")).cast("long").as("n_tok"))
    def strategy(name: String, order: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(order: _*)
      toks
        .withColumn("rn", row_number().over(w))
        .withColumn("batch", expr(s"(rn - 1) div $PadBatch"))
        .groupBy("lang", "batch")
        .agg(max(col("n_tok")).as("mx"), sum(col("n_tok")).as("tok"),
          count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_batches"),
          sum(col("mx") * col("c")).as("padded_tokens"),
          sum(col("tok")).as("real_tokens"))
        .withColumn("strategy", lit(name))
    }
    strategy("naive", Seq(col("doc_id")))
      .unionByName(strategy("length_sorted", Seq(col("n_tok"), col("doc_id"))))
      .withColumn("waste_ppm",
        expr("((padded_tokens - real_tokens) * 1000000L) div padded_tokens"))
      .select(col("strategy"), col("lang"), col("n_batches"),
        col("padded_tokens"), col("real_tokens"), col("waste_ppm"))
      .orderBy("strategy", "lang")
  }

  /** eq35 — length-outlier trimming: per-language p05/p95 bounds on
    * `n_chars` (exact interpolated percentile, ≡ DuckDB `quantile_cont`)
    * and the kept/dropped tally — the Gopher-style "drop the pathological
    * tails" filter. Two passes: a per-lang percentile aggregate (5 rows)
    * broadcast back onto the corpus, then a map-side classification — the
    * exact shape that scales (at 100 TB the first pass would use the
    * mergeable approx sketch; the exact form IS the oracle here).
    * Classification compares against the UNROUNDED bounds in both engines;
    * rounding is display-only. */
  def lengthTrimDf(docs: DataFrame): DataFrame = {
    val bounds = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05D)").as("p05"),
      expr("percentile(n_chars, 0.95D)").as("p95"))
    docs
      .join(broadcast(bounds), Seq("lang"))
      .groupBy("lang")
      .agg(
        round(first(col("p05")), 6).as("p05"),
        round(first(col("p95")), 6).as("p95"),
        sum(when(col("n_chars") < col("p05"), 1L).otherwise(0L)).as("n_short"),
        sum(when(col("n_chars") >= col("p05") && col("n_chars") <= col("p95"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("n_chars") > col("p95"), 1L).otherwise(0L)).as("n_long"))
      .orderBy("lang")
  }

  /** eq65 — deterministic weighted corpus mixing: each source contributes
    * `8 × weight` documents (weight 1–3 derived from the source id), the
    * members chosen by ascending md5 of the doc_id — the reproducible
    * "mixture spec → concrete document list" step of training-data
    * assembly. Because selection is a pure function of (source, doc_id),
    * re-partitioning, replication, and incremental re-builds pick the
    * SAME mixture; no RNG state, no driver-side shuffle of ids. One
    * shuffle (partition by source) and a rank window inside it; quotas
    * are O(1) per source, so the plan is flat at any corpus size. */
  def corpusMixDf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("mix_key", "doc_id")
    docs
      .withColumn("mix_key", md5(col("doc_id").cast("string").cast("binary")))
      // try_cast: a source OUTSIDE the digit-suffix naming contract gets a
      // NULL weight and contributes no rows — the oracle's TRY_CAST
      // semantics; the plain cast ANSI-crashed on the first such source
      // (found by the degenerate-corpus drill, same class as the zero-norm
      // cosine)
      .withColumn("weight",
        lit(1) + expr("try_cast(regexp_extract(source, '(\\\\d+)$', 1) AS int)") % 3)
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= col("weight") * 8)
      .select(col("source"), col("doc_id"), col("weight"), col("mix_rank"))
      .orderBy("source", "mix_rank")
  }

  private[graft] val BudgetTokens = 1000000L

  /** eq101 — largest-remainder apportionment of a fixed token budget
    * across sources: every pretraining mix ultimately rounds fractional
    * source shares into whole token (or document) quotas, and naive
    * flooring under- or over-shoots the budget. Hamilton's method is
    * exact in integers end to end: alloc_i = ⌊B·c_i / C⌋ plus one extra
    * for the (B − Σ⌊·⌋) largest remainders, remainder_i = B·c_i mod C —
    * no floating point anywhere, Σ alloc ≡ B by construction (asserted
    * by test). Tie-break on (remainder DESC, source ASC). One token
    * count per source, one |sources|-row window — corpus-linear. */
  def tokenBudgetDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col("source"), ws_token_count(col("text")).as("tk"))
      .groupBy("source").agg(sum(col("tk")).as("n_tokens"))
    val total = counts.agg(sum(col("n_tokens")).as("c_total"))
    val byRemainder = Window.orderBy(col("remainder").desc, col("source").asc)
    counts.crossJoin(broadcast(total))
      // exact floor: (B·c − (B·c mod C)) / C is divisible, so the double
      // division is exact and the cast is a no-op numerically
      .withColumn("base",
        ((lit(BudgetTokens) * col("n_tokens")
          - pmod(lit(BudgetTokens) * col("n_tokens"), col("c_total")))
          / col("c_total")).cast("long"))
      .withColumn("remainder", pmod(lit(BudgetTokens) * col("n_tokens"), col("c_total")))
      // global window over the per-source aggregate — |sources| rows,
      // bounded by design (same caveat class as the k-row seed windows)
      .withColumn("shortfall", lit(BudgetTokens) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(byRemainder))
      .withColumn("alloc_tokens",
        col("base") + when(col("rk") <= col("shortfall"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("base"), col("remainder"),
        col("alloc_tokens"))
      .orderBy("source")
  }

  /** eq111 — contrastive triplet assembly: (anchor, positive, negative)
    * training examples for embedding models. Positives are the exact
    * near-dup pairs at Jaccard ≥ 0.5 (anchor = the lower doc_id, the
    * eq12 orientation); negatives are drawn DETERMINISTICALLY from a
    * same-language md5 hash ring — each anchor's negative is the next
    * document clockwise on (md5-28-key, doc_id) order, wrapping at the
    * partition end — which is "random" in content terms yet reproducible
    * across runs, engines and partitionings (no RNG anywhere; the eq31
    * key discipline). A ring-next that happens to be RELATED to the
    * anchor (any ≥ 0.2 pair) is discarded rather than shipped as a false
    * negative — the standard false-negative filter in contrastive
    * mining. Scale shape: pair mining is the PPJoin prefix path (shared
    * with eq12), the ring is one window over (lang, key), and the
    * false-negative check is an anti-join on the unordered pair key —
    * all equi-joins, no corpus² anywhere. */
  def contrastiveTripletsDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one pair-mining pass feeds both the positive set and the
    // false-negative filter
    val allPairs = Dedup.jaccardPairsDf(docs).localCheckpoint()
    val positives = allPairs.filter(col("jaccard") >= 0.5)
    val ringW = Window.partitionBy("lang").orderBy(col("k").asc, col("doc_id").asc)
    val ring = docs.select(col("doc_id"), col("lang"), md5_key28(col("text")).as("k"))
      .withColumn("neg_id", coalesce(
        lead(col("doc_id"), 1).over(ringW),
        first(col("doc_id")).over(
          ringW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
    val related = allPairs.select(
      least(col("doc_a"), col("doc_b")).as("lo"),
      greatest(col("doc_a"), col("doc_b")).as("hi"))
    positives
      .join(ring.select(col("doc_id").as("doc_a"), col("neg_id")), Seq("doc_a"))
      .filter(col("neg_id") =!= col("doc_a") && col("neg_id") =!= col("doc_b"))
      .join(related,
        least(col("doc_a"), col("neg_id")) === col("lo")
          && greatest(col("doc_a"), col("neg_id")) === col("hi"),
        "left_anti")
      .select(col("doc_a").as("anchor_id"), col("doc_b").as("positive_id"),
        col("neg_id").as("negative_id"), col("jaccard"))
      .orderBy("anchor_id", "positive_id")
  }

  /** eq106 — temperature-scaled (α-) multilingual resampling: the
    * XLM-R-style rebalancing where language l's target share is
    * q_l ∝ p_l^α (α = [[TemperatureAlpha]] < 1 flattens the distribution,
    * up-weighting rare languages), realised as a deterministic
    * content-keyed keep-rate per language against a half-corpus budget.
    * Arithmetic discipline: the ONLY float op is one pow-and-round per
    * language (p_l^α quantized to micro-units; the eq47-ln precedent);
    * the share normalization, budget split and per-language rate
    * rate_ppm = min(10⁶, ⌊wµ_l·B·10⁶ / (Σwµ·n_l)⌋) are exact BIGINT
    * (operands positive, floor div in both engines; numerator ≤ 10¹²·N —
    * widen to DECIMAL(38,0) past ~10⁶ rows per the eq57 caveat class).
    * Membership is the eq31 convention — md5-28-bit of the TEXT mod 10⁶
    * under rate_ppm — so the sample is reproducible across runs, engines
    * and partitionings, and exact duplicates travel together. Scale
    * shape: two |langs|-row scalar aggregates, then one broadcast join +
    * map-side filter over the corpus — linear, no wide shuffle. */
  private[graft] val TemperatureAlpha = 0.3

  def temperatureMixDf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    val w = counts.crossJoin(broadcast(total))
      .withColumn("w_micro",
        round(pow(col("n_docs").cast("double") / col("n_total").cast("double"),
          TemperatureAlpha) * 1000000.0).cast("long"))
    val wsum = w.agg(sum(col("w_micro")).as("w_sum"))
    val rates = w.crossJoin(broadcast(wsum))
      // DECIMAL(38,0) widening: pure-LONG products here
      // overflow past ~1.8e7 docs (numerator) / ~1e11 (denominator);
      // IntegralDivide over decimal still returns BIGINT so rate_ppm's
      // type and the recorded hashes are unchanged (eq120/eq135 pattern).
      .withColumn("rate_ppm", least(lit(1000000L),
        expr("(cast(w_micro as decimal(38,0)) * (n_total div 2) * 1000000)" +
          " div (cast(w_sum as decimal(38,0)) * n_docs)")))
      .select(col("lang"), col("n_docs"), col("rate_ppm"))
    val kept = docs.join(broadcast(rates), Seq("lang"))
      .filter(md5_key28(col("text")) % 1000000 < col("rate_ppm"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
    rates.join(broadcast(kept), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
      .orderBy("lang")
  }
}
