package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextCountExpressions.{alpha_count, re_token_count, token_set_count, ws_token_count}

/** Text-analysis operators over the `documents` table (SURVEY.md §2.8 E4 +
  * the training-data-pipeline surface): per-language stats, token counting
  * (whitespace + BPE-ish regex), quality scoring, n-gram language ID, and
  * content fingerprinting.
  *
  * Everything is built from codegen'd Catalyst expressions (split /
  * regexp_* / higher-order array functions) — no UDFs, so whole-stage
  * codegen spans the full per-document pipeline and the only shuffle is the
  * final small groupBy. Per-document arithmetic is single-row and therefore
  * bit-deterministic across partitionings.
  */
object TextAnalysis {

  /** Whitespace token array of the lowercased text. */
  private[graft] def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** E-Q2 — per-language corpus stats. Integer sums are exact in double, so
    * the average is order-insensitive. */
  def textStatsDf(docs: DataFrame): DataFrame =
    docs
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(length(col("text"))), 6).as("avg_len"))
      .orderBy("lang")

  /** Token counting, two tokenizers: whitespace words and a BPE-ish regex
    * (letter runs | single digits | single punctuation) of the kind used to
    * pre-estimate LLM token budgets. */
  def tokenStatsDf(docs: DataFrame): DataFrame =
    docs
      .select(
        col("lang"),
        // native byte-scan counts; parity with the original
        // size(tokens(...)) / size(regexp_extract_all(...)) formulations is
        // pinned by PipelineSpec "native text counts match ..."
        ws_token_count(col("text")).as("ws_tokens"),
        re_token_count(col("text")).as("re_tokens"))
      .groupBy("lang")
      .agg(
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("re_tokens")).as("total_re_tokens"),
        round(avg(col("ws_tokens")), 6).as("avg_ws_tokens"))
      .orderBy("lang")

  private val Stopwords = Seq("the", "a", "data", "value")

  /** Per-document quality columns (n_tokens, ratios, the rounded 6-dp
    * `quality`) with every input column retained — the single source of
    * the scoring formula, shared by eq8's report and eq38's filter so the
    * two can never disagree on a document's score. */
  private[pipeline] def qualityCols(docsIn: DataFrame): DataFrame =
    docsIn
      .withColumn("n_tokens", ws_token_count(col("text")))
      .withColumn("len_score",
        least(length(col("text")) / lit(500.0), lit(1.0)))
      // 0/0 guards: Spark evaluates 0.0/0 to NaN, and NaN compares GREATER
      // than everything — a zero-length doc would silently PASS quality
      // thresholds while DuckDB's NULL fails them. Null ratios (→ null
      // quality → filtered) keep both engines agreeing on degenerate docs.
      .withColumn("alpha_ratio",
        when(length(col("text")) > 0,
          alpha_count(col("text")).cast("double") / length(col("text"))))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0,
          token_set_count(col("text"), Stopwords).cast("double")
            / col("n_tokens")))
      .withColumn("quality",
        round(lit(0.4) * col("len_score") + lit(0.4) * col("alpha_ratio")
          + lit(0.2) * (lit(1.0) - col("stop_ratio")), 6))

  /** Per-document quality score: length saturation, alphabetic ratio,
    * stopword ratio — the heuristic trio of C4-style corpus filters.
    * Single-pass, no shuffle (final sort only). */
  def qualityScoreDf(docsIn: DataFrame): DataFrame =
    graft.Canonical.presentationOrder(
      qualityCols(docsIn).select(
        col("doc_id"),
        col("n_tokens"),
        round(col("alpha_ratio"), 6).as("alpha_ratio"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        col("quality")),
      col("doc_id")) // canonicalization-only sort: corpus-sized output

  /** eq38 — quality-threshold corpus filter: the C4-style END step that
    * consumes the per-document score — per language, how many documents
    * survive `quality ≥ 0.5` and the exact total quality mass. The
    * summary sums quality in integer MILLIONTHS (the 6-dp rounded score
    * ×10⁶ is integer-valued, so the sum is order-insensitive and exact —
    * a plain double sum of scores would be partition-order-dependent).
    * Map-side classification + one bounded aggregation; the per-doc score
    * is eq8's formula via the shared [[qualityCols]]. */
  def qualityFilterDf(docs: DataFrame): DataFrame =
    qualityCols(docs)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
        sum(round(col("quality") * 1000000.0).cast("long")).as("quality_millionths"))
      .orderBy("lang")

  /** eq51 — per-language quality top-k selection: the k highest-quality
    * documents of each language by eq8's score (the shared
    * [[qualityCols]]), deterministic `(quality DESC, doc_id ASC)`
    * tie-break — the "pick the best exemplars per slice" curation step
    * (seed corpora, few-shot pools, eval panels). The rank filter plans as
    * `WindowGroupLimit`: each partition locally keeps only its k best rows
    * BEFORE the shuffle, so the exchanged data is ≤ k·partitions rows per
    * language — a top-k, never a global sort of the corpus. */
  private[graft] val QualityTopK = 3

  def qualityTopKDf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("quality").desc, col("doc_id").asc)
    qualityCols(docs)
      .select(col("lang"), col("doc_id"), col("quality"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= QualityTopK)
      .orderBy("lang", "rank")
  }

  /** Marker-token vocabularies per language, deterministic priority order
    * en > fr > de > es > zh on ties. */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and"),
    "fr" -> Seq("le", "la", "les", "et", "de"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "es" -> Seq("el", "los", "las", "y", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** n-gram-heuristic language ID: count marker-token hits per language,
    * argmax with fixed priority. Output is the (true lang × predicted lang)
    * confusion matrix. */
  def langIdDf(docs: DataFrame): DataFrame = {
    val withCounts = Markers.foldLeft(docs) {
      case (df, (l, words)) =>
        df.withColumn(s"cnt_$l", token_set_count(col("text"), words))
    }
    val langs = Markers.map(_._1)
    val predicted = langs.init.foldRight(lit(langs.last): Column) { (l, els) =>
      val geAll = langs.filter(_ != l)
        .map(o => col(s"cnt_$l") >= col(s"cnt_$o"))
        .reduce(_ && _)
      when(geAll, lit(l)).otherwise(els)
    }
    withCounts
      .withColumn("predicted_lang", predicted)
      .groupBy(col("lang").as("true_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "predicted_lang")
  }

  /** 3-token shingle array of a document (shared with the dedup family). */
  private[graft] def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3), i =>
        concat_ws(" ",
          element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
      .otherwise(array().cast("array<string>"))

  /** Document fingerprinting: min-of-md5 over 3-token shingles (the
    * winnowing/min-hash primitive, one hash). Rows with <3 tokens
    * fingerprint as NULL in both engines. */
  def fingerprintDf(docs: DataFrame): DataFrame =
    docs
      .withColumn("sh", graft.functions.ShingleExpressions.shingles(col("text"), 3))
      // explode + codegen'd md5 + hash-agg min, instead of the interpreted
      // array_min(transform(...)) fold (24 s → ~2 s on the sf0.1 corpus);
      // explode_outer keeps <3-token docs as a NULL-fingerprint row
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode_outer(col("sh")).as("s"))
      .groupBy("doc_id", "n_shingles")
      .agg(min(md5(col("s").cast("binary"))).as("fingerprint"))
      .select("doc_id", "n_shingles", "fingerprint")
      .orderBy("doc_id")

  /** eq37 — WINNOWING fingerprint selection (the MOSS scheme): over each
    * document's sequence of 3-token shingle keys, slide a window of
    * [[WinnowWindow]] consecutive keys and keep the window minimum; the
    * distinct kept keys are the document's fingerprints. Guarantees every
    * match of ≥ window+ngram−1 tokens is caught while storing only
    * ~2/(window+1) of the shingles — the sublinear fingerprint index a
    * 100 TB plagiarism/overlap pipeline builds instead of a full shingle
    * inverted index. Keys are the 28-bit md5 prefixes (the x1 family's),
    * so the DuckDB oracle recomputes the identical selection with the
    * same window min. Per-document windows → the window function
    * partitions by doc_id, parallel across the corpus; docs with fewer
    * shingles than the window keep their global min (the frame clamps at
    * the partition end in both engines). */
  private[graft] val WinnowWindow = 4

  def winnowFingerprintsDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select(col("doc_id"),
        graft.functions.ShingleExpressions.shingles(col("text"), 3).as("sh"))
      .withColumn("n", size(col("sh")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"), posexplode(col("sh")).as(Seq("pos", "sg")))
      .withColumn("k", graft.functions.Md5Expressions.md5_key28(col("sg")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, WinnowWindow - 1)
    sh
      .withColumn("minv", min(col("k")).over(win))
      // only positions that start a (possibly end-clamped) full window:
      // for n < window the single pos-0 frame covers the whole doc
      .filter(col("pos") <= greatest(col("n") - WinnowWindow, lit(0)))
      .select(col("doc_id"), col("minv").as("fp"))
      .distinct()
      .orderBy("doc_id", "fp")
  }

  /** The 80/10/10 split assignment of a text column: a pure function of
    * the content (28-bit md5 key mod 100). Shared by [[hashSplitDf]] and
    * [[contaminationDf]] so the two can never disagree on membership. */
  private[graft] def splitOf(text: Column): Column = {
    val bucket = graft.functions.Md5Expressions.md5_key28(text) % 100
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** eq27 — deterministic content-hash train/val/test split (80/10/10):
    * the reproducible held-out-split primitive of a training-data pipeline.
    * Assignment is a pure function of the document TEXT (28-bit md5 key mod
    * 100), not of doc_id or row order — so re-ingestion, re-partitioning,
    * and replication all land a document in the same split, and exact
    * duplicates can never straddle train/test. Summarized per (split, lang)
    * for the oracle hash-compare; the per-doc assignment is the same
    * expression un-aggregated. */
  def hashSplitDf(docs: DataFrame): DataFrame =
    docs
      .withColumn("split", splitOf(col("text")))
      .groupBy("split", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")

  /** eq30 — within-document REPETITION stats (the Gopher/C4-style
    * boilerplate signal): total vs distinct 3-token shingle occurrences
    * per document and the duplicated fraction. Pure per-row arithmetic on
    * the native shingle arrays — single pass, no shuffle except the
    * presentation sort. Docs with <3 tokens (no shingles) are excluded. */
  def repetitionStatsDf(docs: DataFrame): DataFrame =
    repetitionCols(docs)
      .filter(col("n_shingles") > 0)
      .select(col("doc_id"), col("lang"),
        col("n_shingles"), col("n_distinct"), col("dup_ratio"))
      .orderBy("doc_id")

  /** Per-document repetition columns (`n_shingles`, `n_distinct`, the
    * 6-dp `dup_ratio` — null when the doc has no shingles) appended to the
    * input, all input columns retained — the single source of eq30's
    * formula, shared with eq54's funnel gate so the two can never
    * disagree on a document's repetition. */
  private[pipeline] def repetitionCols(docsIn: DataFrame): DataFrame =
    docsIn
      .withColumn("sh_", graft.functions.ShingleExpressions.shingles(col("text"), 3))
      .withColumn("n_shingles", size(col("sh_")))
      .withColumn("n_distinct", size(array_distinct(col("sh_"))))
      .withColumn("dup_ratio",
        when(col("n_shingles") > 0,
          round((col("n_shingles") - col("n_distinct")).cast("double")
            / col("n_shingles"), 6)))
      .drop("sh_")

  /** Materialized (doc_id, lang, split, distinct-shingle set, size) index —
    * the shared substrate of the decontamination family ([[contaminationDf]]
    * eq29 and [[bloomContaminationDf]] x9, whose oracles assume identical
    * split+shingle semantics). localCheckpoint (as in
    * Dedup.neardupClustersDf): the train-vocabulary branch and the
    * test-probe branch both consume this frame, and without materialization
    * each would re-run the dominant shingling + md5-split pass over the
    * whole corpus. The 100 TB version persists this index deliberately. */
  private def splitShingleSets(docs: DataFrame): DataFrame =
    docs
      .withColumn("split", splitOf(col("text")))
      .select(col("doc_id"), col("lang"), col("split"),
        array_distinct(graft.functions.ShingleExpressions.shingles(col("text"), 3)).as("shd"))
      .withColumn("sz", size(col("shd")))
      .localCheckpoint()

  /** eq29 — train→test DECONTAMINATION check: for every test-split
    * document (split per [[hashSplitDf]]'s content-hash assignment), the
    * fraction of its distinct 3-token shingles that also occur anywhere in
    * the train split — the standard leakage audit run before training on a
    * corpus. Scale shape: the train shingle vocabulary is a distinct-on-key
    * aggregate and the probe is a shuffle-on-shingle left join — no
    * doc×doc comparison anywhere, so cost is bounded by corpus token
    * volume, not corpus size squared. Docs with no shingles (<3 tokens)
    * are excluded (no ratio exists). */
  def contaminationDf(docs: DataFrame): DataFrame = {
    val sets = splitShingleSets(docs)
    val trainVocab = sets.filter(col("split") === "train")
      .select(explode(col("shd")).as("sg")).distinct()
      .withColumn("hit", lit(1))
    sets.filter(col("split") === "test" && col("sz") > 0)
      .select(col("doc_id"), col("sz"), explode(col("shd")).as("sg"))
      .join(trainVocab, Seq("sg"), "left_outer")
      .groupBy("doc_id", "sz")
      .agg(count(col("hit")).as("n_contaminated"))
      .select(col("doc_id"), col("sz").as("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("sz"), 6).as("contamination"))
      .orderBy("doc_id")
  }

  /** eq122 — decontamination blast radius: eq29 answers "how contaminated
    * is each test doc"; this answers the operational flip side — "what
    * does it COST to decontaminate": for the top-20 most entangled test
    * docs, how many leaked shingles they carry, how many DISTINCT train
    * docs share at least one of them (the docs a shingle-level scrub would
    * have to touch), and the hottest leaked shingle's train document
    * frequency (the worst single-shingle blast). Shape: the test→train
    * join is shuffle-on-shingle (never doc×doc); its fan-out is
    * Σ test_df×train_df per shingle, the decontam analogue of the
    * inverted-index join — a production run caps ultra-hot shingles first
    * (the eq12 PPJoin lesson), which only SHRINKS this audit's inputs.
    * All-integer output, deterministic top-20 tie-broken by doc_id. */
  def decontamBlastDf(docs: DataFrame): DataFrame = {
    val sets = splitShingleSets(docs)
    val train = sets.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), explode(col("shd")).as("sg"))
    val test = sets.filter(col("split") === "test" && col("sz") > 0)
      .select(col("doc_id"), explode(col("shd")).as("sg"))
    val trainDf = train.groupBy("sg").agg(count(lit(1)).as("train_df"))
    val hits = test.join(train, Seq("sg"))
    val perDoc = hits.groupBy("doc_id").agg(
      countDistinct(col("sg")).as("n_leaked_shingles"),
      countDistinct(col("train_id")).as("n_train_docs_hit"))
    val hottest = test.join(trainDf, Seq("sg"))
      .groupBy("doc_id").agg(max(col("train_df")).as("max_train_df"))
    perDoc.join(hottest, Seq("doc_id"))
      .orderBy(col("n_train_docs_hit").desc, col("doc_id"))
      .limit(20)
  }

  /** x9 — Bloom-prefiltered decontamination: per-language totals of the
    * same train→test shingle-leakage audit as [[contaminationDf]], computed
    * through the 100 TB plan shape — a Bloom filter over the train
    * vocabulary is built with one distributed aggregate, broadcast inside
    * a native probe expression, and the test-side shingles are prefiltered
    * map-side BEFORE the verification join, so the shuffle carries only
    * probable hits (at real scale the overwhelmingly-clean test corpus
    * shrinks to ~fpp of itself). Bloom filters admit false positives but
    * never false negatives, and every candidate is exactly verified
    * against the vocabulary, so the output is EXACT — the DuckDB oracle
    * recomputes it with a plain join and the hash must match; a
    * false-negative bug anywhere would fail parity. */
  def bloomContaminationDf(docs: DataFrame): DataFrame = {
    val sets = splitShingleSets(docs)
    // materialized: the sizing count, the bloom build and the verify
    // semi-join all read the vocabulary — one distinct shuffle, not three
    val trainVocab = sets.filter(col("split") === "train")
      .select(explode(col("shd")).as("sg")).distinct()
      .localCheckpoint()
    val nVocab = trainVocab.count()
    val bf = trainVocab.stat.bloomFilter("sg", math.max(nVocab, 1L), 0.03)
    val hits = sets.filter(col("split") === "test")
      .select(col("lang"), explode(col("shd")).as("sg"))
      // map-side prune: only probable members reach the verify join
      .filter(graft.functions.SketchExpressions.bloom_might_contain(col("sg"), bf))
      .join(trainVocab, Seq("sg"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("total_contaminated"))
    sets.filter(col("split") === "test")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_test_docs"),
        sum(col("sz")).as("total_shingles"))
      .join(hits, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_test_docs"), col("total_shingles"),
        coalesce(col("total_contaminated"), lit(0L)).as("total_contaminated"))
      .orderBy("lang")
  }

  /** eq47 — corpus-unigram language-model scoring, the perplexity-proxy
    * quality signal: the corpus's own unigram distribution scores every
    * document's log-likelihood. Per-token `ln(count/N)` is scaled to
    * integer MICROS (`round(·1e6)` as BIGINT) at the vocabulary level —
    * vocabulary-bounded work — so the per-doc sums are exact integer
    * arithmetic: order-insensitive under any partitioning, and the one
    * place `ln` runs is a ≤|V|-row frame broadcast back over the token
    * stream. (Unlike eq28, log is semantically required here; the micro
    * quantization is what makes its non-correctly-rounded libm nature
    * harmless — a 1-ulp divergence sits ~4e-10 from any rounding boundary.)
    * Low (more negative) averages flag documents the corpus distribution
    * finds surprising — the filter axis perplexity scoring gives a real
    * pipeline. */
  def unigramLogprobDf(docs: DataFrame): DataFrame = {
    // materialized once: vocabulary build + scoring join both consume it
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .localCheckpoint()
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    val scored = vocab.crossJoin(broadcast(total))
      .withColumn("logp_micro",
        round(log(col("cnt").cast("double") / col("n_total")) * 1000000.0).cast("long"))
      .select("token", "logp_micro")
    tok.join(broadcast(scored), Seq("token"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("logp_micro")).as("logprob_micro"))
      .withColumn("avg_logprob",
        round(col("logprob_micro").cast("double") / (col("n_tokens") * 1000000.0), 6))
      .orderBy("doc_id")
  }

  /** eq133 — shingle NOVELTY audit (corpus-freshness profile): treating
    * doc_id as arrival order, what fraction of each document's distinct
    * 3-gram shingles has never appeared in any earlier document? The
    * incremental-crawl signal — a feed whose novelty ratio collapses is
    * re-crawling what the corpus already holds (the cheap leading
    * indicator for eq104's full incremental-dedup verdicts).
    *
    * Shape: the memoized distinct-shingle frame ([[Dedup.shingleSets]],
    * shared with the whole Jaccard family), one explode, one
    * shuffle-on-shingle aggregate (`min(doc_id)` = first sighting), one
    * join back on the shingle key, one per-doc aggregate — all
    * vocabulary/instance-bounded, never doc×doc. Docs with <3 tokens
    * have no shingles and are absent, as in eq30. */
  def shingleNoveltyDf(docs: DataFrame): DataFrame = {
    val ex = Dedup.shingleSets(docs)
      .select(col("doc_id"), explode(col("sh")).as("sg"))
    val firstSeen = ex.groupBy("sg").agg(min(col("doc_id")).as("first_doc"))
    ex.join(firstSeen, Seq("sg"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** eq134 — SOURCE overlap matrix (mirror/syndication detection at feed
    * granularity): pairwise shingle-set Jaccard between sources. Two
    * feeds republishing each other show up as a high-overlap pair long
    * before doc-level dedup runs — the signal a curation pipeline uses
    * to drop or down-weight a redundant source wholesale.
    *
    * Scale shape: (source, shingle) distinct pairs from the memoized
    * doc-level shingle frame (one join on doc_id, one distinct); the
    * pair mining joins on the shingle key with per-shingle fan-out
    * bounded by n_sources² (≤400 here) — NEVER doc², and the output is
    * n_sources²-bounded. This is the same inverted-index shape as eq12
    * but at feed cardinality, where the quadratic term is harmless by
    * construction. */
  def sourceOverlapDf(docs: DataFrame): DataFrame = {
    val sx = Dedup.shingleSets(docs)
      .select(col("doc_id"), explode(col("sh")).as("sg"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select("source", "sg")
      .distinct()
      // feed both the size aggregate and the self-join from one
      // materialization (feed-cardinality × vocabulary rows)
      .localCheckpoint()
    val sizes = sx.groupBy("source").agg(count(lit(1)).as("n"))
    val a = sx.select(col("source").as("source_a"), col("sg"))
    val b = sx.select(col("source").as("source_b"), col("sg"))
    a.join(b, Seq("sg"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("sz_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("sz_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("common"), col("sz_a"), col("sz_b"),
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** eq132 — DSIR-style importance weights for data selection (Xie et
    * al. 2023, "Data Selection via Importance Resampling" — public
    * method): score every document by how much more likely its tokens are
    * under a TARGET unigram distribution than under the RAW corpus
    * distribution, log w(x) = Σ_t [ln p_target(t) − ln p_raw(t)]. Target
    * here = the `lang = 'en'` slice (the usual "select data that looks
    * like my target domain" shape); both distributions are add-one
    * smoothed over the SHARED union vocabulary, so unseen-in-target
    * tokens get a finite negative ratio instead of −∞.
    *
    * Engine-parity discipline (the eq47/eq90 convention): the only libm
    * calls — the two `ln`s — are quantized to one integer-micro log-ratio
    * per vocabulary entry, so per-doc sums are exact integer arithmetic,
    * order-free under any partitioning. Scale bound: these
    * sums are PER-DOCUMENT — worst case is doc length × max |logratio|
    * ≈ 2·10⁶ tokens (the eq-giant-doc cap) × ~ln(10¹³)·10⁶ ≈ 3·10⁷
    * micros ≈ 6·10¹³ ≪ 2⁶³, so BIGINT never wraps at any corpus scale;
    * only corpus-level micro-sums (eq135) need the DECIMAL widening.
    * `kept` = logratio_micro > 0 (the
    * deterministic threshold form of DSIR's resampling step: keep what
    * the target distribution prefers) — a pure per-row predicate, no
    * global rank, so selection stays shuffle-free at 100 TB.
    *
    * Scale shape: one tokenize+explode pass (materialized once), a
    * vocabulary-bounded aggregate carrying both counts in the same pass
    * (conditional sum — not two scans), ≤|V| ln calls on a broadcast
    * frame, one broadcast join back over the token stream, one per-doc
    * aggregate. */
  def dsirWeightsDf(docs: DataFrame): DataFrame = {
    // materialized once: vocabulary build + scoring join both consume it
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .localCheckpoint()
    // both distributions' counts in ONE vocabulary aggregate
    val vocab = tok.groupBy("token").agg(
      count(lit(1)).as("cnt_raw"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_tgt"))
    val totals = vocab.agg(
      sum(col("cnt_raw")).as("n_raw"), sum(col("cnt_tgt")).as("n_tgt"),
      count(lit(1)).as("v_size"))
    val scored = vocab.crossJoin(broadcast(totals))
      .withColumn("lr_micro",
        round((log((col("cnt_tgt") + 1).cast("double") / (col("n_tgt") + col("v_size")))
          - log((col("cnt_raw") + 1).cast("double") / (col("n_raw") + col("v_size"))))
          * 1000000.0).cast("long"))
      .select("token", "lr_micro")
    tok.join(broadcast(scored), Seq("token"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("lr_micro")).as("logratio_micro"))
      .withColumn("avg_logratio",
        round(col("logratio_micro").cast("double") / (col("n_tokens") * 1000000.0), 6))
      .withColumn("kept", col("logratio_micro") > 0)
      .orderBy("doc_id")
  }

  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** eq88 — BM25 top-10 retrieval over the inverted index: the query-based
    * corpus-filtering primitive (find the training docs most relevant to a
    * benchmark/query panel — the retrieval sibling of eq29's
    * decontamination). Queries are the doc_id < 5 documents' distinct
    * token sets; every corpus doc is scored
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with k1=1.2,
    * b=0.75 (the Robertson/Sparck-Jones formulation, public BM25).
    *
    * Engine-parity discipline (the eq47 convention): the ONE libm call
    * (`ln` in idf) is quantized to integer micros at the vocabulary level,
    * so every per-(query,doc,term) contribution is IEEE-basic-op
    * arithmetic on bit-identical doubles → micro-longs whose SUM is
    * order-free under any partitioning; both engines walk the same
    * expression tree. Scale shape: posting-list join fans out Σ_{t∈Q}
    * df(t) — the classic term-at-a-time retrieval plan, never corpus×Q;
    * stats and idf are vocabulary-bounded; the query panel broadcasts. */
  def bm25TopKDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized once: postings, doc lengths and the query panel all
    // re-consume the tokenized frame
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .localCheckpoint()
    val posts = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dls = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val idf = posts.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro",
        round(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))) * 1000000.0).cast("long"))
      .select("tok", "idf_micro")
    val qterms = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
    val byScore = Window.partitionBy("qid")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    qterms
      .join(posts, Seq("tok"))
      .join(idf, Seq("tok"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("tfnorm",
        col("tf").cast("double") * (lit(Bm25K1) + lit(1.0))
          / (col("tf").cast("double") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B)
            + lit(Bm25B) * (col("dl").cast("double")
              / (col("sum_dl").cast("double") / col("n_docs").cast("double"))))))
      .withColumn("c_micro",
        round(col("idf_micro").cast("double") * col("tfnorm")).cast("long"))
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("c_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("doc_id"), col("n_terms"),
        round(col("score_micro").cast("double") / 1000000.0, 6).as("bm25"))
      .orderBy("qid", "rank")
  }

  /** eq92 — cross-document duplicated-span fraction: per document, the
    * share of its 8-token shingle instances that occur in at least one
    * OTHER document — the doc-level signal behind exact-substring dedup
    * (strip or down-weight documents that are mostly recycled spans).
    * Complements eq30 (within-doc repetition) and eq12 (whole-doc
    * similarity): this one catches documents assembled from boilerplate
    * that are neither self-repetitive nor near-duplicates of any single
    * source.
    *
    * Scale shape: explode to shingle instances, distinct (doc, shingle)
    * roll-up for document frequency, then one instance⋈type join on the
    * shingle key — fan-out Σ df (linear in corpus tokens), never df².
    * Docs under 8 tokens have no spans and are excluded. */
  def dupSpansDf(docs: DataFrame): DataFrame = {
    // materialized once: the df roll-up and the per-doc probe both
    // consume the exploded instances
    val sh = docs.select(col("doc_id"),
        explode(graft.functions.ShingleExpressions.shingles(col("text"), 8)).as("sg"))
      .localCheckpoint()
    val docFreq = sh.select("doc_id", "sg").distinct()
      .groupBy("sg").agg(count(lit(1)).as("ndocs"))
    graft.Canonical.presentationOrder(
      sh.join(docFreq, Seq("sg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_fraction",
          round(col("n_dup").cast("double") / col("n_spans"), 6)),
      col("doc_id")) // canonicalization-only sort: corpus-sized output
  }

  /** eq127 — maximal duplicated span lengths: the suffix-granular view of
    * exact-substring dedup (Lee et al. 2022 build a corpus suffix array and
    * strip substrings of ≥ L tokens that occur twice; the distributed
    * re-expression is the CHUNKED SUFFIX KEY: every suffix truncated to
    * L=8 tokens becomes a shuffle key — exactly the 8-gram — and maximal
    * duplicated spans are recovered by CHAINING consecutive duplicated
    * window starts). Where eq92 reports the doc-level duplicated-window
    * fraction, this reports the spans themselves: per document, each
    * maximal run of m consecutive duplicated 8-gram start positions is a
    * maximal duplicated span of m+7 tokens (every 8-token window of it
    * occurs elsewhere), and the output is the per-doc span count, longest
    * span, and summed span length — the shape a dedup pass consumes to
    * decide strip-vs-drop. Invariant vs eq92 (pinned by test):
    * `total_span_tokens − 7·n_max_spans = eq92.n_dup`.
    *
    * Scale shape: one posexplode to 8-gram instances, the same Σ-df probe
    * join as eq92 (never df²), then the islands trick (pos − row_number)
    * inside a per-document window — partition key doc_id, frame bounded by
    * document length, no global sort but the presentation orderBy. Docs
    * with no duplicated window emit no row. */
  def maxDupSpansDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleExpressions.shingles(col("text"), 8)))
      .select(col("doc_id"), col("pos"), col("col").as("sg"))
      .localCheckpoint() // df roll-up and probe both consume the instances
    val docFreq = sh.select("doc_id", "sg").distinct()
      .groupBy("sg").agg(count(lit(1)).as("ndocs"))
    val dup = sh.join(docFreq, Seq("sg"))
      .filter(col("ndocs") > 1)
      .select(col("doc_id"), col("pos"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    graft.Canonical.presentationOrder(
      dup
        .withColumn("grp", col("pos") - row_number().over(byPos))
        .groupBy("doc_id", "grp")
        .agg((count(lit(1)) + lit(7)).as("span_tokens"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_max_spans"),
          max(col("span_tokens")).as("max_span_tokens"),
          sum(col("span_tokens")).as("total_span_tokens")),
      col("doc_id")) // canonicalization-only sort: corpus-sized output
  }

  /** eq93 — per-source quantile normalization of the eq8 quality score:
    * `percent_rank` within each source, so a single global threshold
    * keeps the same FRACTION of every source regardless of how its raw
    * score distribution sits — the standard fix for "source A's scorer
    * runs hot" bias when mixing crawls. Deterministic: rank order is
    * (quality, doc_id), no ties possible; the rank ratio is the same
    * integer division in both engines. One window shuffle on source. */
  def qualityQuantileNormDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("quality").asc_nulls_first, col("doc_id").asc)
    qualityCols(docs)
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("q_norm", round(percent_rank().over(w), 6))
      .withColumn("keep", col("q_norm") >= 0.5)
      .orderBy("doc_id")
  }

  /** eq90 — bigram-LM surprise scoring: train an add-one-smoothed bigram
    * model on the corpus itself, score every document by its average
    * bigram log-probability, and surface the 20 most surprising (lowest
    * avg) documents — the CCNet-style "LM perplexity filter" a pretraining
    * pipeline runs to catch gibberish, boilerplate explosions, and
    * wrong-language spills that unigram stats (eq47) miss.
    *
    * Determinism is eq47's discipline one level up: `ln` runs once per
    * bigram TYPE (vocabulary-bounded, never per instance), quantized to
    * integer micros; per-document sums are then exact BIGINT adds, so the
    * ranking cut is bit-stable. P(w2|w1) = (c(w1w2)+1) / (c(w1·)+V) with
    * c(w1·) = bigram starts and V = unigram vocabulary size.
    *
    * Scale posture: two token-key shuffles (bigram count, context
    * roll-up: vocab-bounded frames), one broadcast of the 1-row V, one
    * bigram-key join back to instances, TakeOrderedAndProject for the
    * cut. Single-token documents have no bigrams and drop out — a length
    * filter's job (eq35), not the LM's. */
  def bigramSurpriseDf(docs: DataFrame): DataFrame = {
    // bigram instances — materialized once: type counts and the scoring
    // join both consume it (two corpus shingling passes otherwise)
    val bi = docs
      .select(col("doc_id"),
        explode(graft.functions.ShingleExpressions.shingles(col("text"), 2)).as("bg"))
      .localCheckpoint()
    val bc = bi.groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint() // vocab-bounded; context roll-up + scorer reuse it
    val ctx = bc
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum(col("c_ab")).as("c_ctx"))
    val vocab = docs
      .select(explode(tokens(col("text"))).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    val scored = bc
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp_micro",
        round(log((col("c_ab") + lit(1)).cast("double") / (col("c_ctx") + col("v")))
          * 1000000.0).cast("long"))
      .select("bg", "logp_micro")
    bi.join(scored, Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp_micro")).as("logprob_micro"))
      .withColumn("avg_logprob",
        round(col("logprob_micro").cast("double") / (col("n_bigrams") * 1000000.0), 6))
      .orderBy(col("avg_logprob").asc, col("doc_id").asc)
      .limit(20)
  }

  /** eq28 — TF-IDF top terms: the 3 highest-scoring tokens per document.
    * tf = in-doc occurrences, idf = (N+1)/(df+1) as a RATIO rather than its
    * log — log is monotone, so the ranking is identical, and ×/÷ are
    * IEEE-exact in both engines while libm `log` is not guaranteed
    * correctly-rounded (a last-ulp divergence could flip a rank at the
    * hash-compare). Score rounded to 6 dp before the rank cut; ties break
    * on the token string. One shuffle per aggregation; the df side is a
    * token-level aggregate, naturally bounded by vocabulary size. */
  def tfidfTopTermsDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val byScore = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    tf.join(df, Seq("tok"))
      .withColumn("score", round(
        col("tf") * (lit(n + 1.0) / (col("df") + lit(1.0))), 6))
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** eq109 — n-gram diversity (the "distinct-n" metric): per language
    * and n ∈ {1,2,3}, total vs distinct n-gram counts and their ratio —
    * the corpus-health probe for template spam and mode collapse (a
    * boilerplate-flooded slice shows a cratered distinct-2/3 ratio long
    * before any per-doc signal fires). Shingling is the shared native
    * expression at widths 1–3; the distinct count shuffles on the n-gram
    * key — vocabulary-bounded, the same scale class as eq33's heavy
    * hitters. Output is |langs| × 3 rows regardless of corpus size. */
  def ngramDiversityDf(docs: DataFrame): DataFrame =
    (1 to 3).map { n =>
      docs.select(col("lang"), lit(n).as("n"),
        explode(graft.functions.ShingleExpressions.shingles(col("text"), n)).as("g"))
    }.reduce(_ unionByName _)
      .groupBy("lang", "n")
      .agg(
        count(lit(1)).as("total_ngrams"),
        countDistinct(col("g")).as("distinct_ngrams"))
      .withColumn("distinct_ratio",
        round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6))
      .orderBy("lang", "n")

  /** eq108 — PII detection + redaction, the release gate no training
    * corpus ships without. Four detector regexes (SSN-shape, phone,
    * email, dotted-quad IPv4 — deliberately RE2-safe: no lookaround, no
    * backreferences, ASCII `\d`, so the Java and RE2 engines match
    * identically) are counted per document and then replaced, in a FIXED
    * documented order (ssn → phone → email → ip; the patterns are
    * mutually non-overlapping by shape, the order is pinned anyway so
    * both engines rewrite identically), with bracketed placeholders. The
    * synthetic corpus carries no PII by construction, so like eq45 this
    * runs over a checked-in JSONL fixture; the per-doc counts AND the md5
    * of every redacted text are hash-checked. Pure map-side regex work —
    * at 100 TB this is a narrow projection with zero shuffle (the
    * presentation sort stands in for the partitioned write). */
  val PiiFixturePath = "/root/repo/src/test/resources/fixtures/pii_docs.jsonl"

  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("ssn",   "\\b\\d{3}-\\d{2}-\\d{4}\\b",                        "[SSN]"),
    ("phone", "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b",                "[PHONE]"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",   "[EMAIL]"),
    ("ip",    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",   "[IP]"))

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubDf(spark.read
      .schema("doc_id LONG, text STRING, lang STRING")
      .json(PiiFixturePath))

  /** eq112 — BPE merge-pair counting, the first step of byte-pair-encoding
    * tokenizer training: over every whitespace-token occurrence, count the
    * adjacent character pairs (the initial BPE symbols are single chars,
    * so the top pair is the first merge a trainer would apply) and keep
    * the 30 heaviest candidates. All map-side until the pair groupBy —
    * `sequence`/`transform`/`substring` are codegen'd array expressions,
    * no UDF — and the shuffle key space is bounded by the character-pair
    * vocabulary (≤ |alphabet|²), not the corpus, so the plan is the same
    * shape at 100 TB: full scan, tiny shuffle, 30-row result
    * (`TakeOrderedAndProject`). Ties at the cut break on the pair string,
    * so the result is deterministic and hash-checkable. */
  def bpePairsDf(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(30)

  /** eq126 — iterative BPE trainer (the loop eq112 only takes the first
    * step of): run N merge rounds of byte-pair-encoding tokenizer training
    * and emit the learned merge table (merge_rank, pair, cnt) — the actual
    * artifact a BPE trainer produces. Faithful to the published algorithm
    * (Sennrich et al. 2016): training iterates over the WORD VOCABULARY
    * weighted by occurrence count (one groupBy over the corpus up front,
    * then every round touches only |vocab| rows — at 100 TB the corpus is
    * scanned once and the loop runs over a frame bounded by vocabulary
    * size, not corpus size), each round picks the globally heaviest
    * adjacent symbol pair (ties broken on the pair string, so the merge
    * sequence is deterministic and hash-checkable) and rewrites every
    * word's symbol sequence left-to-right non-overlapping before
    * re-counting — real re-tokenization between rounds, the same
    * bounded-iteration + per-round `localCheckpoint` discipline as eq89's
    * Lloyd loop.
    *
    * Symbol sequences are carried as a single string with every symbol
    * enclosed in U+001F separators (`␟a␟␟b␟…` — tokens are
    * whitespace-split so the separator cannot occur in a symbol): merging
    * pair (l,r) is then the literal `replace` of `␟l␟␟r␟` with `␟lr␟`,
    * whose scan-after-match semantics are exactly BPE's left-to-right
    * non-overlapping merge ("a a a" + (a,a) → "aa a") and identical in
    * Spark and DuckDB, keeping the whole round codegen'd string/array work
    * with no UDF. Each round's argmax is a 1-row checkpointed frame
    * attached back by broadcast cross join (scalar attachment, not a
    * cartesian); the merge table is the union of the N 1-row frames. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainDf(Tables.load(spark, dir, "documents"), BpeTrainMerges)

  private[graft] val BpeTrainMerges = 6
  private val BpeSep = ""

  /** Adjacent symbol pairs of an enclosed symbol string, as "l r" strings.
    * Guarded: a fully-merged single-symbol word yields an empty array
    * (Spark's `sequence(1, 0)` would otherwise DESCEND, not return empty). */
  private def bpeAdjacentPairs(s: Column): Column = {
    val sy = filter(split(s, BpeSep), x => x =!= lit(""))
    when(size(sy) >= 2,
      transform(sequence(lit(1), size(sy) - 1),
        i => concat_ws(" ", element_at(sy, i), element_at(sy, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  def bpeTrainDf(docs: DataFrame, merges: Int): DataFrame =
    bpeLearn(docs, merges)._1

  /** bpeLearn results memoized per (session, docs plan, merge count) — the
    * trainer (eq126) and the encoder (eq129) share one mining pass, the
    * same materialize-once discipline as the Dedup pair table. */
  private val bpeLearnCache = new PlanMemo[(DataFrame, DataFrame)]

  /** Mining passes actually run for the BPE vocabulary (see
    * [[graft.pipeline.Dedup.pairTableMisses]] — same contract, asserted by
    * the eq136 pipeline spec). */
  private[graft] def bpeLearnMisses: Long = bpeLearnCache.misses.get

  private def bpeLearn(docs: DataFrame, merges: Int): (DataFrame, DataFrame) =
    bpeLearnCache(docs, merges)(bpeLearnUncached(docs, merges))

  /** The shared train loop behind eq126 (merge table) and eq129 (encode):
    * returns the N chosen merge rows and the final vocabulary frame
    * `(tok, s, wc)` — `s` is the enclosed symbol string after ALL N
    * rewrites (the final-round rewrite is vocabulary-bounded, so running
    * it unconditionally costs ~nothing and lets the two consumers share
    * one memo entry). Carrying `tok` alongside `s` changes nothing about
    * the merge sequence (the enclosure is injective, so grouping by `tok`
    * and grouping by `s` are the same partition of the vocabulary). */
  private def bpeLearnUncached(docs: DataFrame, merges: Int)
      : (DataFrame, DataFrame) = {
    var vocab = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("wc"))
      .select(col("tok"),
        regexp_replace(col("tok"), "(.)", BpeSep + "$1" + BpeSep).as("s"),
        col("wc"))
      .localCheckpoint()
    val chosen = Seq.newBuilder[DataFrame]
    for (r <- 1 to merges) {
      // the round's argmax pair — 1 row, checkpointed so the output row and
      // the merge application both read the one evaluation
      val best = vocab
        .select(col("wc"), explode(bpeAdjacentPairs(col("s"))).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1)
        .localCheckpoint()
      chosen += best.select(lit(r).as("merge_rank"), col("pair"), col("cnt"))
      // Exhaustion guard: when every word is fully merged before round N,
      // `best` is EMPTY and the rewrite crossJoin would erase the
      // vocabulary — the trainer wouldn't notice (its rows are already
      // chosen) but the encoder would fall back to unmerged lengths for
      // every token. Checking the checkpointed 1-row frame is one trivial
      // job; an exhausted round leaves the vocabulary untouched (and every
      // later round is exhausted too, so the loop degenerates to no-ops).
      if (!best.isEmpty) {
        val sides = broadcast(best.select(
          split(col("pair"), " ").getItem(0).as("lsym"),
          split(col("pair"), " ").getItem(1).as("rsym")))
        vocab = vocab.crossJoin(sides)
          .select(col("tok"),
            replace(col("s"),
              concat(lit(BpeSep), col("lsym"), lit(BpeSep),
                lit(BpeSep), col("rsym"), lit(BpeSep)),
              concat(lit(BpeSep), col("lsym"), col("rsym"), lit(BpeSep))).as("s"),
            col("wc"))
          .localCheckpoint()
      }
    }
    (chosen.result().reduce(_ union _).orderBy("merge_rank"), vocab)
  }

  /** `(tok, sy_after)` — encoded symbol count per DISTINCT vocabulary
    * token under the memoized corpus-wide merge table; the shared encode
    * substrate of eq129 and the eq136 composed pipeline. */
  private[pipeline] def bpeEncTable(docs: DataFrame, merges: Int): DataFrame =
    bpeLearn(docs, merges)._2
      .select(col("tok"),
        size(filter(split(col("s"), BpeSep), x => x =!= lit("")))
          .cast("long").as("sy_after"))

  /** eq129 — BPE ENCODE: the other half of the tokenizer lifecycle. eq126
    * learns the merge table; this applies it to every token occurrence in
    * the corpus and reports, per source, the encoded footprint — token
    * count, character symbols before, symbols after all merges, tokens
    * that got at least one merge, and the compression ratio the learned
    * vocabulary buys. The 100 TB shape is the important part: encoding is
    * computed once per DISTINCT token on the vocabulary frame (bounded by
    * vocabulary size, not corpus size — the same frame the trainer already
    * owns), then joined back to the corpus token stream on `tok`, so the
    * corpus is touched exactly once and never carries symbol strings.
    * Tokens shorter than 2 chars never enter the vocabulary (the trainer's
    * own rule) and encode as their own length via the join fallback. The
    * ratio divides two exact longs — one IEEE divide, hash-safe. */
  def bpeEncodeDf(docs: DataFrame, merges: Int): DataFrame = {
    val enc = bpeEncTable(docs, merges)
    val stream = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1)
    stream
      .join(enc, Seq("tok"), "left_outer")
      .select(col("source"), col("tok"),
        coalesce(col("sy_after"), length(col("tok")).cast("long")).as("sy"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(length(col("tok")).cast("long")).as("chars_total"),
        sum(col("sy")).as("symbols_total"),
        sum(when(col("sy") < length(col("tok")).cast("long"), 1L)
          .otherwise(0L)).as("merged_tokens"))
      .withColumn("compression",
        round(col("chars_total").cast("double") /
          col("symbols_total").cast("double"), 6))
      .orderBy("source")
  }

  /** eq113 — Spearman rank correlation between two per-document quality
    * signals (length in chars vs punctuation density), per language: the
    * standard "do my quality metrics agree?" audit before gating a corpus
    * on either one. Ranks are `row_number` with a doc_id tie-break —
    * deterministic, so unlike average-tied-rank Spearman the statistic is
    * hash-checkable; with distinct-valued signals the two coincide. The
    * correlation is computed from the five integer rank-moment sums
    * (n·Σxy − Σx·Σy over the √ terms), each exact in a long, so the only
    * floating-point is the final sqrt/divide — identical single IEEE ops
    * in both engines. Two window sorts per language partition + a 5-row
    * aggregate; at 100 TB ranks of genuinely corpus-sized partitions
    * would move to approximate ranks off x26-style quantile sketches. */
  def rankCorrDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = docs.select(
      col("doc_id"), col("lang"), col("n_chars"),
      regexp_count(col("text"), lit("[.,;:!?]")).as("n_punct"))
    val byLen   = Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)
    val byPunct = Window.partitionBy("lang").orderBy(col("n_punct").asc, col("doc_id").asc)
    sig
      .withColumn("rx", row_number().over(byLen).cast("long"))
      .withColumn("ry", row_number().over(byPunct).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx")).as("sx"),
        sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
      .select(
        col("lang"), col("n"),
        // rank variance is zero ONLY for a 1-row language slice
        // (row_number ranks are distinct otherwise) — Spearman is
        // undefined there, and the unguarded divide is an ANSI crash on
        // the first single-doc slice (found by the degenerate-corpus drill);
        // NULL in both engines (oracle: NULLIF on the same denominator)
        round(
          graft.pipeline.Similarity.safeDiv(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"),
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("spearman"))
      .orderBy("lang")
  }

  /** eq116 — categorical association audit: mutual information, χ² and
    * Cramér's V between two metadata columns (lang × source) — the
    * feature-relevance / leakage-screening question a training pipeline
    * asks before conditioning a sampler on a column ("does source leak
    * language?"). One joint groupBy(x, y) is the only data-sized shuffle;
    * the ≤|X|·|Y| cell frame joins broadcast marginals and a broadcast
    * 1-row total. Per-cell MI terms are floored into integer MICROS and
    * summed as BIGINTs (order-free, the keySkewStats entropy pattern);
    * χ² uses the identity n·(Σ c²/(r·s) − 1) with the per-cell ratio as
    * exact integer division — so the only floating point is one `ln` per
    * cell inside the floor and the three final renders, every double op
    * written in the same shape as the oracle SQL. */
  def assocAuditDf(docs: DataFrame): DataFrame = {
    val joint = docs.groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val rx = docs.groupBy("lang").agg(count(lit(1)).as("r"))
    val cy = docs.groupBy("source").agg(count(lit(1)).as("s"))
    val tot = docs.agg(
      count(lit(1)).as("n"),
      countDistinct(col("lang")).as("kx"),
      countDistinct(col("source")).as("ky"))
    joint
      .join(broadcast(rx), Seq("lang"))
      .join(broadcast(cy), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("kx"), col("ky"),
        floor(col("c") * log((col("n") * col("c")).cast("double") /
          (col("r") * col("s"))) * lit(1000000)).cast("long").as("mi_micro"),
        expr("c * c * 1000000L div (r * s)").as("chi_micro"))
      .groupBy("n", "kx", "ky")
      .agg(count(lit(1)).as("n_cells"),
        sum("mi_micro").as("mi_sum"), sum("chi_micro").as("chi_sum"))
      .select(
        col("n"), col("n_cells"), col("kx").as("n_langs"), col("ky").as("n_sources"),
        round(col("mi_sum").cast("double") / (col("n") * lit(1000000L)), 6)
          .as("mi_nats"),
        round((col("n") * col("chi_sum")).cast("double") / lit(1000000) - col("n"), 6)
          .as("chi2"),
        // a 1×1 contingency (one lang or one source) has min(r−1,c−1)=0:
        // Cramér's V undefined, NULL in both engines (pinned by the
        // degenerate-corpus drill)
        round(sqrt(Similarity.safeDiv(
          (col("n") * col("chi_sum")).cast("double") / lit(1000000) - col("n"),
          (col("n") * least(col("kx") - 1, col("ky") - 1)).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** eq119 — Gopher-style multi-rule quality gate (the published repetition
    * and well-formedness screens a pretraining corpus is filtered with):
    * word count in [50, 100k], mean word length in [3, 10], ≥2 stop-word
    * hits, most-frequent-token share ≤ 10%. One explode feeds both
    * aggregation levels — (doc, token) counts partial-aggregate map-side,
    * then collapse to one row per doc — so the whole gate is two
    * doc-keyed shuffles with no skew surface (per-doc vocabulary is
    * bounded by doc length). Ratios are integer PPM (`x·10⁶ div n_words`),
    * so the flags are bit-deterministic and the oracle reproduces them
    * without any floating point. */
  def gopherGateDf(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
    cnt
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_words"),
        sum(col("c") * length(col("w"))).as("n_word_chars"),
        max("c").as("top_c"),
        coalesce(
          sum(when(col("w").isin("the", "a", "of", "and", "to"), col("c"))),
          lit(0L)).as("stop_hits"))
      .select(
        col("doc_id"), col("n_words"),
        expr("n_word_chars * 1000000L div n_words").as("mwl_ppm"),
        col("stop_hits"),
        expr("top_c * 1000000L div n_words").as("top_ppm"))
      .withColumn("r_words", col("n_words").between(50L, 100000L))
      .withColumn("r_wlen", col("mwl_ppm").between(3000000L, 10000000L))
      .withColumn("r_stop", col("stop_hits") >= 2L)
      .withColumn("r_top", col("top_ppm") <= 100000L)
      .withColumn("pass",
        col("r_words") && col("r_wlen") && col("r_stop") && col("r_top"))
      .orderBy("doc_id")
  }

  def piiScrubDf(docs: DataFrame): DataFrame = {
    val counted = PiiPatterns.foldLeft(docs) { case (df, (name, re, _)) =>
      df.withColumn(s"n_$name", regexp_count(col("text"), lit(re)))
    }
    val redacted = PiiPatterns.foldLeft(col("text")) { case (c, (_, re, tag)) =>
      regexp_replace(c, re, tag)
    }
    counted
      .withColumn("redacted_md5", md5(redacted.cast("binary")))
      .select(col("doc_id"), col("lang"),
        col("n_ssn"), col("n_phone"), col("n_email"), col("n_ip"),
        (col("n_ssn") + col("n_phone") + col("n_email") + col("n_ip")).as("n_pii"),
        col("redacted_md5"))
      .orderBy("doc_id")
  }
}
