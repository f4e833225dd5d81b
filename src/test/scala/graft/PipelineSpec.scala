package graft

import org.apache.spark.sql.functions._

import graft.pipeline._

@SlowTest
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String, String, String, Long)]) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dup count on a literal fixture with known duplicates") {
    val docs = docsDf(Seq(
      (0L, "a b c", "en", "s", 5L), (1L, "a b c", "en", "s", 5L),
      (2L, "a b c", "en", "s", 5L), (3L, "x y z", "en", "s", 5L)))
    assert(Dedup.exactDupCountDf(docs).head().getLong(0) == 2L)
  }

  test("dedup keep-first keeps the smallest doc_id per content") {
    val docs = docsDf(Seq(
      (5L, "a b c", "en", "s1", 5L), (1L, "a b c", "en", "s2", 5L),
      (3L, "x y z", "en", "s1", 5L)))
    val kept = Dedup.dedupKeepFirstDf(docs).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(kept == Map("s1" -> 1, "s2" -> 1)) // doc 1 (s2) beats doc 5 (s1)
  }

  test("eq127 maximal dup spans: planted fixture values + eq92 agreement") {
    // docs 0/1 share a 9-token run (one maximal span of 9: dup window
    // starts chain 2 long); docs 2/3 share two separate 8-token runs
    // (two islands of one window each); doc 4 is unique (no row).
    val c9 = (1 to 9).map(i => s"c$i").mkString(" ")
    val d8 = (1 to 8).map(i => s"d$i").mkString(" ")
    val e8 = (1 to 8).map(i => s"e$i").mkString(" ")
    val docs = docsDf(Seq(
      (0L, s"a0 a1 $c9 a2", "en", "s", 0L),
      (1L, s"$c9 b0 b1 b2", "en", "s", 0L),
      (2L, s"$d8 m0 $e8", "en", "s", 0L),
      (3L, s"$e8 n0 n1 $d8", "en", "s", 0L),
      (4L, (1 to 9).map(i => s"u$i").mkString(" "), "en", "s", 0L)))
    val spans = TextAnalysis.maxDupSpansDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq(
      (0L, 1L, 9L, 9L), (1L, 1L, 9L, 9L),
      (2L, 2L, 8L, 16L), (3L, 2L, 8L, 16L)))
    // agreement with eq92: same doc set, and each doc's duplicated-window
    // count decomposes as total_span_tokens − 7·n_max_spans = n_dup
    val dup92 = TextAnalysis.dupSpansDf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dup92.filter(_._2 > 0).keySet == spans.map(_._1).toSet)
    spans.foreach { case (id, n, _, total) => assert(total - 7 * n == dup92(id)) }
  }

  test("bpe trainer: hand-computed 3-merge fixture") {
    // vocab: abab wc=3, cd wc=3. Round 1: "a b" 2·3=6 beats "b a" 3 and
    // "c d" 3 → abab becomes [ab,ab]. Round 2: "ab ab" 3 ties "c d" 3,
    // pair-string tie-break picks "ab ab" → abab fully merged. Round 3:
    // only "c d" 3 remains.
    val docs = docsDf(Seq(
      (0L, "abab abab cd", "en", "s", 12L),
      (1L, "abab cd cd", "en", "s", 10L)))
    val out = TextAnalysis.bpeTrainDf(docs, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "a b", 6L), (2, "ab ab", 3L), (3, "c d", 3L)))
  }

  test("bpe trainer: left-to-right non-overlapping merge and pair exhaustion") {
    // "aaa" symbols [a,a,a]: round 1 merges (a,a) left-to-right
    // NON-overlapping → [aa,a] (not [aa,aa]); round 2 merges (aa,a);
    // round 3 finds no pairs left and emits no row.
    val docs = docsDf(Seq((0L, "aaa aaa", "en", "s", 7L)))
    val out = TextAnalysis.bpeTrainDf(docs, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "a a", 4L), (2, "aa a", 2L)))
  }

  test("bpe encode: learned merges applied corpus-wide, per-source footprint") {
    // Same vocabulary as the trainer fixture plus a 1-char token: merges
    // learned are (a,b) → (ab,ab) → (c,d), so "abab" (4 chars) and "cd"
    // (2 chars) both encode to 1 symbol. "x" is below the trainer's
    // 2-char vocabulary floor and encodes as itself via the join fallback.
    val docs = docsDf(Seq(
      (0L, "abab abab cd", "en", "s1", 12L),
      (1L, "abab cd cd", "en", "s2", 10L),
      (2L, "x abab", "en", "s3", 6L)))
    val out = TextAnalysis.bpeEncodeDf(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getAs[Double]("compression")))
    assert(out.toSeq == Seq(
      ("s1", 3L, 10L, 3L, 3L, 3.333333),
      ("s2", 3L, 8L, 3L, 3L, 2.666667),
      ("s3", 2L, 5L, 2L, 1L, 2.5)))
  }

  test("bpe encode: pair exhaustion before the merge budget keeps the learned vocabulary") {
    // "aaa" exhausts after 2 merges ([a,a,a] -> [aa,a] -> [aaa]); with a
    // 3-merge budget the empty round-3 argmax must NOT erase the
    // vocabulary, so "aaa" still encodes to 1 symbol
    val docs = docsDf(Seq((0L, "aaa aaa", "en", "s", 7L)))
    val out = TextAnalysis.bpeEncodeDf(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getAs[Double]("compression")))
    assert(out.toSeq == Seq(("s", 2L, 6L, 2L, 2L, 3.0)))
  }

  test("bm25: a query doc retrieves itself first; irrelevant docs score below relevant") {
    // doc 0 is the query (doc_id < 5); doc 7 shares most of its terms,
    // doc 8 shares one common term, doc 9 shares nothing
    val docs = docsDf(Seq(
      (0L, "spark shuffles partition data across executors", "en", "s", 46L),
      (7L, "spark shuffles partition data across the cluster nodes", "en", "s", 54L),
      (8L, "databases store data", "en", "s", 20L),
      (9L, "unrelated words entirely here", "en", "s", 29L)))
    val out = TextAnalysis.bm25TopKDf(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getAs[Double]("bm25")))
    assert(out.forall(_._1 == 0L), "only doc 0 is a query")
    val ranked = out.sortBy(_._2).map(_._3)
    assert(ranked.head == 0L, "the query doc itself must rank first")
    assert(ranked.indexOf(7L) < ranked.indexOf(8L), "term overlap must order 7 above 8")
    assert(!ranked.contains(9L), "a doc sharing no query term never scores")
    val scores = out.sortBy(_._2).map(_._4)
    assert(scores.sameElements(scores.sortBy(-(_: Double))), "scores non-increasing by rank")
  }

  test("bm25: plan is hash-join retrieval — no cartesian, query panel broadcast (sf0.001)") {
    val out = TextAnalysis.bm25TopKDf(Tables.load(spark, Sf, "documents"))
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    // the posting/idf/dl joins must all be keyed hash joins; the only
    // nested-loop joins allowed are the two deliberate 1-row stats cross
    // joins (explicit Cross build, broadcast side is a single agg row)
    assert(plan.contains("BroadcastHashJoin"), s"retrieval joins not hash joins:\n$plan")
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 2,
      s"unexpected nested-loop join (non-Cross or >2):\n$plan")
  }

  test("jaccard pairs: identical docs sim 1.0; disjoint docs absent") {
    val docs = docsDf(Seq(
      (0L, "the quick brown fox jumps", "en", "s", 25L),
      (1L, "the quick brown fox jumps", "en", "s", 25L),
      (2L, "pack my box with five dozen", "en", "s", 27L)))
    val pairs = Dedup.jaccardPairsDf(docs).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0 && pairs(0).getLong(1) == 1)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("jaccard near-dup: one-token edit scores high but below 1.0") {
    val docs = docsDf(Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 50L),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "s", 50L)))
    val pairs = Dedup.jaccardPairsDf(docs).collect()
    assert(pairs.length == 1)
    val j = pairs(0).getAs[Double]("jaccard")
    // 8 shingles each, differing in the final token -> 7 common of 9 union
    assert(math.abs(j - 7.0 / 9) < 1e-6)
  }

  test("simhash near-dup: one-token edit lands within hamming <= 6") {
    // ~30 tokens so the ±1 bit votes are stable enough that a single edited
    // token flips few fingerprint bits (a 12-token doc is vote-noisy: the
    // same edit lands at hamming 8 with no shared chunk)
    val base = "the quick brown fox jumps over the lazy dog while seven wizards " +
      "brew strong coffee near the ancient stone bridge at dawn watching " +
      "silver clouds drift past tall mountain peaks"
    val docs = docsDf(Seq(
      (0L, base, "en", "s", 50L),
      (1L, base.replace("dawn", "night"), "en", "s", 50L)))
    val pairs = Dedup.simhashPairsDf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs.contains((0L, 1L)), "one-token edit should bucket together")
    assert(pairs((0L, 1L)) <= 6)
  }

  test("native ShingleExpressions match the declarative HOF formulation they replaced") {
    import graft.functions.ShingleExpressions
    val docs = graft.Tables.load(spark, Sf, "documents").limit(50)
    // Shingles == shingles3(tokens(...))
    val both = docs.select(
      ShingleExpressions.shingles(col("text"), 3).as("native"),
      TextAnalysis.shingles3(TextAnalysis.tokens(col("text"))).as("declarative"))
    assert(both.filter(not(col("native") === col("declarative"))).isEmpty)
    // ShingleHashes == distinct xxhash64 of the string shingles
    val hashes = docs.select(
      ShingleExpressions.shingle_hashes(col("text"), 3).as("native"),
      array_distinct(transform(
        TextAnalysis.shingles3(TextAnalysis.tokens(col("text"))), s => xxhash64(s))).as("declarative"))
    assert(hashes.filter(not(col("native") === col("declarative"))).isEmpty)
  }

  test("native text counts match the column formulations they replaced") {
    import graft.functions.TextCountExpressions._
    val stopwords = Seq("the", "a", "data", "value")
    val zhMarkers = Seq("的", "是", "了", "在", "我")
    // edge cases: empty, whitespace-only, tabs/newlines (Spark trim strips
    // 0x20 only; Java split -1 keeps leading/trailing empty fields),
    // multibyte (CJK + accents + Kelvin sign U+212A whose lowercase is
    // ASCII k), digits/punctuation runs, long mixed text
    val edge = Seq(
      "", " ", "   ", "\t", "\tx", "x\t", "a\tb\nc", "\n\n",
      "the quick brown fox", "THE The tHe", "a", " a ", "a  b",
      "的 是 了 在 我", "héllo wörld", "KK kelvin", "café 的the",
      "12 3.4 a1b2!?", "!!!", "a-b_c d,e", "  the   a  data ",
      "x" * 600 + " the a").zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
    val fixture = docsDf(edge).select(col("text"))
    val corpus = graft.Tables.load(spark, Sf, "documents").select(col("text")).limit(200)
    for (docs <- Seq(fixture, corpus)) {
      val both = docs.select(
        ws_token_count(col("text")).as("ws_n"),
        size(TextAnalysis.tokens(col("text"))).as("ws_d"),
        re_token_count(col("text")).as("re_n"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("re_d"),
        alpha_count(col("text")).as("al_n"),
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).as("al_d"),
        token_set_count(col("text"), stopwords).as("sw_n"),
        size(filter(TextAnalysis.tokens(col("text")),
          t => t.isin(stopwords: _*))).as("sw_d"),
        token_set_count(col("text"), zhMarkers).as("zh_n"),
        size(filter(TextAnalysis.tokens(col("text")),
          t => t.isin(zhMarkers: _*))).as("zh_d"))
      val bad = both.filter(
        col("ws_n") =!= col("ws_d") || col("re_n") =!= col("re_d") ||
        col("al_n") =!= col("al_d") || col("sw_n") =!= col("sw_d") ||
        col("zh_n") =!= col("zh_d"))
      assert(bad.isEmpty, s"native/declarative divergence:\n${bad.head(5).mkString("\n")}")
    }
  }

  /** Pins [[graft.functions.Md5Expressions]] bit-equal to the
    * conv(substring(md5)) column formulations the DuckDB oracles mirror:
    * 28-bit key, and bit j of the 4×16 packing == bit (j%4) of hex digit
    * j/4. Shared by the fixed-fixture and property tests. */
  private def assertMd5Parity(vals: org.apache.spark.sql.DataFrame): Unit = {
    import graft.functions.Md5Expressions
    val key = vals.select(
      Md5Expressions.md5_key28(col("s")).as("native"),
      conv(substring(md5(col("s").cast("binary")), 1, 7), 16, 10).cast("long").as("declarative"))
    assert(key.filter(col("native") =!= col("declarative")).isEmpty)
    val digits = (0 until 16).map(k =>
      conv(substring(md5(col("s").cast("binary")), k + 1, 1), 16, 10).cast("int").as(s"d$k"))
    val both = vals.select(col("s") +: (Md5Expressions.md5_bits_4x16(col("s")).as("hb") +: digits): _*)
    val checks = (0 until 64).map { j =>
      (shiftright(element_at(col("hb"), j / 16 + 1), j % 16).bitwiseAND(1) ===
        shiftright(col(s"d${j / 4}"), j % 4).bitwiseAND(1))
    }.reduce(_ && _)
    assert(both.filter(not(checks)).isEmpty)
  }

  test("native md5 key/bit expressions match the conv(substring(md5)) formulations") {
    assertMd5Parity((Seq("", "a", "the", "café", "的", "x y z", "Brand#12",
      "alpha beta gamma", "\t", "0123456789abcdef", "🦀 crab", "👩‍🔬🧪") ++
      (0 until 50).map(i => s"tok$i")).toDF("s"))
  }

  test("native md5 expressions: property over arbitrary unicode strings (one batched job)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // arbitrary unicode — whole SURROGATE-PAIR emoji appended as strings
    // (a charAt(0) would yield a lone high surrogate that UTF8String
    // replaces with '?', silently losing 4-byte-UTF-8 coverage) — one
    // deterministic 300-sample batch, checked in a single Spark job
    // rather than a job per sample
    val gen = Gen.listOfN(300, for {
      n <- Gen.chooseNum(0, 40)
      chars <- Gen.listOfN(n, Gen.frequency(
        5 -> Gen.alphaNumChar.map(_.toString),
        2 -> Gen.oneOf(" ", "\t", "\n", ".", "@", "#"),
        2 -> Gen.choose('À', 'ɏ').map(_.toString),
        2 -> Gen.choose('一', '鿿').map(_.toString),
        1 -> Gen.oneOf("🦀", "🧪", "👩‍🔬", "𝕊")))
    } yield chars.mkString)
    val samples = gen.pureApply(Gen.Parameters.default, Seed(42L))
    assertMd5Parity(samples.toDF("s"))
  }

  test("prefix-filtered jaccard (PPJoin) is identical to the plain inverted join (sf0.001)") {
    val docs = graft.Tables.load(spark, Sf, "documents")
    val plain = Dedup.jaccardPairsPlainDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val prefix = Dedup.jaccardPairsPrefixDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    assert(plain.nonEmpty)
    assert(plain.sameElements(prefix))
  }

  test("PPJoin ≡ plain on randomized corpora with hot boilerplate shingles (property)") {
    // The prefix theorem's boundary cases — docs shorter than the prefix
    // length, ceil() at exact threshold multiples, one shingle shared by
    // half the corpus — are exactly what random corpora hit and the live
    // fixture may not. Five seeded corpora of 40 docs with a planted
    // boilerplate prefix (a deliberately hot shingle run).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val boiler = "lorem ipsum dolor sit amet consectetur"
    val docGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
      withBoiler <- Gen.oneOf(true, false)
    } yield (if (withBoiler) boiler + " " else "") + ws.mkString(" ")
    for (seed <- 1L to 5L) {
      val rows = Gen.listOfN(40, docGen)
        .pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      val plain = Dedup.jaccardPairsPlainDf(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      val prefix = Dedup.jaccardPairsPrefixDf(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      assert(plain.sameElements(prefix),
        s"seed $seed: plain ${plain.length} pairs vs prefix ${prefix.length}")
    }
  }

  test("jaccard family default is the prefix path: hash joins only, no cartesian") {
    val docs = graft.Tables.load(spark, Sf, "documents")
    // the family default (fed to eq12/eq26/eq49/eq61/eq84) must candidate-
    // generate on the rare-shingle prefix — hash joins end to end
    val plan = Dedup.jaccardPairsDf(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("minhash-LSH pairs are a subset of exact pairs and recall all high-sim pairs (sf0.001)") {
    val exact = Dedup.jaccardPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val lsh = SparkEntry.queries("x1_minhash_lsh_pairs")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    // verified candidates can never contain a non-pair (exact verify step)
    lsh.foreach { case (k, j) => assert(exact.contains(k) && exact(k) == j) }
    // every sim >= 0.5 pair must be recalled at 16x4 banding on this data
    exact.filter(_._2 >= 0.5).keys.foreach(k => assert(lsh.contains(k), s"missed $k"))
  }

  test("simhash: identical docs at hamming 0") {
    val docs = docsDf(Seq(
      (0L, "spark shuffles hash partitions across executors nightly", "en", "s", 10L),
      (1L, "spark shuffles hash partitions across executors nightly", "en", "s", 10L),
      (2L, "completely unrelated words about gardening tomatoes rain", "en", "s", 10L)))
    val pairs = Dedup.simhashPairsDf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs.get((0L, 1L)).contains(0))
  }

  test("embedding near-dups: identical vectors sim 1.0") {
    val e = Seq(
      (0L, Array(1f, 2f, 3f), 0), (1L, Array(1f, 2f, 3f), 0),
      (2L, Array(-3f, 1f, 0.2f), 1)).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupsDf(e).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0 && pairs(0).getLong(1) == 1)
    assert(math.abs(pairs(0).getAs[Double]("sim") - 1.0) < 1e-9)
  }

  test("banded embedding near-dups: subset of brute force, total recall, no cartesian (sf0.01)") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val brute = Dedup.embeddingNearDupsBruteDf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("sim")))
    val banded = Dedup.embeddingNearDupsDf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("sim")))
    assert(brute.nonEmpty, "fixture should contain at least one sim >= 0.5 pair")
    // exact verify means no false positives; 16x8-bit bands with hamming<=1
    // multiprobe recall every qualifying pair on this corpus (a miss needs
    // >= 2 flipped bits in every band)
    assert(banded.sameElements(brute))
    // the scale contract: candidate generation is a hash join on
    // (band, sig) — no unbounded cartesian anywhere in the physical plan
    val plan = Dedup.embeddingNearDupsDf(e).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("containment pairs: subset doc scores 1.0 toward its superset, not the reverse") {
    // doc 0's shingle set is fully contained in doc 1's (doc 1 = doc 0 +
    // continuation), so C(0→1) = 1.0 while C(1→0) < 1 — the asymmetry
    // Jaccard cannot express
    val docs = docsDf(Seq(
      (0L, "the quick brown fox jumps", "en", "s", 25L),
      (1L, "the quick brown fox jumps over the lazy dog today again", "en", "s", 56L),
      (2L, "completely different words entirely here", "en", "s", 40L)))
    val out = Dedup.containmentPairsDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    assert(math.abs(out((0L, 1L)) - 1.0) < 1e-9, s"C(0->1) must be 1.0: $out")
    assert(out((1L, 0L)) < 1.0, "C(1->0) must be partial")
    assert(!out.keySet.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("containment pairs: identical docs contain each other; plan is hash-join only") {
    val docs = docsDf(Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delta", "en", "s", 22L)))
    val out = Dedup.containmentPairsDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment")))
    assert(out.toSet == Set((0L, 1L, 1.0), (1L, 0L, 1.0)))
    val plan = Dedup.containmentPairsDf(Tables.load(spark, Sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("semantic dedup: same-label near-identical vectors pair; labels never mix") {
    val e = Seq(
      (0L, Array(1f, 2f, 3f), 0), (1L, Array(1f, 2f, 3f), 0),
      (2L, Array(1f, 2f, 3f), 1), // identical to 0/1 but another cluster
      (3L, Array(-3f, 1f, 0.2f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedupDf(e).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0) == ((2L, 1L, 1L)), "labels 0: one dup pair, one dropped")
    assert(out(1) == ((2L, 0L, 0L)), "cross-label identity must not pair")
  }

  test("semantic dedup: cluster-key equi-join — no cartesian; members conserved (sf0.001)") {
    val e = Tables.load(spark, Sf, "embeddings")
    val out = Similarity.semanticDedupDf(e)
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("n_members")).sum == e.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_dup_pairs"))
      assert(r.getAs[Long]("n_dropped") < r.getAs[Long]("n_members"),
        "at least the lowest-id member of every cluster survives")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("source overlap: identical docs roll up to unordered source cells with exact mass") {
    val text = "the quick brown fox jumps over the lazy dog"
    val docs = docsDf(Seq(
      (0L, text, "en", "s1", 44L),
      (1L, text, "en", "s2", 44L), // cross-source exact dup
      (2L, text, "en", "s1", 44L), // within-s1 exact dup
      (3L, "totally different content words here now", "en", "s3", 40L)))
    val out = Dedup.sourceOverlapDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // pairs: (0,1) s1-s2, (0,2) s1-s1, (1,2) s1-s2 — all jaccard 1.0
    assert(out(("s1", "s1")) == ((1L, 1000000L)))
    assert(out(("s1", "s2")) == ((2L, 2000000L)))
    assert(!out.keySet.exists { case (a, b) => a == "s3" || b == "s3" })
  }

  test("unigram logprob: hand-computed micros on a literal fixture") {
    // vocab over both docs: a:2, b:2, N=4 -> every token ln(0.5) =
    // -0.6931471805599453 -> -693147 micros
    val docs = docsDf(Seq(
      (0L, "a a b", "en", "s", 5L),
      (1L, "b", "en", "s", 1L)))
    val out = TextAnalysis.unigramLogprobDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((3L, -2079441L, -0.693147)))
    assert(out(1L) == ((1L, -693147L, -0.693147)))
  }

  test("bigram surprise: hand-computed micros; the unseen-bigram doc ranks most surprising") {
    // corpus bigrams: "a b" x3 (docs 0,1), "b a" x1 (doc 1), "c c" x1
    // (doc 2); vocab V=3. doc 2's "c c" has c_ab=1, c_ctx=1 ->
    // p=(1+1)/(1+3)=0.5; doc 0: "a b" p=(3+1)/(3+3)=2/3
    val docs = docsDf(Seq(
      (0L, "a b", "en", "s", 3L),
      (1L, "a b a b", "en", "s", 7L),
      (2L, "c c", "en", "s", 3L)))
    val out = TextAnalysis.bigramSurpriseDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((1L, -405465L, -0.405465))) // ln(2/3) = -0.405465
    assert(out(2L) == ((1L, -693147L, -0.693147))) // ln(0.5)
    // doc 1: bigrams "a b","b a","a b": 2*ln(2/3) + ln((1+1)/(1+3))
    assert(out(1L) == ((3L, -1504077L, -0.501359)))
  }

  test("bigram surprise: ranking ascends, cut is 20, single-token docs drop (sf0.001)") {
    val rows = SparkEntry.queries("eq90_bigram_surprise")(spark, Sf).collect()
    assert(rows.length == 20)
    val avgs = rows.map(_.getAs[Double]("avg_logprob"))
    assert(avgs.zip(avgs.tail).forall { case (a, b) => a <= b },
      "output must be the 20 lowest average log-probs, ascending")
    rows.foreach(r => assert(r.getAs[Long]("n_bigrams") > 0))
  }

  test("dup spans: shared 8-gram marks both docs; unique doc scores zero") {
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = docsDf(Seq(
      (0L, shared, "en", "s", 10L),                 // 1 span, duplicated
      (1L, shared + " tail", "en", "s", 12L),       // 2 spans, 1 duplicated
      (2L, (1 to 9).map(i => s"u$i").mkString(" "), "en", "s", 9L))) // unique
    val out = TextAnalysis.dupSpansDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((1L, 1L, 1.0)))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 0L, 0.0)))
  }

  test("quality quantile norm: per-source ranks span [0,1]; keep is the top half per source") {
    val rows = SparkEntry.queries("eq93_quality_quantile_norm")(spark, Sf).collect()
    val bySource = rows.groupBy(_.getString(1))
    bySource.foreach { case (_, rs) =>
      val norms = rs.map(_.getAs[Double]("q_norm"))
      assert(norms.min == 0.0 && norms.max == 1.0)
      val kept = rs.count(_.getAs[Boolean]("keep"))
      // percent_rank >= 0.5 keeps the upper half (±1 for odd sizes)
      assert(math.abs(kept - rs.length / 2.0) <= 1.0)
    }
  }

  test("bootstrap CI: 32 replicas, lo <= hi, and the CI brackets the exact mean (sf0.001)") {
    val events = Tables.load(spark, Sf, "events")
    val exactMean = events.agg(
      (sum(round(col("value") * 100).cast("long")).cast("double")
        / count(lit(1))).as("m")).head().getDouble(0)
    val r = graft.pipeline.EventOps.bootstrapCiDf(events).head()
    assert(r.getLong(0) == 32L)
    val (lo, hi) = (r.getDouble(1), r.getDouble(2))
    assert(lo <= hi)
    assert(lo <= exactMean && exactMean <= hi,
      s"90% CI [$lo, $hi] should bracket the exact mean $exactMean")
  }

  test("lsh probe sweep: candidates and recall are monotone in the radius (sf0.001)") {
    import graft.pipeline.Similarity
    val rows = Similarity.lshProbeSweep(spark, Sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    val cands = rows.map(_.getLong(1))
    val recalls = rows.map(_.getDouble(3))
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
      "a larger probe radius can only add candidates")
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      "a larger probe radius can only add hits")
    rows.foreach(r => assert(r.getLong(2) <= 5L && r.getDouble(3) <= 1.0))
  }

  test("ewma daily: hand-computed half-life recursion on a 3-day series") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // daily cents 100, 200, 400 -> s1=100, s2=150, s3=275 exactly
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.00, "{}"),
      (2L, ts("2024-01-02 10:00:00"), 1L, "view", 2.00, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 1L, "view", 4.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.pipeline.EventOps.ewmaDailyDf(events).head()
    assert(r.getLong(1) == 3L)
    assert(r.getString(2) == "2024-01-03")
    assert(r.getDouble(3) == 275.0)
    assert(r.getDouble(4) == 275.0)
  }

  test("ewma daily: scaled sums stay inside the BIGINT and double-exact windows (sf0.001)") {
    // the closed form weights the newest day by 2^(n-2): the exactness
    // argument in the Scaladoc needs n small enough that the scaled sum
    // stays under 2^53 (double-exact) — pin it on the fixture, and pin
    // the series length far from the 2^62 BIGINT cliff
    val events = Tables.load(spark, Sf, "events")
    val daily = events
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("cents")).as("mx"))
      .collect()
    daily.foreach { r =>
      val (n, mx) = (r.getLong(1), r.getLong(2))
      assert(n <= 40L, s"series length $n approaches the shift-weight overflow cliff")
      // n·mx·2^(n-2) bounds the scaled sum
      assert(BigInt(n) * BigInt(mx) * BigInt(2).pow((n - 2).toInt.max(0))
        < BigInt(2).pow(53), "scaled EWMA sum must stay double-exact")
    }
  }

  test("token budget: Hamilton apportionment is exact and exhausts the budget") {
    val out = SparkEntry.queries("eq101_token_budget")(spark, Sf).collect()
    assert(out.map(_.getAs[Long]("alloc_tokens")).sum ==
      graft.pipeline.CorpusOps.BudgetTokens, "allocation must exhaust the budget exactly")
    // literal two-source corpus: counts 1 and 2, B=10^6, C=3 -> bases
    // 333333/666666, shortfall 1 goes to the larger remainder
    import spark.implicits._
    val docs = Seq(
      (0L, "one", "en", "a", 3L),
      (1L, "two words", "en", "b", 9L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val lit2 = graft.pipeline.CorpusOps.tokenBudgetDf(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("alloc_tokens")).toMap
    assert(lit2 == Map("a" -> 333333L, "b" -> 666667L))
  }

  test("winsorized means: constant column is a fixed point; outliers shrink the mean") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val flat = (1 to 20).map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), 1L, "view", 7.0, "{}"))
    val spiked = (1 to 19).map(i =>
      (100L + i, ts("2024-01-01 10:00:00"), 1L, "click", 10.0, "{}")) :+
      ((120L, ts("2024-01-01 10:00:00"), 1L, "click", 1000.0, "{}"))
    val events = (flat ++ spiked)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.star.AggSurface.winsorizedMeansDf(events).collect()
      .map(r => r.getString(0) -> r).toMap
    val v = out("view")
    assert(v.getDouble(4) == 7.0 && v.getDouble(5) == 7.0) // fixed point
    val c = out("click")
    assert(c.getDouble(4) < c.getDouble(5), "clipping the 1000 spike must shrink the mean")
    assert(c.getDouble(2) <= c.getDouble(3)) // p05 <= p95
  }

  test("modality agreement: a pair duplicated in both layers counts in the intersection") {
    import spark.implicits._
    val docs = docsDf(Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "unrelated totally different words here", "en", "s", 38L)))
    def vec(eps: Float) = Array.tabulate(64)(i => if (i == 0) 1.0f else eps)
    val emb = Seq(
      (0L, vec(0.01f)), (1L, vec(0.02f)),
      (2L, Array.tabulate(64)(i => if (i == 63) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Dedup.modalityAgreementDf(docs, emb).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 1.0)
  }

  test("minhash estimate error: identical docs estimate 1.0; errors inside the sampling bound (sf0.001)") {
    val rows = SparkEntry.queries("x23_minhash_est_error")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (jac, est, nAgree, err) = (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5))
      assert(nAgree >= 0L && nAgree <= 64L)
      assert(est >= 0.0 && est <= 1.0)
      if (jac == 1.0) assert(est == 1.0, "identical sets must agree on every minhash")
      // 4.5 sigma of the 64-hash estimator at its J >= 0.2 worst case
      assert(err <= 0.29, s"estimate error $err outside the sampling bound (J=$jac)")
    }
  }

  test("asof state audit: replay and SCD2 lookup agree; post-T changes invisible") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 flips low->high across T=2024-01-15; u2 first purchases after T
    val events = Seq(
      (1L, ts("2024-01-10 00:00:00"), 1L, "purchase", 10.0, "{}"),
      (2L, ts("2024-01-20 00:00:00"), 1L, "purchase", 60.0, "{}"),
      (3L, ts("2024-01-16 00:00:00"), 2L, "purchase", 30.0, "{}"),
      (4L, ts("2024-01-14 00:00:00"), 3L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.pipeline.EventOps.asofStateAuditDf(events).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L)) // only u1 has state at T
    val r = out.head
    assert(r.getString(1) == "low" && r.getString(2) == "low")
    assert(r.getString(3) == "2024-01-10 00:00:00.000000") // covering interval start
    assert(r.getBoolean(4))
  }

  test("graph clustering: a 3-clique plus an isolated pair gives coefficient 1.0") {
    import spark.implicits._
    def vec(fill: Float, at: Int) = Array.tabulate(64)(i => if (i == at) 1.0f else fill)
    val e = Seq(
      (0L, vec(0.01f, 0)), (1L, vec(0.02f, 0)), (2L, vec(0.03f, 0)), // clique
      (3L, vec(0.01f, 63)), (4L, vec(0.02f, 63))                     // far pair
    ).toDF("vec_id", "embedding")
    val r = graft.pipeline.Dedup.graphClusteringDf(e).head()
    assert(r.getLong(0) == 4L) // 3 clique edges + 1 pair edge
    assert(r.getLong(1) == 5L)
    assert(r.getLong(2) == 3L) // wedges only inside the clique
    assert(r.getLong(3) == 1L)
    assert(r.getDouble(4) == 1.0)
  }

  test("density cores: a clique of near-identical vectors crosses the core bar") {
    import spark.implicits._
    // four near-identical vectors (pairwise sim ~1 > 0.4) + one orthogonal-ish
    def vec(eps: Float) = Array.tabulate(64)(i => if (i == 0) 1.0f else eps)
    val e = Seq(
      (0L, vec(0.00f)), (1L, vec(0.01f)), (2L, vec(0.02f)), (3L, vec(0.03f)),
      (4L, Array.tabulate(64)(i => if (i == 63) 1.0f else 0.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.pipeline.Dedup.densityCoresDf(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    (0L to 3L).foreach(i => assert(out(i) == ((3L, true)), s"vec $i should be a core"))
    assert(out(4L)._1 == 0L && !out(4L)._2)
  }

  test("unigram logprob: tokens conserved; rarer-vocab docs score lower (sf0.001)") {
    val docs = Tables.load(spark, Sf, "documents")
    val rows = TextAnalysis.unigramLogprobDf(docs).collect()
    assert(rows.length == docs.count())
    val totalTokens = docs.select(
      sum(size(split(trim(lower(col("text"))), "\\s+")))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
    rows.foreach(r => assert(r.getAs[Double]("avg_logprob") < 0.0,
      "no token can have probability 1 in a multi-token corpus"))
  }

  test("quality centroids: row count = langs x dims; gated rows equal eq38 keep counts") {
    val docs = Tables.load(spark, Sf, "documents")
    val emb = Tables.load(spark, Sf, "embeddings")
    val out = Similarity.qualityCentroidsDf(docs, emb).collect()
    val keptPerLang = TextAnalysis.qualityFilterDf(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(rows.length == 64, s"$lang must emit one row per embedding dim")
      rows.foreach(r => assert(r.getAs[Long]("n_docs") == keptPerLang(lang),
        s"$lang centroid must aggregate exactly the eq38-kept docs"))
    }
    // scaled-integer mean consistency on every row
    out.foreach { r =>
      val mean = r.getAs[Double]("mean")
      val expected = BigDecimal(r.getAs[Long]("sum_scaled").toDouble /
        (r.getAs[Long]("n_docs") * 1000000.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert((BigDecimal(mean) - expected).abs <= BigDecimal("0.000001"))
    }
  }

  test("quantize embeddings: hand-computed codes; constant dimension degenerates to 0") {
    val e = Seq(
      (0L, Array(0f, -1f, 5f), 0),
      (1L, Array(255f, 1f, 5f), 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.quantizeEmbeddingsDf(e).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out(0) == ((0.0, 255.0, 255L, true)), "dim 0: codes 0 and 255")
    assert(out(1) == ((-1.0, 1.0, 255L, true)), "dim 1: codes 0 and 255")
    assert(out(2) == ((5.0, 5.0, 0L, true)), "constant dim quantizes to 0 exactly")
  }

  test("quantize embeddings: every reconstruction within half a step on the fixture (sf0.001)") {
    val rows = Similarity.quantizeEmbeddingsDf(
      Tables.load(spark, Sf, "embeddings")).collect()
    assert(rows.length == 64, "one row per embedding dimension")
    val n = Tables.load(spark, Sf, "embeddings").count()
    rows.foreach { r =>
      assert(r.getBoolean(4), s"half-step guarantee violated at dim ${r.getInt(0)}")
      val sum = r.getLong(3)
      assert(sum >= 0 && sum <= 255 * n, "code sums bounded by the 8-bit range")
    }
  }

  test("x1/x2/eq104 candidate generation is hash-join only — no cartesian in the physical plans") {
    val docs = graft.Tables.load(spark, Sf, "documents")
    for (q <- Seq(Dedup.minhashLshPairsDf(docs), Dedup.simhashPairsDf(docs),
        Dedup.incrementalDedupDf(docs))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
    }
  }

  test("near-dup clusters: transitivity merges A~B~C into one cluster; unpaired docs absent") {
    // A~B (J=0.5), B~C (J=0.2, inclusive threshold), A!~C (J=0) — one
    // cluster {0,1,2} only via label propagation across the chain; doc 3
    // has no near-dup pair and must not appear
    val docs = docsDf(Seq(
      (0L, "a b c d e f g h", "en", "s", 15L),
      (1L, "c d e f g h i j", "en", "s", 15L),
      (2L, "g h i j k l m n", "en", "s", 15L),
      (3L, "q r s t u v w x", "en", "s", 15L)))
    val clusters = Dedup.neardupClustersDf(docs).collect()
    assert(clusters.length == 1)
    assert(clusters(0).getLong(0) == 0L)
    assert(clusters(0).getAs[Long]("n_docs") == 3L)
    assert(clusters(0).getAs[String]("members") == "0,1,2")
  }

  test("near-dup clusters: corpus with no qualifying pairs yields an empty clustering") {
    val docs = docsDf(Seq(
      (0L, "completely distinct first document text", "en", "s", 30L),
      (1L, "nothing shared with anything else here", "en", "s", 30L)))
    assert(Dedup.neardupClustersDf(docs).collect().isEmpty)
  }

  test("hash split: partitions the corpus; assignment is a pure function of text") {
    val total = graft.Tables.load(spark, Sf, "documents").count()
    val splits = SparkEntry.queries("eq27_hash_split")(spark, Sf).collect()
    assert(splits.map(_.getAs[Long]("n_docs")).sum == total)
    // duplicate texts always co-locate (same split) regardless of doc_id
    val docs = docsDf(Seq(
      (100L, "identical content here", "en", "s", 22L),
      (999L, "identical content here", "fr", "s", 22L)))
    val assigned = TextAnalysis.hashSplitDf(docs).collect()
    assert(assigned.map(_.getString(0)).distinct.length == 1)
  }

  test("contamination: ratios in [0,1], bounded by shingle counts, covers every shingled test doc") {
    val r = SparkEntry.queries("eq29_contamination")(spark, Sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val n = row.getAs[Long]("n_contaminated")
      val sz = row.getAs[Int]("n_shingles")
      val c = row.getAs[Double]("contamination")
      assert(n >= 0 && n <= sz)
      assert(c >= 0.0 && c <= 1.0)
    }
    // row count == test-split docs with >= 1 shingle (>= 3 tokens)
    val docs = graft.Tables.load(spark, Sf, "documents")
    val expected = docs
      .withColumn("bucket", graft.functions.Md5Expressions.md5_key28(col("text")) % 100)
      .filter(col("bucket") >= 90)
      .filter(size(graft.functions.ShingleExpressions.shingles(col("text"), 3)) > 0)
      .count()
    assert(r.length.toLong == expected)
  }

  test("decontam blast agrees with eq29 leak counts; touch counts bounded by the train split") {
    val blast = SparkEntry.queries("eq122_decontam_blast")(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_leaked_shingles"), r.getAs[Long]("n_train_docs_hit"),
          r.getAs[Long]("max_train_df"))).toMap
    assert(blast.nonEmpty)
    // same leaked-shingle definition as eq29: distinct test-doc shingles
    // found in the train vocabulary
    val eq29 = SparkEntry.queries("eq29_contamination")(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contaminated")).toMap
    val nTrain = graft.Tables.load(spark, Sf, "documents")
      .withColumn("bucket", graft.functions.Md5Expressions.md5_key28(col("text")) % 100)
      .filter(col("bucket") < 80).count()
    blast.foreach { case (id, (leaked, touched, mxDf)) =>
      assert(eq29(id) == leaked, s"doc $id: eq29 says ${eq29(id)} leaked, blast says $leaked")
      assert(leaked >= 1 && touched >= 1 && mxDf >= 1)
      assert(touched <= nTrain, s"doc $id touches $touched > $nTrain train docs")
      assert(mxDf <= nTrain)
    }
  }

  test("quality-dup profile: planted short dups land in quartile 1; tallies partition each lang") {
    // 8 en docs: 0 and 1 are identical short docs (the only near-dup pair);
    // 2..7 are unique long docs sharing no shingle. ntile(4) over 8 docs ->
    // 2 per quartile by (n_chars, doc_id): the dup pair is exactly quartile 1.
    val uniq = Seq(
      "u1 v1 w1 x1 y1 z1 q1 r1", "u2 v2 w2 x2 y2 z2 q2 r2",
      "u3 v3 w3 x3 y3 z3 q3 r3", "u4 v4 w4 x4 y4 z4 q4 r4",
      "u5 v5 w5 x5 y5 z5 q5 r5", "u6 v6 w6 x6 y6 z6 q6 r6")
    val docs = docsDf(
      Seq((0L, "a b c d e", "en", "s", 9L), (1L, "a b c d e", "en", "s", 9L)) ++
        uniq.zipWithIndex.map { case (t, i) => (i + 2L, t, "en", "s", 20L + i) })
    val out = Dedup.qualityDupProfileDf(docs).collect()
      .map(r => r.getAs[Long]("quartile") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"), r.getAs[Long]("dup_ppm"))).toMap
    assert(out(1L) == ((2L, 2L, 1000000L)))
    (2L to 4L).foreach(q => assert(out(q) == ((2L, 0L, 0L)), s"quartile $q"))

    // live fixture: per-lang quartile tallies partition the lang; dup
    // members tally matches the pair table's distinct membership
    val docsFx = graft.Tables.load(spark, Sf, "documents")
    val fx = Dedup.qualityDupProfileDf(docsFx).collect()
    val perLang = docsFx.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fx.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Long]("n_docs")).sum == perLang(lang))
      rows.foreach(r => assert(r.getAs[Long]("dup_ppm") >= 0 && r.getAs[Long]("dup_ppm") <= 1000000L))
    }
    val pairs = Dedup.jaccardPairsDf(docsFx)
    val nMembers = pairs.select(col("doc_a")).union(pairs.select(col("doc_b"))).distinct().count()
    assert(fx.map(_.getAs[Long]("n_dup_docs")).sum == nMembers)
  }

  test("repetition stats: hand-computed on a literal fixture; <3-token docs excluded") {
    val docs = docsDf(Seq(
      (0L, "a b c a b c a b", "en", "s", 15L),  // shingles: abc bca cab abc bca cab -> t=6 d=3
      (1L, "x y z w", "en", "s", 7L),           // t=2 d=2 -> 0.0
      (2L, "too short", "en", "s", 9L)))        // no shingles -> excluded
    val r = TextAnalysis.repetitionStatsDf(docs).collect()
      .map(row => row.getLong(0) ->
        ((row.getAs[Int]("n_shingles"), row.getAs[Int]("n_distinct"),
          row.getAs[Double]("dup_ratio")))).toMap
    assert(r.keySet == Set(0L, 1L))
    assert(r(0L) == ((6, 3, 0.5)))
    assert(r(1L) == ((2, 2, 0.0)))
  }

  test("tf-idf top terms: hand-computed scores and ranks on a literal fixture") {
    val docs = docsDf(Seq(
      (0L, "x x y", "en", "s", 5L),
      (1L, "y z", "en", "s", 3L)))
    // N=2; df: x=1, y=2, z=1; score = tf * (N+1)/(df+1)
    val r = TextAnalysis.tfidfTopTermsDf(docs).collect()
      .map(row => (row.getLong(0), row.getAs[Int]("rank")) ->
        ((row.getAs[String]("tok"), row.getAs[Double]("score")))).toMap
    assert(r((0L, 1)) == (("x", 3.0)))   // 2 * 3/2
    assert(r((0L, 2)) == (("y", 1.0)))   // 1 * 3/3
    assert(r((1L, 1)) == (("z", 1.5)))   // 1 * 3/2
    assert(r((1L, 2)) == (("y", 1.0)))
  }

  test("cosine top-k: 5 rows, sims non-increasing, all in [-1, 1]") {
    val top = Similarity.cosineTopK(spark, Sf).collect()
    assert(top.length == 5)
    val sims = top.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sortBy(-_)))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("IVF top-k: approximate results are true similarities; bounded by the brute-force top") {
    val brute = Similarity.cosineTopK(spark, Sf, k = 50).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("sim")).toMap
    val ivf = Similarity.ivfTopK(spark, Sf).collect()
    assert(ivf.length == 5)
    // every IVF hit reports the same similarity the exact scorer computes
    ivf.foreach(r => assert(brute.get(r.getLong(0)).forall(b => math.abs(b - r.getAs[Double]("sim")) < 1e-9)))
    val bruteTop = brute.values.max
    assert(ivf.map(_.getAs[Double]("sim")).max <= bruteTop + 1e-12)
  }

  test("SRP-LSH top-k: true similarities, bounded by brute force, recall >= 1") {
    val brute = Similarity.cosineTopK(spark, Sf, k = 5).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("sim")).toMap
    val lsh = Similarity.lshTopK(spark, Sf).collect()
    assert(lsh.nonEmpty && lsh.length <= 5)
    val full = Similarity.cosineTopK(spark, Sf, k = 500).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("sim")).toMap
    lsh.foreach(r => assert(math.abs(full(r.getLong(0)) - r.getAs[Double]("sim")) < 1e-9))
    assert(lsh.map(_.getLong(0)).count(brute.contains) >= 1)
  }

  test("approx count-distinct: exact columns match direct distinct; HLL flags true") {
    val pdv = graft.Tables.pdv(spark, Sf)
    val exact = pdv.agg(countDistinct(col("magid")), countDistinct(col("prodid")))
      .head()
    val r = Dedup.approxDistinctDf(pdv).head()
    assert(r.getAs[Long]("exact_magasins") == exact.getLong(0))
    assert(r.getAs[Long]("exact_produits") == exact.getLong(1))
    assert(r.getAs[Boolean]("approx_magasins_ok"))
    assert(r.getAs[Boolean]("approx_produits_ok"))
  }

  test("salted two-phase aggregation equals the direct groupBy") {
    val events = graft.Tables.load(spark, Sf, "events")
    val direct = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val salted = EventOps.saltedEventTotalsDf(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.map(t => (t._1, t._2)).sameElements(direct.map(t => (t._1, t._2))))
    salted.zip(direct).foreach { case (s, d) => assert(math.abs(s._3 - d._3) < 1e-4) }
  }

  test("train assembly: features never see the label window; label-only users are excluded") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // user 1: 2 feature events on 2 days, one purchase AFTER the cut -> label 1
      (1L, ts("2024-01-10 00:00:00"), Some(1L), "view", 10.0, "{}"),
      (2L, ts("2024-01-11 00:00:00"), Some(1L), "purchase", 25.5, "{}"),
      (3L, ts("2024-01-30 00:00:00"), Some(1L), "purchase", 99.0, "{}"),
      // user 2: feature events only, post-cut activity is NOT a purchase -> label 0
      (4L, ts("2024-01-12 00:00:00"), Some(2L), "purchase", 5.0, "{}"),
      (5L, ts("2024-01-30 00:00:00"), Some(2L), "view", 1.0, "{}"),
      // user 3: label-window activity ONLY -> excluded from the population
      (6L, ts("2024-01-30 00:00:00"), Some(3L), "purchase", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.pipeline.EventOps.trainAssemblyDf(events).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    val u1 = out(1L)
    assert(u1.getAs[Long]("n_events") == 2L && u1.getAs[Long]("n_purchases") == 1L)
    assert(u1.getAs[Long]("value_cents") == 3550L, "post-cut purchase value must NOT leak into features")
    assert(u1.getAs[Long]("n_active_days") == 2L && u1.getAs[Int]("label") == 1)
    assert(out(2L).getAs[Int]("label") == 0)
  }

  test("contrastive triplets: positive is the near-dup, negative is unrelated and same-lang") {
    val docs = docsDf(Seq(
      (0L, "a b c d e f g h i j", "en", "s", 15L),
      (1L, "a b c d e f g h i k", "en", "s", 15L),   // near-dup of 0 (J = 7/9)
      (2L, "totally different words about weather patterns today", "en", "s", 15L),
      (3L, "another unrelated text on cooking pasta slowly tonight", "en", "s", 15L),
      (4L, "document in another language entirely here", "fr", "s", 15L)))
    val out = graft.pipeline.CorpusOps.contrastiveTripletsDf(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("anchor_id") == 0L && r.getAs[Long]("positive_id") == 1L)
    // hand-computed md5-28 ring over the en docs: 0 -> 3 -> 1 -> 2 -> 0,
    // so the anchor's clockwise neighbour (and negative) is doc 3 —
    // same-lang, unrelated, never the near-dup partner
    assert(r.getAs[Long]("negative_id") == 3L)
  }

  test("quality gates: each expectation fires on a purpose-built dirty fixture") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dirty = Seq(
      (Some(1L), ts("2024-01-05 00:00:00"), Some(1L), "view", 10.0, "{}"),   // clean
      (Some(1L), ts("2024-01-05 00:00:00"), Some(2L), "view", 10.0, "{}"),   // dup id
      (None,     ts("2024-01-05 00:00:00"), Some(3L), "view", 10.0, "{}"),   // null id
      (Some(4L), ts("2024-01-05 00:00:00"), None,     "view", 10.0, "{}"),   // null user
      (Some(5L), ts("2024-01-05 00:00:00"), Some(5L), "bogus", 10.0, "{}"),  // bad type
      (Some(6L), ts("2024-01-05 00:00:00"), Some(6L), "view", -1.0, "{}"),   // bad value
      (Some(7L), ts("2023-12-31 23:59:59"), Some(7L), "view", 10.0, "{}"))   // bad ts
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.pipeline.EventOps.qualityGatesDf(dirty).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("event_id_not_null") == ((1L, false)))
    assert(out("event_id_unique") == ((1L, false)))
    assert(out("event_type_in_domain") == ((1L, false)))
    assert(out("value_in_range") == ((1L, false)))
    assert(out("ts_in_window") == ((1L, false)))
    assert(out("user_id_not_null") == ((1L, false)))
    assert(out.values.forall(_._1 == 1L), "exactly one violation per gate in this fixture")
  }

  test("incremental dedup: exact beats near, near needs jaccard >= 0.5, short docs can still be exact") {
    val base = "spark shuffles hash partitions across executors nightly while catalyst prunes columns early"
    val docs = docsDf(Seq(
      // old corpus (doc_id % 10 < 8)
      (1L, base, "en", "s", 10L),
      (2L, "completely unrelated words about gardening tomatoes rain barrels compost", "en", "s", 10L),
      (3L, "hi there", "en", "s", 2L), // < 3 tokens: no shingles, index-invisible
      // new batch (doc_id % 10 >= 8)
      (8L, base, "en", "s", 10L),                                    // exact dup of 1
      (9L, base + " tonight", "en", "s", 10L),                       // near dup of 1 (high overlap)
      (18L, "a totally novel document mentioning quantum chromodynamics and lattice gauge theory", "en", "s", 10L),
      (19L, "hi there", "fr", "s", 2L)))                             // exact dup of 3 despite no shingles
    val out = graft.pipeline.Dedup.incrementalDedupDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("en", "exact") -> 1L, ("en", "near") -> 1L,
      ("en", "novel") -> 1L, ("fr", "exact") -> 1L))
  }

  test("eq139: at-rest probe matches eq104 verdicts; a fresh session signs only the batch") {
    import graft.sources.DedupIndexSink
    val docs = Tables.load(spark, Sf, "documents")
    val isNew = DedupIndexSink.isNewCol
    // the in-session (memoized) path's verdict totals — the truth the
    // at-rest probe must reproduce through the write→read round-trip
    val mem = Dedup.incrementalDedupDf(docs).collect()
      .groupMapReduce(_.getString(1))(_.getLong(2))(_ + _)
    val t = DedupIndexSink.write(spark, docs, isNew)
    // restart rehearsal: a DIFFERENT session (all PlanMemo keys include
    // the session, so every memo lookup misses — the closest a test gets
    // to a fresh JVM) probes the stored tables
    val s2 = spark.newSession()
    val docs2 = Tables.load(s2, Sf, "documents")
    val (h2, b2, stop2) = DedupIndexSink.readBack(s2, t)
    val sig0 = Dedup.signatureMisses
    val g0 = Dedup.guardedIndexMisses
    val hi0 = Dedup.hashIndexMisses
    val pt0 = Dedup.pairTableMisses
    val out = DedupIndexSink.audit(docs2, isNew, h2, b2, stop2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the probe signed exactly the batch — the corpus was NOT re-signed
    // and no index layer was re-mined: the stored tables did their job
    assert(Dedup.signatureMisses == sig0 + 1,
      s"fresh-session probe must sign only the batch (got +${Dedup.signatureMisses - sig0})")
    assert(Dedup.guardedIndexMisses == g0 && Dedup.hashIndexMisses == hi0
      && Dedup.pairTableMisses == pt0, "the stored index must replace re-mining")
    // verdict totals agree with the in-session path
    for (v <- Seq("exact", "near", "novel"))
      assert(out(s"probe_$v") == mem.getOrElse(v, 0L),
        s"$v: at-rest ${out(s"probe_$v")} vs in-session ${mem.getOrElse(v, 0L)}")
    // the read-back layers are populated and the stop table read back
    assert(out("idx_hash_entries") > 0 && out("idx_band_entries") > 0
      && out("idx_stop_buckets") >= 0)
  }

  test("eq140: a fresh session curates the delta from at-rest state — mines only the batch, funnel ≡ eq137") {
    import graft.sources.SnapshotStateSink
    val docs = Tables.load(spark, Sf, "documents")
    // the in-session eq137 funnel — the truth the restart must reproduce
    val mem = Curation.incrementalCurationDf(docs).collect().map(_.toString)
    // a full curation ends by writing its snapshot state...
    val t = SnapshotStateSink.write(spark, docs)
    // ...and the next delta ingest runs in a DIFFERENT session (every
    // memo keys on the session → all lookups miss: the restart rehearsal)
    val s2 = spark.newSession()
    val docs2 = Tables.load(s2, Sf, "documents")
    val pt0 = Dedup.pairTableMisses
    val lb0 = Dedup.labelsMisses
    val sg0 = Dedup.signatureMisses
    val bp0 = TextAnalysis.bpeLearnMisses
    val g0 = Dedup.guardedIndexMisses
    val hi0 = Dedup.hashIndexMisses
    val out = SnapshotStateSink.readAndCurate(s2, docs2, t).collect().map(_.toString)
    assert(out.sameElements(mem), "at-rest restart funnel drifted from the in-session eq137 funnel")
    // only the DELTA was mined: its pair table, its labels, its signing —
    // and nothing was re-learned from the old corpus
    assert(Dedup.pairTableMisses == pt0 + 1, "expected exactly the delta pair-table mining")
    assert(Dedup.labelsMisses == lb0 + 1, "expected exactly the delta label mining")
    assert(Dedup.signatureMisses == sg0 + 1, "expected exactly the batch signing")
    assert(TextAnalysis.bpeLearnMisses == bp0, "the stored encoder must replace BPE retraining")
    assert(Dedup.guardedIndexMisses == g0 && Dedup.hashIndexMisses == hi0,
      "the stored index must replace index re-mining")
  }

  test("eq141: the advanced state equals a scratch rebuild over the merged corpus") {
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    val docs = Tables.load(spark, Sf, "documents")
    val t0 = SnapshotStateSink.write(spark, docs)
    // survivors computed against the PRE-advance state (advance appends
    // into the shared tables in place; d8 is eagerly checkpointed, so
    // this frame is materialized before any append below runs)
    val (h0, b0, _) = DedupIndexSink.readBack(spark, t0.index)
    val survivors = Curation.deltaSurvivorsFromState(docs, DedupIndexSink.isNewCol,
      h0, b0, spark.table(t0.testVocab), spark.table(t0.mixRates))
    val t1 = SnapshotStateSink.advance(spark, docs, t0)
    val (h1, b1, st1) = DedupIndexSink.readBack(spark, t1.index)
    val eff1 = b1.join(st1, Seq("band", "band_key"), "left_anti")

    // the scratch truth: a full snapshot whose population IS the merged
    // corpus (retained + dropped old rows and the survivors, reguarded
    // globally) — advance(state, delta) must equal state(merged), the
    // induction step that makes N successive delta ingests correct
    val merged = docs.filter(col("doc_id") % 10 < 8)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(survivors.select("doc_id", "text", "lang", "source", "n_chars"))
    val (sh, sb, sstop) = Dedup.indexBuildFrames(merged, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    }
    sameSet(eff1.select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"), "effective band index")
    sameSet(st1.select("band", "band_key"), sstop.select("band", "band_key"), "stop list")
    sameSet(h1.filter(col("h").isNotNull), sh.filter(col("h").isNotNull), "hash layer")

    // pack layer: the advanced summary vs a scratch summary of the merged
    // curated corpus under the merge ordering (old before delta per lang,
    // encoded into the ordering key)
    val oldCur = Curation.curatedDocsDf(docs.filter(col("doc_id") % 10 < 8))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("n_chars"), lit(0L).as("d"))
    val mergedCur = oldCur.unionByName(survivors
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("n_chars"), lit(1L).as("d")))
      .select(col("lang"), (col("d") * lit(1L << 40) + col("doc_id")).as("doc_id"),
        col("n_tokens"), col("n_chars"))
    sameSet(spark.table(t1.packSummary), Curation.packSummaryOf(mergedCur), "pack summary")
  }


  test("eq141 induction: two successive advances equal scratch, with probes filtered by the stop list") {
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val docs1 = docsDf(aDocs ++ bDocs)
    val isNew1 = col("doc_id") >= 1000L
    val t0 = SnapshotStateSink.write(spark, docs1, isNew1, col("doc_id") < 1000L)
    val (h0, _, stop0) = DedupIndexSink.readBack(spark, t0.index)
    assert(stop0.count() > 0, "fixture must produce stop-listed buckets at build")
    val s1 = Curation.deltaSurvivorsFromState(docs1, isNew1, h0,
      DedupIndexSink.effectiveBandIndex(spark, t0.index),
      spark.table(t0.testVocab), spark.table(t0.mixRates))
    assert(s1.filter(col("doc_id") < 1006L).count() > 0,
      "fixture must carry at least one boilerplate survivor through the gates")
    val t1 = SnapshotStateSink.advance(spark, docs1, t0, isNew1)
    val (h1, b1raw, stop1) = DedupIndexSink.readBack(spark, t1.index)
    assert(b1raw.join(stop1, Seq("band", "band_key"), "left_semi").count() > 0,
      "advance must have appended survivor rows into stop-listed buckets")

    // second delta: its raw-view candidates must exceed the effective
    // view's — i.e. the stop filter is load-bearing for this probe
    val docs2 = docsDf(aDocs ++ bDocs ++ cDocs)
    val isNew2 = col("doc_id") >= 2000L
    val cBanded = Dedup.batchBandKeys(docs2.filter(isNew2))
    val rawCands = Dedup.probeCandidates(cBanded, b1raw).distinct().count()
    val effCands = Dedup.probeCandidates(cBanded,
      DedupIndexSink.effectiveBandIndex(spark, t1.index)).distinct().count()
    assert(rawCands > effCands,
      s"stop filter must prune probe candidates (raw $rawCands vs effective $effCands)")

    val s2 = Curation.deltaSurvivorsFromState(docs2, isNew2, h1,
      DedupIndexSink.effectiveBandIndex(spark, t1.index),
      spark.table(t1.testVocab), spark.table(t1.mixRates))
    val t2 = SnapshotStateSink.advance(spark, docs2, t1, isNew2)

    // induction: the twice-advanced state equals a scratch rebuild over
    // (old ∪ s1 ∪ s2)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = docs1.filter(col("doc_id") < 1000L).select(cols.head, cols.tail: _*)
      .unionByName(s1.select(cols.head, cols.tail: _*))
      .unionByName(s2.select(cols.head, cols.tail: _*))
    val (sh, sb, sstop) = Dedup.indexBuildFrames(pop, lit(false))
    val (h2, b2raw, stop2) = DedupIndexSink.readBack(spark, t2.index)
    val eff2 = b2raw.join(stop2, Seq("band", "band_key"), "left_anti")
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(eff2.select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"), "effective band index after two advances")
    sameSet(stop2.select("band", "band_key"), sstop.select("band", "band_key"), "stop list after two advances")
    sameSet(h2.filter(col("h").isNotNull), sh.filter(col("h").isNotNull), "hash layer after two advances")
    // pack: ids are epoch-ordered (A < s1 < s2), so the scratch summary
    // uses the plain doc_id ordering
    val packCols = Seq("lang", "doc_id", "n_tokens", "n_chars")
    val mergedCur = Curation.curatedDocsDf(docs1.filter(col("doc_id") < 1000L))
      .select(packCols.head, packCols.tail: _*)
      .unionByName(s1.select(packCols.head, packCols.tail: _*))
      .unionByName(s2.select(packCols.head, packCols.tail: _*))
    sameSet(spark.table(t2.packSummary), Curation.packSummaryOf(mergedCur),
      "pack summary after two advances")
  }

  test("eq142: compaction drops the stop-guarded rows, coalesces files, changes no probe, and stays induction-transparent") {
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val docs1 = docsDf(aDocs ++ bDocs)
    val isNew1 = col("doc_id") >= 1000L
    val t0 = SnapshotStateSink.write(spark, docs1, isNew1, col("doc_id") < 1000L)
    val (h0, _, _) = DedupIndexSink.readBack(spark, t0.index)
    val s1 = Curation.deltaSurvivorsFromState(docs1, isNew1, h0,
      DedupIndexSink.effectiveBandIndex(spark, t0.index),
      spark.table(t0.testVocab), spark.table(t0.mixRates)).localCheckpoint()
    val t1 = SnapshotStateSink.advance(spark, docs1, t0, isNew1)
    val (h1, b1raw, stop1) = DedupIndexSink.readBack(spark, t1.index)
    val rawPre = b1raw.count()
    val filesPre = spark.table(t1.index.band).inputFiles.length

    val tc = SnapshotStateSink.compact(spark, t1)
    val (hc, bcRaw, stopc) = DedupIndexSink.readBack(spark, tc.index)
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")

    // the dead rows are physically gone — and ONLY those
    assert(bcRaw.count() < rawPre, "compaction must physically drop the stop-guarded rows")
    assert(bcRaw.join(stop1, Seq("band", "band_key"), "left_semi").count() == 0,
      "no stop-listed rows may survive the rewrite")
    sameSet(bcRaw, DedupIndexSink.effectiveBandIndex(spark, t1.index),
      "compacted raw band table vs pre-compaction effective view")
    sameSet(hc, h1, "hash layer across compaction")
    sameSet(stopc, stop1.select("band", "band_key"),
      "stop list across compaction (the guard's memory must be KEPT)")

    // the file debt is paid: at most one file per bucket, strictly fewer
    // than the appended generation carried
    val filesPost = spark.table(tc.index.band).inputFiles.length
    assert(filesPost <= DedupIndexSink.Buckets && filesPost < filesPre,
      s"band files $filesPre -> $filesPost (buckets=${DedupIndexSink.Buckets})")
    assert(spark.table(tc.index.hash).inputFiles.length <= DedupIndexSink.Buckets,
      "hash layer must coalesce to at most one file per bucket")

    // a second delta probes the compacted state IDENTICALLY — and the
    // compacted raw table needs no stop filter to get there
    val docs2 = docsDf(aDocs ++ bDocs ++ cDocs)
    val isNew2 = col("doc_id") >= 2000L
    val cBanded = Dedup.batchBandKeys(docs2.filter(isNew2))
    sameSet(Dedup.probeCandidates(cBanded, DedupIndexSink.effectiveBandIndex(spark, tc.index)),
      Dedup.probeCandidates(cBanded, DedupIndexSink.effectiveBandIndex(spark, t1.index)),
      "probe candidates across compaction")
    sameSet(Dedup.probeCandidates(cBanded, bcRaw),
      Dedup.probeCandidates(cBanded, DedupIndexSink.effectiveBandIndex(spark, t1.index)),
      "raw-table probe of the compacted generation")

    // induction transparency: advancing the COMPACTED state by a second
    // delta still equals a scratch rebuild over (old ∪ s1 ∪ s2)
    val s2 = Curation.deltaSurvivorsFromState(docs2, isNew2, hc,
      DedupIndexSink.effectiveBandIndex(spark, tc.index),
      spark.table(tc.testVocab), spark.table(tc.mixRates)).localCheckpoint()
    val t2 = SnapshotStateSink.advance(spark, docs2, tc, isNew2)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = docs1.filter(col("doc_id") < 1000L).select(cols.head, cols.tail: _*)
      .unionByName(s1.select(cols.head, cols.tail: _*))
      .unionByName(s2.select(cols.head, cols.tail: _*))
    val (sh, sb, sstop) = Dedup.indexBuildFrames(pop, lit(false))
    val (h2, b2raw, stop2) = DedupIndexSink.readBack(spark, t2.index)
    sameSet(b2raw.join(stop2, Seq("band", "band_key"), "left_anti")
        .select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"),
      "effective band index after compact-then-advance")
    sameSet(stop2.select("band", "band_key"), sstop.select("band", "band_key"),
      "stop list after compact-then-advance")
    sameSet(h2.filter(col("h").isNotNull), sh.filter(col("h").isNotNull),
      "hash layer after compact-then-advance")
  }

  test("eq143: retraction — deleted docs stop suppressing duplicates, hashes leave with their last owner, the stop list is monotone") {
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    val t1txt = "alpha beta gamma delta epsilon zeta eta theta"
    val t2txt = "iota kappa lambda mu nu xi omicron pi"
    val g1 = "ruby sapphire emerald topaz quartz garnet opal jade amber pearl coral onyx"
    val g2 = "maple birch cedar willow aspen alder poplar rowan hazel linden yew elm"
    val fam = HotBucketFixture.fam.head
    val old = Seq(
      (2L, t1txt), (4L, t1txt), // hash twins — delete one, the content stays exact
      (6L, t2txt), //              solo owner — deleting it orphans the hash
      (8L, g1), (10L, g1 + " extra"), // near group 1 — deleted whole
      (12L, g2), (14L, g2 + " extra")) // near group 2 — retained
      .map { case (id, s) => (id, s, "en", "src", s.length.toLong) } ++
      (0 until 60).map(i => ((20 + i).toLong, fam, "en", "src", fam.length.toLong))
    val batch = Seq(
      (101L, t1txt), (103L, t2txt),
      (105L, g1 + " varia"), (107L, g2 + " varia"),
      (109L, "totally novel text about tidal marsh sediment transport"),
      (111L, s"$fam ${HotBucketFixture.bTails.head}")) // collides only with the stop-guarded family
      .map { case (id, s) => (id, s, "de", "src", s.length.toLong) }
    val docs = docsDf(old ++ batch)
    val isNew = col("doc_id") >= 100L
    val t0 = DedupIndexSink.write(spark, docs, isNew)
    def verdicts(t: DedupIndexSink.IndexTables): Map[Long, String] =
      Dedup.probeStoredIndex(docs, isNew,
        DedupIndexSink.effectiveHashIndex(spark, t),
        DedupIndexSink.effectiveBandIndex(spark, t))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val v0 = verdicts(t0)
    assert(v0(101L) == "exact" && v0(103L) == "exact" &&
      v0(105L) == "near" && v0(107L) == "near" && v0(109L) == "novel")
    assert(v0(111L) == "novel", "the stop-guarded family must produce no candidates at build")
    val (_, _, stop0) = DedupIndexSink.readBack(spark, t0)
    val nStop0 = stop0.count()
    assert(nStop0 > 0, "fixture must stop-list the hot family")

    // delete: one twin, the solo owner, ALL of group 1, half the hot family
    val isDeleted = col("doc_id").isin(4L, 6L, 8L, 10L) ||
      (col("doc_id") >= 20L && col("doc_id") < 50L)
    val t1 = DedupIndexSink.retract(spark, docs, t0, isNew, isDeleted)
    assert(spark.table(t1.tomb.get.docs).count() == 34L)
    val orphans = spark.table(t1.tomb.get.hash).collect().map(_.getString(0)).toSet
    assert(orphans.size == 3, // t2txt + the two group-1 texts; NOT the twins' (one
      s"orphaned hashes: $orphans") // owner left) and NOT the family's (30 owners left)
    val v1 = verdicts(t1)
    assert(v1(101L) == "exact", "a surviving twin keeps the content exact")
    assert(v1(103L) == "novel", "last-owner deletion must orphan the hash")
    assert(v1(105L) == "novel", "retracting the whole group kills the near suppression")
    assert(v1(107L) == "near", "an untouched group keeps suppressing")
    assert(v1(109L) == "novel" && v1(111L) == "novel")

    // a tombstoned state must refuse to advance (ghosts first) — and to
    // retract AGAIN (replacing the tomb handle would resurrect the first
    // deletion set; merging would mis-count the orphan recount)
    assertThrows[IllegalArgumentException] {
      SnapshotStateSink.advance(spark, docs,
        SnapshotStateSink.StateTables(t1, "x", "x", "x", "x"), isNew)
    }
    assertThrows[IllegalArgumentException] {
      DedupIndexSink.retract(spark, docs, t1, isNew, col("doc_id") === 2L)
    }

    // compaction applies the tombstones physically and clears them;
    // verdicts must not move
    val t2c = DedupIndexSink.compact(spark, t1)
    assert(t2c.tomb.isEmpty)
    val (h2, b2, stop2) = DedupIndexSink.readBack(spark, t2c)
    assert(b2.join(spark.table(t1.tomb.get.docs), Seq("doc_id"), "left_semi").count() == 0)
    assert(h2.join(spark.table(t1.tomb.get.hash), Seq("h"), "left_semi").count() == 0)
    assert(stop2.count() == nStop0,
      "the stop list is MONOTONE: 30 retained copies are under the cap, the guard stays")
    assert(verdicts(t2c) == v1, "compaction must not change any verdict")

    // scratch equality under the monotone-stop rule: the compacted hash
    // layer is exactly the retained corpus's distinct hashes, and the
    // compacted band layer is the retained docs' keys anti the ORIGINAL
    // stop list (a full recount would un-stop the family — deliberately
    // not what retraction does)
    val retained = docs.filter(!isNew && !isDeleted)
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(h2, retained.select(md5(col("text")).as("h")).distinct(),
      "hash layer vs retained scratch")
    sameSet(b2.select("band", "band_key", "doc_id"),
      Dedup.batchBandKeys(retained)
        .join(stop0, Seq("band", "band_key"), "left_anti")
        .select("band", "band_key", "doc_id"),
      "band layer vs retained keys anti the monotone stop")
  }

  test("readAndCurate respects pending retraction tombstones: a re-crawl of deleted content is not gated against a ghost") {
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    val tx = "unique retracted content about glacier meltwater chemistry"
    val docs = docsDf(Seq(
      (2L, tx, "en", "src"),
      (3L, "gardeners rotate tomato beds yearly in raised plots", "en", "src"),
      (4L, "violin makers season maple wood patiently for decades", "en", "src"),
      (5L, "lighthouse keepers log passing ships nightly by hand", "en", "src"),
      (8L, tx, "de", "src"), // the re-crawl of the content id 2 owned
      (9L, "novel text about tidal estuary sediment transport", "de", "src"))
      .map { case (id, s, l, src) => (id, s, l, src, s.length.toLong) })
    val st = SnapshotStateSink.write(spark, docs)
    val retracted = st.copy(index = DedupIndexSink.retract(spark, docs, st.index,
      DedupIndexSink.isNewCol, col("doc_id") === 2L))
    assert(spark.table(retracted.index.tomb.get.hash).count() == 1,
      "deleting the solo owner must orphan its hash")
    val viaTombstones = SnapshotStateSink.readAndCurate(spark, docs, retracted)
      .collect().map(_.toString).toSeq
    val viaCompacted = SnapshotStateSink.readAndCurate(spark, docs,
      SnapshotStateSink.compact(spark, retracted)).collect().map(_.toString).toSeq
    assert(viaTombstones == viaCompacted,
      "the delta funnel must see the same ghost-free exact layer before and after the tombstones are applied")
    // load-bearing check: against the UNretracted state the same funnel
    // gates the re-crawl out at the exact stage, so the frames differ
    val viaUnretracted = SnapshotStateSink.readAndCurate(spark, docs, st)
      .collect().map(_.toString).toSeq
    assert(viaTombstones != viaUnretracted,
      "the retraction must be load-bearing for this fixture")
  }

  test("state log: exactly-once streaming ingest — committed batches skipped, crash replays converge, folded log identical, final state equals scratch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    implicit val sqlCtx = spark.sqlContext

    // a finished full curation wrote its snapshot; the log wraps it
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))

    // the corpus store grows with arrivals (the near-verify layer point-
    // reads candidate docs from it); survivors for the scratch comparison
    // are computed against the COMMITTED views right before each ingest
    var store = oldDocs
    def expectedSurvivors(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val docs = store.withColumn("is_new", lit(false))
        .unionByName(batch.withColumn("is_new", lit(true)))
      val (hashV, _, _, _) = StateLog.views(spark, ref)
      Curation.deltaSurvivorsFromState(docs, col("is_new"), hashV,
        StateLog.effectiveBand(spark, ref),
        spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    }
    val batches = scala.collection.mutable.Map[Long, org.apache.spark.sql.DataFrame]()
    def ingest(batch: org.apache.spark.sql.DataFrame, batchId: Long): Boolean = {
      val docs = store.withColumn("is_new", lit(false))
        .unionByName(batch.withColumn("is_new", lit(true)))
      val applied = StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), batchId)
      if (applied) store = store.unionByName(batch).localCheckpoint()
      applied
    }

    val s1 = expectedSurvivors(docsDf(bDocs))

    // simulate a CRASHED first attempt at batch 0: half-written generation
    // tables bound by nothing (no manifest row, no claim) — they must be
    // invisible to every view while the real attempt writes its own
    // attempt-unique tables; StateLog.sweep reclaims such orphans (r13,
    // pinned in its own test below)
    Seq(("deadbeef")).toDF("h").write.mode("overwrite")
      .option("path", s"${sys.props("java.io.tmpdir")}/${ref.manifest}_hash_b0_acrashed_0")
      .saveAsTable(s"${ref.manifest}_hash_b0_acrashed_0")
    val (preHash, _, _, _) = StateLog.views(spark, ref)
    assert(preHash.filter(col("h") === "deadbeef").count() == 0,
      "an uncommitted generation must be invisible to every view")

    // drive the two deltas as MICRO-BATCHES through foreachBatch
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val q = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val b = batch.localCheckpoint()
        batches(batchId) = b
        ingest(b, batchId): Unit
      }
      .start()
    mem.addData(bDocs)
    q.processAllAvailable()
    val s2 = expectedSurvivors(docsDf(cDocs)) // vs the state AFTER batch 0
    mem.addData(cDocs)
    q.processAllAvailable()
    q.stop()
    assert(batches.keySet == Set(0L, 1L), s"expected two micro-batches, got ${batches.keySet}")

    // a replay of a COMMITTED batch is skipped outright
    val docsReplay = store.withColumn("is_new", lit(false))
      .unionByName(batches(0L).withColumn("is_new", lit(true)))
    assert(!StateLog.ingestBatch(spark, ref, st, docsReplay, col("is_new"), 0L),
      "a committed batch id must be skipped")
    assert(spark.table(ref.manifest).count() == 3, "gen0 + two committed batches")

    // final state ≡ scratch over (old ∪ s1 ∪ s2)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = oldDocs.select(cols.head, cols.tail: _*)
      .unionByName(s1.select(cols.head, cols.tail: _*))
      .unionByName(s2.select(cols.head, cols.tail: _*))
    val (sh, sb, sstop) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (hashV, _, stopV, packV) = StateLog.views(spark, ref)
    sameSet(StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"), "log effective band vs scratch")
    sameSet(stopV.distinct(), sstop.select("band", "band_key"), "log stop union vs scratch")
    sameSet(hashV.filter(col("h").isNotNull), sh.filter(col("h").isNotNull),
      "log hash union vs scratch")
    val packCols = Seq("lang", "doc_id", "n_tokens", "n_chars")
    val mergedCur = Curation.curatedDocsDf(oldDocs)
      .select(packCols.head, packCols.tail: _*)
      .unionByName(s1.select(packCols.head, packCols.tail: _*))
      .unionByName(s2.select(packCols.head, packCols.tail: _*))
    sameSet(packV, Curation.packSummaryOf(mergedCur), "log cumulative pack vs scratch")

    // folding the log (compaction) changes nothing a probe can see and
    // bounds the ACTIVE width back to one generation — committed by an
    // atomic APPEND of a fold row, never an in-place manifest rewrite
    val preFold = StateLog.effectiveBand(spark, ref).localCheckpoint()
    StateLog.compactLog(spark, ref)
    assert(spark.table(ref.manifest).count() == 4,
      "the manifest is append-only: gen0 + two batches + the fold row")
    assert(StateLog.activeGenerations(spark, ref) == 1,
      "the fold bounds the active width to the single folded generation")
    sameSet(StateLog.effectiveBand(spark, ref), preFold, "effective band across the fold")
    val (hashF, bandF, _, packF) = StateLog.views(spark, ref)
    sameSet(hashF, hashV, "hash layer across the fold")
    sameSet(bandF.select("band", "band_key", "doc_id"), preFold, "folded raw band IS the effective view")
    sameSet(packF, packV, "pack summary across the fold")
    // a fold never forgets a committed batch: the skip check reads the
    // full history, so a late replay of batch 0 is still a no-op
    assert(!StateLog.ingestBatch(spark, ref, st, docsReplay, col("is_new"), 0L),
      "a committed batch must stay skipped after a fold")
    assert(spark.table(ref.manifest).count() == 4, "the skipped replay appended nothing")

    // RETRACTION through the log: delete two normal old docs (away from
    // the hot families, so the scratch comparison stays exact under the
    // monotone stop) — committed as a tombstone generation, subtracted
    // by every view, applied physically at the next fold
    val isDel = col("doc_id").isin(180L, 181L)
    assert(StateLog.retractBatch(spark, ref, pop, isDel, 7L), "first retraction applies")
    assert(!StateLog.retractBatch(spark, ref, pop, isDel, 7L),
      "a committed retraction op is skipped on replay")
    assert(StateLog.activeGenerations(spark, ref) == 2, "fold + tombstone generation")
    val retainedPop = pop.filter(!isDel)
    val (shR, sbR, sstopR) = Dedup.indexBuildFrames(retainedPop, lit(false))
    val (hashR, bandLiveR, stopR, _) = StateLog.views(spark, ref)
    sameSet(hashR, shR, "hash view after log retraction vs retained scratch")
    sameSet(bandLiveR.join(stopR.distinct(), Seq("band", "band_key"), "left_anti")
        .select("band", "band_key", "doc_id"),
      sbR.select("band", "band_key", "doc_id"),
      "effective band after log retraction vs retained scratch")
    sameSet(stopR.distinct(), sstopR.select("band", "band_key"),
      "stop union after log retraction (monotone, families untouched)")
    // time travel ACROSS the retraction: as-of the retract generation is
    // the live (retained) view; as-of the pre-retraction fold restores
    // the deleted docs — history is reconstructable, not just the head
    sameSet(StateLog.viewsAsOf(spark, ref, 4L)._1, hashR,
      "as-of(retract gen) hash vs live retained view")
    sameSet(StateLog.viewsAsOf(spark, ref, 3L)._1, hashF,
      "as-of(pre-retraction fold) hash restores the deleted docs")
    // the second fold applies the tombstones physically
    StateLog.compactLog(spark, ref)
    assert(StateLog.activeGenerations(spark, ref) == 1)
    val (hashF2, bandF2, _, _) = StateLog.views(spark, ref)
    sameSet(hashF2, shR, "folded hash layer is tombstone-free")
    sameSet(bandF2.select("band", "band_key", "doc_id"),
      sbR.select("band", "band_key", "doc_id"),
      "folded raw band has the tombstoned rows physically gone")
    assert(!StateLog.retractBatch(spark, ref, pop, isDel, 7L),
      "the retraction op stays skipped after the fold")
  }

  test("state log: order-aware retraction — content re-admitted after a deletion owns its hash again (ADVICE r11)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.aDocs
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))

    // delete the five normal docs (away from the hot families), then a
    // later crawl re-discovers the SAME CONTENT under fresh doc_ids — the
    // production re-admission sequence the tombstones must not outlive
    val delIds = Seq(180L, 181L, 182L, 183L, 184L)
    val isDel = col("doc_id").isin(delIds: _*)
    assert(StateLog.retractBatch(spark, ref, oldDocs, isDel, 1L))
    val retained = oldDocs.filter(!isDel).localCheckpoint()
    val recrawl = docsDf(aDocs.filter(d => delIds.contains(d._1))
      .zipWithIndex.map { case ((_, t, l, s, n), i) => (5000L + i, t, l, s, n) })
    val docs2 = retained.withColumn("is_new", lit(false))
      .unionByName(recrawl.withColumn("is_new", lit(true)))
    // the re-crawl probes the POST-retraction views: its content hashes
    // are gone from the hash layer, so the exact gate must pass it
    val (preHash, _, _, _) = StateLog.views(spark, ref)
    val s2 = Curation.deltaSurvivorsFromState(docs2, col("is_new"), preHash,
      StateLog.effectiveBand(spark, ref),
      spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    val readmitted = s2.select(md5(col("text")).as("h")).distinct().localCheckpoint()
    assert(readmitted.count() > 0,
      "fixture must carry at least one re-crawled doc through the survivor gates")
    assert(StateLog.ingestBatch(spark, ref, st, docs2, col("is_new"), 2L))

    // the view must NOT subtract the re-admitted hashes: the retract row
    // (gen 2) tombstones only generations committed BEFORE it, and the
    // re-admitting ingest (gen 3) is after
    def hashView() = StateLog.views(spark, ref)._1
    assert(hashView().join(readmitted, Seq("h"), "left_semi").count() == readmitted.count(),
      "re-admitted content must own its hash again in the live view")
    // scratch equivalence over (retained ∪ re-admitted survivors)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = retained.select(cols.head, cols.tail: _*)
      .unionByName(s2.select(cols.head, cols.tail: _*))
    val (sh, _, _) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(hashView(), sh, "hash view after retract-then-readmit vs scratch")

    // the fold must bake the CORRECT view in physically…
    StateLog.compactLog(spark, ref)
    sameSet(hashView(), sh, "folded hash layer after retract-then-readmit vs scratch")
    // …so a further exact duplicate of the re-admitted content is gated
    // out at the exact layer instead of being re-admitted as 'novel'
    val dupAgain = s2.select(cols.head, cols.tail: _*).orderBy("doc_id").limit(1)
      .withColumn("doc_id", lit(9999L)).localCheckpoint()
    val docs3 = pop.withColumn("is_new", lit(false))
      .unionByName(dupAgain.withColumn("is_new", lit(true)))
    val (h3, _, _, _) = StateLog.views(spark, ref)
    val s3 = Curation.deltaSurvivorsFromState(docs3, col("is_new"), h3,
      StateLog.effectiveBand(spark, ref),
      spark.table(st.testVocab), spark.table(st.mixRates))
    assert(dupAgain.count() > 0 && s3.count() == 0,
      "an exact duplicate of re-admitted content must gate out at the exact layer")
  }

  test("state log: two concurrent committers cannot lose an update — optimistic gen_id guard (VERDICT r12 task 4)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))

    // two independent batches with disjoint vocabularies (no shared band
    // keys, no shared hashes), so EITHER commit order lands on the same
    // final state and the scratch comparison is order-free
    val frRows = Seq(
      (3000L, "les vignerons taillent sarments pendant hiver froid", "fr", "src", 52L),
      (3001L, "phare breton guide chalutiers vers criee matinale", "fr", "src", 50L),
      (3002L, "fromagers affinent meules dans caves humides", "fr", "src", 45L))
    val batches = Map(
      10L -> docsDf(bDocs).localCheckpoint(),
      11L -> docsDf(frRows).localCheckpoint())
    def docsFor(id: Long) = oldDocs.withColumn("is_new", lit(false))
      .unionByName(batches(id).withColumn("is_new", lit(true)))
    // expected survivors, computed against the BASE state: the batches
    // are mutually inert, so neither commit changes the other's gates
    val (h0, _, _, _) = StateLog.views(spark, ref)
    val eb0 = StateLog.effectiveBand(spark, ref)
    val expect = batches.keys.toSeq.sorted.map { id =>
      Curation.deltaSurvivorsFromState(docsFor(id), col("is_new"), h0, eb0,
        spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    }

    // race them: both threads read gen 0's manifest head, both try to
    // commit max+1 — without the guard one manifest append is lost or a
    // duplicate gen_id minted; with it the loser recomputes and re-commits
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val done = batches.keys.toSeq.sorted.map { id =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          go.await()
          StateLog.ingestBatch(spark, ref, st, docsFor(id), col("is_new"), id)
        }
      })
    }
    go.countDown()
    assert(done.forall(_.get(300, TimeUnit.SECONDS)), "both concurrent ingests must apply")
    pool.shutdown()

    val manifest = spark.table(ref.manifest).collect()
    val genIds = manifest.map(_.getLong(0)).toSeq
    assert(genIds.sorted == Seq(0L, 1L, 2L),
      s"gen_ids must be unique and dense, got $genIds")
    assert(manifest.map(_.getLong(1)).toSet == Set(-1L, 10L, 11L),
      "both batch commits must be present — no lost update")

    // final state ≡ scratch over (old ∪ both survivor sets), either order
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = expect.foldLeft(oldDocs.select(cols.head, cols.tail: _*)) {
      (acc, s) => acc.unionByName(s.select(cols.head, cols.tail: _*)) }
    val (sh, sb, _) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (hashV, _, _, _) = StateLog.views(spark, ref)
    sameSet(hashV, sh, "hash view after concurrent ingests vs scratch")
    sameSet(StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"),
      "effective band after concurrent ingests vs scratch")
  }

  test("state log: vacuum drops superseded generations only; views, replay-skip, folds and bounded time travel survive (VERDICT r12 task 3)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    def ingest(batch: Seq[(Long, String, String, String, Long)], store: org.apache.spark.sql.DataFrame, id: Long) = {
      val docs = store.withColumn("is_new", lit(false))
        .unionByName(docsDf(batch).withColumn("is_new", lit(true)))
      assert(StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), id))
      docs.filter(col("is_new")).drop("is_new").localCheckpoint()
    }
    ingest(bDocs, oldDocs, 0L) // gen 1 (delta b0)
    StateLog.compactLog(spark, ref) // gen 2 (fold)

    // time travel BEFORE the vacuum: as-of the head ≡ live, as-of gen 1
    // resolves the pre-fold state identically (fold is semantics-free)
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (liveH, _, _, _) = StateLog.views(spark, ref)
    sameSet(StateLog.viewsAsOf(spark, ref, 2L)._1, liveH, "as-of(head) hash vs live")
    sameSet(StateLog.viewsAsOf(spark, ref, 1L)._1, liveH, "as-of(pre-fold) hash vs live")
    val g0Hash = StateLog.viewsAsOf(spark, ref, 0L)._1.localCheckpoint()
    assert(g0Hash.count() < liveH.count(),
      "the historical base must be strictly smaller than the advanced head")

    // vacuum: exactly gen 1's four log-owned tables go (gen 0 points into
    // the snapshot, which the log does not own; gen 2 is the active fold)
    val dropped = StateLog.vacuum(spark, ref)
    assert(dropped.nonEmpty && dropped.forall(_.startsWith(ref.manifest + "_")),
      s"vacuum must drop only log-owned tables, got $dropped")
    assert(dropped.forall(!spark.catalog.tableExists(_)), "dropped tables must leave the catalog")
    assert(dropped.forall(t =>
      !new java.io.File(s"${sys.props("java.io.tmpdir")}/$t").exists()),
      "vacuum must free the DISK, not just the catalog (external-table paths deleted)")
    assert(spark.table(ref.manifest).count() == 3,
      "the manifest history is NEVER vacuumed — it is the replay-skip set")
    val (liveH2, _, _, _) = StateLog.views(spark, ref)
    sameSet(liveH2, liveH, "live hash view across the vacuum")
    // a second vacuum is a no-op
    assert(StateLog.vacuum(spark, ref).isEmpty, "nothing left to vacuum")

    // bounded time travel: the base (snapshot-owned) still resolves; the
    // vacuumed delta generation fails with a CLEAR error, not a resolve
    sameSet(StateLog.viewsAsOf(spark, ref, 0L)._1, g0Hash, "as-of(base) after vacuum")
    val e = intercept[IllegalStateException] { StateLog.viewsAsOf(spark, ref, 1L) }
    assert(e.getMessage.contains("vacuum"), s"unexpected error: ${e.getMessage}")

    // replay-skip reads the full manifest: batch 0 stays skipped
    val replay = oldDocs.withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))
    assert(!StateLog.ingestBatch(spark, ref, st, replay, col("is_new"), 0L),
      "a committed batch must stay skipped after a vacuum")

    // the vacuumed log still ingests and still folds
    val store1 = oldDocs.unionByName(docsDf(bDocs)).localCheckpoint()
    ingest(cDocs, store1, 1L)
    StateLog.compactLog(spark, ref)
    assert(StateLog.activeGenerations(spark, ref) == 1)
    assert(StateLog.vacuum(spark, ref).nonEmpty,
      "the second fold supersedes the first — vacuumable again")
  }

  test("state log graced vacuum: a young fold retains its superseded generation, " +
    "an aged one releases it, and a racing reader maps to the bounded error — " +
    "never a raw missing-file failure (VERDICT r15 task 2)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    val docs = oldDocs.withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))
    assert(StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 0L)) // gen 1
    StateLog.compactLog(spark, ref)                                       // gen 2

    // a live reader's frames, resolved below the fold BEFORE any GC — the
    // handle a concurrent as-of scan holds
    val asof1 = StateLog.viewsAsOf(spark, ref, 1L)._1
    assert(asof1.count() > 0)

    // graced vacuum against the YOUNG fold: the supersession is seconds
    // old — nothing may drop, and the pre-fold read still resolves
    assert(StateLog.vacuum(spark, ref, graceMs = 600000L).isEmpty,
      "a generation superseded inside the grace window must survive")
    assert(StateLog.viewsAsOf(spark, ref, 1L)._1.count() > 0,
      "as-of below the young fold must still resolve")

    // age the fold's COMMIT (its manifest row file is the supersession
    // instant the graced basis reads) past the window
    val mdir = new java.io.File(sys.props("java.io.tmpdir"), s"${ref.manifest}_manifest")
    val foldRows = Option(mdir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.startsWith("part-row-g2-"))
    assert(foldRows.nonEmpty, "the fold's manifest row file must exist")
    foldRows.foreach(f =>
      f.setLastModified(System.currentTimeMillis() - 86400000L): Unit)
    val dropped = StateLog.vacuum(spark, ref, graceMs = 600000L)
    assert(dropped.size == 5,
      s"the aged fold must release the superseded delta's five tables, got $dropped")

    // the reader's PRE-RESOLVED frames — the exact shape racing the drop:
    // the raw missing-file failure maps to the clean bounded error
    val e = intercept[IllegalStateException] {
      StateLog.guardAsOfRead(spark, ref, 1L)(asof1.count())
    }
    assert(e.getMessage.contains("bounded"), e.getMessage)
    // a FRESH resolution is bounded the classic way
    val e2 = intercept[IllegalStateException] { StateLog.viewsAsOf(spark, ref, 1L) }
    assert(e2.getMessage.contains("bounded"), e2.getMessage)
    // the guard is transparent on the happy path...
    assert(StateLog.guardAsOfRead(spark, ref, 2L)(
      StateLog.viewsAsOf(spark, ref, 2L)._1.count()) > 0)
    // ...and an unrelated failure inside it propagates untouched
    val boom = intercept[RuntimeException] {
      StateLog.guardAsOfRead(spark, ref, 2L)(
        (throw new RuntimeException("unrelated")): Long)
    }
    assert(boom.getMessage == "unrelated")
  }

  test("state log soak: four batches, two folds, a retraction, vacuums and replays interleaved — the final state still equals scratch") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, fam}
    // the unbounded-stream induction DRIVEN, not argued: every operation
    // class the log supports, interleaved over one horizon, with the
    // survivor truth recomputed from the committed views before each
    // ingest (so no step's outcome is assumed) and ONE scratch equality
    // at the end over exactly the population the horizon admitted
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))

    // batch i: a novel unique doc, an exact copy of batch i-1's novel doc
    // (the exact gate's food), and a fam variant with a fresh tail (the
    // band layer's food) — ids strictly increasing so commit order is
    // doc_id order and the scratch pack uses the plain ordering
    def mkBatch(i: Int): Seq[(Long, String, String, String, Long)] = {
      val novel = s"batch $i studies ${"aurora borealis over frozen tundra plains".split(" ").map(w => s"$w$i").mkString(" ")}"
      val famVar = s"${fam(i % fam.length)} beneath batch $i moonlight"
      val dup = if (i == 0) novel + " anew"
        else s"batch ${i - 1} studies ${"aurora borealis over frozen tundra plains".split(" ").map(w => s"$w${i - 1}").mkString(" ")}"
      Seq((10000L + i * 100, novel, "en", "src", novel.length.toLong),
        (10001L + i * 100, dup, "en", "src", dup.length.toLong),
        (10002L + i * 100, famVar, "en", "src", famVar.length.toLong))
    }

    // the SELF-CONTAINED surface throughout (eq147): every operation
    // hands over only the batch/predicate — the corpus store, and the
    // indexed population a retraction's orphan recount needs, are
    // resolved from the log's own corpus layer, never caller-rebuilt
    val survivorSets = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    def ingest(i: Int): Unit = {
      val batch = docsDf(mkBatch(i))
      val docs = StateLog.corpus(spark, ref).withColumn("is_new", lit(false))
        .unionByName(batch.withColumn("is_new", lit(true)))
      val (hashV, _, _, _) = StateLog.views(spark, ref)
      val s = Curation.deltaSurvivorsFromState(docs, col("is_new"), hashV,
        StateLog.effectiveBand(spark, ref),
        spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
      assert(StateLog.ingestBatch(spark, ref, st, batch, i.toLong))
      survivorSets += s
    }

    val delIds = Seq(181L, 182L) // normals, away from the hot families
    val isDel = col("doc_id").isin(delIds: _*)
    ingest(0); ingest(1)
    StateLog.compactLog(spark, ref)
    assert(StateLog.vacuum(spark, ref).nonEmpty, "fold 1 leaves vacuumable deltas")
    ingest(2)
    assert(StateLog.retractBatch(spark, ref, isDel, 100L))
    ingest(3)
    // replay storm mid-horizon: every committed op re-offered, all no-ops
    (0 to 3).foreach { i =>
      assert(!StateLog.ingestBatch(spark, ref, st, docsDf(mkBatch(i)), i.toLong),
        s"committed batch $i must stay skipped across folds and vacuums")
    }
    assert(!StateLog.retractBatch(spark, ref, isDel, 100L),
      "the committed retraction op must stay skipped")
    StateLog.compactLog(spark, ref)
    assert(StateLog.vacuum(spark, ref).nonEmpty, "fold 2 leaves vacuumable history")
    assert(StateLog.activeGenerations(spark, ref) == 1,
      "the horizon ends folded to a single active generation")
    assert(spark.table(ref.manifest).count() == 8,
      "manifest: base + 4 batches + retract + 2 folds — replays appended nothing")

    // ONE scratch equality over exactly the admitted population: the
    // retained old corpus plus every batch's survivors (gate decisions
    // were recomputed per step, so this is the horizon's ground truth)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = survivorSets.foldLeft(
      oldDocs.filter(!isDel).select(cols.head, cols.tail: _*)) {
      (acc, s) => acc.unionByName(s.select(cols.head, cols.tail: _*)) }
    assert(pop.count() < oldDocs.count() - delIds.size + 12,
      "the gates must be load-bearing over the horizon (some batch docs dropped)")
    val (sh, sb, sstop) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (hashV, _, stopV, packV) = StateLog.views(spark, ref)
    sameSet(hashV, sh, "soak hash layer vs scratch")
    sameSet(StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"), "soak effective band vs scratch")
    sameSet(stopV.distinct(), sstop.select("band", "band_key"), "soak stop union vs scratch")
    // the log-resolved corpus store IS the admitted population — the
    // fifth layer under the same scratch standard as the other four
    sameSet(StateLog.corpus(spark, ref), pop, "soak corpus layer vs scratch")
    // pack ignores deletions by design (eq143 posture; eq145's repack is
    // the re-accounting pass) — scratch pack is over old-curated ∪ survivors
    val packCols = Seq("lang", "doc_id", "n_tokens", "n_chars")
    val packPop = survivorSets.foldLeft(
      Curation.curatedDocsDf(oldDocs).select(packCols.head, packCols.tail: _*)) {
      (acc, s) => acc.unionByName(s.select(packCols.head, packCols.tail: _*)) }
    sameSet(packV, Curation.packSummaryOf(packPop), "soak cumulative pack vs scratch")
  }

  test("state log: two writers WITHOUT a shared mutex — the durable commit " +
    "claim arbitrates alone, no duplicate gen_id, no lost update (VERDICT r12 task 1)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val storeTbl = StateLog.writeCorpusStore(spark, oldDocs)
    val ref = StateLog.fromSnapshot(spark, st, storeTbl)

    // two independent batches with disjoint vocabularies (mutually inert,
    // so either commit order lands on the same final state), each staged
    // AS A CATALOG TABLE: the two "processes" resolve every input through
    // the shared metastore, nothing in-memory crosses sessions
    val frRows = Seq(
      (4000L, "alpinistes gravissent aretes glacees avant aube claire", "fr", "src", 55L),
      (4001L, "apiculteurs recoltent miel dore des ruches provencales", "fr", "src", 55L),
      (4002L, "potiers tournent argile rouge pres du four ancien", "fr", "src", 50L))
    val tmp = sys.props("java.io.tmpdir")
    val batchTbl = Map(20L -> "graft_xproc_b20", 21L -> "graft_xproc_b21")
    docsDf(bDocs).write.mode("overwrite")
      .option("path", s"$tmp/graft_xproc_b20").saveAsTable(batchTbl(20L))
    docsDf(frRows).write.mode("overwrite")
      .option("path", s"$tmp/graft_xproc_b21").saveAsTable(batchTbl(21L))
    def docsFor(s: org.apache.spark.sql.SparkSession, id: Long) =
      s.table(storeTbl).withColumn("is_new", lit(false))
        .unionByName(s.table(batchTbl(id)).withColumn("is_new", lit(true)))
    // expected survivors against the BASE state (the batches are mutually
    // inert, so neither commit changes the other's gates)
    val (h0, _, _, _) = StateLog.views(spark, ref)
    val eb0 = StateLog.effectiveBand(spark, ref)
    val expect = batchTbl.keys.toSeq.sorted.map { id =>
      Curation.deltaSurvivorsFromState(docsFor(spark, id), col("is_new"), h0, eb0,
        spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    }

    // the cross-process shape: each writer in its OWN session, and the
    // in-process commit mutex DISABLED for this manifest — only the
    // durable per-generation claim can arbitrate, exactly as it would
    // between two driver JVMs sharing a persistent metastore
    StateLog.simulateCrossProcessWriters(ref.manifest, on = true)
    try {
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val go = new CountDownLatch(1)
      val sessions = batchTbl.keys.map(id => id -> spark.newSession()).toMap
      val done = batchTbl.keys.toSeq.sorted.map { id =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            go.await()
            StateLog.ingestBatch(sessions(id), ref, st,
              docsFor(sessions(id), id), col("is_new"), id)
          }
        })
      }
      go.countDown()
      // both writers must COMPLETE (the loser of the claim race retries
      // against the new head, like an in-process optimistic abort); the
      // durable outcome — not the booleans — is the contract: in the rare
      // torn-claim interleaving a writer's first attempt is committed by
      // a peer's roll-forward and its retry reports "already committed"
      done.foreach(_.get(300, TimeUnit.SECONDS): Unit)
      pool.shutdown()
    } finally StateLog.simulateCrossProcessWriters(ref.manifest, on = false)

    // the peers appended through THEIR sessions — refresh this session's
    // relation cache before reading the manifest directly
    spark.catalog.refreshTable(ref.manifest)
    val manifest = spark.table(ref.manifest).distinct().collect()
    assert(manifest.map(_.getLong(0)).toSeq.sorted == Seq(0L, 1L, 2L),
      s"gen_ids must be unique and dense, got ${manifest.map(_.getLong(0)).toSeq.sorted}")
    assert(manifest.map(_.getLong(1)).toSet == Set(-1L, 20L, 21L),
      "both batch commits must be present exactly once — no lost update")

    // final state ≡ scratch over (old ∪ both survivor sets), either order
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = expect.foldLeft(oldDocs.select(cols.head, cols.tail: _*)) {
      (acc, s) => acc.unionByName(s.select(cols.head, cols.tail: _*)) }
    val (sh, sb, _) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (hashV, _, _, _) = StateLog.views(spark, ref)
    sameSet(hashV, sh, "hash view after cross-process ingests vs scratch")
    sameSet(StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"),
      "effective band after cross-process ingests vs scratch")
  }

  test("state log: empty micro-batches, fully-gated batches and empty " +
    "retractions commit cleanly and change nothing (100 TB degenerate classes)") {
    // At scale these are ROUTINE: a quiet source emits an empty
    // micro-batch, a re-crawl batch is 100% duplicates (every doc gated
    // out), a deletion request matches nothing. Each must still COMMIT
    // (the batch id enters the replay-skip set — skipping the commit
    // would replay the batch forever), write well-formed empty
    // generation tables, and leave every view bit-identical.
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (h0, _, _, p0) = StateLog.views(spark, ref)
    val hash0 = h0.localCheckpoint()
    val pack0 = p0.localCheckpoint()
    val corpus0 = StateLog.corpus(spark, ref).localCheckpoint()

    // 1. an EMPTY micro-batch (self-contained surface)
    val empty = docsDf(Seq.empty)
    assert(StateLog.ingestBatch(spark, ref, st, empty, 0L),
      "an empty batch must still commit (replay-skip needs the id)")
    assert(!StateLog.ingestBatch(spark, ref, st, empty, 0L),
      "and its replay must be skipped")
    sameSet(StateLog.views(spark, ref)._1, hash0, "hash view after an empty batch")
    sameSet(StateLog.views(spark, ref)._4, pack0, "pack summary after an empty batch")
    sameSet(StateLog.corpus(spark, ref), corpus0, "corpus after an empty batch")

    // 2. a batch that gates out ENTIRELY (exact duplicates of old docs
    // under fresh ids — the re-crawl shape)
    val dupBatch = docsDf(aDocs.filter(_._1 >= 180L)
      .map { case (_, t, l, s, n) => (9000L + n, t, l, s, n) })
    assert(dupBatch.count() > 0)
    assert(StateLog.ingestBatch(spark, ref, st, dupBatch, 1L),
      "a fully-gated batch must still commit")
    sameSet(StateLog.views(spark, ref)._1, hash0, "hash view after a fully-gated batch")
    sameSet(StateLog.corpus(spark, ref), corpus0, "corpus after a fully-gated batch")

    // 3. an EMPTY retraction (the deletion predicate matches nothing)
    assert(StateLog.retractBatch(spark, ref, col("doc_id") === -12345L, 50L),
      "an empty retraction must still commit")
    assert(!StateLog.retractBatch(spark, ref, col("doc_id") === -12345L, 50L))
    sameSet(StateLog.views(spark, ref)._1, hash0, "hash view after an empty retraction")
    sameSet(StateLog.corpus(spark, ref), corpus0, "corpus after an empty retraction")

    // 4. the fold digests the three degenerate generations and the next
    // REAL batch still lands on exactly the right state
    StateLog.compactLog(spark, ref)
    assert(StateLog.activeGenerations(spark, ref) == 1)
    sameSet(StateLog.views(spark, ref)._1, hash0, "hash view across the fold")
    sameSet(StateLog.corpus(spark, ref), corpus0, "corpus across the fold")
    val docs2 = StateLog.corpus(spark, ref).withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))
    val (hNow, _, _, _) = StateLog.views(spark, ref)
    val s2 = Curation.deltaSurvivorsFromState(docs2, col("is_new"), hNow,
      StateLog.effectiveBand(spark, ref),
      spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    assert(s2.count() > 0, "the real batch must carry survivors")
    assert(StateLog.ingestBatch(spark, ref, st, docsDf(bDocs), 2L))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = oldDocs.select(cols.head, cols.tail: _*)
      .unionByName(s2.select(cols.head, cols.tail: _*))
    val (sh, _, _) = Dedup.indexBuildFrames(pop, lit(false))
    sameSet(StateLog.views(spark, ref)._1, sh,
      "hash view after degenerate ops + a real batch vs scratch")
    sameSet(StateLog.corpus(spark, ref), pop,
      "corpus after degenerate ops + a real batch vs scratch")
  }

  test("state log: a claimant that died between claim and append is ROLLED " +
    "FORWARD by the next committer; a torn claim is dropped and its slot " +
    "re-claimed (VERDICT r12 task 1, crash matrix)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    def ingest(rows: Seq[(Long, String, String, String, Long)], id: Long): Boolean = {
      val docs = StateLog.corpus(spark, ref).withColumn("is_new", lit(false))
        .unionByName(docsDf(rows).withColumn("is_new", lit(true)))
      StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), id)
    }
    assert(ingest(bDocs, 0L)) // gen 1

    // simulate a claimant that wrote its WHOLE generation + claim and
    // died before its manifest append: plant attempt tables with real
    // layer schemas and a whole one-row claim at gen 2 for batch 50
    val tmp = sys.props("java.io.tmpdir")
    def plant(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val t = s"${ref.manifest}_$name"
      df.write.mode("overwrite").option("path", s"$tmp/$t").saveAsTable(t)
      t
    }
    val crashedHash = plant("hash_b50_acrashed_1",
      Seq(("feedfacefeedfacefeedfacefeedface")).toDF("h"))
    val crashedBand = plant("band_b50_acrashed_1",
      Seq((99, "planted_band_key", 7777L)).toDF("band", "band_key", "doc_id"))
    val crashedStop = plant("stop_b50_acrashed_1",
      spark.table(s"$crashedBand").select("band", "band_key").limit(0))
    // the pack layer resolves from the LATEST delta, so the crashed
    // attempt's pack is (as in a real attempt) a cumulative summary —
    // reuse gen 1's content copied to the attempt's own table
    val gen1 = spark.table(ref.manifest).filter(col("gen_id") === 1L).head()
    val crashedPack = plant("pack_b50_acrashed_1", spark.table(gen1.getString(6)))
    val crashedCur = plant("cur_b50_acrashed_1",
      Seq((7777L, "planted doc", "en", "src", 11L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val claim2 = new java.io.File(StateLog.claimMarkerPathForTest(spark, ref, 2L))
    claim2.getParentFile.mkdirs()
    java.nio.file.Files.write(claim2.toPath,
      Seq(2L, 50L, "delta", crashedHash, crashedBand, crashedStop, crashedPack,
        crashedCur).mkString("\t").getBytes("UTF-8"))

    // the next committer finds the claim, commits the dead writer's row
    // on its behalf, aborts, and retries its own commit at gen 3
    assert(ingest(cDocs, 1L), "the live committer must still land")
    spark.catalog.refreshTable(ref.manifest)
    val rows = spark.table(ref.manifest).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows == Seq((0L, -1L), (1L, 0L), (2L, 50L), (3L, 1L)),
      s"the crashed claim must be rolled forward as gen 2 (batch 50), " +
        s"the live commit landing after it — got $rows")
    val (hashV, _, _, _) = StateLog.views(spark, ref)
    assert(hashV.filter(col("h") === "feedfacefeedfacefeedfacefeedface").count() == 1,
      "the rolled-forward generation's content must be live in the views")
    assert(!ingest(Seq((7777L, "planted doc", "en", "src", 11L)), 50L),
      "the rolled-forward batch id must be skipped like any committed batch")
    assert(!claim2.exists(),
      "a rolled-forward claim is inert the instant its row is in the " +
        "manifest — the roll-forward deletes the marker")

    // a TORN claim (unparseable content — only a non-atomic store can
    // publish one) never committed anything: the next committer deletes
    // it and the slot is re-claimed by its retry
    val claim4 = new java.io.File(StateLog.claimMarkerPathForTest(spark, ref, 4L))
    java.nio.file.Files.write(claim4.toPath,
      "4\t60\tdelta\tx".getBytes("UTF-8")) // truncated mid-row
    val enRows = Seq(
      (8000L, "astronomers chart distant quasars from desert observatories", "en", "src", 60L))
    assert(ingest(enRows, 2L), "the torn claim must not block the slot")
    spark.catalog.refreshTable(ref.manifest)
    val gen4 = spark.table(ref.manifest).distinct()
      .filter(col("gen_id") === 4L).collect()
    assert(gen4.length == 1 && gen4(0).getLong(1) == 2L,
      "gen 4 must be the live batch's commit, the torn claim discarded")
    assert(!claim4.exists(),
      "the torn claim is deleted and the winner's own claim self-drops " +
        "after its append — no residue on the slot")

    // fail-LOUD contract (r14 review): a genuine IO failure in the claim
    // publish must surface promptly, never masquerade as 16 rounds of
    // phantom claim-race contention. Block the claims DIRECTORY with a
    // regular file: mkdirs/create then throw a real IO error, which must
    // propagate as such (not a ConcurrentModificationException) and fast.
    val claimsDir = new java.io.File(
      StateLog.claimMarkerPathForTest(spark, ref, 99L)).getParentFile
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(): Unit
    }
    deleteRec(claimsDir)
    java.nio.file.Files.write(claimsDir.toPath, "not a dir".getBytes("UTF-8"))
    try {
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        ingest(Seq((9000L, "volcanologists sample basalt near the caldera rim",
          "en", "src", 48L)), 3L)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(!e.isInstanceOf[java.util.ConcurrentModificationException],
        s"an IO failure must not read as claim-race contention: $e")
      assert(sec < 60.0, f"the failure must surface promptly, took $sec%.1f s")
    } finally {
      claimsDir.delete(): Unit // unblock: later tests may share the tmpdir
    }
    // the log is intact: the failed attempt committed nothing, and the
    // next commit (claims dir re-creatable again) lands normally
    assert(ingest(Seq((9001L, "cartographers trace meanders of the braided river",
      "en", "src", 52L)), 3L), "the log must recover once the store heals")
  }

  test("state log: the SAME batch id raced by two concurrent writers lands " +
    "exactly once — the duplicate loses at the commit point, not by luck") {
    // At-least-once delivery can produce CONCURRENT duplicates, not just
    // sequential replays (two workers picking up the same unacked batch):
    // the dup-skip check alone cannot see an in-flight twin, so the
    // commit point must be what serializes them — the loser's retry then
    // finds the batch id committed and no-ops. With attempt-unique names
    // the loser's tables never touch the winner's (the ADVICE r12
    // committed-history-mutation window), and its abort cleanup drops
    // them.
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    val docs = oldDocs.withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))
    val (h0, _, _, _) = StateLog.views(spark, ref)
    val expected = Curation.deltaSurvivorsFromState(docs, col("is_new"), h0,
      StateLog.effectiveBand(spark, ref),
      spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()

    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val results = (1 to 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          go.await()
          StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 30L)
        }
      })
    }
    go.countDown()
    val applied = results.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(applied.count(identity) == 1,
      s"exactly one of the duplicate writers must report applied, got $applied")

    spark.catalog.refreshTable(ref.manifest)
    val manifest = spark.table(ref.manifest).distinct().collect()
    assert(manifest.map(_.getLong(0)).toSeq.sorted == Seq(0L, 1L),
      "exactly one generation committed for the duplicated batch")
    assert(manifest.count(_.getLong(1) == 30L) == 1)
    // the committed state is the batch applied ONCE — scratch equality
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = oldDocs.select(cols.head, cols.tail: _*)
      .unionByName(expected.select(cols.head, cols.tail: _*))
    val (sh, sb, _) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(StateLog.views(spark, ref)._1, sh, "hash view after a duplicate race vs scratch")
    sameSet(StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"),
      "effective band after a duplicate race vs scratch")
    // a later replay of the id stays a no-op
    assert(!StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 30L))
  }

  test("state log sweep: crashed-attempt orphans and inert claims reclaimed; " +
    "manifest-referenced tables, pending claims and live state survive (VERDICT r12 task 2)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    val docs = oldDocs.withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))
    assert(StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 0L)) // gen 1
    StateLog.compactLog(spark, ref)                                       // gen 2

    // plant a CRASHED attempt: generation tables under the log's prefix
    // that no manifest row and no claim references — exactly what a
    // driver death mid-generation-write leaves, which vacuum (walking
    // manifest rows) can never see
    val tmp = sys.props("java.io.tmpdir")
    val orphans = Seq("hash_b9_adead_1", "band_b9_adead_1", "stop_b9_adead_1",
      "pack_b9_adead_1", "cur_b9_adead_1").map(s => s"${ref.manifest}_$s")
    orphans.foreach { t =>
      Seq(("junk")).toDF("h").write.mode("overwrite")
        .option("path", s"$tmp/$t").saveAsTable(t)
    }
    // plant a PENDING claim marker (its gen_id is NOT in the manifest)
    // and the table it references: a claimant that died between claim
    // and append — a peer may still roll it forward, so the sweep must
    // keep BOTH
    val keepT = s"${ref.manifest}_hash_b9_apending_7"
    Seq(("x")).toDF("h").write.mode("overwrite")
      .option("path", s"$tmp/$keepT").saveAsTable(keepT)
    val pendingClaim = new java.io.File(
      StateLog.claimMarkerPathForTest(spark, ref, 9L))
    pendingClaim.getParentFile.mkdirs()
    java.nio.file.Files.write(pendingClaim.toPath,
      Seq(9L, 9L, "delta", keepT, keepT, keepT, keepT, keepT)
        .mkString("\t").getBytes("UTF-8"))
    // clean commits SELF-DROP their claims (VERDICT r13 task 5): after
    // two normal commits there is NO claim residue for the sweep — plant
    // an inert marker (a committed gen's claim, the crashed-winner /
    // belt-and-braces-loser shape) plus a dead publish temp file to
    // prove the sweep reclaims both
    assert(!new java.io.File(
      StateLog.claimMarkerPathForTest(spark, ref, 1L)).exists() &&
      !new java.io.File(
        StateLog.claimMarkerPathForTest(spark, ref, 2L)).exists(),
      "clean commits must leave zero claim markers behind (self-drop)")
    val inertClaim = new java.io.File(
      StateLog.claimMarkerPathForTest(spark, ref, 2L))
    java.nio.file.Files.write(inertClaim.toPath,
      "2\t0\tfold\tx\tx\tx\tx\tx".getBytes("UTF-8"))
    val deadTmp = new java.io.File(inertClaim.getParentFile, "g7.claim.12345_1.tmp")
    java.nio.file.Files.write(deadTmp.toPath, "half".getBytes("UTF-8"))

    val preHash = StateLog.views(spark, ref)._1.localCheckpoint()
    val dropped = StateLog.sweep(spark, ref)
    orphans.foreach { t =>
      assert(dropped.contains(t), s"sweep must reclaim the orphan $t")
      assert(!spark.catalog.tableExists(t), s"$t must leave the catalog")
      assert(!new java.io.File(s"$tmp/$t").exists(),
        s"sweep must free the DISK under $t, not just the catalog")
    }
    // claims of COMMITTED generations are inert and reclaimed too, and
    // crashed publishes' temp files with them
    assert(dropped.contains(s"${ref.manifest}_claim_g2"),
      s"committed-generation claims are inert and must be swept, got $dropped")
    assert(!inertClaim.exists(), "the inert marker must leave the store")
    assert(!deadTmp.exists(), "dead publish temp files are reclaimed")
    // the pending claim and its referenced content survive
    assert(pendingClaim.exists(),
      "a pending claim is in-flight commit state — never swept")
    assert(spark.catalog.tableExists(keepT),
      "content a pending claim references may yet be rolled forward — never swept")
    // nothing the manifest references was touched; views and replay-skip hold
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(StateLog.views(spark, ref)._1, preHash, "live hash view across the sweep")
    assert(!StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 0L),
      "a committed batch must stay skipped after a sweep")
    // a second sweep finds nothing new (the pending claim still pending)
    assert(StateLog.sweep(spark, ref).isEmpty, "nothing left to sweep")
  }

  test("state log graced sweep: aged foreign orphans (store-only, no catalog " +
    "entry) and dead stages are reclaimed; young candidates — a live writer's " +
    "shape — survive until aged (VERDICT r14 task 2)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    val docs = oldDocs.withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))
    assert(StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 0L)) // gen 1

    val tmp = sys.props("java.io.tmpdir")
    def backdate(dir: java.io.File, ageMs: Long): Unit = {
      val t = System.currentTimeMillis() - ageMs
      def walk(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(walk))
        f.setLastModified(t): Unit
      }
      walk(dir)
    }
    // a FOREIGN crashed attempt: parquet dirs under the shared root with
    // the log's prefix that THIS session's catalog never saw (another
    // process's catalog minted them) — the catalog-only sweep is blind to
    // these by construction
    def plantDir(name: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(tmp, name)
      Seq(("junk")).toDF("h").write.mode("overwrite").parquet(d.getPath)
      backdate(d, ageMs)
      d
    }
    val agedOrphan = plantDir(s"${ref.manifest}_hash_b8_aforeigndead_1", 3600000L)
    val agedStage = plantDir(s"${ref.manifest}_stage_99999_7", 3600000L)
    val youngOrphan = plantDir(s"${ref.manifest}_band_b8_aforeignlive_1", 0L)
    // claim-publish temp files: an aged one is a crashed publish, a fresh
    // one may be a live peer's between-create-and-link window
    val claimsDir = new java.io.File(
      StateLog.claimMarkerPathForTest(spark, ref, 1L)).getParentFile
    claimsDir.mkdirs()
    val agedTmp = new java.io.File(claimsDir, "g5.claim.1_1.tmp")
    java.nio.file.Files.write(agedTmp.toPath, "dead".getBytes("UTF-8"))
    agedTmp.setLastModified(System.currentTimeMillis() - 3600000L): Unit
    val freshTmp = new java.io.File(claimsDir, "g6.claim.2_1.tmp")
    java.nio.file.Files.write(freshTmp.toPath, "live".getBytes("UTF-8"))

    val preHash = StateLog.views(spark, ref)._1.localCheckpoint()
    val dropped = StateLog.sweep(spark, ref, graceMs = 60000L)
    assert(dropped.contains(agedOrphan.getName),
      s"the aged foreign orphan must be reclaimed from the store, got $dropped")
    assert(!agedOrphan.exists(), "the orphan's data must leave the disk")
    assert(dropped.contains(agedStage.getName) && !agedStage.exists(),
      "a dead commit stage is a crashed-writer leftover and is reclaimed")
    assert(!dropped.contains(youngOrphan.getName) && youngOrphan.exists(),
      "a YOUNG unreferenced dir is a live writer's in-flight shape — kept")
    assert(!agedTmp.exists(), "an aged publish temp is a crashed publish")
    assert(freshTmp.exists(), "a fresh publish temp may be a live peer's")
    // nothing live was touched
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(StateLog.views(spark, ref)._1, preHash, "live hash view across the graced sweep")
    assert(!StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 0L),
      "replay-skip must hold across the graced sweep")

    // once the young candidates AGE past the window, the next graced
    // sweep reclaims them too — the crashed-writer lifecycle completes
    backdate(youngOrphan, 3600000L)
    freshTmp.setLastModified(System.currentTimeMillis() - 3600000L): Unit
    val dropped2 = StateLog.sweep(spark, ref, graceMs = 60000L)
    assert(dropped2.contains(youngOrphan.getName) && !youngOrphan.exists())
    assert(!freshTmp.exists())
    // and the zero-grace legacy form still reports a clean store
    assert(StateLog.sweep(spark, ref).isEmpty, "nothing left to sweep")
  }

  test("state log: releasing the wrapped snapshot after fold+vacuum frees the " +
    "genesis tables; live state survives, as-of(0) is bounded (VERDICT r12 task 7)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val storeTbl = StateLog.writeCorpusStore(spark, oldDocs)
    val ref = StateLog.fromSnapshot(spark, st, storeTbl)
    val docs = oldDocs.withColumn("is_new", lit(false))
      .unionByName(docsDf(bDocs).withColumn("is_new", lit(true)))

    // refused before a fold exists…
    intercept[IllegalArgumentException] { StateLog.releaseWrappedSnapshot(spark, ref) }
    assert(StateLog.ingestBatch(spark, ref, st, docs, col("is_new"), 0L)) // gen 1
    StateLog.compactLog(spark, ref)                                       // gen 2
    // …and before the pre-fold history is vacuumed (the time-travel
    // window below the fold must already be gone)
    val e0 = intercept[IllegalArgumentException] { StateLog.releaseWrappedSnapshot(spark, ref) }
    assert(e0.getMessage.contains("vacuum"), s"unexpected error: ${e0.getMessage}")
    assert(StateLog.vacuum(spark, ref).nonEmpty)

    val preHash = StateLog.views(spark, ref)._1.localCheckpoint()
    val preCorpus = StateLog.corpus(spark, ref).localCheckpoint()
    val released = StateLog.releaseWrappedSnapshot(spark, ref)
    assert(released.contains(st.index.hash) && released.contains(storeTbl),
      s"release must drop the snapshot index tables and the corpus store, got $released")
    released.foreach(t =>
      assert(!spark.catalog.tableExists(t), s"$t must leave the catalog"))
    assert(!new java.io.File(s"${sys.props("java.io.tmpdir")}/$storeTbl").exists(),
      "release must free the DISK, not just the catalog")

    // live reads are untouched (the fold's own tables carry the state)…
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(StateLog.views(spark, ref)._1, preHash, "live hash view across the release")
    sameSet(StateLog.corpus(spark, ref), preCorpus, "live corpus across the release")
    // …while historical reads below the fold are now cleanly bounded
    val e1 = intercept[IllegalStateException] { StateLog.viewsAsOf(spark, ref, 0L) }
    assert(e1.getMessage.contains("bounded"), s"unexpected error: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] { StateLog.corpusAsOf(spark, ref, 0L) }
    assert(e2.getMessage.contains("bounded"), s"unexpected error: ${e2.getMessage}")
    // a second release is a no-op
    assert(StateLog.releaseWrappedSnapshot(spark, ref).isEmpty,
      "a second release finds nothing left to drop")
    // the released log still ingests (SELF-CONTAINED: the corpus resolves
    // from the fold's cur table — the genesis store is genuinely not needed)
    assert(StateLog.ingestBatch(spark, ref, st, docsDf(cDocs), 1L))
    assert(StateLog.activeGenerations(spark, ref) == 2, "fold + the new delta")
  }

  test("packPrefixCum: the two-phase distributed prefix sum equals the plain " +
    "per-lang window on hostile layouts, and its buckets actually split the work") {
    import org.apache.spark.sql.expressions.Window
    val rows = Seq[(Long, String, java.lang.Long)](
      // en: ids spanning a wide range (buckets split), one NULL n_tokens
      (0L, "en", 10L), (1L, "en", 5L), (1000000L, "en", 7L),
      (9000000L, "en", null), (9000001L, "en", 3L),
      // fr: tightly clustered ids (degenerates toward one bucket — legal)
      (500L, "fr", 4L), (501L, "fr", 6L), (502L, "fr", 8L),
      // de: a single-doc language (min == max, width 1)
      (77L, "de", 9L),
      // NULL lang and empty-string lang must stay SEPARATE partitions
      (10L, null, 2L), (11L, null, 2L),
      (10L, "", 5L), (12L, "", 5L))
      .toDF("doc_id", "lang", "n_tokens")
    val plainW = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    def cumMap(df: org.apache.spark.sql.DataFrame): Map[(Option[String], Long), Long] =
      df.select("lang", "doc_id", "cum").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = cumMap(rows.withColumn("cum",
      coalesce(sum(col("n_tokens")).over(plainW), lit(0L))))
    val got = cumMap(Curation.packPrefixCum(rows))
    assert(got == expect, s"two-phase cum diverged:\n$got\nvs\n$expect")

    // the single-dominant-language shape the rewrite exists for: exact
    // values AND the bucketing genuinely splits the one-language corpus
    val solo = spark.range(0, 200).select(
      (col("id") * 13 % 997).as("doc_id"), lit("en").as("lang"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(col("id") % 7).cast("long").as("n_tokens"))
      .localCheckpoint()
    val e2 = cumMap(solo.withColumn("cum",
      coalesce(sum(col("n_tokens")).over(plainW), lit(0L))))
    assert(cumMap(Curation.packPrefixCum(solo)) == e2,
      "two-phase cum diverged on the single-language corpus")
    val k = spark.sessionState.conf.numShufflePartitions
    val ids = solo.select("doc_id").collect().map(_.getLong(0))
    val width = (ids.max - ids.min) / k + 1
    val maxBucket = ids.groupBy(id => (id - ids.min) / width).values.map(_.size).max
    assert(maxBucket < ids.length / 2,
      s"uniform ids must spread across buckets (max bucket $maxBucket of ${ids.length}) — " +
        "the single-task window is exactly what the two-phase scan removes")
  }

  test("state log: the manifest checkpoint merges the per-row files without changing a row — " +
    "history, views, replay-skip, later appends and crash-window duplicates all survive") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    assert(StateLog.ingestBatch(spark, ref, st, docsDf(bDocs), 0L)) // gen 1
    StateLog.compactLog(spark, ref)                                  // gen 2

    val manifestDir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/${ref.manifest}_manifest")
    def dataFiles(): Seq[java.io.File] = manifestDir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles().size >= 3, "one file per manifest row before the checkpoint")

    val preHash = StateLog.views(spark, ref)._1.localCheckpoint()
    val preCorpus = StateLog.corpus(spark, ref).localCheckpoint()
    val (before, after) = StateLog.checkpointManifest(spark, ref)
    assert(before >= 3 && after == 1,
      s"checkpoint must merge the row files into one, got $before -> $after")
    assert(dataFiles().size == 1)

    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(StateLog.views(spark, ref)._1, preHash, "live hash view across the checkpoint")
    sameSet(StateLog.corpus(spark, ref), preCorpus, "live corpus across the checkpoint")
    assert(!StateLog.ingestBatch(spark, ref, st, docsDf(bDocs), 0L),
      "the replay-skip set must survive the file swap")
    assert(StateLog.checkpointManifest(spark, ref) == ((1L, 1L)),
      "a second checkpoint is a no-op")

    // a later append lands as its own new file and is immediately visible
    assert(StateLog.ingestBatch(spark, ref, st, docsDf(cDocs), 1L)) // gen 3
    assert(dataFiles().size == 2, "the post-checkpoint append is one new file")
    assert(StateLog.activeGenerations(spark, ref) == 2, "fold + the new delta")

    // crash window: a checkpoint that died between its rename and its
    // deletes leaves byte-identical duplicate rows — reads collapse them,
    // and the next checkpoint merges them away
    val postIngestCorpus = StateLog.corpus(spark, ref).localCheckpoint()
    val ckpt = dataFiles().filter(_.getName.startsWith("part-ckpt-")).head
    java.nio.file.Files.copy(ckpt.toPath,
      ckpt.toPath.resolveSibling(ckpt.getName.replace("part-ckpt-", "part-ckpt-dup-")))
    assert(dataFiles().size == 3)
    sameSet(StateLog.corpus(spark, ref), postIngestCorpus,
      "corpus across the duplicated checkpoint file")
    assert(!StateLog.ingestBatch(spark, ref, st, docsDf(cDocs), 1L),
      "replay-skip must hold over collapsed duplicate rows")
    val (b2, a2) = StateLog.checkpointManifest(spark, ref)
    assert(b2 == 3 && a2 == 1, "the next checkpoint merges the duplicates away")
    assert(StateLog.activeGenerations(spark, ref) == 2,
      "history resolves identically after the duplicate merge")
  }

  test("state log: a manifest checkpoint racing live committers loses nothing — " +
    "appends land as their own files, readers re-plan across the file swap") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    val frRows = Seq(
      (3000L, "les vignerons taillent sarments pendant hiver froid", "fr", "src", 52L),
      (3001L, "phare breton guide chalutiers vers criee matinale", "fr", "src", 50L))
    val batches = Seq(20L -> docsDf(bDocs).localCheckpoint(),
      21L -> docsDf(cDocs).localCheckpoint(), 22L -> docsDf(frRows).localCheckpoint())

    // one writer thread committing three exactly-once ingests while a
    // maintenance thread checkpoints the manifest in a loop until the
    // writer finishes: every interleaving must keep every row (an append
    // is never in a checkpoint's listed set) and every read consistent
    // (withManifestRetry re-plans a scan that raced the file swap)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val writer = pool.submit(new java.util.concurrent.Callable[Boolean] {
      def call(): Boolean =
        try { go.await(); batches.forall { case (id, b) =>
          StateLog.ingestBatch(spark, ref, st, b, id) } }
        finally writing.set(false)
    })
    val sweeps = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        go.await()
        var n = 0
        while (writing.get()) { StateLog.checkpointManifest(spark, ref); n += 1
          Thread.sleep(100) }
        n
      }
    })
    go.countDown()
    assert(writer.get(300, TimeUnit.SECONDS), "all three racing-era ingests must apply")
    assert(sweeps.get(300, TimeUnit.SECONDS) >= 1, "the race must exercise at least one checkpoint")
    pool.shutdown()

    // nothing lost in any interleaving: dense gen ids, every batch exactly once
    val manifest = spark.table(ref.manifest).distinct().collect()
    assert(manifest.map(_.getLong(0)).toSeq.sorted == Seq(0L, 1L, 2L, 3L),
      "gen_ids must be unique and dense across the checkpoint race")
    assert(manifest.map(_.getLong(1)).toSet == Set(-1L, 20L, 21L, 22L),
      "every batch commit must survive the file swaps")
    batches.foreach { case (id, b) =>
      assert(!StateLog.ingestBatch(spark, ref, st, b, id),
        s"batch $id must stay replay-skipped after the race") }
    assert(StateLog.checkpointManifest(spark, ref)._2 == 1,
      "the closing checkpoint converges to one file")

    // the raced log's state ≡ the same three ingests into a quiet log
    val ref2 = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    batches.foreach { case (id, b) =>
      assert(StateLog.ingestBatch(spark, ref2, st, b, id)) }
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    sameSet(StateLog.views(spark, ref)._1, StateLog.views(spark, ref2)._1,
      "hash view: raced log vs quiet log")
    sameSet(StateLog.effectiveBand(spark, ref), StateLog.effectiveBand(spark, ref2),
      "effective band: raced log vs quiet log")
    sameSet(StateLog.corpus(spark, ref), StateLog.corpus(spark, ref2),
      "corpus: raced log vs quiet log")
  }

  test("state log repack: a repack generation restores the append-pack invariant — " +
    "stale pre-repack, scratch-exact post-repack, the next ingest exact again, folds carry it, vacuum bounds it") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs, cDocs}
    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))

    // survivors of the batch, computed against the committed views the
    // ingest will see (the scratch side of every pack comparison below)
    val packCols = Seq("lang", "doc_id", "n_tokens", "n_chars")
    def survivorsOf(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val docs = StateLog.corpus(spark, ref).withColumn("is_new", lit(false))
        .unionByName(batch.withColumn("is_new", lit(true)))
      val (hashV, _, _, _) = StateLog.views(spark, ref)
      Curation.deltaSurvivorsFromState(docs, col("is_new"), hashV,
        StateLog.effectiveBand(spark, ref),
        spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    }
    val s1 = survivorsOf(docsDf(bDocs))
    assert(s1.count() > 0, "fixture must carry delta survivors")
    assert(StateLog.ingestBatch(spark, ref, st, docsDf(bDocs), 0L)) // gen 1

    // delete docs that ARE in the pack's membership on BOTH sides — one
    // curated old doc and one batch survivor — so the repack is
    // load-bearing for the summary, not just the index layers
    val curatedOld = Curation.curatedDocsDf(oldDocs).drop("shard_id").localCheckpoint()
    val delOld = curatedOld.select("doc_id").orderBy("doc_id").limit(1)
      .collect().map(_.getLong(0)).toSeq
    val delNew = s1.select("doc_id").orderBy("doc_id").limit(1)
      .collect().map(_.getLong(0)).toSeq
    val isDel = col("doc_id").isin((delOld ++ delNew): _*)
    assert(StateLog.retractBatch(spark, ref, isDel, 1L))            // gen 2

    val retained = curatedOld.select(packCols.head, packCols.tail: _*)
      .unionByName(s1.select(packCols.head, packCols.tail: _*))
      .filter(!isDel).localCheckpoint()
    val scratchPack = Curation.packSummaryOf(retained).localCheckpoint()
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    def packView() = StateLog.views(spark, ref)._4
    assert(packView().exceptAll(scratchPack).count() > 0,
      "fixture must make the repack load-bearing (pre-repack summary still counts deleted docs)")
    val preHash = StateLog.views(spark, ref)._1.localCheckpoint()
    val preBand = StateLog.effectiveBand(spark, ref).localCheckpoint()
    val preCorpus = StateLog.corpus(spark, ref).localCheckpoint()

    assert(StateLog.repackLog(spark, ref, 2L))                      // gen 3
    assert(!StateLog.repackLog(spark, ref, 2L), "a replayed repack op is skipped")
    sameSet(packView(), scratchPack, "repacked summary vs scratch pack over the retained corpus")
    // the repack changes accounting, not membership: every other view is untouched
    sameSet(StateLog.views(spark, ref)._1, preHash, "hash view across the repack")
    sameSet(StateLog.effectiveBand(spark, ref), preBand, "effective band across the repack")
    sameSet(StateLog.corpus(spark, ref), preCorpus, "corpus across the repack")

    // invariant re-established: the next ingest's O(batch) append math
    // lands on the scratch pack over (retained ∪ its survivors)
    val s2 = survivorsOf(docsDf(cDocs))
    assert(s2.count() > 0, "fixture must carry second-batch survivors")
    assert(StateLog.ingestBatch(spark, ref, st, docsDf(cDocs), 3L)) // gen 4
    val mergedPack = Curation.packSummaryOf(
      retained.unionByName(s2.select(packCols.head, packCols.tail: _*))).localCheckpoint()
    sameSet(packView(), mergedPack, "ingest after repack vs scratch pack over the merged population")

    // a fold carries the repacked accounting forward…
    StateLog.compactLog(spark, ref)                                 // gen 5
    sameSet(packView(), mergedPack, "pack summary across the fold")
    // …and vacuum bounds the NEXT self-contained repack exactly like time travel
    assert(StateLog.vacuum(spark, ref).nonEmpty)
    val e = intercept[IllegalStateException] { StateLog.repackLog(spark, ref, 9L) }
    assert(e.getMessage.contains("repack before vacuuming"), s"unexpected error: ${e.getMessage}")

    // EPOCH 2: a retraction AFTER the fold + vacuum — the log alone can no
    // longer split curated-old from raw-old, but production persists the
    // curated corpus as the product, so the caller-supplied overload
    // (SnapshotStateSink.repack's contract) must re-account at any epoch
    val mergedCur = retained
      .unionByName(s2.select(packCols.head, packCols.tail: _*)).localCheckpoint()
    val delEpoch2 = mergedCur.select("doc_id").orderBy(col("doc_id").desc).limit(1)
      .collect().map(_.getLong(0)).toSeq
    val isDel2 = col("doc_id").isin(delEpoch2: _*)
    assert(StateLog.retractBatch(spark, ref, isDel2, 11L))
    val e2 = intercept[IllegalStateException] { StateLog.repackLog(spark, ref, 12L) }
    assert(e2.getMessage.contains("repack before vacuuming"),
      "the self-contained path must stay cleanly bounded in a later epoch")
    val retained2 = mergedCur.filter(!isDel2).localCheckpoint()
    assert(StateLog.repackLog(spark, ref, retained2, 12L))
    assert(!StateLog.repackLog(spark, ref, retained2, 12L),
      "a replayed caller-supplied repack op is skipped")
    sameSet(packView(), Curation.packSummaryOf(retained2),
      "caller-supplied repack in a post-vacuum epoch vs scratch pack")
  }

  test("a snapshot wrapped by a state log refuses the in-place advance (ADVICE r11)") {
    import graft.sources.{SnapshotStateSink, StateLog}
    import HotBucketFixture.{aDocs, bDocs}
    val oldDocs = docsDf(aDocs)
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))
    val docs = docsDf(aDocs ++ bDocs)
    val e = intercept[IllegalArgumentException] {
      SnapshotStateSink.advance(spark, docs, st, col("doc_id") >= 1000L)
    }
    assert(e.getMessage.contains("wrapped by a state log"))
    // the guard must survive a DRIVER RESTART: a fresh JVM resolving the
    // same table names through a persistent metastore has no in-process
    // registration — the durable catalog marker must still refuse
    StateLog.forgetWrappedInProcess(st.index.hash)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStateSink.advance(spark, docs, st, col("doc_id") >= 1000L)
    }
    assert(e2.getMessage.contains("wrapped by a state log"),
      "the wrap guard must be durable, not memory-only")
  }

  test("eq145: retract → compact → repack re-establishes the append-pack invariant; the next advance is exact again") {
    import graft.sources.{DedupIndexSink, SnapshotStateSink}
    import HotBucketFixture.{aDocs, bDocs}
    val docs1 = docsDf(aDocs ++ bDocs).localCheckpoint()
    val isNew1 = col("doc_id") >= 1000L
    val isOld1 = col("doc_id") < 1000L
    val t0 = SnapshotStateSink.write(spark, docs1, isNew1, isOld1)

    // delete two docs that ARE in the curated product, so the repack is
    // load-bearing for the pack summary (not just the index layers)
    val curated = Curation.curatedDocsDf(docs1.filter(isOld1)).localCheckpoint()
    val delIds = curated.select("doc_id").orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val isDel = col("doc_id").isin(delIds: _*)
    val t1 = DedupIndexSink.retract(spark, docs1, t0.index, isNew1, isDel)
    val stC = t0.copy(index = DedupIndexSink.compact(spark, t1))

    // WITHOUT the repack the summary still counts the dead docs — the
    // seam eq143 deliberately deferred
    val retainedCur = curated.filter(!isDel).drop("shard_id").localCheckpoint()
    val scratchPack = Curation.packSummaryOf(retainedCur).localCheckpoint()
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    assert(spark.table(stC.packSummary).exceptAll(scratchPack).count() > 0,
      "fixture must make the repack load-bearing (pre-repack summary still counts deleted docs)")
    val st2 = SnapshotStateSink.repack(spark, docs1, stC, isDel, isOld1)
    sameSet(spark.table(st2.packSummary), scratchPack,
      "repacked summary vs scratch pack over the retained corpus")

    // invariant re-established: advancing the repacked state by a delta
    // equals the scratch pack over (retained curated ∪ survivors)
    val docs2 = docsDf(aDocs ++ bDocs).localCheckpoint()
    val (hR, _, _) = DedupIndexSink.readBack(spark, st2.index)
    val s1 = Curation.deltaSurvivorsFromState(docs2, isNew1, hR,
      DedupIndexSink.effectiveBandIndex(spark, st2.index),
      spark.table(st2.testVocab), spark.table(st2.mixRates)).localCheckpoint()
    assert(s1.count() > 0, "fixture must carry delta survivors")
    val t3 = SnapshotStateSink.advance(spark, docs2, st2, isNew1)
    val packCols = Seq("lang", "doc_id", "n_tokens", "n_chars")
    val mergedCur = retainedCur.select(packCols.head, packCols.tail: _*)
      .unionByName(s1.select(packCols.head, packCols.tail: _*))
    sameSet(spark.table(t3.packSummary), Curation.packSummaryOf(mergedCur),
      "advance after repack vs scratch pack over the merged population")
  }

  test("centroid confusion: outlier crosses to the nearer prototype; ties go to the lower label") {
    import spark.implicits._
    // label 0 owns the x-axis, label 1 the y-axis; vec 5 is labeled 0 but
    // points straight at label 1's prototype — the one off-diagonal cell
    val e = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0), (5L, Array(0f, 1f), 0),
      (3L, Array(0f, 1f), 1), (4L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidConfusionDf(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == Map((0, 0) -> 2L, (0, 1) -> 1L, (1, 1) -> 2L))
    // identical prototypes: every cosine ties, the lower label must win
    val tied = Seq((1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val t = Similarity.centroidConfusionDf(tied).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(t == Map((0, 0) -> 1L, (1, 0) -> 1L))
  }

  test("temperature mix: alpha<1 up-weights the rare language; single-lang rate is the exact half-budget") {
    // one language: p=1, pow(1,a)=1 exactly in both engines, so the rate
    // is pure integer arithmetic — (1e6 * (N div 2) * 1e6) div (1e6 * N)
    val solo = docsDf((1L to 10L).map(i => (i, s"solo doc number $i text", "en", "s", 20L)))
    val soloRow = graft.pipeline.CorpusOps.temperatureMixDf(solo).collect()
    assert(soloRow.length == 1)
    assert(soloRow(0).getAs[Long]("rate_ppm") == 500000L)
    // 8:2 split — flattening must give the rare language the higher rate
    val mixed = docsDf((1L to 8L).map(i => (i, s"common language doc $i", "en", "s", 20L)) ++
      Seq((9L, "rare language doc nine", "fr", "s", 20L),
        (10L, "rare language doc ten", "fr", "s", 20L)))
    val rows = graft.pipeline.CorpusOps.temperatureMixDf(mixed).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("fr").getAs[Long]("rate_ppm") > rows("en").getAs[Long]("rate_ppm"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("rate_ppm") <= 1000000L)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
    }
  }

  test("bitext mining: isolated match out-margins the crowded one; sub-floor sources drop") {
    import spark.implicits._
    val docs = docsDf(Seq(
      (1L, "requete un", "fr", "s", 10L), (3L, "requete trois", "fr", "s", 10L),
      (5L, "requete cinq", "fr", "s", 10L),
      (2L, "target two", "en", "s", 10L), (4L, "target four", "en", "s", 10L),
      (6L, "target six", "en", "s", 10L)))
    // single label = single IVF cell, so candidacy is total and only the
    // margin semantics are under test: src 1 has two near-equal English
    // neighbours (2 and 6), src 3 has one isolated neighbour (4), src 5
    // points away from every target (below the 0.3 floor)
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (3L, Array(0f, 1f), 0), (5L, Array(-1f, -1f), 0),
      (2L, Array(1f, 0f), 0), (4L, Array(0.1f, 0.9f), 0), (6L, Array(0.95f, 0.05f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.bitextMineDf(docs, emb).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 1L), "isolated match ranks first, floor excludes 5")
    val bySrc = rows.map(r => r.getLong(0) -> r).toMap
    assert(bySrc(1L).getAs[Long]("tgt_id") == 2L && bySrc(1L).getAs[Double]("cos") == 1.0)
    assert(bySrc(3L).getAs[Long]("tgt_id") == 4L)
    assert(bySrc(3L).getAs[Double]("margin") > bySrc(1L).getAs[Double]("margin"))
  }

  test("ngram diversity: hand-counted distinct ratios; repetition craters distinct-n") {
    val docs = docsDf(Seq(
      (1L, "a b a b", "en", "s", 7L),     // uni: 4 tot / 2 dist; bi: 3/2 (a b, b a, a b); tri: 2/2
      (2L, "x x x x", "fr", "s", 7L)))    // uni: 4/1; bi: 3/1; tri: 2/1
    val out = graft.pipeline.TextAnalysis.ngramDiversityDf(docs).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("en", 1)) == ((4L, 2L)) && out(("en", 2)) == ((3L, 2L)) && out(("en", 3)) == ((2L, 2L)))
    assert(out(("fr", 1)) == ((4L, 1L)) && out(("fr", 2)) == ((3L, 1L)) && out(("fr", 3)) == ((2L, 1L)))
  }

  test("bpe pairs: hand-counted adjacent char pairs, case-folded, singles dropped") {
    val docs = docsDf(Seq(
      (1L, "AB ab x cde", "en", "s", 11L), // ab ×2, cd, de; "x" too short
      (2L, "be ab", "fr", "s", 5L)))       // be, ab → ab totals 3
    val out = graft.pipeline.TextAnalysis.bpePairsDf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("ab", 3L), ("be", 1L), ("cd", 1L), ("de", 1L)),
      "count-desc then pair-asc ordering")
  }

  test("spearman rank corr: hand-computed rank moments per language") {
    val docs = docsDf(Seq(
      // en ranks: by n_chars (1,2,3); by punct count (2,1,3) → rho = 0.5
      (1L, "a.", "en", "s", 10L), (2L, "b", "en", "s", 20L),
      (3L, "c!!", "en", "s", 30L),
      // fr: both signals in the same order → rho = 1.0
      (4L, ".", "fr", "s", 5L), (5L, ". .", "fr", "s", 9L)))
    val out = graft.pipeline.TextAnalysis.rankCorrDf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("en") == ((3L, 0.5)) && out("fr") == ((2L, 1.0)))
  }

  test("pii scrub: counts per type and the redacted text match a hand-redaction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a@b.co and c@d.org call 555-123-4567 ssn 111-22-3333 ip 10.0.0.1", "en"),
      (2L, "nothing sensitive here at all", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.pipeline.TextAnalysis.piiScrubDf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Int]("n_email") == 2 && r1.getAs[Int]("n_phone") == 1 &&
      r1.getAs[Int]("n_ssn") == 1 && r1.getAs[Int]("n_ip") == 1 &&
      r1.getAs[Int]("n_pii") == 5)
    val expected = "[EMAIL] and [EMAIL] call [PHONE] ssn [SSN] ip [IP]"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r1.getAs[String]("redacted_md5") == md)
    assert(out(2L).getAs[Int]("n_pii") == 0)
  }

  test("pair lift: hand-computed lift separates associated from independent pairs") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ev(id: Long, u: Long, item: Long) =
      (id, ts("2024-01-01 10:00:00"), u, "purchase", 1.0, s"""{"k": $item}""")
    // items 1+2 always together (3 of 4 users); item 3 with everyone:
    // lift(1,2) = 3*4/(3*3) = 1.333333 > lift(1,3) = 3*4/(3*4) = 1.0
    val events = Seq(
      ev(1, 10, 1), ev(2, 10, 2), ev(3, 10, 3),
      ev(4, 11, 1), ev(5, 11, 2), ev(6, 11, 3),
      ev(7, 12, 1), ev(8, 12, 2), ev(9, 12, 3),
      ev(10, 13, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.pipeline.EventOps.pairLiftDf(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(out((1L, 2L)) == 1.333333)
    assert(out((1L, 3L)) == 1.0)
    assert(out((2L, 3L)) == 1.0)
  }

  test("salted join is bit-equal to the plain join on a hot-key fixture") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1 is the hot key (30 events); users 2 and 3 are cold
    val events = ((1 to 30).map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), 1L, "view", 10.0, "{}")) ++ Seq(
      (31L, ts("2024-01-01 10:00:00"), 2L, "click", 5.0, "{}"),
      (32L, ts("2024-01-01 10:00:00"), 3L, "view", 2.5, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dim = events.groupBy("user_id").agg(
      count(lit(1)).as("hist_events"),
      sum(round(col("value") * 100).cast("long")).as("hist_value_cents"))
    val plain = events.join(dim, Seq("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("hist_events")).as("partner_events"),
        sum(col("hist_value_cents")).as("partner_value_cents"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val salted = EventOps.saltedJoinTotalsDf(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(salted.sameElements(plain))
  }

  test("sessionize: 30-minute gap splits sessions (literal fixture)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 7L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 7L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 10:00:00"), 8L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.sessionizeDf(events).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2), row.getLong(3)))).toMap
    assert(r(7L) == ((2L, 3L, 2L))) // 2 sessions, 3 events, max 2 per session
    assert(r(8L) == ((1L, 1L, 1L)))
  }

  test("sessionize boundary: exactly 30:00 MERGES, 30:00.000001 splits (session_window semantics)") {
    // r10 correction: Spark's native session_window merges an event at
    // exactly last+gap (measured on the boundary drill), so the batch
    // sessionizer's split rule is STRICTLY > gap — the pre-r10 version of
    // this test pinned the >= rule, which disagreed with session_window
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-02 10:00:00"), 2L, "view", 1.0, "{}"),
      (4L, ts("2024-01-02 10:30:00.000001"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.sessionizeDf(events).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r(1L) == 1L, "exact-boundary pair must be ONE session")
    assert(r(2L) == 2L, "one microsecond past the gap must split")
  }

  test("quality score: hand-computed on a literal doc") {
    val docs = docsDf(Seq((0L, "the cat", "en", "s", 7L)))
    val r = TextAnalysis.qualityScoreDf(docs).head()
    // toks=[the,cat] n_tokens=2 len=7 alpha=6 stop=1
    assert(r.getAs[Int]("n_tokens") == 2)
    assert(math.abs(r.getAs[Double]("alpha_ratio") - 6.0 / 7) < 1e-6)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 0.5) < 1e-6)
    val q = 0.4 * (7 / 500.0) + 0.4 * (6.0 / 7) + 0.2 * 0.5
    assert(math.abs(r.getAs[Double]("quality") - q) < 1e-6)
  }

  test("fingerprint: identical texts share fingerprints; <3-token docs get null") {
    val docs = docsDf(Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "too short", "en", "s", 9L)))
    val r = TextAnalysis.fingerprintDf(docs).collect()
    assert(r(0).getString(2) == r(1).getString(2))
    assert(r(0).getAs[Int]("n_shingles") == 2)
    assert(r(2).isNullAt(2) && r(2).getAs[Int]("n_shingles") == 0)
  }

  test("langId: marker votes win; ties resolve by priority order") {
    val docs = docsDf(Seq(
      (0L, "le chat et la souris", "fr", "s", 20L),   // fr markers: le, et, la, de?
      (1L, "the dog of the yard", "en", "s", 19L),
      (2L, "nothing matches here", "zh", "s", 20L)))  // all counts 0 -> 'en' by priority
    val m = TextAnalysis.langIdDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.contains(("fr", "fr")))
    assert(m.contains(("en", "en")))
    assert(m.contains(("zh", "en")))
  }

  test("payload chunks: 130 bytes split 64+64+2 with pinned window hashes") {
    val text = "x" * 130
    val docs = docsDf(Seq((0L, text, "en", "s", 130L), (1L, "", "en", "s", 0L)))
    val out = Multimodal.payloadChunksDf(docs).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((0L, 0, 64), (0L, 1, 64), (0L, 2, 2)), "empty payload yields no windows")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getString(3) == md5hex("x" * 64))
    assert(out(2).getString(3) == md5hex("xx"))
  }

  test("quality topk: k best per language, quality-tie broken by doc_id") {
    // en: 4 docs, identical long text (same quality) on 10/12, shorter on
    // 11/13 — rank 1/2 must be 10 then 12 (tie -> doc_id), and the k=3 cut
    // drops exactly one of the two short docs
    val long = ("word " * 120).trim // len > 500 -> len_score saturates
    val short = "tiny text"
    val docs = docsDf(Seq(
      (10L, long, "en", "s", long.length.toLong),
      (11L, short, "en", "s", short.length.toLong),
      (12L, long, "en", "s", long.length.toLong),
      (13L, short, "en", "s", short.length.toLong),
      (20L, short, "fr", "s", short.length.toLong)))
    val out = TextAnalysis.qualityTopKDf(docs).collect()
      .map(r => (r.getString(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(out(("en", 1)) == 10L && out(("en", 2)) == 12L && out(("en", 3)) == 11L)
    assert(out(("fr", 1)) == 20L)
    assert(out.size == 4, "k=3 cut must drop the 4th en doc")
  }

  test("centroid affinity: hand-computed cosines on orthogonal/oblique label centroids") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0), // centroid (1, 0)
      (2L, Array(0.0f, 1.0f), 1),                             // centroid (0, 1)
      (3L, Array(0.6f, 0.8f), 2))                             // centroid (.6, .8)
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidAffinityDf(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out((0, 1)) == 0.0)
    assert(math.abs(out((0, 2)) - 0.6) < 1e-6)
    assert(math.abs(out((1, 2)) - 0.8) < 1e-6)
  }

  test("centroid affinity: all unordered label pairs, cosines in [-1, 1] (sf0.001)") {
    val out = SparkEntry.queries("eq52_centroid_affinity")(spark, Sf).collect()
    val labels = Tables.load(spark, Sf, "embeddings")
      .select("label").distinct().count().toInt
    assert(out.length == labels * (labels - 1) / 2)
    out.foreach { r =>
      assert(r.getInt(0) < r.getInt(1))
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
    }
  }

  test("ann recall: hit counts equal the recomputed exact-vs-approx intersections") {
    val exact = Similarity.cosineTopK(spark, Sf).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(spark, Sf).collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(spark, Sf).collect().map(_.getLong(0)).toSet
    val out = Similarity.annRecall(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set("ivf", "srp_lsh"))
    assert(out("ivf") == ((5, (exact & ivf).size.toLong, (exact & ivf).size / 5.0)))
    assert(out("srp_lsh") == ((5, (exact & lsh).size.toLong, (exact & lsh).size / 5.0)))
    out.values.foreach { case (_, _, r) => assert(r >= 0.0 && r <= 1.0) }
  }

  test("label variance: hand-computed mean/variance; constant dim has zero spread") {
    val emb = Seq(
      (0L, Array(0.0f, 1.0f), 0),
      (1L, Array(0.0f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelVarianceDf(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out((0, 0)) == ((2L, 0.0, 0.0)), "constant dimension must show zero variance")
    // values 1, 3 -> mean 2, population variance ((1+9) - 4^2/2)/2 = 1
    assert(out((0, 1)) == ((2L, 2.0, 1.0)))
  }

  test("label variance: one row per (label, dim), never negative (sf0.001)") {
    val emb = Tables.load(spark, Sf, "embeddings")
    val out = Similarity.labelVarianceDf(emb).collect()
    val labels = emb.select("label").distinct().count()
    assert(out.length == labels * 64)
    out.foreach(r => assert(r.getDouble(4) >= 0.0))
  }

  test("inter-event gaps: hand-computed stats; single-event users absent; ties gap 0") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:00:30"), 7L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 10:02:30"), 7L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 8L, "view", 1.0, "{}"),
      (5L, ts("2024-01-01 11:00:00"), 9L, "view", 1.0, "{}"),
      (6L, ts("2024-01-01 11:00:00"), 9L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.interEventGapsDf(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out(7L) == ((2L, 75.0, 30.0, 120.0)))
    assert(!out.contains(8L), "a single event has no gap")
    assert(out(9L) == ((1L, 0.0, 0.0, 0.0)), "equal timestamps contribute a 0 gap")
  }

  test("burstiness: hand-computed Fano; concentrated traffic disperses, single minute is 0") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // view: minutes {0: 3 events, 2: 1 event} -> span 3, S 4, Σx² 10
    //   fano = (3·10 − 16)/(3·4) = 14/12 -> ppm 1166666 -> 1.166666
    //   mean = 4/3 -> ppm 1333333 -> 1.333333
    // purchase: 2 events in one minute -> span 1, fano (1·4 − 4)/(1·2) = 0
    val events = Seq(
      (1L, ts("2024-01-01 10:00:05"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:00:20"), 2L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 10:00:40"), 3L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 10:02:10"), 1L, "view", 1.0, "{}"),
      (5L, ts("2024-01-01 11:00:00"), 1L, "purchase", 1.0, "{}"),
      (6L, ts("2024-01-01 11:00:30"), 2L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.burstinessDf(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("view") == ((3L, 4L, 1.333333, 1.166666)))
    assert(out("purchase") == ((1L, 2L, 2.0, 0.0)))
  }

  test("retention cohorts: hand-computed triangle on a two-cohort fixture") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // weeks: 2024-01-01 (Mon) and 2024-01-08. u1 active both weeks,
    // u2 week 1 only, u3 first seen week 2.
    val events = Seq(
      (1L, ts("2024-01-02 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-09 10:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 2L, "view", 1.0, "{}"),
      (4L, ts("2024-01-10 10:00:00"), 3L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.retentionCohortsDf(events).collect()
      .map(row => (row.getString(0), row.getLong(1)) -> row.getLong(2)).toMap
    assert(r == Map(
      ("2024-01-01", 0L) -> 2L, // u1 + u2
      ("2024-01-01", 1L) -> 1L, // u1 retained
      ("2024-01-08", 0L) -> 1L)) // u3's own cohort
  }

  test("event funnel: strict ordering gates each stage (literal fixture)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // u1 converts fully: view < click < purchase
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:10:00"), 1L, "purchase", 1.0, "{}"),
      // u2's only click precedes their view -> stops at viewed
      (4L, ts("2024-01-01 09:00:00"), 2L, "click", 1.0, "{}"),
      (5L, ts("2024-01-01 09:30:00"), 2L, "view", 1.0, "{}"),
      // u3 purchases before clicking -> stops at clicked
      (6L, ts("2024-01-01 08:00:00"), 3L, "view", 1.0, "{}"),
      (7L, ts("2024-01-01 08:20:00"), 3L, "purchase", 1.0, "{}"),
      (8L, ts("2024-01-01 08:30:00"), 3L, "click", 1.0, "{}"),
      // u4 never views
      (9L, ts("2024-01-01 07:00:00"), 4L, "error", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.eventFunnelDf(events).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((4L, 3L, 2L, 1L)))
  }

  test("rolling actives: trailing 7-day windows clip at the horizon") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 2L, "view", 1.0, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.rollingActivesDf(events).collect()
      .map(row => row.getString(0) -> ((row.getLong(1), row.getLong(2)))).toMap
    // horizon is 01-03: day-01 user-days would cover 01..07 but clip there
    assert(r == Map(
      "2024-01-01" -> ((2L, 2L)),
      "2024-01-02" -> ((0L, 2L)),
      "2024-01-03" -> ((1L, 2L))))
  }

  test("scd2 intervals: runs collapse, lead closes, last version current") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0, "{}"),  // low
      (2L, ts("2024-01-02 10:00:00"), 1L, "purchase", 15.0, "{}"),  // low (collapsed)
      (3L, ts("2024-01-03 10:00:00"), 1L, "purchase", 100.0, "{}"), // high
      (4L, ts("2024-01-04 10:00:00"), 1L, "purchase", 5.0, "{}"),   // low again
      (5L, ts("2024-01-05 10:00:00"), 1L, "view", 999.0, "{}"))     // ignored
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.scd2TiersDf(events).collect()
      .map(row => (row.getString(1), row.getString(2), row.getString(3), row.getBoolean(4)))
    assert(r.toSeq == Seq(
      ("low", "2024-01-01 10:00:00.000000", "2024-01-03 10:00:00.000000", false),
      ("high", "2024-01-03 10:00:00.000000", "2024-01-04 10:00:00.000000", false),
      ("low", "2024-01-04 10:00:00.000000", "current", true)))
  }

  test("cdc compact: last write wins, error rows tombstone the key") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "signup", 0.0, "{}"),
      (2L, ts("2024-01-02 10:00:00"), 1L, "purchase", 5.0, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 2L, "signup", 0.0, "{}"),
      (4L, ts("2024-01-02 10:00:00"), 2L, "error", 0.0, "{}"),  // tombstoned
      (5L, ts("2024-01-01 10:00:00"), 3L, "error", 0.0, "{}"),
      (6L, ts("2024-01-02 10:00:00"), 3L, "signup", 0.0, "{}"), // re-created
      (7L, ts("2024-01-03 10:00:00"), 3L, "view", 0.0, "{}"))   // not changelog
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.cdcCompactDf(events).collect()
      .map(row => row.getLong(0) -> ((row.getString(1), row.getLong(3)))).toMap
    assert(r == Map(1L -> (("purchase", 2L)), 3L -> (("signup", 2L))))
  }

  test("key skew: two uniform keys give ln(2) entropy and 50% max share") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 2L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 11:00:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.keySkewStatsDf(events).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 4L, 500000L, 1000000L)))
    assert(r.getDouble(4) == 0.693147) // floor(2·ln2·1e6)·2 / 4e6
  }

  test("decay scores: harmonic weights halve a one-day-old unit value") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-02 10:00:00"), 1L, "purchase", 1.0, "{}"), // age 0 -> 1.0
      (2L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0, "{}"), // age 1 -> 0.5
      (3L, ts("2024-01-01 09:00:00"), 2L, "view", 2.0, "{}"))     // age 1 -> 1.0
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.decayScoresDf(events).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getDouble(2)))).toMap
    assert(r == Map(1L -> ((2L, 1.5)), 2L -> ((1L, 1.0))))
  }

  test("gram aggregator: merge algebra — any partition split equals the naive single pass") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val d = 5
    val agg = new graft.functions.GramAggregator(d)
    def naive(vs: List[Array[Float]]): Array[Long] = {
      val out = new Array[Long](d * (d + 1) / 2)
      for (v <- vs) { var k = 0
        for (i <- 0 until d; j <- i until d) {
          out(k) += math.floor(v(i).toDouble * v(j).toDouble * 1e6).toLong; k += 1 } }
      out
    }
    val gen = Gen.listOfN(40, for {
      n <- Gen.chooseNum(0, 12)
      vs <- Gen.listOfN(n, Gen.listOfN(d,
        Gen.chooseNum(-4.0f, 4.0f)).map(_.toArray))
      split <- Gen.chooseNum(0, n)
    } yield (vs, split))
    gen.pureApply(Gen.Parameters.default, Seed(7L)).foreach { case (vs, split) =>
      val (l, r) = vs.splitAt(split)
      val viaMerge = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(viaMerge.sameElements(naive(vs)),
        s"split at $split of ${vs.length} vectors diverged")
    }
  }

  test("gram aggregator: hand-computed triangle; floor is toward -inf") {
    val ds = Seq(Array(1.0f, 2.0f), Array(3.0f, 4.0f)).toDS()
    val g = ds.select(new graft.functions.GramAggregator(2).toColumn).head()
    // (0,0): 1+9  (0,1): 2+12  (1,1): 4+16, all in exact micro-units
    assert(g.toSeq == Seq(10000000L, 14000000L, 20000000L))
    val neg = Seq(Array(-0.3f, 1.0f)).toDS()
      .select(new graft.functions.GramAggregator(2).toColumn).head()
    // -0.3f widens to -0.30000001192…, so the cross term floors DOWN
    assert(neg(1) == -300001L, "floor must go toward -inf on negative products")
    val top = Similarity.gramTopPairs(spark, Sf).collect()
    assert(top.length == 50)
    assert(top.forall(r => r.getInt(0) < r.getInt(1)))
    val mags = top.map(r => math.abs(r.getLong(2)))
    assert(mags.sameElements(mags.sortBy(-(_: Long))), "ordered by |gram| desc")
  }

  test("gap anomalies: a rhythm break scores 3539 sigmas; uniform history is unscored") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def t(offsetS: Long) = new java.sql.Timestamp(base + offsetS * 1000)
    // gaps: 60,62,60,62,60,62 (h_n reaches 5 at the 6th gap), then 3600
    val offs = Seq(0L, 60L, 122L, 182L, 244L, 304L, 366L, 3966L)
    val events = offs.zipWithIndex.map { case (o, i) =>
      (i.toLong + 1, t(o), 7L, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.gapAnomaliesDf(events).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((7L, 2L, 1L, 3539.0)))
    // a user whose history has zero variance is guarded, never NaN
    val uniform = (0 to 7).map(i =>
      (i.toLong + 100, t(i * 60L), 8L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val u = EventOps.gapAnomaliesDf(uniform).head()
    assert(u.getLong(2) == 0L && u.isNullAt(3), "zero-variance history stays unscored")
  }

  test("co-purchases: distinct baskets pair once per user, top cell first") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def p(eid: Long, u: Long, k: Int, at: String) =
      (eid, ts(at), u, "purchase", 1.0, s"""{"k": $k}""")
    val events = Seq(
      p(1L, 1L, 1, "2024-01-01 10:00:00"), p(2L, 1L, 2, "2024-01-01 11:00:00"),
      p(3L, 1L, 3, "2024-01-01 12:00:00"),
      p(4L, 2L, 1, "2024-01-01 10:00:00"), p(5L, 2L, 2, "2024-01-01 11:00:00"),
      p(6L, 3L, 1, "2024-01-01 10:00:00"), p(7L, 3L, 2, "2024-01-01 11:00:00"),
      p(8L, 3L, 2, "2024-01-01 12:00:00"), // duplicate item collapses
      (9L, ts("2024-01-01 10:00:00"), 4L, "view", 1.0, """{"k": 1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = EventOps.coPurchasesDf(events).collect()
    assert(rows.head.getLong(0) == 1L && rows.head.getLong(1) == 2L &&
      rows.head.getLong(2) == 3L, "(1,2) co-purchased by all three buyers")
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m == Map((1L, 2L) -> 3L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("join size estimate: only md5-even keys sampled; 2x scale-up, derived flag") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // md5 first-7-hex parity: "1"/"3"/"4" are odd, "2" is even -> only
    // user 2 (cnt 3) lands in the sample
    val events = (Seq.fill(2)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L, 4L)).zipWithIndex
      .map { case (u, i) => (i.toLong, ts("2024-01-01 10:00:00"), u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.joinSizeEstimateDf(events).head()
    // exact = 4+9+1+1 = 15; est = 2*9 = 18; 3/15 = 0.2 <= 0.5
    assert((r.getLong(0), r.getLong(1), r.getBoolean(2)) == ((15L, 18L, true)))
  }

  test("activity profile: shares are exact ppm, deviation centered on the uniform cell") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2024-01-01 is a Monday; 3 events Monday 10h, 1 event Tuesday 11h
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 2L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 10:59:00"), 3L, "view", 1.0, "{}"),
      (4L, ts("2024-01-02 11:00:00"), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.activityProfileDf(events).collect()
      .map(row => (row.getString(0), row.getInt(1)) ->
        ((row.getLong(2), row.getLong(3), row.getLong(4)))).toMap
    assert(r == Map(
      ("Monday", 10) -> ((3L, 750000L, 750000L - 1000000L / 168)),
      ("Tuesday", 11) -> ((1L, 250000L, 250000L - 1000000L / 168))))
  }

  test("media resize: every-4th-byte downsample, audited sum and digest") {
    val docs = docsDf(Seq(
      (1L, "abcdefgh", "en", "s", 8L),   // -> "ae"
      (2L, "xyz", "en", "s", 3L)))        // -> "x" (ceil(3/4) = 1 byte)
    val rows = graft.pipeline.Multimodal.resizeMediaDs(
      graft.pipeline.Multimodal.mediaTableDf(docs)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def md5(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    assert(rows(1L) == ((8L, 2L, ('a' + 'e').toLong, md5("ae"))))
    assert(rows(2L) == ((3L, 1L, 'x'.toLong, md5("x"))))
  }

  test("frame samples: even spacing picks first/last, short payloads take all frames") {
    val docs = docsDf(Seq(
      (1L, "x" * 640, "en", "s", 640L),  // 10 frames -> indices 0,3,6,9
      (2L, "y" * 192, "en", "s", 192L),  // 3 frames  -> 0,1,2
      (3L, "z" * 40, "en", "s", 40L)))   // <1 frame  -> excluded
    val rows = graft.pipeline.Multimodal.frameSamplesDf(docs).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc(1L).map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 3, 6, 9))
    assert(byDoc(2L).map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2))
    assert(!byDoc.contains(3L))
    // uniform payload -> identical frames -> identical digests
    assert(byDoc(1L).map(_.getString(3)).distinct.length == 1)
  }

  test("scene changes: hand-computed cut thresholds; single-frame payloads excluded") {
    // frames are 64 bytes; 'a'=97 -> frame sum 6208. Doc 1: a|b frames,
    // delta (98-97)*64 = 64 <= 1024 -> no cut. Doc 2: a|z frames, delta
    // (122-97)*64 = 1600 > 1024 -> one cut. Doc 3: a|z|z -> one cut then
    // delta 0. Doc 4: 1 frame -> excluded (no transition).
    val docs = docsDf(Seq(
      (1L, "a" * 64 + "b" * 64, "en", "s", 128L),
      (2L, "a" * 64 + "z" * 64, "en", "s", 128L),
      (3L, "a" * 64 + "z" * 128, "en", "s", 192L),
      (4L, "a" * 64, "en", "s", 64L)))
    val r = graft.pipeline.Multimodal.sceneChangesDf(docs).collect()
      .map(row => row.getLong(0) -> ((row.getAs[Long]("n_frames"),
        row.getAs[Long]("n_cuts"), row.getAs[Long]("max_delta")))).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == ((2L, 0L, 64L)))
    assert(r(2L) == ((2L, 1L, 1600L)))
    assert(r(3L) == ((3L, 1L, 1600L)))
  }

  test("cluster reps: quality argmax wins, equal quality falls back to min doc_id") {
    val docs = docsDf(Seq(
      (0L, "the quick brown fox jumps over dogs", "en", "s", 35L),
      (1L, "the quick brown fox jumps over dogs", "en", "s", 35L),
      (2L, "the quick brown fox jumps over dogs", "en", "s", 35L),
      (10L, "the quick brown fox jumps over dogs daily", "en", "s", 41L),
      (11L, "the quick brown fox jumps over dogs daily tonight always forever", "en", "s", 65L)))
    val r = Dedup.clusterRepsDf(docs).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2)))).toMap
    // all five near-dup into one cluster via chained overlap, labeled 0;
    // doc 11 is longest -> highest len_score -> representative
    assert(r.keySet == Set(0L))
    assert(r(0L)._1 == 5L)
    assert(r(0L)._2 == 11L, s"expected the longest doc as rep, got ${r(0L)}")
  }

  test("snapshot diff: each class lands exactly one fixture doc") {
    val docs = docsDf(Seq(
      (10L, "gone after the old crawl", "en", "s", 24L),   // removed
      (60L, "stable either side", "en", "s", 18L),          // unchanged
      (100L, "rewritten in the new crawl", "en", "s", 26L), // changed (%100)
      (460L, "fresh in the new crawl", "en", "s", 22L)))    // added
    val r = Dedup.snapshotDiffDf(docs).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(r == Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L,
      "unchanged" -> 1L))
  }

  test("transition matrix: ppm rows are exact integer ratios per from-state") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 10:00:00"), 2L, "view", 1.0, "{}"),
      (5L, ts("2024-01-01 10:01:00"), 2L, "click", 1.0, "{}"),
      (6L, ts("2024-01-01 10:00:00"), 3L, "view", 1.0, "{}"),
      (7L, ts("2024-01-01 10:01:00"), 3L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.transitionMatrixDf(events).collect()
      .map(row => (row.getString(0), row.getString(1)) ->
        ((row.getLong(2), row.getLong(3)))).toMap
    assert(r == Map(
      ("view", "click") -> ((2L, 666666L)),
      ("view", "purchase") -> ((1L, 333333L)),
      ("click", "view") -> ((1L, 1000000L))))
  }

  test("pca power iteration: 64 unit-normalized loadings, deterministic") {
    val a = Similarity.pcaPowerIteration(spark, Sf).collect()
    assert(a.length == 64)
    assert(a.map(_.getInt(0)).toSeq == (0 until 64))
    assert(a.map(r => math.abs(r.getLong(1))).max == 1000000L,
      "renormalization pins the dominant loading at 1e6")
    val b = Similarity.pcaPowerIteration(spark, Sf).collect()
    assert(a.map(_.getLong(1)).sameElements(b.map(_.getLong(1))))
  }

  test("session paths: trigrams follow the (ts, event_id) walk order") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "purchase", 1.0, "{}"),
      (4L, ts("2024-01-01 10:03:00"), 1L, "view", 1.0, "{}"),
      (5L, ts("2024-01-01 10:00:00"), 2L, "view", 1.0, "{}"),
      (6L, ts("2024-01-01 10:01:00"), 2L, "click", 1.0, "{}"),
      (7L, ts("2024-01-01 10:02:00"), 2L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.sessionPathsDf(events).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(r == Map(
      "view>click>purchase" -> 2L,
      "click>purchase>view" -> 1L))
  }

  test("column profiler: nulls counted, distincts exact, renders pinned") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", Some(1.5), "{}"),
      (2L, ts("2024-01-02 10:00:00"), 1L, "click", None, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.profileColumnsDf(events).collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getString(3), row.getString(4)))).toMap
    assert(r("value") == ((1L, 1L, "1.500000", "1.500000")))
    assert(r("user_id") == ((0L, 1L, "1", "1")))
    assert(r("ts") == ((0L, 2L,
      "2024-01-01 10:00:00.000000", "2024-01-02 10:00:00.000000")))
    assert(r("event_type") == ((0L, 2L, "click", "view")))
  }

  test("edit linkage: neighbor prefixes scored, threshold excludes far strings") {
    val docs = docsDf(Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delte", "en", "s", 22L), // 1 edit in prefix
      (2L, "alpha completely different text entirely here", "en", "s", 45L)))
    val r = Dedup.editLinkageDf(docs).collect()
      .map(row => (row.getLong(0), row.getLong(1)) -> row.getInt(2)).toMap
    assert(r == Map((0L, 1L) -> 1))
  }

  test("sorted neighborhood: window pairs found, cross-block and far ranks excluded") {
    val docs = docsDf(Seq(
      (0L, "alpha beta gamma delta", "en", "s", 22L),
      (1L, "alpha beta gamma delta", "en", "s", 22L), // identical -> rank-adjacent
      (3L, "alpha beta gamma zeta", "en", "s", 21L),  // jac 3/5 with 0 and 1
      (2L, "zeta beta gamma delta", "en", "s", 21L),  // other block: never compared
      // block "c": the similar ends are 5 ranks apart -> outside the window
      (10L, "c aaa zzz", "en", "s", 9L),
      (11L, "c ddd x1", "en", "s", 8L),
      (12L, "c eee x2", "en", "s", 8L),
      (13L, "c fff x3", "en", "s", 8L),
      (14L, "c ggg x4", "en", "s", 8L),
      (15L, "c zzz aaa", "en", "s", 9L)))
    val r = Dedup.sortedNeighborhoodDf(docs).collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        ((row.getAs[Int]("rank_dist"), row.getDouble(3)))).toMap
    assert(r == Map(
      (0L, 1L) -> ((1, 1.0)),
      (0L, 3L) -> ((2, 0.6)),
      (1L, 3L) -> ((1, 0.6))))
  }

  test("pagerank: a clique of identical docs is the all-million fixed point") {
    // 3 identical docs -> K3 pair graph, degree 2 each; every node sends
    // 2 x (rank div 2) so rank stays exactly 1,000,000 ppm through all
    // five integer iterations
    val docs = docsDf(Seq(
      (0L, "the quick brown fox jumps over dogs", "en", "s", 35L),
      (1L, "the quick brown fox jumps over dogs", "en", "s", 35L),
      (2L, "the quick brown fox jumps over dogs", "en", "s", 35L)))
    val r = Dedup.pairGraphPagerankDf(docs).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2)))).toMap
    assert(r == Map(0L -> ((2L, 1000000L)), 1L -> ((2L, 1000000L)), 2L -> ((2L, 1000000L))))
  }

  test("pagerank on sf0.001: ranks bounded below by the damping floor, top-20 cut") {
    val r = SparkEntry.queries("eq61_pair_pagerank")(spark, Sf).collect()
    assert(r.nonEmpty && r.length <= 20)
    r.foreach { row =>
      assert(row.getLong(1) >= 1L, "graph nodes have at least one neighbor")
      assert(row.getLong(2) >= 150000L, "rank never drops below the damping floor")
    }
    // presentation order: rank desc, doc_id asc
    val ranks = r.map(row => (row.getLong(2), row.getLong(0)))
    assert(ranks.sameElements(ranks.sortBy(t => (-t._1, t._2))))
  }

  test("normalized dups: whitespace/case tier and bag-of-words tier each reclaim mass") {
    val docs = docsDf(Seq(
      (0L, "Alpha  Beta", "en", "s", 11L), // ws+case variant of doc 1
      (1L, "alpha beta", "en", "s", 10L),
      (2L, "beta alpha", "en", "s", 10L), // reordered -> only bow catches it
      (3L, "gamma delta", "en", "s", 11L)))
    val r = Dedup.normalizedDupsDf(docs).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((4L, 4L, 3L, 2L)))
  }

  test("grouped HLL users: exact counts match a direct distinct; flags true (sf0.001)") {
    val events = Tables.load(spark, Sf, "events")
    val direct = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = EventOps.approxUsersPerTypeDf(events).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == direct(r.getString(0)))
      assert(r.getBoolean(2), s"HLL flag false for ${r.getString(0)}")
    }
  }

  test("eq114 zorder: 4-corner fixture lands each corner in its own file; real data prunes better than linear") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // corners of a 256x256 bucket grid: user 0/255 x day 0/255 ('1970-01-01'
    // +255d = '1970-09-13'). Bucket scaling maps each to (0|255, 0|255);
    // the bit-interleave puts the four corners in z-files 0/21/42/63, so
    // BOTH layouts use 4 one-row files with zero zone span, and the single
    // probe (event_id 0 -> (0,0)) opens exactly one file in each.
    val events = Seq(
      (0L, ts("1970-01-01 00:00:00"), 0L, "view", 0.0, "{}"),
      (1L, ts("1970-09-13 00:00:00"), 0L, "view", 0.0, "{}"),
      (2L, ts("1970-01-01 00:00:00"), 255L, "view", 0.0, "{}"),
      (3L, ts("1970-09-13 00:00:00"), 255L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.zorderLayoutDf(events).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 4L && r.getLong(2) == 4L && r.getLong(3) == 1L,
        s"corner fixture must yield 4 one-row files for ${r.getString(0)}")
      assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)
      assert(r.getLong(6) == 1L && r.getDouble(7) == 1.0)
    }
    // real data: the z-order layout must open no more files per point
    // probe than arrival order, with tighter user-dimension zone maps
    val real = SparkEntry.queries("eq114_zorder_layout")(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val (zo, lin) = (real("zorder"), real("linear"))
    assert(zo.getLong(2) == lin.getLong(2), "layouts must conserve rows")
    assert(zo.getDouble(7) <= lin.getDouble(7),
      "z-order must not probe worse than linear")
    assert(zo.getDouble(4) < lin.getDouble(4),
      "z-order user-dim zone maps must be tighter")
  }

  test("eq115 pareto: hand-computed antichain survives, dominated and tied points resolve per strict dominance") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // per-user (cents, n): u1 (300,5) u2 (200,2) u3 (100,1) u4 (250,4)
    // u5 (260,5) u6 (100,1). u5 is dominated by u1 (more cents, same n);
    // u3/u6 are identical — mutually non-dominating, both stay. Frontier
    // by total_value desc: u1, u4, u2, u3, u6.
    val rows = Seq(
      (1L, Seq(1.00, 0.50, 0.50, 0.50, 0.50)),
      (2L, Seq(1.00, 1.00)),
      (3L, Seq(1.00)),
      (4L, Seq(1.00, 0.50, 0.50, 0.50)),
      (5L, Seq(1.00, 0.60, 0.50, 0.25, 0.25)),
      (6L, Seq(1.00)))
    val events = rows.flatMap { case (u, vs) =>
      vs.zipWithIndex.map { case (v, i) =>
        (u * 100 + i, ts("2024-01-05 10:00:00"), u, "view", v, "{}") }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.paretoFrontierDf(events).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 3.00, 5L), (4L, 2.50, 4L), (2L, 2.00, 2L),
      (3L, 1.00, 1L), (6L, 1.00, 1L)))
  }

  test("eq116 assoc: perfect association gives MI=ln2, chi2=n, V=1; independence gives all zeros") {
    import spark.implicits._
    def docs(rows: Seq[(String, String)]) =
      rows.zipWithIndex.map { case ((l, s), i) => (i.toLong, "t", l, s, 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // perfect 2x2 association: en<->a, fr<->b, two docs each. Every MI
    // cell term is 2*ln2 -> floor(1386294.36...) micros; chi2 = n = 4.
    val perfect = TextAnalysis.assocAuditDf(
      docs(Seq(("en", "a"), ("en", "a"), ("fr", "b"), ("fr", "b")))).head()
    assert(perfect.getLong(1) == 2L)
    assert(perfect.getAs[Double]("mi_nats") == 0.693147)
    assert(perfect.getAs[Double]("chi2") == 4.0)
    assert(perfect.getAs[Double]("cramers_v") == 1.0)
    // uniform 2x2: every cell term ln(1) = 0, chi2 and V exactly 0
    val indep = TextAnalysis.assocAuditDf(
      docs(Seq(("en", "a"), ("en", "b"), ("fr", "a"), ("fr", "b")))).head()
    assert(indep.getAs[Double]("mi_nats") == 0.0)
    assert(indep.getAs[Double]("chi2") == 0.0)
    assert(indep.getAs[Double]("cramers_v") == 0.0)
  }

  test("eq117 cuped: perfect covariate gives theta=2 and equalizes adjusted means exactly") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // four users with post = 2*pre exactly (cents 100..400 / 200..800):
    // pooled theta = cov/var = 2.0, and since y = 2x per user, every
    // variant's adjusted mean collapses to 2*x_bar = 500 cents = 5.00 —
    // independent of how the md5 parity splits the users.
    val events = (1 to 4).flatMap { u =>
      Seq(
        (u * 10L, ts(s"2024-01-05 10:00:00"), u.toLong, "view", u * 1.00, "{}"),
        (u * 10L + 1, ts(s"2024-01-20 10:00:00"), u.toLong, "view", u * 2.00, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.cupedReadoutDf(events).collect()
    assert(out.map(_.getLong(1)).sum == 4L)
    out.foreach { r =>
      assert(r.getAs[Double]("theta") == 2.0)
      assert(r.getAs[Double]("adj_mean") == 5.0,
        s"variant ${r.get(0)} adjusted mean must collapse to 5.00")
    }
  }

  test("eq118 benford: hand-counted digits, zero/negative excluded, spine zero-fills absent digits") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // cents 100, 25, 999, 1 -> digits 1,2,9,1; the 0.00 and negative rows
    // must not count. total 4: d1 500000 ppm, d2/d9 250000 ppm.
    val events = Seq(
      (1L, 1.00), (2L, 0.25), (3L, 9.99), (4L, 0.01), (5L, 0.00), (6L, -3.00))
      .map { case (i, v) => (i, ts("2024-01-05 10:00:00"), i, "view", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.benfordAuditDf(events).collect()
    assert(out.length == 9, "all nine digits must be present via the spine")
    val byDigit = out.map(r => r.getLong(0) -> r).toMap
    assert(byDigit(1L).getLong(1) == 2L && byDigit(1L).getLong(2) == 500000L)
    assert(byDigit(2L).getLong(1) == 1L && byDigit(9L).getLong(1) == 1L)
    assert(byDigit(3L).getLong(1) == 0L && byDigit(3L).getLong(2) == 0L)
    // Benford expectation for digit 1: floor(log10(2) * 1e6) = 301029 ppm
    assert(byDigit(1L).getLong(3) == 301029L)
    assert(byDigit(1L).getLong(4) == 500000L - 301029L)
  }

  test("eq119 gopher gate: hand-computed flags — clean doc passes, short/repetitive docs fail the right rules") {
    import spark.implicits._
    // A: 60 words ("the a" + 58 distinct 4-char words) — every rule passes.
    //    chars 3+1+58*4 = 236 -> mwl 3_933_333 ppm; top share 1/60 = 16_666.
    // B: 4 words — fails r_words, r_wlen (11/4 = 2_750_000), r_top (250_000).
    // C: 50 words, "spam"*49 + "the" — fails r_stop (1 hit) and r_top
    //    (49/50 = 980_000) but passes r_words (50 inclusive) and r_wlen.
    val docs = Seq(
      (1L, "the a " + (1 to 58).map(i => f"wd$i%02d").mkString(" ")),
      (2L, "the a tiny doc"),
      (3L, (Seq.fill(49)("spam") :+ "the").mkString(" ")))
      .map { case (i, t) => (i, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.gopherGateDf(docs).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 60L && byId(1L).getLong(2) == 3933333L &&
      byId(1L).getLong(3) == 2L && byId(1L).getLong(4) == 16666L)
    assert(byId(1L).getBoolean(9), "doc 1 must pass all rules")
    assert(!byId(2L).getBoolean(5) && !byId(2L).getBoolean(6) &&
      byId(2L).getBoolean(7) && !byId(2L).getBoolean(8) && !byId(2L).getBoolean(9))
    assert(byId(3L).getBoolean(5) && byId(3L).getBoolean(6) &&
      !byId(3L).getBoolean(7) && !byId(3L).getBoolean(8) && !byId(3L).getBoolean(9))
  }

  test("eq131 cluster split: near-dup pair straddles the dochash split but never the cluster split") {
    // docs 0/1 share shingle "w1 w2 w3" (J = 1/3 ≥ 0.2 → one cluster,
    // label 0); doc 2 is a singleton (label 2). md5 buckets (computed
    // offline): text of doc 0 → 5 (train), doc 1 → 95 (test), doc 2 → 46
    // (train); cluster labels "0" → 32 (train), "2" → 12 (train). So the
    // dochash control tears the pair across train/test while the
    // cluster-atomic split holds it together by construction.
    val docs = docsDf(Seq(
      (0L, "w1 w2 w3 a0", "en", "s", 11L),
      (1L, "w1 w2 w3 b18", "en", "s", 12L),
      (2L, "q r s t", "en", "s", 7L)))
    val out = Dedup.clusterSplitDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("cluster", "train")) == ((3L, 2L, 30L, 0L)),
      "cluster method: all three docs in train, two clusters, zero leaks")
    assert(!out.contains(("cluster", "test")) && !out.contains(("cluster", "val")))
    assert(out(("dochash", "train")) == ((2L, 2L, 18L, 1L)),
      "dochash control: docs 0+2 in train; the straddling pair leaks once here")
    assert(out(("dochash", "test")) == ((1L, 1L, 12L, 1L)),
      "dochash control: doc 1 alone in test; same pair leaks once here too")
    // straddle at cluster granularity: dochash touches cluster 0 in two
    // splits, so its Σ n_clusters (3) exceeds the true cluster count (2)
    assert(out.collect { case (("dochash", _), (_, c, _, _)) => c }.sum == 3L)
  }

  test("eq131 cluster split never leaks on randomized corpora (property)") {
    // The no-leak claim is BY CONSTRUCTION — so it must hold for every
    // corpus, not just the planted fixture. Seeded random corpora with a
    // boilerplate prefix (guaranteeing a rich near-dup pair graph, the
    // PPJoin property-test recipe); for each: method=cluster rows carry
    // leaked_pairs = 0, both methods partition the corpus exactly, and
    // the cluster method's Σ n_clusters equals the true cluster count
    // (each cluster in exactly one split).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val boiler = "lorem ipsum dolor sit amet consectetur"
    val docGen = for {
      useBoiler <- Gen.frequency(1 -> true, 1 -> false)
      n <- Gen.chooseNum(0, 8)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield (if (useBoiler) boiler + " " else "") + toks.mkString(" ")
    for (seed <- 1L to 3L) {
      val texts = Gen.listOfN(40, docGen).pureApply(Gen.Parameters.default, Seed(seed))
      val docs = docsDf(texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "s", t.length.toLong) })
      val rows = Dedup.clusterSplitDf(docs).collect()
      val clusterRows = rows.filter(_.getString(0) == "cluster")
      assert(clusterRows.forall(_.getLong(5) == 0L),
        s"seed $seed: cluster-atomic split leaked a near-dup pair")
      Seq("cluster", "dochash").foreach { m =>
        assert(rows.filter(_.getString(0) == m).map(_.getLong(2)).sum == 40L,
          s"seed $seed: method $m does not partition the corpus")
      }
      val nClusters = Dedup.neardupClustersDf(docs).count() +
        (40L - Dedup.neardupClustersDf(docs).agg(sum(col("n_docs"))).head.getLong(0))
      assert(clusterRows.map(_.getLong(3)).sum == nClusters,
        s"seed $seed: a cluster appears in more than one split")
    }
  }

  test("eq132 dsir: hand-computed add-one log-ratio micros and keep flags") {
    // target = en. tokens: doc 0 (en) a,a,b; doc 1 (fr) a,c.
    // vocab: a raw 3 / tgt 2, b 1/1, c 1/0; n_raw 5, n_tgt 3, |V| 3.
    // lr(a) = ln((3/6)/(4/8)) = 0; lr(b) = ln((2/6)/(2/8)) = ln(4/3) →
    // 287682 micros; lr(c) = ln((1/6)/(2/8)) = ln(2/3) → −405465.
    // doc 0: 0+0+287682 = 287682 (kept); doc 1: 0−405465 = −405465.
    val docs = docsDf(Seq(
      (0L, "a a b", "en", "s", 5L),
      (1L, "a c", "fr", "s", 3L)))
    val out = TextAnalysis.dsirWeightsDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getAs[Double]("avg_logratio"), r.getBoolean(4)))).toMap
    assert(out(0L) == ((3L, 287682L, 0.095894, true)))
    assert(out(1L)._1 == 2L && out(1L)._2 == -405465L && !out(1L)._4,
      "the fr doc scores target-unlike and is dropped")
  }

  test("eq133 shingle novelty: hand-computed first-seen fractions, short docs absent") {
    // doc 0: shingles {abc, bcd} — both first here → 2/2.
    // doc 1: {abc, bcx} — abc seen at doc 0, bcx new → 1/2.
    // doc 2: repeats doc 0's text — distinct shingles all old → 0/2.
    // doc 3: two tokens, no shingles → absent.
    val docs = docsDf(Seq(
      (0L, "a b c d", "en", "s", 7L),
      (1L, "a b c x", "en", "s", 7L),
      (2L, "a b c d", "en", "s", 7L),
      (3L, "a b", "en", "s", 3L)))
    val out = TextAnalysis.shingleNoveltyDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      0L -> ((2L, 2L, 1.0)),
      1L -> ((2L, 1L, 0.5)),
      2L -> ((2L, 0L, 0.0))))
  }

  test("eq134 source overlap: hand-computed feed-level jaccard, disjoint pair absent") {
    // s1: docs {a b c d, p q r s} → shingles {abc,bcd, pqr,qrs} (4).
    // s2: doc {a b c d e} → {abc,bcd,cde} (3); common with s1 = {abc,bcd}
    //     → J = 2/(4+3-2) = 0.4.
    // s3: doc {x y z w} → {xyz,yzw}; no overlap with anyone → no rows.
    val docs = docsDf(Seq(
      (0L, "a b c d", "en", "s1", 7L),
      (1L, "p q r s", "en", "s1", 7L),
      (2L, "a b c d e", "en", "s2", 9L),
      (3L, "x y z w", "en", "s3", 7L)))
    val out = TextAnalysis.sourceOverlapDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out == Map(("s1", "s2") -> ((2L, 4L, 3L, 0.4))))
  }

  test("x29 banding sweep: candidate cost falls and recall decays monotonically with rows-per-band") {
    val docs = graft.Tables.load(spark, Sf, "documents")
    val out = Dedup.minhashBandSweepDf(docs).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    // one shared truth set across configs
    assert(out.map(_._3).distinct.length == 1)
    // cost axis: candidates non-increasing as bands get more selective
    assert(out.map(_._2).sliding(2).forall(w => w(0) >= w(1)),
      s"candidate counts must fall with r: ${out.map(_._2).mkString(",")}")
    // quality axis: recall in [0,1], non-increasing, and found ≤ candidates
    assert(out.map(_._5).sliding(2).forall(w => w(0) >= w(1)))
    assert(out.forall(r => r._5 >= 0.0 && r._5 <= 1.0 && r._4 <= r._2))
    // x1's shipped operating point (r=4) is candidate-EXACT on this
    // corpus: every candidate is a true pair and none are missed
    val r4 = out.find(_._1 == 4).get
    assert(r4._2 == r4._3 && r4._4 == r4._3,
      s"r=4 must be candidate-exact here, got $r4")
  }

  test("round-9 ops: conservation invariants on the live sf0.001 corpus") {
    val docs = graft.Tables.load(spark, Sf, "documents")
    val nDocs = docs.count()

    // eq132: every document scored exactly once; kept ⇔ positive ratio
    val dsir = TextAnalysis.dsirWeightsDf(docs).collect()
    assert(dsir.length == nDocs)
    assert(dsir.forall(r => r.getBoolean(4) == (r.getLong(2) > 0L)))

    // eq133: each distinct shingle is novel at exactly ONE doc — the sum
    // of per-doc novel counts must equal the corpus distinct-shingle
    // count; the first shingled doc is all-novel by definition
    val nov = TextAnalysis.shingleNoveltyDf(docs).collect()
    val distinctShingles = docs
      .select(explode(graft.functions.ShingleExpressions.shingle_hashes(col("text"), 3)))
      .distinct().count()
    assert(nov.map(_.getLong(2)).sum == distinctShingles,
      "sum of novel counts must conserve the distinct-shingle total")
    assert(nov.minBy(_.getLong(0)).getDouble(3) == 1.0,
      "the earliest shingled doc is 100% novel")
    assert(nov.forall(r => r.getLong(2) <= r.getLong(1)))

    // eq134: overlap counts bounded by the smaller side, jaccard in (0,1]
    val ov = TextAnalysis.sourceOverlapDf(docs).collect()
    assert(ov.nonEmpty)
    assert(ov.forall(r => r.getLong(2) <= math.min(r.getLong(3), r.getLong(4))))
    assert(ov.forall(r => r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0))
  }

  test("multimodal: stub decoder is deterministic; features preserve byte counts") {
    val media = Multimodal.mediaTable(spark, Sf)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.feature.length == 8)
      assert(f.feature.sum.toLong == f.n_bytes) // histogram buckets sum to byte count
    }
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.byte_sum).sorted.sameElements(again.map(_.byte_sum).sorted))
  }

  test("eq136: the composed chain mines the pair table and BPE vocabulary EXACTLY once") {
    // VERDICT r9 task 2's point: the memoized-artifact lifecycle must hold
    // in production ORDER — one mining pass feeds the whole chain, a
    // re-run re-mines nothing, and the standalone queries read the same
    // artifacts. Counted via the PlanMemo miss counters, not argued.
    Dedup.clearDerivedCaches()
    val p0 = Dedup.pairTableMisses
    val b0 = TextAnalysis.bpeLearnMisses
    val funnel = SparkEntry.queries("eq136_curation_pipeline")(spark, Sf).collect()
    assert(Dedup.pairTableMisses == p0 + 1,
      s"pair table mined ${Dedup.pairTableMisses - p0} times across the chain")
    assert(TextAnalysis.bpeLearnMisses == b0 + 1,
      s"BPE vocabulary mined ${TextAnalysis.bpeLearnMisses - b0} times across the chain")
    SparkEntry.queries("eq136_curation_pipeline")(spark, Sf).collect() // full re-run: zero re-mining
    Dedup.jaccardPairs(spark, Sf).count() // standalone eq12 reads the same artifact
    SparkEntry.queries("eq129_bpe_encode")(spark, Sf).count() // standalone eq129 likewise
    assert(Dedup.pairTableMisses == p0 + 1 && TextAnalysis.bpeLearnMisses == b0 + 1,
      "re-runs and standalone queries must reuse the chain's artifacts")

    // funnel conservation: each filter stage's n_dropped closes the books
    val rows = funnel.sortBy(_.getInt(0))
    assert(rows.map(_.getString(1)).toSeq == Seq("ingest", "exact_dedup",
      "neardup_dedup", "split_train", "quality_gate", "decontam",
      "temperature_mix", "shard_pack", "bpe_encode"))
    for (i <- 1 to 6)
      assert(rows(i).getLong(2) + rows(i).getLong(3) == rows(i - 1).getLong(2),
        s"stage ${rows(i).getString(1)}: n_docs + n_dropped != previous n_docs")
    assert(rows(0).getLong(3) == 0)
    // packing and encoding transform, never drop
    assert(rows(7).getLong(2) == rows(6).getLong(2) && rows(7).getLong(3) == 0)
    assert(rows(8).getLong(2) == rows(6).getLong(2) && rows(8).getLong(3) == 0)
    // docs monotone non-increasing; tokens/chars likewise
    for (i <- 1 to 6) {
      assert(rows(i).getLong(2) <= rows(i - 1).getLong(2))
      assert(rows(i).getLong(4) <= rows(i - 1).getLong(4))
      assert(rows(i).getLong(5) <= rows(i - 1).getLong(5))
    }
    // encode compresses: symbols strictly below raw chars of the survivors
    assert(rows(8).getLong(6) > 0 && rows(8).getLong(6) <= rows(8).getLong(5))
  }

  test("eq137: the delta is mined once; the old corpus's artifacts are " +
    "NEVER re-mined (VERDICT r10 task 3)") {
    // The incremental contract, counted not argued: a COLD run mines
    // exactly two pair tables (the old chain's + the delta batch's — the
    // old corpus is probed via the signature index, never re-paired) and
    // exactly one vocabulary (the old snapshot's, which encodes the
    // delta). A full re-run mines NOTHING — every artifact comes from its
    // PlanMemo entry.
    Dedup.clearDerivedCaches()
    val p0 = Dedup.pairTableMisses
    val b0 = TextAnalysis.bpeLearnMisses
    val funnel = SparkEntry.queries("eq137_incremental_curation")(spark, Sf).collect()
    assert(Dedup.pairTableMisses == p0 + 2,
      s"expected old-chain + delta mining passes, got ${Dedup.pairTableMisses - p0}")
    assert(TextAnalysis.bpeLearnMisses == b0 + 1,
      s"expected one old-snapshot vocabulary, got ${TextAnalysis.bpeLearnMisses - b0}")
    SparkEntry.queries("eq137_incremental_curation")(spark, Sf).collect() // re-run: zero re-mining
    assert(Dedup.pairTableMisses == p0 + 2 && TextAnalysis.bpeLearnMisses == b0 + 1,
      "a re-run of the incremental pipeline must re-mine nothing")

    // funnel shape + conservation: stages 2-8 close the books against the
    // previous stage; encode transforms (same docs as the mix); the merge
    // ADDS the old curated corpus on top of the delta survivors
    val rows = funnel.sortBy(_.getInt(0))
    assert(rows.map(_.getString(1)).toSeq == Seq("delta_ingest",
      "delta_exact", "delta_near_corpus", "delta_near_self",
      "delta_split_train", "delta_quality_gate", "delta_decontam",
      "delta_mix_frozen", "delta_encode", "merged_corpus"))
    assert(rows(0).getLong(3) == 0)
    for (i <- 1 to 7)
      assert(rows(i).getLong(2) + rows(i).getLong(3) == rows(i - 1).getLong(2),
        s"stage ${rows(i).getString(1)}: n_docs + n_dropped != previous n_docs")
    assert(rows(8).getLong(2) == rows(7).getLong(2) && rows(8).getLong(3) == 0)
    assert(rows(9).getLong(3) == 0)
    // the merged corpus is exactly old-curated + delta survivors — checked
    // against the FULL eq136 chain run over the old snapshot (same
    // builder, memoized, so this also pins that the two entry points
    // cannot disagree on the old corpus)
    val docs = Tables.load(spark, Sf, "documents")
    val oldFunnel = Curation.curationPipelineDf(
      docs.filter(col("doc_id") % 10 < 8)).collect().sortBy(_.getInt(0))
    val oldCurated = oldFunnel(6).getLong(2) // eq136 stage 7 = mix survivors
    assert(rows(9).getLong(2) == oldCurated + rows(7).getLong(2),
      s"merged ${rows(9).getLong(2)} != old $oldCurated + delta ${rows(7).getLong(2)}")
    // ... and the old chain run above hit the chain memo: still no re-mining
    assert(Dedup.pairTableMisses == p0 + 2,
      "the old snapshot's eq136 run must reuse the memoized chain")
  }

  test("the delta chain applies the full chain's rules: an all-new batch over empty state " +
    "matches eq136 stages 1-5") {
    // Every doc is new and nothing is indexed, so the delta stages that
    // have a full-chain twin must agree with it on the accounting: delta
    // ingest/exact/near-self/split/quality ≡ eq136 stages 1-5, and the
    // near-vs-corpus stage (3) drops nothing.
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types.StructType
    def empty(ddl: String): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))
    def accounting(funnel: DataFrame): Map[Int, (Long, Long, Long)] =
      funnel.collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.load(spark, Sf, "documents")
    val delta = accounting(Curation.incrementalCurationFromState(docs, lit(true),
      empty("h STRING"), empty("band INT, band_key STRING, doc_id BIGINT"),
      empty("sg STRING"), empty("lang STRING, rate_ppm BIGINT"),
      empty("tok STRING, sy_after BIGINT"),
      empty("lang STRING, n_docs BIGINT, t_tokens BIGINT, t_chars BIGINT, " +
        "n_shards BIGINT, last_shard BIGINT")))
    val full = accounting(Curation.curationPipelineDf(docs))
    for ((d, f) <- Seq(1 -> 1, 2 -> 2, 4 -> 3, 5 -> 4, 6 -> 5))
      assert(delta(d) == full(f), s"delta stage $d ${delta(d)} != eq136 stage $f ${full(f)}")
    assert(delta(3) == delta(2), "an empty index must drop nothing near-vs-corpus")
    assert(full(5)._1 > 0, "the fixture must leave quality-gate survivors to compare")
  }

  test("eq136: stage counts agree with the standalone queries they compose") {
    // the chain must not re-derive DIFFERENT answers than the operators it
    // chains: stage 2 (exact dedup) equals eq11's total survivors; stage 1
    // equals the corpus row count; stage 3 equals the distinct-cluster
    // count over stage-2 survivors per eq26's labels (plus singletons)
    val funnel = SparkEntry.queries("eq136_curation_pipeline")(spark, Sf).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val docs = Tables.load(spark, Sf, "documents")
    assert(funnel("ingest") == docs.count())
    val eq11Total = SparkEntry.queries("eq11_dedup_keep_first")(spark, Sf)
      .agg(sum(col("n_kept"))).head().getLong(0)
    assert(funnel("exact_dedup") == eq11Total,
      s"chain stage 2 ${funnel("exact_dedup")} != eq11 total $eq11Total")
    // stage 3 keeps exactly one rep per cluster present among stage-2
    // survivors (exact-dup twins of ≥3 tokens share a Jaccard-1 cluster;
    // shorter twins are singleton clusters that can die with their copy,
    // so the count is over SURVIVORS' clusters, independently re-derived)
    import org.apache.spark.sql.expressions.Window
    val labels = Dedup.neardupLabelsDf(docs).withColumnRenamed("label", "label_")
    val s2docs = docs
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")))
      .filter(col("rn") === 1)
    val nClusters = s2docs.join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("label_"), col("doc_id")).as("c"))
      .distinct().count()
    assert(funnel("neardup_dedup") == nClusters,
      s"chain stage 3 ${funnel("neardup_dedup")} != distinct survivor clusters $nClusters")
  }

  test("zero-norm embeddings: cosine is NULL (never ANSI DIVIDE_BY_ZERO); planted pairs exact") {
    // the round-10 drill finding: under Spark 4 ANSI mode an unguarded
    // cosine CRASHES the job on the first zero-norm embedding (one failed
    // embedding-job row at 100 TB). The safeDiv guard must (a) return NULL
    // for the zero vector, (b) leave every positive-norm similarity
    // bit-identical (golden hashes unchanged), (c) keep the planted
    // exact-duplicate pair at sim 1.0 and reject the antipodal pair
    val emb = DupParityDrill.embFixture(spark).localCheckpoint()
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val sims = emb.crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("qe")).as("sim"))
    assert(sims.filter(col("vec_id") === 50).head().isNullAt(1),
      "zero-norm similarity must be NULL")
    assert(sims.filter(col("vec_id") === 62 && col("sim").isNotNull).count() == 1,
      "the underflow near-zero vector still has a positive double norm")
    assert(sims.filter(col("sim").isNull).count() == 1,
      "exactly the zero vector is undefined")
    Dedup.clearDerivedCaches()
    val pairs = Dedup.embeddingNearDupsDf(emb)
      .select("vec_a", "vec_b", "sim").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((59L, 60L, 1.0)),
      "exactly the planted duplicate pair at sim exactly 1.0; the zero " +
        "vector pairs with nothing and the antipodal pair fails the 0.5 gate")
  }

  test("eq136 on the hostile drill fixture: planted drop accounting, to the row") {
    // the DupParityDrill corpus plants exactly-countable degenerate
    // structure the driver fixtures lack (verified: sf fixtures have ZERO
    // exact dups and no sub-3-token doc). Funnel drops must match the
    // plant: stage 2 = 20 exact triples × 2 + 10 short twin pairs × 1;
    // stage 3 = 15 near-dup triples × 2 + 10 span pairs × 1 + the two
    // case/whitespace normalization twins (identical AFTER lower/trim/
    // split — Jaccard-1 clusters, NOT sha2 dups, so they survive stage 2
    // and collapse at stage 3: the normalization-vs-content distinction).
    val funnel = Curation.curationPipelineDf(DupParityDrill.fixture(spark))
      .collect().sortBy(_.getInt(0))
    assert(funnel(0).getLong(2) == 566) // 560 planted + 1-doc lang + 5 digitless-source docs
    assert(funnel(1).getLong(3) == 50, s"exact-dedup dropped ${funnel(1).getLong(3)}")
    assert(funnel(2).getLong(3) == 42, s"neardup-dedup dropped ${funnel(2).getLong(3)}")
    // short twins are SEPARATE singleton clusters (no shingles → no pair):
    // only content identity collapses them, which stage 2 already did —
    // re-derive: distinct clusters among short twins == 20 (both twins),
    // distinct contents == 10
    val docs = DupParityDrill.fixture(spark)
    val shorts = docs.filter(col("doc_id") >= 460 && col("doc_id") < 480)
    assert(shorts.select(sha2(col("text"), 256)).distinct().count() == 10)
    val labels = Dedup.neardupLabelsDf(docs).withColumnRenamed("label", "label_")
    val shortClusters = shorts.join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("label_"), col("doc_id"))).distinct().count()
    assert(shortClusters == 20,
      s"shingle-free twins must be singleton clusters, got $shortClusters")
  }

  test("curatedDocs: the chain's product frame agrees with the funnel's accounting") {
    // curatedDocs is the stage-7 survivor corpus with shard assignments —
    // built by the SAME stage builder as the funnel, asserted equal here:
    // row count == funnel stage-7 n_docs, distinct (lang, shard) count ==
    // funnel stage-8 n_units, token sum == stage-7 total_tokens, and
    // every survivor is a real corpus document
    val docs = Tables.load(spark, Sf, "documents")
    val funnel = Curation.curationPipelineDf(docs).collect()
      .map(r => r.getString(1) -> r).toMap
    val curated = Curation.curatedDocsDf(docs).localCheckpoint()
    assert(curated.count() == funnel("temperature_mix").getLong(2))
    assert(curated.select("lang", "shard_id").distinct().count() ==
      funnel("shard_pack").getLong(6))
    assert(curated.agg(sum(col("n_tokens"))).head().getLong(0) ==
      funnel("temperature_mix").getLong(4))
    assert(curated.join(docs.select("doc_id"), Seq("doc_id"), "left_anti").isEmpty,
      "every curated doc must exist in the source corpus")
    // shard budget: every shard except a language's last fits the 2000
    // budget in the prefix-sum sense (a shard closes once cum crosses it)
    val overBudget = curated.groupBy("lang", "shard_id")
      .agg(sum(col("n_tokens")).as("t"), max(col("n_tokens")).as("mx"))
      .filter(col("t") - col("mx") >= 2000) // even without its last doc it exceeds
      .count()
    assert(overBudget == 0, "prefix-sum packing must close shards at the budget")
  }

  test("eq136: no train survivor exceeds the decontamination overlap cap") {
    // independent re-derivation of stage 6's guarantee: every surviving
    // stage-7 doc's distinct-shingle overlap with the held-out test split
    // must be <= DecontamMaxRatio (the scrub's contract, checked from the
    // OUTPUT side rather than trusting the filter)
    import graft.functions.Md5Expressions.md5_key28
    import graft.functions.ShingleExpressions
    val docs = Tables.load(spark, Sf, "documents")
    val labels = Dedup.neardupLabelsDf(docs).withColumnRenamed("label", "label_")
    val withSplit = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("label_"), col("doc_id")))
      .withColumn("cs", Dedup.splitOfBucket(md5_key28(col("cluster").cast("string")) % 100))
    val testVocab = withSplit.filter(col("cs") === "test")
      .select(explode(ShingleExpressions.shingles(col("text"), 3)).as("sg")).distinct()
      .withColumn("hit", lit(1))
    // reconstruct the stage-6 survivor set cheaply: train docs that pass
    // quality and are NOT over the cap must all satisfy the bound
    val ratios = withSplit.filter(col("cs") === "train")
      .select(col("doc_id"),
        array_distinct(ShingleExpressions.shingles(col("text"), 3)).as("shd"))
      .withColumn("sz", size(col("shd"))).filter(col("sz") > 0)
      .select(col("doc_id"), col("sz"), explode(col("shd")).as("sg"))
      .join(testVocab, Seq("sg"), "left_outer")
      .groupBy("doc_id", "sz").agg(count(col("hit")).as("n_hit"))
      .withColumn("ratio", col("n_hit").cast("double") / col("sz"))
    val overCap = ratios.filter(col("ratio") > Curation.DecontamMaxRatio).count()
    val total = ratios.count()
    assert(overCap > 0 && overCap < total,
      s"fixture must exercise BOTH sides of the cap (over=$overCap of $total)")
  }

  test("near-dup labels are mined exactly once across clusters/reps/split/chain") {
    // Same contract as the pair table: the iterative CC labeling runs
    // ONCE per (session, docs plan) and eq26/eq84/eq131/eq136 all read
    // the materialized labels.
    Dedup.clearDerivedCaches()
    val l0 = Dedup.labelsMisses
    SparkEntry.queries("eq26_neardup_clusters")(spark, Sf).collect()
    SparkEntry.queries("eq84_cluster_reps")(spark, Sf).collect()
    SparkEntry.queries("eq131_cluster_split")(spark, Sf).collect()
    SparkEntry.queries("eq136_curation_pipeline")(spark, Sf).collect()
    assert(Dedup.labelsMisses == l0 + 1,
      s"labels mined ${Dedup.labelsMisses - l0} times across four consumers")
  }

  test("append-pack count matches the full-merge reference on hostile layouts") {
    // eq137's stage-10 shard count — the n_shards sum of the O(batch)
    // advanced pack summary — vs the O(corpus) reference it replaced, on
    // layouts the parquet fixtures don't guarantee:
    // boundary-shard collision, shard-id gaps from oversized docs,
    // old-only and delta-only languages, and both empty sides.
    import spark.implicits._
    val B = Curation.ShardBudget
    def reference(old: org.apache.spark.sql.DataFrame,
        delta: org.apache.spark.sql.DataFrame): Long = {
      val merged = old.select(col("lang"), col("doc_id"), col("n_tokens"))
        .withColumn("is_delta", lit(0))
        .unionByName(delta.withColumn("is_delta", lit(1)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("is_delta", "doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      merged.withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .agg(countDistinct(col("lang"), expr(s"cum div $B")))
        .first.getLong(0)
    }
    def got(old: org.apache.spark.sql.DataFrame,
        delta: org.apache.spark.sql.DataFrame): Long =
      Curation.appendPackSummary(Curation.packSummaryOf(old),
          delta.withColumn("n_chars", lit(10L)))
        .agg(coalesce(sum(col("n_shards")), lit(0L)))
        .first.getLong(0)
    val old = Seq(
      ("en", 1L, B - 1L, 10L), ("en", 2L, 1L, 10L), // en: old ends exactly full
      ("es", 3L, 100L, 10L),                        // es: old last shard nearly empty
      ("fr", 4L, 2L * B + B / 2, 10L),              // fr: one oversized old doc
      ("it", 5L, 10L, 10L),                         // it: tiny old, oversized delta
      ("de", 6L, 100L, 10L)                         // de: old-only lang
    ).toDF("lang", "doc_id", "n_tokens", "n_chars")
    val delta = Seq(
      ("en", 10L, 1L),          // starts the shard AFTER en's full last one
      ("es", 11L, 1L),          // collides with es's old last shard
      ("fr", 12L, 10L),         // lands past fr's skipped shard ids
      ("it", 20L, 3L * B),      // collision AND a gap inside the delta
      ("it", 21L, 10L),
      ("pt", 30L, 2L * B + 1),  // delta-only lang with its own gap
      ("pt", 31L, 10L)
    ).toDF("lang", "doc_id", "n_tokens")
    assert(got(old, delta) == reference(old, delta))
    assert(got(old, delta.limit(0)) == reference(old, delta.limit(0)),
      "empty delta must return the old corpus's shard count")
    assert(got(old.limit(0), delta) == reference(old.limit(0), delta),
      "empty old corpus must pack the delta from offset zero")
    assert(got(old.limit(0), delta.limit(0)) == 0L)
  }
}

/** The engineered hot-bucket corpus the eq141/eq142 at-rest tests and
  * the StreamingSpec state-log tests share: three boilerplate families, 60 exact copies each — every
  * family band bucket blows past the guard cap at build, so the whole
  * family lives ONLY on the stop list. Delta variants (family text + a
  * short distinct tail) band-collide with those stopped buckets and
  * with each other, which is exactly the append-into-stopped-buckets
  * scenario the r11 review flagged: without the stop-list filter on
  * probes, a SECOND delta would resurrect the guarded buckets through
  * the first delta's appended survivor rows. */
private[graft] object HotBucketFixture {
  val fam = Seq(
    "spark catalyst optimizer prunes columns across distributed shuffles while tungsten emits compact kernels",
    "parquet row groups carry min max statistics so selective scans skip entire chunks during query execution",
    "broadcast joins ship small dimension tables to every executor avoiding wide exchanges over cluster fabric")
  val normals = Seq(
    "gardeners rotate tomato beds yearly", "violin makers season maple wood patiently",
    "glaciers carve deep valleys over millennia", "saffron harvest requires dawn picking",
    "lighthouse keepers log passing ships nightly")
  val aDocs = fam.zipWithIndex.flatMap { case (s, f) =>
    (0 until 60).map(i => ((f * 60 + i).toLong, s, "en", "src", s.length.toLong)) } ++
    normals.zipWithIndex.map { case (s, i) => ((180 + i).toLong, s, "en", "src", s.length.toLong) }
  val bTails = Seq("beside modern vectorized readers", "under adaptive execution planning",
    "near compact dictionary encodings", "with lazy predicate evaluation",
    "through tiered shuffle services", "atop resilient storage layers")
  val cTails = Seq("inside speculative task retries", "across columnar cache hierarchies",
    "behind incremental snapshot scans", "before asynchronous spill drains",
    "beyond coalesced partition maps", "along deterministic replay paths")
  def variants(base: Long, tails: Seq[String], novel: String) =
    tails.zipWithIndex.map { case (t, i) =>
      val s = s"${fam(i / 2)} $t"; ((base + i), s, "de", "src", s.length.toLong) } :+
      ((base + 6), novel, "de", "src", novel.length.toLong)
  val bDocs = variants(1000L, bTails, "entirely novel text about alpine meadow ecology surveys")
  val cDocs = variants(2000L, cTails, "separate novel text about tidal estuary sediment transport")
}
