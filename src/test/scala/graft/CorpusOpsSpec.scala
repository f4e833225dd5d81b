package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{CorpusOps, Similarity}

/** Specs for the corpus-preparation operators (eq31–eq36). Literal
  * fixtures with hand-computable answers, plus invariant checks (counts
  * conserved, deterministic re-runs) on the sf0.001 fixture corpus. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String, String, String, Long)]) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  private def fixtureDocs = Tables.load(spark, Sf, "documents")

  test("corpus mix: per-source quotas honored, ranks dense, selection deterministic") {
    val out = CorpusOps.corpusMixDf(fixtureDocs).collect()
    val bySource = out.groupBy(_.getString(0))
    bySource.foreach { case (src, rows) =>
      val weight = 1 + src.replaceAll("\\D", "").toInt % 3
      assert(rows.length <= weight * 8, s"$src over quota")
      val ranks = rows.map(_.getAs[Int]("mix_rank")).sorted
      assert(ranks.sameElements(1 to rows.length), s"$src ranks not dense")
      assert(rows.forall(_.getAs[Int]("weight") == weight))
    }
    val again = CorpusOps.corpusMixDf(fixtureDocs).collect()
    assert(out.sameElements(again), "mixing must reproduce bit-for-bit")
  }

  test("stratified sample: rate-1000 stratum keeps everything, rate-0 drops everything") {
    // fr rate is 1000 per-mille in SampleRatePerMille -> every fr doc kept
    val fr = fixtureDocs.filter(col("lang") === "fr")
    val out = CorpusOps.stratifiedSampleDf(fixtureDocs)
      .filter(col("lang") === "fr")
      .agg(sum("n_kept")).as[Long].collect()(0)
    assert(out == fr.count(), "rate 1000/1000 must keep every fr document")
    // an unknown lang falls through to the 0-rate default arm
    val unknown = docsDf(Seq((1L, "some text here", "xx", "s", 14L)))
    assert(CorpusOps.stratifiedSampleDf(unknown).isEmpty)
  }

  test("stratified sample is deterministic and a per-stratum subset") {
    val a = CorpusOps.stratifiedSampleDf(fixtureDocs).collect()
    val b = CorpusOps.stratifiedSampleDf(fixtureDocs).collect()
    assert(a.sameElements(b), "content-keyed sample must reproduce bit-for-bit")
    val totals = fixtureDocs.groupBy("lang", "source").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    a.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      val total = totals((r.getString(0), r.getString(1)))
      assert(kept >= 1 && kept <= total)
    }
  }

  test("doc chunks: short doc is one whole chunk, 33 tokens split 32+9 with overlap") {
    val short = docsDf(Seq((0L, (1 to 10).map(i => s"t$i").mkString(" "), "en", "s", 10L)))
    val one = CorpusOps.docChunksDf(short).collect()
    assert(one.length == 1 && one(0).getAs[Int]("n_chunk_tokens") == 10)

    val toks33 = (1 to 33).map(i => s"w$i")
    val long = docsDf(Seq((1L, toks33.mkString(" "), "en", "s", 99L)))
    val chunks = CorpusOps.docChunksDf(long).collect()
    assert(chunks.map(_.getAs[Int]("chunk_id")).toSeq == Seq(0, 1))
    assert(chunks.map(_.getAs[Int]("n_chunk_tokens")).toSeq == Seq(32, 9))
    // chunk 1 starts at token 25 (stride 24): covers w25..w33, sharing
    // w25..w32 with chunk 0 — pin via the md5 of the expected text
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(toks33.drop(24).mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(chunks(1).getAs[String]("chunk_md5") == expected)
  }

  test("doc chunks cover every token: per-doc sum = n + 8 * (chunks - 1)") {
    // windows overlap by exactly len-stride=8 tokens except the last, which
    // re-reads enough of the tail to end exactly at n
    val out = CorpusOps.docChunksDf(fixtureDocs)
      .groupBy("doc_id")
      .agg(sum("n_chunk_tokens").as("s"), count(lit(1)).as("k"))
    val toks = fixtureDocs.select(col("doc_id"),
      size(split(trim(lower(col("text"))), "\\s+")).as("n"))
    val bad = out.join(toks, "doc_id")
      .filter(!(col("s") >= col("n") && col("s") <= col("n") + lit(8) * (col("k") - 1)))
    assert(bad.isEmpty, "chunk token counts must cover n with <=8-token overlaps")
  }

  test("trigram topk: repeated shingle dominates with correct counts") {
    val docs = docsDf(Seq(
      (0L, "a b c a b c a b c", "en", "s", 17L), // "a b c" x3 (+ others)
      (1L, "a b c x y z", "en", "s", 11L),
      (2L, "p q r s", "en", "s", 7L)))
    val top = CorpusOps.trigramTopKDf(docs).collect()
    assert(top(0).getString(0) == "a b c")
    assert(top(0).getAs[Long]("n_occurrences") == 4L) // 3 in doc0 + 1 in doc1
    assert(top(0).getAs[Long]("n_docs") == 2L)
  }

  test("pack shards: budget boundary starts a new shard; tokens conserved") {
    // 3 docs of 900 tokens each: cum=0,900,1800 -> shard 0; doc 3 cum=2700
    // -> shard 1 (2700 div 2000)
    val doc = (i: Long) => (i, (1 to 900).map(_ => "w").mkString(" "), "en", "s", 900L)
    val docs = docsDf(Seq(doc(0), doc(1), doc(2), doc(3)))
    val shards = CorpusOps.packShardsDf(docs).collect()
    assert(shards.map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("n_docs"))).toSeq
      == Seq((0L, 3L), (1L, 1L)))
    assert(shards.map(_.getAs[Long]("total_tokens")).sum == 3600L)
    // fixture corpus: shard token totals conserve the corpus token count,
    // and per-lang doc ranges are contiguous (first_doc..last_doc chain)
    val out = CorpusOps.packShardsDf(fixtureDocs).collect()
    val corpusTokens = fixtureDocs
      .agg(sum(size(split(trim(lower(col("text"))), "\\s+")))).as[Long].collect()(0)
    assert(out.map(_.getAs[Long]("total_tokens")).sum == corpusTokens)
  }

  test("padding waste: hand-computed batch padding; sorted order never wastes more") {
    // one lang, 34 docs -> batches of 32 + 2. Doc i has i+1 tokens, doc_id
    // order == length order EXCEPT doc 0 (35 tokens, the longest, first).
    // naive: batch0 = docs 0..31 (tokens 35,2,3..32) max 35 c 32;
    //        batch1 = docs 32,33 (33,34) max 34 c 2
    // sorted: batch0 = tokens 2..33 (docs 1..32) max 33; batch1 = {34, 35}
    val mk = (i: Long, n: Int) => (i, (1 to n).map(_ => "w").mkString(" "), "en", "s", n.toLong)
    val docs = docsDf(mk(0L, 35) +: (1L to 33L).map(i => mk(i, i.toInt + 1)))
    val out = CorpusOps.paddingWasteDf(docs).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_batches"), r.getAs[Long]("padded_tokens"),
        r.getAs[Long]("real_tokens"), r.getAs[Long]("waste_ppm"))).toMap
    val real = 35L + (2 to 34).map(_.toLong).sum
    // naive: 35*32 + 34*2 = 1188; sorted: 33*32 + 35*2 = 1126
    assert(out("naive") == ((2L, 1188L, real, (1188L - real) * 1000000L / 1188L)))
    assert(out("length_sorted") == ((2L, 1126L, real, (1126L - real) * 1000000L / 1126L)))

    // fixture corpus: real_tokens identical across strategies per lang, and
    // length-sorted padding never exceeds naive padding
    val fx = CorpusOps.paddingWasteDf(fixtureDocs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("padded_tokens"), r.getAs[Long]("real_tokens"))).toMap
    fx.keys.map(_._2).toSeq.distinct.foreach { lang =>
      assert(fx(("naive", lang))._2 == fx(("length_sorted", lang))._2)
      assert(fx(("length_sorted", lang))._1 <= fx(("naive", lang))._1,
        s"$lang: sorted padding exceeds naive")
    }
  }

  test("length trim: per-lang tallies partition the corpus; uniform length trims nothing") {
    val out = CorpusOps.lengthTrimDf(fixtureDocs).collect()
    val perLang = fixtureDocs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val n = r.getAs[Long]("n_short") + r.getAs[Long]("n_kept") + r.getAs[Long]("n_long")
      assert(n == perLang(r.getString(0)))
      assert(r.getAs[Double]("p05") <= r.getAs[Double]("p95"))
    }
    val uniform = docsDf(Seq(
      (0L, "x", "en", "s", 100L), (1L, "y", "en", "s", 100L), (2L, "z", "en", "s", 100L)))
    val u = CorpusOps.lengthTrimDf(uniform).collect()(0)
    assert(u.getAs[Long]("n_kept") == 3L && u.getAs[Long]("n_short") == 0L
      && u.getAs[Long]("n_long") == 0L)
  }

  test("label centroids: hand-computed means, one row per (label, dim)") {
    val emb = Seq(
      (0L, Array(1.0f, -2.0f), 0),
      (1L, Array(3.0f, 4.0f), 0),
      (2L, Array(0.5f, 0.25f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidsDf(emb).collect()
    assert(out.length == 4)
    val m = out.map(r => (r.getAs[Int]("label"), r.getAs[Int]("pos")) ->
      (r.getAs[Long]("n_vecs"), r.getAs[Long]("sum_scaled"), r.getAs[Double]("mean"))).toMap
    assert(m((0, 0)) == ((2L, 4000000L, 2.0)))
    assert(m((0, 1)) == ((2L, 2000000L, 1.0)))
    assert(m((1, 0)) == ((1L, 500000L, 0.5)))
    assert(m((1, 1)) == ((1L, 250000L, 0.25)))
  }

  test("winnowing: every w-window contains a selected fingerprint; short docs keep 1") {
    import graft.pipeline.TextAnalysis
    // deterministic subset: LIMIT without ORDER BY may pick different rows
    // across the two independent queries below
    val docs50 = fixtureDocs.orderBy("doc_id").limit(50).cache()
    val fps = TextAnalysis.winnowFingerprintsDf(docs50)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val keys = docs50
      .select(col("doc_id"),
        graft.functions.ShingleExpressions.shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), posexplode(col("sh")))
      .select(col("doc_id"), col("pos"),
        graft.functions.Md5Expressions.md5_key28(col("col")).as("k"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toVector).toMap
    val w = 4
    keys.foreach { case (doc, ks) =>
      val selected = fps(doc)
      assert(selected.subsetOf(ks.toSet), s"doc $doc: fingerprints must be shingle keys")
      if (ks.length < w) {
        assert(selected == Set(ks.min), s"doc $doc: short doc keeps exactly its min key")
      } else {
        ks.sliding(w).foreach { window =>
          assert(selected.contains(window.min),
            s"doc $doc: window $window must have its min selected")
        }
      }
    }
    // winnowing guarantee delivers compression: far fewer fps than shingles
    val totalFps = fps.values.map(_.size).sum
    val totalShingles = keys.values.map(_.length).sum
    assert(totalFps < totalShingles, "fingerprints must be a strict subset")
  }

  test("quality filter tallies agree with the per-doc eq8 scores") {
    import graft.pipeline.TextAnalysis
    val out = TextAnalysis.qualityFilterDf(fixtureDocs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // recompute from eq8's exported per-doc scores (the shared formula)
    val perDoc = TextAnalysis.qualityScoreDf(fixtureDocs)
      .join(fixtureDocs.select("doc_id", "lang"), "doc_id")
      .select(col("lang"), col("quality"))
      .collect().groupBy(_.getString(0))
    perDoc.foreach { case (lang, rows) =>
      val qs = rows.map(_.getDouble(1))
      val (n, kept, mill) = out(lang)
      assert(n == qs.length)
      assert(kept == qs.count(_ >= 0.5))
      assert(mill == qs.map(q => math.round(q * 1e6)).sum)
    }
  }

  test("chunk dedup: duplicate doc loses every chunk; unique doc keeps all") {
    val text40 = (1 to 40).map(i => s"w$i").mkString(" ") // 2 chunks
    val docs = docsDf(Seq(
      (0L, text40, "en", "s", 200L),
      (1L, text40, "en", "s", 200L), // exact duplicate, higher doc_id
      (2L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s", 50L)))
    val out = CorpusOps.chunkDedupDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((2L, 2L, 0L)), "first occurrence keeps both chunks")
    assert(out(1L) == ((2L, 0L, 2L)), "duplicate doc drops both chunks")
    assert(out(2L) == ((1L, 1L, 0L)))
  }

  test("chunk dedup invariants: kept+dropped=chunks, global kept = distinct chunk hashes") {
    val out = CorpusOps.chunkDedupDf(fixtureDocs)
    val rows = out.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == r.getAs[Long]("n_chunks"))
    }
    val distinctHashes = CorpusOps.docChunksDf(fixtureDocs)
      .select("chunk_md5").distinct().count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum == distinctHashes,
      "exactly one survivor per distinct chunk content")
  }

  test("vocab coverage matches a direct top-100 recomputation per lang") {
    import graft.pipeline.TextAnalysis
    val tok = fixtureDocs
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").count()
      .orderBy(col("count").desc, col("token").asc)
      .limit(CorpusOps.VocabSize)
      .select("token").as[String].collect().toSet
    assert(vocab.size == CorpusOps.VocabSize)
    val expected = tok.collect().groupBy(_.getString(0)).map { case (lang, rows) =>
      val total = rows.length.toLong
      val in = rows.count(r => vocab(r.getString(1))).toLong
      lang -> ((total, in,
        BigDecimal(1.0 - in.toDouble / total).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
    }
    val got = CorpusOps.vocabCoverageDf(fixtureDocs).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), BigDecimal(r.getDouble(3))))
    }.toMap
    expected.foreach { case (lang, (total, in, rate)) =>
      val (gt, gi, gr) = got(lang)
      assert(gt == total && gi == in, s"token tallies for $lang")
      assert((gr - rate).abs <= BigDecimal("0.000001"), s"oov rate for $lang")
    }
  }

  test("novelty rate: duplicated content is novel only at its first doc_id") {
    val a = "one two three four five six"
    val docs = docsDf(Seq(
      (0L, a, "en", "s1", 30L),
      (1L, a, "en", "s2", 30L), // same shingles, later doc, other source
      (2L, "seven eight nine ten eleven", "en", "s2", 30L)))
    val out = CorpusOps.noveltyRateDf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getAs[Double]("novelty_rate"))).toMap
    assert(out("s1") == ((4L, 4L, 1.0)), "first occurrence: all 4 shingles novel")
    val (tot2, nov2, rate2) = out("s2")
    assert(tot2 == 7L && nov2 == 3L, "doc 1 contributes 0 novel, doc 2 all 3")
    assert(math.abs(rate2 - 3.0 / 7.0) < 1e-6) // output is rounded to 6 dp
  }

  test("novelty rate invariant: novel shingles across sources = corpus distinct shingles") {
    import graft.functions.ShingleExpressions
    val rows = CorpusOps.noveltyRateDf(fixtureDocs).collect()
    val corpusDistinct = fixtureDocs
      .select(explode(ShingleExpressions.shingle_hashes(col("text"), 3)).as("sg"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("novel_shingles")).sum == corpusDistinct,
      "every distinct shingle is novel exactly once, at its first doc")
  }

  test("weighted sample: weight >= denom always keeps, weight 0 never keeps") {
    val docs = docsDf(Seq(
      (0L, "heavy doc text a", "en", "s", 512L),
      (1L, "heavy doc text b", "en", "s", 4000L),
      (2L, "weightless doc", "en", "s", 0L)))
    val out = CorpusOps.weightedSampleDf(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_kept") == 2L, "p=1 docs kept, p=0 doc dropped")
    assert(r.getAs[Long]("kept_chars") == 4512L)
  }

  test("weighted sample: deterministic, and kept tallies match the predicate recomputed") {
    import graft.functions.Md5Expressions.md5_key28
    val a = CorpusOps.weightedSampleDf(fixtureDocs).collect()
    val b = CorpusOps.weightedSampleDf(fixtureDocs).collect()
    assert(a.sameElements(b))
    val kept = fixtureDocs
      .filter(md5_key28(col("text")) % CorpusOps.WeightDenom <
        least(lit(CorpusOps.WeightDenom.toLong), col("n_chars")))
      .groupBy("lang").agg(count(lit(1)).as("k"), sum("n_chars").as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    a.foreach { r =>
      val (k, c) = kept(r.getString(0))
      assert(r.getAs[Long]("n_kept") == k && r.getAs[Long]("kept_chars") == c)
    }
  }

  test("k-anonymity: literal groups release at k and suppress below it") {
    // (en, s1, bucket 0): 3 docs -> released; (en, s1, bucket 1): 2 -> suppressed;
    // (fr, s2, bucket 0): 1 -> suppressed
    val docs = docsDf(Seq(
      (0L, "t", "en", "s1", 10L), (1L, "t", "en", "s1", 20L), (2L, "t", "en", "s1", 30L),
      (3L, "t", "en", "s1", 260L), (4L, "t", "en", "s1", 270L),
      (5L, "t", "fr", "s2", 40L)))
    val out = CorpusOps.kAnonymityDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(("en", "s1")) == ((1L, 3L, 1L, 2L)))
    assert(out(("fr", "s2")) == ((0L, 0L, 1L, 1L)))
  }

  test("k-anonymity accounting: released + suppressed docs = corpus; floors respected") {
    val rows = CorpusOps.kAnonymityDf(fixtureDocs).collect()
    val released = rows.map(_.getAs[Long]("docs_released")).sum
    val suppressed = rows.map(_.getAs[Long]("docs_suppressed")).sum
    assert(released + suppressed == fixtureDocs.count(), "every doc accounted once")
    assert(released > 0 && suppressed > 0, "fixture must exercise both outcomes")
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_released") >=
        CorpusOps.KAnonymity * r.getAs[Long]("groups_released"),
        "each released group must hold at least k docs")
      assert(r.getAs[Long]("docs_suppressed") <=
        (CorpusOps.KAnonymity - 1L) * r.getAs[Long]("groups_suppressed"),
        "each suppressed group holds at most k-1 docs")
    }
  }

  test("jsonl ingest: corrupt lines quarantined with raw payload, none dropped") {
    import graft.ingest.JsonlIngest
    val parsed = JsonlIngest.read(spark, JsonlIngest.fixturePath).cache()
    val nLines = spark.read.text(JsonlIngest.fixturePath).count()
    assert(parsed.count() == nLines, "every input line becomes exactly one row")
    val corrupt = parsed.filter(col("_corrupt").isNotNull)
    assert(corrupt.count() == 4)
    // quarantined rows keep the raw line for replay and carry no data fields
    corrupt.collect().foreach { r =>
      assert(r.getAs[String]("_corrupt").nonEmpty)
      assert(r.isNullAt(r.fieldIndex("lang")) && r.isNullAt(r.fieldIndex("text")))
    }
  }

  test("jsonl ingest summary: per-lang tallies + exact corrupt accounting") {
    import graft.ingest.JsonlIngest
    val out = JsonlIngest.eq45(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("__corrupt__") == ((4L, 0L)))
    assert(out("__unknown__") == ((1L, 23L)),
      "valid JSON without a lang field is a GOOD doc with unknown language, never corrupt")
    assert(out("en") == ((5L, 177L)) && out("fr") == ((3L, 124L)) && out("de") == ((4L, 148L)))
    assert(out.values.map(_._1).sum ==
      spark.read.text(JsonlIngest.fixturePath).count(), "good + corrupt = lines")
  }

  test("curation funnel: each gate drops its literal offender, stages never grow") {
    // en, 6 docs: one fails quality (all-stopword text), one fails
    // repetition (repeated trigram), one fails the length band (outlier),
    // three pass every gate. All-unique tokens keep dup_ratio at 0 for the
    // good docs (any repeating token cycle would repeat trigrams too).
    val good = Seq.tabulate(100)(i => s"aa$i").mkString(" ")
    val huge = Seq.tabulate(3000)(i => s"bb$i").mkString(" ")
    val docs = docsDf(Seq(
      (0L, good, "en", "s", good.length.toLong),
      (1L, good + " extraone", "en", "s", good.length + 9L),
      (2L, good + " extratwo", "en", "s", good.length + 9L),
      (3L, "the a the a the a", "en", "s", 17L), // all stopwords: quality < 0.5
      (4L, ("dup trigram text " * 20).trim, "en", "s", 339L), // dup_ratio ~ 0.9
      (5L, huge, "en", "s", huge.length.toLong))) // length outlier
    val r = CorpusOps.curationFunnelDf(docs).collect().head
    assert(r.getAs[Long]("n_total") == 6L)
    assert(r.getAs[Long]("n_quality") == 5L, "doc 3 must fail the quality gate")
    assert(r.getAs[Long]("n_low_repetition") == 4L, "doc 4 must fail the repetition gate")
    assert(r.getAs[Long]("n_released") == 3L, "doc 5 must fail the length band")
  }

  test("curation funnel: monotone stages; gates agree with eq30/eq38 recomputed (sf0.001)") {
    val rows = CorpusOps.curationFunnelDf(fixtureDocs).collect()
    rows.foreach { r =>
      val (t, q, rep, rel) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_quality"),
        r.getAs[Long]("n_low_repetition"), r.getAs[Long]("n_released"))
      assert(t >= q && q >= rep && rep >= rel && rel >= 0)
    }
    assert(rows.map(_.getAs[Long]("n_total")).sum == fixtureDocs.count())
  }

  test("orc roundtrip: summary equals the direct parquet summary") {
    import graft.ingest.OrcRoundtrip
    val direct = OrcRoundtrip.summarize(
      fixtureDocs.select("doc_id", "lang", "source", "n_chars")).collect()
    val viaOrc = OrcRoundtrip.eq55(spark, Sf).collect()
    assert(viaOrc.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq,
      "ORC write->read must preserve every row and value")
  }

  test("pmi bigrams: hand-computed scores on an alternating-token fixture") {
    // "x y" x6 -> tokens x:6 y:6 (N_tok 12), bigrams "x y":6 "y x":5
    // (N_big 11); pmi(x,y) = ln((6/11)/((6/12)(6/12))), pmi(y,x) with 5/11
    val docs = docsDf(Seq((0L, ("x y " * 6).trim, "en", "s", 23L)))
    val out = CorpusOps.pmiBigramsDf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 2)
    val (cXy, pXy) = out(("x", "y"))
    val (cYx, pYx) = out(("y", "x"))
    assert(cXy == 6L && cYx == 5L)
    assert(math.abs(pXy - math.log((6.0 / 11) / ((6.0 / 12) * (6.0 / 12)))) < 1e-6)
    assert(math.abs(pYx - math.log((5.0 / 11) / ((6.0 / 12) * (6.0 / 12)))) < 1e-6)
  }

  test("pmi bigrams: k-bounded, min-count respected, scores finite (sf0.001)") {
    val rows = SparkEntry.queries("eq56_pmi_bigrams")(spark, Sf).collect()
    assert(rows.length <= CorpusOps.PmiTopK && rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= CorpusOps.PmiMinCount)
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite)
    }
    val pmis = rows.map(_.getDouble(3))
    assert(pmis.sameElements(pmis.sortBy(-_)), "rows arrive in pmi-descending order")
  }

  test("plan shapes: eq33 cuts with TakeOrderedAndProject, eq31 has no join or cartesian") {
    val topk = CorpusOps.trigramTopKDf(fixtureDocs)
      .queryExecution.executedPlan.toString
    assert(topk.contains("TakeOrderedAndProject"),
      "top-20 must be a bounded top-k, not a global sort")
    val sample = CorpusOps.stratifiedSampleDf(fixtureDocs)
      .queryExecution.executedPlan.toString
    assert(!sample.contains("Join"), "sampling must stay a map-side filter")
  }

  test("zipf slope: a perfect power law regresses to its exponent") {
    // c(r) = 840/r exactly for r = 1..5: ln(c) = ln(840) − 1·ln(r), so
    // the ln/ln least-squares fit must return slope −1, r² = 1 (up to the
    // 1e-6 integer-log quantization)
    val zipf = Seq(("a", 840), ("b", 420), ("c", 280), ("d", 210), ("e", 168))
    val text = zipf.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = docsDf(Seq((0L, text, "en", "s", text.length.toLong)))
    val r = CorpusOps.zipfSlopeDf(docs).head()
    assert(r.getLong(0) == 5L)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-4, s"slope ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-6, s"r2 ${r.getDouble(2)}")
    // geometric counts 4096·2^-(r-1) decay faster than any power law on
    // ranks 1..4 — the fitted ln/ln slope must come out steeper than −1
    val words = Seq(("a", 4096), ("b", 2048), ("c", 1024), ("d", 512))
    val text2 = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs2 = docsDf(Seq((0L, text2, "en", "s", text2.length.toLong)))
    val r2 = CorpusOps.zipfSlopeDf(docs2).head()
    assert(r2.getDouble(1) < -1.0, "doubling counts fall faster than 1/r over ranks 1..4")
  }

  test("zipf slope on sf0.001: negative slope, r2 in [0,1], rank cap respected") {
    val r = SparkEntry.queries("eq62_zipf_slope")(spark, Sf).head()
    assert(r.getLong(0) <= 1000L)
    assert(r.getDouble(1) < 0.0, "token frequencies must decay with rank")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }

  test("eq135 snapshot drift: hand-computed JS micros; identical halves give 0") {
    // one lang, mid = (0+1) div 2 = 0: old = {doc 0 "a a"}, new = {doc 1
    // "a b"}. vocab a: 2/1, b: 0/1; N_a = N_b = 2, V = 2.
    // p(a)=3/4, q(a)=1/2, m=5/8: ln(1.2)->182322, ln(0.8)->-223144.
    // p(b)=1/4, q(b)=1/2, m=3/8: ln(2/3)->-405465, ln(4/3)->287682.
    // sa = 3*182322 + 1*(-405465) = 141501; sb = 2*(-223144) + 2*287682
    // = 129076; js = (141501/4e6 + 129076/4e6)/2 = 0.033822 (6 dp).
    val docs = docsDf(Seq(
      (0L, "a a", "en", "s", 3L),
      (1L, "a b", "en", "s", 3L)))
    val r = CorpusOps.snapshotDriftDf(docs).head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == (("en", 1L, 1L, 2L, 2L)))
    assert(r.getDouble(5) == 0.033822, s"js ${r.getDouble(5)}")
    // identical halves: every p = q = m, all log-ratios quantize to 0
    val same = docsDf(Seq(
      (0L, "x y z", "en", "s", 5L),
      (1L, "x y z", "en", "s", 5L)))
    assert(CorpusOps.snapshotDriftDf(same).head().getDouble(5) == 0.0)
  }

  test("eq135 snapshot drift: live-fixture invariants (doc conservation, JS bounds)") {
    val docs = graft.Tables.load(spark, Sf, "documents")
    val out = CorpusOps.snapshotDriftDf(docs).collect()
    // every document lands in exactly one (lang, half) cell
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == docs.count())
    // JS divergence is non-negative and ≤ ln 2 ≈ 0.693147 (base-e bound);
    // the 1e-6 micro quantization cannot push past either bound by more
    // than a vocabulary of epsilons
    out.foreach { r =>
      val js = r.getDouble(5)
      assert(js >= -1e-6 && js <= 0.693148, s"lang ${r.getString(0)} js $js")
    }
  }
}
