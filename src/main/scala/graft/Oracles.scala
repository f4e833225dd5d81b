package graft

/** DuckDB-dialect oracle SQL for every oracle-checkable query in
  * SparkEntry.queries (driver contract: Verify dumps these to
  * oracle_sql.json; the driver runs them in DuckDB 1.0 over the same
  * parquet tables and hash-compares against our parquet output).
  *
  * Dialect-parity rules (SURVEY.md §2.9):
  *  - every double literal that Spark evaluates as Double is written
  *    `x::DOUBLE` so DuckDB doesn't compute in DECIMAL;
  *  - arithmetic written in the same association order as the Spark plan so
  *    IEEE results are bit-identical before `ROUND(_, 6)`;
  *  - doubles rounded *before* any order-sensitive step (top-k cuts);
  *  - dates/timestamps rendered as ISO strings;
  *  - full deterministic ORDER BY on output, `magid`/id tie-breaks.
  */
object Oracles {

  /** Shared CTEs: the §2.9 retarget views. */
  private val pdvCte =
    """pdv AS (
      |  SELECT CAST(l_shipdate AS DATE) AS dateid, l_partkey AS prodid,
      |         p_type AS catid, p_brand AS fabid, l_suppkey AS magid
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |produits AS (SELECT dateid, prodid, catid, fabid FROM pdv)""".stripMargin

  private def withPdv(sql: String): String = s"WITH $pdvCte\n$sql"

  private val top10AllCats =
    """SELECT magid,
      |       COUNT(DISTINCT fabid) AS total_fabricants,
      |       COUNT(DISTINCT catid) AS total_categories,
      |       COUNT(DISTINCT prodid) AS total_produits,
      |       COUNT(*) AS total_ventes,
      |       ROUND(COUNT(DISTINCT fabid) * 0.1::DOUBLE
      |           + COUNT(DISTINCT catid) * 0.2::DOUBLE
      |           + COUNT(DISTINCT prodid) * 0.3::DOUBLE
      |           + COUNT(*) * 0.4::DOUBLE, 6) AS score
      |FROM pdv
      |WHERE dateid BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
      |GROUP BY magid
      |ORDER BY score DESC, magid ASC
      |LIMIT 10""".stripMargin

  private def top10Cat(fin: String) =
    s"""SELECT magid,
       |       COUNT(DISTINCT fabid) AS total_fabricants,
       |       COUNT(DISTINCT prodid) AS total_produits,
       |       COUNT(*) AS total_ventes,
       |       ROUND(COUNT(DISTINCT fabid) * 0.1::DOUBLE
       |           + COUNT(DISTINCT prodid) * 0.3::DOUBLE
       |           + COUNT(*) * 0.6::DOUBLE, 6) AS score
       |FROM pdv
       |WHERE catid = 'STANDARD'
       |  AND dateid BETWEEN DATE '1995-01-01' AND DATE '$fin'
       |GROUP BY magid
       |ORDER BY score DESC, magid ASC
       |LIMIT 10""".stripMargin

  val retail: Map[String, String] = Map(
    "q1_filter_cat" -> withPdv(
      """SELECT CAST(dateid AS VARCHAR) AS dateid, prodid, catid, fabid
        |FROM produits WHERE catid = 'STANDARD'
        |ORDER BY 1, 2, 3, 4""".stripMargin),

    "q2_count_distinct_mag" -> withPdv(
      "SELECT COUNT(DISTINCT magid) AS total_magasins FROM pdv WHERE catid = 'STANDARD'"),

    "q3_count_distinct_fab" -> withPdv(
      "SELECT COUNT(DISTINCT fabid) AS total_fabricants FROM produits WHERE catid = 'STANDARD'"),

    "q4_avg_prod_per_fab" -> withPdv(
      """SELECT ROUND(AVG(product_count), 6) AS avg_products_per_fab
        |FROM (SELECT fabid, COUNT(DISTINCT prodid) AS product_count
        |      FROM produits
        |      WHERE catid = 'STANDARD'
        |        AND dateid BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |      GROUP BY fabid) s""".stripMargin),

    "q5_top_magasins" -> withPdv(top10AllCats),

    "q6_top_magasins_cat" -> withPdv(top10Cat("1996-12-31")),

    "q7_mag_per_month" -> withPdv(
      """SELECT strftime(dateid, '%Y-%m') AS mois, COUNT(DISTINCT magid) AS nbmag
        |FROM pdv
        |WHERE catid = 'STANDARD' AND year(dateid) = 1995
        |GROUP BY mois ORDER BY mois""".stripMargin),

    "q8_score_evolution" -> withPdv(
      """SELECT strftime(dateid, '%Y-%m') AS mois,
        |       COUNT(*) AS total_ventes,
        |       CAST(SUM(CASE WHEN fabid = 'Brand#12' THEN 1 ELSE 0 END) AS BIGINT) AS ventes_fab,
        |       ROUND(COALESCE(
        |         SUM(CASE WHEN fabid = 'Brand#12' THEN 1 ELSE 0 END) * 100.0::DOUBLE
        |           / NULLIF(COUNT(*), 0), 0.0::DOUBLE), 6) AS score_sante
        |FROM pdv
        |WHERE catid = 'STANDARD'
        |  AND dateid BETWEEN DATE '1995-01-01' AND DATE '1998-09-01'
        |GROUP BY mois ORDER BY mois""".stripMargin),

    "q9_top1" -> withPdv(
      s""", top10 AS ($top10AllCats)
         |SELECT magid,
         |       COUNT(DISTINCT fabid) AS total_fabricants,
         |       COUNT(DISTINCT prodid) AS total_produits,
         |       COUNT(*) AS total_ventes,
         |       ROUND(COUNT(DISTINCT prodid) * 0.3::DOUBLE
         |           + COUNT(*) * 0.6::DOUBLE
         |           + COUNT(DISTINCT fabid) * 0.1::DOUBLE, 6) AS score
         |FROM pdv
         |WHERE catid = 'STANDARD' AND magid IN (SELECT magid FROM top10)
         |GROUP BY magid
         |ORDER BY score DESC, magid ASC
         |LIMIT 1""".stripMargin),

    "q10_avg_fab_top10" -> withPdv(
      s""", top10 AS (${top10Cat("1996-12-31")}),
         |best AS (
         |  SELECT magid, COUNT(DISTINCT prodid) AS nb
         |  FROM pdv
         |  WHERE catid = 'STANDARD' AND fabid = 'Brand#12'
         |    AND magid IN (SELECT magid FROM top10)
         |  GROUP BY magid),
         |j AS (
         |  SELECT t.magid, t.total_produits,
         |         COALESCE(b.nb, 0) AS nb_produits_fab,
         |         CAST(COALESCE(b.nb, 0) AS DOUBLE) / t.total_produits * 100.0::DOUBLE AS pct_raw
         |  FROM top10 t LEFT JOIN best b ON t.magid = b.magid)
         |SELECT magid, total_produits, nb_produits_fab,
         |       ROUND(pct_raw, 6) AS percentage,
         |       (SELECT ROUND(COALESCE(AVG(CASE WHEN total_produits <> 0 THEN pct_raw END), 0.0::DOUBLE), 6) FROM j) AS average
         |FROM j
         |ORDER BY magid""".stripMargin),

    "q11_score_sante_months" -> withPdv(
      s""", top10 AS (${top10Cat("1998-09-01")}),
         |permonth AS (
         |  SELECT magid, strftime(dateid, '%Y-%m') AS mois_annee,
         |         COUNT(DISTINCT prodid) AS nb
         |  FROM pdv
         |  WHERE catid = 'STANDARD' AND fabid = 'Brand#12'
         |    AND magid IN (SELECT magid FROM top10)
         |  GROUP BY magid, mois_annee),
         |spine AS (
         |  SELECT strftime(m, '%Y-%m') AS mois_annee
         |  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1998-09-01',
         |                                      INTERVAL 1 MONTH)) AS m)),
         |monthly AS (
         |  SELECT s.mois_annee,
         |         AVG(CASE WHEN p.nb IS NOT NULL AND t.total_produits <> 0
         |                  THEN CAST(p.nb AS DOUBLE) / t.total_produits * 100.0::DOUBLE END) AS avg_raw
         |  FROM spine s
         |  CROSS JOIN top10 t
         |  LEFT JOIN permonth p ON p.magid = t.magid AND p.mois_annee = s.mois_annee
         |  GROUP BY s.mois_annee)
         |SELECT mois_annee,
         |       ROUND(COALESCE(avg_raw, 0.0::DOUBLE), 6) AS avg_percentage,
         |       (SELECT ROUND(COALESCE(AVG(avg_raw), 0.0::DOUBLE), 6) FROM monthly) AS average
         |FROM monthly
         |ORDER BY mois_annee""".stripMargin),

    "q12_ingest" ->
      """WITH raw AS (
        |  SELECT line
        |  FROM read_csv('/root/repo/src/test/resources/fixtures/pointsDeVente-tous.csv',
        |                columns = {'line': 'VARCHAR'}, delim = '|', header = false)),
        |toks AS (
        |  SELECT regexp_split_to_array(trim(line), '\s+') AS a
        |  FROM raw WHERE trim(line) <> ''),
        |data AS (SELECT a FROM toks WHERE len(a) = 5 AND lower(a[1]) <> 'dateid')
        |SELECT COUNT(*) AS n_rows,
        |       CAST(MIN(strptime(a[1], '%Y%m%d')::DATE) AS VARCHAR) AS min_date,
        |       CAST(MAX(strptime(a[1], '%Y%m%d')::DATE) AS VARCHAR) AS max_date,
        |       CAST(SUM(a[2]::BIGINT) AS BIGINT) AS sum_prodid,
        |       CAST(SUM(a[3]::BIGINT) AS BIGINT) AS sum_catid,
        |       CAST(SUM(a[4]::BIGINT) AS BIGINT) AS sum_fabid,
        |       CAST(SUM(a[5]::BIGINT) AS BIGINT) AS sum_magid
        |FROM data""".stripMargin,
  )

  /** SQL fragment: the 28-bit int value of a 7-char lowercase-hex column
    * named `h7` — DuckDB's side of [[graft.functions.Md5Expressions.Md5Key28]]
    * (shared by the x1 and eq27 oracles; must stay in lockstep with it). */
  private val hex7OfH7: String = (0 until 7).map { k =>
    s"(strpos('0123456789abcdef', substr(h7, ${k + 1}, 1)) - 1) * ${math.pow(16, 6 - k).toLong}"
  }.mkString(" + ")

  /** `(pid, bits)` VALUES rows of the engine's first `n` seeded SRP
    * hyperplanes, as ±-sign strings (shared by the eq13 and x5 oracles). */
  private def hyperplaneValues(n: Int): String =
    graft.pipeline.Similarity.hyperplaneSigns(64, n).zipWithIndex
      .map { case (s, i) => s"($i,'$s')" }.mkString(",")

  /** Shared CTE chain (appended after `shingled`): exact Jaccard near-dup
    * pairs ending in `j (doc_a, doc_b, jac)` — eq12's pair mining, reused
    * verbatim by eq26's clustering oracle. */
  private val jaccardCtes =
    """s AS (SELECT doc_id, list_distinct(sh) AS shd FROM shingled),
      |ex AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg FROM s),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
      |         MAX(a.sz) AS sz_a, MAX(b.sz) AS sz_b
      |  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b, common::DOUBLE / (sz_a + sz_b - common) AS jac FROM p)""".stripMargin

  /** Shared CTE chain ending in `c (doc_id, chunk_id, n_chunk_tokens,
    * chunk_md5)` — the eq32 token-window chunking (32-token windows,
    * stride 24; the last chunk is the first whose window reaches the doc
    * end), reused by eq39's chunk-level dedup so the two oracles cannot
    * drift (mirrors the engine-side `CorpusOps.chunksDf` sharing). */
  private val chunkCtes =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t,
      |         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
      |  FROM documents),
      |nc AS (SELECT doc_id, t,
      |              CASE WHEN n <= 32 THEN 1 ELSE (n - 9) // 24 + 1 END AS n_chunks
      |       FROM t),
      |ch AS (SELECT doc_id, t, unnest(range(0, n_chunks)) AS i FROM nc),
      |sl AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
      |              list_slice(t, i * 24 + 1, i * 24 + 32) AS cl
      |       FROM ch),
      |c AS (SELECT doc_id, chunk_id,
      |             CAST(len(cl) AS INT) AS n_chunk_tokens,
      |             md5(array_to_string(cl, ' ')) AS chunk_md5
      |      FROM sl)""".stripMargin

  /** Shared CTEs for the text-pipeline oracles: lowercased whitespace
    * tokens, and (distinct) 3-token shingle sets. DuckDB standard strings
    * do NOT process backslash escapes, so `\s` here reaches RE2 as-is
    * (the Spark side passes the same regex through Scala "\\s"). */
  private val toksCte =
    """toks AS (
      |  SELECT doc_id, lang, source, text,
      |         regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |shingled AS (
      |  SELECT *, CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE []::VARCHAR[] END AS sh
      |  FROM toks)""".stripMargin

  /** eq126: the iterative BPE trainer, unrolled — DuckDB recursive CTEs
    * cannot aggregate over the working table, so each merge round is a CTE
    * trio: `pN` pair counts (vocabulary-weighted), `bN` the argmax pair
    * (cnt DESC, pair ASC tie-break — the engine's determinism rule), `vN`
    * the vocab with that pair merged. Symbols are carried in the engine's
    * enclosed representation (every symbol wrapped in chr(31)), so merging
    * is the same literal `replace` of `␟l␟␟r␟` with `␟lr␟` and DuckDB's
    * scan-after-match `replace` reproduces BPE's left-to-right
    * non-overlapping merge exactly. */
  private def bpeTrainSql(merges: Int): String =
    bpeCtes(merges, rewriteLast = false) +
      (1 to merges)
        .map(r => s"SELECT $r AS merge_rank, pair, cnt FROM b$r")
        .mkString("\nUNION ALL ") +
      "\nORDER BY merge_rank"

  /** The unrolled merge-round CTE chain shared by eq126 (train) and eq129
    * (encode). Each round is the trio `pN` (vocabulary-weighted pair
    * counts) / `bN` (argmax pair, cnt DESC + pair ASC tie-break — the
    * engine's determinism rule) / `vN` (the vocab with that pair merged).
    * The vocab carries the original `tok` so the encoder can join the
    * corpus stream back; the trainer ignores it (and skips the dead final
    * rewrite). Merging stays the literal `replace` over the chr(31)
    * enclosure, reproducing BPE's left-to-right non-overlapping merge. */
  private def bpeCtes(merges: Int, rewriteLast: Boolean): String =
    s"WITH $toksCte,\n" + bpeRoundsCtes(merges, rewriteLast)

  /** The merge-round chain WITHOUT the leading WITH/toks prefix, so the
    * eq136 composed-pipeline oracle can splice it into its own (recursive)
    * CTE chain alongside the jaccard/closure CTEs. */
  /** `src` (default `toks`) — the token-list CTE the round-0 vocabulary is
    * counted from, so eq137 can train the OLD snapshot's vocabulary from a
    * filtered `toks` view while every existing caller is untouched. */
  private def bpeRoundsCtes(merges: Int, rewriteLast: Boolean,
      src: String = "toks"): String = {
    val sep = "chr(31)"
    val rounds = (1 to merges).map { r =>
      val prev = s"v${r - 1}"
      val head =
        s"""p$r AS (
           |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
           |    SELECT wc, unnest(list_transform(range(1, len(sy)), i -> sy[i] || ' ' || sy[i+1])) AS pair
           |    FROM (SELECT wc, list_filter(str_split(s, $sep), x -> x <> '') AS sy FROM $prev))
           |  GROUP BY 1),
           |b$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
      // LEFT JOIN ON TRUE, not a comma join: an exhausted round (empty
      // argmax) must leave the vocabulary untouched — the engine's
      // exhaustion guard, mirrored (a comma join against the empty b$r
      // would erase v$r).
      val rewrite =
        if (r == merges && !rewriteLast) ""
        else
          s""",
             |v$r AS (
             |  SELECT v.tok,
             |         CASE WHEN b.pair IS NULL THEN v.s ELSE
             |           replace(v.s,
             |             $sep || split_part(b.pair, ' ', 1) || $sep || $sep || split_part(b.pair, ' ', 2) || $sep,
             |             $sep || split_part(b.pair, ' ', 1) || split_part(b.pair, ' ', 2) || $sep)
             |         END AS s,
             |         v.wc
             |  FROM $prev v LEFT JOIN b$r b ON TRUE)""".stripMargin
      head + rewrite
    }.mkString(",\n")
    s"""v0 AS (
         |  SELECT tok,
         |         regexp_replace(tok, '(.)', $sep || '\\1' || $sep, 'g') AS s,
         |         COUNT(*) AS wc
         |  FROM (SELECT unnest(t) AS tok FROM $src)
         |  WHERE length(tok) >= 2 GROUP BY 1),
         |""".stripMargin + rounds + "\n"
  }

  /** eq129: BPE encode under the learned merges — the train chain through
    * the FINAL rewrite, symbol counts taken once per distinct token, then
    * joined back to the corpus token stream per source (the engine's
    * vocabulary-bounded encode shape, mirrored exactly). */
  private def bpeEncodeSql(merges: Int): String = {
    val sep = "chr(31)"
    bpeCtes(merges, rewriteLast = true) +
      s""",
         |enc AS (
         |  SELECT tok, len(list_filter(str_split(s, $sep), x -> x <> '')) AS sy_after
         |  FROM v$merges),
         |stream AS (
         |  SELECT source, unnest(t) AS tok FROM toks),
         |j AS (
         |  SELECT st.source, st.tok,
         |         COALESCE(e.sy_after, length(st.tok)) AS sy
         |  FROM stream st LEFT JOIN enc e ON st.tok = e.tok
         |  WHERE length(st.tok) >= 1)
         |SELECT source,
         |       COUNT(*) AS n_tokens,
         |       CAST(SUM(length(tok)) AS BIGINT) AS chars_total,
         |       CAST(SUM(sy) AS BIGINT) AS symbols_total,
         |       CAST(SUM(CASE WHEN sy < length(tok) THEN 1 ELSE 0 END) AS BIGINT) AS merged_tokens,
         |       ROUND(CAST(SUM(length(tok)) AS DOUBLE) / CAST(SUM(sy) AS DOUBLE), 6) AS compression
         |FROM j GROUP BY source ORDER BY source""".stripMargin
  }

  /** eq4 / x3 / x5 reconstructions as standalone SELECTs — map entries AND
    * subqueries of x12's recall evaluation, one copy each so the eval can
    * never drift from the queries it grades. */
  private val cosineTopkSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |un AS (
      |  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |sims AS (
      |  SELECT vec_id, SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0) AS sim
      |  FROM un GROUP BY vec_id)
      |SELECT vec_id, ROUND(sim, 6) AS sim FROM sims
      |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin

  private val ivfTopkSql =
    """WITH c AS (SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id % 40 = 0),
      |pr AS (
      |  SELECT e.vec_id, c.cell_id, unnest(e.embedding)::DOUBLE AS x, unnest(c.ce)::DOUBLE AS y
      |  FROM embeddings e CROSS JOIN c),
      |d AS (
      |  SELECT vec_id, cell_id, -(SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0)) AS d
      |  FROM pr GROUP BY 1, 2),
      |assigned AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT vec_id, cell_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC NULLS LAST, cell_id ASC) AS rn
      |    FROM d) WHERE rn = 1),
      |probe AS (SELECT cell_id FROM d WHERE vec_id = 0 ORDER BY d ASC NULLS LAST, cell_id ASC LIMIT 8),
      |cand AS (SELECT a.vec_id FROM assigned a JOIN probe p ON a.cell_id = p.cell_id
      |         WHERE a.vec_id <> 0),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |un AS (
      |  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
      |  FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q),
      |sims AS (SELECT vec_id, SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0) AS sim
      |         FROM un GROUP BY 1)
      |SELECT vec_id, ROUND(sim, 6) AS sim FROM sims
      |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin

  /** The SRP bucket CTEs (pl/dots/bk/qb) shared by x5 and the x24
    * probe-radius sweep. */
  private lazy val lshBucketCtes: String = {
    val values = hyperplaneValues(8)
    s"""WITH pl AS (
      |  SELECT pid AS bit,
      |         list_transform(range(1, len(bits) + 1),
      |           i -> CASE WHEN substr(bits, i::INT, 1) = '+'
      |                THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS h
      |  FROM (VALUES $values) AS t(pid, bits)),
      |dots AS (
      |  SELECT vec_id, bit, SUM(x * y) AS d FROM (
      |    SELECT e.vec_id, pl.bit,
      |           unnest(e.embedding)::DOUBLE AS x, unnest(pl.h) AS y
      |    FROM embeddings e CROSS JOIN pl)
      |  GROUP BY 1, 2),
      |bk AS (SELECT vec_id, CAST(SUM(CASE WHEN d > 0 THEN 1 << bit ELSE 0 END) AS INT) AS bucket
      |       FROM dots GROUP BY 1),
      |qb AS (SELECT bucket AS q FROM bk WHERE vec_id = 0)""".stripMargin
  }

  private lazy val lshTopkSql = {
    s"$lshBucketCtes,\n" +
    """cand AS (SELECT b.vec_id FROM bk b, qb
      |         WHERE bit_count(xor(b.bucket, qb.q)) <= 2 AND b.vec_id <> 0),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |un AS (
      |  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
      |  FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q),
      |sims AS (SELECT vec_id, SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0) AS sim
      |         FROM un GROUP BY 1)
      |SELECT vec_id, ROUND(sim, 6) AS sim FROM sims
      |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin
  }

  /** eq89's DuckDB twin of [[graft.pipeline.Clustering.kmeansDf]]: the
    * iteration count is finite and fixed, so the Lloyd loop unrolls into a
    * generated CTE chain — a{i} assigns by exact integer squared-L2 with
    * the cid tie-break, u{i} takes exact BIGINT moments, c{i} floor-divides
    * (`(s - ((s%n + n) % n)) // n` ≡ Spark `(s - pmod(s, n)) div n`) and
    * keeps the previous centroid for emptied clusters. */
  /** The micro-unit exploded view of `embeddings` shared by eq89/x21. */
  private val microVecCte =
    """v AS (
      |  SELECT vec_id, CAST(pos AS INT) AS pos,
      |         CAST(ROUND(x * 1000000.0::DOUBLE) AS BIGINT) AS v
      |  FROM (
      |    SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |           unnest(embedding)::DOUBLE AS x
      |    FROM embeddings))""".stripMargin

  /** One unrolled Lloyd chain over source CTE `src` (vec_id, pos, v),
    * CTE names suffixed `sfx` — seeds c0$sfx, then a{i}/u{i}/c{i} per
    * round: exact BIGINT squared-L2 argmin with cid tie-break, exact-sum
    * floor-div update (`(s - ((s%n + n) % n)) // n` ≡ Spark
    * `(s - pmod(s, n)) div n`), emptied clusters keep their centroid. */
  /** The eq136 curation chain reconstructed through per-lang shard
    * packing: CC labels over the Jaccard pairs, the quality spine, the
    * cluster-hash split, exact + near dedup windows, train/quality gates,
    * decontamination, temperature mix, and the packing prefix sums
    * (`zs8c`: lang, doc_id, n_tokens, n_chars, cum — `cum // 2000` is the
    * shard id). Shared VERBATIM by the eq136 composed-pipeline oracle and
    * the eq138 write-path audit so the two cannot drift. Splices after
    * `$toksCte,\n$jaccardCtes` inside a WITH RECURSIVE. */
  private def curationChainCtes: String =
    s"""pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.2::DOUBLE),
      |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT s AS src, s AS dst FROM edges
      |  UNION
      |  SELECT r.src, e.t FROM reach r JOIN edges e ON r.dst = e.s),
      |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src),
      |zq AS (
      |  SELECT t.doc_id, t.lang, t.source, t.text, d.n_chars,
      |         CAST(len(t.t) AS BIGINT) AS n_tokens,
      |         ROUND(0.4::DOUBLE * least(length(t.text) / 500.0::DOUBLE, 1.0::DOUBLE)
      |             + 0.4::DOUBLE * (length(regexp_replace(lower(t.text), '[^a-z]', '', 'g'))::DOUBLE / length(t.text))
      |             + 0.2::DOUBLE * (1.0::DOUBLE - (len(list_filter(t.t, x -> x IN ('the', 'a', 'data', 'value')))::DOUBLE / len(t.t))), 6) AS quality
      |  FROM toks t JOIN documents d USING (doc_id)),
      |zsp AS (
      |  SELECT zq.*, COALESCE(l.cluster, zq.doc_id) AS cluster
      |  FROM zq LEFT JOIN labels l USING (doc_id)),
      |zhc AS (SELECT *, substr(md5(cluster::VARCHAR), 1, 7) AS h7 FROM zsp),
      |zcb AS (SELECT *, ($hex7OfH7) % 100 AS cb FROM zhc),
      |zcs AS (SELECT doc_id, lang, source, text, n_chars, n_tokens, quality, cluster,
      |               CASE WHEN cb < 80 THEN 'train'
      |                    WHEN cb < 90 THEN 'val' ELSE 'test' END AS cluster_split
      |        FROM zcb),
      |zk2 AS (SELECT * FROM zcs
      |        QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1),
      |zk3 AS (SELECT * FROM zk2
      |        QUALIFY row_number() OVER (PARTITION BY cluster
      |                                   ORDER BY quality DESC NULLS LAST, doc_id ASC) = 1),
      |zk4 AS (SELECT * FROM zk3 WHERE cluster_split = 'train'),
      |zk5 AS (SELECT * FROM zk4 WHERE quality >= 0.5::DOUBLE),
      |ztv AS (SELECT DISTINCT unnest(g.sh) AS sg
      |        FROM shingled g JOIN zcs USING (doc_id) WHERE zcs.cluster_split = 'test'),
      |zk5s AS (SELECT z.doc_id, list_distinct(g.sh) AS shd
      |         FROM zk5 z JOIN shingled g USING (doc_id)),
      |zte AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg
      |        FROM zk5s WHERE len(shd) > 0),
      |zcon AS (SELECT doc_id FROM (
      |           SELECT zte.doc_id, zte.sz, COUNT(ztv.sg) AS n_hit
      |           FROM zte LEFT JOIN ztv ON zte.sg = ztv.sg
      |           GROUP BY 1, 2)
      |         WHERE n_hit::DOUBLE / sz > 0.2::DOUBLE),
      |zk6 AS (SELECT * FROM zk5 WHERE doc_id NOT IN (SELECT doc_id FROM zcon)),
      |zc7 AS (SELECT lang, COUNT(*) AS ln_docs FROM zk6 GROUP BY 1),
      |zt7 AS (SELECT CAST(SUM(ln_docs) AS BIGINT) AS n_total FROM zc7),
      |zw7 AS (SELECT lang, ln_docs, n_total,
      |               CAST(ROUND(POWER(ln_docs::DOUBLE / n_total::DOUBLE, 0.3)
      |                          * 1000000.0) AS BIGINT) AS w_micro
      |        FROM zc7 CROSS JOIN zt7),
      |zws7 AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_sum FROM zw7),
      |zr7 AS (SELECT lang,
      |               CAST(LEAST(1000000::HUGEINT,
      |                     (CAST(w_micro AS HUGEINT) * (n_total // 2) * 1000000) // (CAST(w_sum AS HUGEINT) * ln_docs)) AS BIGINT) AS rate_ppm
      |        FROM zw7 CROSS JOIN zws7),
      |zh7 AS (SELECT z.doc_id, z.lang, z.n_chars, z.n_tokens,
      |               substr(md5(z.text), 1, 7) AS h7, r.rate_ppm
      |        FROM zk6 z JOIN zr7 r USING (lang)),
      |zk7 AS (SELECT doc_id, lang, n_chars, n_tokens FROM zh7
      |        WHERE ($hex7OfH7) % 1000000 < rate_ppm),
      |zs8c AS (SELECT lang, doc_id, n_tokens, n_chars,
      |                COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |         FROM zk7)""".stripMargin

  private def lloydCtes(src: String, sfx: String, k: Int, iters: Int): String = {
    val seed =
      s"""c0$sfx AS (
         |  SELECT CAST(r.rn - 1 AS INT) AS cid, s.pos, s.v AS cv
         |  FROM (SELECT vec_id,
         |               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |        FROM (SELECT DISTINCT vec_id FROM $src)) r
         |  JOIN $src s USING (vec_id)
         |  WHERE r.rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""a$i$sfx AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT s.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY SUM((s.v - c.cv) * (s.v - c.cv)), c.cid) AS rk
         |    FROM $src s JOIN c${i - 1}$sfx c USING (pos)
         |    GROUP BY s.vec_id, c.cid)
         |  WHERE rk = 1),
         |u$i$sfx AS (
         |  SELECT a.cid, s.pos, SUM(s.v) AS s, COUNT(*) AS n
         |  FROM a$i$sfx a JOIN $src s USING (vec_id)
         |  GROUP BY 1, 2),
         |c$i$sfx AS (
         |  SELECT p.cid, p.pos,
         |         CASE WHEN u.n IS NULL THEN p.cv
         |              ELSE (u.s - (((u.s % u.n) + u.n) % u.n)) // u.n END AS cv
         |  FROM c${i - 1}$sfx p LEFT JOIN u$i$sfx u ON u.cid = p.cid AND u.pos = p.pos)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  private def kmeansSql(k: Int, iters: Int): String = {
    val fin =
      s"""SELECT c.cid, c.pos, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_members,
         |       ROUND(c.cv::DOUBLE / 1000000.0::DOUBLE, 6) AS centroid
         |FROM c$iters c
         |LEFT JOIN (SELECT cid, COUNT(*) AS n FROM a$iters GROUP BY 1) m USING (cid)
         |ORDER BY c.cid, c.pos""".stripMargin
    s"WITH $microVecCte,\n" + lloydCtes("v", "", k, iters) + "\n" + fin
  }

  /** x21: PQ codebooks = one Lloyd chain per subspace slice; codes and the
    * query's 8×32 distance lookup table union the per-subspace frames; ADC
    * ranks by exact integer sums, ground truth is the exact integer-L2
    * top-5 — mirrors Clustering.pqRecallDf term for term. */
  private def pqSql(subs: Int, dsub: Int, codes: Int, iters: Int): String = {
    val slices = (0 until subs).map { s =>
      val lo = s * dsub
      s"""vs$s AS (
         |  SELECT vec_id, CAST(pos - $lo AS INT) AS pos, v
         |  FROM v WHERE pos >= $lo AND pos < ${lo + dsub})""".stripMargin
    }
    val chains = (0 until subs).map(s => lloydCtes(s"vs$s", s"_s$s", codes, iters))
    val codesU = (0 until subs)
      .map(s => s"SELECT vec_id, $s AS sub, cid AS code FROM a$iters" + s"_s$s")
      .mkString("\n  UNION ALL\n  ")
    val lutU = (0 until subs)
      .map(s =>
        s"""SELECT $s AS sub, c.cid AS code,
           |       CAST(SUM((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS qd
           |  FROM c$iters""".stripMargin + s"_s$s c JOIN vs$s q ON q.pos = c.pos AND q.vec_id = 0 GROUP BY 2")
      .mkString("\n  UNION ALL\n  ")
    val tail =
      s"""codes AS (
         |  $codesU),
         |lut AS (
         |  $lutU),
         |adc AS (
         |  SELECT vec_id, CAST(SUM(qd) AS BIGINT) AS adc_dist
         |  FROM codes JOIN lut USING (sub, code)
         |  WHERE vec_id <> 0 GROUP BY 1),
         |exact AS (
         |  SELECT b.vec_id FROM v b JOIN v q ON q.pos = b.pos AND q.vec_id = 0
         |  WHERE b.vec_id <> 0 GROUP BY b.vec_id
         |  ORDER BY SUM((b.v - q.v) * (b.v - q.v)), b.vec_id LIMIT 5),
         |top AS (
         |  SELECT vec_id, adc_dist,
         |         row_number() OVER (ORDER BY adc_dist, vec_id) AS rank
         |  FROM adc ORDER BY adc_dist, vec_id LIMIT 10)
         |SELECT CAST(t.rank AS INT) AS rank, t.vec_id, t.adc_dist,
         |       (e.vec_id IS NOT NULL) AS hit
         |FROM top t LEFT JOIN exact e ON e.vec_id = t.vec_id
         |ORDER BY t.rank""".stripMargin
    (Seq(s"WITH $microVecCte") ++ slices ++ chains ++ Seq(tail)).mkString(",\n")
  }

  /** eq13's full reconstruction at a given verify threshold (eq13 runs
    * at 0.5; the eq95 density oracle reuses the pipeline at 0.4). */
  private def embeddingNeardupsSql(threshold: Double): String = {
    val values = hyperplaneValues(128)
    s"""WITH pl AS (
        |  SELECT pid // 8 AS band, pid % 8 AS bit,
        |         list_transform(range(1, len(bits) + 1),
        |           i -> CASE WHEN substr(bits, i::INT, 1) = '+'
        |                THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS h
        |  FROM (VALUES $values) AS t(pid, bits)),
        |dots AS (
        |  SELECT vec_id, band, bit, SUM(x * y) AS d FROM (
        |    SELECT e.vec_id, pl.band, pl.bit,
        |           unnest(e.embedding)::DOUBLE AS x, unnest(pl.h) AS y
        |    FROM embeddings e CROSS JOIN pl)
        |  GROUP BY 1, 2, 3),
        |sigs AS (
        |  SELECT vec_id, band,
        |         CAST(SUM(CASE WHEN d > 0 THEN 1 << bit ELSE 0 END) AS INT) AS sig
        |  FROM dots GROUP BY 1, 2),
        |probes AS (
        |  SELECT vec_id, band,
        |         CASE WHEN f = -1 THEN sig ELSE xor(sig, 1 << f) END AS probe
        |  FROM sigs CROSS JOIN generate_series(-1, 7) AS g(f)),
        |cands AS (
        |  SELECT DISTINCT least(x.vec_id, y.vec_id) AS vec_a,
        |                  greatest(x.vec_id, y.vec_id) AS vec_b
        |  FROM sigs x JOIN probes y
        |    ON x.band = y.band AND x.sig = y.probe AND x.vec_id <> y.vec_id),
        |un AS (
        |  SELECT c.vec_a, c.vec_b,
        |         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
        |  FROM cands c
        |  JOIN embeddings a ON a.vec_id = c.vec_a
        |  JOIN embeddings b ON b.vec_id = c.vec_b),
        |sims AS (
        |  SELECT vec_a, vec_b, SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0) AS sim
        |  FROM un GROUP BY 1, 2)
        |SELECT vec_a, vec_b, ROUND(sim, 6) AS sim FROM sims
        |WHERE sim >= $threshold::DOUBLE ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Shared CTE chain ending in `best (vec_id, label, cl, cos, rn)` —
    * every embedding cosine-scored against every label-centroid integer
    * SUM prototype and ranked per vector (the eq105 scoring pass), reused
    * by eq107's IVF probe list; in lockstep with the engine-side
    * `Similarity.centroidScores` sharing. */
  private val centroidScoreCtes =
    """u AS (
      |  SELECT vec_id, label,
      |         CAST(unnest(range(0, len(embedding))) AS INT) AS pos,
      |         CAST(ROUND(unnest(embedding)::DOUBLE * 1000000.0::DOUBLE) AS BIGINT) AS v
      |  FROM embeddings),
      |c AS (SELECT label AS cl, pos, CAST(SUM(v) AS BIGINT) AS s FROM u GROUP BY 1, 2),
      |cn AS (SELECT cl, CAST(SUM(s * s) AS BIGINT) AS ns FROM c GROUP BY 1),
      |dots AS (
      |  SELECT u.vec_id, u.label, c.cl,
      |         CAST(SUM(u.v * c.s) AS BIGINT) AS dot,
      |         CAST(SUM(u.v * u.v) AS BIGINT) AS nv
      |  FROM u JOIN c USING (pos) GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT vec_id, label, cl,
      |         ROUND(dot::DOUBLE / NULLIF(SQRT(nv::DOUBLE) * SQRT(ns::DOUBLE), 0), 6) AS cos
      |  FROM dots JOIN cn USING (cl) WHERE nv > 0),
      |best AS (
      |  SELECT vec_id, label, cl, cos,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cl ASC) AS rn
      |  FROM sc)""".stripMargin

  /** The shingle → 28-bit key → 64-permutation → band-key prefix of the
    * x1 reconstruction, ending in `s (doc_id, shd, sz)` and `keys
    * (doc_id, band, band_key)` — shared by the whole-corpus pairing
    * (x1/x23, via [[minhashCtes]]) and eq104's incremental index probe,
    * in lockstep with the engine-side `Dedup.signatureParts` sharing. */
  private lazy val minhashKeyCtes: String = {
    val perms = graft.pipeline.Dedup.minhashPerms()
    val pmValues = perms.zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")
    s"WITH $toksCte,\n" +
    s"""s AS (SELECT doc_id, list_distinct(sh) AS shd, len(list_distinct(sh)) AS sz
      |       FROM shingled WHERE len(sh) > 0),
      |ex AS (SELECT doc_id, unnest(shd) AS sg FROM s),
      |hx AS (SELECT doc_id, substr(md5(sg), 1, 7) AS h7 FROM ex),
      |xx AS (SELECT doc_id, $hex7OfH7 AS x FROM hx),
      |pm AS (SELECT * FROM (VALUES $pmValues) AS t(i, a, b)),
      |mins AS (
      |  SELECT doc_id, i, MIN((a::BIGINT * x + b) % 2147483647) AS m
      |  FROM xx CROSS JOIN pm GROUP BY 1, 2),
      |keys AS (
      |  SELECT doc_id, i // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY i) AS band_key
      |  FROM mins GROUP BY 1, 2)""".stripMargin
  }

  /** The x1 reconstruction through the verified-pair CTE `j` (doc_a,
    * doc_b, exact jac) with `mins`/`cand` exposed — shared by x1 and the
    * x23 estimate-error eval. */
  private lazy val minhashCtes: String =
    s"$minhashKeyCtes,\n" +
    s"""ok AS (SELECT band, band_key FROM keys GROUP BY 1, 2 HAVING COUNT(*) <= 50),
      |kk AS (SELECT k.doc_id, k.band, k.band_key FROM keys k JOIN ok USING (band, band_key)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM kk x JOIN kk y ON x.band = y.band AND x.band_key = y.band_key
      |                     AND x.doc_id < y.doc_id),
      |ver AS (
      |  SELECT doc_a, doc_b, len(list_intersect(a.shd, b.shd)) AS common,
      |         a.sz AS sz_a, b.sz AS sz_b
      |  FROM cand JOIN s a ON a.doc_id = cand.doc_a JOIN s b ON b.doc_id = cand.doc_b),
      |j AS (SELECT doc_a, doc_b, common::DOUBLE / (sz_a + sz_b - common) AS jac FROM ver)""".stripMargin

  private val pipelineBase: Map[String, String] = Map(
    "eq1_exact_dup_count" ->
      "SELECT CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS BIGINT) AS dup_count FROM documents",

    "eq2_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       ROUND(AVG(length(text)), 6) AS avg_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "eq3_hourly_windows" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_type, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "eq4_cosine_topk" -> cosineTopkSql,

    "eq5_sessionize" ->
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts::TIMESTAMP) - epoch_us((lag(ts) OVER w)::TIMESTAMP) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        |  FROM flags),
        |per AS (SELECT user_id, session_id, COUNT(*) AS session_events FROM sess GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |       CAST(SUM(session_events) AS BIGINT) AS n_events,
        |       MAX(session_events) AS max_session_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    "eq6_sliding_windows" ->
      """WITH ex AS (
        |  SELECT event_type, user_id,
        |         time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) - k.k * INTERVAL '15 minutes' AS ws
        |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "eq7_token_stats" ->
      """SELECT lang,
        |  CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))) AS BIGINT) AS total_re_tokens,
        |  ROUND(AVG(len(regexp_split_to_array(trim(lower(text)), '\s+'))), 6) AS avg_ws_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "eq8_quality_score" ->
      """WITH q AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |         length(text) AS nc,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |         least(nc / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |         alpha::DOUBLE / nc AS alpha_ratio,
        |         len(list_filter(toks, t -> t IN ('the', 'a', 'data', 'value')))::DOUBLE / len(toks) AS stop_ratio
        |  FROM q)
        |SELECT doc_id, n_tokens,
        |       ROUND(alpha_ratio, 6) AS alpha_ratio,
        |       ROUND(stop_ratio, 6) AS stop_ratio,
        |       ROUND(0.4::DOUBLE * len_score + 0.4::DOUBLE * alpha_ratio
        |           + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio), 6) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,

    // eq38: per-lang tallies of the eq8 quality score at the 0.5 keep
    // threshold; quality summed as integer millionths (the 6-dp rounded
    // score ×1e6 is integer-valued → order-insensitive exact sum).
    "eq38_quality_filter" ->
      """WITH q AS (
        |  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |         length(text) AS nc,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
        |  FROM documents),
        |c AS (
        |  SELECT lang,
        |         least(nc / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |         alpha::DOUBLE / nc AS alpha_ratio,
        |         len(list_filter(toks, t -> t IN ('the', 'a', 'data', 'value')))::DOUBLE / len(toks) AS stop_ratio
        |  FROM q),
        |s AS (
        |  SELECT lang,
        |         ROUND(0.4::DOUBLE * len_score + 0.4::DOUBLE * alpha_ratio
        |             + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio), 6) AS quality
        |  FROM c)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN quality >= 0.5::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CAST(ROUND(quality * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS quality_millionths
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "eq9_lang_id" ->
      """WITH t AS (
        |  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS cnt_en,
        |    len(list_filter(toks, x -> x IN ('le', 'la', 'les', 'et', 'de'))) AS cnt_fr,
        |    len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ein'))) AS cnt_de,
        |    len(list_filter(toks, x -> x IN ('el', 'los', 'las', 'y', 'un'))) AS cnt_es,
        |    len(list_filter(toks, x -> x IN ('的', '是', '了', '在', '我'))) AS cnt_zh
        |  FROM t)
        |SELECT lang AS true_lang,
        |  CASE WHEN cnt_en >= cnt_fr AND cnt_en >= cnt_de AND cnt_en >= cnt_es AND cnt_en >= cnt_zh THEN 'en'
        |       WHEN cnt_fr >= cnt_en AND cnt_fr >= cnt_de AND cnt_fr >= cnt_es AND cnt_fr >= cnt_zh THEN 'fr'
        |       WHEN cnt_de >= cnt_en AND cnt_de >= cnt_fr AND cnt_de >= cnt_es AND cnt_de >= cnt_zh THEN 'de'
        |       WHEN cnt_es >= cnt_en AND cnt_es >= cnt_fr AND cnt_es >= cnt_de AND cnt_es >= cnt_zh THEN 'es'
        |       ELSE 'zh' END AS predicted_lang,
        |  COUNT(*) AS n
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "eq10_fingerprint" -> (s"WITH $toksCte\n" +
      """SELECT doc_id, len(sh) AS n_shingles,
        |       list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS fingerprint
        |FROM shingled ORDER BY doc_id""".stripMargin),

    "eq11_dedup_keep_first" ->
      """SELECT source, COUNT(*) AS n_kept FROM (
        |  SELECT source FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1)
        |GROUP BY source ORDER BY source""".stripMargin,

    "eq12_jaccard_pairs" -> (s"WITH $toksCte,\n$jaccardCtes\n" +
      """SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard FROM j
        |WHERE jac >= 0.2::DOUBLE ORDER BY doc_a, doc_b""".stripMargin),

    // eq123: quality×duplication profile — eq12's pair CTEs, members =
    // either side of a qualifying pair, ntile(4) per lang over
    // (n_chars, doc_id); counts + integral-div ppm, all integers.
    "eq123_quality_dup_profile" -> (s"WITH $toksCte,\n$jaccardCtes,\n" +
      """m AS (SELECT DISTINCT doc_id FROM (
        |        SELECT doc_a AS doc_id FROM j WHERE jac >= 0.2::DOUBLE
        |        UNION ALL
        |        SELECT doc_b FROM j WHERE jac >= 0.2::DOUBLE)),
        |q AS (SELECT lang, doc_id,
        |             CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS quartile
        |      FROM documents),
        |g AS (SELECT q.lang, q.quartile,
        |             COUNT(*) AS n_docs,
        |             COUNT(m.doc_id) AS n_dup_docs
        |      FROM q LEFT JOIN m ON q.doc_id = m.doc_id
        |      GROUP BY 1, 2)
        |SELECT lang, quartile,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
        |       CAST((n_dup_docs * 1000000) // n_docs AS BIGINT) AS dup_ppm
        |FROM g ORDER BY lang, quartile""".stripMargin),

    // Reconstructs the engine's SRP-LSH banding exactly (the verified-pair
    // form): the ±1 hyperplanes are spliced in as sign strings from the
    // same seeded stream the engine uses, so both engines compute identical
    // band signatures, identical hamming<=1 candidates, and identical
    // exact-cosine verification — the full approximate algorithm is
    // oracle-checked end-to-end, not just the verify step.
    "eq13_embedding_neardups" -> embeddingNeardupsSql(0.5),

    "eq15_json_props" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
        |       COUNT(DISTINCT TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // eq130: the VARIANT-typed twin of eq15 — same `$.k` values (DuckDB
    // pairs via json_extract), plus the path-hygiene probes: the missing
    // path `$.m` must be null on every row, and the uncastable
    // try_variant_get must null on every row, so both counters equal
    // n_events.
    "eq130_variant_props" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
        |       COUNT(DISTINCT TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS distinct_k,
        |       MIN(TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS k_min,
        |       MAX(TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS k_max,
        |       CAST(SUM(CASE WHEN TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.m') AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_path,
        |       COUNT(*) AS n_bad_cast
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "eq16_revenue_by_nation" ->
      """SELECT r_name, n_name, COUNT(*) AS n_items,
        |       COUNT(DISTINCT o_orderkey) AS n_orders,
        |       COUNT(DISTINCT c_custkey) AS n_customers,
        |       ROUND(SUM(l_quantity), 6) AS total_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "eq17_top_suppliers" ->
      """WITH per_supp AS (
        |  SELECT l_suppkey, SUM(l_quantity) AS total_qty, COUNT(*) AS n_items
        |  FROM lineitem GROUP BY l_suppkey),
        |ranked AS (
        |  SELECT n_name, s_suppkey, total_qty, n_items,
        |         row_number() OVER (PARTITION BY n_name
        |                            ORDER BY total_qty DESC, s_suppkey ASC) AS rank
        |  FROM per_supp
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, CAST(rank AS INT) AS rank, s_suppkey,
        |       ROUND(total_qty, 6) AS total_qty, n_items
        |FROM ranked WHERE rank <= 3
        |ORDER BY n_name, rank""".stripMargin,

    "eq18_asof_attribution" ->
      """WITH v AS (SELECT user_id, ts::TIMESTAMP AS vts FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id, user_id, ts::TIMESTAMP AS pts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |       strftime(p.pts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        |       strftime(v.vts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        |       CAST(epoch_us(p.pts) - epoch_us(v.vts) AS BIGINT) AS gap_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.vts <= p.pts
        |ORDER BY event_id""".stripMargin,

    "eq19_range_pairs" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS us FROM events)
        |SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(a.us - b.us) < 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,

    "eq20_rollup_revenue" ->
      """SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin,

    "eq21_daily_pivot" ->
      """SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
        |       CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |       CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "eq22_value_percentiles" ->
      """SELECT event_type,
        |       ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |       ROUND(quantile_cont(value, 0.99), 6) AS p99,
        |       ROUND(MIN(value), 6) AS vmin,
        |       ROUND(MAX(value), 6) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "eq23_audience_set_ops" ->
      """WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT
        |  (SELECT COUNT(*) FROM (SELECT * FROM v EXCEPT SELECT * FROM b)) AS n_view_only,
        |  (SELECT COUNT(*) FROM (SELECT * FROM v INTERSECT SELECT * FROM b)) AS n_both,
        |  (SELECT COUNT(*) FROM v WHERE user_id NOT IN (SELECT user_id FROM b)) AS n_view_only_anti,
        |  (SELECT COUNT(*) FROM (SELECT * FROM v UNION SELECT * FROM b)) AS n_any""".stripMargin,

    "eq24_daily_moving_avg" ->
      """WITH daily AS (
        |  SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, COUNT(*) AS n_events
        |  FROM events GROUP BY day)
        |SELECT day, n_events,
        |       ROUND(AVG(n_events) OVER (ORDER BY day
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7,
        |       MAX(n_events) OVER (ORDER BY day
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS peak7
        |FROM daily ORDER BY day""".stripMargin,

    "eq25_above_avg_suppliers" ->
      """WITH per_supp AS (
        |  SELECT l_suppkey, SUM(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey AS s_suppkey, ROUND(total_qty, 6) AS total_qty
        |FROM per_supp
        |WHERE total_qty > (SELECT AVG(total_qty) FROM per_supp)
        |ORDER BY s_suppkey""".stripMargin,

    "eq14_media_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       ascii(text) AS first_byte,
        |       md5(text) AS checksum,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // eq26: connected components of the eq12 near-dup pair graph — the
    // oracle computes the reachability closure with a recursive CTE and
    // labels every vertex with the min doc_id it can reach, which is
    // exactly what the engine's iterative min-label propagation converges
    // to. Closure size is Σ cluster², bounded at test scale.
    "eq26_neardup_clusters" -> (s"WITH RECURSIVE $toksCte,\n$jaccardCtes,\n" +
      """pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.2::DOUBLE),
        |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s AS src, s AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.t FROM reach r JOIN edges e ON r.dst = e.s),
        |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src)
        |SELECT cluster AS cluster_id, COUNT(*) AS n_docs,
        |       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS members
        |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin),

    // eq131: cluster-atomic leakage-safe split — the eq26 closure labels
    // every paired doc (singletons self-label), then the 80/10/10 buckets
    // hash the CLUSTER label (vs eq27's per-doc content hash as the
    // control). leaked_pairs counts near-dup pairs straddling splits,
    // once per endpoint split — 0 by construction for method=cluster.
    "eq131_cluster_split" -> (s"WITH RECURSIVE $toksCte,\n$jaccardCtes,\n" +
      s"""pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.2::DOUBLE),
        |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s AS src, s AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.t FROM reach r JOIN edges e ON r.dst = e.s),
        |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id, d.n_chars, d.text,
        |               COALESCE(l.cluster, d.doc_id) AS cluster
        |        FROM documents d LEFT JOIN labels l USING (doc_id)),
        |hc AS (SELECT doc_id, cluster, n_chars, text,
        |              substr(md5(cluster::VARCHAR), 1, 7) AS h7 FROM lab),
        |bc AS (SELECT doc_id, cluster, n_chars, text,
        |              ($hex7OfH7) % 100 AS cb FROM hc),
        |hd AS (SELECT doc_id, cluster, n_chars, cb,
        |              substr(md5(text), 1, 7) AS h7 FROM bc),
        |bd AS (SELECT doc_id, cluster, n_chars, cb,
        |              ($hex7OfH7) % 100 AS db FROM hd),
        |asg AS (
        |  SELECT doc_id, cluster, n_chars, 'cluster' AS method,
        |         CASE WHEN cb < 80 THEN 'train'
        |              WHEN cb < 90 THEN 'val' ELSE 'test' END AS split FROM bd
        |  UNION ALL
        |  SELECT doc_id, cluster, n_chars, 'dochash',
        |         CASE WHEN db < 80 THEN 'train'
        |              WHEN db < 90 THEN 'val' ELSE 'test' END FROM bd),
        |agg AS (SELECT method, split, COUNT(*) AS n_docs,
        |               COUNT(DISTINCT cluster) AS n_clusters,
        |               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |        FROM asg GROUP BY 1, 2),
        |ps AS (SELECT aa.method, aa.split AS sa, ab.split AS sb
        |       FROM pairs p
        |       JOIN asg aa ON aa.doc_id = p.doc_a
        |       JOIN asg ab ON ab.doc_id = p.doc_b AND ab.method = aa.method),
        |lk0 AS (SELECT method, sa AS split FROM ps WHERE sa <> sb
        |        UNION ALL SELECT method, sb FROM ps WHERE sa <> sb),
        |lk AS (SELECT method, split, COUNT(*) AS leaked_pairs
        |       FROM lk0 GROUP BY 1, 2)
        |SELECT agg.method, agg.split, n_docs, n_clusters, total_chars,
        |       COALESCE(leaked_pairs, 0) AS leaked_pairs
        |FROM agg LEFT JOIN lk USING (method, split)
        |ORDER BY 1, 2""".stripMargin),

    // eq136: the composed end-to-end curation pipeline — every stage is
    // the PROVEN oracle fragment of its standalone query (eq11 exact
    // dedup, eq12/eq26 pairs+closure, eq131 cluster split, eq38 quality,
    // eq29 overlap ratio, eq106 temperature rates, eq34 packing, eq129
    // encode), chained in production order; the funnel row set carries
    // conservation (n_dropped = lag(n_docs) − n_docs) so the hash compare
    // checks the whole chain, not just the terminal counts.
    "eq136_curation_pipeline" -> (s"WITH RECURSIVE $toksCte,\n$jaccardCtes,\n" +
      s"$curationChainCtes,\n" +
      bpeRoundsCtes(graft.pipeline.TextAnalysis.BpeTrainMerges, rewriteLast = true) +
      s""",
        |zenc AS (
        |  SELECT tok, len(list_filter(str_split(s, chr(31)), x -> x <> '')) AS sy_after
        |  FROM v${graft.pipeline.TextAnalysis.BpeTrainMerges}),
        |zs8 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units FROM
        |        (SELECT DISTINCT lang, cum // 2000 AS shard FROM zs8c)),
        |zst9 AS (SELECT unnest(t.t) AS tok FROM toks t JOIN zk7 USING (doc_id)),
        |zu9 AS (SELECT CAST(SUM(COALESCE(e.sy_after, length(s9.tok))) AS BIGINT) AS n_units
        |        FROM zst9 s9 LEFT JOIN zenc e ON s9.tok = e.tok
        |        WHERE length(s9.tok) >= 1),
        |zg1 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zcs),
        |zg2 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zk2),
        |zg3 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zk3),
        |zg4 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zk4),
        |zg5 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zk5),
        |zg6 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zk6),
        |zg7 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM zk7),
        |zf AS (
        |  SELECT 1 AS stage_id, 'ingest' AS stage, n, tt, tc, n AS n_units FROM zg1
        |  UNION ALL SELECT 2, 'exact_dedup', n, tt, tc, n FROM zg2
        |  UNION ALL SELECT 3, 'neardup_dedup', n, tt, tc, n FROM zg3
        |  UNION ALL SELECT 4, 'split_train', n, tt, tc, n FROM zg4
        |  UNION ALL SELECT 5, 'quality_gate', n, tt, tc, n FROM zg5
        |  UNION ALL SELECT 6, 'decontam', n, tt, tc, n FROM zg6
        |  UNION ALL SELECT 7, 'temperature_mix', n, tt, tc, n FROM zg7
        |  UNION ALL SELECT 8, 'shard_pack', zg7.n, zg7.tt, zg7.tc, zs8.n_units
        |            FROM zg7 CROSS JOIN zs8
        |  UNION ALL SELECT 9, 'bpe_encode', zg7.n, zg7.tt, zg7.tc, zu9.n_units
        |            FROM zg7 CROSS JOIN zu9)
        |SELECT stage_id, stage, n AS n_docs,
        |       CAST(COALESCE(lag(n) OVER (ORDER BY stage_id) - n, 0) AS BIGINT) AS n_dropped,
        |       tt AS total_tokens, tc AS total_chars, CAST(n_units AS BIGINT) AS n_units
        |FROM zf ORDER BY stage_id""".stripMargin),

    // eq137: incremental snapshot curation — the eq104 probe layers
    // (minhash band keys over the union, bucket-guarded old index, exact
    // Jaccard 0.5 verify, md5 hash set) composed with the eq136 chain
    // fragments (quality, CC labels, cluster-hash split, decontam ratio,
    // temperature rates, BPE encode), each restricted to its snapshot:
    // the OLD chain (doc_id % 10 < 8) reconstructed in o_* CTEs, the
    // delta batch (% 10 ∈ {8,9}) in d_* CTEs probing the o_* artifacts.
    // The old snapshot's vocabulary trains from the filtered o_toks view
    // (bpeRoundsCtes src param); merged packing appends delta after old
    // per lang (ORDER BY is_delta, doc_id) so old shard ids are the
    // eq136 ones. NOT-IN subqueries guard NULL (engine anti-joins keep
    // NULL-text docs; an unguarded NOT IN would drop them).
    "eq137_incremental_curation" -> (
      minhashKeyCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      "o_toks AS (SELECT * FROM toks WHERE doc_id % 10 < 8),\n" +
      bpeRoundsCtes(graft.pipeline.TextAnalysis.BpeTrainMerges,
        rewriteLast = true, src = "o_toks") +
      s""",
        |zenc AS (
        |  SELECT tok, len(list_filter(str_split(s, chr(31)), x -> x <> '')) AS sy_after
        |  FROM v${graft.pipeline.TextAnalysis.BpeTrainMerges}),
        |zq AS (
        |  SELECT t.doc_id, t.lang, t.source, t.text, d.n_chars,
        |         CAST(len(t.t) AS BIGINT) AS n_tokens,
        |         ROUND(0.4::DOUBLE * least(length(t.text) / 500.0::DOUBLE, 1.0::DOUBLE)
        |             + 0.4::DOUBLE * (length(regexp_replace(lower(t.text), '[^a-z]', '', 'g'))::DOUBLE / length(t.text))
        |             + 0.2::DOUBLE * (1.0::DOUBLE - (len(list_filter(t.t, x -> x IN ('the', 'a', 'data', 'value')))::DOUBLE / len(t.t))), 6) AS quality
        |  FROM toks t JOIN documents d USING (doc_id)),
        |o_ex AS (SELECT doc_id, sz, unnest(shd) AS sg FROM s WHERE doc_id % 10 < 8),
        |o_p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
        |               MAX(a.sz) AS sz_a, MAX(b.sz) AS sz_b
        |        FROM o_ex a JOIN o_ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |o_pairs AS (SELECT doc_a, doc_b FROM o_p
        |            WHERE common::DOUBLE / (sz_a + sz_b - common) >= 0.2::DOUBLE),
        |o_edges AS (SELECT doc_a AS es, doc_b AS et FROM o_pairs
        |            UNION ALL SELECT doc_b, doc_a FROM o_pairs),
        |o_reach AS (
        |  SELECT es AS src, es AS dst FROM o_edges
        |  UNION
        |  SELECT r.src, e.et FROM o_reach r JOIN o_edges e ON r.dst = e.es),
        |o_labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM o_reach GROUP BY src),
        |o_sp AS (SELECT zq.*, COALESCE(l.cluster, zq.doc_id) AS cluster
        |         FROM zq LEFT JOIN o_labels l USING (doc_id) WHERE zq.doc_id % 10 < 8),
        |o_cs AS (SELECT doc_id, lang, source, text, n_chars, n_tokens, quality, cluster,
        |                CASE WHEN cb < 80 THEN 'train'
        |                     WHEN cb < 90 THEN 'val' ELSE 'test' END AS cluster_split
        |         FROM (SELECT *, ($hex7OfH7) % 100 AS cb
        |               FROM (SELECT *, substr(md5(cluster::VARCHAR), 1, 7) AS h7 FROM o_sp))),
        |o_k2 AS (SELECT * FROM o_cs
        |         QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1),
        |o_k3 AS (SELECT * FROM o_k2
        |         QUALIFY row_number() OVER (PARTITION BY cluster
        |                                    ORDER BY quality DESC NULLS LAST, doc_id ASC) = 1),
        |o_k4 AS (SELECT * FROM o_k3 WHERE cluster_split = 'train'),
        |o_k5 AS (SELECT * FROM o_k4 WHERE quality >= 0.5::DOUBLE),
        |o_tv AS (SELECT DISTINCT unnest(g.sh) AS sg
        |         FROM shingled g JOIN o_cs USING (doc_id) WHERE o_cs.cluster_split = 'test'),
        |o_k5s AS (SELECT z.doc_id, list_distinct(g.sh) AS shd
        |          FROM o_k5 z JOIN shingled g USING (doc_id)),
        |o_te AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg
        |         FROM o_k5s WHERE len(shd) > 0),
        |o_con AS (SELECT doc_id FROM (
        |            SELECT o_te.doc_id, o_te.sz, COUNT(o_tv.sg) AS n_hit
        |            FROM o_te LEFT JOIN o_tv ON o_te.sg = o_tv.sg
        |            GROUP BY 1, 2)
        |          WHERE n_hit::DOUBLE / sz > 0.2::DOUBLE),
        |o_k6 AS (SELECT * FROM o_k5 WHERE doc_id NOT IN (SELECT doc_id FROM o_con)),
        |o_c7 AS (SELECT lang, COUNT(*) AS ln_docs FROM o_k6 GROUP BY 1),
        |o_t7 AS (SELECT CAST(SUM(ln_docs) AS BIGINT) AS n_total FROM o_c7),
        |o_w7 AS (SELECT lang, ln_docs, n_total,
        |                CAST(ROUND(POWER(ln_docs::DOUBLE / n_total::DOUBLE, 0.3)
        |                           * 1000000.0) AS BIGINT) AS w_micro
        |         FROM o_c7 CROSS JOIN o_t7),
        |o_ws7 AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_sum FROM o_w7),
        |o_r7 AS (SELECT lang,
        |                CAST(LEAST(1000000::HUGEINT,
        |                      (CAST(w_micro AS HUGEINT) * (n_total // 2) * 1000000) // (CAST(w_sum AS HUGEINT) * ln_docs)) AS BIGINT) AS rate_ppm
        |         FROM o_w7 CROSS JOIN o_ws7),
        |o_h7 AS (SELECT z.doc_id, z.lang, z.n_chars, z.n_tokens,
        |                substr(md5(z.text), 1, 7) AS h7, r.rate_ppm
        |         FROM o_k6 z JOIN o_r7 r USING (lang)),
        |o_k7 AS (SELECT doc_id, lang, n_chars, n_tokens FROM o_h7
        |         WHERE ($hex7OfH7) % 1000000 < rate_ppm),
        |d_ex AS (SELECT doc_id, sz, unnest(shd) AS sg FROM s WHERE doc_id % 10 >= 8),
        |d_p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
        |               MAX(a.sz) AS sz_a, MAX(b.sz) AS sz_b
        |        FROM d_ex a JOIN d_ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |d_pairs AS (SELECT doc_a, doc_b FROM d_p
        |            WHERE common::DOUBLE / (sz_a + sz_b - common) >= 0.2::DOUBLE),
        |d_edges AS (SELECT doc_a AS es, doc_b AS et FROM d_pairs
        |            UNION ALL SELECT doc_b, doc_a FROM d_pairs),
        |d_reach AS (
        |  SELECT es AS src, es AS dst FROM d_edges
        |  UNION
        |  SELECT r.src, e.et FROM d_reach r JOIN d_edges e ON r.dst = e.es),
        |d_labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM d_reach GROUP BY src),
        |d_sp AS (SELECT zq.*, COALESCE(l.cluster, zq.doc_id) AS cluster
        |         FROM zq LEFT JOIN d_labels l USING (doc_id) WHERE zq.doc_id % 10 >= 8),
        |d_cs AS (SELECT doc_id, lang, source, text, n_chars, n_tokens, quality, cluster,
        |                CASE WHEN cb < 80 THEN 'train'
        |                     WHEN cb < 90 THEN 'val' ELSE 'test' END AS cluster_split
        |         FROM (SELECT *, ($hex7OfH7) % 100 AS cb
        |               FROM (SELECT *, substr(md5(cluster::VARCHAR), 1, 7) AS h7 FROM d_sp))),
        |oldh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
        |d_k2 AS (SELECT * FROM d_cs
        |         QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1),
        |d_k2b AS (SELECT * FROM d_k2
        |          WHERE md5(text) IS NULL
        |             OR md5(text) NOT IN (SELECT h FROM oldh WHERE h IS NOT NULL)),
        |old_keys AS (SELECT * FROM keys WHERE doc_id % 10 < 8),
        |new_keys AS (SELECT * FROM keys WHERE doc_id % 10 >= 8),
        |okb AS (SELECT band, band_key FROM old_keys GROUP BY 1, 2 HAVING COUNT(*) <= 50),
        |po AS (SELECT k.doc_id, k.band, k.band_key
        |       FROM old_keys k JOIN okb USING (band, band_key)),
        |ncand AS (
        |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        |  FROM new_keys n JOIN po o ON n.band = o.band AND n.band_key = o.band_key),
        |nver AS (
        |  SELECT new_id, len(list_intersect(a.shd, b.shd)) AS common,
        |         a.sz AS sz_n, b.sz AS sz_o
        |  FROM ncand JOIN s a ON a.doc_id = ncand.new_id
        |             JOIN s b ON b.doc_id = ncand.old_id),
        |nnear AS (SELECT DISTINCT new_id FROM nver
        |          WHERE common::DOUBLE / (sz_n + sz_o - common) >= 0.5::DOUBLE),
        |d_k3 AS (SELECT * FROM d_k2b WHERE doc_id NOT IN (SELECT new_id FROM nnear)),
        |d_k4 AS (SELECT * FROM d_k3
        |         QUALIFY row_number() OVER (PARTITION BY cluster
        |                                    ORDER BY quality DESC NULLS LAST, doc_id ASC) = 1),
        |d_k5 AS (SELECT * FROM d_k4 WHERE cluster_split = 'train'),
        |d_k6 AS (SELECT * FROM d_k5 WHERE quality >= 0.5::DOUBLE),
        |d_k6s AS (SELECT z.doc_id, list_distinct(g.sh) AS shd
        |          FROM d_k6 z JOIN shingled g USING (doc_id)),
        |d_te AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg
        |         FROM d_k6s WHERE len(shd) > 0),
        |d_con AS (SELECT doc_id FROM (
        |            SELECT d_te.doc_id, d_te.sz, COUNT(o_tv.sg) AS n_hit
        |            FROM d_te LEFT JOIN o_tv ON d_te.sg = o_tv.sg
        |            GROUP BY 1, 2)
        |          WHERE n_hit::DOUBLE / sz > 0.2::DOUBLE),
        |d_k7 AS (SELECT * FROM d_k6 WHERE doc_id NOT IN (SELECT doc_id FROM d_con)),
        |d_h8 AS (SELECT z.doc_id, z.lang, z.n_chars, z.n_tokens,
        |                substr(md5(z.text), 1, 7) AS h7, r.rate_ppm
        |         FROM d_k7 z LEFT JOIN o_r7 r USING (lang)),
        |d_k8 AS (SELECT doc_id, lang, n_chars, n_tokens FROM d_h8
        |         WHERE ($hex7OfH7) % 1000000 < COALESCE(rate_ppm, 1000000)),
        |d_st AS (SELECT unnest(t.t) AS tok FROM toks t JOIN d_k8 USING (doc_id)),
        |d_u9 AS (SELECT CAST(SUM(COALESCE(e.sy_after, length(s9.tok))) AS BIGINT) AS n_units
        |         FROM d_st s9 LEFT JOIN zenc e ON s9.tok = e.tok
        |         WHERE length(s9.tok) >= 1),
        |mm AS (SELECT lang, doc_id, n_tokens, n_chars, 0 AS is_delta FROM o_k7
        |       UNION ALL SELECT lang, doc_id, n_tokens, n_chars, 1 FROM d_k8),
        |mmc AS (SELECT lang, doc_id, n_tokens,
        |               COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY is_delta, doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |        FROM mm),
        |mms AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units FROM
        |        (SELECT DISTINCT lang, cum // 2000 AS shard FROM mmc)),
        |-- ::finals::
        |mmg AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |               CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM mm),
        |g1 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_cs),
        |g2 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k2b),
        |g3 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k3),
        |g4 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k4),
        |g5 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k5),
        |g6 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k6),
        |g7 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k7),
        |g8 AS (SELECT COUNT(*) AS n, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tt,
        |              CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS tc FROM d_k8),
        |zf AS (
        |  SELECT 1 AS stage_id, 'delta_ingest' AS stage, n, tt, tc, n AS n_units FROM g1
        |  UNION ALL SELECT 2, 'delta_exact', n, tt, tc, n FROM g2
        |  UNION ALL SELECT 3, 'delta_near_corpus', n, tt, tc, n FROM g3
        |  UNION ALL SELECT 4, 'delta_near_self', n, tt, tc, n FROM g4
        |  UNION ALL SELECT 5, 'delta_split_train', n, tt, tc, n FROM g5
        |  UNION ALL SELECT 6, 'delta_quality_gate', n, tt, tc, n FROM g6
        |  UNION ALL SELECT 7, 'delta_decontam', n, tt, tc, n FROM g7
        |  UNION ALL SELECT 8, 'delta_mix_frozen', n, tt, tc, n FROM g8
        |  UNION ALL SELECT 9, 'delta_encode', g8.n, g8.tt, g8.tc, d_u9.n_units
        |            FROM g8 CROSS JOIN d_u9
        |  UNION ALL SELECT 10, 'merged_corpus', mmg.n, mmg.tt, mmg.tc, mms.n_units
        |            FROM mmg CROSS JOIN mms)
        |SELECT stage_id, stage, n AS n_docs,
        |       CAST(CASE WHEN stage_id = 10 THEN 0
        |            ELSE COALESCE(lag(n) OVER (ORDER BY stage_id) - n, 0) END AS BIGINT) AS n_dropped,
        |       tt AS total_tokens, tc AS total_chars, CAST(n_units AS BIGINT) AS n_units
        |FROM zf ORDER BY stage_id""".stripMargin),

    // eq138: write-path read-back audit for the curated product — the
    // engine writes curatedDocs lang-partitioned + doc_id-bucketed to an
    // at-rest table and summarizes the READ-BACK; the oracle recomputes
    // the same per-lang audit from the raw documents through the SHARED
    // eq136 chain CTEs (zs8c carries the packing prefix sums — cum // 2000
    // is the shard id). Any row lost, duplicated, or mangled across
    // write → partition/bucket layout → catalog read breaks the id
    // checksum or a count.
    "eq138_curated_layout" -> (s"WITH RECURSIVE $toksCte,\n$jaccardCtes,\n" +
      s"$curationChainCtes\n" +
      s"""SELECT lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT cum // 2000) AS BIGINT) AS n_shards,
        |       CAST(MAX(cum // 2000) AS BIGINT) AS max_shard,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM zs8c GROUP BY lang ORDER BY lang""".stripMargin),

    // eq27: content-hash split — same 28-bit md5-prefix key as x1,
    // bucket = key % 100, 80/10/10.
    "eq27_hash_split" ->
      s"""WITH h AS (SELECT lang, n_chars, substr(md5(text), 1, 7) AS h7 FROM documents),
        |b AS (SELECT lang, n_chars, ($hex7OfH7) % 100 AS bucket FROM h),
        |s AS (SELECT CASE WHEN bucket < 80 THEN 'train'
        |                  WHEN bucket < 90 THEN 'val'
        |                  ELSE 'test' END AS split, lang, n_chars FROM b)
        |SELECT split, lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // eq28: tf-idf with the ratio idf (N+1)/(df+1) — log is monotone so the
    // ranking matches the textbook form, and ×/÷ are IEEE-exact in both
    // engines while libm log is not guaranteed correctly rounded.
    "eq28_tfidf_top_terms" -> (s"WITH $toksCte,\n" +
      """tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |tfa AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |dfa AS (SELECT tok, COUNT(*) AS df FROM tfa GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (
        |  SELECT doc_id, tok, tf, df,
        |         ROUND(tf * ((n.n + 1.0::DOUBLE) / (df + 1.0::DOUBLE)), 6) AS score
        |  FROM tfa JOIN dfa USING (tok) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, tok ASC) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, tok, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // eq29: per-test-doc train-shingle overlap — split assignment via the
    // same md5 % 100 buckets as eq27, shingle sets as in eq12.
    "eq29_contamination" -> (s"WITH $toksCte,\n" +
      s"""sp AS (SELECT doc_id, substr(md5(text), 1, 7) AS h7, sh FROM shingled),
        |b AS (SELECT doc_id, sh, ($hex7OfH7) % 100 AS bucket FROM sp),
        |s AS (SELECT doc_id, list_distinct(sh) AS shd,
        |        CASE WHEN bucket < 80 THEN 'train'
        |             WHEN bucket < 90 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM b),
        |tv AS (SELECT DISTINCT unnest(shd) AS sg FROM s WHERE split = 'train'),
        |te AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg
        |       FROM s WHERE split = 'test' AND len(shd) > 0),
        |m AS (SELECT te.doc_id, te.sz, COUNT(tv.sg) AS n_contaminated
        |      FROM te LEFT JOIN tv ON te.sg = tv.sg GROUP BY 1, 2)
        |SELECT doc_id, sz AS n_shingles, n_contaminated,
        |       ROUND(n_contaminated::DOUBLE / sz, 6) AS contamination
        |FROM m ORDER BY doc_id""".stripMargin),

    // eq122: decontamination blast radius — the eq29 split/shingle CTEs,
    // then test→train shingle join counted two ways (distinct leaked
    // shingles, distinct train docs touched) plus the hottest leaked
    // shingle's train df. Top-20 by touch count, doc_id tie-break.
    "eq122_decontam_blast" -> (s"WITH $toksCte,\n" +
      s"""sp AS (SELECT doc_id, substr(md5(text), 1, 7) AS h7, sh FROM shingled),
        |b AS (SELECT doc_id, sh, ($hex7OfH7) % 100 AS bucket FROM sp),
        |s AS (SELECT doc_id, list_distinct(sh) AS shd,
        |        CASE WHEN bucket < 80 THEN 'train'
        |             WHEN bucket < 90 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM b),
        |tr AS (SELECT doc_id AS train_id, unnest(shd) AS sg FROM s WHERE split = 'train'),
        |te AS (SELECT doc_id, unnest(shd) AS sg FROM s WHERE split = 'test' AND len(shd) > 0),
        |dfq AS (SELECT sg, COUNT(*) AS train_df FROM tr GROUP BY 1),
        |hits AS (SELECT te.doc_id, te.sg, tr.train_id FROM te JOIN tr ON te.sg = tr.sg),
        |perdoc AS (SELECT doc_id,
        |             COUNT(DISTINCT sg) AS n_leaked_shingles,
        |             COUNT(DISTINCT train_id) AS n_train_docs_hit
        |           FROM hits GROUP BY 1),
        |mx AS (SELECT te.doc_id, MAX(dfq.train_df) AS max_train_df
        |       FROM te JOIN dfq ON te.sg = dfq.sg GROUP BY 1)
        |SELECT p.doc_id,
        |       CAST(p.n_leaked_shingles AS BIGINT) AS n_leaked_shingles,
        |       CAST(p.n_train_docs_hit AS BIGINT) AS n_train_docs_hit,
        |       CAST(mx.max_train_df AS BIGINT) AS max_train_df
        |FROM perdoc p JOIN mx ON p.doc_id = mx.doc_id
        |ORDER BY p.n_train_docs_hit DESC, p.doc_id LIMIT 20""".stripMargin),

    // eq30: per-doc total vs distinct shingle occurrences (repetition).
    "eq30_repetition_stats" -> (s"WITH $toksCte\n" +
      """SELECT doc_id, lang,
        |       len(sh) AS n_shingles,
        |       len(list_distinct(sh)) AS n_distinct,
        |       ROUND((len(sh) - len(list_distinct(sh)))::DOUBLE / len(sh), 6) AS dup_ratio
        |FROM shingled WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin),

    // eq37: winnowing fingerprint selection — per-doc window-min over the
    // 28-bit md5 shingle keys; the frame clamps at the partition end in
    // both engines, so short docs keep their global min. The window size
    // is spliced from the engine constant (the eq31/x1 convention).
    "eq37_winnow_fingerprints" -> {
      val w = graft.pipeline.TextAnalysis.WinnowWindow
      s"WITH $toksCte,\n" +
      s"""e AS (SELECT doc_id, len(sh) AS n,
        |             unnest(sh) AS sg, unnest(range(0, len(sh))) AS pos
        |      FROM shingled WHERE len(sh) > 0),
        |h AS (SELECT doc_id, n, pos, substr(md5(sg), 1, 7) AS h7 FROM e),
        |k AS (SELECT doc_id, n, pos, ($hex7OfH7) AS k FROM h),
        |m AS (SELECT doc_id, n, pos,
        |             MIN(k) OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS minv
        |      FROM k)
        |SELECT DISTINCT doc_id, minv AS fp FROM m
        |WHERE pos <= greatest(n - $w, 0)
        |ORDER BY doc_id, fp""".stripMargin
    },

    // eq31: content-keyed stratified sampling — same 28-bit md5-prefix key
    // as eq27/x1, per-mille rates spliced from the engine constant.
    "eq31_stratified_sample" -> {
      val rateCase = graft.pipeline.CorpusOps.SampleRatePerMille
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
      s"""WITH h AS (SELECT lang, source, n_chars, substr(md5(text), 1, 7) AS h7
        |           FROM documents),
        |k AS (SELECT lang, source, n_chars,
        |             ($hex7OfH7) % 1000 AS key,
        |             CASE $rateCase ELSE 0 END AS rate
        |      FROM h)
        |SELECT lang, source, COUNT(*) AS n_kept,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM k WHERE key < rate
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // eq32: token-window chunking — the shared chunk chain, one row per
    // chunk with its token count and content md5.
    "eq32_doc_chunks" -> (s"WITH $chunkCtes\n" +
      """SELECT doc_id, chunk_id, n_chunk_tokens, chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // eq33: corpus trigram heavy hitters — top 20 by total occurrences,
    // shingle-string tie-break.
    "eq33_trigram_topk" -> (s"WITH $toksCte,\n" +
      """ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled)
        |SELECT shingle, COUNT(*) AS n_occurrences,
        |       COUNT(DISTINCT doc_id) AS n_docs
        |FROM ex GROUP BY shingle
        |ORDER BY n_occurrences DESC, shingle ASC LIMIT 20""".stripMargin),

    // eq34: token-budget shard packing — exclusive prefix sum of per-doc
    // whitespace token counts in (lang, doc_id) order, shard = cum // 2000.
    "eq34_pack_shards" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT lang, CAST(cum // 2000 AS BIGINT) AS shard_id, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // eq35: per-lang p05/p95 length trimming — quantile_cont ≡ Spark exact
    // percentile; classification against the UNROUNDED bounds, rounding is
    // display-only (matches the engine).
    "eq35_length_trim" ->
      """WITH b AS (
        |  SELECT lang, quantile_cont(n_chars, 0.05) AS p05,
        |         quantile_cont(n_chars, 0.95) AS p95
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, ROUND(b.p05, 6) AS p05, ROUND(b.p95, 6) AS p95,
        |       CAST(SUM(CASE WHEN d.n_chars < b.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |       CAST(SUM(CASE WHEN d.n_chars >= b.p05 AND d.n_chars <= b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN d.n_chars > b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
        |FROM documents d JOIN b ON d.lang = b.lang
        |GROUP BY d.lang, b.p05, b.p95 ORDER BY d.lang""".stripMargin,

    // eq36: per-label embedding centroids — float components scaled to
    // exact integers (round(x·1e6) as BIGINT) before summing, so the sum
    // is order-insensitive; one row per (label, dimension).
    "eq36_label_centroids" ->
      """WITH ex AS (
        |  SELECT label, unnest(range(0, len(embedding))) AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |s AS (
        |  SELECT label, CAST(pos AS INT) AS pos,
        |         CAST(ROUND(x * 1000000.0::DOUBLE) AS BIGINT) AS v
        |  FROM ex)
        |SELECT label, pos, COUNT(*) AS n_vecs,
        |       CAST(SUM(v) AS BIGINT) AS sum_scaled,
        |       ROUND(CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1000000.0::DOUBLE), 6) AS mean
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // eq39: cross-doc chunk-level dedup — the shared eq32 chunk chain,
    // then keep-first on chunk md5 in (doc_id, chunk_id) order.
    "eq39_chunk_dedup" -> (s"WITH $chunkCtes,\n" +
      """r AS (SELECT doc_id,
        |             row_number() OVER (PARTITION BY chunk_md5
        |                                ORDER BY doc_id, chunk_id) AS rn
        |      FROM c)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // eq40: OOV rate vs the corpus top-K vocabulary (count DESC, token ASC
    // tie-break at the cut); integer tallies, one final division.
    "eq40_vocab_coverage" -> {
      val k = graft.pipeline.CorpusOps.VocabSize
      s"""WITH tk AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token
        |  ORDER BY cnt DESC, token ASC LIMIT $k)),
        |j AS (SELECT tk.lang, CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END AS iv
        |      FROM tk LEFT JOIN v ON tk.token = v.token)
        |SELECT lang, COUNT(*) AS total_tokens,
        |       CAST(SUM(iv) AS BIGINT) AS in_vocab_tokens,
        |       ROUND(1.0::DOUBLE - CAST(SUM(iv) AS DOUBLE) / COUNT(*), 6) AS oov_rate
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin
    },

    // eq41: SemDeDup within-cluster pruning — pairwise cosine only inside
    // a label cluster, threshold compared on UNROUNDED sims (dots fold in
    // the same element order in both engines), integer-only output.
    "eq41_semantic_dedup" -> {
      val t = graft.pipeline.Similarity.SemanticThreshold
      s"""WITH un AS (
        |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id),
        |s AS (SELECT label, vec_a, vec_b,
        |             SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0) AS sim
        |      FROM un GROUP BY 1, 2, 3),
        |d AS (SELECT label, vec_b FROM s WHERE sim >= $t::DOUBLE),
        |g AS (SELECT label, COUNT(*) AS n_dup_pairs,
        |             COUNT(DISTINCT vec_b) AS n_dropped
        |      FROM d GROUP BY label),
        |m AS (SELECT label, COUNT(*) AS n_members FROM embeddings GROUP BY label)
        |SELECT m.label, m.n_members,
        |       COALESCE(g.n_dup_pairs, 0) AS n_dup_pairs,
        |       COALESCE(g.n_dropped, 0) AS n_dropped
        |FROM m LEFT JOIN g ON m.label = g.label ORDER BY m.label""".stripMargin
    },

    // eq128: SemDeDup giant-cluster guard — eq41's within-cluster pairing
    // with clusters above the cap sub-sharded by the FIRST 8-bit SRP band
    // (planes spliced as sign strings, the eq13 reconstruction; the
    // engine's hyperplanes(dim, 8) is the same prefix of the seeded
    // stream). Shard = sig + 1 for oversized clusters, 0 otherwise, so
    // within-cap labels reproduce eq41's counts exactly.
    "eq128_semantic_dedup_sharded" -> {
      val t = graft.pipeline.Similarity.SemanticThreshold
      val cap = graft.pipeline.Similarity.SemanticShardCap
      val values = hyperplaneValues(8)
      s"""WITH pl AS (
        |  SELECT pid AS bit,
        |         list_transform(range(1, len(bits) + 1),
        |           i -> CASE WHEN substr(bits, i::INT, 1) = '+'
        |                THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS h
        |  FROM (VALUES $values) AS t(pid, bits)),
        |dots AS (
        |  SELECT vec_id, bit, SUM(x * y) AS d FROM (
        |    SELECT e.vec_id, pl.bit,
        |           unnest(e.embedding)::DOUBLE AS x, unnest(pl.h) AS y
        |    FROM embeddings e CROSS JOIN pl)
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT vec_id,
        |         CAST(SUM(CASE WHEN d > 0 THEN 1 << bit ELSE 0 END) AS INT) AS sig
        |  FROM dots GROUP BY 1),
        |sz AS (SELECT label, COUNT(*) AS n_members FROM embeddings GROUP BY label),
        |mm AS (
        |  SELECT e.vec_id, e.label, e.embedding,
        |         CASE WHEN sz.n_members > $cap THEN s.sig + 1 ELSE 0 END AS shard
        |  FROM embeddings e
        |  JOIN sz USING (label)
        |  JOIN sig s ON s.vec_id = e.vec_id),
        |un AS (
        |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
        |  FROM mm a JOIN mm b
        |    ON a.label = b.label AND a.shard = b.shard AND a.vec_id < b.vec_id),
        |s2 AS (SELECT label, vec_a, vec_b,
        |              SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0) AS sim
        |       FROM un GROUP BY 1, 2, 3),
        |d AS (SELECT label, vec_b FROM s2 WHERE sim >= $t::DOUBLE),
        |g AS (SELECT label, COUNT(*) AS n_dup_pairs,
        |             COUNT(DISTINCT vec_b) AS n_dropped
        |      FROM d GROUP BY label)
        |SELECT sz.label, sz.n_members,
        |       COALESCE(g.n_dup_pairs, 0) AS n_dup_pairs,
        |       COALESCE(g.n_dropped, 0) AS n_dropped
        |FROM sz LEFT JOIN g ON sz.label = g.label ORDER BY sz.label""".stripMargin
    },

    // eq42: per-source shingle novelty — global first occurrence by min
    // doc_id, integer tallies per source, one division.
    "eq42_novelty_rate" -> (s"WITH $toksCte,\n" +
      """d AS (SELECT doc_id, source, unnest(list_distinct(sh)) AS sg FROM shingled),
        |f AS (SELECT sg, MIN(doc_id) AS first_doc FROM d GROUP BY sg)
        |SELECT source, COUNT(*) AS total_shingles,
        |       CAST(SUM(CASE WHEN d.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS novel_shingles,
        |       ROUND(CAST(SUM(CASE WHEN d.doc_id = f.first_doc THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 6) AS novelty_rate
        |FROM d JOIN f USING (sg) GROUP BY source ORDER BY source""".stripMargin),

    // eq43: directional containment pairs |A∩B|/|A| over distinct shingle
    // sets — threshold on the unrounded ratio, both directions emitted.
    "eq43_containment_pairs" -> {
      val t = graft.pipeline.Dedup.ContainmentThreshold
      s"WITH $toksCte,\n" +
      s"""s AS (SELECT doc_id, list_distinct(sh) AS shd FROM shingled),
        |ex AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg FROM s WHERE len(shd) > 0),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
        |             MAX(a.sz) AS sz_a
        |      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2),
        |c AS (SELECT doc_a, doc_b, common::DOUBLE / sz_a AS ct FROM p)
        |SELECT doc_a, doc_b, ROUND(ct, 6) AS containment FROM c
        |WHERE ct >= $t::DOUBLE ORDER BY doc_a, doc_b""".stripMargin
    },

    // eq44: weight-proportional deterministic sampling — 28-bit md5 residue
    // vs min(denom, n_chars), integer arithmetic end to end.
    "eq44_weighted_sample" -> {
      val denom = graft.pipeline.CorpusOps.WeightDenom
      s"""WITH h AS (SELECT lang, n_chars, substr(md5(text), 1, 7) AS h7 FROM documents),
        |k AS (SELECT lang, n_chars,
        |             ($hex7OfH7) % $denom AS key,
        |             CASE WHEN n_chars < $denom THEN n_chars ELSE $denom END AS w
        |      FROM h)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN key < w THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN key < w THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },

    // eq50: byte-window payload chunking — 64-byte windows over the binary
    // payload. DuckDB 1.0 has no BLOB substring, so the oracle windows the
    // VARCHAR source instead: the fixture payloads are pure ASCII, so char
    // windows and byte windows see identical bytes (and identical md5s).
    "eq50_payload_chunks" -> {
      val w = graft.pipeline.Multimodal.PayloadWindow
      s"""WITH b AS (
        |  SELECT doc_id, text AS s, octet_length(encode(text)) AS n
        |  FROM documents),
        |nc AS (SELECT doc_id, s, (n + ${w - 1}) // $w AS n_chunks FROM b WHERE n > 0),
        |ch AS (SELECT doc_id, s, unnest(range(0, n_chunks)) AS i FROM nc),
        |wnd AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |               substring(s, (i * $w + 1)::BIGINT, $w) AS ws
        |        FROM ch)
        |SELECT doc_id, chunk_id,
        |       CAST(length(ws) AS INT) AS n_window_bytes,
        |       md5(ws) AS window_md5
        |FROM wnd ORDER BY doc_id, chunk_id""".stripMargin
    },

    // eq51: per-language quality top-k — eq8's quality CTE, row_number
    // cut at k with the (quality DESC, doc_id ASC) tie-break; NULLS LAST
    // written explicitly (Spark's desc default) though no fixture doc is
    // degenerate.
    "eq51_quality_topk" -> {
      val k = graft.pipeline.TextAnalysis.QualityTopK
      s"""WITH q AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
        |         length(text) AS nc,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |         least(nc / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |         alpha::DOUBLE / nc AS alpha_ratio,
        |         len(list_filter(toks, t -> t IN ('the', 'a', 'data', 'value')))::DOUBLE / len(toks) AS stop_ratio
        |  FROM q),
        |s AS (
        |  SELECT doc_id, lang,
        |         ROUND(0.4::DOUBLE * len_score + 0.4::DOUBLE * alpha_ratio
        |             + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio), 6) AS quality
        |  FROM c),
        |r AS (
        |  SELECT lang, doc_id, quality,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY quality DESC NULLS LAST, doc_id ASC) AS INT) AS rank
        |  FROM s)
        |SELECT lang, doc_id, quality, rank FROM r
        |WHERE rank <= $k ORDER BY lang, rank""".stripMargin
    },

    // eq52: label-centroid affinity — eq36's scaled-integer centroids
    // quantized to integer micro-units (cosine is scale-invariant, so the
    // quantized vectors stand in for the means exactly); dots and norms
    // are BIGINT sums, one final divide-and-round per pair.
    "eq52_centroid_affinity" ->
      """WITH ex AS (
        |  SELECT label, unnest(range(0, len(embedding))) AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |s AS (SELECT label, CAST(pos AS INT) AS pos,
        |             CAST(ROUND(x * 1000000.0::DOUBLE) AS BIGINT) AS v
        |      FROM ex),
        |cen AS (SELECT label, pos, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |        FROM s GROUP BY 1, 2),
        |mi AS (SELECT label, pos,
        |              CAST(ROUND(ROUND(CAST(sv AS DOUBLE) / (n * 1000000.0::DOUBLE), 6)
        |                         * 1000000.0::DOUBLE) AS BIGINT) AS mi
        |       FROM cen),
        |nrm AS (SELECT label, CAST(SUM(mi * mi) AS BIGINT) AS nrm FROM mi GROUP BY 1),
        |d AS (SELECT a.label AS label_a, b.label AS label_b,
        |             CAST(SUM(a.mi * b.mi) AS BIGINT) AS dot
        |      FROM mi a JOIN mi b ON a.pos = b.pos AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT d.label_a, d.label_b,
        |       ROUND(CAST(dot AS DOUBLE)
        |             / NULLIF(SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE)), 0), 6) AS cos_sim
        |FROM d JOIN nrm na ON d.label_a = na.label
        |       JOIN nrm nb ON d.label_b = nb.label
        |ORDER BY label_a, label_b""".stripMargin,

    // eq53: per-user inter-event gaps — lag over (ts, event_id), exact
    // integer microsecond gaps, seconds rendered at 6 dp. DuckDB orders by
    // nano-precision ts where Spark sees micros, but ties after truncation
    // produce identical gap multisets either way.
    // eq125: burstiness (Fano factor) per event type — per-minute counts
    // over the observed span; fano in exact BIGINT ppm (numerator
    // non-negative by Cauchy–Schwarz, so // and Spark's div agree), one
    // double division at the end (the eq53 rounding discipline).
    "eq125_burstiness" ->
      """WITH m AS (
        |  SELECT event_type, epoch_us(ts::TIMESTAMP) // 60000000 AS minute
        |  FROM events),
        |p AS (SELECT event_type, minute, COUNT(*) AS x FROM m GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type,
        |         CAST(MAX(minute) - MIN(minute) + 1 AS BIGINT) AS span_minutes,
        |         CAST(SUM(x) AS BIGINT) AS n_events,
        |         CAST(SUM(x * x) AS BIGINT) AS sx2
        |  FROM p GROUP BY 1)
        |SELECT event_type, span_minutes, n_events,
        |       ROUND(CAST((n_events * 1000000) // span_minutes AS DOUBLE) / 1000000.0::DOUBLE, 6) AS mean_per_min,
        |       ROUND(CAST(((span_minutes * sx2 - n_events * n_events) * 1000000)
        |                  // (span_minutes * n_events) AS DOUBLE) / 1000000.0::DOUBLE, 6) AS fano
        |FROM a ORDER BY event_type""".stripMargin,

    "eq53_interevent_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts::TIMESTAMP)
        |           - epoch_us((lag(ts) OVER (PARTITION BY user_id
        |                                     ORDER BY ts, event_id))::TIMESTAMP) AS gap_us
        |  FROM events),
        |f AS (SELECT user_id, gap_us FROM g WHERE gap_us IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |       ROUND(CAST(SUM(gap_us) // COUNT(*) AS DOUBLE) / 1000000.0::DOUBLE, 6) AS avg_gap_s,
        |       ROUND(MIN(gap_us) / 1000000.0::DOUBLE, 6) AS min_gap_s,
        |       ROUND(MAX(gap_us) / 1000000.0::DOUBLE, 6) AS max_gap_s
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,

    // eq54: curation funnel — quality (eq8 formula, eq38 threshold),
    // repetition (eq30 formula, threshold spliced from the engine
    // constant; shingle-less docs fail via NULL), then the eq35 unrounded
    // p05–p95 length band; sequential survivor counts per language.
    "eq54_curation_funnel" -> {
      val r = graft.pipeline.CorpusOps.RepMaxDupRatio
      s"WITH $toksCte,\n" +
      s"""q AS (
        |  SELECT doc_id, lang, n_chars, t AS toks, sh,
        |         length(text) AS nc,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
        |  FROM shingled JOIN documents USING (doc_id, lang, text)),
        |c AS (
        |  SELECT doc_id, lang, n_chars,
        |         ROUND(0.4::DOUBLE * least(nc / 500.0::DOUBLE, 1.0::DOUBLE)
        |             + 0.4::DOUBLE * (alpha::DOUBLE / nc)
        |             + 0.2::DOUBLE * (1.0::DOUBLE
        |                 - len(list_filter(toks, t -> t IN ('the', 'a', 'data', 'value')))::DOUBLE / len(toks)), 6) AS quality,
        |         CASE WHEN len(sh) > 0
        |              THEN ROUND((len(sh) - len(list_distinct(sh)))::DOUBLE / len(sh), 6)
        |         END AS dup_ratio
        |  FROM q),
        |b AS (
        |  SELECT lang, quantile_cont(n_chars, 0.05) AS p05,
        |         quantile_cont(n_chars, 0.95) AS p95
        |  FROM documents GROUP BY lang),
        |f AS (
        |  SELECT c.lang,
        |         CASE WHEN quality >= 0.5::DOUBLE THEN 1 ELSE 0 END AS qp,
        |         CASE WHEN quality >= 0.5::DOUBLE AND dup_ratio <= $r::DOUBLE
        |              THEN 1 ELSE 0 END AS rp,
        |         CASE WHEN quality >= 0.5::DOUBLE AND dup_ratio <= $r::DOUBLE
        |                   AND n_chars >= p05 AND n_chars <= p95
        |              THEN 1 ELSE 0 END AS lp
        |  FROM c JOIN b ON c.lang = b.lang)
        |SELECT lang, COUNT(*) AS n_total,
        |       CAST(SUM(qp) AS BIGINT) AS n_quality,
        |       CAST(SUM(rp) AS BIGINT) AS n_low_repetition,
        |       CAST(SUM(lp) AS BIGINT) AS n_released
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin
    },

    // eq55: ORC round-trip — the engine writes documents metadata as
    // lang-partitioned ORC and re-reads it; the oracle summarizes the
    // ORIGINAL parquet, so the compare proves no row was lost or mangled
    // in transit.
    "eq55_orc_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // eq56: PMI collocations — exact unigram/bigram tallies, low-count
    // guard and k spliced from the engine constants, one fixed-shape ln
    // per survivor, (pmi DESC, bigram ASC) cut.
    "eq56_pmi_bigrams" -> {
      val m = graft.pipeline.CorpusOps.PmiMinCount
      val k = graft.pipeline.CorpusOps.PmiTopK
      s"""WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        |  FROM documents),
        |uni AS (SELECT token, COUNT(*) AS c FROM tk GROUP BY token),
        |nt AS (SELECT SUM(c) AS n_tok FROM uni),
        |tt AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
        |bgl AS (SELECT CASE WHEN len(t) >= 2
        |               THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |               ELSE []::VARCHAR[] END AS bgs FROM tt),
        |bge AS (SELECT unnest(bgs) AS bg FROM bgl),
        |bc AS (SELECT bg, COUNT(*) AS c_ab FROM bge GROUP BY bg),
        |nb AS (SELECT SUM(c_ab) AS n_big FROM bc),
        |cand AS (SELECT bg, c_ab,
        |                string_split(bg, ' ')[1] AS token_a,
        |                string_split(bg, ' ')[2] AS token_b
        |         FROM bc WHERE c_ab >= $m),
        |j AS (SELECT cand.*, ua.c AS c_a, ub.c AS c_b
        |      FROM cand JOIN uni ua ON ua.token = cand.token_a
        |                JOIN uni ub ON ub.token = cand.token_b),
        |s AS (SELECT token_a, token_b, c_ab, bg,
        |             ln((c_ab::DOUBLE / n_big)
        |                / ((c_a::DOUBLE / n_tok) * (c_b::DOUBLE / n_tok))) AS pmi
        |      FROM j CROSS JOIN nt CROSS JOIN nb)
        |SELECT token_a, token_b, c_ab, ROUND(pmi, 6) AS pmi
        |FROM s ORDER BY pmi DESC, bg ASC LIMIT $k""".stripMargin
    },

    // eq57: per-(label, dim) variance — eq36's scaled-integer sums plus
    // Σv²; mean/variance as fixed-shape double expressions mirrored from
    // the engine exactly.
    "eq57_label_variance" ->
      """WITH ex AS (
        |  SELECT label, unnest(range(0, len(embedding))) AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |s AS (SELECT label, CAST(pos AS INT) AS pos,
        |             CAST(ROUND(x * 1000000.0::DOUBLE) AS BIGINT) AS v
        |      FROM ex),
        |a AS (SELECT label, pos, COUNT(*) AS n,
        |             CAST(SUM(v) AS BIGINT) AS sv,
        |             CAST(SUM(v * v) AS BIGINT) AS ssq
        |      FROM s GROUP BY 1, 2)
        |SELECT label, pos, n,
        |       ROUND(CAST(sv AS DOUBLE) / (n * 1000000.0::DOUBLE), 6) AS mean,
        |       ROUND((CAST(ssq AS DOUBLE)
        |              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
        |             / (n * 1000000000000.0::DOUBLE), 6) AS variance
        |FROM a ORDER BY label, pos""".stripMargin,

    // eq49: source-overlap provenance matrix — eq12's pair CTEs rolled up
    // to unordered source cells with exact integer duplication mass.
    "eq49_source_overlap" -> (s"WITH $toksCte,\n$jaccardCtes,\n" +
      """e AS (SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard FROM j
        |      WHERE jac >= 0.2::DOUBLE),
        |m AS (SELECT least(a.source, b.source) AS source_a,
        |             greatest(a.source, b.source) AS source_b, jaccard
        |      FROM e
        |      JOIN documents a ON a.doc_id = e.doc_a
        |      JOIN documents b ON b.doc_id = e.doc_b)
        |SELECT source_a, source_b, COUNT(*) AS n_pairs,
        |       CAST(SUM(CAST(ROUND(jaccard * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS jac_millionths
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // eq48: k-anonymity release accounting — quasi-identifier groups of
    // size < k suppressed, exact tallies per (lang, source); thresholds
    // spliced from the engine constants.
    "eq48_k_anonymity" -> {
      val k = graft.pipeline.CorpusOps.KAnonymity
      val bucket = graft.pipeline.CorpusOps.LenBucket
      s"""WITH g AS (
        |  SELECT lang, source, n_chars // $bucket AS len_bucket, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source,
        |  CAST(SUM(CASE WHEN n >= $k THEN 1 ELSE 0 END) AS BIGINT) AS groups_released,
        |  CAST(SUM(CASE WHEN n >= $k THEN n ELSE 0 END) AS BIGINT) AS docs_released,
        |  CAST(SUM(CASE WHEN n < $k THEN 1 ELSE 0 END) AS BIGINT) AS groups_suppressed,
        |  CAST(SUM(CASE WHEN n < $k THEN n ELSE 0 END) AS BIGINT) AS docs_suppressed
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // eq47: corpus-unigram LM scoring — per-token ln(count/N) quantized to
    // integer micros at the vocabulary level, exact integer per-doc sums.
    "eq47_unigram_logprob" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token),
        |t AS (SELECT SUM(cnt) AS n_total FROM v),
        |s AS (SELECT token,
        |             CAST(ROUND(ln(cnt::DOUBLE / n_total) * 1000000.0::DOUBLE) AS BIGINT) AS logp_micro
        |      FROM v CROSS JOIN t)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(logp_micro) AS BIGINT) AS logprob_micro,
        |       ROUND(CAST(SUM(logp_micro) AS DOUBLE) / (COUNT(*) * 1000000.0::DOUBLE), 6) AS avg_logprob
        |FROM tk JOIN s USING (token) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // eq133: shingle novelty — per doc, the fraction of its distinct
    // 3-gram shingles first seen at this doc_id (arrival order); the
    // shared toks/shingled CTEs, min-doc_id per shingle, join back.
    "eq133_shingle_novelty" -> (s"WITH $toksCte,\n" +
      """s AS (SELECT doc_id, list_distinct(sh) AS shd FROM shingled),
        |ex AS (SELECT doc_id, unnest(shd) AS sg FROM s WHERE len(shd) > 0),
        |f AS (SELECT sg, MIN(doc_id) AS first_doc FROM ex GROUP BY sg)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE
        |             / COUNT(*), 6) AS novelty
        |FROM ex JOIN f USING (sg) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // eq135: snapshot drift — per-lang Jensen–Shannon divergence between
    // arrival-order halves; add-one smoothing over the per-lang union
    // vocabulary, per-token ln(p/m)/ln(q/m) quantized to integer micros,
    // exact BIGINT Σ (cnt+1)·lr per KL side, one normalization each.
    "eq135_snapshot_drift" ->
      """WITH mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
        |tk AS (
        |  SELECT lang, doc_id <= mid.mid AS old_half,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents CROSS JOIN mid),
        |v AS (SELECT lang, token,
        |             SUM(CASE WHEN old_half THEN 1 ELSE 0 END) AS cnt_a,
        |             SUM(CASE WHEN old_half THEN 0 ELSE 1 END) AS cnt_b
        |      FROM tk GROUP BY 1, 2),
        |t AS (SELECT lang, SUM(cnt_a) AS n_a, SUM(cnt_b) AS n_b,
        |             COUNT(*) AS v_size FROM v GROUP BY 1),
        |tm AS (
        |  SELECT v.lang, cnt_a, cnt_b, n_a, n_b, v_size,
        |         (cnt_a + 1)::DOUBLE / (n_a + v_size) AS p,
        |         (cnt_b + 1)::DOUBLE / (n_b + v_size) AS q
        |  FROM v JOIN t ON v.lang = t.lang),
        |tr AS (
        |  SELECT lang, cnt_a, cnt_b, n_a, n_b, v_size,
        |         CAST(ROUND(ln(p / ((p + q) / 2)) * 1000000.0::DOUBLE) AS BIGINT) AS lra,
        |         CAST(ROUND(ln(q / ((p + q) / 2)) * 1000000.0::DOUBLE) AS BIGINT) AS lrb
        |  FROM tm),
        |kl AS (SELECT lang, MAX(n_a) AS n_a, MAX(n_b) AS n_b, MAX(v_size) AS v_size,
        |              CAST(SUM((cnt_a + 1) * lra) AS BIGINT) AS sa,
        |              CAST(SUM((cnt_b + 1) * lrb) AS BIGINT) AS sb
        |       FROM tr GROUP BY lang),
        |dc AS (SELECT lang,
        |              SUM(CASE WHEN doc_id <= mid.mid THEN 1 ELSE 0 END) AS n_docs_a,
        |              SUM(CASE WHEN doc_id <= mid.mid THEN 0 ELSE 1 END) AS n_docs_b
        |       FROM documents CROSS JOIN mid GROUP BY lang)
        |SELECT kl.lang,
        |       CAST(n_docs_a AS BIGINT) AS n_docs_a,
        |       CAST(n_docs_b AS BIGINT) AS n_docs_b,
        |       CAST(n_a AS BIGINT) AS n_tokens_a,
        |       CAST(n_b AS BIGINT) AS n_tokens_b,
        |       ROUND((sa::DOUBLE / ((n_a + v_size) * 1000000.0::DOUBLE)
        |            + sb::DOUBLE / ((n_b + v_size) * 1000000.0::DOUBLE)) / 2, 6)
        |         AS js_divergence
        |FROM kl JOIN dc ON kl.lang = dc.lang
        |ORDER BY kl.lang""".stripMargin,

    // eq134: source overlap matrix — pairwise shingle-set Jaccard at
    // feed granularity; per-shingle fan-out ≤ n_sources², never doc².
    "eq134_source_overlap" -> (s"WITH $toksCte,\n" +
      """sxe AS (SELECT source, unnest(list_distinct(sh)) AS sg FROM shingled),
        |sx AS (SELECT DISTINCT source, sg FROM sxe),
        |sz AS (SELECT source, COUNT(*) AS n FROM sx GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |             COUNT(*) AS common
        |      FROM sx a JOIN sx b ON a.sg = b.sg AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, common,
        |       za.n AS sz_a, zb.n AS sz_b,
        |       ROUND(common::DOUBLE / (za.n + zb.n - common), 6) AS jaccard
        |FROM p
        |JOIN sz za ON za.source = p.source_a
        |JOIN sz zb ON zb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin),

    // eq132: DSIR importance weights — target (lang='en') vs raw corpus
    // unigram distributions, add-one smoothed over the shared union
    // vocabulary; the two lns quantized to ONE integer-micro log-ratio
    // per vocab entry (the eq47 convention), exact per-doc sums;
    // kept = logratio > 0 (deterministic selection threshold).
    "eq132_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token, COUNT(*) AS cnt_raw,
        |             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_tgt
        |      FROM tk GROUP BY token),
        |t AS (SELECT SUM(cnt_raw) AS n_raw, SUM(cnt_tgt) AS n_tgt,
        |             COUNT(*) AS v_size FROM v),
        |s AS (SELECT token,
        |             CAST(ROUND((ln((cnt_tgt + 1)::DOUBLE / (n_tgt + v_size))
        |                       - ln((cnt_raw + 1)::DOUBLE / (n_raw + v_size)))
        |                  * 1000000.0::DOUBLE) AS BIGINT) AS lr_micro
        |      FROM v CROSS JOIN t)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(lr_micro) AS BIGINT) AS logratio_micro,
        |       ROUND(CAST(SUM(lr_micro) AS DOUBLE)
        |             / (COUNT(*) * 1000000.0::DOUBLE), 6) AS avg_logratio,
        |       CAST(SUM(lr_micro) AS BIGINT) > 0 AS kept
        |FROM tk JOIN s USING (token) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // eq46: quality-gated per-lang embedding centroids — eq8's quality CTE
    // (threshold on the 6-dp-rounded score, the eq38 keep rule) gates the
    // doc_id = vec_id join; means via eq36's scaled-integer sums.
    "eq46_quality_centroids" ->
      """WITH q AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |         length(text) AS nc,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |         least(nc / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |         alpha::DOUBLE / nc AS alpha_ratio,
        |         len(list_filter(toks, t -> t IN ('the', 'a', 'data', 'value')))::DOUBLE / len(toks) AS stop_ratio
        |  FROM q),
        |s AS (
        |  SELECT doc_id, lang,
        |         ROUND(0.4::DOUBLE * len_score + 0.4::DOUBLE * alpha_ratio
        |             + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio), 6) AS quality
        |  FROM c),
        |k AS (SELECT doc_id, lang FROM s WHERE quality >= 0.5::DOUBLE),
        |ex AS (
        |  SELECT k.lang, unnest(range(0, len(e.embedding))) AS pos,
        |         unnest(e.embedding)::DOUBLE AS x
        |  FROM k JOIN embeddings e ON e.vec_id = k.doc_id),
        |v AS (
        |  SELECT lang, CAST(pos AS INT) AS pos,
        |         CAST(ROUND(x * 1000000.0::DOUBLE) AS BIGINT) AS v
        |  FROM ex)
        |SELECT lang, pos, COUNT(*) AS n_docs,
        |       CAST(SUM(v) AS BIGINT) AS sum_scaled,
        |       ROUND(CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1000000.0::DOUBLE), 6) AS mean
        |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // eq45: error-tolerant JSONL ingest — corrupt-line quarantine with
    // exact accounting; the oracle reads raw lines (the q12 trick) and
    // classifies with json_valid, which coincides with Spark's PERMISSIVE
    // corrupt semantics because the fixture's corruption is syntactic only.
    "eq45_jsonl_ingest" ->
      s"""WITH raw AS (
        |  SELECT line FROM read_csv('${graft.ingest.JsonlIngest.fixturePath}',
        |                columns = {'line': 'VARCHAR'}, delim = '|', quote = '', header = false)),
        |cls AS (
        |  SELECT CASE WHEN json_valid(line)
        |              THEN COALESCE(json_extract_string(line, '$$.lang'), '__unknown__')
        |              ELSE '__corrupt__' END AS lang,
        |         CASE WHEN json_valid(line)
        |              THEN COALESCE(length(json_extract_string(line, '$$.text')), 0)
        |              ELSE 0 END AS nc
        |  FROM raw)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS total_chars
        |FROM cls GROUP BY lang ORDER BY lang""".stripMargin,

    // eq108: PII scrub — the four RE2-safe detector regexes and the fixed
    // redaction order are spliced from the engine's PiiPatterns (single
    // source of truth); DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all semantics; fixture-backed like eq45.
    "eq108_pii_scrub" -> {
      val ps = graft.pipeline.TextAnalysis.PiiPatterns
      def cnt(name: String) =
        s"len(regexp_extract_all(text, '${ps.find(_._1 == name).get._2}'))"
      val red = ps.foldLeft("text") { case (c, (_, re, tag)) =>
        s"regexp_replace($c, '$re', '$tag', 'g')"
      }
      s"""WITH d AS (
        |  SELECT doc_id, text, lang
        |  FROM read_json('${graft.pipeline.TextAnalysis.PiiFixturePath}',
        |         columns = {'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR'},
        |         format = 'newline_delimited'))
        |SELECT doc_id, lang,
        |       ${cnt("ssn")} AS n_ssn, ${cnt("phone")} AS n_phone,
        |       ${cnt("email")} AS n_email, ${cnt("ip")} AS n_ip,
        |       ${cnt("ssn")} + ${cnt("phone")} + ${cnt("email")} + ${cnt("ip")} AS n_pii,
        |       md5($red) AS redacted_md5
        |FROM d ORDER BY doc_id""".stripMargin
    },

    // eq111: contrastive triplets — positives from the shared exact-pair
    // CTE at the rounded-jaccard 0.5 floor, negatives from the per-lang
    // md5 hash ring (lead with first_value wrap), false negatives (any
    // >= 0.2 pair with the anchor) discarded via NOT EXISTS.
    "eq111_contrastive_triplets" -> (s"WITH $toksCte,\n$jaccardCtes,\n" +
      s"""pp AS (SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard FROM j
        |       WHERE jac >= 0.2::DOUBLE),
        |pos AS (SELECT * FROM pp WHERE jaccard >= 0.5::DOUBLE),
        |hx2 AS (SELECT doc_id, lang, substr(md5(text), 1, 7) AS h7 FROM documents),
        |ring AS (SELECT doc_id, lang, $hex7OfH7 AS k FROM hx2),
        |nxt AS (
        |  SELECT doc_id,
        |         COALESCE(lead(doc_id) OVER w,
        |                  first_value(doc_id) OVER (PARTITION BY lang ORDER BY k, doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS neg_id
        |  FROM ring WINDOW w AS (PARTITION BY lang ORDER BY k, doc_id)),
        |tr AS (
        |  SELECT pos.doc_a, pos.doc_b, pos.jaccard, n.neg_id
        |  FROM pos JOIN nxt n ON n.doc_id = pos.doc_a
        |  WHERE n.neg_id <> pos.doc_a AND n.neg_id <> pos.doc_b),
        |rel AS (SELECT LEAST(doc_a, doc_b) AS lo, GREATEST(doc_a, doc_b) AS hi FROM pp)
        |SELECT doc_a AS anchor_id, doc_b AS positive_id, neg_id AS negative_id, jaccard
        |FROM tr
        |WHERE NOT EXISTS (SELECT 1 FROM rel
        |                  WHERE rel.lo = LEAST(tr.doc_a, tr.neg_id)
        |                    AND rel.hi = GREATEST(tr.doc_a, tr.neg_id))
        |ORDER BY anchor_id, positive_id""".stripMargin),

    // eq109: distinct-n diversity — unigrams from the token array, bigrams
    // via list_transform, trigrams from the shared shingle CTE; the
    // distinct count groups on the n-gram key (vocabulary-bounded).
    "eq109_ngram_diversity" -> (s"WITH $toksCte,\n" +
      """g AS (
        |  SELECT lang, 1 AS n, unnest(t) AS g FROM shingled
        |  UNION ALL
        |  SELECT lang, 2 AS n,
        |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM shingled
        |  UNION ALL
        |  SELECT lang, 3 AS n, unnest(sh) AS g FROM shingled)
        |SELECT lang, n, COUNT(*) AS total_ngrams,
        |       COUNT(DISTINCT g) AS distinct_ngrams,
        |       ROUND(COUNT(DISTINCT g)::DOUBLE / COUNT(*), 6) AS distinct_ratio
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // eq112: BPE merge-pair counting — adjacent char pairs inside every
    // whitespace-token occurrence (substr windows over the same lowercased
    // token stream as the engine), top-30 with a pair-string tie-break.
    "eq112_bpe_pairs" -> (s"WITH $toksCte,\n" +
      """tk AS (SELECT unnest(t) AS tok FROM toks),
        |p AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair
        |      FROM tk, unnest(range(1, length(tok))) AS u(i)
        |      WHERE length(tok) >= 2)
        |SELECT pair, COUNT(*) AS cnt FROM p
        |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),

    // eq126: iterative BPE trainer — the N-round merge loop unrolled (one
    // CTE trio per round: pair counts, argmax with pair tie-break,
    // rewritten vocab). Same enclosed-symbol string representation and
    // literal-replace merge as the engine, so left-to-right non-overlap
    // semantics agree; SUM is cast back to BIGINT (DuckDB sums to
    // HUGEINT, which pandas would render differently).
    "eq126_bpe_train" -> bpeTrainSql(graft.pipeline.TextAnalysis.BpeTrainMerges),

    // eq129: BPE encode — the learned merge table applied corpus-wide,
    // reported as the per-source encoded footprint.
    "eq129_bpe_encode" -> bpeEncodeSql(graft.pipeline.TextAnalysis.BpeTrainMerges),

    // eq113: Spearman rank correlation (row_number ranks, doc_id
    // tie-break) between n_chars and punctuation count, per language.
    // Rank-moment sums are exact integers in both engines (DuckDB sums
    // BIGINT into HUGEINT, Spark into LONG — both exact at this scale),
    // so the ::DOUBLE sqrt/divide is the only floating-point, written in
    // the same shape as the engine's expression.
    "eq113_rank_corr" ->
      """WITH sig AS (
        |  SELECT doc_id, lang, n_chars,
        |         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
        |  FROM documents),
        |r AS (
        |  SELECT lang,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rx,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_punct, doc_id) AS ry
        |  FROM sig)
        |SELECT lang, COUNT(*) AS n,
        |       ROUND((COUNT(*)*SUM(rx*ry) - SUM(rx)*SUM(ry))::DOUBLE /
        |             NULLIF(SQRT((COUNT(*)*SUM(rx*rx) - SUM(rx)*SUM(rx))::DOUBLE) *
        |              SQRT((COUNT(*)*SUM(ry*ry) - SUM(ry)*SUM(ry))::DOUBLE), 0), 6) AS spearman
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // eq114: Z-order layout audit — the full deterministic pipeline
    // rebuilt in SQL: integer fixed-width bucketing (operands
    // non-negative, so DuckDB's floor-div ≡ Spark's trunc-div), explicit
    // 8+8-bit interleave, top-6-bit file assignment, per-file zone maps,
    // and the every-97th-event probe panel counting zone-map containment
    // hits per layout. AVGs are over exact integer sums, so the one
    // double division per column agrees bit-for-bit.
    "eq114_zorder_layout" -> {
      val interleave = (0 until 8).map(i =>
        s"(((ubkt >> $i) & 1) << ${2 * i + 1}) + (((dbkt >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH bounds AS (
        |  SELECT min(user_id) umin, max(user_id) umax,
        |         min(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) dmin,
        |         max(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) dmax,
        |         min(event_id) emin, max(event_id) emax
        |  FROM events),
        |z AS (
        |  SELECT event_id,
        |    (user_id - umin) * 256 // (umax - umin + 1) AS ubkt,
        |    (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) - dmin) * 256
        |      // (dmax - dmin + 1) AS dbkt,
        |    (event_id - emin) * 65536 // (emax - emin + 1) AS ebkt
        |  FROM events, bounds),
        |zv AS (SELECT event_id, ubkt, dbkt, ebkt, ($interleave) AS zval FROM z),
        |layouts AS (
        |  SELECT 'zorder' AS layout, zval >> 10 AS file_id, ubkt, dbkt, event_id FROM zv
        |  UNION ALL
        |  SELECT 'linear', ebkt >> 10, ubkt, dbkt, event_id FROM zv),
        |zones AS (
        |  SELECT layout, file_id, min(ubkt) fumin, max(ubkt) fumax,
        |         min(dbkt) fdmin, max(dbkt) fdmax, count(*) AS n
        |  FROM layouts GROUP BY 1, 2),
        |fs AS (
        |  SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |         CAST(SUM(n) AS BIGINT) AS n_rows,
        |         CAST(MAX(n) AS BIGINT) AS max_file_rows,
        |         ROUND(AVG(fumax - fumin), 6) AS avg_u_span,
        |         ROUND(AVG(fdmax - fdmin), 6) AS avg_d_span
        |  FROM zones GROUP BY 1),
        |probes AS (SELECT event_id AS pid, ubkt AS pu, dbkt AS pd
        |           FROM zv WHERE event_id % 97 = 0),
        |hits AS (
        |  SELECT layout, pid, count(*) AS files_hit
        |  FROM probes JOIN zones
        |    ON pu BETWEEN fumin AND fumax AND pd BETWEEN fdmin AND fdmax
        |  GROUP BY 1, 2),
        |ph AS (
        |  SELECT layout, CAST(count(*) AS BIGINT) AS n_probes,
        |         ROUND(AVG(files_hit), 6) AS avg_files_hit
        |  FROM hits GROUP BY 1)
        |SELECT ph.layout, n_files, n_rows, max_file_rows, avg_u_span,
        |       avg_d_span, n_probes, avg_files_hit
        |FROM ph JOIN fs ON ph.layout = fs.layout ORDER BY 1""".stripMargin
    },

    // eq115: Pareto frontier by the INDEPENDENT all-pairs formulation —
    // a user is on the frontier iff no other user weakly dominates it on
    // (total cents ↑, event count ↓) with at least one strict edge. The
    // engine's bucket-pruned sweep must produce exactly this set; integer
    // cents make both sides exact, and the /100 render has ≤2 decimals so
    // the 2-dp round is representation-stable in both engines.
    "eq115_pareto_frontier" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT a.user_id,
        |       ROUND(a.cents::DOUBLE / 100.0::DOUBLE, 2) AS total_value,
        |       a.n AS n_events
        |FROM u a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM u b
        |  WHERE b.cents >= a.cents AND b.n <= a.n
        |    AND (b.cents > a.cents OR b.n < a.n))
        |ORDER BY total_value DESC, a.user_id""".stripMargin,

    // eq116: categorical association audit — per-cell MI terms floored
    // into integer micros (order-free BIGINT sums, the keySkewStats
    // entropy pattern), χ² via n·(Σ c²/(r·s) − 1) with the ratio as exact
    // integer division; every double op (one LN per cell, three final
    // renders) written in the same shape as the engine's expressions.
    "eq116_assoc_audit" ->
      """WITH j AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1, 2),
        |rx AS (SELECT lang, CAST(count(*) AS BIGINT) AS r
        |       FROM documents GROUP BY 1),
        |cy AS (SELECT source, CAST(count(*) AS BIGINT) AS s
        |       FROM documents GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(DISTINCT lang) AS BIGINT) AS kx,
        |             CAST(count(DISTINCT source) AS BIGINT) AS ky
        |      FROM documents),
        |cells AS (
        |  SELECT n, kx, ky,
        |    CAST(FLOOR(c * LN((n * c)::DOUBLE / (r * s)) * 1000000) AS BIGINT) AS mi_micro,
        |    (c * c * 1000000) // (r * s) AS chi_micro
        |  FROM j JOIN rx USING (lang) JOIN cy USING (source) CROSS JOIN t)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_cells, kx AS n_langs, ky AS n_sources,
        |  ROUND(CAST(SUM(mi_micro) AS BIGINT)::DOUBLE / (n * 1000000), 6) AS mi_nats,
        |  ROUND((n * CAST(SUM(chi_micro) AS BIGINT))::DOUBLE / 1000000 - n, 6) AS chi2,
        |  ROUND(SQRT(((n * CAST(SUM(chi_micro) AS BIGINT))::DOUBLE / 1000000 - n)
        |        / NULLIF((n * LEAST(kx - 1, ky - 1))::DOUBLE, 0)), 6) AS cramers_v
        |FROM cells GROUP BY n, kx, ky""".stripMargin,

    // eq117: CUPED readout — variant = the shared 28-bit md5 key of the
    // user id mod 2 (eq27/x1 fragment); θ and both adjusted means are
    // recomputed from the same exact BIGINT moment sums with every double
    // op in the engine's association order.
    "eq117_cuped_readout" ->
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN datepart('day', ts) <= 15
        |                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN datepart('day', ts) > 15
        |                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |h AS (SELECT x, y, substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS h7 FROM pu),
        |vv AS (SELECT x, y, ($hex7OfH7) % 2 AS variant FROM h),
        |pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM vv),
        |byv AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS nv,
        |         CAST(SUM(x) AS BIGINT) AS svx, CAST(SUM(y) AS BIGINT) AS svy
        |  FROM vv GROUP BY 1),
        |th AS (
        |  SELECT *, CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
        |                 ELSE (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx) END AS theta
        |  FROM pooled)
        |SELECT variant, nv AS n_users,
        |  ROUND(svx::DOUBLE / nv / 100, 6) AS pre_mean,
        |  ROUND(svy::DOUBLE / nv / 100, 6) AS post_mean,
        |  ROUND((svy::DOUBLE / nv - theta * (svx::DOUBLE / nv - sx::DOUBLE / n)) / 100, 6)
        |    AS adj_mean,
        |  ROUND(theta, 6) AS theta
        |FROM byv CROSS JOIN th ORDER BY variant""".stripMargin,

    // eq118: Benford audit — first digit from the decimal string of the
    // exact cents (both engines render positive BIGINTs identically),
    // shares as integer PPM, and the expectation's one double op
    // (log10 + floor) written in the engine's shape.
    "eq118_benford_audit" ->
      """WITH c AS (
        |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
        |obs AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n_obs
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM obs),
        |spine AS (SELECT CAST(d AS BIGINT) AS digit FROM generate_series(1, 9) AS g(d))
        |SELECT spine.digit, COALESCE(n_obs, 0) AS n_obs,
        |       COALESCE(n_obs, 0) * 1000000 // total AS obs_ppm,
        |       CAST(FLOOR(LOG10((spine.digit + 1)::DOUBLE / spine.digit) * 1000000) AS BIGINT)
        |         AS exp_ppm,
        |       ABS(COALESCE(n_obs, 0) * 1000000 // total
        |           - CAST(FLOOR(LOG10((spine.digit + 1)::DOUBLE / spine.digit) * 1000000) AS BIGINT))
        |         AS dev_ppm
        |FROM spine LEFT JOIN obs ON spine.digit = obs.digit CROSS JOIN t
        |ORDER BY spine.digit""".stripMargin,

    // eq119: Gopher-style quality gate — house tokenizer
    // (regexp_split_to_array of trim(lower(text))), per-(doc, token) counts
    // feed one row per doc; every ratio is integer PPM so the rule flags
    // are float-free in both engines.
    "eq119_gopher_gate" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |cnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |        FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id,
        |         CAST(SUM(c) AS BIGINT) AS n_words,
        |         CAST(SUM(c * length(w)) AS BIGINT) AS n_word_chars,
        |         CAST(MAX(c) AS BIGINT) AS top_c,
        |         CAST(COALESCE(SUM(CASE WHEN w IN ('the','a','of','and','to')
        |                                THEN c END), 0) AS BIGINT) AS stop_hits
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n_words,
        |       n_word_chars * 1000000 // n_words AS mwl_ppm,
        |       stop_hits,
        |       top_c * 1000000 // n_words AS top_ppm,
        |       n_words BETWEEN 50 AND 100000 AS r_words,
        |       n_word_chars * 1000000 // n_words BETWEEN 3000000 AND 10000000
        |         AS r_wlen,
        |       stop_hits >= 2 AS r_stop,
        |       top_c * 1000000 // n_words <= 100000 AS r_top,
        |       (n_words BETWEEN 50 AND 100000)
        |         AND (n_word_chars * 1000000 // n_words
        |              BETWEEN 3000000 AND 10000000)
        |         AND stop_hits >= 2
        |         AND top_c * 1000000 // n_words <= 100000 AS pass
        |FROM agg ORDER BY doc_id""".stripMargin,

    // eq120: per-nation Gini + top-decile revenue share — rank formula over
    // ascending integer cents (tie order cannot change Σi·x; custkey
    // tie-break pins the decile cut). The rank-weighted sum and the ×10⁶
    // numerators run in HUGEINT, mirroring the engine's decimal(38,0);
    // the PPM quotients are ≤10⁶ and cast back to BIGINT.
    "eq120_gini_concentration" ->
      """WITH rev AS (
        |  SELECT o_custkey AS ck,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT n_name, cents, ck,
        |         row_number() OVER (PARTITION BY n_name ORDER BY cents, ck) AS i,
        |         CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n,
        |         CAST(SUM(cents) OVER (PARTITION BY n_name) AS BIGINT) AS tot
        |  FROM rev
        |  JOIN customer ON c_custkey = ck
        |  JOIN nation ON n_nationkey = c_nationkey),
        |g AS (
        |  SELECT n_name, MAX(n) AS n_customers, MAX(tot) AS total_cents,
        |         CAST(SUM(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS ix,
        |         CAST(COALESCE(SUM(CASE WHEN i > n - ((n + 9) // 10)
        |                                THEN cents END), 0) AS BIGINT)
        |           AS top_cents
        |  FROM j GROUP BY 1)
        |SELECT n_name, n_customers, total_cents,
        |       CAST(CASE WHEN total_cents > 0 THEN
        |         (2*ix - (n_customers+1)*CAST(total_cents AS HUGEINT))
        |         * 1000000 // (n_customers*CAST(total_cents AS HUGEINT)) END
        |         AS BIGINT) AS gini_ppm,
        |       CAST(CASE WHEN total_cents > 0 THEN
        |         CAST(top_cents AS HUGEINT) * 1000000 // total_cents END
        |         AS BIGINT) AS top_decile_ppm
        |FROM g ORDER BY n_name""".stripMargin,

    // ── x1–x8: approximate / engine-internal operators, oracle-checked by
    // reconstructing each DETERMINISTIC pipeline verbatim in DuckDB (seeded
    // constants spliced as literals, md5 as the shared hash — xxhash64-free
    // designs precisely so this is possible). Where the algorithm is
    // implementation-defined (HLL, GK sketches), the oracle pins exact
    // values plus TRUE error-bound flags the engine computes honestly. ──

    // x1: 28-bit md5-prefix shingle keys → 64 affine permutations mod
    // 2³¹−1 (coefficients spliced below) → 16×4 band keys → ≤50 bucket
    // guard → pair join → exact-Jaccard ≥ 0.2 verify. Identical arithmetic
    // in both engines: every intermediate ≤ 2⁵⁹ so DuckDB's checked BIGINT
    // math never overflows.
    "x1_minhash_lsh_pairs" ->
      (s"$minhashCtes\n" +
        """SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard FROM j
          |WHERE jac >= 0.2::DOUBLE ORDER BY doc_a, doc_b""".stripMargin),

    // x23: the x1 pipeline's signature-agreement Jaccard estimate laid
    // beside the exact value for every qualifying pair — n_agree from the
    // SAME mins CTE, the error column itself hash-checked.
    "x23_minhash_est_error" ->
      (s"$minhashCtes,\n" +
      """est AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM cand c
        |  JOIN mins ma ON ma.doc_id = c.doc_a
        |  JOIN mins mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        |  GROUP BY 1, 2)
        |SELECT j.doc_a, j.doc_b, ROUND(j.jac, 6) AS jaccard,
        |       ROUND(e.n_agree::DOUBLE / 64, 6) AS jaccard_est,
        |       e.n_agree,
        |       ROUND(ABS(ROUND(e.n_agree::DOUBLE / 64, 6) - ROUND(j.jac, 6)), 6) AS abs_err
        |FROM j JOIN est e USING (doc_a, doc_b)
        |WHERE j.jac >= 0.2::DOUBLE ORDER BY j.doc_a, j.doc_b""".stripMargin),

    // x29: the banding sweep — the x1 `mins` CTE regrouped under five
    // (rows-per-band) shapes, each with the same ≤50 bucket guard, scored
    // against the full exact-Jaccard ≥ 0.2 truth set (the eq12 pairs,
    // recomputed here off the shared `s` sets CTE).
    "x29_minhash_band_sweep" -> {
      val cfg = Seq(1, 2, 4, 8, 16)
      val blocks = cfg.map { r =>
        s"""k$r AS (SELECT doc_id, i // $r AS band,
           |        string_agg(m::VARCHAR, ',' ORDER BY i) AS band_key
           |        FROM mins GROUP BY 1, 2),
           |ok$r AS (SELECT band, band_key FROM k$r GROUP BY 1, 2 HAVING COUNT(*) <= 50),
           |kk$r AS (SELECT k.doc_id, k.band, k.band_key FROM k$r k JOIN ok$r USING (band, band_key)),
           |cand$r AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM kk$r x JOIN kk$r y ON x.band = y.band AND x.band_key = y.band_key
           |                          AND x.doc_id < y.doc_id)""".stripMargin
      }.mkString(",\n")
      val rows = cfg.map { r =>
        s"""SELECT $r AS rows_per_band, ${64 / r} AS n_bands,
           |       (SELECT COUNT(*) FROM cand$r) AS n_candidates,
           |       nt.n_true AS n_true_pairs,
           |       (SELECT COUNT(*) FROM cand$r JOIN tp USING (doc_a, doc_b)) AS n_found,
           |       ROUND((SELECT COUNT(*) FROM cand$r JOIN tp USING (doc_a, doc_b))::DOUBLE
           |             / nt.n_true, 6) AS recall
           |FROM nt""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$minhashKeyCtes,\n" +
        s"""ex2 AS (SELECT doc_id, len(shd) AS sz, unnest(shd) AS sg FROM s),
          |tp AS (SELECT doc_a, doc_b FROM (
          |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
          |           MAX(a.sz) AS sz_a, MAX(b.sz) AS sz_b
          |    FROM ex2 a JOIN ex2 b ON a.sg = b.sg AND a.doc_id < b.doc_id
          |    GROUP BY 1, 2)
          |  WHERE common::DOUBLE / (sz_a + sz_b - common) >= 0.2::DOUBLE),
          |nt AS (SELECT COUNT(*) AS n_true FROM tp),
          |$blocks
          |$rows
          |ORDER BY rows_per_band""".stripMargin
    },

    // x9: the bloom-prefiltered decontamination totals are EXACT (bloom
    // false positives are killed by the verify join, false negatives are
    // impossible), so the oracle recomputes them with a plain join —
    // per-lang aggregation of the eq29 pipeline.
    "x9_bloom_contamination" -> (s"WITH $toksCte,\n" +
      s"""sp AS (SELECT doc_id, lang, substr(md5(text), 1, 7) AS h7, sh FROM shingled),
        |b AS (SELECT doc_id, lang, sh, ($hex7OfH7) % 100 AS bucket FROM sp),
        |s AS (SELECT doc_id, lang, list_distinct(sh) AS shd,
        |        CASE WHEN bucket < 80 THEN 'train'
        |             WHEN bucket < 90 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM b),
        |tv AS (SELECT DISTINCT unnest(shd) AS sg FROM s WHERE split = 'train'),
        |te AS (SELECT doc_id, lang, unnest(shd) AS sg FROM s WHERE split = 'test'),
        |hits AS (SELECT te.lang, COUNT(*) AS total_contaminated
        |         FROM te JOIN tv ON te.sg = tv.sg GROUP BY te.lang),
        |per AS (SELECT lang, COUNT(*) AS n_test_docs,
        |               CAST(SUM(len(shd)) AS BIGINT) AS total_shingles
        |        FROM s WHERE split = 'test' GROUP BY lang)
        |SELECT per.lang, per.n_test_docs, per.total_shingles,
        |       COALESCE(hits.total_contaminated, 0) AS total_contaminated
        |FROM per LEFT JOIN hits ON per.lang = hits.lang
        |ORDER BY per.lang""".stripMargin),

    // x10: exact heavy-hitter counts are hash-compared (same aggregation
    // as eq33); the Count-Min estimates surface as the sketch's guarantee
    // flags, pinned TRUE (the x6/x8 pattern).
    "x10_cms_topk" -> (s"WITH $toksCte,\n" +
      """ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled)
        |SELECT shingle, COUNT(*) AS n_occurrences,
        |       COUNT(DISTINCT doc_id) AS n_docs,
        |       TRUE AS cms_ge, TRUE AS cms_close
        |FROM ex GROUP BY shingle
        |ORDER BY n_occurrences DESC, shingle ASC LIMIT 20""".stripMargin),

    // x11: int8 scalar quantization — per-dim min/max and exact integer
    // code sums hash-compared; the half-step reconstruction guarantee
    // surfaces as a boolean computed identically in both engines.
    "x11_quantize_embeddings" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(pos AS INT) AS pos, x FROM (
        |    SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
        |           unnest(embedding)::DOUBLE AS x
        |    FROM embeddings)),
        |b AS (SELECT pos, MIN(x) AS vmin, MAX(x) AS vmax FROM ex GROUP BY pos),
        |qq AS (
        |  SELECT ex.pos, ex.x, b.vmin, b.vmax,
        |         CASE WHEN b.vmax > b.vmin
        |              THEN CAST(ROUND((ex.x - b.vmin) / (b.vmax - b.vmin) * 255.0::DOUBLE) AS INT)
        |              ELSE 0 END AS q
        |  FROM ex JOIN b USING (pos)),
        |o AS (
        |  SELECT pos, vmin, vmax, q,
        |         CASE WHEN ABS(x - (vmin + q * ((vmax - vmin) / 255.0::DOUBLE)))
        |                   <= ((vmax - vmin) / 255.0::DOUBLE) / 2.0::DOUBLE + 0.000000001::DOUBLE
        |              THEN 0 ELSE 1 END AS bad
        |  FROM qq)
        |SELECT pos, ROUND(MIN(vmin), 6) AS vmin, ROUND(MAX(vmax), 6) AS vmax,
        |       CAST(SUM(q) AS BIGINT) AS code_sum,
        |       CAST(SUM(bad) AS BIGINT) = 0 AS within_half_step
        |FROM o GROUP BY pos ORDER BY pos""".stripMargin,

    // x2: per-token md5 → 64 fingerprint bits from the first 16 hex digits
    // → ±1 votes per occurrence → 4×16-bit chunk values → pigeonhole chunk
    // join → hamming ≤ 6. All chunk math fits INT.
    "x2_simhash_pairs" -> (s"WITH $toksCte,\n" +
      """tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |hh AS (SELECT doc_id, md5(tok) AS h FROM tk),
        |bits AS (
        |  SELECT doc_id, g.j,
        |    CASE WHEN (((strpos('0123456789abcdef', substr(h, (g.j // 4) + 1, 1)) - 1)
        |                >> (g.j % 4)) & 1) = 1 THEN 1 ELSE -1 END AS v
        |  FROM hh CROSS JOIN generate_series(0, 63) AS g(j)),
        |votes AS (SELECT doc_id, j, SUM(v) AS b FROM bits GROUP BY 1, 2),
        |chunks AS (
        |  SELECT doc_id, j // 16 AS chunk,
        |         CAST(SUM(CASE WHEN b > 0 THEN (1 << (j % 16)) ELSE 0 END) AS INT) AS cv
        |  FROM votes GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |         MAX(CASE WHEN chunk = 0 THEN cv END) AS c0,
        |         MAX(CASE WHEN chunk = 1 THEN cv END) AS c1,
        |         MAX(CASE WHEN chunk = 2 THEN cv END) AS c2,
        |         MAX(CASE WHEN chunk = 3 THEN cv END) AS c3
        |  FROM chunks GROUP BY 1),
        |ch AS (SELECT f.doc_id, f.c0, f.c1, f.c2, f.c3, c.chunk, c.cv
        |       FROM fp f JOIN chunks c ON f.doc_id = c.doc_id),
        |p AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    CAST(bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1))
        |       + bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3)) AS INT) AS hamming
        |  FROM ch x JOIN ch y ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 6
        |ORDER BY doc_a, doc_b""".stripMargin),

    // x3: IVF reconstruction — stride-40 centroids, argmin cell assignment,
    // nprobe=8 probe cells, exact scoring of probed cells, top-5. Raw
    // doubles agree bit-for-bit because both engines fold the dots in the
    // same element order.
    "x3_ivf_topk" -> ivfTopkSql,

    // x4: the mapPartitions feature pipeline's arithmetic on the raw UTF-8
    // payload bytes, re-derived from hex(encode(text)): byte_sum and the
    // first histogram bucket (count of bytes ≡ 0 mod 8).
    "x4_media_features" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents),
        |byt AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, n), i ->
        |      (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1) * 16 +
        |      (strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1)) AS bytes
        |  FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |       CAST(COALESCE(list_sum(bytes), 0) AS BIGINT) AS byte_sum,
        |       ROUND(CAST(len(list_filter(bytes, x -> x % 8 = 0)) AS DOUBLE), 6) AS f0
        |FROM byt ORDER BY doc_id""".stripMargin,

    // x5: SRP-LSH bucket reconstruction from the spliced sign strings; the
    // engine's 37-probe set (self + hamming ≤ 2) is exactly
    // bit_count(xor(bucket, query_bucket)) <= 2.
    "x5_lsh_topk" -> lshTopkSql,

    // x24: SRP-LSH probe-radius sweep — the SAME bucket CTEs as x5, per
    // radius candidate counts + recall@5 vs the exact top-5.
    "x24_lsh_probe_sweep" ->
      (s"$lshBucketCtes,\n" +
        s"""r AS (SELECT unnest([0, 1, 2]) AS radius),
          |cand AS (
          |  SELECT r.radius, b.vec_id FROM bk b, qb, r
          |  WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, qb.q)) <= r.radius),
          |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          |un AS (
          |  SELECT c.radius, e.vec_id,
          |         unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
          |  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id CROSS JOIN q),
          |sims AS (
          |  SELECT radius, vec_id,
          |         ROUND(SUM(x*y) / NULLIF(SQRT(SUM(x*x)) * SQRT(SUM(y*y)), 0), 6) AS sim
          |  FROM un GROUP BY 1, 2),
          |rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY radius
          |    ORDER BY sim DESC, vec_id ASC) AS rk
          |  FROM sims),
          |ex AS (SELECT vec_id FROM ($cosineTopkSql)),
          |h AS (
          |  SELECT radius, COUNT(*) AS n_hits
          |  FROM rk JOIN ex USING (vec_id) WHERE rk.rk <= 5 GROUP BY 1),
          |nc AS (SELECT radius, COUNT(*) AS n_candidates FROM cand GROUP BY 1)
          |SELECT CAST(nc.radius AS INT) AS radius, nc.n_candidates,
          |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
          |       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5, 6) AS recall
          |FROM nc LEFT JOIN h ON nc.radius = h.radius
          |ORDER BY radius""".stripMargin),

    // x12: ANN recall@5 evaluation — the exact, IVF, and LSH top-k
    // reconstructions (the SAME SQL strings as the eq4/x3/x5 entries)
    // composed into per-method hit counts, so the eval is hash-checked
    // against the very pipelines it grades.
    "x12_ann_recall" ->
      s"""WITH exact AS (SELECT vec_id FROM ($cosineTopkSql)),
        |ivf AS (SELECT vec_id FROM ($ivfTopkSql)),
        |lsh AS (SELECT vec_id FROM ($lshTopkSql)),
        |h AS (
        |  SELECT 'ivf' AS method, COUNT(*) AS n_hits
        |  FROM ivf JOIN exact USING (vec_id)
        |  UNION ALL
        |  SELECT 'srp_lsh' AS method, COUNT(*) AS n_hits
        |  FROM lsh JOIN exact USING (vec_id))
        |SELECT method, CAST(5 AS INT) AS k, n_hits,
        |       ROUND(CAST(n_hits AS DOUBLE) / 5, 6) AS recall
        |FROM h ORDER BY method""".stripMargin,

    // x6: exact distincts are hash-compared; the HLL estimates surface as
    // ε-bound flags the oracle pins TRUE (see Dedup.approxDistinctDf).
    "x6_approx_distinct" -> withPdv(
      """SELECT COUNT(DISTINCT magid) AS exact_magasins,
        |       COUNT(DISTINCT prodid) AS exact_produits,
        |       TRUE AS approx_magasins_ok, TRUE AS approx_produits_ok
        |FROM pdv""".stripMargin),

    // x25: the salted fact⋈dim join — semantics are the PLAIN join's, so
    // the oracle runs it unsalted; exact integer cents make the roll-up
    // bit-equal (the x7 convention on the join side).
    "x25_salted_join" ->
      """WITH dim AS (
        |  SELECT user_id, COUNT(*) AS hist_events,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS hist_value_cents
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |       CAST(SUM(d.hist_events) AS BIGINT) AS partner_events,
        |       CAST(SUM(d.hist_value_cents) AS BIGINT) AS partner_value_cents
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // x26: exact p50/p90 per type AND for the merged-ALL row hash-compared
    // (quantile_cont ≡ Spark percentile); the KLL sketch — whose quantile
    // values are run-varying by design (randomized compaction) — surfaces
    // only as its guaranteed rank-bound flags, pinned TRUE.
    "x26_kll_quantiles" ->
      """WITH per AS (
        |  SELECT event_type,
        |         ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
        |         ROUND(quantile_cont(value, 0.9), 6) AS p90_exact
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'ALL',
        |         ROUND(quantile_cont(value, 0.5), 6),
        |         ROUND(quantile_cont(value, 0.9), 6)
        |  FROM events)
        |SELECT event_type, p50_exact, p90_exact,
        |       TRUE AS p50_in_bounds, TRUE AS p90_in_bounds
        |FROM per ORDER BY event_type""".stripMargin,

    // x27: exact audience set-algebra (the eq23 counts, single flags pass)
    // hash-compared; theta intersection/A-not-B/union estimates surface as
    // the pinned ≤5% flags (deterministic: fixed hash seed, exact mode at
    // these cohort sizes).
    "x27_theta_audience" ->
      """WITH flags AS (
        |  SELECT user_id,
        |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1)
        |SELECT
        |  CAST(SUM(CASE WHEN v = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_only,
        |  CAST(SUM(CASE WHEN v = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(CASE WHEN v = 1 OR b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
        |  TRUE AS view_only_ok, TRUE AS both_ok, TRUE AS any_ok
        |FROM flags""".stripMargin,

    // x7: the salted two-phase aggregation sums integer cents, so its
    // result is bit-equal to this direct single-phase groupBy.
    "x7_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0::DOUBLE, 6) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // x8: exact p50/p90 (quantile_cont ≡ Spark percentile) hash-compared;
    // GK-sketch outputs surface as rank-bound flags pinned TRUE.
    "x8_approx_percentiles" ->
      """SELECT event_type,
        |       ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
        |       ROUND(quantile_cont(value, 0.9), 6) AS p90_exact,
        |       TRUE AS p50_in_bounds, TRUE AS p90_in_bounds
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // x13: the grouped HLL variant of x6 — exact per-type distincts
    // hash-compared, sketch estimate surfaced as the pinned ε-bound flag.
    "x13_approx_group_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_users_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // eq58: weekly retention triangle — date_trunc('week') is Monday in
    // both engines; offsets are exact day-diffs of Monday dates div 7.
    "eq58_retention_cohorts" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week FROM events),
        |coh AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
        |SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
        |       date_diff('day', c.cohort_week, w.week) // 7 AS week_offset,
        |       COUNT(DISTINCT w.user_id) AS n_active
        |FROM weeks w JOIN coh c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // eq59: strictly-ordered min-ts funnel — each stage joins the previous
    // stage's earliest qualifying timestamp, so the counts are a pure
    // function of the event set.
    "eq59_event_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
        |SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
        |       (SELECT COUNT(*) FROM v) AS n_viewed,
        |       (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
        |       (SELECT COUNT(*) FROM p) AS n_purchased_after_click""".stripMargin,

    // eq60: rolling 7-day actives via the bounded ×7 day-explode — the
    // standard distributed formulation of rolling COUNT(DISTINCT).
    "eq60_rolling_actives" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |h AS (SELECT MAX(ts::DATE) AS max_day FROM events),
        |ex AS (
        |  SELECT user_id, day,
        |         unnest(generate_series(day, least(day + 6, (SELECT max_day FROM h)),
        |                                INTERVAL 1 DAY))::DATE AS d
        |  FROM ud)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |       COUNT(DISTINCT CASE WHEN day = d THEN user_id END) AS dau,
        |       COUNT(DISTINCT user_id) AS wau_trailing
        |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq61: integer PageRank (5 damped iterations, parts-per-million) over
    // eq12's Jaccard pair graph — the j CTE is the shared eq12 pair mining,
    // the iteration arithmetic is all-integer so both engines agree bit-
    // for-bit. SUM(BIGINT) is HUGEINT in DuckDB; cast back per iteration.
    "eq61_pair_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT e.t AS doc_id,
           |         CAST(150000 + (85 * SUM(r.rank_ppm // d.deg)) // 100 AS BIGINT) AS rank_ppm
           |  FROM edges e JOIN $prev r ON r.doc_id = e.s JOIN deg d ON d.s = e.s
           |  GROUP BY 1)""".stripMargin
      s"""WITH $toksCte,
        |$jaccardCtes,
        |e2 AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.2::DOUBLE),
        |edges AS (SELECT doc_a AS s, doc_b AS t FROM e2
        |          UNION ALL SELECT doc_b AS s, doc_a AS t FROM e2),
        |deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT s AS doc_id, CAST(1000000 AS BIGINT) AS rank_ppm FROM deg),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")},
        |${iter("r3", "r4")},
        |${iter("r4", "r5")}
        |SELECT r5.doc_id, d.deg AS degree, r5.rank_ppm
        |FROM r5 JOIN deg d ON d.s = r5.doc_id
        |ORDER BY r5.rank_ppm DESC, r5.doc_id ASC LIMIT 20""".stripMargin
    },

    // eq62: Zipf regression — micro-scaled integer logs summed exactly,
    // HUGEINT (≡ Spark DECIMAL(38,0)) combination, one double division.
    "eq62_zipf_slope" ->
      s"""WITH $toksCte,
        |tok AS (SELECT unnest(t) AS token FROM toks),
        |cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |top AS (SELECT token, cnt FROM cnts ORDER BY cnt DESC, token ASC LIMIT 1000),
        |xy AS (
        |  SELECT CAST(floor(ln(row_number() OVER (ORDER BY cnt DESC, token ASC)) * 1e6) AS BIGINT) AS x,
        |         CAST(floor(ln(cnt) * 1e6) AS BIGINT) AS y
        |  FROM top),
        |m AS (SELECT COUNT(*) AS n_ranks, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x*x) AS sxx, SUM(x*y) AS sxy, SUM(y*y) AS syy FROM xy)
        |SELECT n_ranks,
        |  ROUND(CAST(n_ranks*sxy - sx*sy AS DOUBLE)
        |        / NULLIF(CAST(n_ranks*sxx - sx*sx AS DOUBLE), 0), 6) AS slope,
        |  ROUND(CAST(n_ranks*sxy - sx*sy AS DOUBLE) * CAST(n_ranks*sxy - sx*sy AS DOUBLE)
        |        / NULLIF(CAST(n_ranks*sxx - sx*sx AS DOUBLE) * CAST(n_ranks*syy - sy*sy AS DOUBLE), 0), 6) AS r2
        |FROM m""".stripMargin,

    // eq71: Gramian top pairs — per-(row, cell) terms are floor(vi·vj·1e6)
    // (float→double exact, two correctly-rounded IEEE ops), so the sums
    // are exact BIGINTs in both engines; tie-broken by (i, j).
    "eq71_gram_matrix" ->
      """WITH ue AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS s
        |  FROM embeddings),
        |p AS (
        |  SELECT a.s - 1 AS i, b.s - 1 AS j,
        |         CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e6) AS BIGINT) AS t
        |  FROM ue a JOIN ue b ON a.vec_id = b.vec_id AND a.s < b.s)
        |SELECT i, j, CAST(SUM(t) AS BIGINT) AS gram_micro
        |FROM p GROUP BY 1, 2
        |ORDER BY abs(gram_micro) DESC, i, j LIMIT 50""".stripMargin,

    // eq72: integer power iteration on the eq71 Gramian — renormalization
    // is sign·(abs // mx) so trunc/floor semantics agree across engines;
    // MATERIALIZED stops the chained CTEs re-inlining exponentially.
    "eq72_pca_power" -> {
      def iter(p: String, c: String, w: String, n: String): String =
        s"""$w AS MATERIALIZED (
           |  SELECT m.i AS pos, CAST(SUM(m.s * $p.v) AS BIGINT) AS w
           |  FROM m JOIN $p ON $p.pos = m.j GROUP BY 1),
           |$n AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)) // 1000000, 1) AS mx FROM $w),
           |$c AS MATERIALIZED (
           |  SELECT pos, CAST(CASE WHEN w < 0 THEN -(ABS(w) // mx)
           |                        ELSE ABS(w) // mx END AS BIGINT) AS v
           |  FROM $w CROSS JOIN $n)""".stripMargin
      s"""WITH ue AS (
        |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS s
        |  FROM embeddings),
        |p AS (
        |  SELECT a.s - 1 AS i, b.s - 1 AS j,
        |         CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e6) AS BIGINT) AS t
        |  FROM ue a JOIN ue b ON a.vec_id = b.vec_id AND a.s <= b.s),
        |g AS MATERIALIZED (SELECT i, j, CAST(SUM(t) AS BIGINT) AS s FROM p GROUP BY 1, 2),
        |m AS MATERIALIZED (SELECT i, j, s FROM g UNION ALL SELECT j, i, s FROM g WHERE i <> j),
        |v0 AS MATERIALIZED (SELECT DISTINCT i AS pos, CAST(1000000 AS BIGINT) AS v FROM m),
        |${iter("v0", "v1", "w1", "n1")},
        |${iter("v1", "v2", "w2", "n2")},
        |${iter("v2", "v3", "w3", "n3")},
        |${iter("v3", "v4", "w4", "n4")},
        |${iter("v4", "v5", "w5", "n5")}
        |SELECT pos, v AS loading_ppm FROM v5 ORDER BY pos""".stripMargin
    },

    // eq73: behavioral trigram paths — two leads over the total
    // (ts, event_id) per-user order; top-20 by count then path.
    "eq73_session_paths" ->
      """WITH l AS (
        |  SELECT event_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
        |         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
        |  FROM events)
        |SELECT event_type || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n_walks
        |FROM l WHERE e1 IS NOT NULL AND e2 IS NOT NULL
        |GROUP BY 1 ORDER BY n_walks DESC, path ASC LIMIT 20""".stripMargin,

    // eq74: column profiler — one row per column; doubles render %.6f
    // (exact at 2 dp), timestamps in the shared micro format.
    "eq74_profile_columns" ->
      """SELECT 'event_id' AS col_name,
        |       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |       COUNT(DISTINCT event_id) AS n_distinct,
        |       CAST(MIN(event_id) AS VARCHAR) AS min_repr,
        |       CAST(MAX(event_id) AS VARCHAR) AS max_repr
        |FROM events
        |UNION ALL
        |SELECT 'ts', CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       COUNT(DISTINCT ts),
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f'),
        |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f')
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       COUNT(DISTINCT user_id),
        |       CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       COUNT(DISTINCT event_type), MIN(event_type), MAX(event_type)
        |FROM events
        |UNION ALL
        |SELECT 'value', CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       COUNT(DISTINCT value),
        |       printf('%.6f', MIN(value)), printf('%.6f', MAX(value))
        |FROM events
        |UNION ALL
        |SELECT 'props', CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       COUNT(DISTINCT props), MIN(props), MAX(props)
        |FROM events
        |ORDER BY col_name""".stripMargin,

    // eq75: edit-distance record linkage — eq66's blocking, levenshtein
    // over the 40-char normalized prefix (unit-cost Wagner–Fischer in
    // both engines).
    "eq75_edit_linkage" ->
      s"""WITH $toksCte,
        |s AS (SELECT doc_id, t[1] AS blk, array_to_string(t, ' ') AS sk
        |      FROM toks WHERE len(t) >= 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY blk ORDER BY sk, doc_id) AS rn FROM s),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             levenshtein(substr(a.sk, 1, 40), substr(b.sk, 1, 40)) AS lev
        |      FROM r a JOIN r b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3)
        |SELECT doc_a, doc_b, lev FROM p WHERE lev <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,

    // eq65: weighted corpus mixing — md5-of-id rank within source vs the
    // source-derived quota; pure function of (source, doc_id). TRY_CAST:
    // a source with no trailing digits regexp-extracts to '' — Spark's
    // cast('') yields NULL (row silently dropped by the quota filter);
    // plain DuckDB CAST('' AS INT) would hard-error instead.
    "eq65_corpus_mix" ->
      """WITH k AS (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS mix_key,
        |         1 + TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 3 AS weight
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY mix_key, doc_id) AS mix_rank
        |      FROM k)
        |SELECT source, doc_id, weight, mix_rank
        |FROM r WHERE mix_rank <= weight * 8
        |ORDER BY source, mix_rank""".stripMargin,

    // eq66: sorted-neighborhood blocking — rank window inside the
    // first-token block, pairs at rank distance ≤ 3, exact token-set
    // Jaccard ≥ 0.5. The tokenizer is the shared toks CTE.
    "eq66_sorted_neighborhood" ->
      s"""WITH $toksCte,
        |s AS (SELECT doc_id, list_distinct(t) AS ts, t[1] AS blk,
        |             array_to_string(t, ' ') AS sk
        |      FROM toks WHERE len(t) >= 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY blk ORDER BY sk, doc_id) AS rn FROM s),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rn - a.rn AS rank_dist,
        |             len(list_intersect(a.ts, b.ts)) AS common,
        |             len(a.ts) AS sza, len(b.ts) AS szb
        |      FROM r a JOIN r b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3),
        |j AS (SELECT doc_a, doc_b, rank_dist,
        |             common::DOUBLE / (sza + szb - common) AS jac FROM p)
        |SELECT doc_a, doc_b, rank_dist, ROUND(jac, 6) AS jaccard
        |FROM j WHERE jac >= 0.5::DOUBLE
        |ORDER BY doc_a, doc_b""".stripMargin,

    // eq68: equi-depth histogram — exact decile boundaries (quantile_cont
    // ≡ Spark percentile, the eq22 parity), bin = 1 + #boundaries ≤ value.
    "eq68_equidepth_bins" ->
      """WITH b AS (
        |  SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
        |          quantile_cont(value, 0.3), quantile_cont(value, 0.4),
        |          quantile_cont(value, 0.5), quantile_cont(value, 0.6),
        |          quantile_cont(value, 0.7), quantile_cont(value, 0.8),
        |          quantile_cont(value, 0.9)] AS bs
        |  FROM events)
        |SELECT 1 + len(list_filter(bs, x -> value >= x)) AS bin,
        |       COUNT(*) AS n, ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
        |FROM events CROSS JOIN b
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq81: rolling z-score gap anomalies — exact integer-second gaps and
    // trailing Σ/Σ² frames; z is one fixed-shape double expression.
    "eq81_gap_anomalies" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         (epoch_us(ts) - epoch_us(lag(ts, 1) OVER
        |            (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
        |  FROM events),
        |f AS (SELECT * FROM g WHERE gap_s IS NOT NULL),
        |h AS (
        |  SELECT user_id, gap_s,
        |         COUNT(gap_s) OVER w AS h_n,
        |         CAST(SUM(gap_s) OVER w AS BIGINT) AS h_sum,
        |         CAST(SUM(gap_s * gap_s) OVER w AS BIGINT) AS h_sumsq
        |  FROM f
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT user_id,
        |         CASE WHEN (CAST(h_sumsq AS DOUBLE) - CAST(h_sum AS DOUBLE) * CAST(h_sum AS DOUBLE) / CAST(h_n AS DOUBLE)) / CAST(h_n AS DOUBLE) > 0
        |              THEN (CAST(gap_s AS DOUBLE) - CAST(h_sum AS DOUBLE) / CAST(h_n AS DOUBLE))
        |                   / sqrt((CAST(h_sumsq AS DOUBLE) - CAST(h_sum AS DOUBLE) * CAST(h_sum AS DOUBLE) / CAST(h_n AS DOUBLE)) / CAST(h_n AS DOUBLE))
        |              ELSE NULL END AS z
        |  FROM h WHERE h_n >= 5)
        |SELECT user_id, COUNT(*) AS n_scored,
        |       CAST(SUM(CASE WHEN ABS(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |       ROUND(MAX(z), 6) AS max_z
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq82: co-purchase matrix — distinct (user, item) from the JSON
    // payload, baskets capped at the 256 most-recent items per user
    // (mirrors EventOps.CoPurchaseBasketCap; row_number over
    // (last_ts DESC, item ASC) resolves ties identically in both
    // engines), per-user unordered pairs, top-20 cells. TRY_CAST mirrors
    // Spark's null-on-unparseable cast semantics — both engines drop a
    // non-numeric $.k row instead of the oracle hard-erroring on it.
    // eq110: leakage-safe train-set assembly — every feature aggregate
    // carries ts < cut inside the FILTER, the label carries ts >= cut;
    // one grouped pass, population gated on having feature-window events.
    "eq110_train_assembly" ->
      """WITH f AS (
        |  SELECT user_id,
        |    COUNT(*) FILTER (ts < TIMESTAMP '2024-01-29 00:00:00') AS n_events,
        |    COUNT(*) FILTER (event_type = 'purchase'
        |                     AND ts < TIMESTAMP '2024-01-29 00:00:00') AS n_purchases,
        |    CAST(COALESCE(SUM(CAST(ROUND(value * 100.0) AS BIGINT))
        |                    FILTER (ts < TIMESTAMP '2024-01-29 00:00:00'), 0) AS BIGINT)
        |      AS value_cents,
        |    COUNT(DISTINCT CAST(ts AS DATE))
        |      FILTER (ts < TIMESTAMP '2024-01-29 00:00:00') AS n_active_days,
        |    MAX(CASE WHEN event_type = 'purchase'
        |                  AND ts >= TIMESTAMP '2024-01-29 00:00:00'
        |             THEN 1 ELSE 0 END) AS label
        |  FROM events GROUP BY 1)
        |SELECT user_id, n_events, n_purchases, value_cents, n_active_days, label
        |FROM f WHERE n_events > 0 ORDER BY user_id""".stripMargin,

    // eq103: declarative data-quality gates — one exact violation count
    // per expectation over a single scan, fixed one-row-per-gate output.
    "eq103_quality_gates" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_id_null,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_user_null,
        |    CAST(SUM(CASE WHEN event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error')
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v_type_domain,
        |    CAST(SUM(CASE WHEN value IS NULL OR value < 0.0 OR value > 10000.0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v_value_range,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
        |                    OR ts >= TIMESTAMP '2024-02-01 00:00:00'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_window,
        |    CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS v_id_dup
        |  FROM events),
        |g AS (
        |  SELECT 'event_id_not_null' AS gate, n_rows, v_id_null AS n_violations FROM a
        |  UNION ALL SELECT 'event_id_unique', n_rows, v_id_dup FROM a
        |  UNION ALL SELECT 'event_type_in_domain', n_rows, v_type_domain FROM a
        |  UNION ALL SELECT 'ts_in_window', n_rows, v_ts_window FROM a
        |  UNION ALL SELECT 'user_id_not_null', n_rows, v_user_null FROM a
        |  UNION ALL SELECT 'value_in_range', n_rows, v_value_range FROM a)
        |SELECT gate, n_rows, n_violations, n_violations = 0 AS pass
        |FROM g ORDER BY gate""".stripMargin,

    // eq104: incremental cross-snapshot dedup — the x1 signature pipeline
    // (shared minhashKeyCtes prefix, bit-identical affine permutations and
    // band keys) with the corpus split old/new on doc_id % 10, the bucket
    // guard applied on the INDEX (old) side only, candidates = new band
    // keys probing the guarded index, verify = exact Jaccard ≥ 0.5, and an
    // exact-content-hash layer that wins over 'near'. No old×old pairing
    // anywhere — the whole point of the incremental pattern.
    "eq104_incremental_dedup" ->
      (s"$minhashKeyCtes,\n" +
        """old_keys AS (SELECT * FROM keys WHERE doc_id % 10 < 8),
          |new_keys AS (SELECT * FROM keys WHERE doc_id % 10 >= 8),
          |ok AS (SELECT band, band_key FROM old_keys GROUP BY 1, 2 HAVING COUNT(*) <= 50),
          |po AS (SELECT k.doc_id, k.band, k.band_key
          |       FROM old_keys k JOIN ok USING (band, band_key)),
          |cand AS (
          |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          |  FROM new_keys n JOIN po o ON n.band = o.band AND n.band_key = o.band_key),
          |ver AS (
          |  SELECT new_id, len(list_intersect(a.shd, b.shd)) AS common,
          |         a.sz AS sz_n, b.sz AS sz_o
          |  FROM cand JOIN s a ON a.doc_id = cand.new_id
          |            JOIN s b ON b.doc_id = cand.old_id),
          |near AS (SELECT DISTINCT new_id FROM ver
          |         WHERE common::DOUBLE / (sz_n + sz_o - common) >= 0.5::DOUBLE),
          |oldh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
          |v AS (
          |  SELECT d.lang,
          |         CASE WHEN md5(d.text) IN (SELECT h FROM oldh) THEN 'exact'
          |              WHEN d.doc_id IN (SELECT new_id FROM near) THEN 'near'
          |              ELSE 'novel' END AS verdict
          |  FROM documents d WHERE d.doc_id % 10 >= 8)
          |SELECT lang, verdict, COUNT(*) AS n_docs
          |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // eq139: at-rest dedup index audit + probe — the same eq104 CTE
    // structure (the engine's stored tables are exactly `oldh` and `po`;
    // its read-back probe is bit-identical to the in-session layers), with
    // entry counts of the index layers, the build-time stop-bucket stat,
    // and the batch verdict TOTALS on a fixed 3-verdict spine (a hostile
    // batch may have no 'near' rows; the frame shape must not change).
    "eq139_atrest_dedup_index" ->
      (s"$minhashKeyCtes,\n" +
        """old_keys AS (SELECT * FROM keys WHERE doc_id % 10 < 8),
          |new_keys AS (SELECT * FROM keys WHERE doc_id % 10 >= 8),
          |ok AS (SELECT band, band_key FROM old_keys GROUP BY 1, 2 HAVING COUNT(*) <= 50),
          |stopb AS (SELECT band, band_key FROM old_keys GROUP BY 1, 2 HAVING COUNT(*) > 50),
          |po AS (SELECT k.doc_id, k.band, k.band_key
          |       FROM old_keys k JOIN ok USING (band, band_key)),
          |cand AS (
          |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          |  FROM new_keys n JOIN po o ON n.band = o.band AND n.band_key = o.band_key),
          |ver AS (
          |  SELECT new_id, len(list_intersect(a.shd, b.shd)) AS common,
          |         a.sz AS sz_n, b.sz AS sz_o
          |  FROM cand JOIN s a ON a.doc_id = cand.new_id
          |            JOIN s b ON b.doc_id = cand.old_id),
          |near AS (SELECT DISTINCT new_id FROM ver
          |         WHERE common::DOUBLE / (sz_n + sz_o - common) >= 0.5::DOUBLE),
          |oldh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
          |v AS (
          |  SELECT CASE WHEN md5(d.text) IN (SELECT h FROM oldh) THEN 'exact'
          |              WHEN d.doc_id IN (SELECT new_id FROM near) THEN 'near'
          |              ELSE 'novel' END AS verdict
          |  FROM documents d WHERE d.doc_id % 10 >= 8),
          |vc AS (SELECT verdict, COUNT(*)::BIGINT AS n FROM v GROUP BY 1),
          |sp AS (SELECT unnest(['exact', 'near', 'novel']) AS verdict)
          |SELECT 'idx_band_entries' AS item, (SELECT COUNT(*) FROM po)::BIGINT AS n
          |UNION ALL SELECT 'idx_hash_entries', (SELECT COUNT(*) FROM oldh)::BIGINT
          |UNION ALL SELECT 'idx_stop_buckets', (SELECT COUNT(*) FROM stopb)::BIGINT
          |UNION ALL SELECT 'probe_' || sp.verdict, COALESCE(vc.n, 0)::BIGINT
          |          FROM sp LEFT JOIN vc USING (verdict)
          |ORDER BY item""".stripMargin),

    // eq143: index retraction — eq139's structure over the RETAINED
    // corpus (doc_id % 7 = 3 of the indexed side deleted). The stop list
    // is MONOTONE (computed over the FULL pre-retraction corpus — the
    // engine's recall-conservative guard rule), band rows are the
    // retained docs' keys anti the monotone stop, and a content hash
    // leaves the exact layer only when its LAST owner was deleted
    // (orphan set = deleted hashes anti retained hashes — anti joins
    // everywhere for NULL-hash safety, matching the engine's left_anti
    // semantics). The probe re-derives every verdict against the
    // retained index: content whose last owner died comes back 'novel',
    // content with a surviving owner 'exact'.
    "eq143_index_retraction" ->
      (s"$minhashKeyCtes,\n" +
        """old_keys AS (SELECT * FROM keys WHERE doc_id % 10 < 8),
          |new_keys AS (SELECT * FROM keys WHERE doc_id % 10 >= 8),
          |stopb AS (SELECT band, band_key FROM old_keys GROUP BY 1, 2 HAVING COUNT(*) > 50),
          |del AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 8 AND doc_id % 7 = 3),
          |ret_keys AS (SELECT k.* FROM old_keys k ANTI JOIN del USING (doc_id)),
          |po AS (SELECT k.doc_id, k.band, k.band_key
          |       FROM ret_keys k ANTI JOIN stopb USING (band, band_key)),
          |cand AS (
          |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          |  FROM new_keys n JOIN po o ON n.band = o.band AND n.band_key = o.band_key),
          |ver AS (
          |  SELECT new_id, len(list_intersect(a.shd, b.shd)) AS common,
          |         a.sz AS sz_n, b.sz AS sz_o
          |  FROM cand JOIN s a ON a.doc_id = cand.new_id
          |            JOIN s b ON b.doc_id = cand.old_id),
          |near AS (SELECT DISTINCT new_id FROM ver
          |         WHERE common::DOUBLE / (sz_n + sz_o - common) >= 0.5::DOUBLE),
          |oldh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
          |delh AS (SELECT DISTINCT md5(d.text) AS h FROM documents d JOIN del USING (doc_id)
          |         WHERE md5(d.text) IS NOT NULL),
          |reth AS (SELECT DISTINCT md5(d.text) AS h FROM documents d
          |         WHERE d.doc_id % 10 < 8
          |           AND d.doc_id NOT IN (SELECT doc_id FROM del)),
          |tombh AS (SELECT d.h FROM delh d ANTI JOIN reth r USING (h)),
          |effh AS (SELECT o.h FROM oldh o ANTI JOIN tombh t USING (h)),
          |v AS (
          |  SELECT CASE WHEN md5(d.text) IN (SELECT h FROM effh WHERE h IS NOT NULL) THEN 'exact'
          |              WHEN d.doc_id IN (SELECT new_id FROM near) THEN 'near'
          |              ELSE 'novel' END AS verdict
          |  FROM documents d WHERE d.doc_id % 10 >= 8),
          |vc AS (SELECT verdict, COUNT(*)::BIGINT AS n FROM v GROUP BY 1),
          |sp AS (SELECT unnest(['exact', 'near', 'novel']) AS verdict)
          |SELECT 'band_raw_rows' AS item, (SELECT COUNT(*) FROM po)::BIGINT AS n
          |UNION ALL SELECT 'idx_band_entries', (SELECT COUNT(*) FROM po)::BIGINT
          |UNION ALL SELECT 'idx_hash_entries', (SELECT COUNT(*) FROM effh)::BIGINT
          |UNION ALL SELECT 'idx_stop_buckets', (SELECT COUNT(*) FROM stopb)::BIGINT
          |UNION ALL SELECT 'probe_' || sp.verdict, COALESCE(vc.n, 0)::BIGINT
          |          FROM sp LEFT JOIN vc USING (verdict)
          |UNION ALL SELECT 'tomb_docs', (SELECT COUNT(*) FROM del)::BIGINT
          |UNION ALL SELECT 'tomb_hashes', (SELECT COUNT(*) FROM tombh)::BIGINT
          |ORDER BY item""".stripMargin),

    // eq105: nearest-centroid confusion matrix — micro-unit quantization
    // (the eq36 convention), centroid = raw integer SUM vector (cosine is
    // scale-invariant so no mean/rounding on the prototype), dot and norms
    // exact BIGINT, one divide-and-round per cell, argmax on the ROUNDED
    // cosine with label as the tie-break. CTEs shared with eq107.
    "eq105_centroid_confusion" ->
      (s"WITH $centroidScoreCtes\n" +
        """SELECT label, cl AS predicted, COUNT(*) AS n_vecs
          |FROM best WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // eq107: cross-lingual bitext mining — eq105's centroid cells as the
    // IVF coarse quantizer (queries probe rn<=2 cells, targets indexed at
    // rn=1), exact cosine on candidates only, margin = best minus
    // runner-up on the ROUNDED cosine, tgt_id tie-break, top-20 cut.
    "eq107_bitext_mining" ->
      (s"WITH $centroidScoreCtes,\n" +
        """langm AS (SELECT doc_id, lang FROM documents),
          |src AS (SELECT b.vec_id AS src_id, l.lang AS src_lang, b.cl
          |        FROM best b JOIN langm l ON l.doc_id = b.vec_id
          |        WHERE b.rn <= 2 AND l.lang <> 'en'),
          |tgt AS (SELECT b.vec_id AS tgt_id, b.cl
          |        FROM best b JOIN langm l ON l.doc_id = b.vec_id
          |        WHERE b.rn = 1 AND l.lang = 'en'),
          |cand AS (SELECT DISTINCT src_id, src_lang, tgt_id FROM src JOIN tgt USING (cl)),
          |un AS (SELECT c.src_id, c.src_lang, c.tgt_id,
          |              unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
          |       FROM cand c JOIN embeddings a ON a.vec_id = c.src_id
          |                   JOIN embeddings b ON b.vec_id = c.tgt_id),
          |cs AS (SELECT src_id, src_lang, tgt_id,
          |              ROUND(SUM(x * y) / NULLIF(SQRT(SUM(x * x)) * SQRT(SUM(y * y)), 0), 6) AS cos
          |       FROM un GROUP BY 1, 2, 3),
          |rk AS (SELECT *,
          |              row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id ASC) AS r,
          |              lead(cos) OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id ASC) AS cos_next
          |       FROM cs)
          |SELECT src_id, src_lang, tgt_id, cos,
          |       ROUND(cos - COALESCE(cos_next, 0.0::DOUBLE), 6) AS margin
          |FROM rk WHERE r = 1 AND cos >= 0.3::DOUBLE
          |ORDER BY margin DESC, src_id ASC LIMIT 20""".stripMargin),

    // eq106: temperature-scaled resampling — p_l^0.3 quantized to
    // micro-units is the one float op (POWER ≡ Math.pow to the ulp on
    // these operands; the rounding makes a flip require a .5-boundary
    // landing); rate and membership are exact integers, keep-key is the
    // eq31 md5-28-bit convention at ppm granularity.
    "eq106_temperature_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c),
        |w AS (SELECT lang, n_docs, n_total,
        |             CAST(ROUND(POWER(n_docs::DOUBLE / n_total::DOUBLE, 0.3)
        |                        * 1000000.0) AS BIGINT) AS w_micro
        |      FROM c CROSS JOIN t),
        |ws AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_sum FROM w),
        |r AS (SELECT lang, n_docs,
        |             CAST(LEAST(1000000::HUGEINT,
        |                   (CAST(w_micro AS HUGEINT) * (n_total // 2) * 1000000) // (CAST(w_sum AS HUGEINT) * n_docs)) AS BIGINT) AS rate_ppm
        |      FROM w CROSS JOIN ws),
        |h AS (SELECT d.lang, d.n_chars, substr(md5(d.text), 1, 7) AS h7, r.rate_ppm
        |      FROM documents d JOIN r USING (lang)),
        |k AS (SELECT lang, n_chars FROM h WHERE ($hex7OfH7) % 1000000 < rate_ppm),
        |kk AS (SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        |       FROM k GROUP BY 1)
        |SELECT r.lang, r.n_docs, r.rate_ppm,
        |       COALESCE(kk.n_kept, 0) AS n_kept,
        |       COALESCE(kk.kept_chars, 0) AS kept_chars
        |FROM r LEFT JOIN kk USING (lang) ORDER BY r.lang""".stripMargin,

    // eq102: co-purchase lift over the SAME capped baskets as eq82 —
    // exact integer counts, lift = n_pairs·N / (n_a·n_b) rounded before
    // the top-20 cut.
    "eq102_pair_lift" ->
      """WITH ui0 AS (
        |  SELECT user_id,
        |         TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT) AS item,
        |         MAX(ts) AS last_ts
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT) IS NOT NULL
        |  GROUP BY 1, 2),
        |ui AS (
        |  SELECT user_id, item FROM (
        |    SELECT user_id, item,
        |           ROW_NUMBER() OVER (PARTITION BY user_id
        |                              ORDER BY last_ts DESC, item ASC) AS rn
        |    FROM ui0)
        |  WHERE rn <= 256),
        |tot AS (SELECT COUNT(DISTINCT user_id) AS n_total FROM ui),
        |marg AS (SELECT item, COUNT(*) AS n_item FROM ui GROUP BY 1),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pairs
        |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.n_pairs,
        |       ma.n_item AS n_a, mb.n_item AS n_b,
        |       ROUND(CAST(p.n_pairs * tot.n_total AS DOUBLE)
        |             / CAST(ma.n_item * mb.n_item AS DOUBLE), 6) AS lift
        |FROM p
        |JOIN marg ma ON ma.item = p.item_a
        |JOIN marg mb ON mb.item = p.item_b
        |CROSS JOIN tot
        |ORDER BY lift DESC, item_a ASC, item_b ASC LIMIT 20""".stripMargin,

    "eq82_co_purchases" ->
      """WITH ui0 AS (
        |  SELECT user_id,
        |         TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT) AS item,
        |         MAX(ts) AS last_ts
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT) IS NOT NULL
        |  GROUP BY 1, 2),
        |ui AS (
        |  SELECT user_id, item FROM (
        |    SELECT user_id, item,
        |           ROW_NUMBER() OVER (PARTITION BY user_id
        |                              ORDER BY last_ts DESC, item ASC) AS rn
        |    FROM ui0)
        |  WHERE rn <= 256)
        |SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_users
        |FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
        |GROUP BY 1, 2
        |ORDER BY n_users DESC, item_a ASC, item_b ASC LIMIT 20""".stripMargin,

    // x15: matryoshka recall — rankings order by 6-dp ROUNDED cosines
    // (vec_id tie-break), so both engines rank identically and the whole
    // evaluation is hash-checked, not bounded.
    "x15_matryoshka_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |un AS (
        |  SELECT q.qid, e.vec_id AS vid,
        |         generate_subscripts(e.embedding, 1) AS i,
        |         unnest(e.embedding)::DOUBLE AS ex, unnest(q.qe)::DOUBLE AS qx
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
        |p AS (
        |  SELECT qid, vid,
        |         ROUND(SUM(ex*qx) / NULLIF(SQRT(SUM(ex*ex)) * SQRT(SUM(qx*qx)), 0), 6) AS sim_full,
        |         ROUND(SUM(CASE WHEN i <= 16 THEN ex*qx ELSE 0 END)
        |               / NULLIF(SQRT(SUM(CASE WHEN i <= 16 THEN ex*ex ELSE 0 END))
        |                  * SQRT(SUM(CASE WHEN i <= 16 THEN qx*qx ELSE 0 END)), 0), 6) AS sim_pre
        |  FROM un GROUP BY 1, 2),
        |r AS (
        |  SELECT qid, vid,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim_full DESC, vid ASC) AS rf,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim_pre DESC, vid ASC) AS rp
        |  FROM p),
        |h AS (SELECT qid, COUNT(*) AS n_hits FROM r WHERE rf <= 5 AND rp <= 5 GROUP BY 1)
        |SELECT q.qid, 5 AS k, COALESCE(h.n_hits, 0) AS n_hits,
        |       ROUND(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall
        |FROM q LEFT JOIN h ON q.qid = h.qid ORDER BY q.qid""".stripMargin,

    // eq87: PSI drift — eq68's decile bins, per-bin micro-integer
    // (p−q)·ln(p/q) terms summed exactly; empty-side bins skipped.
    "eq87_psi_drift" ->
      """WITH b AS (
        |  SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
        |          quantile_cont(value, 0.3), quantile_cont(value, 0.4),
        |          quantile_cont(value, 0.5), quantile_cont(value, 0.6),
        |          quantile_cont(value, 0.7), quantile_cont(value, 0.8),
        |          quantile_cont(value, 0.9)] AS bs
        |  FROM events),
        |x AS (
        |  SELECT event_type,
        |         1 + len(list_filter(bs, v -> value >= v)) AS bin,
        |         ts::DATE < DATE '2024-01-16' AS early
        |  FROM events CROSS JOIN b),
        |c AS (
        |  SELECT event_type, bin,
        |         SUM(CASE WHEN early THEN 1 ELSE 0 END) AS cnt_a,
        |         SUM(CASE WHEN early THEN 0 ELSE 1 END) AS cnt_b
        |  FROM x GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b
        |  FROM c GROUP BY 1),
        |terms AS (
        |  SELECT c.event_type,
        |         CASE WHEN cnt_a > 0 AND cnt_b > 0 THEN
        |           CAST(floor((CAST(cnt_a AS DOUBLE) / tot_a - CAST(cnt_b AS DOUBLE) / tot_b)
        |               * ln((CAST(cnt_a AS DOUBLE) / tot_a) / (CAST(cnt_b AS DOUBLE) / tot_b))
        |               * 1e6) AS BIGINT)
        |         END AS term_micro
        |  FROM c JOIN t ON c.event_type = t.event_type)
        |SELECT event_type,
        |       CAST(SUM(CASE WHEN term_micro IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_used,
        |       ROUND(CAST(SUM(term_micro) AS DOUBLE) / 1e6, 6) AS psi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq86: media resize audit — ASCII payloads make char ops ≡ byte ops
    // (eq50 convention): every-4th-char string, ord() = byte value.
    "eq86_media_resize" ->
      """WITH b AS (
        |  SELECT doc_id, text AS s, octet_length(encode(text)) AS n FROM documents),
        |r AS (
        |  SELECT doc_id, n,
        |         array_to_string(list_transform(range(1, n + 1, 4),
        |           i -> substring(s, i, 1)), '') AS rs
        |  FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS orig_bytes,
        |       CAST(length(rs) AS BIGINT) AS resized_bytes,
        |       CAST(COALESCE(list_sum(list_transform(range(1, length(rs) + 1),
        |         i -> ord(substring(rs, i, 1)))), 0) AS BIGINT) AS resized_sum,
        |       md5(rs) AS resized_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    // x14: sampled join-cardinality estimate — the md5 key sample is
    // content-keyed, so the oracle recomputes BOTH numbers exactly.
    "x14_join_size_estimate" ->
      s"""WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |k AS (SELECT cnt, substr(md5(user_id::VARCHAR), 1, 7) AS h7 FROM c),
        |s AS (SELECT cnt FROM k WHERE ($hex7OfH7) % 2 = 0),
        |m AS (
        |  SELECT (SELECT CAST(SUM(cnt * cnt) AS BIGINT) FROM c) AS exact_pairs,
        |         CAST(COALESCE((SELECT SUM(cnt * cnt) FROM s), 0) * 2 AS BIGINT) AS est_pairs)
        |SELECT exact_pairs, est_pairs,
        |       ABS(est_pairs - exact_pairs) / CAST(exact_pairs AS DOUBLE) <= 0.5 AS within_50pct
        |FROM m""".stripMargin,

    // eq85: temporal activity profile — 168-cell load matrix, exact
    // integer ppm shares; day rendered as a name to dodge engine weekday
    // numbering conventions.
    "eq85_activity_profile" ->
      """WITH t AS (SELECT COUNT(*) AS total FROM events),
        |c AS (
        |  SELECT strftime(ts, '%A') AS dow,
        |         CAST(hour(ts) AS INT) AS hour_of_day, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, hour_of_day, n_events,
        |       CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm,
        |       CAST(n_events * 1000000 // total - 1000000 // 168 AS BIGINT) AS dev_ppm
        |FROM c CROSS JOIN t ORDER BY dow, hour_of_day""".stripMargin,

    // eq83: frame sampling — integer even-spacing index math over
    // 64-byte frames; ASCII payloads make VARCHAR windows ≡ byte windows
    // (the eq50 convention).
    "eq83_frame_samples" ->
      """WITH b AS (
        |  SELECT doc_id, text AS s, octet_length(encode(text)) // 64 AS n_frames
        |  FROM documents),
        |f AS (SELECT * FROM b WHERE n_frames >= 1),
        |jx AS (SELECT doc_id, s, n_frames,
        |              unnest(range(0, least(4, n_frames))) AS j
        |       FROM f),
        |ix AS (SELECT doc_id, n_frames,
        |              CASE WHEN n_frames <= 4 THEN j
        |                   ELSE (j * (n_frames - 1)) // 3 END AS frame_idx,
        |              s
        |       FROM jx)
        |SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
        |       md5(substring(s, (frame_idx * 64 + 1)::BIGINT, 64)) AS frame_md5
        |FROM ix ORDER BY doc_id, frame_idx""".stripMargin,

    // eq124: scene-change detection — per-frame byte sums re-derived from
    // hex(encode(text)) (the x4 byte-expansion pattern), consecutive
    // deltas via 1-based list indexing, cut threshold 16 × 64 = 1024.
    "eq124_scene_changes" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) // 64 AS n_frames
        |  FROM documents),
        |fr AS (SELECT * FROM b WHERE n_frames >= 2),
        |s AS (
        |  SELECT doc_id, n_frames,
        |    list_transform(range(0, n_frames), f ->
        |      list_sum(list_transform(range(f * 64, f * 64 + 64), i ->
        |        (strpos('0123456789ABCDEF', substr(h, 2 * i + 1, 1)) - 1) * 16 +
        |        (strpos('0123456789ABCDEF', substr(h, 2 * i + 2, 1)) - 1)))) AS sums
        |  FROM fr),
        |d AS (
        |  SELECT doc_id, n_frames,
        |         list_transform(range(1, n_frames), f -> abs(sums[f + 1] - sums[f])) AS deltas
        |  FROM s)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |       CAST(len(list_filter(deltas, x -> x > 1024)) AS BIGINT) AS n_cuts,
        |       CAST(list_max(deltas) AS BIGINT) AS max_delta
        |FROM d ORDER BY doc_id""".stripMargin,

    // eq84: cluster representatives — eq26's recursive closure joined
    // with eq8's quality, per-cluster argmax (quality desc, doc_id asc).
    "eq84_cluster_reps" -> (s"WITH RECURSIVE $toksCte,\n$jaccardCtes,\n" +
      """pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.2::DOUBLE),
        |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s AS src, s AS dst FROM edges
        |  UNION
        |  SELECT r.src, e.t FROM reach r JOIN edges e ON r.dst = e.s),
        |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src),
        |qq AS (
        |  SELECT doc_id, len(t) AS n_tokens,
        |         least(length(text) / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
        |         len(list_filter(t, x -> x IN ('the', 'a', 'data', 'value')))::DOUBLE / len(t) AS stop_ratio
        |  FROM toks),
        |qual AS (
        |  SELECT doc_id,
        |         ROUND(0.4::DOUBLE * len_score + 0.4::DOUBLE * alpha_ratio
        |             + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio), 6) AS quality
        |  FROM qq),
        |ranked AS (
        |  SELECT l.cluster, l.doc_id, q.quality,
        |         row_number() OVER (PARTITION BY l.cluster
        |                            ORDER BY q.quality DESC, l.doc_id ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY l.cluster) AS n_docs
        |  FROM labels l JOIN qual q USING (doc_id))
        |SELECT cluster AS cluster_id, n_docs, doc_id AS rep_doc_id,
        |       quality AS rep_quality
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // eq79: snapshot diff — full-outer join on doc_id comparing sha256 of
    // the deterministic old/new snapshot derivations.
    "eq79_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, sha256(text) AS h_old FROM documents WHERE doc_id < 450),
        |n AS (
        |  SELECT doc_id,
        |         sha256(CASE WHEN doc_id % 100 = 0 THEN 'v2 ' || text ELSE text END) AS h_new
        |  FROM documents WHERE doc_id >= 50),
        |j AS (
        |  SELECT CASE WHEN h_old IS NULL THEN 'added'
        |              WHEN h_new IS NULL THEN 'removed'
        |              WHEN h_old = h_new THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n USING (doc_id))
        |SELECT status, COUNT(*) AS n_docs FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq80: Markov transition matrix — one lead over the per-user total
    // order, probabilities as exact integer ppm of per-row counts.
    "eq80_transition_matrix" ->
      """WITH l AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n_trans FROM l
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |       CAST(n_trans * 1000000 // SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // eq76: grouping sets + grouping flags — one Expand pass in both
    // engines; money as exact integer cents.
    "eq76_grouping_sets" ->
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |       COALESCE(n_name, 'ALL') AS n_name,
        |       CAST(GROUPING(r_name) AS INT) AS g_r,
        |       CAST(GROUPING(n_name) AS INT) AS g_n,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name), ())
        |ORDER BY g_r, g_n, r_name, n_name""".stripMargin,

    // eq77: distribution ranks over the aggregated supplier frame — exact
    // rationals of (rank, n), 6 dp.
    "eq77_supplier_rank_dist" ->
      """WITH s AS (
        |  SELECT l_suppkey AS suppkey,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT suppkey, revenue_cents,
        |       ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |       ROUND(cume_dist() OVER w, 6) AS cume,
        |       ntile(4) OVER w AS quartile
        |FROM s
        |WINDOW w AS (ORDER BY revenue_cents DESC, suppkey ASC)
        |ORDER BY revenue_cents DESC, suppkey ASC""".stripMargin,

    // eq78: schema-drift union audit — the legacy/modern drops UNION ALL
    // with explicit NULL fill, per-drop null accounting.
    "eq78_schema_drift" ->
      """WITH u AS (
        |  SELECT doc_id, text, lang, NULL AS source, NULL::BIGINT AS n_chars,
        |         'legacy' AS drop_id
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, NULL AS lang, source, n_chars, 'modern' AS drop_id
        |  FROM documents)
        |SELECT drop_id, COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
        |       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
        |       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq64: SCD-2 tier intervals — lag collapses runs, lead closes
    // intervals, both over the total (ts, event_id) order; %f renders
    // 6-digit microseconds like Spark's SSSSSS.
    "eq64_scd2_intervals" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN value < 20 THEN 'low'
        |              WHEN value < 55 THEN 'mid' ELSE 'high' END AS tier
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier FROM p),
        |ch AS (SELECT * FROM l WHERE prev_tier IS NULL OR tier <> prev_tier),
        |v AS (SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts FROM ch)
        |SELECT user_id, tier,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |       COALESCE(strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f'), 'current') AS valid_to,
        |       valid_to_ts IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from""".stripMargin,

    // eq67: CDC last-write-wins compaction — latest change per key by the
    // total (ts, event_id) order, 'error' rows read as tombstones.
    "eq67_cdc_compact" ->
      """WITH cl AS (
        |  SELECT * FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM cl)
        |SELECT user_id, event_type AS last_op,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts, n_changes
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // eq69: key-skew diagnosis — shares as exact integer ppm; entropy via
    // the eq62 micro-integer convention (floor(cnt·ln(total/cnt)·1e6)
    // summed exactly, one final division).
    "eq69_key_skew" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total FROM events),
        |pk AS (
        |  SELECT cnt, cnt * 1000000 // total AS share_ppm,
        |         CAST(floor(cnt * ln(CAST(total AS DOUBLE) / cnt) * 1e6) AS BIGINT) AS e_micro,
        |         user_id
        |  FROM c CROSS JOIN t),
        |top AS (SELECT SUM(cnt) AS top10_cnt FROM
        |        (SELECT cnt FROM pk ORDER BY cnt DESC, user_id ASC LIMIT 10))
        |SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |       MAX(share_ppm) AS max_share_ppm,
        |       CAST((SELECT top10_cnt FROM top) * 1000000 // (SELECT total FROM t) AS BIGINT) AS top10_share_ppm,
        |       ROUND(CAST(SUM(e_micro) AS DOUBLE) / ((SELECT total FROM t) * 1e6), 6) AS entropy_nats
        |FROM pk""".stripMargin,

    // eq70: harmonic-decay engagement — all-integer terms
    // (cents·10000 // (1+age)), operands positive so // ≡ Spark's div.
    "eq70_decay_scores" ->
      """WITH h AS (SELECT MAX(ts)::DATE AS max_day FROM events),
        |t AS (
        |  SELECT user_id,
        |         (CAST(round(value * 100) AS BIGINT) * 10000)
        |           // (1 + date_diff('day', ts::DATE, max_day)) AS term
        |  FROM events CROSS JOIN h)
        |SELECT user_id, COUNT(*) AS n_events,
        |       ROUND(CAST(SUM(term) AS DOUBLE) / 1e6, 6) AS decay_score
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq63: distinct-content counts under raw / whitespace-normalized /
    // sorted bag-of-words keys — t is the shared token pipeline, so the
    // normalization can never drift from eq7/eq32's tokenization.
    "eq63_normalized_dups" ->
      s"""WITH $toksCte
        |SELECT source, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT md5(text)) AS n_raw_distinct,
        |       COUNT(DISTINCT md5(array_to_string(t, ' '))) AS n_norm_distinct,
        |       COUNT(DISTINCT md5(array_to_string(list_sort(t), ' '))) AS n_bow_distinct
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq88: BM25 top-10 retrieval — the eq47 micro-integer convention: ln
    // quantized to BIGINT micros at the vocab level; every other op is
    // IEEE-basic on the same expression tree as the Spark plan, so the
    // per-term contributions and their order-free sums match exactly.
    "eq88_bm25_topk" -> (s"WITH $toksCte,\n" +
      """tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |posts AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |dls AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls),
        |idf AS (
        |  SELECT tok,
        |         CAST(ROUND(ln(1.0::DOUBLE + (st.n_docs - df + 0.5::DOUBLE)
        |           / (df + 0.5::DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS idf_micro
        |  FROM (SELECT tok, COUNT(*) AS df FROM posts GROUP BY 1) CROSS JOIN st),
        |q AS (SELECT DISTINCT qid, tok FROM (
        |        SELECT doc_id AS qid, unnest(t) AS tok FROM toks WHERE doc_id < 5)),
        |c AS (
        |  SELECT q.qid, p.doc_id,
        |         CAST(ROUND(i.idf_micro::DOUBLE *
        |           (p.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE)
        |            / (p.tf::DOUBLE + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
        |               + 0.75::DOUBLE * (d.dl::DOUBLE
        |                 / (st.sum_dl::DOUBLE / st.n_docs::DOUBLE)))))) AS BIGINT) AS c_micro
        |  FROM q JOIN posts p USING (tok) JOIN idf i USING (tok)
        |       JOIN dls d ON p.doc_id = d.doc_id CROSS JOIN st),
        |s AS (SELECT qid, doc_id, COUNT(*) AS n_terms,
        |             CAST(SUM(c_micro) AS BIGINT) AS score_micro
        |      FROM c GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY score_micro DESC, doc_id ASC) AS rank FROM s)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id, n_terms,
        |       ROUND(score_micro::DOUBLE / 1000000.0::DOUBLE, 6) AS bm25
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // x19: the stream-stream attribution join in batch mode — plain
    // interval join per user, 30-minute lookback.
    "x19_attribution_batch" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v.view_id, c.click_id,
        |       strftime(v.view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        |       strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND v.view_ts <= c.click_ts
        |  AND v.view_ts >= c.click_ts - INTERVAL 30 MINUTE
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,

    // x20: mergeable HLL union — exact per-type and global distincts
    // hash-compared; the sketch estimates (including the merged ALL row,
    // whose flag proves union correctness) pinned by the ≤5% booleans.
    // eq100: α=½ EWMA — the recursion closed-formed as an exact BIGINT
    // dot product with power-of-two shift weights, one final division.
    "eq100_ewma_daily" ->
      """WITH d AS (
        |  SELECT event_type, ts::DATE AS day,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |ix AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
        |  FROM d),
        |w AS (
        |  SELECT event_type, day, cents,
        |         CASE WHEN i = 1 THEN 1::BIGINT
        |              ELSE (1::BIGINT << CAST(i - 2 AS INT)) END AS w
        |  FROM ix),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |         strftime(MAX(day), '%Y-%m-%d') AS last_day,
        |         CAST(SUM(w * cents) AS BIGINT) AS s_scaled
        |  FROM w GROUP BY 1)
        |SELECT event_type, n_days, last_day,
        |       ROUND(CAST(s_scaled AS DOUBLE)
        |             / CAST((1::BIGINT << CAST(n_days - 1 AS INT)) AS DOUBLE), 6) AS ewma_cents,
        |       ROUND(CAST(s_scaled AS DOUBLE)
        |             / CAST((1::BIGINT << CAST(n_days - 1 AS INT)) AS DOUBLE), 6) AS forecast_cents
        |FROM a ORDER BY event_type""".stripMargin,

    // eq101: Hamilton largest-remainder apportionment — floors, mods and
    // the remainder rank all in exact integers; Σ alloc ≡ budget.
    "eq101_token_budget" -> {
      val b = graft.pipeline.CorpusOps.BudgetTokens
      s"""WITH c AS (
        |  SELECT source,
        |         CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS c_total FROM c),
        |f AS (
        |  SELECT source, n_tokens,
        |         ($b * n_tokens - (($b * n_tokens) % c_total)) // c_total AS base,
        |         ($b * n_tokens) % c_total AS remainder
        |  FROM c CROSS JOIN t),
        |r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (ORDER BY remainder DESC, source ASC) AS BIGINT) AS rk,
        |         $b - SUM(base) OVER () AS shortfall
        |  FROM f)
        |SELECT source, n_tokens, CAST(base AS BIGINT) AS base,
        |       CAST(remainder AS BIGINT) AS remainder,
        |       CAST(base + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        |FROM r ORDER BY source""".stripMargin
    },

    // eq98: winsorized mean per type — exact micro-integer clipping at
    // the quantile_cont bounds (x8 pairing), one division per type.
    "eq98_winsorized_means" ->
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS p05,
        |         quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, b.p05, b.p95,
        |         LEAST(GREATEST(CAST(ROUND(e.value * 1000000.0::DOUBLE) AS BIGINT),
        |                        CAST(ROUND(b.p05 * 1000000.0::DOUBLE) AS BIGINT)),
        |               CAST(ROUND(b.p95 * 1000000.0::DOUBLE) AS BIGINT)) AS vm,
        |         CAST(ROUND(e.value * 100) AS BIGINT) AS cents
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, COUNT(*) AS n_events,
        |       ROUND(MAX(p05), 6) AS p05, ROUND(MAX(p95), 6) AS p95,
        |       ROUND(CAST(SUM(vm) AS DOUBLE) / (COUNT(*) * 1000000.0::DOUBLE), 6) AS winsorized_mean,
        |       ROUND(CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100.0::DOUBLE), 6) AS raw_mean
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // eq99: modality-agreement audit — the eq12 text pair set vs the
    // eq13 embedding pair set (both reconstructions shared), pair-set
    // Jaccard as the one-row agreement signal.
    "eq99_modality_agreement" ->
      (s"WITH $toksCte,\n$jaccardCtes,\n" +
        s"""tp AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.2::DOUBLE),
          |ep AS (SELECT vec_a AS doc_a, vec_b AS doc_b
          |       FROM (${embeddingNeardupsSql(0.5)})),
          |bt AS (SELECT COUNT(*) AS n_both FROM tp JOIN ep USING (doc_a, doc_b)),
          |nt AS (SELECT COUNT(*) AS n_text_pairs FROM tp),
          |ne AS (SELECT COUNT(*) AS n_embedding_pairs FROM ep)
          |SELECT nt.n_text_pairs, ne.n_embedding_pairs, bt.n_both,
          |       CASE WHEN nt.n_text_pairs + ne.n_embedding_pairs - bt.n_both = 0
          |            THEN NULL
          |            ELSE ROUND(CAST(bt.n_both AS DOUBLE)
          |                 / CAST(nt.n_text_pairs + ne.n_embedding_pairs - bt.n_both AS DOUBLE), 6)
          |       END AS pair_jaccard
          |FROM nt, ne, bt""".stripMargin),

    // eq96: point-in-time state two ways — raw-log replay cut at the
    // as-of literal vs interval-containment lookup in the eq64 SCD-2
    // dimension built over FULL history; agree is the audit column.
    "eq96_asof_state_audit" -> {
      val t = s"TIMESTAMP '${graft.pipeline.EventOps.AsofStateTs}'"
      s"""WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN value < 20 THEN 'low'
        |              WHEN value < 55 THEN 'mid' ELSE 'high' END AS tier
        |  FROM events WHERE event_type = 'purchase'),
        |ra AS (
        |  SELECT user_id, tier AS tier_replay FROM (
        |    SELECT user_id, tier,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM p WHERE ts <= $t)
        |  WHERE rn = 1),
        |l AS (SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier FROM p),
        |ch AS (SELECT * FROM l WHERE prev_tier IS NULL OR tier <> prev_tier),
        |v AS (SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts FROM ch),
        |lk AS (
        |  SELECT user_id, tier AS tier_scd2,
        |         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from
        |  FROM v WHERE ts <= $t AND (valid_to_ts IS NULL OR valid_to_ts > $t))
        |SELECT user_id, tier_replay, tier_scd2, valid_from,
        |       tier_replay = tier_scd2 AS agree
        |FROM ra JOIN lk USING (user_id) ORDER BY user_id""".stripMargin
    },

    // eq97: near-dup graph topology — edges/wedges/triangles over the
    // 0.4 banded pair graph (the SAME reconstruction as eq95), triangle
    // count by vertex-ordered edge joins.
    "eq97_graph_clustering" ->
      s"""WITH e AS (
        |  SELECT vec_a AS a, vec_b AS b FROM (${embeddingNeardupsSql(0.4)})),
        |deg AS (
        |  SELECT v, COUNT(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1),
        |w AS (
        |  SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges,
        |         COUNT(*) AS n_vertices
        |  FROM deg),
        |t AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |            JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
        |c AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT c.n_edges, w.n_vertices, w.n_wedges, t.n_triangles,
        |       CASE WHEN w.n_wedges = 0 THEN NULL
        |            ELSE ROUND(3.0::DOUBLE * t.n_triangles / CAST(w.n_wedges AS DOUBLE), 6)
        |       END AS global_clustering
        |FROM c, w, t""".stripMargin,

    // eq92: cross-document duplicated-span fraction — word 8-gram
    // instances probed against the distinct-doc document frequency;
    // fan-out Σ df, never df².
    "eq92_dup_spans" ->
      """WITH tt AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 8
        |                THEN list_transform(range(1, len(t) - 6),
        |                       i -> array_to_string(t[i:i+7], ' '))
        |                ELSE []::VARCHAR[] END) AS sg
        |  FROM tt),
        |df AS (
        |  SELECT sg, COUNT(*) AS ndocs FROM (SELECT DISTINCT doc_id, sg FROM sh)
        |  GROUP BY sg)
        |SELECT sh.doc_id, COUNT(*) AS n_spans,
        |       CAST(SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       ROUND(CAST(SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 6) AS dup_fraction
        |FROM sh JOIN df USING (sg)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,

    // eq127: maximal duplicated span lengths — eq92's duplicated 8-gram
    // starts chained into maximal runs via the islands trick
    // (pos − row_number per doc); a run of m consecutive duplicated
    // starts is a maximal duplicated span of m+7 tokens. pos is 0-based
    // to match Spark's posexplode; SUM cast pins BIGINT.
    "eq127_max_dup_spans" ->
      """WITH tt AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS sg
        |  FROM tt, unnest(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |df AS (
        |  SELECT sg, COUNT(*) AS ndocs FROM (SELECT DISTINCT doc_id, sg FROM sh)
        |  GROUP BY sg),
        |dup AS (
        |  SELECT sh.doc_id, sh.pos FROM sh JOIN df USING (sg) WHERE df.ndocs > 1),
        |isl AS (
        |  SELECT doc_id,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM dup),
        |sp AS (
        |  SELECT doc_id, grp, COUNT(*) + 7 AS span_tokens FROM isl GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_max_spans,
        |       CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
        |       CAST(SUM(span_tokens) AS BIGINT) AS total_span_tokens
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // eq93: per-source percent_rank normalization of the eq8 quality
    // score — rank order (quality NULLS FIRST, doc_id) is tie-free, so
    // the rank ratio is identical in both engines.
    "eq93_quality_quantile_norm" ->
      """WITH q AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |         length(text) AS nc,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |         least(nc / 500.0::DOUBLE, 1.0::DOUBLE) AS len_score,
        |         alpha::DOUBLE / nc AS alpha_ratio,
        |         len(list_filter(toks, t -> t IN ('the', 'a', 'data', 'value')))::DOUBLE / len(toks) AS stop_ratio
        |  FROM q),
        |s AS (
        |  SELECT doc_id, source,
        |         ROUND(0.4::DOUBLE * len_score + 0.4::DOUBLE * alpha_ratio
        |             + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio), 6) AS quality
        |  FROM c),
        |r AS (
        |  SELECT doc_id, source, quality,
        |         ROUND(percent_rank() OVER (PARTITION BY source
        |           ORDER BY quality ASC NULLS FIRST, doc_id ASC), 6) AS q_norm
        |  FROM s)
        |SELECT doc_id, source, quality, q_norm, q_norm >= 0.5::DOUBLE AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // eq94: derandomized Poisson bootstrap — md5_key28(event_id:b) micros
    // inverted through the quantized Poisson(1) CDF; exact integer cents
    // replica sums; CI = exact p05/p95 of the 32 six-dp replica means
    // (quantile_cont ≡ Spark percentile, the x8 pairing).
    "eq94_bootstrap_ci" ->
      s"""WITH reps AS (
        |  SELECT e.event_id, CAST(ROUND(e.value * 100) AS BIGINT) AS cents, g.b
        |  FROM events e CROSS JOIN generate_series(0, 31) AS g(b)),
        |h AS (
        |  SELECT cents, b,
        |         substr(md5(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 7) AS h7
        |  FROM reps),
        |u AS (SELECT cents, b, ($hex7OfH7) % 1000000 AS u FROM h),
        |w AS (
        |  SELECT cents, b,
        |         CAST(CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |                   WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |                   WHEN u < 996340 THEN 4 ELSE 5 END AS BIGINT) AS w
        |  FROM u),
        |m AS (
        |  SELECT b, ROUND(CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS BIGINT), 6) AS mean_cents
        |  FROM w GROUP BY b)
        |SELECT COUNT(*) AS n_replicas,
        |       ROUND(quantile_cont(mean_cents, 0.05), 6) AS ci_lo_cents,
        |       ROUND(quantile_cont(mean_cents, 0.95), 6) AS ci_hi_cents
        |FROM m""".stripMargin,

    // eq95: density cores — neighbor degree over the eq13 pair set (the
    // SAME SQL), core = degree ≥ 3; zero-degree vectors kept via the
    // corpus spine left join.
    "eq95_density_cores" ->
      s"""WITH pairs AS (
        |  SELECT vec_a, vec_b FROM (${embeddingNeardupsSql(0.4)})),
        |deg AS (
        |  SELECT vec_id, COUNT(*) AS degree FROM (
        |    SELECT vec_a AS vec_id FROM pairs
        |    UNION ALL
        |    SELECT vec_b AS vec_id FROM pairs)
        |  GROUP BY 1)
        |SELECT e.vec_id, CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
        |       COALESCE(d.degree, 0) >= 3 AS is_core
        |FROM embeddings e LEFT JOIN deg d USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin,

    // eq91: per-nation OLS revenue trend — five exact BIGINT moments over
    // (month index, revenue cents), slope/intercept as two fixed-shape
    // double divisions per nation.
    "eq91_trend_slopes" ->
      """WITH m AS (
        |  SELECT n_name,
        |         CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS BIGINT) AS x,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |a AS (
        |  SELECT n_name, COUNT(*) AS n_months,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM m GROUP BY 1)
        |SELECT n_name, n_months,
        |       ROUND(CAST(n_months * sxy - sx * sy AS DOUBLE)
        |             / NULLIF(CAST(n_months * sxx - sx * sx AS DOUBLE), 0), 6) AS slope_cents_per_month,
        |       ROUND(CAST(sxx * sy - sx * sxy AS DOUBLE)
        |             / NULLIF(CAST(n_months * sxx - sx * sx AS DOUBLE), 0), 6) AS intercept_cents
        |FROM a ORDER BY n_name""".stripMargin,

    // x22: the streaming session_window operator driven in batch — eq5's
    // gaps-and-islands boundary (STRICTLY > 30 min: session_window merges
    // at exactly last+gap), session end = last event
    // + gap, matching Spark's session windows.
    "x22_session_window_batch" ->
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts::TIMESTAMP) - epoch_us((lag(ts) OVER w)::TIMESTAMP) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM flags)
        |SELECT strftime(MIN(ts)::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(MAX(ts)::TIMESTAMP + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       user_id, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // eq90: bigram-LM surprise — ln once per bigram TYPE quantized to
    // micros (eq47's discipline), exact BIGINT doc sums, add-one
    // smoothing with c(w1·) = bigram starts and V = unigram vocab size.
    "eq90_bigram_surprise" ->
      """WITH tt AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 2
        |                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |                ELSE []::VARCHAR[] END) AS bg
        |  FROM tt),
        |bc AS (SELECT bg, COUNT(*) AS c_ab FROM bi GROUP BY bg),
        |ctx AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c_ab) AS BIGINT) AS c_ctx
        |  FROM bc GROUP BY 1),
        |vv AS (
        |  SELECT COUNT(DISTINCT token) AS v FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents)),
        |sc AS (
        |  SELECT bc.bg,
        |         CAST(ROUND(ln((bc.c_ab + 1)::DOUBLE / (ctx.c_ctx + vv.v))
        |              * 1000000.0::DOUBLE) AS BIGINT) AS logp_micro
        |  FROM bc JOIN ctx ON ctx.w1 = string_split(bc.bg, ' ')[1] CROSS JOIN vv),
        |d AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |         CAST(SUM(logp_micro) AS BIGINT) AS logprob_micro
        |  FROM bi JOIN sc USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, logprob_micro,
        |       ROUND(CAST(logprob_micro AS DOUBLE) / (n_bigrams * 1000000.0::DOUBLE), 6) AS avg_logprob
        |FROM d ORDER BY avg_logprob ASC, doc_id LIMIT 20""".stripMargin,

    // eq89: the Lloyd chain reconstructed as generated CTEs — every
    // iteration's assignment (exact BIGINT squared-L2 argmin, cid
    // tie-break) and centroid update (floor-div of exact sums, empty
    // clusters carry the previous centroid) mirrors Clustering.kmeansDf
    // term for term, so five rounds stay bit-identical.
    "eq89_kmeans" -> kmeansSql(k = 8, iters = 5),

    // x21: product-quantization ANN — ADC top-10 for the vec_id=0 query
    // with exact-top-5 hit flags; generated per-subspace Lloyd chains.
    "x21_pq_recall" -> pqSql(subs = 8, dsub = 8, codes = 32, iters = 3),

    "x20_hll_merge_users" ->
      """WITH p AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', COUNT(DISTINCT user_id) FROM events)
        |SELECT event_type, exact_users, TRUE AS approx_ok
        |FROM p ORDER BY event_type""".stripMargin,

    // x16: HLL column profiler — the x13 convention at eq74's shape: exact
    // per-column null/distinct counts hash-compared, the HLL estimate
    // surfaced as the pinned |approx−exact| ≤ 5% flag.
    "x16_profile_columns_approx" ->
      """WITH p AS (
        |  SELECT 'event_id' AS col_name,
        |         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         COUNT(DISTINCT event_id) AS n_distinct FROM events
        |  UNION ALL
        |  SELECT 'ts', CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT ts) FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT user_id) FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT event_type) FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT value) FROM events
        |  UNION ALL
        |  SELECT 'props', CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT props) FROM events)
        |SELECT col_name, n_null, n_distinct, TRUE AS approx_ok
        |FROM p ORDER BY col_name""".stripMargin,

    // x17: the streaming CDC operator run in batch mode — eq67's window
    // compaction, but keeping tombstoned keys visible like the
    // materialized table the stream serves.
    "x17_cdc_state_batch" ->
      """WITH cl AS (
        |  SELECT * FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM cl)
        |SELECT user_id, event_type AS last_op,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts, n_changes,
        |       event_type = 'error' AS tombstoned
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // x28: the transformWithState purchase ledger run in batch mode — the
    // order-dependent record_count reproduced with a strict-preceding
    // running-max window over the processor's exact (ts, event_id) fold
    // order; cents are the engine's ROUND(value*100) exact-integer rule.
    "x28_tws_ledger" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT *,
        |         MAX(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM p)
        |SELECT user_id,
        |       COUNT(*) AS n_purchases,
        |       CAST(SUM(cents) AS BIGINT) AS total_cents,
        |       CAST(SUM(CASE WHEN prev_max IS NULL OR cents > prev_max THEN 1 ELSE 0 END) AS BIGINT) AS record_count,
        |       CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS last_cents
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    // x18: stream-static enrichment parity frame — every event stamped
    // with its user's profile (count + exact integer cents, the x7
    // convention).
    "x18_enrich_history_batch" ->
      """WITH h AS (
        |  SELECT user_id, COUNT(*) AS hist_events,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS hist_value_cents
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id,
        |       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, e.event_type,
        |       COALESCE(h.hist_events, 0) AS hist_events,
        |       COALESCE(h.hist_value_cents, 0) AS hist_value_cents
        |FROM events e LEFT JOIN h ON e.user_id = h.user_id
        |ORDER BY e.event_id""".stripMargin,

    // eq121: padding-waste audit — batch = (row_number-1)//32 per lang
    // under both assembly orders; padded = Σ batch_max × batch_size. All
    // integer math (BIGINT counts/sums, // for the ppm), so the frame
    // hash-checks exactly; the token count is eq101's ws form.
    "eq121_padding_waste" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |n AS (
        |  SELECT lang, n_tok,
        |         (CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) - 1) // 32 AS batch
        |  FROM t),
        |s AS (
        |  SELECT lang, n_tok,
        |         (CAST(row_number() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS BIGINT) - 1) // 32 AS batch
        |  FROM t),
        |nb AS (SELECT lang, batch, MAX(n_tok) AS mx, SUM(n_tok) AS tok, COUNT(*) AS c
        |       FROM n GROUP BY 1, 2),
        |sb AS (SELECT lang, batch, MAX(n_tok) AS mx, SUM(n_tok) AS tok, COUNT(*) AS c
        |       FROM s GROUP BY 1, 2),
        |agg AS (
        |  SELECT 'naive' AS strategy, lang, COUNT(*) AS n_batches,
        |         SUM(mx * c) AS padded_tokens, SUM(tok) AS real_tokens
        |  FROM nb GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'length_sorted', lang, COUNT(*), SUM(mx * c), SUM(tok)
        |  FROM sb GROUP BY 1, 2)
        |SELECT strategy, lang,
        |       CAST(n_batches AS BIGINT) AS n_batches,
        |       CAST(padded_tokens AS BIGINT) AS padded_tokens,
        |       CAST(real_tokens AS BIGINT) AS real_tokens,
        |       CAST(((padded_tokens - real_tokens) * 1000000) // padded_tokens AS BIGINT) AS waste_ppm
        |FROM agg ORDER BY strategy, lang""".stripMargin,
  )

  /** eq140 runs the eq137 delta path against the AT-REST snapshot state
    * (every frozen artifact round-tripped through storage); its funnel
    * must be BIT-IDENTICAL to eq137's, so it shares that oracle verbatim
    * — any divergence introduced by the write→read round-trip breaks the
    * hash compare against the same truth.
    *
    * eq141 audits the state AFTER the engine's O(batch) advance; its
    * oracle rebuilds the advanced state FROM SCRATCH over the merged
    * population — the eq137 delta reconstruction (shared up to the
    * `-- ::finals::` marker) extended with a global re-guard: retained
    * old band rows + the survivors' band rows recounted against the cap,
    * the old stop list restored, the hash set unioned. Matching it
    * proves advance(state, delta) ≡ state(merged) — the induction step
    * that makes any number of successive delta ingests correct. */
  /** DuckDB CTE-materialization hints: DuckDB 1.0 INLINES every CTE
    * reference, so an oracle that mentions the signature frame `s` 33
    * times recomputes the shingle→minhash chain 33 times — the eq144
    * scratch-rebuild oracle ran 201 s at sf0.001, long enough to time out
    * a parity run. Rewriting the SHARED chain CTEs to `AS MATERIALIZED`
    * (compute once, reuse — exactly the engine's own PlanMemo posture)
    * takes it to 0.4 s with bit-identical output. Names listed here are
    * the chain stages referenced more than once across the
    * eq104/eq136/eq137 families; recursive CTEs (o_reach/d_reach/v1..vN)
    * are left alone. */
  private val SharedCtes = Seq(
    "toks", "shingled", "s", "xx", "mins", "keys",       // minhash chain
    "kk", "cand", "ver", "j",                            // verified pairs
    "zq", "o_cs", "d_cs", "o_k6", "d_k6", "o_k7", "d_k7", "d_k8", // curation chain
    "o_ex", "d_ex", "o_tv", "oldh", "old_keys", "new_keys", "po",
    "okb", "stopb", "del", "ret_keys", "mm")             // index + retraction
  /** Per-CTE rewrite sites in one oracle string — the [[materializeShared]]
    * fold makes exactly this many substitutions. Exposed so the drift pin
    * in OraclesGuardSpec can assert the FULL per-CTE substitution map
    * against a recorded constant: a future pipeline
    * oracle that happens to define an unrelated CTE named `s` or `j`
    * would otherwise pick up a MATERIALIZED hint silently. */
  private[graft] def sharedCteHits(sql: String): Map[String, Int] =
    SharedCtes.map(c => c -> s"\\b$c AS \\(".r.findAllMatchIn(sql).size)
      .filter(_._2 > 0).toMap

  private[graft] def materializeSharedForTest(sql: String): String =
    materializeShared(sql)

  private def materializeShared(sql: String): String =
    SharedCtes.foldLeft(sql) { (q, c) =>
      // fail-loud rewrite guard: `NAME AS (` at a CTE
      // definition site gets the MATERIALIZED hint — semantics-neutral
      // wherever it lands on real SQL (same-named CTEs in nested WITH
      // scopes included) — but a hit INSIDE a string literal would
      // corrupt the oracle's data, not its plan. Reject at load time any
      // match sitting at odd quote parity (inside a '…' literal; DuckDB
      // doubles embedded quotes, which preserves the parity rule).
      val pat = s"\\b$c AS \\(".r
      pat.findAllMatchIn(q).foreach { m =>
        require(q.substring(0, m.start).count(_ == '\'') % 2 == 0,
          s"materializeShared: CTE name '$c' matched inside a string " +
            s"literal at offset ${m.start} — the rewrite would corrupt " +
            "the oracle; rename the CTE or drop it from SharedCtes")
      }
      pat.replaceAllIn(q, s"$c AS MATERIALIZED (")
    }

  /** The chain-family oracles BEFORE the materialization rewrite —
    * [[materializeShared]] applies only to this map (the rewrite is
    * family-scoped by construction; nothing outside `pipeline` is ever
    * touched), and OraclesGuardSpec pins the per-CTE substitution counts
    * over exactly these strings. */
  private[graft] val pipelineRaw: Map[String, String] = {
    val eq137 = pipelineBase("eq137_incremental_curation")
    val markerAt = eq137.indexOf("-- ::finals::")
    require(markerAt >= 0, "finals marker missing from eq137 oracle")
    val deltaCtes = eq137.substring(0, markerAt)
    val advanceCtes = deltaCtes +
      """stop_old AS (SELECT band, band_key FROM old_keys GROUP BY 1, 2 HAVING COUNT(*) > 50),
        |d_sk AS (SELECT k.band, k.band_key, k.doc_id FROM keys k JOIN d_k8 USING (doc_id)),
        |m_rows AS (SELECT band, band_key, doc_id FROM po
        |           UNION ALL SELECT band, band_key, doc_id FROM d_sk),
        |m_cnt AS (SELECT band, band_key, COUNT(*) AS c FROM m_rows GROUP BY 1, 2),
        |newly AS (SELECT band, band_key FROM m_cnt WHERE c > 50),
        |stop2 AS (SELECT band, band_key FROM stop_old
        |          UNION SELECT band, band_key FROM newly),
        |band2 AS (SELECT m.* FROM m_rows m ANTI JOIN stop2 USING (band, band_key)),
        |d8h AS (SELECT DISTINCT md5(d.text) AS h FROM documents d JOIN d_k8 USING (doc_id)
        |        WHERE md5(d.text) IS NOT NULL),
        |hash2 AS (SELECT h FROM oldh UNION SELECT h FROM d8h)
        |""".stripMargin
    val advanceItems =
      """SELECT 'idx_band_entries' AS item, (SELECT COUNT(*) FROM band2)::BIGINT AS n
        |UNION ALL SELECT 'idx_hash_entries', (SELECT COUNT(*) FROM hash2)::BIGINT
        |UNION ALL SELECT 'idx_stop_buckets', (SELECT COUNT(*) FROM stop2)::BIGINT
        |UNION ALL SELECT 'pack_chars', (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM mm)
        |UNION ALL SELECT 'pack_docs', (SELECT COUNT(*) FROM mm)::BIGINT
        |UNION ALL SELECT 'pack_shards', (SELECT n_units FROM mms)
        |UNION ALL SELECT 'pack_tokens', (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM mm)
        |""".stripMargin
    pipelineBase +
      ("eq140_atrest_incremental_curation" -> eq137) +
      ("eq141_state_advance" -> (advanceCtes + advanceItems + "ORDER BY item")) +
      // eq144 drives the SAME advance semantics through the generational
      // state log (ingestBatch + fold) — it must land on exactly the
      // state the in-place advance reaches, so it shares eq141's
      // scratch-rebuild oracle verbatim (the eq140/eq137 pattern).
      ("eq144_state_log_ingest" -> (advanceCtes + advanceItems + "ORDER BY item")) +
      // eq142 audits the state after the engine COMPACTS the advanced
      // tables: the seven advance items must not move (compaction is
      // semantics-free), the compacted band table's physical rows must
      // equal the effective count (the raw table IS the effective view
      // now), and the rows removed are exactly the merged rows the stop
      // list guards — all recomputed from scratch over raw documents.
      ("eq142_state_compaction" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'band_raw_rows', (SELECT COUNT(*) FROM band2)::BIGINT
          |UNION ALL SELECT 'band_rows_removed',
          |  (SELECT COUNT(*) FROM m_rows)::BIGINT - (SELECT COUNT(*) FROM band2)::BIGINT
          |ORDER BY item""".stripMargin)) +
      // eq145: post-retraction repack — the retained curated corpus
      // (the old chain's survivors minus the deleted docs, eq143's
      // doc_id % 7 = 3 predicate) RE-SHARDED from a zero prefix sum, its
      // per-lang pack summary rebuilt from scratch, plus a shard-
      // assignment checksum (sum of doc_id·(shard+1)) that breaks if any
      // retained doc lands in the wrong shard after the re-window.
      ("eq145_post_retraction_repack" -> (deltaCtes +
        """retc AS (SELECT lang, doc_id, n_tokens, n_chars FROM o_k7
          |         WHERE doc_id % 7 <> 3),
          |rw AS (SELECT lang, doc_id, n_tokens, n_chars,
          |              COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |       FROM retc)
          |SELECT lang,
          |       COUNT(*)::BIGINT AS n_docs,
          |       CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
          |       CAST(SUM(n_chars) AS BIGINT) AS t_chars,
          |       COUNT(DISTINCT cum // 2000)::BIGINT AS n_shards,
          |       CAST(MAX(cum // 2000) AS BIGINT) AS last_shard,
          |       CAST(SUM(doc_id * ((cum // 2000) + 1)) AS BIGINT) AS shard_checksum
          |FROM rw GROUP BY lang ORDER BY lang""".stripMargin)) +
      // eq146: time travel — the SAME manifest read twice after one
      // ingest + fold: as-of generation 0 must equal the scratch OLD-
      // corpus state (g0_*: eq139's base numbers, rebuilt here from raw
      // documents), while the head must equal the scratch MERGED state
      // (live_*: eq141/eq144's advance items verbatim) — proving prefix
      // resolution reconstructs committed history, not just the head.
      ("eq146_state_time_travel" -> (advanceCtes +
        """, okc AS (SELECT lang, n_tokens,
          |              COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |       FROM o_k7),
          |oks AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units FROM
          |        (SELECT DISTINCT lang, cum // 2000 AS shard FROM okc))
          |SELECT 'g0_idx_band_entries' AS item, (SELECT COUNT(*) FROM po)::BIGINT AS n
          |UNION ALL SELECT 'g0_idx_hash_entries', (SELECT COUNT(*) FROM oldh)::BIGINT
          |UNION ALL SELECT 'g0_idx_stop_buckets', (SELECT COUNT(*) FROM stop_old)::BIGINT
          |UNION ALL SELECT 'g0_pack_chars', (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM o_k7)
          |UNION ALL SELECT 'g0_pack_docs', (SELECT COUNT(*) FROM o_k7)::BIGINT
          |UNION ALL SELECT 'g0_pack_shards', (SELECT n_units FROM oks)
          |UNION ALL SELECT 'g0_pack_tokens', (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM o_k7)
          |UNION ALL SELECT 'live_idx_band_entries', (SELECT COUNT(*) FROM band2)::BIGINT
          |UNION ALL SELECT 'live_idx_hash_entries', (SELECT COUNT(*) FROM hash2)::BIGINT
          |UNION ALL SELECT 'live_idx_stop_buckets', (SELECT COUNT(*) FROM stop2)::BIGINT
          |UNION ALL SELECT 'live_pack_chars', (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM mm)
          |UNION ALL SELECT 'live_pack_docs', (SELECT COUNT(*) FROM mm)::BIGINT
          |UNION ALL SELECT 'live_pack_shards', (SELECT n_units FROM mms)
          |UNION ALL SELECT 'live_pack_tokens', (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM mm)
          |ORDER BY item""".stripMargin)) +
      // eq147: the SELF-CONTAINED log — the ingest resolves the corpus
      // store from the log's own corpus layer, so the final state must
      // be exactly eq144's (the seven advance items, shared oracle), and
      // the resolved store itself must equal the scratch population:
      // the raw old corpus plus the funnel's delta survivors (d_k8),
      // checked by count, char mass, and doc_id checksum.
      ("eq147_self_contained_log" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'corpus_docs',
          |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8)::BIGINT
          |  + (SELECT COUNT(*) FROM d_k8)::BIGINT
          |UNION ALL SELECT 'corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d_k8)
          |ORDER BY item""".stripMargin)) +
      // eq149: the full retention lifecycle — ingest → fold → vacuum →
      // snapshot release; the head state must STILL be exactly eq147's
      // (seven advance items + three corpus items, scratch-rebuilt), and
      // the three accounting items are deterministic by construction:
      // vacuum reclaims the one superseded delta generation (5 attempt
      // tables), release drops the snapshot's four tables + the corpus
      // store + the wrap marker (6), and as-of(0) is cleanly bounded (1).
      ("eq149_snapshot_release" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'corpus_docs',
          |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8)::BIGINT
          |  + (SELECT COUNT(*) FROM d_k8)::BIGINT
          |UNION ALL SELECT 'corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'vacuumed_tables', 5::BIGINT
          |UNION ALL SELECT 'released_tables', 6::BIGINT
          |UNION ALL SELECT 'asof0_bounded', 1::BIGINT
          |ORDER BY item""".stripMargin)) +
      // eq150: the MANIFEST CHECKPOINT — the checkpoint rewrites manifest
      // FILES, never a row, so the state after ingest → checkpoint →
      // fold → checkpoint → replay-probe is exactly eq147's (shared
      // scratch-rebuild oracle), plus three deterministic accounting
      // items: the second checkpoint leaves ONE data file, the three
      // manifest rows (base + delta + fold) all survive two file swaps,
      // and the committed batch id is still replay-skipped against the
      // checkpointed manifest.
      ("eq150_manifest_checkpoint" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'corpus_docs',
          |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8)::BIGINT
          |  + (SELECT COUNT(*) FROM d_k8)::BIGINT
          |UNION ALL SELECT 'corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'manifest_files', 1::BIGINT
          |UNION ALL SELECT 'manifest_rows', 3::BIGINT
          |UNION ALL SELECT 'replay_skipped', 1::BIGINT
          |ORDER BY item""".stripMargin)) +
      // eq152: the INCREMENTAL manifest checkpoint — eq150's
      // committed state verbatim (ingest → fold; partial merges must not
      // change a row any more than the full one may), with the drain
      // trajectory pinned: two maxFiles=2 calls take the three one-row
      // manifest files 3→2→1, and the replay-skip still holds against
      // the sliced-and-merged manifest.
      ("eq152_incremental_checkpoint" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'corpus_docs',
          |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8)::BIGINT
          |  + (SELECT COUNT(*) FROM d_k8)::BIGINT
          |UNION ALL SELECT 'corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'drain1_after', 2::BIGINT
          |UNION ALL SELECT 'drain2_after', 1::BIGINT
          |UNION ALL SELECT 'drain_calls', 2::BIGINT
          |UNION ALL SELECT 'manifest_files', 1::BIGINT
          |UNION ALL SELECT 'manifest_rows', 3::BIGINT
          |UNION ALL SELECT 'replay_skipped', 1::BIGINT
          |ORDER BY item""".stripMargin)) +
      // eq153: the GRACED SWEEP — a store-level GC with a grace
      // window must not change a row any reader sees, so the state items
      // are eq147's scratch rebuild verbatim; the accounting items pin
      // the contract: exactly the two AGED planted shapes (a foreign
      // attempt's table dir + a dead commit stage) are reclaimed, the
      // young in-flight stand-in survives the grace window, and the
      // replay-skip set holds across the sweep.
      ("eq153_graced_sweep" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'corpus_docs',
          |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8)::BIGINT
          |  + (SELECT COUNT(*) FROM d_k8)::BIGINT
          |UNION ALL SELECT 'corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'swept_aged', 2::BIGINT
          |UNION ALL SELECT 'swept_total', 2::BIGINT
          |UNION ALL SELECT 'kept_young', 1::BIGINT
          |UNION ALL SELECT 'replay_skipped', 1::BIGINT
          |ORDER BY item""".stripMargin)) +
      // eq154: the GRACED VACUUM — a retention GC must not change a
      // row any reader sees, so the state items are eq147's scratch
      // rebuild verbatim; the accounting items pin the reader-retention
      // contract: nothing drops while the superseding fold is young
      // (vacuumed_young=0) and a live as-of reader resolves below it
      // (asof1_live=1); the aged fold releases exactly the superseded
      // delta generation's five tables (vacuumed_aged=5); a reader's
      // pre-resolved frames surface the clean bounded-time-travel error
      // through guardAsOfRead, never a raw missing-file failure
      // (asof1_guarded_bounded=1); and the replay-skip set holds across
      // the GC (replay_skipped=1).
      ("eq154_graced_vacuum" -> (advanceCtes + advanceItems +
        """UNION ALL SELECT 'corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'corpus_docs',
          |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8)::BIGINT
          |  + (SELECT COUNT(*) FROM d_k8)::BIGINT
          |UNION ALL SELECT 'corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d_k8)
          |UNION ALL SELECT 'vacuumed_young', 0::BIGINT
          |UNION ALL SELECT 'vacuumed_aged', 5::BIGINT
          |UNION ALL SELECT 'asof1_live', 1::BIGINT
          |UNION ALL SELECT 'asof1_guarded_bounded', 1::BIGINT
          |UNION ALL SELECT 'replay_skipped', 1::BIGINT
          |ORDER BY item""".stripMargin)) +
      // eq151: post-retraction REPACK through the log — eq145's pack
      // re-accounting under the log's exactly-once discipline. The
      // retained membership is the curated OLD corpus UNION the delta
      // funnel's survivors, BOTH minus the deleted docs (the log
      // ingested the batch before the deletion, so the retraction spans
      // both sides — the difference from eq145's snapshot-only set),
      // re-windowed from a zero prefix sum; per-lang summary plus the
      // shard-assignment checksum that breaks if any retained doc lands
      // in the wrong shard.
      ("eq151_log_repack" -> (advanceCtes +
        """, retc AS (SELECT lang, doc_id, n_tokens, n_chars FROM o_k7
          |           WHERE doc_id % 7 <> 3
          |           UNION ALL
          |           SELECT lang, doc_id, n_tokens, n_chars FROM d_k8
          |           WHERE doc_id % 7 <> 3),
          |rw AS (SELECT lang, doc_id, n_tokens, n_chars,
          |              COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |       FROM retc)
          |SELECT lang,
          |       COUNT(*)::BIGINT AS n_docs,
          |       CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
          |       CAST(SUM(n_chars) AS BIGINT) AS t_chars,
          |       COUNT(DISTINCT cum // 2000)::BIGINT AS n_shards,
          |       CAST(MAX(cum // 2000) AS BIGINT) AS last_shard,
          |       CAST(SUM(doc_id * ((cum // 2000) + 1)) AS BIGINT) AS shard_checksum
          |FROM rw GROUP BY lang ORDER BY lang""".stripMargin)) +
      // eq148: CORPUS time travel — one ingest, one retraction
      // (doc_id % 7 = 3 over the resolved store, eq143/eq145's
      // predicate), one fold; the corpus layer read at three manifest
      // points, each re-derived from raw documents: gen 0 is the base
      // corpus alone, gen 1 is base ∪ the funnel's survivors (BEFORE
      // the deletion — the retract's tombstones must apply order-aware
      // in as-of resolutions too), and the live head is the fold's
      // merged store with the deletion applied to both sides.
      ("eq148_corpus_time_travel" -> (deltaCtes +
        """oldc AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 < 8),
          |d8c AS (SELECT doc_id, n_chars FROM d_k8)
          |SELECT 'g0_corpus_docs' AS item, (SELECT COUNT(*) FROM oldc)::BIGINT AS n
          |UNION ALL SELECT 'g0_corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM oldc)
          |UNION ALL SELECT 'g0_corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM oldc)
          |UNION ALL SELECT 'g1_corpus_docs',
          |  (SELECT COUNT(*) FROM oldc)::BIGINT + (SELECT COUNT(*) FROM d8c)::BIGINT
          |UNION ALL SELECT 'g1_corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM oldc)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d8c)
          |UNION ALL SELECT 'g1_corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM oldc)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d8c)
          |UNION ALL SELECT 'live_corpus_docs',
          |  (SELECT COUNT(*) FROM oldc WHERE doc_id % 7 <> 3)::BIGINT
          |  + (SELECT COUNT(*) FROM d8c WHERE doc_id % 7 <> 3)::BIGINT
          |UNION ALL SELECT 'live_corpus_chars',
          |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM oldc WHERE doc_id % 7 <> 3)
          |  + (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM d8c WHERE doc_id % 7 <> 3)
          |UNION ALL SELECT 'live_corpus_id_checksum',
          |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM oldc WHERE doc_id % 7 <> 3)
          |  + (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM d8c WHERE doc_id % 7 <> 3)
          |ORDER BY item""".stripMargin))
  }

  val pipeline: Map[String, String] =
    pipelineRaw.view.mapValues(materializeShared).toMap
}
