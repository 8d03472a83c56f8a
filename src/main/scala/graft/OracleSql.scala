package graft

/** DuckDB fragments the query oracles share.
  *
  * Every fragment here is SQL text only. None calls Spark or the
  * operators the queries run, so each oracle stays an independent
  * re-derivation of the result it checks.
  *
  * The media fragments name their CTEs with a prefix `p`, so one oracle
  * can hold the image, video and audio chains side by side (`i`, `v`,
  * `a`); the text fragments take a suffix, so one oracle can run a
  * chain over two corpus snapshots (`_o`, `_n`).
  */
object OracleSql {

  private def list(keys: Seq[String], alias: String = ""): String =
    keys.map(k => if (alias.isEmpty) k else s"$alias.$k").mkString(", ")

  private def same(keys: Seq[String], a: String, b: String): String =
    keys.map(k => s"$a.$k = $b.$k").mkString(" AND ")

  // ------------------------------------------------------------- text

  /** Distinct word-3-gram shingle list of `text`. */
  val shingles3: String =
    """list_distinct(list_transform(
      |  generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
      |  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))"""
      .stripMargin

  /** Sampling.hashBucket: the first 8 hex digits of md5("salt:expr")
    * as an integer, mod `m`. */
  def md5Bucket(expr: String, salt: String, m: Int): String =
    s"""list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
       |  i -> strpos('0123456789abcdef', substr(md5('$salt:' || $expr), i, 1)) - 1)),
       |  (h, c) -> h*16 + c) % $m""".stripMargin

  /** [[md5Bucket]] of a key column. */
  def bucketOn(salt: String, key: String, m: Int = 100): String =
    md5Bucket(s"CAST($key AS VARCHAR)", salt, m)

  /** The language-model reference slice: ~40% of documents by salted
    * md5 bucket. */
  val refPred: String = s"(${bucketOn("lmref", "doc_id")}) < 40"

  /** The BPE-ish pre-token pattern as a SQL string literal body. */
  val bpe: String = operators.TextAnalysis.BpePattern.replace("'", "''")

  /** The 64-bit simhash `hexes(doc_id, simhash)` of each document's
    * distinct tokens: per-bit ±1 votes of their md5 prefixes, as 16
    * hex digits. */
  val simhashes: String =
    """toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents),
      |words AS (SELECT doc_id, unnest(list_transform(tk, t -> substr(md5(t), 1, 16))) AS w FROM toks),
      |votes AS (
      |  SELECT doc_id, g.generate_series AS i,
      |         SUM(CASE WHEN (((strpos('0123456789abcdef', substr(w, 16 - g.generate_series // 4, 1)) - 1)
      |                        >> (g.generate_series % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM words, generate_series(0, 63) g
      |  GROUP BY doc_id, g.generate_series),
      |bits AS (SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
      |nibbles AS (SELECT doc_id, i // 4 AS nib, CAST(SUM(bit << (i % 4)) AS INT) AS nv
      |            FROM bits GROUP BY doc_id, i // 4),
      |hexes AS (SELECT doc_id, string_agg(substr('0123456789abcdef', nv + 1, 1), '' ORDER BY nib DESC) AS simhash
      |          FROM nibbles GROUP BY doc_id)""".stripMargin

  /** Winnowing over each document's Rabin–Karp 3-gram hashes `kg` of
    * md5-derived token hashes: one row per window start `j` of 4
    * (docs of ≥ 6 tokens). */
  val winnowWindows: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |th AS (SELECT doc_id, list_transform(tk, t ->
      |         list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
      |           i -> strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)), (h,c) -> h*16 + c)) AS th
      |       FROM toks),
      |kgd AS (SELECT doc_id, list_transform(generate_series(1, len(th) - 2),
      |          i -> ((((th[i] * 1000003) % 1000000007 + th[i+1]) * 1000003) % 1000000007 + th[i+2]) % 1000000007) AS kg
      |        FROM th WHERE len(th) >= 6),
      |win AS (SELECT doc_id, kg, unnest(generate_series(1, len(kg) - 3)) AS j FROM kgd)""".stripMargin

  /** BM25 for the terms 'spark', 'window' and 'table', in integers:
    * each term's 50 highest-tf postings `cand(term, doc_id, tf, dl,
    * d_denom)`, whose score ranks as tf / d_denom ([[bm25Rank]]). */
  val bm25Candidates: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |dlt AS (SELECT doc_id, len(tk) AS dl FROM tok),
      |tf AS (SELECT term, doc_id, COUNT(*) AS tf
      |       FROM (SELECT doc_id, unnest(tk) AS term FROM tok)
      |       WHERE term IN ('spark', 'window', 'table')
      |       GROUP BY term, doc_id),
      |bounded AS (SELECT term, doc_id, tf FROM (
      |              SELECT term, doc_id, tf,
      |                     row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
      |              FROM tf)
      |            WHERE rn <= 50),
      |st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_docs,
      |              CAST(SUM(dl) AS HUGEINT) AS total_len FROM dlt),
      |cand AS (SELECT term, bounded.doc_id, bounded.tf, dlt.dl,
      |                10 * total_len * bounded.tf + 3 * total_len
      |                  + 9 * CAST(dlt.dl AS HUGEINT) * n_docs AS d_denom
      |         FROM bounded JOIN dlt USING (doc_id) CROSS JOIN st)""".stripMargin

  /** The BM25 rank of posting `a` among its term's [[bm25Candidates]]
    * `b` (aggregated over b): exact, by cross-multiplying the score
    * fractions, ties to the smaller doc id. */
  val bm25Rank: String =
    """CAST(1 + SUM(CASE WHEN CAST(b.tf AS HUGEINT) * a.d_denom > CAST(a.tf AS HUGEINT) * b.d_denom
      |                    OR (CAST(b.tf AS HUGEINT) * a.d_denom = CAST(a.tf AS HUGEINT) * b.d_denom
      |                        AND b.doc_id < a.doc_id)
      |             THEN 1 ELSE 0 END) AS BIGINT)""".stripMargin

  /** The Jaccard similarity of two shingle lists. */
  def jaccard(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / len(list_distinct(list_concat($a, $b)))"

  /** Band `b.generate_series` of signature `s`: md5 of its 3 rows. */
  val bandHash: String =
    "md5(s[b.generate_series*3+1] || '|' || s[b.generate_series*3+2] || '|' || s[b.generate_series*3+3])"

  /** The 12-minhash, 4-band LSH of the word-3-gram shingles of
    * `src(doc_id, text)`: `t` (shingles `sh`), `t2` (the non-empty
    * ones), `sig` (the md5 minhashes `s`) and `bands` (band hash `bh`),
    * each name suffixed with `x`. */
  def minhashBands(src: String = "documents", x: String = ""): String =
    s"""t$x AS (SELECT doc_id, $shingles3 AS sh FROM $src),
       |t2$x AS (SELECT doc_id, sh FROM t$x WHERE len(sh) > 0),
       |sig$x AS (SELECT doc_id, sh,
       |    list_transform(generate_series(0, 11),
       |      j -> list_min(list_transform(sh, x -> md5(j || ':' || x)))) AS s
       |  FROM t2$x),
       |bands$x AS (SELECT doc_id, b.generate_series AS band, $bandHash AS bh
       |  FROM sig$x, generate_series(0, 3) b)""".stripMargin

  /** [[minhashBands]] plus the band-collision candidates `cand(id_a,
    * id_b)` and the shingle-Jaccard-verified `pairs` (≥ 0.5). */
  def minhashPairs(src: String = "documents", x: String = ""): String =
    s"""${minhashBands(src, x)},
       |cand$x AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands$x a JOIN bands$x b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs$x AS (SELECT id_a, id_b FROM cand$x
       |  JOIN t2$x ta ON ta.doc_id = id_a
       |  JOIN t2$x tb ON tb.doc_id = id_b
       |  WHERE ${jaccard("ta.sh", "tb.sh")} >= 0.5)""".stripMargin

  /** The three curation gates over `src(doc_id, text)`, names suffixed
    * with `x`: near-dup losers `losers` (minhash pairs, components),
    * quality verdicts `r(doc_id, n, drop_reason)` and exact-dup losers
    * `exl`. */
  def curationCtes(src: String, x: String): String =
    s"""${minhashPairs(src, x)},
      ${closure(s"pairs$x", "id_a", "id_b", s"e$x", s"reach$x")},
      ${losers(s"reach$x", s"losers$x")},
      v$x AS (SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n,
                   len(list_distinct(string_split(text, ' '))) AS nd,
                   len(list_filter(string_split(text, ' '),
                       tk -> list_contains(['the','a','an','and','or','of','to','in','is','it'], tk))) AS nstop
            FROM $src),
      r$x AS (SELECT doc_id, n,
                   CASE WHEN n < 10 THEN 'too_short'
                        WHEN CAST(length(text) - (n - 1) AS DOUBLE) / n > 10.0 THEN 'long_words'
                        WHEN nstop = 0 THEN 'no_stopwords'
                        WHEN 1.0 - CAST(nd AS DOUBLE) / n > 0.6 THEN 'repetitive'
                        ELSE NULL END AS drop_reason
            FROM v$x),
      ex$x AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM $src),
      exg$x AS (SELECT fp, MIN(doc_id) AS keep_id FROM ex$x GROUP BY fp),
      exl$x AS (SELECT ex$x.doc_id FROM ex$x JOIN exg$x USING (fp) WHERE ex$x.doc_id <> exg$x.keep_id)"""

  /** One run's per-doc decision row `rep` over [[curationCtes]]. */
  def reportCte(x: String): String =
    s"""rep$x AS (SELECT r$x.doc_id,
             r$x.drop_reason IS NULL AS quality_keep, r$x.drop_reason,
             r$x.doc_id IN (SELECT doc_id FROM exl$x) AS exact_dup_loser,
             r$x.doc_id IN (SELECT node FROM losers$x) AS near_dup_loser,
             (r$x.drop_reason IS NULL AND r$x.doc_id NOT IN (SELECT doc_id FROM exl$x)
              AND r$x.doc_id NOT IN (SELECT node FROM losers$x)) AS kept
           FROM r$x)"""

  /** [[curationCtes]] over `documents` plus the two round-12 gates:
    * the hashed-bigram DSIR affinity `daff(doc_id, affinity, sum_raw)`
    * and the farthest 10% of each embedding cell, `ofl(id)`. */
  val curationV2Ctes: String =
    s"""${curationCtes("documents", "")},
      dtk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      dg AS (SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                 i -> t[i] || ' ' || t[i+1])) AS gm
             FROM dtk),
      db AS (SELECT doc_id, lang, ${OracleSql.md5Bucket("gm", "dsir", 512)} AS bucket FROM dg),
      dc AS (SELECT bucket,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt,
               CAST(COUNT(*) AS BIGINT) AS raw_cnt
             FROM db GROUP BY 1),
      dds AS (SELECT db.doc_id,
                CAST(SUM(dc.tgt_cnt) AS BIGINT) AS st,
                CAST(SUM(dc.raw_cnt) AS BIGINT) AS sr
              FROM db JOIN dc USING (bucket) GROUP BY 1),
      daff AS (SELECT d.doc_id,
                 CAST(COALESCE(dds.st, 0) + 1 AS DOUBLE) / (COALESCE(dds.sr, 0) + 1) AS affinity,
                 COALESCE(dds.sr, 0) AS sum_raw
               FROM documents d LEFT JOIN dds ON dds.doc_id = d.doc_id),
      oct AS (SELECT vec_id AS cent, embedding AS cvv FROM embeddings WHERE vec_id < 16),
      oca AS (SELECT e.vec_id, oct.cent,
                list_sum(list_transform(list_zip(e.embedding, oct.cvv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
                (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                 sqrt(list_sum(list_transform(oct.cvv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
              FROM embeddings e CROSS JOIN oct),
      ocell AS (SELECT vec_id, (min({'nc': -ccos, 'cent': cent})).cent AS cell FROM oca GROUP BY vec_id),
      od AS (SELECT e.vec_id AS id, ocell.cell,
               sqrt(list_sum(list_transform(list_zip(e.embedding, c2.cvv),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))) AS dist
             FROM embeddings e
             JOIN ocell ON ocell.vec_id = e.vec_id
             JOIN oct c2 ON c2.cent = ocell.cell),
      orr AS (SELECT id,
                row_number() OVER (PARTITION BY cell ORDER BY dist DESC, id) AS rn,
                COUNT(*) OVER (PARTITION BY cell) AS nc
              FROM od),
      ofl AS (SELECT id FROM orr WHERE rn <= CAST(ceil(nc * 0.1) AS BIGINT))"""

  /** Two corpus snapshots: `old_docs`, the previous crawl (every 10th
    * document missing, ids ≡ 3 mod 7 with drifted text), and
    * `new_docs`, the corpus. */
  val snapshots: String =
    """old_docs AS (SELECT doc_id,
      |               CASE WHEN doc_id % 7 = 3 THEN text || ' drifted crawl content here'
      |                    ELSE text END AS text
      |             FROM documents WHERE doc_id % 10 != 0),
      |new_docs AS (SELECT doc_id, text FROM documents)""".stripMargin

  /** The duplicated 5-token spans of each document, merged into
    * islands: windows `win(doc_id, st, h)`, the later occurrences
    * `m(doc_id, st, e)` of a repeated window, and `g2`, each marked
    * window tagged with its island id `isl_id`. */
  val dupSpanIslands: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |win AS (SELECT doc_id, g.i AS st, md5(array_to_string(tk[g.i+1:g.i+5], ' ')) AS h
      |        FROM tok CROSS JOIN LATERAL (SELECT unnest(generate_series(0, len(tk) - 5)) AS i) g
      |        WHERE len(tk) >= 5),
      |f AS (SELECT *, COUNT(*) OVER (PARTITION BY h) AS cnt,
      |             row_number() OVER (PARTITION BY h ORDER BY doc_id, st) AS rn
      |      FROM win),
      |m AS (SELECT doc_id, st, st + 4 AS e FROM f WHERE cnt > 1 AND rn > 1),
      |isl AS (SELECT doc_id, st, e,
      |          CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY st
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |               OR st > max(e) OVER (PARTITION BY doc_id ORDER BY st
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
      |               THEN 1 ELSE 0 END AS brk
      |        FROM m),
      |g2 AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY st
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
      |       FROM isl)""".stripMargin

  /** The order-2 backoff LM trained on the reference slice
    * ([[refPred]]), scoring `target(doc_id, text)`: per target document
    * its bigram positions `${p}agg(doc_id, n_scored, n_hit)`, of which
    * the model knows `n_hit` (the bigram and its first token both seen
    * in the reference). */
  def lmHits(p: String, target: String): String =
    s"""${p}ref AS (SELECT doc_id, text FROM documents WHERE $refPred),
       |${p}rtok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM ${p}ref),
       |${p}ttok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $target),
       |${p}uni AS (SELECT w, COUNT(*) AS c1
       |  FROM (SELECT unnest(tk) AS w FROM ${p}rtok) GROUP BY w),
       |${p}rg AS (SELECT unnest(list_transform(
       |    generate_series(1, greatest(len(tk) - 1, 0)),
       |    i -> tk[i] || ' ' || tk[i + 1])) AS gram
       |  FROM ${p}rtok),
       |${p}bi AS (SELECT gram, COUNT(*) AS c2 FROM ${p}rg GROUP BY gram),
       |${p}tg AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(tk) - 1, 0)),
       |    i -> struct_pack(w1 := tk[i], gram := tk[i] || ' ' || tk[i + 1]))) AS s
       |  FROM ${p}ttok),
       |${p}per AS (SELECT t.doc_id,
       |    CASE WHEN ${p}bi.c2 IS NOT NULL AND u1.c1 IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM (SELECT doc_id, s.w1 AS w1, s.gram AS gram FROM ${p}tg) t
       |  LEFT JOIN ${p}bi ON t.gram = ${p}bi.gram
       |  LEFT JOIN ${p}uni u1 ON t.w1 = u1.w),
       |${p}agg AS (SELECT doc_id, COUNT(*) AS n_scored, CAST(SUM(hit) AS BIGINT) AS n_hit
       |  FROM ${p}per GROUP BY doc_id)""".stripMargin

  /** Hashed-bigram DSIR counts: per-doc bigram buckets `b` and the
    * per-bucket target/raw counts `c`. */
  val dsirCounts: String =
    s"""tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |g AS (SELECT doc_id, lang,
       |        unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
       |          i -> t[i] || ' ' || t[i+1])) AS gm
       |      FROM tk),
       |b AS (SELECT doc_id, lang, ${md5Bucket("gm", "dsir", 512)} AS bucket FROM g),
       |c AS (SELECT bucket,
       |        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt,
       |        CAST(COUNT(*) AS BIGINT) AS raw_cnt
       |      FROM b GROUP BY 1)""".stripMargin

  /** The features a corpus-drift audit buckets `src(text, lang)` by. */
  def driftBuckets(src: String): String =
    s"""SELECT 'len_bin' AS feature,
          CAST(length(bin(len(string_split(text, ' ')))) AS VARCHAR) AS bucket
        FROM $src
        UNION ALL
        SELECT 'stop_decile',
          CAST(CASE WHEN n > 0 THEN (s * 10) // n ELSE -1 END AS VARCHAR)
        FROM (SELECT len(string_split(text, ' ')) AS n,
                len(list_filter(string_split(text, ' '),
                  t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS s
              FROM $src)
        UNION ALL
        SELECT 'lang', COALESCE(CAST(lang AS VARCHAR), '∅') FROM $src"""

  // ---------------------------------------------------------- vectors

  /** Cosine of the arrays `qv` and `embedding`. */
  val cosine: String =
    """list_sum(list_transform(list_zip(qv, embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
      |(sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
      | sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** The 8-bit sign bucket of an embedding's first 8 coordinates. */
  val signBucket: String =
    (0 until 8).map(i => s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  /** IVF coarse cells (16 centroids, nProbe = 2) and 4-subspace PQ ADC
    * distances `pair(query_id, neighbor_id, approx_d2)` inside them. */
  val ivfPqCtes: String =
    s"""ct AS (SELECT vec_id AS cent, embedding AS cv FROM embeddings WHERE vec_id < 16),
      ca AS (SELECT e.vec_id, ct.cent,
               list_sum(list_transform(list_zip(e.embedding, ct.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(ct.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
             FROM embeddings e CROSS JOIN ct),
      cell AS (SELECT vec_id, (min({'nc': -ccos, 'cent': cent})).cent AS cell FROM ca GROUP BY vec_id),
      qp AS (SELECT vec_id AS query_id, cent AS cell FROM (
               SELECT vec_id, cent, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent) AS rn
               FROM ca WHERE vec_id < 20)
             WHERE rn <= 2),
      pcb AS (SELECT e.vec_id AS code, j.j AS subspace,
                     e.embedding[j.j*16+1 : j.j*16+16] AS subvec
              FROM embeddings e CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j
              WHERE e.vec_id < 16),
      pcs AS (SELECT e.vec_id AS neighbor_id, j.j AS subspace,
                     e.embedding[j.j*16+1 : j.j*16+16] AS sv
              FROM embeddings e CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j),
      ped AS (SELECT pcs.neighbor_id, pcs.subspace, pcb.code,
                list_sum(list_transform(list_zip(pcs.sv, pcb.subvec),
                  x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
              FROM pcs JOIN pcb USING (subspace)),
      penc AS (SELECT neighbor_id, subspace, (min({'d': d2, 'c': code})).c AS code
               FROM ped GROUP BY neighbor_id, subspace),
      pqd AS (SELECT neighbor_id AS query_id, subspace, code, d2 FROM ped WHERE neighbor_id < 20),
      pair AS (SELECT q.query_id, e.neighbor_id,
                 SUM(CASE WHEN q.subspace = 0 THEN q.d2 END) +
                 SUM(CASE WHEN q.subspace = 1 THEN q.d2 END) +
                 SUM(CASE WHEN q.subspace = 2 THEN q.d2 END) +
                 SUM(CASE WHEN q.subspace = 3 THEN q.d2 END) AS approx_d2
               FROM penc e
               JOIN cell ce ON ce.vec_id = e.neighbor_id
               JOIN qp ON qp.cell = ce.cell
               JOIN pqd q ON q.subspace = e.subspace AND q.code = e.code
                 AND q.query_id = qp.query_id
               WHERE q.query_id != e.neighbor_id
               GROUP BY q.query_id, e.neighbor_id)"""

  /** The 10 best neighbours per query of `src(query_id, neighbor_id,
    * score)`, ranked by `score` in `order`, ties to the smaller id. */
  def topK(score: String, order: String, src: String = "s"): String =
    s"""SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, $score FROM (
       |  SELECT query_id, neighbor_id, $score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY $score $order, neighbor_id) AS rnk
       |  FROM $src)
       |WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------- connected components

  /** Connected components of `pairs(a, b)` by recursive
    * min-reachability: the undirected edges `edges(u, v)` and the
    * closure `reach` of (node, r) rows, in which a node's component is MIN(r).
    * Needs `WITH RECURSIVE`. */
  def closure(pairs: String, a: String, b: String,
      edges: String = "g", reach: String = "reach"): String =
    s"""$edges AS (SELECT $a AS u, $b AS v FROM $pairs
       |  UNION SELECT $b AS u, $a AS v FROM $pairs),
       |$reach(node, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM $edges)
       |  UNION
       |  SELECT $edges.v, $reach.r FROM $reach JOIN $edges ON $edges.u = $reach.node)""".stripMargin

  /** The members `name(node, grp)` of the components in `reach` that
    * are not their component's smallest id. */
  def losers(reach: String = "reach", name: String = "losers"): String =
    s"$name AS (SELECT node, MIN(r) AS grp FROM $reach GROUP BY node HAVING node <> MIN(r))"

  /** The rows a dedup keeps of fixture ids `0 until n` plus the two
    * undecodable ids after them: every id not in `losers`, with its
    * media kind. */
  def keptRows(id: String, kind: String, n: Int): String =
    s"""SELECT CAST(i AS BIGINT) AS $id,
       |       CASE WHEN i >= $n THEN 'other' ELSE '$kind' END AS kind
       |FROM generate_series(0, ${n + 1}) t(i)
       |WHERE i NOT IN (SELECT node FROM losers)
       |ORDER BY $id""".stripMargin

  // ------------------------------------------------------ 64-bit dHash

  /** The Hamming distance of the hashes of rows `x` and `y`. */
  def hamming(x: String, y: String): String =
    s"bit_count(xor($x.lo, $y.lo)) + bit_count(xor($x.hi, $y.hi))"

  // Bits bb of `${p}bits(keys…, bb, bit)` as the hash `${p}hs(keys…,
  // lo, hi)`, in two 32-bit halves: DuckDB range-checks <<, so 1<<63
  // is not assemblable in one BIGINT, and Hamming sums over halves.
  private def halves(p: String, keys: Seq[String]): String =
    s"""${p}hs AS (
       |  SELECT ${list(keys)},
       |         bit_or(CASE WHEN bit = 1 AND bb < 32
       |                     THEN (CAST(1 AS BIGINT) << bb) ELSE 0 END) AS lo,
       |         bit_or(CASE WHEN bit = 1 AND bb >= 32
       |                     THEN (CAST(1 AS BIGINT) << (bb - 32)) ELSE 0 END) AS hi
       |  FROM ${p}bits GROUP BY ${list(keys)})""".stripMargin

  /** The image dHash of the 9×8 luma grid `px(keys…, gx, gy, luma)`:
    * bit gy*8+gx of `${p}bits` is set when the right neighbour is
    * brighter; `${p}hs(keys…, lo, hi)` holds the hash. */
  def gridHash(p: String, px: String, keys: String*): String =
    s"""${p}bits AS (
       |  SELECT ${list(keys, "a")}, (a.gy * 8 + a.gx) AS bb,
       |         CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
       |  FROM $px a JOIN $px n ON ${same(keys, "n", "a")} AND n.gy = a.gy AND n.gx = a.gx + 1
       |  WHERE a.gx < 8),
       |${halves(p, keys)}""".stripMargin

  /** The audio envelope hash of the 65 window energies `e(keys…, w, e,
    * len)`: bit w of `${p}bits` is set when window w+1 is louder per
    * frame (compared cross-multiplied, exact in integers);
    * `${p}hs(keys…, lo, hi)` holds the hash. */
  def envelopeHash(p: String, e: String, keys: String*): String =
    s"""${p}bits AS (
       |  SELECT ${list(keys, "a")}, a.w AS bb,
       |         CASE WHEN n.e * a.len > a.e * n.len THEN 1 ELSE 0 END AS bit
       |  FROM $e a JOIN $e n ON ${same(keys, "n", "a")} AND n.w = a.w + 1
       |  WHERE a.w < 64),
       |${halves(p, keys)}""".stripMargin

  /** The id pairs `${p}pairs(ia, ib)` of `${p}hs(i, lo, hi)` within
    * Hamming distance 3. */
  def hammingPairs(p: String = ""): String =
    s"""${p}pairs AS (SELECT x.i AS ia, y.i AS ib
       |  FROM ${p}hs x JOIN ${p}hs y ON x.i < y.i AND ${hamming("x", "y")} <= 3)""".stripMargin

  /** The pair rows of a near-dup query over `hs(i, lo, hi)`: ids and
    * Hamming distance, for distances ≤ 3. */
  val hammingRows: String =
    s"""SELECT id_a, id_b, hamming FROM (
       |  SELECT CAST(x.i AS BIGINT) AS id_a, CAST(y.i AS BIGINT) AS id_b,
       |         CAST(${hamming("x", "y")} AS BIGINT) AS hamming
       |  FROM hs x JOIN hs y ON x.i < y.i)
       |WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------ hash-set overlap

  /** Set overlap of the hashes in `${p}hs(i, …, lo, hi)`: the distinct
    * hashes `${p}hset` (per `by` column too, when given), per-id set
    * sizes `${p}ns(i, n)` and per-pair match counts `${p}mm(ia, ib,
    * nm)`. Hashes match when equal, or within `maxHamming` bits. */
  def setOverlap(p: String = "", by: Seq[String] = Nil, maxHamming: Int = 0): String = {
    val matches =
      if (maxHamming == 0) same(by ++ Seq("lo", "hi"), "x", "y") + " AND x.i < y.i"
      else s"x.i < y.i AND ${hamming("x", "y")} <= $maxHamming"
    s"""${p}hset AS (SELECT DISTINCT ${list("i" +: by :+ "lo" :+ "hi")} FROM ${p}hs),
       |${p}ns AS (SELECT i, COUNT(*) AS n FROM ${p}hset GROUP BY i),
       |${p}mm AS (SELECT x.i AS ia, y.i AS ib, COUNT(*) AS nm
       |  FROM ${p}hset x JOIN ${p}hset y ON $matches
       |  GROUP BY x.i, y.i)""".stripMargin
  }

  /** The overlap fraction of a `${p}mm` row: matches over the smaller
    * set. */
  val overlapFrac: String = "CAST(nm AS DOUBLE) / LEAST(na.n, nb.n)"

  private def overlapJoin(p: String): String =
    s"${p}mm JOIN ${p}ns na ON na.i = ${p}mm.ia JOIN ${p}ns nb ON nb.i = ${p}mm.ib"

  /** The [[setOverlap]] id pairs `${p}pairs(ia, ib)` whose overlap
    * fraction clears 0.5. */
  def overlapPairs(p: String = ""): String =
    s"""${p}pairs AS (SELECT ia, ib FROM ${overlapJoin(p)}
       |  WHERE $overlapFrac >= 0.5)""".stripMargin

  /** The pair rows of a [[setOverlap]] near-dup query: ids, match
    * count and fraction, for fractions ≥ 0.5. */
  val overlapRows: String =
    s"""SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
       |       CAST(nm AS BIGINT) AS n_match, $overlapFrac AS match_frac
       |FROM ${overlapJoin("")}
       |WHERE $overlapFrac >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Incremental dedup against a persisted index: the new ids
    * `matched(nid)` (side 1) whose distinct hashes of `hs(side, id, …,
    * lo, hi)` overlap some history id's (side 0) by ≥ 0.5 of the
    * smaller set. */
  val indexMatches: String =
    """hset AS (SELECT DISTINCT side, id, lo, hi FROM hs),
      |ns AS (SELECT side, id, COUNT(*) AS n FROM hset GROUP BY side, id),
      |mm AS (SELECT n.id AS nid, o.id AS oid, COUNT(*) AS nm
      |  FROM hset n JOIN hset o
      |    ON n.side = 1 AND o.side = 0 AND n.lo = o.lo AND n.hi = o.hi
      |  GROUP BY n.id, o.id),
      |matched AS (
      |  SELECT DISTINCT mm.nid
      |  FROM mm JOIN ns nn ON nn.side = 1 AND nn.id = mm.nid
      |          JOIN ns no ON no.side = 0 AND no.id = mm.oid
      |  WHERE CAST(mm.nm AS DOUBLE) / LEAST(nn.n, no.n) >= 0.5)""".stripMargin

  /** The increment rows an index dedup keeps: every id of `ids` not in
    * `matched`, the last one undecodable. */
  def incrementKept(id: String, kind: String, ids: Seq[Int], matched: String = "nid"): String =
    s"""SELECT CAST(i AS BIGINT) AS $id,
       |       CASE WHEN i = ${ids.last} THEN 'other' ELSE '$kind' END AS kind
       |FROM (SELECT unnest([${ids.mkString(", ")}]) AS i)
       |WHERE i NOT IN (SELECT $matched FROM matched)
       |ORDER BY $id""".stripMargin

  // ------------------------------------------------------------ media
  // Decoded pixel stats, and the oracle side of [[MediaFixtures]]:
  // each family's pixels and samples recomputed from the formula its
  // encoder was given.

  /** The per-channel pixel stats rows of decoded images: dimensions
    * from `dims(i, w, h[, ch])`, and per image the md5 of the sample
    * bytes `src(i, y, x, c, v)` in row-major order and each channel's
    * mean. */
  def pixelStats(src: String, channels: Boolean = true): String =
    s"""md AS (SELECT i, md5(string_agg(printf('%02x', v), '' ORDER BY y, x, c)) AS pixel_md5
       |  FROM $src GROUP BY i),
       |mn AS (SELECT i, c AS channel, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_val
       |  FROM $src GROUP BY i, c)
       |SELECT CAST(d.i AS BIGINT) AS img_id, CAST(d.w AS BIGINT) AS width,
       |       CAST(d.h AS BIGINT) AS height,${if (channels) " CAST(d.ch AS BIGINT) AS channels," else ""}
       |       CAST(mn.channel AS BIGINT) AS channel, mn.mean_val, md.pixel_md5
       |FROM dims d JOIN mn ON mn.i = d.i JOIN md ON md.i = d.i
       |ORDER BY img_id, channel""".stripMargin

  /** The 9×8 nearest-neighbour luma grid `${p}px(keys…, gx, gy, luma)`
    * of the image family formula over `src(keys…, b, v, w, h, ch)`:
    * v = 1 shifts brightness +40 (an upscaled copy samples the same
    * source pixels), v = 2 adds +25 on a sparse mask. */
  def imageGrid(p: String, src: String, keys: String*): String =
    s"""${p}cells AS (
       |  SELECT ${list(keys)}, b, v, ch, gx, gy,
       |         ((gx * w) // 9) AS sx, ((gy * h) // 8) AS sy
       |  FROM $src, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
       |${p}px AS (
       |  SELECT ${list(keys)}, gx, gy,
       |         CASE WHEN ch >= 3 THEN (f0 + f1 + f2) // 3 ELSE f0 END AS luma
       |  FROM (SELECT *,
       |          (sx*17 + sy*29 + b*53) % 180 + sh AS f0,
       |          (sx*17 + sy*29 + 37 + b*53) % 180 + sh AS f1,
       |          (sx*17 + sy*29 + 74 + b*53) % 180 + sh AS f2
       |        FROM (SELECT *,
       |                CASE WHEN v = 1 THEN 40
       |                     WHEN v = 2 AND (sx + sy) % 11 = 0 THEN 25
       |                     ELSE 0 END AS sh
       |              FROM ${p}cells)))""".stripMargin

  /** [[MediaFixtures.images18]]: `${p}imgs(i, b, v, w, h, ch)` and its
    * [[imageGrid]]. */
  def images18(p: String = ""): String =
    s"""${p}imgs AS (
       |  SELECT i, (i // 3) AS b, (i % 3) AS v,
       |         12 + (i // 3) AS w, 10 + ((i // 3) % 4) AS h,
       |         CASE (i // 3) % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS ch
       |  FROM generate_series(0, 17) t(i)),
       |${imageGrid(p, s"${p}imgs", "i")}""".stripMargin

  /** The 9×8 luma grid `${p}px(keys…, f, gx, gy, luma)` of the video
    * family formula over frames `src(keys…, f, b, v, w, h)`, with the
    * per-pixel edit `sh`. */
  def videoGrid(p: String, src: String, sh: String, keys: String*): String =
    s"""${p}cells AS (
       |  SELECT ${list(keys)}, f, b, v, gx, gy, ((gx * w) // 9) AS sx, ((gy * h) // 8) AS sy
       |  FROM $src, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
       |${p}px AS (
       |  SELECT ${list(keys)}, f, gx, gy, (f0 + f1 + f2) // 3 AS luma
       |  FROM (SELECT *,
       |          (sx*17 + sy*29 + f*41 + b*53) % 180 + sh AS f0,
       |          (sx*17 + sy*29 + 37 + f*41 + b*53) % 180 + sh AS f1,
       |          (sx*17 + sy*29 + 74 + f*41 + b*53) % 180 + sh AS f2
       |        FROM (SELECT *, $sh AS sh FROM ${p}cells)))""".stripMargin

  /** [[MediaFixtures.videos10]], every 2nd frame: `vids`, `fr` and its
    * [[videoGrid]]. */
  val videos10: String =
    s"""vids AS (
       |  SELECT i, (i // 2) AS b, (i % 2) AS v,
       |         12 + (i // 2) % 3 AS w, 10 + (i // 2) % 2 AS h,
       |         4 + (i // 2) % 3 AS nf
       |  FROM generate_series(0, 9) t(i)),
       |fr AS (SELECT i, b, v, w, h, unnest(generate_series(0, nf - 1, 2)) AS f
       |  FROM vids),
       |${videoGrid("", "fr",
         """CASE WHEN v = 1 THEN 40 ELSE 0 END +
           |CASE WHEN v = 1 AND (sx + sy) % 3 = 0 AND (b = 0 OR f = 2) THEN 25 ELSE 0 END""".stripMargin,
         "i")}""".stripMargin

  /** [[MediaFixtures.videosShifted12]], every frame: `${p}vids`,
    * `${p}fr` (physical frames carry the content index f, which a trim
    * shifts) and its [[videoGrid]]. */
  def videosShifted12(p: String = ""): String =
    s"""${p}vids AS (
       |  SELECT i, (i // 3) AS b, (i % 3) AS v,
       |         12 + (i // 3) % 3 AS w, 10 + (i // 3) % 2 AS h,
       |         6 + (i // 3) AS nf0
       |  FROM generate_series(0, 11) t(i)),
       |${p}fr AS (
       |  SELECT i, b, v, w, h,
       |         unnest(generate_series(CASE WHEN v = 1 THEN 2 ELSE 0 END, nf0 - 1)) AS f
       |  FROM ${p}vids),
       |${videoGrid(p, s"${p}fr",
         "CASE WHEN v = 2 AND (sx + sy) % 3 = 0 AND f % 3 <> 0 THEN 25 ELSE 0 END", "i")}""".stripMargin

  /** [[MediaFixtures.clips12]]: per-sample values `smp(i, nf, f, s)`
    * and the 65 floor-window energies `e(i, w, len, e)` of each whole
    * clip. */
  val clips12: String =
    """clips AS (
      |  SELECT i, (i // 3) AS b, (i % 3) AS v,
      |         400 + (i // 3) * 37 AS nf, 1 + (i // 3) % 2 AS ch
      |  FROM generate_series(0, 11) t(i)),
      |fr AS (SELECT i, b, v, nf, ch, unnest(generate_series(0, nf - 1)) AS f
      |  FROM clips),
      |cs AS (SELECT i, b, v, nf, f, unnest(generate_series(0, ch - 1)) AS c
      |  FROM fr),
      |smp AS (
      |  SELECT i, nf, f,
      |         (((f*31 + c*17 + b*101) % 4001) - 2000) *
      |         CASE WHEN v = 1 THEN 3
      |              WHEN v = 2 AND b = 0 AND ((f * 65) // nf) % 2 = 0 THEN 4
      |              WHEN v = 2 AND b <> 0 AND (f * 10) // nf = 3 THEN 4
      |              ELSE 1 END AS s
      |  FROM cs),
      |win AS (
      |  SELECT c.i, c.nf, w, (w * c.nf) // 65 AS lo, ((w + 1) * c.nf) // 65 AS hi
      |  FROM clips c, generate_series(0, 64) ws(w)),
      |e AS (
      |  SELECT win.i, win.w, (win.hi - win.lo) AS len, SUM(ABS(smp.s)) AS e
      |  FROM win JOIN smp ON smp.i = win.i AND smp.f >= win.lo AND smp.f < win.hi
      |  GROUP BY win.i, win.w, win.hi, win.lo)""".stripMargin

  /** The 65 floor windows `${p}win(keys…, s, w, wf, wt)` of each
    * 128-frame segment `${p}segs` of `src(keys…, <n>)`, `n` frames
    * long, for the segments 0 to `maxSeg` that hold ≥ 65 frames. */
  def segmentWindows(p: String, src: String, n: String, maxSeg: Int, keys: String*): String =
    s"""${p}segs AS (
       |  SELECT ${list(keys)}, s, s * 128 AS sfrom, LEAST(s * 128 + 128, $n) AS sto
       |  FROM $src, generate_series(0, $maxSeg) ss(s)
       |  WHERE s * 128 + 65 <= $n),
       |${p}win AS (
       |  SELECT ${list(keys)}, s, w,
       |         sfrom + (w * (sto - sfrom)) // 65 AS wf,
       |         sfrom + ((w + 1) * (sto - sfrom)) // 65 AS wt
       |  FROM ${p}segs, generate_series(0, 64) ws(w))""".stripMargin

  /** The window energies `${p}e(keys…, s, w, len, e)`: the per-frame
    * amplitudes `${p}smp(keys…, f, aamp)` summed over
    * [[segmentWindows]]. */
  def segmentEnergies(p: String, keys: String*): String = {
    val win = s"${p}win"
    val smp = s"${p}smp"
    s"""${p}e AS (
       |  SELECT ${list(keys, win)}, $win.s, $win.w, ($win.wt - $win.wf) AS len,
       |         SUM($smp.aamp) AS e
       |  FROM $win JOIN $smp ON ${same(keys, smp, win)}
       |                     AND $smp.f >= $win.wf AND $smp.f < $win.wt
       |  GROUP BY ${list(keys, win)}, $win.s, $win.w, $win.wt, $win.wf)""".stripMargin
  }

  /** [[MediaFixtures.clipsShifted12]]: each clip's [[segmentWindows]],
    * per-frame amplitudes with the trim's content shift and the edit
    * masks, and their [[segmentEnergies]]. */
  def clipsShifted12(p: String = ""): String =
    s"""${p}clips AS (
       |  SELECT i, (i // 3) AS b, (i % 3) AS v,
       |         500 + (i // 3) * 61 AS nf0, 1 + (i // 3) % 2 AS ch,
       |         CASE WHEN i % 3 = 1 THEN 128 ELSE 0 END AS trim
       |  FROM generate_series(0, 11) t(i)),
       |${p}phys AS (SELECT *, nf0 - trim AS pn FROM ${p}clips),
       |${segmentWindows(p, s"${p}phys", "pn", 10, "i")},
       |${p}fr AS (
       |  SELECT i, b, v, ch, trim, unnest(generate_series(0, pn - 1)) AS f
       |  FROM ${p}phys),
       |${p}fm AS ( -- per-frame gain multiplier (physical segment masks)
       |  SELECT i, b, trim, f, ch,
       |         CASE WHEN v = 1 THEN 3
       |              WHEN v = 2 AND f % 128 < 64 AND
       |                   CASE WHEN b % 2 = 0 THEN (f // 128) % 3 <> 0
       |                        ELSE (f // 128) % 2 = 1 END
       |              THEN 4 ELSE 1 END AS mult
       |  FROM ${p}fr),
       |${p}cs AS (SELECT i, b, trim, f, mult, unnest(generate_series(0, ch - 1)) AS c
       |  FROM ${p}fm),
       |${p}smp AS ( -- total |amplitude| per (clip, frame) over channels
       |  SELECT i, f,
       |         SUM(ABS(((((f + trim) * 31 + c * 17 + b * 101) % 4001) - 2000)
       |                 * mult)) AS aamp
       |  FROM ${p}cs GROUP BY i, f),
       |${segmentEnergies(p, "i")}""".stripMargin

  /** [[MediaFixtures.resampleClips]]: the window energies `e(i, s, w,
    * len, e)` of each clip's logical source. Every fixture rate is an
    * ideal integer resample with a 65-divisible segment length, so all
    * 65 physical windows of a segment are equally long, and each
    * cross-multiplied comparison of [[envelopeHash]] reduces to the
    * sign of the difference of these logical energies. */
  val resampleClips: String =
    """clips AS (
      |  SELECT i, (i // 3) AS b, (i % 3) AS v,
      |         260 * (4 + (i // 3)) AS L, 1 + (i // 3) % 2 AS ch,
      |         4 + (i // 3) AS nseg
      |  FROM generate_series(0, 11) t(i)),
      |lg AS ( -- logical source frames (shared by all rates of a family)
      |  SELECT i, b, v, ch, unnest(generate_series(0, L - 1)) AS g
      |  FROM clips),
      |lm AS ( -- edit = CONTENT REPLACEMENT (shifted source phase) in
      |        -- masked segments of v2; gain 3 on v1
      |  SELECT i, b, ch, g,
      |         CASE WHEN v = 2 AND
      |                   CASE WHEN b % 2 = 0 THEN (g // 260) % 3 <> 0
      |                        ELSE (g // 260) % 2 = 1 END
      |              THEN g + 7777 ELSE g END AS ge,
      |         CASE WHEN v = 1 THEN 3 ELSE 1 END AS mult
      |  FROM lg),
      |cs AS (SELECT i, b, g, ge, mult, unnest(generate_series(0, ch - 1)) AS c
      |  FROM lm),
      |smp AS ( -- total |amplitude| per (clip, logical frame) over channels;
      |         -- quadratic-phase source (g² decorrelates families/segments)
      |  SELECT i, g,
      |         SUM(ABS(((((ge * ge) % 4001) * (31 + b) + ge * 7 + c * 17
      |                   + b * 101) % 4001 - 2000) * mult)) AS aamp
      |  FROM cs GROUP BY i, g),
      |segs AS (SELECT i, unnest(generate_series(0, nseg - 1)) AS s FROM clips),
      |win AS ( -- time window w of segment s in LOGICAL frames
      |  SELECT i, s, w, s * 260 + w * 4 AS wf, s * 260 + w * 4 + 4 AS wt
      |  FROM segs, generate_series(0, 64) ws(w)),
      |e AS (
      |  SELECT win.i, win.s, win.w, (win.wt - win.wf) AS len, SUM(smp.aamp) AS e
      |  FROM win JOIN smp ON smp.i = win.i AND smp.g >= win.wf AND smp.g < win.wt
      |  GROUP BY win.i, win.s, win.w, win.wt, win.wf)""".stripMargin
}
