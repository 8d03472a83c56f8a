package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Fingerprint, Graph, Multimodal, Report, Sampling, Search, Similarity, TextAnalysis}

/** Training-data-pipeline queries (SURVEY §2.9): dedup, similarity
  * search, text analysis, multimodal columns — wired to the driver
  * contract with DuckDB oracles.
  *
  * Oracle strategy: EXACT operators (n-gram Jaccard, brute-force
  * top-k, text stats, exact dedup) get an independent exact oracle.
  * APPROXIMATE operators (minhash/LSH, sign-bucket ANN) get the
  * **algorithm as the oracle**: the identical deterministic md5
  * minhashes / band hashes / sign buckets expressed in SQL — the
  * oracle recomputes the algorithm from scratch, so every stage
  * (shingling, hashing, banding, candidate join, verify) is checked
  * value-for-value without demanding impossible exactness from an
  * approximation.
  */
object PipelineQueries {

  // ------------------------------------------------------- text stats
  private val qTextStats = Queries.Q(
    "p_text_stats",
    Some(s"""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS n_stopwords,
             CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(string_split(text, ' '),
                       t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
                       / len(string_split(text, ' ')) END AS stopword_ratio,
             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS n_punct,
             len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents
      ORDER BY doc_id"""),
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.stopwordCount(col("text")).as("n_stopwords"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_word_tokens"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------------- quality + language mix
  // Per-doc quality + language guess. Output stays per-row double
  // (identical arithmetic order both engines → bit-identical); never
  // SUM a computed double through decimal (DuckDB truncates where
  // Spark rounds — Exact.scala rule 1).
  private val qLangQuality = Queries.Q(
    "p_lang_quality",
    Some("""
      WITH v AS (
        SELECT doc_id, text,
               len(string_split(text,' ')) AS n,
               len(list_filter(string_split(text,' '),
                   t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop,
               len(list_filter(string_split(text,' '), t -> list_contains(['the','and','of','is','with'], t))) AS en,
               len(list_filter(string_split(text,' '), t -> list_contains(['el','la','los','las','es'], t))) AS es,
               len(list_filter(string_split(text,' '), t -> list_contains(['le','la','les','est','et'], t))) AS fr,
               len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ist'], t))) AS de,
               len(list_filter(string_split(text,' '), t -> list_contains(['的','是','了','和','在'], t))) AS zh
        FROM documents)
      SELECT doc_id,
             least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.4 +
             least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(nstop AS DOUBLE) / n END) * 5.0, 1.0) * 0.3 +
             (CASE WHEN CAST(length(text) - (n - 1) AS DOUBLE) / n BETWEEN 3.0 AND 10.0
                   THEN 1.0 ELSE 0.5 END) * 0.3 AS quality,
             CASE WHEN greatest(en, es, fr, de, zh) = 0 THEN 'und'
                  WHEN en = greatest(en, es, fr, de, zh) THEN 'en'
                  WHEN es = greatest(en, es, fr, de, zh) THEN 'es'
                  WHEN fr = greatest(en, es, fr, de, zh) THEN 'fr'
                  WHEN de = greatest(en, es, fr, de, zh) THEN 'de'
                  ELSE 'zh' END AS lang_guess
      FROM v
      ORDER BY doc_id"""),
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langGuess(col("text")).as("lang_guess"))
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------------- repetition signals
  // Gopher-style intra-document repetition filters (dup-token
  // fraction, top-bigram share). All-integer counts plus two
  // divisions performed in identical order on both engines; the
  // top-bigram tiebreak is the deterministic max(struct(count,
  // bigram)) on both sides (struct comparison is field-order
  // lexicographic in Spark and DuckDB alike).
  private val qRepetitionStats = Queries.Q(
    "p_repetition_stats",
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      st AS (SELECT doc_id, tk, len(tk) AS n, len(list_distinct(tk)) AS nd
             FROM toks WHERE len(tk) >= 2),
      bg AS (SELECT doc_id, n, nd,
               unnest(list_transform(generate_series(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i+1])) AS bigram
             FROM st),
      c AS (SELECT doc_id, bigram, COUNT(*) AS c, MIN(n) AS n, MIN(nd) AS nd
            FROM bg GROUP BY doc_id, bigram),
      a AS (SELECT doc_id, MIN(n) AS n_tokens, MIN(nd) AS n_distinct_tokens,
                   max({'c': c, 'bigram': bigram}) AS top,
                   SUM(c) AS nb
            FROM c GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct_tokens,
             CAST(1 AS DOUBLE) - CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_frac,
             (top).bigram AS top_bigram,
             (top).c AS top_bigram_count,
             CAST((top).c AS DOUBLE) / nb AS top_bigram_frac
      FROM a
      ORDER BY doc_id"""),
    (s, dir) =>
      TextAnalysis.repetitionStats(Tables(s, dir).documents, "doc_id", "text")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------------------------ exact dedup
  private val qExactDedup = Queries.Q(
    "p_exact_dedup_groups",
    Some("""
      SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
             MIN(doc_id) AS keep_id,
             COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1
      ORDER BY fingerprint"""),
    (s, dir) =>
      Dedup.exactGroups(Tables(s, dir).documents, "doc_id", "text")
        .transform(Queries.sortedSmall(_, "fingerprint")))

  // --------------------------------------- exact n-gram Jaccard pairs
  private val qNgramJaccard = Queries.Q(
    "p_ngram_jaccard_pairs",
    Some(s"""
      WITH t AS (SELECT doc_id, ${OracleSql.shingles3} AS sh FROM documents),
      t2 AS (SELECT doc_id, sh, len(sh) AS l FROM t WHERE len(sh) > 0)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      FROM t2 a JOIN t2 b
        ON a.doc_id < b.doc_id
       AND CAST(b.l AS DOUBLE) >= a.l * 0.5 AND CAST(a.l AS DOUBLE) >= b.l * 0.5
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
      ORDER BY id_a, id_b"""),
    (s, dir) =>
      Queries.sortedSmall(
        Dedup.ngramJaccardPairs(Tables(s, dir).documents, "doc_id", "text", n = 3, threshold = 0.5),
        "id_a", "id_b"))

  // ----------------------------- minhash/LSH near-dup (algorithm-as-oracle)
  private val qMinhashNearDup = Queries.Q(
    "p_minhash_near_dup_pairs",
    Some(s"""
      WITH ${OracleSql.minhashPairs()}
      SELECT id_a, id_b, ${OracleSql.jaccard("ta.sh", "tb.sh")} AS jac
      FROM pairs
      JOIN t2 ta ON ta.doc_id = id_a
      JOIN t2 tb ON tb.doc_id = id_b
      ORDER BY id_a, id_b"""),
    (s, dir) =>
      Queries.sortedSmall(
        Dedup.nearDupPairsShingled(Tables(s, dir).documents, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5),
        "id_a", "id_b"))

  // ------------------------------------------- near-dup groups (CC)
  // The resolution step: minhash near-dup PAIRS (exact same pipeline
  // and parameters as p_minhash_near_dup_pairs) → connected
  // components → one (doc_id, group_id) row per clustered doc, with
  // group_id = smallest doc_id in the cluster. The oracle recomputes
  // the pairs with the shared CTEs and resolves components with a
  // recursive min-reachability CTE — every stage value-checked.
  private val qDupGroups = Queries.Q(
    "p_dup_groups",
    Some(s"""
      WITH RECURSIVE ${OracleSql.minhashPairs()},
      ${OracleSql.closure("pairs", "id_a", "id_b")}
      SELECT node AS doc_id, MIN(r) AS group_id
      FROM reach GROUP BY node ORDER BY doc_id"""),
    (s, dir) =>
      Graph.connectedComponents(
        Dedup.nearDupPairsShingled(Tables(s, dir).documents, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5),
        "id_a", "id_b")
        .select(col("node").as("doc_id"), col("component").as("group_id"))
        .transform(Queries.sortedSmall(_, "doc_id")))

  // --------------------------------------- leakage-safe group split
  // Constructive counterpart of the p_split_contamination audit: that
  // query DETECTS near-dup pairs straddling the train/test boundary
  // under per-doc hash splitting; [[Dedup.groupSafeSplit]] PREVENTS
  // them by hashing the near-dup group representative (CC min id;
  // singletons hash their own id — same salt ⇒ byte-identical to
  // Sampling.withSplit for every unclustered doc). The oracle replays
  // the full chain: shared shingle CTE → minhash/banding → pairs →
  // recursive-CTE components → md5 bucket on the group rep.
  private val qGroupSafeSplit = Queries.Q(
    "p_group_safe_split",
    Some(s"""
      WITH RECURSIVE ${OracleSql.minhashPairs()},
      ${OracleSql.closure("pairs", "id_a", "id_b")},
      grp AS (SELECT node, MIN(r) AS group_id FROM reach GROUP BY node),
      dg AS (SELECT d.doc_id, COALESCE(grp.group_id, d.doc_id) AS group_id
             FROM documents d LEFT JOIN grp ON grp.node = d.doc_id),
      gb AS (SELECT doc_id, group_id,
               ${OracleSql.bucketOn("split25", "group_id")} AS sb FROM dg)
      SELECT doc_id, group_id,
             CASE WHEN sb < 80 THEN 'train' WHEN sb < 90 THEN 'val' ELSE 'test' END AS split
      FROM gb ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.groupSafeSplit(Tables(s, dir).documents, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
        salt = "split25", trainPct = 80, valPct = 10)
        .transform(Queries.sortedSmall(_, "doc_id")))

  // -------------------------------------- minhash bucket-overflow audit
  // Production surface for [[Dedup.minhashBucketOverflow]]: the audit
  // companion of the `maxBucket` candidate cap (ADVICE r5 — callers
  // must be able to SEE what a cap drops, not just trust it). Run with
  // maxBucket = 1 it enumerates every multi-member band bucket, i.e.
  // the full candidate-generation load map; with the production cap it
  // lists exactly the dropped buckets (empty = the cap lost nothing).
  // Same shingle/signature/banding parameters as
  // p_minhash_near_dup_pairs, so the audit rows ARE that query's
  // buckets. Corpus note: every doc has >= 10 tokens (verified), so
  // no empty shingle set is dropped before the signature.
  private val qMinhashBucketAudit = Queries.Q(
    "p_minhash_bucket_audit",
    Some(s"""
      WITH ${OracleSql.minhashBands()}
      SELECT CAST(band AS BIGINT) AS band, bh AS band_hash,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_ids
      FROM bands
      GROUP BY band, bh
      HAVING COUNT(DISTINCT doc_id) > 1
      ORDER BY band, band_hash"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // same two-step token materialization as the dedup frontier
      // (inline split re-evaluates per output element — Dedup scaladoc)
      val toks = docs
        .select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
        .repartition(col("doc_id"))
      val sh = toks.select(
        col("doc_id"),
        // fused distinct-shingle kernel (r22) — same values as
        // array_distinct of the positional word n-grams, one pass
        graft.functions.GraftFunctions.distinctShingles(col("__toks"), 3).as("sh"))
      val sig = Dedup.minhashSignatureOver(sh, "doc_id", col("sh"), 12)
      Dedup.minhashBucketOverflow(sig, "doc_id", k = 12, rowsPerBand = 3, maxBucket = 1)
        .select(
          col("band").cast("long").as("band"),
          col("band_hash"),
          col("n_ids").cast("long").as("n_ids"))
        .transform(Queries.sortedSmall(_, "band", "band_hash"))
    })

  // ------------------------------------------------ simhash fingerprints
  private val qSimhash = Queries.Q(
    "p_simhash64",
    Some(s"""
      WITH ${OracleSql.simhashes}
      SELECT doc_id, simhash FROM hexes ORDER BY doc_id"""),
    (s, dir) =>
      Queries.sortedSmall(
        Dedup.simhash64ByKey(Tables(s, dir).documents, "doc_id", "text", "simhash"),
        "doc_id"))

  // ------------------------------- simhash near-dup pairs (Hamming ≤ 3)
  // The pairing stage on top of p_simhash64: 4-block pigeonhole
  // candidates + xor/popcount verify. The oracle recomputes the
  // identical simhashes (same CTEs as p_simhash64), blocks them the
  // same way, and verifies with per-nibble xor+bit_count — every
  // stage value-checked, all-integer output.
  private val qSimhashNearDup = Queries.Q(
    "p_simhash_near_dup",
    Some(s"""
      WITH ${OracleSql.simhashes},
      bands AS (SELECT doc_id, simhash, b.generate_series AS band,
                  list_reduce(list_prepend(0, list_transform(generate_series(1, 4),
                    i -> strpos('0123456789abcdef', substr(simhash, b.generate_series*4 + i, 1)) - 1)),
                    (h, c) -> h*16 + c) AS bv
                FROM hexes, generate_series(0, 3) b),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sa, b.simhash AS sb
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT id_a, id_b,
             CAST(list_sum(list_transform(generate_series(1, 16),
               i -> bit_count(xor(strpos('0123456789abcdef', substr(sa, i, 1)) - 1,
                                  strpos('0123456789abcdef', substr(sb, i, 1)) - 1)))) AS BIGINT) AS hamming
      FROM cand
      WHERE list_sum(list_transform(generate_series(1, 16),
              i -> bit_count(xor(strpos('0123456789abcdef', substr(sa, i, 1)) - 1,
                                 strpos('0123456789abcdef', substr(sb, i, 1)) - 1)))) <= 3
      ORDER BY id_a, id_b"""),
    (s, dir) =>
      Dedup.simhashNearDupPairs(Tables(s, dir).documents, "doc_id", "text", maxHamming = 3)
        .transform(Queries.sortedSmall(_, "id_a", "id_b")))

  // ----------------------------------------- inverted-index keyword search
  // Disjunctive keyword top-k over the posting table. Ranking is
  // all-integer (matched terms, summed tf, doc id) so the oracle is
  // exact; the fully-deterministic tiebreak makes the top-k SET
  // stable. DuckDB SUM(BIGINT) is HUGEINT -> explicit BIGINT cast.
  private val qKeywordTopK = Queries.Q(
    "p_keyword_topk",
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term IN ('join', 'vector', 'spark') GROUP BY doc_id, term),
      r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(SUM(tf) AS BIGINT) AS total_tf
            FROM tf GROUP BY doc_id)
      SELECT doc_id, n_terms, total_tf FROM r
      ORDER BY n_terms DESC, total_tf DESC, doc_id LIMIT 50"""),
    (s, dir) =>
      Search.keywordTopK(Tables(s, dir).documents, "doc_id", "text",
        terms = Seq("join", "vector", "spark"), k = 50)
        .transform(Queries.sortedSmall(_, "doc_id")))

  // -------------------------------- winnowing fingerprints (rolling hash)
  // Position-aware document fingerprints: Rabin–Karp k-gram hashes
  // over md5-derived token hashes, winnowed (min per window of w,
  // rightmost on ties). All-integer arithmetic ⇒ the oracle is
  // bit-exact at every stage. k=3, w=4 ⇒ docs shorter than 6 tokens
  // yield no rows (corpus min is 10 — every doc contributes).
  private val qWinnowFingerprints = Queries.Q(
    "p_winnow_fingerprints",
    Some(s"""
      WITH ${OracleSql.winnowWindows},
      sel AS (SELECT doc_id,
                CAST(j - 1 + list_reduce(list_prepend(-1, generate_series(0, 3)),
                  (acc, t) -> CASE WHEN kg[CAST(j + t AS INT)] = list_min(list_slice(kg, j, j + 3)) THEN t ELSE acc END) AS BIGINT) AS pos,
                list_min(list_slice(kg, j, j + 3)) AS fp
              FROM win)
      SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos, fp"""),
    (s, dir) =>
      Fingerprint.winnowFingerprints(Tables(s, dir).documents, "doc_id", "text", k = 3, w = 4)
        .transform(Queries.sortedSmall(_, "doc_id", "pos", "fp")))

  // ------------------------------------------- contamination check
  // The winnowing operator doing its actual job: which corpus docs
  // (doc_id >= 5) share >= 2 winnowed fingerprints with a "benchmark
  // suite" (doc_id < 5 stands in for held-out eval documents)? A
  // shared fingerprint = a shared run of w+k-1 tokens (the winnowing
  // guarantee), so n_shared grades containment strength. The
  // fingerprint table is materialized once (localCheckpoint — the
  // bench/corpus branches would otherwise each recompute the whole
  // winnow pipeline: filters push below the distinct's exchange, so
  // ReuseExchange cannot fire); the join is a hash equi-join on fp
  // with the benchmark side broadcast — the 100 TB plan.
  private val qContamination = Queries.Q(
    "p_contamination_pairs",
    Some(s"""
      WITH ${OracleSql.winnowWindows},
      fp AS (SELECT DISTINCT doc_id, list_min(list_slice(kg, j, j + 3)) AS fp FROM win),
      bench AS (SELECT doc_id AS bench_id, fp FROM fp WHERE doc_id < 5),
      corpus AS (SELECT doc_id AS corpus_id, fp FROM fp WHERE doc_id >= 5)
      SELECT corpus_id, bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM corpus JOIN bench USING (fp)
      GROUP BY corpus_id, bench_id
      HAVING COUNT(*) >= 2
      ORDER BY corpus_id, bench_id"""),
    (s, dir) => {
      val fps = Fingerprint.winnowFingerprints(
          Tables(s, dir).documents, "doc_id", "text", k = 3, w = 4)
        .select(col("doc_id"), col("fp")).distinct()
        .localCheckpoint(true)
      val bench = fps.filter(col("doc_id") < 5)
        .select(col("doc_id").as("bench_id"), col("fp"))
      val corpus = fps.filter(col("doc_id") >= 5)
        .select(col("doc_id").as("corpus_id"), col("fp"))
      corpus.join(broadcast(bench), "fp")
        .groupBy("corpus_id", "bench_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .transform(Queries.sortedSmall(_, "corpus_id", "bench_id"))
    })

  // --------------------------------- deterministic hash split + sample
  // Salted-hash train/val/test assignment (80/10/10) and a nested 25%
  // subsample, aggregated per (lang, split). Pure integer/md5
  // arithmetic ⇒ exact oracle; independent salts keep split and
  // sample decisions uncorrelated.
  private val qHashSplit = Queries.Q(
    "p_hash_split",
    Some(s"""
      WITH b AS (SELECT lang,
                   ${OracleSql.bucketOn("split25", "doc_id")} AS sb,
                   ${OracleSql.bucketOn("sample7", "doc_id")} AS pb
                 FROM documents)
      SELECT lang,
             CASE WHEN sb < 80 THEN 'train' WHEN sb < 90 THEN 'val' ELSE 'test' END AS split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN pb < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      FROM b
      GROUP BY 1, 2
      ORDER BY lang, split"""),
    (s, dir) =>
      Sampling.withSplit(Tables(s, dir).documents, "doc_id", "split25", trainPct = 80, valPct = 10)
        .withColumn("__samp", Sampling.hashBucket(col("doc_id"), "sample7", 100))
        .groupBy(col("lang"), col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("__samp") < 25, 1L).otherwise(0L)).as("n_sampled"))
        .transform(Queries.sortedSmall(_, "lang", "split")))

  // ----------------------------------- exact-k uniform stratum sample
  // Each source keeps exactly 5 docs chosen by md5-hash order —
  // deterministic, seedable, independent of any data column (the
  // REPRESENTATIVE complement of p_source_cap's quality-ranked keep).
  private val qUniformSample = Queries.Q(
    "p_uniform_sample",
    Some("""
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id IN (
        SELECT doc_id FROM (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5('u42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents) WHERE rn <= 5)
      ORDER BY doc_id"""),
    (s, dir) =>
      Sampling.uniformPerKey(Tables(s, dir).documents, "source", "doc_id", k = 5, salt = "u42")
        .select("doc_id", "source", "n_chars")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // -------------------------------- deterministic corpus shuffle/shard
  // The pre-training corpus shuffle: md5-derived shard + dense
  // within-shard position = a reproducible global permutation,
  // independent of input partitioning. Oracle recomputes both from
  // the same salt; the per-shard window is the only sort and is
  // corpus/nShards-bounded by the uniform hash.
  private val qCorpusShuffle = Queries.Q(
    "p_corpus_shuffle",
    Some(s"""
      WITH s AS (SELECT doc_id,
                   md5('s42:' || CAST(doc_id AS VARCHAR)) AS hh,
                   list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
                     i -> strpos('0123456789abcdef', substr(md5('s42:shard:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)),
                     (h, c) -> h*16 + c) % 8 AS shard
                 FROM documents)
      SELECT doc_id, CAST(shard AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1 AS BIGINT) AS shard_pos
      FROM s ORDER BY doc_id"""),
    (s, dir) =>
      Sampling.shuffleShards(Tables(s, dir).documents, "doc_id", nShards = 8, salt = "s42")
        .select("doc_id", "shard", "shard_pos")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------------------ brute-force top-k
  private val qBruteTopK = Queries.Q(
    "p_brute_topk",
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
      s AS (SELECT query_id, vec_id AS neighbor_id, ${OracleSql.cosine} AS sim
            FROM q CROSS JOIN embeddings
            WHERE query_id != vec_id)
      ${OracleSql.topK("sim", "DESC")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), "vec_id", emb, "vec_id", "embedding", k = 10)
        // small output, crossJoin+window child: never global orderBy
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // ------------------------------------------- brute-force top-k, L2
  // Euclidean metric complement (ascending rank): (a-b)^2 computed as
  // d*d in identical element order on both engines — `pow` would
  // round differently.
  private val qBruteTopKL2 = Queries.Q(
    "p_l2_topk",
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
      s AS (SELECT query_id, vec_id AS neighbor_id,
              sqrt(list_sum(list_transform(list_zip(qv, embedding),
                x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))) AS dist
            FROM q CROSS JOIN embeddings
            WHERE query_id != vec_id)
      ${OracleSql.topK("dist", "ASC")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.bruteForceTopKL2(
        emb.filter(col("vec_id") < 20), "vec_id", emb, "vec_id", "embedding", k = 10)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // ------------------------------------- sign-bucket LSH top-k (ANN)
  private val qLshTopK = Queries.Q(
    "p_lsh_topk",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${OracleSql.signBucket} AS bucket FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < 20),
      s AS (SELECT query_id, e.vec_id AS neighbor_id, ${OracleSql.cosine} AS sim
            FROM q JOIN e USING (bucket)
            WHERE query_id != e.vec_id)
      ${OracleSql.topK("sim", "DESC")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 20), "vec_id", emb, "vec_id", "embedding",
        k = 10, signBits = 8)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // ------------------------------------------- IVF-flat top-k (ANN)
  // Inverted-file ANN: 16 deterministic centroids (the 16 lowest
  // vec_ids — stands in for an offline k-means; quantizer choice
  // tunes recall, not plan shape), argmax-cosine cell assignment,
  // queries probe their 2 nearest cells. The oracle recomputes every
  // stage (assignment argmax via lexicographic struct-min, probe
  // ranking, in-cell top-k) with identical double arithmetic.
  private val qIvfTopK = Queries.Q(
    "p_ivf_topk",
    Some(s"""
      WITH c AS (SELECT vec_id AS cent, embedding AS cv FROM embeddings WHERE vec_id < 16),
      a AS (SELECT e.vec_id, e.embedding, c.cent,
              list_sum(list_transform(list_zip(e.embedding, c.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
            FROM embeddings e CROSS JOIN c),
      cell AS (SELECT vec_id, (min({'nc': -ccos, 'cent': cent})).cent AS cell FROM a GROUP BY vec_id),
      base AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv2, cell.cell
               FROM embeddings e JOIN cell ON e.vec_id = cell.vec_id),
      qp AS (SELECT vec_id AS query_id, cent AS cell FROM (
               SELECT vec_id, cent, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent) AS rn
               FROM a WHERE vec_id < 20)
             WHERE rn <= 2),
      qv AS (SELECT qp.query_id, e.embedding AS qvec, qp.cell
             FROM qp JOIN embeddings e ON e.vec_id = qp.query_id),
      s AS (SELECT query_id, neighbor_id,
              list_sum(list_transform(list_zip(qvec, cv2), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(cv2, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
            FROM qv JOIN base USING (cell) WHERE query_id != neighbor_id)
      ${OracleSql.topK("sim", "DESC")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.ivfTopK(
        emb.filter(col("vec_id") < 20), "vec_id", emb, "vec_id", "embedding",
        centroids = emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        k = 10, nProbe = 2)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // ------------------------------- multi-probe LSH top-k (recall path)
  private val qLshTopKMultiProbe = Queries.Q(
    "p_lsh_topk_multiprobe",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${OracleSql.signBucket} AS bucket FROM embeddings),
      q0 AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < 20),
      q AS (SELECT query_id, qv,
                   unnest(list_prepend(bucket,
                     list_transform(generate_series(0, 7), i -> xor(bucket, 1 << i)))) AS bucket
            FROM q0),
      s AS (SELECT query_id, e.vec_id AS neighbor_id, ${OracleSql.cosine} AS sim
            FROM q JOIN e USING (bucket)
            WHERE query_id != e.vec_id)
      ${OracleSql.topK("sim", "DESC")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.lshTopKMultiProbe(
        emb.filter(col("vec_id") < 20), "vec_id", emb, "vec_id", "embedding",
        k = 10, signBits = 8)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // -------------------------------------- embedding near-dup (cosine)
  private val qEmbeddingNearDup = Queries.Q(
    "p_embedding_near_dup",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${OracleSql.signBucket} AS bucket FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
            (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.35
      ORDER BY id_a, id_b"""),
    (s, dir) =>
      Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings, "vec_id", "embedding",
        signBits = 8, threshold = 0.35)
        .transform(Queries.sortedSmall(_, "id_a", "id_b")))

  // ------------------------------------------------ multimodal columns
  private val qMultimodal = Queries.Q(
    "p_multimodal_stats",
    Some("""
      SELECT doc_id,
             octet_length(encode(text)) AS payload_len,
             md5(text) AS payload_md5,
             lower(substr(hex(encode(text)), 1, 16)) AS head_hex,
             octet_length(encode(text)) % 640 + 1 AS width,
             (octet_length(encode(text)) * 7) % 480 + 1 AS height,
             octet_length(encode(text)) % 3 + 1 AS channels
      FROM documents
      ORDER BY doc_id"""),
    (s, dir) => {
      val df = Multimodal.withPayloadColumns(Tables(s, dir).documents, "text")
      df.select(
        col("doc_id"),
        col("payload_len"),
        col("payload_md5"),
        Multimodal.headHex(col("payload"), 8).as("head_hex"),
        col("image_meta.width").as("width"),
        col("image_meta.height").as("height"),
        col("image_meta.channels").as("channels"))
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // ---------------------------------------------- batch event dedup
  private val qEventsDedup = Queries.Q(
    "p_events_dedup",
    Some("""
      SELECT user_id, event_type, event_id FROM (
        SELECT user_id, event_type, event_id,
               row_number() OVER (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id) AS rn
        FROM events)
      WHERE rn = 1
      ORDER BY user_id, event_type"""),
    (s, dir) => {
      // order on raw ns (ts_ns), not the µs-truncated timestamp: the
      // oracle sees ns precision, and a µs-collision tie would break
      // differently otherwise.
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts_ns"), col("event_id"))
      Tables(s, dir).events
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .transform(Queries.sortedSmall(_, "user_id", "event_type"))
    })

  // ------------------------------------ BPE-ish token counting
  // The whitespace count understates cost on JSON/code; the BPE-ish
  // pre-token count (GPT-2-shaped, lookahead-free — see
  // TextAnalysis.BpePattern) is the budget signal. tokens_csv
  // value-checks the tokenization itself, boundary for boundary,
  // against RE2: both engines use leftmost-first alternation.
  private val qTokenCounts = Queries.Q(
    "p_token_counts",
    Some(s"""
      SELECT event_id,
             len(string_split(props, ' ')) AS ws_tokens,
             len(regexp_extract_all(props, '${OracleSql.bpe}', 0)) AS bpe_tokens,
             array_to_string(regexp_extract_all(props, '${OracleSql.bpe}', 0), '|') AS tokens_csv
      FROM events
      ORDER BY event_id"""),
    (s, dir) =>
      Tables(s, dir).events.select(
        col("event_id"),
        TextAnalysis.tokenCount(col("props")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("props")).as("bpe_tokens"),
        array_join(TextAnalysis.bpeTokens(col("props")), "|").as("tokens_csv"))
        .transform(Queries.sortedSmall(_, "event_id")))

  // ------------------------------------------- vocabulary top-k
  // Zipf head of the corpus vocabulary (vocab building / stopword
  // mining). Spark plans the top-k as TakeOrderedAndProject (per-task
  // k-row heaps), never a global sort of the vocabulary; the oracle's
  // row_number() + LIMIT is the same ordering.
  private val qVocabTopK = Queries.Q(
    "p_vocab_topk",
    Some("""
      WITH tf AS (
        SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token)
      SELECT rank, token, n_occurrences, n_docs FROM (
        SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS rank,
               token, n_occurrences, n_docs
        FROM tf)
      WHERE rank <= 100
      ORDER BY rank"""),
    (s, dir) =>
      TextAnalysis.vocabTopK(Tables(s, dir).documents, "doc_id", "text", 100)
        .transform(Queries.sortedSmall(_, "rank")))

  // ---------------------------------- BM25 top-k, division-free
  // Exact integer BM25 ranking (k1=1.2, b=0.75 multiplied through to
  // D = 10·L·tf + 3·L + 9·dl·N; doc b beats a ⟺ tf_b·D_a > tf_a·D_b).
  // The oracle recomputes every stage in HUGEINT — no floats, no libm,
  // so the ranking hash-matches bit-for-bit. See Search.bm25TopK for
  // the two-stage prefilter that bounds the O(df²) rerank at scale.
  private val qBm25TopK = Queries.Q(
    "p_bm25_topk",
    Some(s"""
      WITH ${OracleSql.bm25Candidates}
      SELECT term, rank, doc_id, tf, dl FROM (
        SELECT a.term AS term, a.doc_id AS doc_id, a.tf AS tf, a.dl AS dl,
               ${OracleSql.bm25Rank} AS rank
        FROM cand a JOIN cand b ON a.term = b.term
        GROUP BY a.term, a.doc_id, a.tf, a.dl)
      WHERE rank <= 10
      ORDER BY term, rank"""),
    (s, dir) =>
      Search.bm25TopK(Tables(s, dir).documents, "doc_id", "text",
        Seq("spark", "window", "table"), k = 10, prefilterC = 50)
        .transform(Queries.sortedSmall(_, "term", "rank")))

  // ------------------------------- BM25 prefilter recall audit
  // What p_bm25_topk's tf-top-50 prefilter cut, per term — the same
  // drop-surfacing contract as p_minhash_bucket_audit: the bounded
  // fast path is only honest if its loss is one query away. All
  // columns are deterministic integers (counts and tf values under
  // the same (tf DESC, doc_id) order both engines compute).
  private val qBm25PrefilterAudit = Queries.Q(
    "p_bm25_prefilter_audit",
    Some("""
      WITH tf AS (SELECT term, doc_id, COUNT(*) AS tf
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             WHERE term IN ('spark', 'window', 'table')
             GROUP BY term, doc_id),
      r AS (SELECT term, tf,
                   row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
            FROM tf)
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS n_postings,
             CAST(SUM(CASE WHEN rn > 50 THEN 1 ELSE 0 END) AS BIGINT) AS cut_docs,
             CAST(MAX(CASE WHEN rn = 50 THEN tf END) AS BIGINT) AS boundary_tf,
             CAST(COALESCE(MAX(CASE WHEN rn > 50 THEN tf END), 0) AS BIGINT) AS max_cut_tf
      FROM r
      GROUP BY term
      HAVING COUNT(*) > 50
      ORDER BY term"""),
    (s, dir) =>
      Search.bm25PrefilterOverflow(Tables(s, dir).documents, "doc_id", "text",
        Seq("spark", "window", "table"), prefilterC = 50)
        .transform(Queries.sortedSmall(_, "term")))

  // ------------------------------------ int8 embedding quantization
  // Integer summaries (sum/min/max/zero-count of the codes) rather
  // than the raw code arrays keep the compare scalar; the codes
  // themselves are pure IEEE double ops + explicit truncation on both
  // engines (DuckDB CAST rounds — trunc() first; see
  // graft.functions.QuantizeInt8Summary).
  private val qEmbeddingQuantize = Queries.Q(
    "p_embedding_quantize",
    Some("""
      WITH s AS (SELECT vec_id, embedding,
                        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
                 FROM embeddings),
      q AS (SELECT vec_id, scale,
                   list_transform(embedding,
                     x -> CASE WHEN scale = 0.0
                               OR NOT (abs(CAST(x AS DOUBLE) * 127.0 / scale) <= 127.0) THEN 0
                               ELSE CAST(trunc(CAST(x AS DOUBLE) * 127.0 / scale) AS INTEGER) END) AS codes
            FROM s)
      SELECT vec_id, scale,
             len(codes) AS n_dims,
             CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT))) AS BIGINT) AS sum_code,
             list_min(codes) AS min_code,
             list_max(codes) AS max_code,
             len(list_filter(codes, c -> c = 0)) AS n_zero
      FROM q
      ORDER BY vec_id"""),
    (s, dir) =>
      // fused one-pass kernel (graft.functions.QuantizeInt8Summary):
      // the five interpreted HOF chains over the codes array cost ~2 s
      // warm at sf0.1 (boxing + per-element interpreted eval);
      // bit-identical summary columns, property-tested (r21)
      Tables(s, dir).embeddings
        .select(col("vec_id"),
          graft.functions.GraftFunctions.quantizeInt8Summary(col("embedding")).as("q"))
        .select(
          col("vec_id"),
          col("q.scale").as("scale"),
          col("q.n_dims").as("n_dims"),
          col("q.sum_code").as("sum_code"),
          col("q.min_code").as("min_code"),
          col("q.max_code").as("max_code"),
          col("q.n_zero").as("n_zero"))
        .transform(Queries.sortedSmall(_, "vec_id")))

  // ------------------------------------------------ PII redaction
  // The synthetic tables carry no real PII, so the query composes a
  // deterministic phone+email-bearing string from customer columns
  // (identical construction on both engines) and value-checks the
  // scrubbed output and per-shape match counts. Redaction itself is
  // two codegen'd regexp_replace passes — map-side, zero shuffles.
  private val qPiiRedact = Queries.Q(
    "p_pii_redact",
    Some(s"""
      WITH raw AS (
        SELECT c_custkey,
               c_name || ' call 25-' || CAST(c_custkey % 900 + 100 AS VARCHAR)
                      || '-' || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
                      || ' or mail u' || CAST(c_custkey AS VARCHAR) || '@ex.com' AS s
        FROM customer)
      SELECT c_custkey,
             regexp_replace(regexp_replace(s, '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
                            '${TextAnalysis.PhonePattern}', '[PHONE]', 'g') AS redacted,
             len(regexp_extract_all(s, '${TextAnalysis.PhonePattern}', 0)) AS n_phones,
             len(regexp_extract_all(s, '${TextAnalysis.EmailPattern}', 0)) AS n_emails
      FROM raw
      ORDER BY c_custkey"""),
    (s, dir) => {
      val raw = concat(
        col("c_name"), lit(" call 25-"),
        (col("c_custkey") % 900 + 100).cast("string"), lit("-"),
        (col("c_custkey") % 9000 + 1000).cast("string"),
        lit(" or mail u"), col("c_custkey").cast("string"), lit("@ex.com"))
      Tables(s, dir).customer.select(
        col("c_custkey"),
        TextAnalysis.redactPii(raw).as("redacted"),
        size(regexp_extract_all(raw, lit(TextAnalysis.PhonePattern), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(raw, lit(TextAnalysis.EmailPattern), lit(0))).cast("long").as("n_emails"))
        .transform(Queries.sortedSmall(_, "c_custkey"))
    })

  // --------------------------------------------- quality gate (C4)
  // First-failing-rule drop decision over the quality signals; the
  // oracle re-evaluates the same rule ladder.
  private val qQualityFilter = Queries.Q(
    "p_quality_filter",
    Some("""
      WITH v AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n,
               len(list_distinct(string_split(text, ' '))) AS nd,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop
        FROM documents),
      r AS (
        SELECT doc_id, n,
               CASE WHEN n < 10 THEN 'too_short'
                    WHEN CAST(length(text) - (n - 1) AS DOUBLE) / n > 10.0 THEN 'long_words'
                    WHEN nstop = 0 THEN 'no_stopwords'
                    WHEN 1.0 - CAST(nd AS DOUBLE) / n > 0.6 THEN 'repetitive'
                    ELSE NULL END AS drop_reason
        FROM v)
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             drop_reason IS NULL AS keep, drop_reason
      FROM r
      ORDER BY doc_id"""),
    (s, dir) =>
      TextAnalysis.qualityFilter(Tables(s, dir).documents, "doc_id", "text")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------------ context-window chunks
  // LM pre-training chunking: 16-token windows every 12 tokens
  // (overlapping), trailing partials kept. chunk_text value-checks
  // the slices token for token.
  private val qChunkWindows = Queries.Q(
    "p_chunk_windows",
    Some("""
      WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS tk,
               len(string_split(text, ' ')) AS n
        FROM documents
        WHERE len(string_split(text, ' ')) > 0),
      c AS (SELECT doc_id, unnest(generate_series(0, n - 1, 12)) AS start, tk, n FROM tok)
      SELECT doc_id,
             CAST(start // 12 AS BIGINT) AS chunk_idx,
             CAST(len(list_slice(tk, start + 1, least(start + 16, n))) AS BIGINT) AS n_chunk_tokens,
             array_to_string(list_slice(tk, start + 1, least(start + 16, n)), ' ') AS chunk_text
      FROM c
      ORDER BY doc_id, chunk_idx"""),
    (s, dir) =>
      TextAnalysis.chunkWindows(Tables(s, dir).documents, "doc_id", "text",
        size = 16, stride = 12)
        .transform(Queries.sortedSmall(_, "doc_id", "chunk_idx")))

  // ------------------------------------- stratified sampling (mixing)
  // Keep 50% of English, 10% of every other language, deterministically
  // (salted-md5 bucket per doc — the data-mixing primitive). Oracle
  // recomputes the identical md5 bucket arithmetic.
  private val qStratifiedSample = Queries.Q(
    "p_stratified_sample",
    Some(s"""
      WITH b AS (SELECT doc_id, lang, ${OracleSql.bucketOn("mix30", "doc_id")} AS sb FROM documents)
      SELECT doc_id, lang FROM b
      WHERE sb < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
      ORDER BY doc_id"""),
    (s, dir) =>
      operators.Sampling.stratifiedSampled(
        Tables(s, dir).documents, "doc_id", "lang", "mix30",
        Map("en" -> 50), defaultPct = 10)
        .select("doc_id", "lang")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ----------------------------------------- edit-distance verify
  // Levenshtein as the exact verify stage over a BOUNDED candidate
  // set (here a keyrange self-join standing in for LSH candidates —
  // see Dedup.editDistanceVerify's scale contract). All-integer
  // output.
  private val qEditDistVerify = Queries.Q(
    "p_editdist_verify",
    Some("""
      WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 60)
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
      ORDER BY id_a, id_b"""),
    (s, dir) => {
      val c = Tables(s, dir).customer.filter(col("c_custkey") < 60)
      val cand = c.select(col("c_custkey").as("id_a"))
        .join(c.select(col("c_custkey").as("id_b")), col("id_a") < col("id_b"))
      Dedup.editDistanceVerify(cand, c, "c_custkey", "c_name", maxDist = 1)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // ------------------------------------ approximate distinct (HLL)
  // Per-language vocabulary size via HyperLogLog++ beside the exact
  // count. The raw sketch estimate is engine-specific (DuckDB's HLL
  // differs from Spark's), so the query emits only STABLE columns:
  // the exact count, the token count, and `within_rsd` — whether the
  // engine's own HLL estimate landed within 10% relative error of
  // the exact count. Both engines run rsd≈2% sketches, so a 10% band
  // is ~5 sigma per group — the boolean holds on each engine with
  // overwhelming probability (and is dataset-validated: the
  // OperatorsSpec HLL test bounds the observed error under the same
  // 5-sigma band), making the row hash-matchable even though the
  // underlying estimates differ. The check is probabilistic in
  // principle, not guaranteed — a pathological cardinality could in
  // theory flip one engine's boolean. At 100 TB the
  // EXACT column is the one you drop: countDistinct is a second keyed
  // shuffle of the full token set, while the HLL aggregates map-side
  // into a constant-size sketch per group.
  private val qApproxVocab = Queries.Q(
    "p_approx_vocab",
    Some("""
      SELECT lang,
             exact_vocab,
             n_tokens,
             (ABS(approx_vocab - exact_vocab) <= 0.10 * exact_vocab) AS within_rsd
      FROM (
        SELECT lang,
               approx_count_distinct(token) AS approx_vocab,
               COUNT(DISTINCT token) AS exact_vocab,
               COUNT(*) AS n_tokens
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY lang)
      ORDER BY lang"""),
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "") // same vocabulary definition as p_vocab_topk
        .groupBy("lang")
        .agg(
          approx_count_distinct(col("token"), 0.02).as("approx_vocab"),
          countDistinct(col("token")).as("exact_vocab"),
          count(lit(1)).as("n_tokens"))
        .select(
          col("lang"), col("exact_vocab"), col("n_tokens"),
          (abs(col("approx_vocab") - col("exact_vocab")) <= lit(0.10) * col("exact_vocab"))
            .as("within_rsd"))
        .transform(Queries.sortedSmall(_, "lang")))

  // ------------------------------------------ corpus snapshot diff
  // Diff the documents table against a deterministically mutated
  // second snapshot (drop %13, append-edit %17, re-add %11 under
  // shifted ids): per-id added/removed/changed/unchanged by content
  // fingerprint. The oracle rebuilds the same mutation and diff.
  private val qSnapshotDiff = Queries.Q(
    "p_snapshot_diff",
    Some("""
      WITH o AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
                 FROM documents),
      nb AS (SELECT doc_id,
                    CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
             FROM documents WHERE doc_id % 13 <> 0),
      na AS (SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
      n AS (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
            FROM (SELECT * FROM nb UNION ALL SELECT * FROM na)),
      d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.fp <> n.fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.fp AS old_fp, n.fp AS new_fp
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      SELECT doc_id, status, old_fp, new_fp FROM d
      ORDER BY doc_id"""),
    (s, dir) => {
      val d = Tables(s, dir).documents
      val mutated = d.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      operators.Snapshot.diff(d, mutated, "doc_id", "text")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // ------------------------------------- token-budget data mixing
  // Keep a deterministic hash-ordered prefix of each language whose
  // cumulative token count fits the language's budget (en 6000 /
  // others 2000). The oracle replays the selection as one naive
  // window cumsum; the operator runs the two-phase bucket plan —
  // identical output (also spec-asserted), scale-safe execution.
  private val qTokenBudgetMix = Queries.Q(
    "p_token_budget_mix",
    Some("""
      WITH b AS (SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
                   md5('mixbud:' || CAST(doc_id AS VARCHAR)) AS h,
                   list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
                     i -> strpos('0123456789abcdef', substr(md5('mixbud:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)),
                     (h, c) -> h*16 + c) % 64 AS bk
                 FROM documents),
      c AS (SELECT *, SUM(tok) OVER (PARTITION BY lang ORDER BY bk, h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM b)
      SELECT doc_id, lang, tok FROM c
      WHERE cum <= CASE WHEN lang = 'en' THEN 6000 ELSE 2000 END
      ORDER BY doc_id"""),
    (s, dir) =>
      operators.Sampling.tokenBudgetMix(
        Tables(s, dir).documents
          .withColumn("tok", size(split(col("text"), " ")).cast("long")),
        "doc_id", "lang", col("tok"), "mixbud",
        Map("en" -> 6000L), defaultBudget = 2000L, nBuckets = 64)
        .select("doc_id", "lang", "tok")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------ tf-idf characteristic terms
  // Top-3 terms per document by tf/df (linear idf — ln is engine-libm
  // territory, see Search.tfidfTopTerms). Integer tf/df plus one IEEE
  // division ⇒ exact oracle including the score column.
  private val qTfidfTopK = Queries.Q(
    "p_tfidf_topk",
    Some("""
      WITH p AS (SELECT doc_id, term, COUNT(*) AS tf
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
                 GROUP BY doc_id, term),
      d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
      r AS (SELECT doc_id, term, tf, df,
                   CAST(tf AS DOUBLE) / df AS tfdf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS rnk
            FROM p JOIN d USING (term))
      SELECT doc_id, CAST(rnk AS BIGINT) AS rank, term,
             CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfdf
      FROM r WHERE rnk <= 3
      ORDER BY doc_id, rank"""),
    (s, dir) =>
      Search.tfidfTopTerms(Tables(s, dir).documents, "doc_id", "text", k = 3)
        .transform(Queries.sortedSmall(_, "doc_id", "rank")))

  // ---------------------------------- n-gram LM familiarity (curation)
  // Corpus-bigram familiarity per document: the KenLM-perplexity
  // stand-in that stays oracle-exact (integer counts + one IEEE
  // division; ln would drift by engine libm — see LanguageModel).
  private val qLmFamiliarity = Queries.Q(
    "p_lm_familiarity",
    Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      pos AS (SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(tk) - 1, 0)),
                       i -> tk[i] || ' ' || tk[i+1])) AS gram
              FROM tok),
      k AS (SELECT doc_id, gram, COUNT(*) AS k FROM pos GROUP BY doc_id, gram),
      c AS (SELECT gram, SUM(k) AS cnt FROM k GROUP BY gram),
      a AS (SELECT k.doc_id, SUM(k.k) AS n_grams,
                   SUM(CASE WHEN c.cnt >= 3 THEN k.k ELSE 0 END) AS familiar_grams
            FROM k JOIN c USING (gram) GROUP BY k.doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(COALESCE(a.familiar_grams, 0) AS BIGINT) AS familiar_grams,
             CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                  ELSE CAST(a.familiar_grams AS DOUBLE) / a.n_grams END AS familiar_rate
      FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id"""),
    (s, dir) =>
      operators.LanguageModel.familiarity(
        Tables(s, dir).documents, "doc_id", "text", n = 2, minCount = 3)
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------ near-dup DEDUP (corpus output)
  // The step the pair/group queries exist to serve: the surviving
  // corpus after near-dup clustering — group representatives
  // (smallest id) plus all unclustered docs, full row retained. Same
  // minhash parameters as p_minhash_near_dup_pairs / p_dup_groups, so
  // the three queries value-check the same pipeline at pair, group,
  // and corpus granularity. Oracle: shared CTEs + recursive-CTE CC +
  // NOT IN of the non-representatives.
  private val qNearDupDedup = Queries.Q(
    "p_near_dup_dedup",
    Some(s"""
      WITH RECURSIVE ${OracleSql.minhashPairs()},
      ${OracleSql.closure("pairs", "id_a", "id_b")},
      ${OracleSql.losers()}
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT node FROM losers)
      ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.dedupNearDups(Tables(s, dir).documents, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
        .select("doc_id", "lang", "source", "n_chars")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------- near-dup dedup, BEST-quality survivor
  // Same clustering as p_near_dup_dedup, but the survivor per cluster
  // is the member with the most characters (tie → smallest id) — the
  // production rule: keep the best copy of a near-dup family, not
  // whichever got the lowest id (min-id can keep a truncated variant
  // over the clean original). Value-checks dedupNearDupsBest's argmax
  // against a window-rank oracle; the two dedup queries share every
  // CTE up to the component labeling, so a divergence isolates to the
  // representative-selection step.
  private val qNearDupBest = Queries.Q(
    "p_near_dup_best",
    Some(s"""
      WITH RECURSIVE ${OracleSql.minhashPairs()},
      ${OracleSql.closure("pairs", "id_a", "id_b")},
      comp AS (SELECT node, MIN(r) AS grp FROM reach GROUP BY node),
      q AS (SELECT c.node, c.grp, d.n_chars FROM comp c JOIN documents d ON d.doc_id = c.node),
      best AS (SELECT grp, node AS best FROM (
                 SELECT grp, node,
                        row_number() OVER (PARTITION BY grp ORDER BY n_chars DESC, node) AS rn
                 FROM q) WHERE rn = 1),
      losers AS (SELECT q.node FROM q JOIN best USING (grp) WHERE q.node <> best.best)
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT node FROM losers)
      ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.dedupNearDupsBest(Tables(s, dir).documents, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5, qualityCol = col("n_chars"))
        .select("doc_id", "lang", "source", "n_chars")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ------------------------------------------- per-source cap (mixing)
  // Web-scale curation's per-domain cap: at most 10 docs per source,
  // keeping the longest (n_chars desc, doc_id tiebreak). The operator
  // ranks over a narrow (source, id, n_chars) projection and
  // semi-joins survivors back — the payload never rides the rank
  // shuffle (see Sampling.perKeyCap).
  private val qSourceCap = Queries.Q(
    "p_source_cap",
    Some("""
      SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
      WHERE rn <= 10
      ORDER BY doc_id"""),
    (s, dir) =>
      Sampling.perKeyCap(Tables(s, dir).documents, "source", "doc_id", 10, col("n_chars"))
        .select("doc_id", "source", "n_chars")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // -------------------------------------- approximate quantiles (GK)
  // The sketch companion of q_quantile_quantity, in the p_approx_vocab
  // deterministic form: each engine checks ITS OWN approx-quantile
  // sketch (Spark GK with accuracy 10000; DuckDB t-digest) against its
  // own exact percentile, and emits only stable columns — group, row
  // count, exact min/max (data values, no arithmetic), and the
  // within-band booleans (|approx − exact| ≤ 2% of the group's value
  // range). Both sketches bound rank error orders of magnitude below
  // that band at these group sizes, so the booleans hold on each
  // engine — probabilistic in principle, dataset-validated, same
  // trade as p_approx_vocab. At 100 TB the exact percentile is the
  // column you drop: it needs a full sort (or two-pass select) per
  // group, while the GK/t-digest sketch merges map-side in constant
  // space — this query IS the accuracy audit that licenses that swap.
  private val qApproxQuantiles = Queries.Q(
    "p_approx_quantiles",
    Some("""
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             MIN(l_extendedprice) AS lo,
             MAX(l_extendedprice) AS hi,
             (ABS(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
                <= 0.02 * (MAX(l_extendedprice) - MIN(l_extendedprice))) AS p50_within,
             (ABS(approx_quantile(l_extendedprice, 0.9) - quantile_cont(l_extendedprice, 0.9))
                <= 0.02 * (MAX(l_extendedprice) - MIN(l_extendedprice))) AS p90_within
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // The EXACT percentiles come from the histogram two-pass
      // (operators.Quantiles, r22): the previous
      // `percentile(l_extendedprice, array(...))` aggregate buffered
      // every group value in unspillable partial-agg state — the
      // VERDICT r21 scale-killer ("at 100 TB it is an OOM, spread or
      // no spread"). Results are bit-identical (QuantilesSpec
      // property-tests the replacement against the aggregate itself);
      // the sketch side (approx_percentile) stays in the main
      // constant-space aggregate, and the two frames join on the
      // 3-value group key.
      val exact = operators.Quantiles.exactPercentiles(
        t.lineitem, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.5, 0.9), Seq("__e50", "__e90"))
      t.lineitem
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_items"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 10000)").as("__a"))
        .join(exact, Seq("l_returnflag"), "left")
        .select(
          col("l_returnflag"), col("n_items"), col("lo"), col("hi"),
          (abs(col("__a").getItem(0) - col("__e50"))
            <= lit(0.02) * (col("hi") - col("lo"))).as("p50_within"),
          (abs(col("__a").getItem(1) - col("__e90"))
            <= lit(0.02) * (col("hi") - col("lo"))).as("p90_within"))
        .transform(Queries.sortedSmall(_, "l_returnflag"))
    })

  // ------------------------------------ PNG pixel decode (end-to-end)
  // The decoder itself under oracle: 48 deterministic gradient PNGs
  // (every color type, every filter type across rows — built by
  // Multimodal.encodePng at plan time) are DECODED by the native
  // graft_png_stats/graft_png_pixels expressions, and the oracle
  // PREDICTS the result arithmetically from the pixel formula
  // pixel(x,y,c) = (7x + 13y + 31c + 3i) mod 256 — means via exact
  // integer sums (one correctly-rounded double division on both
  // engines) and a value-check of EVERY byte via md5 over the
  // canonical lowercase-hex pixel dump. A decoder that misreads one
  // filter byte, one scanline, or one channel fails the hash.
  private val qPngPixelStats = Queries.Q(
    "p_png_pixel_stats",
    Some(s"""
      WITH dims AS (SELECT i, 1 + (i*7) % 16 AS w, 1 + (i*5) % 12 AS h,
                           CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS ch
                    FROM generate_series(0, 47) t(i)),
      ys AS (SELECT i, w, h, ch, unnest(generate_series(0, h - 1)) AS y FROM dims),
      xs AS (SELECT i, w, h, ch, y, unnest(generate_series(0, w - 1)) AS x FROM ys),
      px AS (SELECT i, y, x, unnest(generate_series(0, ch - 1)) AS c FROM xs),
      v AS (SELECT i, y, x, c, (x*7 + y*13 + c*31 + i*3) % 256 AS v FROM px),
      ${OracleSql.pixelStats("v")}"""),
    (s, dir) => {
      val imgs: Seq[(Long, Array[Byte])] = (0 until 48).map { i =>
        val (w, h) = (1 + (i * 7) % 16, 1 + (i * 5) % 12)
        val ch = Seq(1, 3, 2, 4)(i % 4)
        (i.toLong, Multimodal.encodePng(w, h, ch,
          (x, y, c) => (x * 7 + y * 13 + c * 31 + i * 3) % 256,
          y => (y + i) % 5))
      }
      import s.implicits._
      val df = imgs.toDF("img_id", "payload")
      val stats = Multimodal.imagePixelStats(col("payload"))
      df.select(
          col("img_id"),
          stats.as("__st"),
          md5(lower(hex(Multimodal.imagePixels(col("payload"))))).as("pixel_md5"))
        .select(
          col("img_id"),
          col("__st").getItem(0).cast("long").as("width"),
          col("__st").getItem(1).cast("long").as("height"),
          col("__st").getItem(2).cast("long").as("channels"),
          posexplode(slice(col("__st"), lit(4), size(col("__st")) - 3)),
          col("pixel_md5"))
        .select(
          col("img_id"), col("width"), col("height"), col("channels"),
          col("pos").cast("long").as("channel"), col("col").as("mean_val"),
          col("pixel_md5"))
        .transform(Queries.sortedSmall(_, "img_id", "channel"))
    })

  // -------------------------------- signed random projection (JL)
  // Deterministic ±1 Johnson–Lindenstrauss projection of the 64-d
  // embeddings to 8 dims (Similarity.randomProject): the matrix signs
  // derive from md5, so the oracle recomputes the identical
  // projection — every output double is a fixed left-to-right
  // multiply-add chain, bit-equal across engines.
  private val qRandomProjection = Queries.Q(
    "p_random_projection",
    Some("""
      SELECT vec_id, j AS dim_j,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, 64),
                 d -> CAST(embedding[d] AS DOUBLE) *
                      CASE WHEN substr(md5('rp:' || CAST(j AS VARCHAR) || ':' || CAST(d - 1 AS VARCHAR)), 1, 1) < '8'
                           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)),
               (a, t) -> a + t) AS val
      FROM (SELECT vec_id, embedding, unnest(generate_series(0, 7)) AS j FROM embeddings)
      ORDER BY vec_id, dim_j"""),
    (s, dir) =>
      Tables(s, dir).embeddings
        .select(col("vec_id"),
          posexplode(Similarity.randomProject(col("embedding"), dim = 64, outDim = 8)))
        .select(col("vec_id"), col("pos").cast("long").as("dim_j"), col("col").as("val"))
        .transform(Queries.sortedSmall(_, "vec_id", "dim_j")))

  // ------------------------------------ boilerplate n-gram mining
  // Corpus-frequent word 3-grams (headers/footers/license blurbs
  // repeat verbatim across pages): top 50 by document frequency among
  // grams seen in >= 5 distinct docs. One gram-keyed partially-
  // aggregated shuffle + TakeOrderedAndProject — the gram table is
  // never globally sorted.
  private val qBoilerplateNgrams = Queries.Q(
    "p_boilerplate_ngrams",
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
            FROM t, unnest(generate_series(1, len(w) - 2)) AS s(i)
            WHERE len(w) >= 3),
      st AS (SELECT gram,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
             FROM g GROUP BY gram
             HAVING COUNT(DISTINCT doc_id) >= 5),
      top AS (SELECT gram, n_docs, n_occurrences FROM st
              ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 50)
      SELECT CAST(row_number() OVER
               (ORDER BY n_docs DESC, n_occurrences DESC, gram) AS BIGINT) AS rank,
             gram, n_docs, n_occurrences
      FROM top ORDER BY rank"""),
    (s, dir) =>
      TextAnalysis.boilerplateNgrams(
        Tables(s, dir).documents, "doc_id", "text", n = 3, minDocs = 5, k = 50)
        .transform(Queries.sortedSmall(_, "rank")))

  // ----------------------------------------- span-level corpus dedup
  // Non-overlapping 8-token spans; a span occurrence is a duplicate
  // when its exact text occurred earlier (first occurrence by
  // (doc, span idx) is canonical). Per-doc duplicated-span fraction
  // gates "mostly-copied" pages — the practical stand-in for
  // suffix-array substring dedup.
  private val qSpanDedup = Queries.Q(
    "p_span_dedup",
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sp AS (SELECT doc_id, CAST((i - 1) / 8 AS BIGINT) AS idx,
                    array_to_string(w[i:least(i + 7, len(w))], ' ') AS span
             FROM t, unnest(generate_series(1, len(w), 8)) AS s(i)),
      m AS (SELECT doc_id, idx,
              row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
            FROM sp)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_span_frac,
             (CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) <= 0.5 AS keep
      FROM m GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.spanDupStats(
        Tables(s, dir).documents, "doc_id", "text", size = 8, maxDupFrac = 0.5)
        .transform(Queries.sortedSmall(_, "doc_id")))

  // --------------------------------------- per-source curation report
  // Volume, language spread, and exact-duplicate exposure per source
  // — the corpus health summary a data-mix sign-off reads. Duplicate
  // membership is corpus-wide (cross-source copies count for every
  // holder).
  private val qSourceReport = Queries.Q(
    "p_source_report",
    Some("""
      WITH fp AS (SELECT source, lang, n_chars,
                    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f
                  FROM documents),
      c AS (SELECT f, COUNT(*) AS cnt FROM fp GROUP BY f)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
      FROM fp JOIN c USING (f)
      GROUP BY source ORDER BY source"""),
    (s, dir) =>
      Report.sourceReport(
        Tables(s, dir).documents, "source", "lang", "n_chars", "text")
        .transform(Queries.sortedSmall(_, "source")))

  // --------------------------------------- decontamination REMOVAL
  // The action the detection query licenses, in the conservative
  // GPT-3 direction: the TRAIN split minus every doc sharing any
  // 5-gram with the held-out split. Same salted-md5 buckets as
  // p_split_contamination, so the two queries describe one pipeline:
  // that one audits the held-out side, this one emits the train
  // corpus you actually keep. Short (<5-token) docs survive — no
  // grams, nothing to leak.
  private val qDecontaminate = Queries.Q(
    "p_decontaminate",
    Some(s"""
      WITH b AS (SELECT doc_id, text, n_chars, ${OracleSql.bucketOn("split25", "doc_id")} AS sb FROM documents),
      hg AS (SELECT DISTINCT md5(array_to_string(w[i:i+4], ' ')) AS gh
             FROM (SELECT string_split(text, ' ') AS w FROM b WHERE sb >= 90) t,
                  unnest(generate_series(1, len(w) - 4)) AS s(i)
             WHERE len(w) >= 5),
      tg AS (SELECT doc_id, md5(gram) AS gh FROM (
               SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM b WHERE sb < 80) t,
                    unnest(generate_series(1, len(w) - 4)) AS s(i)
               WHERE len(w) >= 5)),
      bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN hg ON tg.gh = hg.gh)
      SELECT doc_id, n_chars FROM b
      WHERE sb < 80 AND doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id"""),
    (s, dir) => {
      val b = Tables(s, dir).documents
        .withColumn("__sb", Sampling.hashBucket(col("doc_id"), "split25", 100))
      Fingerprint.decontaminate(
        b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90),
        "doc_id", "text", n = 5)
        .select("doc_id", "n_chars")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // ------------------------------ multi-suite leak attribution (r16)
  // One scrub pass, several frozen eval suites (source stands in for
  // the suite label): per (train doc, suite), HOW MANY distinct
  // 5-grams are shared — the per-suite leak-exposure audit that
  // decides whether the eval item or the crawl is at fault. Same
  // salted-md5 split and gram pipeline as p_decontaminate, suite
  // label attached on the held-out side before the distinct.
  private val qContaminationBySuite = Queries.Q(
    "p_contamination_by_suite",
    Some(s"""
      WITH b AS (SELECT doc_id, text, source, ${OracleSql.bucketOn("split25", "doc_id")} AS sb FROM documents),
      hg AS (SELECT DISTINCT source AS suite, md5(array_to_string(w[i:i+4], ' ')) AS gh
             FROM (SELECT source, string_split(text, ' ') AS w FROM b WHERE sb >= 90) t,
                  unnest(generate_series(1, len(w) - 4)) AS s(i)
             WHERE len(w) >= 5),
      tg AS (SELECT doc_id, md5(gram) AS gh FROM (
               SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM b WHERE sb < 80) t,
                    unnest(generate_series(1, len(w) - 4)) AS s(i)
               WHERE len(w) >= 5))
      SELECT tg.doc_id, hg.suite, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM tg JOIN hg ON tg.gh = hg.gh
      GROUP BY tg.doc_id, hg.suite
      ORDER BY doc_id, suite"""),
    (s, dir) => {
      val b = Tables(s, dir).documents
        .withColumn("__sb", Sampling.hashBucket(col("doc_id"), "split25", 100))
      Fingerprint.contaminationBySuite(
        b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90),
        "doc_id", "text", "source", n = 5)
        .transform(Queries.sortedSmall(_, "doc_id", "suite"))
    })

  // ------------------------------- cross-split n-gram decontamination
  // GPT-3-style eval-leakage scrub: distinct word 5-grams of each
  // held-out (test-split) doc probed against the train split's gram
  // set. Splits reuse the salted-md5 buckets of p_hash_split, so the
  // oracle recomputes the identical assignment.
  private val qSplitContamination = Queries.Q(
    "p_split_contamination",
    Some(s"""
      WITH b AS (SELECT doc_id, text, ${OracleSql.bucketOn("split25", "doc_id")} AS sb FROM documents),
      tg AS (SELECT DISTINCT md5(array_to_string(w[i:i+4], ' ')) AS gh
             FROM (SELECT string_split(text, ' ') AS w FROM b WHERE sb < 80) t,
                  unnest(generate_series(1, len(w) - 4)) AS s(i)
             WHERE len(w) >= 5),
      hg AS (SELECT doc_id, md5(gram) AS gh FROM (
               SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM b WHERE sb >= 90) t,
                    unnest(generate_series(1, len(w) - 4)) AS s(i)
               WHERE len(w) >= 5))
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN tg.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             SUM(CASE WHEN tg.gh IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
      FROM hg LEFT JOIN tg ON hg.gh = tg.gh
      GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => {
      val b = Tables(s, dir).documents
        .withColumn("__sb", Sampling.hashBucket(col("doc_id"), "split25", 100))
      Fingerprint.ngramContamination(
        b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90),
        "doc_id", "text", n = 5)
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // ------------------------------------ BPE merge-candidate mining
  // The pair-counting step of BPE tokenizer training: adjacent char
  // pairs over every word occurrence, top 20. The winning pair is the
  // trainer's next merge. One |alphabet|²-keyed shuffle.
  private val qBpePairCounts = Queries.Q(
    "p_bpe_pair_counts",
    Some("""
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      p AS (SELECT substr(word, i, 2) AS pair
            FROM w, unnest(generate_series(1, len(word) - 1)) AS s(i)
            WHERE len(word) >= 2),
      st AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM p GROUP BY pair),
      top AS (SELECT pair, n_occurrences FROM st
              ORDER BY n_occurrences DESC, pair LIMIT 20)
      SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS BIGINT) AS rank,
             pair, n_occurrences
      FROM top ORDER BY rank"""),
    (s, dir) =>
      TextAnalysis.bpePairCounts(Tables(s, dir).documents, "text", k = 20)
        .transform(Queries.sortedSmall(_, "rank")))

  // -------------------------------- per-language quality rank-norm
  // Score normalization for data mixing: raw quality scores are not
  // comparable across languages (stopword lexica and length profiles
  // differ), so mixing weights use the PERCENTILE RANK within the
  // language instead — percent_rank over (quality, doc_id), doc_id
  // breaking ties so both engines agree on every rank. Scale shape:
  // one lang-keyed shuffle + in-partition sort (rank state is one
  // counter per task); at 100 TB swap the exact rank for the
  // approx_percentile bucket classification (p_approx_quantiles
  // licenses exactly that) — the exact form here is what the oracle
  // can hash-check.
  private val qQualityRankNorm = Queries.Q(
    "p_quality_rank_norm",
    Some("""
      WITH v AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop
        FROM documents),
      q AS (
        SELECT doc_id, lang,
               least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.4 +
               least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(nstop AS DOUBLE) / n END) * 5.0, 1.0) * 0.3 +
               (CASE WHEN CAST(length(text) - (n - 1) AS DOUBLE) / n BETWEEN 3.0 AND 10.0
                     THEN 1.0 ELSE 0.5 END) * 0.3 AS quality
        FROM v)
      SELECT doc_id, lang, quality,
             percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS q_rank
      FROM q ORDER BY doc_id"""),
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .withColumn(
          "q_rank",
          percent_rank().over(
            Window.partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))))
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ---------------------------------------- LSH recall audit (ANN)
  // The index-quality measurement an ANN deployment actually tracks:
  // recall@10 of the sign-LSH index against the exact brute-force
  // baseline, per query. Both sides are deterministic (same
  // parameters as p_brute_topk / p_lsh_topk), so the oracle
  // recomputes both rankings and the per-query hit count exactly.
  // On this corpus the audit EXPOSES the single-probe ceiling (one
  // 256-bucket band sees ~1/256 of the corpus per query — recall is
  // a few percent at sf0.01): exactly the measurement that justifies
  // the multi-probe and IVF variants, whose dominance the spec pins.
  // Scale shape: the audit runs on a SAMPLE of queries (here the 20
  // probe vectors) — brute force bounds the cost, the index serves
  // production traffic; the join is (query_id, neighbor_id) keyed.
  private val qLshRecallAudit = Queries.Q(
    "p_lsh_recall_audit",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${OracleSql.signBucket} AS bucket FROM embeddings),
      bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
      bs AS (SELECT query_id, vec_id AS neighbor_id, ${OracleSql.cosine} AS sim
             FROM bq q CROSS JOIN embeddings
             WHERE query_id != vec_id),
      brute AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM bs) WHERE rnk <= 10),
      lq AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < 20),
      ls AS (SELECT query_id, e.vec_id AS neighbor_id, ${OracleSql.cosine} AS sim
             FROM lq q JOIN e USING (bucket)
             WHERE query_id != e.vec_id),
      lsh AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                FROM ls) WHERE rnk <= 10)
      SELECT b.query_id,
             CAST(COUNT(*) AS BIGINT) AS n_brute,
             CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
      FROM brute b LEFT JOIN lsh l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") < 20)
      val brute = Similarity.bruteForceTopK(
        probes, "vec_id", emb, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val lshHits = Similarity.lshTopK(
        probes, "vec_id", emb, "vec_id", "embedding", k = 10, signBits = 8)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      brute
        .join(lshHits, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(
          count(lit(1)).as("n_brute"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(
          col("query_id"), col("n_brute"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_brute")).as("recall"))
        .transform(Queries.sortedSmall(_, "query_id"))
    })

  // ------------------------------------ end-to-end curation pipeline
  // The composition the operator library exists for, as ONE Catalyst
  // plan with no materialization barriers between stages: quality
  // gate → exact-dedup survivors → per-source cap (15 best by chars)
  // → per-language corpus rollup. Each stage is the same oracle-gated
  // operator its standalone query checks (p_quality_filter,
  // p_exact_dedup_groups, p_source_cap), so the oracle replays the
  // identical ladder in SQL CTEs. At 100 TB the whole pipeline is
  // three narrow keyed exchanges (fingerprint, source-rank, lang) —
  // the payload rides only the semi-join survivors.
  private val qCurationPipeline = Queries.Q(
    "p_curation_pipeline",
    Some("""
      WITH v AS (
        SELECT doc_id, text, lang, source, n_chars,
               len(string_split(text, ' ')) AS n,
               len(list_distinct(string_split(text, ' '))) AS nd,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS nstop
        FROM documents),
      kept1 AS (
        SELECT doc_id, text, lang, source, n_chars, n FROM v
        WHERE NOT (n < 10)
          AND NOT (CAST(length(text) - (n - 1) AS DOUBLE) / n > 10.0)
          AND NOT (nstop = 0)
          AND NOT (1.0 - CAST(nd AS DOUBLE) / n > 0.6)),
      fp AS (SELECT doc_id, lang, source, n_chars, n,
                    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f
             FROM kept1),
      kept2 AS (
        SELECT doc_id, lang, source, n_chars, n FROM fp
        WHERE doc_id IN (SELECT MIN(doc_id) FROM fp GROUP BY f)),
      ranked AS (
        SELECT lang, n_chars, n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM kept2)
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM ranked WHERE rn <= 15
      GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val kept1 = docs.join(
        TextAnalysis.qualityFilter(docs, "doc_id", "text",
          minTokens = 10L, maxAvgTokenLen = 10.0d, maxDupFrac = 0.6d)
          .filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val kept2 = kept1.join(
        Dedup.exactGroups(kept1, "doc_id", "text")
          .select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val kept3 = Sampling.perKeyCap(
        kept2, "source", "doc_id", n = 15, sortKey = col("n_chars"), desc = true)
      kept3.groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .transform(Queries.sortedSmall(_, "lang"))
    })

  val all: Seq[Queries.Q] = Seq(
    qTextStats, qLangQuality, qRepetitionStats, qExactDedup, qNgramJaccard, qMinhashNearDup,
    qDupGroups, qGroupSafeSplit, qMinhashBucketAudit, qSimhash, qSimhashNearDup, qWinnowFingerprints,
    qContamination, qHashSplit, qUniformSample, qCorpusShuffle,
    qKeywordTopK, qBm25TopK, qBm25PrefilterAudit, qBruteTopK, qBruteTopKL2,
    qLshTopK, qLshTopKMultiProbe, qIvfTopK, qEmbeddingNearDup, qEmbeddingQuantize,
    qMultimodal, qEventsDedup, qTokenCounts, qVocabTopK,
    qPiiRedact, qQualityFilter, qChunkWindows, qStratifiedSample, qEditDistVerify,
    qApproxVocab, qLmFamiliarity, qTfidfTopK, qTokenBudgetMix, qSnapshotDiff,
    qNearDupDedup, qNearDupBest, qSourceCap, qApproxQuantiles, qPngPixelStats, qRandomProjection,
    qBoilerplateNgrams, qSpanDedup, qSourceReport, qSplitContamination,
    qDecontaminate, qContaminationBySuite,
    qBpePairCounts, qCurationPipeline, qLshRecallAudit, qQualityRankNorm)
}
