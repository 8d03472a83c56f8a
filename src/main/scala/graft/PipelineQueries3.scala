package graft

import org.apache.spark.sql.functions._

import graft.operators.{LanguageModel, Sampling, Shards}

/** Third pipeline-query wave (round 16): the TRUE n-gram LM
  * perplexity gate ([[graft.operators.LanguageModel.perplexity]]) in
  * its production shape — train on a trusted reference slice
  * (hash-bucketed, deterministic), score the remaining corpus.
  * Oracle-gated surfaces are the engine-exact ones (the trained
  * counts; hit/backoff tallies; the single-division `hit_frac`);
  * the `ln`/`exp`-bearing avg_logprob/ppl are spec-gated
  * (LanguageModelSpec). */
object PipelineQueries3 {

  // the reference slice: ~40% of documents by salted md5 bucket —
  // the same deterministic device every sampling oracle uses
  private val refPred = Sampling.hashBucket(col("doc_id"), "lmref", 100) < 40

  // --------------------------------------- LM training artifact
  // Top-100 reference bigrams by count — the trained model's head,
  // exact longs under a deterministic (cnt DESC, gram) order. The
  // bigram rides as its space-joined string: tokens are space-split
  // so the key is bijective and the oracle stays a plain GROUP BY.
  private val qLmBigramCounts = Queries.Q(
    "p_lm_bigram_counts",
    Some(s"""
      WITH ref AS (SELECT doc_id, text FROM documents WHERE ${OracleSql.refPred}),
      rtok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM ref),
      rg AS (SELECT unnest(list_transform(
               generate_series(1, greatest(len(tk) - 1, 0)),
               i -> tk[i] || ' ' || tk[i + 1])) AS gram
             FROM rtok),
      bi AS (SELECT gram, COUNT(*) AS cnt FROM rg GROUP BY gram)
      SELECT gram, cnt FROM bi
      ORDER BY cnt DESC, gram
      LIMIT 100"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      LanguageModel.ngramCounts(docs.filter(refPred), "text", 2)
        .transform(Queries.sortedSmallBy(_, col("cnt").desc, col("gram")))
        .limit(100)
    })

  // --------------------------------------- LM scoring audit
  // Every NON-reference document scored against the reference model:
  // how many bigram positions it has, how many the order-2 model
  // knows (hit) vs backs off on, and the exact hit fraction — the
  // engine-exact skeleton of the perplexity score (the log-prob
  // itself is spec-gated; same discipline as the DSIR weights).
  private val qLmScoreAudit = Queries.Q(
    "p_lm_score_audit",
    Some(s"""
      WITH tgt AS (SELECT doc_id, text FROM documents WHERE NOT (${OracleSql.refPred})),
      ${OracleSql.lmHits("", "tgt")}
      SELECT d.doc_id,
             COALESCE(a.n_scored, CAST(0 AS BIGINT)) AS n_scored,
             COALESCE(a.n_hit, CAST(0 AS BIGINT)) AS n_hit,
             COALESCE(a.n_scored, CAST(0 AS BIGINT))
               - COALESCE(a.n_hit, CAST(0 AS BIGINT)) AS n_backoff,
             CASE WHEN a.n_scored > 0
                  THEN CAST(a.n_hit AS DOUBLE) / a.n_scored END AS hit_frac
      FROM tgt d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.filter(refPred)
      LanguageModel.perplexity(
        docs.filter(!refPred), "doc_id", "text",
        LanguageModel.ngramCounts(ref, "text", 1),
        LanguageModel.ngramCounts(ref, "text", 2))
        .select("doc_id", "n_scored", "n_hit", "n_backoff", "hit_frac")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // --------------------------------------- token-balanced sharding
  // Export sharding: every document → one of 8 shards, serpentine-
  // dealt by token count within 32 salted hash buckets (never a
  // global sort — see Shards scaladoc). Oracle replays the bucket,
  // the within-bucket rank, and the integer serpentine arithmetic.
  private val qShardAssign = Queries.Q(
    "p_shard_assign",
    Some(s"""
      WITH b AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (${OracleSql.bucketOn("shard", "doc_id", 32)}) AS bucket
        FROM documents),
      r AS (
        SELECT doc_id, n_tokens,
               CAST(row_number() OVER (
                 PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) - 1
                 AS BIGINT) AS rr
        FROM b)
      SELECT doc_id, n_tokens,
             CAST(CASE WHEN (rr // 8) % 2 = 0 THEN rr % 8
                       ELSE 7 - (rr % 8) END AS INT) AS shard
      FROM r
      ORDER BY doc_id"""),
    (s, dir) =>
      Shards.assignBalanced(Tables(s, dir).documents, "doc_id", "text",
        nShards = 8, numBuckets = 32, salt = "shard")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // The export manifest: per-shard doc/token totals (the balance
  // audit) + id span. Exact integer aggregates over the assignment.
  private val qShardManifest = Queries.Q(
    "p_shard_manifest",
    Some(s"""
      WITH b AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (${OracleSql.bucketOn("shard", "doc_id", 32)}) AS bucket
        FROM documents),
      r AS (
        SELECT doc_id, n_tokens,
               CAST(row_number() OVER (
                 PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) - 1
                 AS BIGINT) AS rr
        FROM b),
      a AS (
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN (rr // 8) % 2 = 0 THEN rr % 8
                         ELSE 7 - (rr % 8) END AS INT) AS shard
        FROM r)
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             MIN(doc_id) AS min_id,
             MAX(doc_id) AS max_id
      FROM a
      GROUP BY shard
      ORDER BY shard"""),
    (s, dir) =>
      Shards.manifest(
        Shards.assignBalanced(Tables(s, dir).documents, "doc_id", "text",
          nShards = 8, numBuckets = 32, salt = "shard"), "doc_id")
        .transform(Queries.sortedSmall(_, "shard")))

  // --------------------------------------- curation v3: + the LM gate
  // The CCNet-shaped full lineup: reportV2's five gates + the backoff-
  // LM hit-fraction gate (trained on the lmref 40% slice, scoring the
  // whole corpus; keep iff hit_frac >= 0.99 or unscorable). Oracle
  // composes the proven v2 CTE chains (curation gates via
  // OracleSql.curationCtes, DSIR, outliers) with the
  // p_lm_score_audit LM chain over all documents.
  private val qCurationV3 = Queries.Q(
    "p_curation_v3",
    Some(s"""
      WITH RECURSIVE ${OracleSql.curationV2Ctes},
      ${OracleSql.lmHits("l", "documents")},
      lsc AS (SELECT d.doc_id,
                CASE WHEN a.n_scored > 0
                     THEN CAST(a.n_hit AS DOUBLE) / a.n_scored END AS lm_hit_frac,
                (COALESCE(a.n_scored, 0) = 0
                  OR CAST(a.n_hit AS DOUBLE) / a.n_scored >= 0.99) AS lm_keep
              FROM documents d LEFT JOIN lagg a USING (doc_id))
      SELECT r.doc_id, CAST(r.n AS BIGINT) AS n_tokens,
             r.drop_reason IS NULL AS quality_keep, r.drop_reason,
             r.doc_id IN (SELECT doc_id FROM exl) AS exact_dup_loser,
             r.doc_id IN (SELECT node FROM losers) AS near_dup_loser,
             daff.affinity,
             r.doc_id IN (SELECT id FROM ofl) AS embedding_outlier,
             (daff.affinity >= 0.435 AND daff.sum_raw > 0) AS affinity_keep,
             lsc.lm_hit_frac, lsc.lm_keep,
             (r.drop_reason IS NULL AND r.doc_id NOT IN (SELECT doc_id FROM exl)
              AND r.doc_id NOT IN (SELECT node FROM losers)
              AND daff.affinity >= 0.435 AND daff.sum_raw > 0
              AND r.doc_id NOT IN (SELECT id FROM ofl)
              AND lsc.lm_keep) AS kept
      FROM r
      JOIN daff ON daff.doc_id = r.doc_id
      JOIN lsc ON lsc.doc_id = r.doc_id
      ORDER BY r.doc_id"""),
    (s, dir) => {
      val tbl = Tables(s, dir)
      graft.operators.Curation.reportV3(
        tbl.documents, "doc_id", "text",
        tbl.embeddings, "vec_id", "embedding",
        tbl.embeddings.filter(col("vec_id") < 16), "vec_id", "embedding",
        isTarget = col("lang") === "en",
        lmRef = refPred,
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
        dsirDim = 512, dsirSalt = "dsir", minAffinity = 0.435,
        outlierFraction = 0.1, minHitFrac = 0.99)
        .select("doc_id", "n_tokens", "quality_keep", "drop_reason",
          "exact_dup_loser", "near_dup_loser", "affinity",
          "embedding_outlier", "affinity_keep", "lm_hit_frac", "lm_keep",
          "kept")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // --------------------------------------- corpus drift monitor
  // Distribution shift between two corpus snapshots (old = documents
  // minus every 10th, with content drift on doc_id%7==3 — the
  // curation-lineage derivation; new = the corpus). Every bucket and
  // ppm is exact integer arithmetic: binary-magnitude length bins
  // (length(bin(n)) — a float log2 would round differently at powers
  // of two), integer-division stopword deciles, (n·1e6) div N ppm.
  private val qCorpusDrift = Queries.Q(
    "p_corpus_drift",
    Some(s"""
      WITH oldc AS (SELECT doc_id,
               CASE WHEN doc_id % 7 = 3 THEN text || ' drifted crawl content here'
                    ELSE text END AS text, lang
             FROM documents WHERE doc_id % 10 <> 0),
      newc AS (SELECT doc_id, text, lang FROM documents),
      ob AS (SELECT feature, bucket, CAST(COUNT(*) AS BIGINT) AS old_n
             FROM (${OracleSql.driftBuckets("oldc")}) GROUP BY 1, 2),
      nb AS (SELECT feature, bucket, CAST(COUNT(*) AS BIGINT) AS new_n
             FROM (${OracleSql.driftBuckets("newc")}) GROUP BY 1, 2),
      ot AS (SELECT feature, SUM(old_n) AS t FROM ob GROUP BY 1),
      nt AS (SELECT feature, SUM(new_n) AS t FROM nb GROUP BY 1),
      j AS (SELECT COALESCE(ob.feature, nb.feature) AS feature,
                   COALESCE(ob.bucket, nb.bucket) AS bucket,
                   COALESCE(ob.old_n, 0) AS old_n,
                   COALESCE(nb.new_n, 0) AS new_n
            FROM ob FULL OUTER JOIN nb
              ON ob.feature = nb.feature AND ob.bucket = nb.bucket)
      SELECT j.feature, j.bucket, j.old_n, j.new_n,
             CAST(COALESCE((j.old_n * 1000000) // ot.t, 0) AS BIGINT) AS old_ppm,
             CAST(COALESCE((j.new_n * 1000000) // nt.t, 0) AS BIGINT) AS new_ppm,
             CAST(COALESCE((j.new_n * 1000000) // nt.t, 0)
               - COALESCE((j.old_n * 1000000) // ot.t, 0) AS BIGINT) AS delta_ppm
      FROM j
      LEFT JOIN ot ON ot.feature = j.feature
      LEFT JOIN nt ON nt.feature = j.feature
      ORDER BY j.feature, j.bucket"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val oldc = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 3,
            concat(col("text"), lit(" drifted crawl content here")))
            .otherwise(col("text")).as("text"),
          col("lang"))
      graft.operators.Drift.report(oldc, docs, "doc_id", "text",
        langCol = Some("lang"))
        .transform(Queries.sortedSmall(_, "feature", "bucket"))
    })

  // --------------------------------------- exact global rank
  // row_number() over the WHOLE corpus by (n_tokens, doc_id) — the
  // oracle is the naive global window; the Spark side is
  // Rank.globalRank's decomposition (key offsets + monotone id
  // sub-buckets + (key, sub)-partitioned local rank), which never
  // forms Exchange SinglePartition over corpus rows.
  private val qGlobalRank = Queries.Q(
    "p_global_rank",
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(row_number() OVER (
               ORDER BY len(string_split(text, ' ')), doc_id) AS BIGINT) AS rank
      FROM documents
      ORDER BY doc_id"""),
    (s, dir) =>
      graft.operators.Rank.globalRank(
        Tables(s, dir).documents.select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // The continuous-key variant over customer balances (a double with
  // ~corpus-cardinality values — the shape whose distinct-key table
  // would itself be corpus-sized): bucket offsets + within-bucket
  // (key, id) rank; oracle is again the naive window.
  private val qGlobalRankRange = Queries.Q(
    "p_global_rank_range",
    Some("""
      SELECT c_custkey,
             c_acctbal,
             CAST(row_number() OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rank
      FROM customer
      ORDER BY c_custkey"""),
    (s, dir) =>
      graft.operators.Rank.globalRankRange(
        Tables(s, dir).customer.select("c_custkey", "c_acctbal"),
        "c_custkey", "c_acctbal", numBuckets = 64)
        .transform(Queries.sortedSmall(_, "c_custkey")))

  // --------------------------------------- CCNet-style LM buckets
  // The head/middle/tail split CCNet applies per language: rank every
  // SCORABLE document by LM quality (hit_frac DESC — the engine-exact
  // LM surface; ties broken by doc_id) and cut exact terciles with
  // integer arithmetic: bucket = ((rank−1)·3) div n. Composes the LM
  // gate with Rank.globalRank (hit_frac is tie-HEAVY — most docs
  // score 1.0 — exactly the distribution the discrete variant's id
  // sub-buckets split). Oracle is the naive global window + the same
  // integer cut.
  private val qCcnetBuckets = Queries.Q(
    "p_ccnet_buckets",
    Some(s"""
      WITH ${OracleSql.lmHits("", "documents")},
      sc AS (SELECT doc_id,
               CAST(n_hit AS DOUBLE) / n_scored AS hit_frac
             FROM agg WHERE n_scored > 0),
      rk AS (SELECT doc_id, hit_frac,
               CAST(row_number() OVER (
                 ORDER BY hit_frac DESC, doc_id) AS BIGINT) AS rank,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
             FROM sc)
      SELECT doc_id, hit_frac, rank,
             CASE CAST(((rank - 1) * 3) // n AS BIGINT)
               WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
             END AS bucket
      FROM rk
      ORDER BY doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.filter(refPred)
      val scored = LanguageModel.perplexity(docs, "doc_id", "text",
        LanguageModel.ngramCounts(ref, "text", 1),
        LanguageModel.ngramCounts(ref, "text", 2))
        .filter(col("n_scored") > 0)
        // rank DESC via the negated exact fraction: hit_frac is one
        // IEEE division, so -hit_frac is exact and order-equivalent
        .select(col("doc_id"), col("hit_frac"),
          (-col("hit_frac")).as("__negf"))
        // MATERIALIZED once (eager localCheckpoint, n_docs narrow
        // rows): the scored frame feeds THREE consumers (the count,
        // Rank.globalRank's boundary + rank passes, the hit_frac
        // join-back) whose divergent pruning de-canonicalizes the
        // full LM-perplexity chain below — each consumer re-executed
        // the three gram-keyed joins (r21; the qIncrementalCuration
        // history pattern)
        .localCheckpoint(true)
      val n = scored.agg(count(lit(1)).as("__n"))
      graft.operators.Rank.globalRank(scored, "doc_id", "__negf")
        .crossJoin(broadcast(n))
        .join(scored.select("doc_id", "hit_frac"), Seq("doc_id"))
        .select(
          col("doc_id"), col("hit_frac"), col("rank"),
          when(expr("((rank - 1) * 3) div __n") === 0, "head")
            .when(expr("((rank - 1) * 3) div __n") === 1, "middle")
            .otherwise("tail").as("bucket"))
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // --------------------------- perceptual image near-dup under oracle
  // The multimodal dedup gap (r16 verdict "What's missing" #2): 18
  // formulaic PNGs — 6 families of (original, brightness-shifted
  // copy, sparsely-perturbed copy) across all four channel layouts —
  // plus 2 undecodable payloads, paired by 64-bit dHash Hamming ≤3
  // through the SAME pigeonhole block join as text simhash. The
  // oracle decodes nothing: it recomputes every grid luma from the
  // pixel formula and the NN floor rule, reassembles both dHashes
  // bit by bit, and derives the pair set with xor + bit_count — one
  // wrong resample index, luma rule, gradient sign, or band split
  // fails the hash. The fixture is tuned so the uniform-shift copies
  // land at Hamming 0 (dHash's invariance claim), the perturbed
  // copies at 1–5 (one family EXCEEDS the threshold — the boundary
  // is exercised from both sides), and cross-family distances stay
  // ≥11 (no coincidental pairs).
  private val qImageNearDup = Queries.Q(
    "p_image_near_dup",
    Some(s"""
      WITH ${OracleSql.images18()},
      ${OracleSql.gridHash("", "px", "i")}
      ${OracleSql.hammingRows}"""),
    (s, dir) => {
      import s.implicits._
      // undecodable payloads flow through as NULL hashes and must be
      // dropped, never paired
      operators.Multimodal.imageNearDupPairs(
        (MediaFixtures.images18(upscale = false) ++ MediaFixtures.imageJunk)
          .toDF("img_id", "payload"), "img_id", "payload",
        maxHamming = 3)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // --------------------------- image near-dup DEDUP output (corpus)
  // The decision the pair query feeds: dHash pairs → connected
  // components → smallest-id representative per cluster, junk
  // payloads always kept (they cannot pair). Same fixture as
  // p_image_near_dup, so the two queries cross-check each other; the
  // oracle recomputes the hashes, the pair set, a recursive
  // min-reachability closure, and the NOT IN — the p_semantic_dedup
  // discipline on the multimodal column.
  private val qImageDedup = Queries.Q(
    "p_image_dedup",
    Some(s"""
      WITH RECURSIVE ${OracleSql.images18()},
      ${OracleSql.gridHash("", "px", "i")},
      ${OracleSql.hammingPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      ${OracleSql.losers()}
      ${OracleSql.keptRows("img_id", "png", 18)}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupImageNearDups(
        (MediaFixtures.images18(upscale = false) ++ MediaFixtures.imageJunk)
          .toDF("img_id", "payload"), "img_id", "payload",
        maxHamming = 3)
        .select(col("img_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "img_id"))
    })

  // --------------------------- video near-dup by frame-aligned dHash
  // The video column's dedup verb, composed from oracle-proven parts:
  // 10 uncompressed AVIs (5 originals + 5 brightness-shifted
  // re-encodes, both row orders), every 2nd frame decoded and
  // dHashed, videos paired on same-index frame-hash matches. The
  // oracle decodes nothing — it predicts every sampled frame's 9×8
  // luma grid from the pixel formula, reassembles each frame hash,
  // and recomputes the pair fractions; one wrong frame index, row
  // flip, resample, or luma rule fails the hash.
  private val qVideoNearDup = Queries.Q(
    "p_video_near_dup",
    Some(s"""
      WITH ${OracleSql.videos10},
      ${OracleSql.gridHash("", "px", "i", "f")},
      ${OracleSql.setOverlap(by = Seq("f"))}
      ${OracleSql.overlapRows}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.videoNearDupPairs(
        MediaFixtures.videos10.toDF("video_id", "payload"), "video_id", "payload",
        stride = 2, minFrac = 0.5)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // ------------------ image dedup, BEST-resolution survivor (corpus)
  // p_image_dedup's decision with the survivor rule a real image pass
  // wants: dHash is exact-NN-rescale-invariant, so each family's v=1
  // member is a 2× UPSCALE (+40 brightness) of the head — same hash,
  // 4× the pixels — and must WIN the cluster over the smaller-id
  // head. The oracle exploits the invariance it tests: v=1's hash is
  // computed at BASE dims (⌊⌊2a⌋/2⌋ = ⌊a⌋ makes the 2× NN grid
  // resample identical source pixels), while its quality carries the
  // 4× pixel count; survivor = argmax(quality, then min id) over the
  // recursive closure.
  private val qImageDedupBest = Queries.Q(
    "p_image_dedup_best",
    Some(s"""
      WITH RECURSIVE ${OracleSql.images18()},
      ${OracleSql.gridHash("", "px", "i")},
      qual AS (SELECT i, CASE WHEN v = 1 THEN 4 * w * h ELSE w * h END AS q
               FROM imgs),
      ${OracleSql.hammingPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      comp AS (SELECT node, MIN(r) AS grp FROM reach GROUP BY node),
      best AS (SELECT node FROM (
                 SELECT comp.node,
                        ROW_NUMBER() OVER (PARTITION BY comp.grp
                                           ORDER BY qual.q DESC, comp.node) AS rn
                 FROM comp JOIN qual ON qual.i = comp.node)
               WHERE rn = 1),
      losers AS (SELECT node FROM comp
                 WHERE node NOT IN (SELECT node FROM best))
      ${OracleSql.keptRows("img_id", "png", 18)}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupImageNearDupsBest(
        (MediaFixtures.images18(upscale = true) ++ MediaFixtures.imageJunk)
          .toDF("img_id", "payload"), "img_id", "payload",
        maxHamming = 3)
        .select(col("img_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "img_id"))
    })

  // --------------------------- video near-dup DEDUP output (corpus)
  // The decision p_video_near_dup's pairs feed: frame-aligned pairs →
  // connected components → smallest-id representative, junk payloads
  // always kept. Same fixture as the pair query (+2 junk rows), so
  // the two cross-check; the oracle recomputes every frame hash, the
  // frac-gated pair set, the recursive min-reachability closure, and
  // the NOT IN — the p_image_dedup discipline on the video column.
  private val qVideoDedup = Queries.Q(
    "p_video_dedup",
    Some(s"""
      WITH RECURSIVE ${OracleSql.videos10},
      ${OracleSql.gridHash("", "px", "i", "f")},
      ${OracleSql.setOverlap(by = Seq("f"))},
      ${OracleSql.overlapPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      ${OracleSql.losers()}
      ${OracleSql.keptRows("video_id", "avi", 10)}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupVideoNearDups(
        (MediaFixtures.videos10 ++ MediaFixtures.videoJunk(10))
          .toDF("video_id", "payload"), "video_id", "payload",
        stride = 2, minFrac = 0.5)
        .select(col("video_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "video_id"))
    })

  // ----------------- cross-modal containment (image inside video)
  // "Which videos contain this known image?" — sampled frame hashes
  // vs catalog image hashes through the pigeonhole band join, exact
  // because the decoders share one pixel layout and both modalities
  // use the ImageDHash64 kernel. Fixture: 4 videos (+1 junk), 4 PNGs
  // (+1 junk) — a brightness-shifted export of a SAMPLED frame
  // (Hamming 0), a sparse-mask edit of another (small Hamming, the
  // ≤3 gate decides), an export of an UNSAMPLED frame (stride
  // semantics — matches only by hash coincidence), and an unrelated
  // image. The oracle rebuilds BOTH derivations (video grid lumas
  // with the frame term, image grid lumas with the shift/mask) and
  // cross-joins with xor+bit_count.
  private val qVideoImageMatches = Queries.Q(
    "p_video_image_matches",
    Some(s"""
      WITH vids AS (
        SELECT i, i AS b, 12 + i % 3 AS w, 10 + i % 2 AS h, 4 + i % 3 AS nf
        FROM generate_series(0, 3) t(i)),
      vfr AS (SELECT i, b, w, h, unnest(generate_series(0, nf - 1, 2)) AS f
              FROM vids),
      vcell AS (
        SELECT i, f, b, gx, gy, ((gx * w) // 9) AS sx, ((gy * h) // 8) AS sy
        FROM vfr, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
      vpx AS (
        SELECT i, f, gx, gy,
               ((sx*17 + sy*29 + f*41 + b*53) % 180 +
                (sx*17 + sy*29 + 37 + f*41 + b*53) % 180 +
                (sx*17 + sy*29 + 74 + f*41 + b*53) % 180) // 3 AS luma
        FROM vcell),
      ${OracleSql.gridHash("v", "vpx", "i", "f")},
      imgs AS (
        SELECT j,
               CASE WHEN j IN (1, 4) THEN 1 WHEN j = 2 THEN 2
                    WHEN j = 3 THEN 9 ELSE 0 END AS b,
               CASE j WHEN 0 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS f,
               CASE WHEN j IN (0, 2) THEN 40 ELSE 0 END AS shift,
               -- sparse-mask density tunes Hamming: %7 lands exactly
               -- at the gate (3, included), %3 at 8 (excluded)
               CASE WHEN j = 1 THEN 7 WHEN j = 4 THEN 3 ELSE 0 END AS maskmod
        FROM generate_series(0, 4) t(j)),
      icell AS (
        SELECT j, b, f, gx, gy,
               ((gx * (12 + b % 3)) // 9) AS sx, ((gy * (10 + b % 2)) // 8) AS sy,
               shift + CASE WHEN maskmod > 0 AND
                                 (((gx * (12 + b % 3)) // 9) +
                                  ((gy * (10 + b % 2)) // 8)) % maskmod = 0
                            THEN 25 ELSE 0 END AS sh
        FROM imgs, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
      ipx AS (
        SELECT j, gx, gy,
               ((sx*17 + sy*29 + f*41 + b*53) % 180 + sh +
                (sx*17 + sy*29 + 37 + f*41 + b*53) % 180 + sh +
                (sx*17 + sy*29 + 74 + f*41 + b*53) % 180 + sh) // 3 AS luma
        FROM icell),
      ${OracleSql.gridHash("i", "ipx", "j")}
      SELECT video_id, frame_idx, img_id, hamming FROM (
        SELECT CAST(v.i AS BIGINT) AS video_id, CAST(v.f AS BIGINT) AS frame_idx,
               CAST(im.j AS BIGINT) AS img_id,
               CAST(${OracleSql.hamming("v", "im")} AS BIGINT) AS hamming
        FROM vhs v, ihs im)
      WHERE hamming <= 3
      ORDER BY video_id, frame_idx, img_id"""),
    (s, dir) => {
      val vids: Seq[(Long, Array[Byte])] = (0 until 4).map { i =>
        val b = i
        val (w, h, nf) = (12 + i % 3, 10 + i % 2, 4 + i % 3)
        (i.toLong, operators.Multimodal.encodeAvi(w, h, nf,
          (f, x, y, c) => (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180,
          topDown = i % 2 == 1))
      } :+ (4L -> "not a video".getBytes("UTF-8"))
      val imgs: Seq[(Long, Array[Byte])] = Seq(
        (0, 0, 2, 40, 0), // frame 2 of video 0, uniform shift → Hamming 0
        (1, 1, 0, 0, 7),  // frame 0 of video 1, %7 mask → Hamming 3 (boundary IN)
        (2, 2, 1, 40, 0), // frame 1 of video 2 — UNSAMPLED at stride 2
        (3, 9, 0, 0, 0),  // unrelated family
        (4, 1, 0, 0, 3)   // frame 0 of video 1, %3 mask → Hamming 8 (OUT)
      ).map { case (j, b, f, shift, maskmod) =>
        val (w, h) = (12 + b % 3, 10 + b % 2)
        (j.toLong, operators.Multimodal.encodePng(w, h, 3,
          (x, y, c) => (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180 +
            shift + (if (maskmod > 0 && (x + y) % maskmod == 0) 25 else 0),
          y => (y + j) % 5))
      } :+ (5L -> "not an image".getBytes("UTF-8"))
      import s.implicits._
      operators.Multimodal.videoImageMatches(
        vids.toDF("video_id", "payload"), "video_id", "payload", 2,
        imgs.toDF("img_id", "payload"), "img_id", "payload", maxHamming = 3)
        .transform(Queries.sortedSmall(_, "video_id", "frame_idx", "img_id"))
    })

  // --------------------------- audio near-dup DEDUP output (corpus)
  // p_audio_near_dup's pairs → CC → smallest-id representative; same
  // fixture (incl. its junk rows), so the queries cross-check.
  private val qAudioDedup = Queries.Q(
    "p_audio_dedup",
    Some(s"""
      WITH RECURSIVE ${OracleSql.clips12},
      ${OracleSql.envelopeHash("", "e", "i")},
      ${OracleSql.hammingPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      ${OracleSql.losers()}
      ${OracleSql.keptRows("clip_id", "wav", 12)}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupAudioNearDups(
        (MediaFixtures.clips12 ++ MediaFixtures.audioJunk(12))
          .toDF("clip_id", "payload"), "clip_id", "payload",
        maxHamming = 3)
        .select(col("clip_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "clip_id"))
    })

  // ------------------- shift-tolerant video near-dup (hash-set form)
  // The trade the frame-ALIGNED query documents, as its own operator:
  // 12 AVIs — 4 originals, 4 TRIMMED copies (first 2 frames dropped,
  // remaining content identical: the aligned form misses them by
  // design, the set form scores containment 1.0), and 4 locally
  // edited copies (+25 sparse mask on 2/3 of frames — only the
  // untouched frames' hashes survive, landing fracs on both sides of
  // the 0.5 gate). Stride 1: shift tolerance is modulo the stride.
  // The oracle decodes nothing — it rebuilds every frame hash from
  // the pixel formula WITH the trim's content shift, collapses each
  // video to its DISTINCT hash set, and recomputes the overlap
  // fractions.
  private val qVideoNearDupShifted = Queries.Q(
    "p_video_near_dup_shifted",
    Some(s"""
      WITH ${OracleSql.videosShifted12()},
      ${OracleSql.gridHash("", "px", "i", "f")},
      ${OracleSql.setOverlap()}
      ${OracleSql.overlapRows}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.videoNearDupPairsShifted(
        MediaFixtures.videosShifted12.toDF("video_id", "payload"), "video_id", "payload",
        stride = 1, minFrac = 0.5)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // --------------------------- audio near-dup by energy-envelope hash
  // The third fingerprint family: 12 PCM WAV clips (4 originals, 4
  // gain-rescaled copies — the hash's invariance claim, Hamming 0 —
  // and 4 locally-edited copies: one re-mixed on alternating windows
  // (Hamming 29, must be EXCLUDED) and three with a single amplified
  // burst (Hamming 2–3, the boundary's other side)) + 2 junk
  // payloads, paired through the SAME pigeonhole join as text/image.
  // The oracle decodes nothing: it predicts every i16 sample from the
  // formula, recomputes the 65 floor windows, the cross-multiplied
  // envelope-gradient bits, both hash halves, and the pair set.
  private val qAudioNearDup = Queries.Q(
    "p_audio_near_dup",
    Some(s"""
      WITH ${OracleSql.clips12},
      ${OracleSql.envelopeHash("", "e", "i")}
      ${OracleSql.hammingRows}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.audioNearDupPairs(
        (MediaFixtures.clips12 ++ MediaFixtures.audioJunk(12))
          .toDF("clip_id", "payload"), "clip_id", "payload",
        maxHamming = 3)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // ------------------- shift-tolerant audio near-dup (segment form)
  // The audio mirror of p_video_near_dup_shifted: 12 PCM WAV clips —
  // 4 originals, 4 copies that are BOTH trimmed by exactly one
  // 128-frame segment AND gain-rescaled ×3 (the two invariances
  // composed: the whole-clip envelope hash re-stretches its windows
  // over the new length and misses the trim; the segment-set form
  // pairs at containment 1.0), and 4 locally edited copies (×4 on
  // the first half of a segment subset — non-uniform WITHIN the
  // segment, so those segments' hashes flip: families land on both
  // sides of the 0.5 gate). The oracle decodes nothing — it
  // recomputes every i16 sample WITH the trim's content shift and
  // the sub-segment gain mask, rebuilds all 65 windows per segment,
  // the cross-multiplied bits, both hash halves, the distinct sets,
  // and the overlap fractions.
  private val qAudioNearDupShifted = Queries.Q(
    "p_audio_near_dup_shifted",
    Some(s"""
      WITH ${OracleSql.clipsShifted12()},
      ${OracleSql.envelopeHash("", "e", "i", "s")},
      ${OracleSql.setOverlap()}
      ${OracleSql.overlapRows}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.audioNearDupPairsShifted(
        MediaFixtures.clipsShifted12.toDF("clip_id", "payload"), "clip_id", "payload",
        segFrames = 128, minFrac = 0.5)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  val all: Seq[Queries.Q] =
    Seq(qLmBigramCounts, qLmScoreAudit, qShardAssign, qShardManifest,
      qCurationV3, qCorpusDrift, qGlobalRank, qGlobalRankRange,
      qCcnetBuckets, qImageNearDup, qImageDedup, qImageDedupBest,
      qVideoNearDup, qVideoNearDupShifted, qVideoDedup, qVideoImageMatches,
      qAudioNearDup, qAudioNearDupShifted, qAudioDedup)
}
