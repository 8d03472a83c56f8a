package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * All variants are expressed as declarative DataFrame plans so
  * Catalyst keeps pushdown/pruning, and every hash is derived from
  * `md5` (stable across engines and Spark versions) rather than
  * `hash()` (murmur3, Spark-internal) so results are reproducible and
  * oracle-checkable.
  *
  * Scale notes (100 TB): exact dedup is one hash-shuffle on the
  * fingerprint; minhash/LSH shuffles signatures (tiny: k strings per
  * doc) and generates candidates by collapsing each (band, band_hash)
  * bucket into its member list in ONE shuffle, then enumerating i<j
  * pairs inside the bucket — never all-pairs, never a persisted
  * self-join. A bucket's pair count is quadratic in its size, so
  * bucket sizes are capped ([[minhashCandidatePairs]] `maxBucket`):
  * a flood of identical documents would otherwise concentrate one
  * giant O(b²) row on one task. Run [[exactGroups]] first so exact
  * duplicates can't form such floods, and audit drops with
  * [[minhashBucketOverflow]].
  *
  * Multi-use subtrees (the shingle arrays feeding both the index
  * build and the verify joins) are NOT persisted: each operator
  * repartitions the shared frontier by doc id so every consumer
  * branch hangs off one canonically-identical Exchange, which Spark
  * materializes once as shuffle files and reuses (ReuseExchange /
  * AQE stage reuse) — disk-backed branch reuse with zero heap
  * footprint. Explicit MEMORY_AND_DISK persists here made benchmark
  * timings heap-shape-dependent (block churn + GC debt smearing into
  * neighboring queries). For reuse to fire the branches must stay
  * canonically IDENTICAL: equi-joins infer `IsNotNull` on their keys
  * and push it below the repartition on join branches only, so the
  * shared subtree pre-filters `id IS NOT NULL` itself. Plan shape is
  * asserted in OperatorsSpec (single materialization of the shingle
  * projection).
  */
object Dedup {

  /** Whitespace tokenization; single-space-joined corpora keep exact
    * token counts (split on a literal space, like the oracle). */
  def tokens(text: Column): Column = split(text, " ")

  /** Canonical-text fingerprint: collapse whitespace, lowercase, md5.
    * This is the "document fingerprinting (rolling hash)" operator in
    * its batch form — one deterministic 128-bit id per normal form.
    * Computed by the fused one-pass kernel
    * ([[graft.functions.FingerprintMd5]] — bit-identical to
    * `md5(lower(regexp_replace(text, "\\s+", " ")))`, no regex engine
    * or intermediate strings; equivalence property-tested in
    * MinhashSignatureSpec). */
  def fingerprint(text: Column): Column =
    graft.functions.GraftFunctions.fingerprintMd5(text)

  /** Exact dedup groups: one row per distinct normalized text with the
    * surviving (minimum) id and the duplicate count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(fingerprint(col(textCol)).as("fingerprint"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Per-doc minhash signature of `k` hashes over a precomputed
    * shingle/token array expression. Each h_j is the lexicographic
    * minimum of seed-j md5 hex hashes over the array — the classic
    * minwise-permutation estimator; strings order the same in Spark,
    * DuckDB and Java, so signatures are portable. Small-vocabulary
    * corpora MUST shingle first: unigram token sets collide
    * massively (measured: 44% of all doc pairs at jaccard >= 0.7 on
    * the sf test corpus), while n-gram shingle space keeps only true
    * near-dups together.
    *
    * The k minima are computed by the fused one-pass kernel
    * ([[graft.functions.MinhashSignature]] — bit-identical to the
    * k × `array_min(transform(md5(...)))` formulation, ~k× cheaper;
    * property-tested against the HOF column in FunctionsSpec). The
    * kernel array materializes in its own projection and the h0..h*
    * columns are `element_at` slices of it — CollapseProject leaves
    * the split alone (non-cheap producer referenced k times), so the
    * kernel runs once per row. Output schema (h0..h{k-1} strings) is
    * unchanged. */
  def minhashSignatureOver(docs: DataFrame, idCol: String, shingles: Column, k: Int): DataFrame =
    docs
      .select(col(idCol), graft.functions.GraftFunctions.minhashSig(shingles, k).as("__sig"))
      .select(
        col(idCol) +:
          (0 until k).map(j => element_at(col("__sig"), lit(j + 1)).as(s"h$j")): _*)

  /** Un-partitioned (id, band, band_hash) membership rows — the
    * map-side banding that [[bandRows]] pre-shuffles on the bucket
    * key. */
  def bandMembership(
      sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0,
      s"k=$k must be a multiple of rowsPerBand=$rowsPerBand (trailing positions would be silently dropped)")
    val nBands = k / rowsPerBand
    sig.select(
      col(idCol),
      posexplode(array((0 until nBands).map { b =>
        md5(concat_ws("|",
          (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"h$j")): _*))
      }: _*)).as(Seq("band", "band_hash")))
  }

  /** [[bandMembership]] pre-shuffled on the bucket key: the canonical
    * shared Exchange behind bucket sizing, candidate generation and
    * the overflow audit (every consumer groups/joins on the same key,
    * so Spark materializes this shuffle once and reuses it). */
  private def bandRows(
      sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame =
    bandMembership(sig, idCol, k, rowsPerBand)
      .repartition(col("band"), col("band_hash"))

  /** DISTINCT member count per bucket (duplicate input ids count
    * once, matching the collect_set members downstream). A plain
    * two-phase aggregate — bounded state per bucket, safe on flood
    * buckets of any size. */
  private def bucketSizes(rows: DataFrame, idCol: String): DataFrame =
    rows.groupBy("band", "band_hash")
      .agg(countDistinct(col(idCol)).as("n_ids"))

  /** LSH candidate pairs: docs agreeing on any band (a contiguous run
    * of `rowsPerBand` signature positions) become a candidate.
    *
    * Shape: one shuffle on (band, band_hash) shared by the sizing
    * aggregate and the pairing join (identical keys → one Exchange,
    * reused), then in-bucket pair generation as a SELF-EQUI-JOIN with
    * `id_a < id_b` — never an all-pairs product, never a persisted
    * self-join (heap-resident caches made bench timings heap-size-
    * dependent; round-2 driver runs thrashed GC on exactly these
    * queries), and never collect_list+explode (which builds a
    * bucket's O(b²) pairs inside ONE task's aggregation buffer; the
    * join streams them, and AQE splits a skewed bucket's partitions —
    * same rework as [[simhashNearDupPairs]]). The trailing DISTINCT
    * collapses pairs that agree on several bands and dedupes repeated
    * input ids.
    *
    * Buckets larger than `maxBucket` are DROPPED — and never even
    * joined: bucket sizes are counted first (bounded aggregation
    * state), so a flood bucket costs one long of state, not millions
    * of streamed pairs. A bucket that large is an identical/near-
    * identical-document flood: run [[exactGroups]] first so exact
    * duplicates collapse to one representative, and audit any
    * residual drops with [[minhashBucketOverflow]] — at the default
    * cap a drop means ≥1024 mutually-near-dup distinct docs, which a
    * downstream clustering pass ([[Graph.connectedComponents]])
    * should handle as one group anyway. */
  def minhashCandidatePairs(
      sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int,
      maxBucket: Int = 1024): DataFrame = {
    ensureDropWarnListener(sig.sparkSession)
    val rows = bandRows(sig, idCol, k, rowsPerBand)
    val keep = bucketSizes(rows, idCol)
      // observe (CollectMetrics) rides the existing sizing aggregate:
      // zero extra jobs/shuffles, and the listener below turns a
      // nonzero drop count into a WARN at the call site — production
      // callers no longer lose pairs silently when they skip the
      // minhashBucketOverflow audit. Name is uniquified per call
      // (CollectMetrics names must be unique within one query).
      // Caveat: if EVERY bucket is dropped, AQE's empty-relation
      // propagation prunes this node with the rest of the empty join
      // subtree and no metrics surface — but an entirely-empty pair
      // output is not a silent failure mode; the metrics exist to
      // catch PARTIAL drops hiding inside a plausible result.
      .observe(s"graft_minhash_drops_${obsSeq.getAndIncrement()}",
        coalesce(sum(when(col("n_ids") > maxBucket, 1L)), lit(0L)).as("dropped_buckets"),
        coalesce(sum(when(col("n_ids") > maxBucket, col("n_ids"))), lit(0L)).as("dropped_ids"),
        coalesce(max(when(col("n_ids") > maxBucket, col("n_ids"))), lit(0L)).as("largest_dropped"))
      .filter(col("n_ids") > 1 && col("n_ids") <= maxBucket)
      .select("band", "band_hash")
    val members = rows.join(keep, Seq("band", "band_hash"))
    members.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
      .join(
        members.select(col("band"), col("band_hash"), col(idCol).as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Audit companion of [[minhashCandidatePairs]]: the buckets its
    * `maxBucket` cap would drop, as (band, band_hash, n_ids). Empty
    * output = the cap lost nothing. Pure size aggregation — no
    * member lists, safe at any bucket size. */
  def minhashBucketOverflow(
      sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int,
      maxBucket: Int = 1024): DataFrame =
    bucketSizes(bandRows(sig, idCol, k, rowsPerBand), idCol)
      .filter(col("n_ids") > maxBucket)
      .select(col("band"), col("band_hash"), col("n_ids"))

  /** Exact token-set Jaccard for a pair of token arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni === 0d, lit(0d)).otherwise(inter / uni)
  }

  /** The shared shingle frontier (id, sh) both near-dup operators
    * build on. Shape is deliberate, each piece measured at sf0.1:
    *
    *  - FIRST repartition, below the shingling: a single-file corpus
    *    scans as ONE partition, and any projection written before a
    *    repartition fuses INTO that scan stage — all shingle work on
    *    one core (measured: 46 s single-task stage at 90 GiB heap).
    *    Shuffling raw (id, text) first distributes it across cores.
    *  - Tokens materialize as their OWN projection so the shingle
    *    lambda slices an attribute, not an inlined `split` (which
    *    re-evaluates per output element, O(tokens²)).
    *    CollapseProject leaves the two
    *    projections alone: the split is non-cheap and referenced
    *    more than once.
    *  - SECOND repartition, directly above the shingle projection:
    *    the branch-sharing point. Every consumer (signature build,
    *    postings, verify joins) hangs off this one canonically-
    *    identical Exchange, which ReuseExchange/AQE materializes
    *    ONCE as shuffle files — disk-backed branch reuse with zero
    *    heap footprint (explicit persists here made bench timings
    *    heap-shape-dependent). The shingle work between the two
    *    exchanges runs once, distributed; only its few-MB output is
    *    reshuffled.
    *  - `id IS NOT NULL` sits on the RAW column in the shared
    *    subtree: the downstream equi-joins infer IsNotNull on their
    *    keys and push it down; if branches received it unevenly the
    *    plans would drift canonically apart and silently disable the
    *    reuse (measured: the whole pipeline re-ran per branch).
    *  - NO `size(sh) > 0` filter: a filter on a projected alias is
    *    pushed down with the full expression substituted, evaluating
    *    the entire shingle tree a second time per input row. Empty
    *    docs are harmless downstream — they emit no postings
    *    (explode of an empty array) and any empty-set LSH pair dies
    *    in verify (jaccard = 0).
    *
    * `hashed = true` maps each shingle to a 64-bit `xxhash64` (the
    * exact-verify fast path, see the ngram notes above). */
  /** Shuffle-partition count with AQE-coalescing immunity: the
    * frontier repartitions below carry SMALL input bytes (raw text
    * before any explode/amplification) but feed CPU-heavy interpreted
    * projections (shingling, per-element hashing, array sorts), and
    * AQE sizes post-shuffle partitions by input BYTES — measured at
    * 50× ScaleStress, a `repartition(col)` (REPARTITION_BY_COL,
    * coalescable) collapsed the whole shingle stage onto one core for
    * a 310 s straggler. `repartition(n, col)` (REPARTITION_BY_NUM) is
    * exempt from coalescing, so the explicit count preserves the
    * parallelism the repartition exists to buy. */
  private[graft] def pinnedParts(df: DataFrame): Int =
    math.max(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt, 16)

  /** Raw-text SHARE POINT: one pinned round-robin exchange over
    * (id, text), pushdown-barriered. Multi-gate operators
    * ([[graft.operators.Curation.report]]/`incrementalReport`,
    * [[graft.operators.Snapshot.diff]] inside lineage) consume the
    * same corpus text from several frontiers; without a shared
    * exchange each branch re-derives the full upstream text lineage
    * at INPUT parallelism (serial on a single-file or computed feed —
    * StageProbe r16 measured two ~23 s single-task re-derivations
    * inside one incrementalReport at 100×), and consumer-side
    * inferred filters diverge the copies so ReuseExchange silently
    * turns off (the [[graft.functions.PushdownBarrier]] lesson).
    * Building every frontier over THIS subtree scans the text once,
    * shuffles it once, and runs everything above at cluster
    * parallelism; identical call sites on the same df unify across
    * operators too (lineage's diff + report share one exchange per
    * side). At scale the one corpus-sized shuffle replaces one
    * parquet re-read per gate — strictly fewer bytes moved whenever
    * an operator has ≥2 text consumers. */
  private[graft] def spreadText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.functions.PushdownBarrier(
      df.select(col(idCol), col(textCol)).repartition(pinnedParts(df)))

  private def shingleFrontier(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, hashed: Boolean): DataFrame = {
    val parts = pinnedParts(docs)
    docs
      .select(col(idCol), col(textCol))
      .filter(col(idCol).isNotNull)
      // FIRST repartition: round-robin, NOT keyed — it only exists to
      // spread the raw text off the few-task file scan so the shingle
      // projection below runs at cluster parallelism. It must differ
      // from the second repartition's partitioning: two identical
      // keyed repartitions collapse to one (the second is partition-
      // preserving, so EnsureRequirements prunes it), and the pruned
      // one was the SHARE POINT — every consumer then re-derived the
      // full shingle+hash+sort projection from the surviving raw-text
      // exchange (measured at 100× ScaleStress: three ~14 s/task
      // 32-task stages all reading the same 74 MB of text and each
      // recomputing `sh` from scratch; the executed plan showed
      // ReusedExchange[doc_id, text] under every consumer).
      .repartition(parts)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      // hashed arrays are SORTED so the verify stage can use the
      // two-pointer graft_intersect_count kernel (sorted + distinct is
      // its caller contract); one O(s log s) per doc buys a
      // zero-allocation merge per candidate PAIR downstream.
      // Both forms come from the fused shingle kernels (r22,
      // [[graft.functions.DistinctShingles]] /
      // [[graft.functions.ShingleHashes64]] — bit-identical to the
      // interpreted array_distinct/transform/array_join/array_sort
      // HOF chain they replace, property-tested in
      // DistinctShinglesSpec).
      .select(col(idCol),
        (if (hashed) graft.functions.GraftFunctions.shingleHashes64(col("__toks"), n)
         else graft.functions.GraftFunctions.distinctShingles(col("__toks"), n)).as("sh"))
      // SECOND repartition: keyed by id — the ReuseExchange share
      // point. Its child is round-robin partitioned, so this exchange
      // survives and MATERIALIZES the computed `sh` arrays: every
      // consumer (posting explode, doc-frequency agg, both verify
      // sides) reads the one shuffle instead of recomputing the
      // projection, and the id keying feeds the prefix window and the
      // verify joins without further exchanges.
      .repartition(parts, col(idCol))
      // pushdown barrier — REQUIRED for the frontier to function as
      // designed: without it, InferFiltersFromGenerate's size(sh)>0
      // (added above every downstream explode) pushes through these
      // Projects with the full shingle tree substituted and lands at
      // the scan (interpreted, scan-parallelism — the measured 321 s
      // single-task straggler at 50×), and the per-branch filter
      // divergence silently disables ReuseExchange so the frontier
      // re-executes once per consumer. See [[graft.functions.PushdownBarrier]].
      .transform(graft.functions.PushdownBarrier.apply)
  }

  /** Near-duplicate pairs over n-gram SHINGLE sets: minhash/LSH
    * candidates (band equi-join) verified by exact shingle-set
    * Jaccard. The scale path for small-vocab corpora — see
    * [[minhashSignatureOver]] and [[shingleFrontier]].
    *
    * `maxBucket` caps candidate band buckets — oversized buckets are
    * DROPPED, losing their pairs (see [[minhashCandidatePairs]]).
    * Callers opt in explicitly; audit residual drops with
    * [[minhashBucketOverflow]] over the same signature frame. */
  def nearDupPairsShingled(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 1024): DataFrame = {
    val sh = shingleFrontier(docs, idCol, textCol, n, hashed = false)
    val sig = minhashSignatureOver(sh, idCol, col("sh"), k)
    val cand = minhashCandidatePairs(sig, idCol, k, rowsPerBand, maxBucket)
    cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Near-dup DEDUP output — the curation step the pair/group queries
    * exist to serve: resolve minhash near-dup pairs into clusters
    * ([[graft.operators.Graph.connectedComponents]]) and drop every
    * clustered document except its group representative (the smallest
    * id — the CC label), keeping all unclustered documents untouched.
    * Returns the surviving corpus with its full original schema.
    *
    * Plan shape at 100 TB: pair generation is the bucketed minhash
    * pipeline ([[nearDupPairsShingled]] — one banded shuffle, capped
    * buckets); resolution is O(log d) label propagation over the pair
    * set only; the final step is ONE left anti equi-join of the
    * corpus against just the non-representative ids — a set of size
    * (dup members − groups), typically a small fraction of the
    * corpus, so AQE plans a broadcast anti-join in the common case.
    * The corpus payload is never shuffled by the dedup decision. */
  def dedupNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 1024): DataFrame = {
    val pairs =
      nearDupPairsShingled(docs, idCol, textCol, n, k, rowsPerBand, threshold, maxBucket)
    val losers = Graph.nonRepresentatives(pairs, idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupNearDups]] with QUALITY-AWARE representative selection:
    * keep the cluster member with the highest `qualityCol` (ties →
    * smallest id) instead of the smallest id. Production curation
    * keeps the best copy of a near-dup family — the longest, the
    * highest-quality-score, the canonical-URL one — not whichever
    * happened to get the lowest id; with min-id selection a truncated
    * or boilerplate-padded variant can displace the clean original.
    *
    * Scale shape: identical to [[dedupNearDups]] up to the CC output,
    * then per-cluster argmax as ONE keyed aggregation over the
    * clustered nodes only — `min_by(node, struct(−quality, node))`
    * (minimizing (−q, id) IS (max q, then min id); map-side partial
    * merges, never a window sort over the corpus; the intermediate is
    * groups-sized), a groups-sized join back to mark losers, and the
    * same single left-anti equi-join against the corpus. The corpus
    * payload still never shuffles on the dedup decision. The id type
    * stays fully generic (string ids included — the struct tie-break
    * field uses the node's own ordering); only `qualityCol` must be
    * NUMERIC, for the negation (quality is a score by construction).
    *
    * `qualityCol` must be a column of `docs` (evaluated against a
    * narrow (id, quality) projection — the full row never rides the
    * argmax shuffle) and should be non-null: null-quality members are
    * excluded from the argmax (they never win), and a cluster whose
    * members are ALL null-quality keeps every member (no
    * representative is chosen — coalesce a default in the caller if
    * that can occur). */
  def dedupNearDupsBest(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      qualityCol: Column,
      maxBucket: Int = 1024): DataFrame = {
    val pairs =
      nearDupPairsShingled(docs, idCol, textCol, n, k, rowsPerBand, threshold, maxBucket)
    val clustered = Graph.connectedComponents(pairs, "id_a", "id_b")
      .join(docs.select(col(idCol).as("node"), qualityCol.as("__q")), "node")
    // the isNotNull guard replicates max()'s null semantics: a struct
    // with a null field would otherwise sort FIRST and win min_by
    val best = clustered.filter(col("__q").isNotNull)
      .groupBy("component")
      .agg(min_by(col("node"), struct((-col("__q")).as("nq"), col("node"))).as("__best"))
    val losers = clustered.join(best, "component")
      .filter(col("node") =!= col("__best"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/val/test assignment: every near-dup GROUP
    * lands wholly in one split. [[Sampling.withSplit]] hashes each
    * doc independently, so two near-duplicates can straddle the
    * train/test boundary — exactly the contamination the
    * `p_split_contamination` audit DETECTS; this operator is the
    * constructive counterpart that PREVENTS it: split decisions hash
    * the group representative (the connected component's min id;
    * unclustered docs represent themselves), so a pair above the
    * near-dup threshold can never be separated. Returns one
    * (id, group_id, split) row per input doc.
    *
    * Same pipeline shape as [[dedupNearDupsBest]]: banded-LSH pairs →
    * min-label contraction CC → one id-keyed shuffle join back onto
    * the doc ids (the clustered side is pairs-bounded, ≪ corpus), then
    * a pure md5-bucket projection — no new scale surface beyond the
    * proven pair/CC stages. Singletons get the same bucket
    * [[Sampling.withSplit]] would give them (same salt ⇒ identical
    * assignment for every doc no near-dup machinery touches). */
  def groupSafeSplit(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      salt: String, trainPct: Int, valPct: Int,
      maxBucket: Int = 1024): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"trainPct=$trainPct + valPct=$valPct must fit in 100")
    val pairs =
      nearDupPairsShingled(docs, idCol, textCol, n, k, rowsPerBand, threshold, maxBucket)
    val groups = Graph.connectedComponents(pairs, "id_a", "id_b")
    val b = Sampling.hashBucket(col("group_id"), salt, 100)
    docs.select(col(idCol))
      .join(groups, col(idCol) === col("node"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("group_id"))
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** All-pairs EXACT n-gram Jaccard >= threshold via prefix-filtered
    * inverted-index join (the PPJoin/AllPairs family) — lossless and
    * shuffle-partitionable; never a cartesian / nested-loop plan.
    *
    * Why not a length-bucket pair join: with a small shingle
    * vocabulary most same-length docs share buckets, the within-
    * bucket candidate set is quadratic, and each candidate pays an
    * O(len) array intersection — measured 540 s at sf0.1. Prefix
    * filtering is the standard exact fix:
    *
    *  1. order every doc's shingles by a global total order
    *     (document frequency asc, then shingle — rare shingles
    *     first, so hot shingles never generate candidates);
    *  2. index only each doc's PREFIX of size
    *     len − ceil(t·len) + 1. Any pair with jac >= t must share a
    *     shingle inside BOTH prefixes (take the minimal common
    *     shingle c in the global order: if c were outside A's prefix,
    *     |A∩B| <= ceil(t·|A|) − 1 < t·|A| <= t·max(|A|,|B|) <= |A∩B|
    *     — contradiction; symmetrically for B);
    *  3. equi-join prefixes on shingle, keep id_a < id_b and the
    *     length-ratio filter (jac >= t ⇒ t·max <= min), then count
    *     shared prefix shingles per pair and drop pairs whose overlap
    *     UPPER bound (c + ceil(t·max(la,lb)) − 1) cannot reach the
    *     threshold's overlap requirement α = ceil(t/(1+t)·(la+lb)) —
    *     the PPJoin counting filter, lossless (see the inline proof);
    *  4. verify exact Jaccard only on surviving candidates.
    *
    * Every step is a hash shuffle on a high-cardinality key (shingle
    * or doc id) — linear-ish at 100 TB; frequency-ordered prefixes
    * keep GLOBALLY hot shingles out of the index. That is not enough
    * by itself: a shingle that is rare corpus-wide but shared by one
    * large near-dup family sits at the FRONT of every member's
    * frequency order, so the whole family's p² candidate generation
    * lands on that one shingle's partition — and AQE cannot split it
    * (tiny input, huge output; the 50× ScaleStress run measured a
    * 350 s straggler against a 3 s median). Candidate generation
    * therefore runs per ORDERED CHUNK CELL, exactly like
    * [[simhashNearDupPairs]]: each shingle's prefix postings are
    * hash-assigned to ⌈p/chunkSize⌉ chunks and the self-join key is
    * (shingle, ci, cj), spreading a flood shingle's quadratic output
    * over k(k+1)/2 independent join keys. Postings ≤ chunkSize (the
    * overwhelmingly common case) have k = 1 and pay nothing.
    *
    * Shingles are hashed to 64-bit longs (`xxhash64`) ONCE in the
    * shared frontier and every downstream step — postings, prefix
    * index, candidate join, exact verify — runs on primitive longs:
    *  - the verify's `array_intersect` takes Spark's codegen'd
    *    primitive-OpenHashSet path; over string arrays it evaluates
    *    interpreted per pair (measured at sf0.1: 310k candidates ×
    *    ~120-element string arrays ≈ 2000 s of CPU — the whole
    *    operator is that verify);
    *  - `jac = inter / (len_a + len_b − inter)` (sets are distinct,
    *    so |A∪B| = |A|+|B|−|A∩B|) avoids ArrayUnion entirely;
    *  - shuffle payloads shrink ~20× (8-byte longs vs shingle text).
    * A 64-bit collision inside one pair's ~240-element union has
    * probability ~2⁻⁵⁰ — far below any realistic corpus size — so
    * results equal true string-shingle Jaccard (the DuckDB oracle
    * computes the string version and hash-matches). The frequency
    * total order becomes (df, hashed value) — any consistent total
    * order keeps the prefix-filter proof intact. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, chunkSize: Int = 128): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    // `sh` feeds the index build AND both verify joins; `prefix` feeds
    // both sides of the candidate self-join. Nothing is persisted:
    // Spark has no cross-branch subplan reuse, but it DOES reuse
    // canonically-identical Exchanges, so the shared frontiers are
    // repartitioned (sh explicitly — [[shingleFrontier]]; prefix
    // implicitly: both self-join sides require the same hash
    // partitioning on shingle) and every consumer reads the one
    // materialized shuffle. Disk-backed reuse with zero heap
    // footprint; the previous MEMORY_AND_DISK persists here were the
    // prime suspect for the heap-shape-dependent bench chaos. `len`
    // is re-derived per consumer (size() on an attribute is free) so
    // column pruning stays identical across branches.
    val sh = shingleFrontier(docs, idCol, textCol, n, hashed = true)
    val posts = sh.select(
      col(idCol), size(col("sh")).as("len"), explode(col("sh")).as("shingle"))
    val docFreq = posts.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df"), col("shingle"))
    val prefix = posts
      .join(docFreq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("len") - ceil(col("len") * threshold).cast("int") + 1)
      .select(col(idCol), col("len"), col("shingle"), col("rk"))
    // flood-shingle chunking (see the scaladoc): members of each
    // shingle's prefix posting list hash-assign to ⌈p/chunkSize⌉
    // chunks; side A of a chunk-c row covers cells (c, c..k−1), side
    // B covers (0..c, c) — each unordered pair lands in exactly one
    // cell (both orientations only in diagonal cells, half-filtered)
    val pdf = prefix.groupBy("shingle")
      .agg(ceil(count(lit(1)).cast("double") / lit(chunkSize)).cast("int").as("__k"))
    val chunked = prefix.join(pdf, "shingle")
      .withColumn("__c", pmod(hash(col(idCol)), col("__k")).cast("int"))
    val a = chunked.select(
      col("shingle"), explode(sequence(col("__c"), col("__k") - 1)).as("__cj"),
      col("__c").as("__ci"), col(idCol).as("id_a"), col("len").as("len_a"),
      col("rk").as("rk_a"))
    val b = chunked.select(
      col("shingle"), explode(sequence(lit(0), col("__c"))).as("__ci"),
      col("__c").as("__cj"), col(idCol).as("id_b"), col("len").as("len_b"),
      col("rk").as("rk_b"))
    // cross-chunk cells see one arbitrary orientation per pair, so
    // normalize ids (lengths follow their ids) instead of filtering
    // id_a < id_b; the length-ratio filter is symmetric either way
    val swap = col("id_a") > col("id_b")
    // Pin the candidate join's reducer count with an explicit keyed
    // repartition: this join's INPUT (prefix postings) is small while
    // its OUTPUT is the quadratic candidate set, and AQE sizes
    // post-shuffle partitions by INPUT bytes — measured at 50×
    // ScaleStress, it coalesced the ~10 MB inputs onto a handful of
    // reducers and one task then computed ~100M candidate rows for
    // 330 s while the median task took 3 s. REPARTITION_BY_NUM
    // exchanges are exempt from AQE coalescing, so the join keeps
    // shuffle-partitions-×4-way parallelism no matter how small the
    // posting bytes are. (Uniform volume, not key skew — the chunk
    // cells above handle the skew case; this handles coalescing.)
    // exactly the session's shuffle parallelism: the pin exists to stop
    // AQE coalescing BELOW it, not to over-partition (a ×4 multiplier
    // here doubled the operator's bench time at sf0.1 in fixed
    // per-exchange overhead while the 50× win came from the floor)
    val candParts = pinnedParts(sh)
    val joinKeys = Seq(col("shingle"), col("__ci"), col("__cj"))
    val cand = a.repartition(candParts, joinKeys: _*)
      .join(b.repartition(candParts, joinKeys: _*), Seq("shingle", "__ci", "__cj"))
      .filter(
        col("id_a") =!= col("id_b") &&
          (col("__ci") =!= col("__cj") || col("id_a") < col("id_b")) &&
          col("len_b").cast("double") >= col("len_a") * threshold &&
          col("len_a").cast("double") >= col("len_b") * threshold &&
          // PPJoin POSITIONAL filter, applied per candidate ROW inside
          // the join stage — i.e. BEFORE the quadratic rows reach the
          // overlap-count exchange. Both docs sort their shingles by
          // the one global (df, hash) order, so for a shared shingle
          // at ranks (rk_a, rk_b): shared shingles ordered before it
          // number ≤ min(rk_a−1, rk_b−1) (they precede it in BOTH
          // sorted lists) and shared shingles after it number
          // ≤ min(len_a−rk_a, len_b−rk_b); hence
          //   |A∩B| ≤ min(rk_a,rk_b) + min(len_a−rk_a, len_b−rk_b).
          // A row where that bound < α proves THE PAIR sits below the
          // threshold, so dropping the row never loses a true pair —
          // true pairs keep every row (each row's bound ≥ |A∩B| ≥ α),
          // their overlap count c stays exact, and undercounted pairs
          // are exactly the provably-failing ones the count filter
          // below would need to drop anyway. Lossless; the exact
          // verify still computes true Jaccard for every survivor.
          least(col("rk_a"), col("rk_b")) +
            least(col("len_a") - col("rk_a"), col("len_b") - col("rk_b")) >=
            ceil((col("len_a") + col("len_b")) * (threshold / (1.0 + threshold))))
      // lengths ride along through the count aggregation (functionally
      // dependent on the ids) so the verify needs no union:
      // |A∪B| = len_a+len_b−inter
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("id_a"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("id_b"),
        when(swap, col("len_b")).otherwise(col("len_a")).as("len_a"),
        when(swap, col("len_a")).otherwise(col("len_b")).as("len_b"))
      // PPJoin overlap lower-bound filter (replaces a bare distinct —
      // measured at 50×: 252M of 298M raw candidates were UNIQUE
      // cross-family pairs sharing 1–5 prefix shingles, so distinct
      // kept them all and the array-attach verify joins drowned).
      // The chunk-cell construction emits each (pair, shared prefix
      // shingle) exactly once, so count(*) per pair = c, the number
      // of shingles shared BY BOTH prefixes. With one consistent
      // global shingle order, every shared shingle ranked at-or-below
      // the SMALLER prefix-end value is necessarily counted in c, so
      // uncounted shared shingles all sit in that document's suffix:
      // |A∩B| ≤ c + (len_x − prefix_x) = c + ceil(t·len_x) − 1
      //        ≤ c + ceil(t·max(len_a,len_b)) − 1,
      // while jac ≥ t requires |A∩B| ≥ α = ceil(t/(1+t)·(la+lb)).
      // Pairs failing c + ceil(t·max) − 1 ≥ α provably sit below the
      // threshold — dropped LOSSLESSLY before any array rides a
      // shuffle. True near-dup pairs share ~prefix-many shingles and
      // pass untouched; the exact verify below still computes their
      // exact jaccard.
      //
      // Cost shape, measured at 50× ScaleStress (313M raw candidates,
      // 252M distinct pre-filter pairs): this aggregation's key space
      // IS the distinct candidate set, so some phase must hold ~252M
      // keys — under local-mode's thin per-task memory slice that is
      // a disk-backed spill (bounded, uniform across tasks; a real
      // executor's 1–4 GB/core absorbs it in memory). Two measured
      // non-wins to spare the next tuner: (a) pre-partitioning by
      // (id_a, id_b) to get a single co-located agg stage removes the
      // partial phase but re-shuffles all raw candidate rows and went
      // 103.7→114.1 s; (b) ×4 partitions on the candidate join cut
      // its max task 41→17 s but pushed the same spill into extra
      // reducer waves, 103.7→127.6 s. The direct groupBy (partial
      // beside the join + final at session parallelism) is the
      // fastest of the three because the quadratic rows ride ONE
      // exchange once. The lever that DID recover the 100× default-
      // heap spill tax (r16, same-session A/B at 256 reducers):
      // the positional filter above — 501.8→318.3 s (1.58×), pairs
      // identical, max task 45.4→24.3 s, because the pruned rows
      // never reach this exchange or its agg state. More reducers is
      // NOT a lever: pre-filter, 512 OOM'd the 8 GiB JVM where 256
      // completed; post-filter, 512 completes but ~32% slower
      // (420.2 s vs 318.3 s at 100×, same pairs — the added
      // task/shuffle overhead outweighs the smaller per-task state;
      // both probes r16).
      //
      // The PPJoin+ SUFFIX-FILTER family (incl. the asymmetric
      // indexing prefix) was ANALYZED AND REJECTED r17 — it is a
      // provably negative trade at this operator's threshold, not an
      // untried lever. Both variants prune candidate rows by
      // restricting which shared tokens are emitted/counted, which
      // weakens what the count c certifies: with the asymmetric
      // prefix p_u = l_u − ⌈2t/(1+t)·l_u⌉ + 1 on the shorter side,
      // the value-order bound on uncounted shared tokens becomes
      // max(⌈2t/(1+t)·l_u⌉, ⌈t·l_v⌉) − 1 — at t=0.5, equal lengths,
      // that is ⌈⅔L⌉−1 against α = ⌈⅔L⌉, so the post-agg filter
      // keeps EVERY pair with c ≥ 1 and the entire junk candidate
      // class (252M of 298M at 50×, sharing 1–5 prefix shingles)
      // flows into the array-attach verify joins — the exact
      // measured drowning the count filter exists to prevent. The
      // true per-row suffix probe of the PPJoin+ paper needs the
      // candidate's actual suffix contents in hand, i.e. shuffling
      // corpus×prefix-sized arrays into the candidate join — the
      // intermediate this shape is designed to never materialize.
      // The count therefore must aggregate over BOTH full standard
      // prefixes, and the exchange's key space — the distinct
      // candidate pair set — is irreducible in this design. Its
      // per-task agg state at 100×/256 reducers (~1.2B rows) is a
      // bounded uniform disk spill under local-mode's thin per-core
      // slice (the ~315 s wall: re-measured 314.4 s r17, 318.3 s
      // r16 — stable, not noise) and in-memory state on any real
      // executor's 1–4 GB/core. 50×→100× wall grows ~4.5× against
      // ~4× candidate volume: linear in candidates, the right
      // asymptotic shape.
      .groupBy("id_a", "id_b", "len_a", "len_b")
      .agg(count(lit(1)).as("__c"))
      .filter(
        col("__c") + ceil(greatest(col("len_a"), col("len_b")) * threshold) - 1 >=
          ceil((col("len_a") + col("len_b")) * (threshold / (1.0 + threshold))))
      .select("id_a", "id_b", "len_a", "len_b")
    // fused two-pointer merge → finished ratio (native codegen'd
    // kernel): the frontier sorts the hashed arrays precisely for
    // this. The ratio form matters, not just the merge: Spark inlines
    // the jac projection into the >= filter and pushes it into join2's
    // condition, and codegen does not CSE across the condition and the
    // output projection — with a bare intersect-count kernel inside
    // `inter/(len−inter)` the merge ran up to 4× per surviving pair
    // (the dominant verify CPU at 100×); returning jac directly makes
    // each evaluation site exactly one merge. len_a/len_b equal the
    // array sizes by construction, so the kernel's c/(na+nb−c) is
    // bit-identical to the previous two-step arithmetic.
    val jac = graft.functions.SortedJaccard(col("sh_a"), col("sh_b"))
    // The verify joins get the same AQE-coalescing immunity as the
    // candidate join above, and for the same reason measured at 50×:
    // the surviving-candidate rows are ~30 bytes each (AQE sees ~100 MB
    // and coalesces to a couple of partitions) but each row costs a
    // ~2×|sh| array-merge — wall time is CPU-bound, not byte-bound, so
    // the byte-based coalesce under-parallelizes the most expensive
    // stage of the operator (measured: a 320 s verify task against a
    // 3 s median; the staged probe with pinned partitioning runs the
    // identical verify in ~30 s).
    // SHUFFLE_HASH hint on the sh side: the default SMJ SORTS the
    // candidate stream — and after the first attach every candidate
    // row carries a ~|sh|-long array, so that sort buffers/spills the
    // operator's biggest intermediate (measured at 100× ScaleStress:
    // multi-GB sort spill and an OOM-prone final stage). Hash-building
    // the doc-keyed sh side (corpus-bounded, ~1 row per doc per
    // partition) and STREAMING the array-carrying side never sorts it.
    // MEMORY CONTRACT of the hint: unlike SMJ, the per-partition
    // HashedRelation of the sh side cannot sort-spill — each task must
    // hold ~corpus/candParts (id, sh-array) rows in memory or OOM.
    // That bound is safe exactly because candParts = pinnedParts
    // scales with the session's shuffle parallelism (corpus/candParts
    // stays a thin slice as the corpus grows with a real cluster's
    // partition count) and the sh side is ONE row per doc by
    // construction — never let a rewrite hash-build the candidate
    // side or drop the pinned repartition below the join.
    cand
      .repartition(candParts, col("id_a"))
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")).hint("shuffle_hash"), "id_a")
      .repartition(candParts, col("id_b"))
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")).hint("shuffle_hash"), "id_b")
      .withColumn("jac", jac)
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** SimHash per key via explode + 64 codegen'd SUM aggregates — the
    * scale path. It replaced an `aggregate`/`zip_with` vote loop
    * (kept in the test tree as its reference): Spark's higher-order
    * functions evaluate interpreted per element and dominated the bench
    * (59 s at sf0.1); exploding distinct tokens and voting with plain
    * conditional sums keeps the whole pipeline in whole-stage codegen
    * and turns the per-doc loop into one hash aggregation — the same
    * shape Spark uses for any wide agg, linear and shuffle-bounded at
    * 100 TB. Output: (idCol, outCol). */
  def simhash64ByKey(docs: DataFrame, idCol: String, textCol: String, outCol: String): DataFrame = {
    val words = docs
      // repartition BELOW the tokenize/explode, same reasoning as
      // [[shingleFrontier]]: a single-file (or few-file) corpus scans
      // as one partition, and the tokenize+explode+partial-agg map
      // side fuses into that scan stage — measured as the 35 s
      // straggler task in the 50× ScaleStress run. One exchange of
      // the raw (id, text) rows distributes the per-token work;
      // explicit count so AQE cannot coalesce it away on small input
      // bytes (see [[pinnedParts]]).
      .select(col(idCol), col(textCol))
      .repartition(pinnedParts(docs), col(idCol))
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("__tok"))
      // 64-bit md5 prefix as ONE long per token (bit i of the vote ==
      // bit i of the long — [[graft.functions.Md5Prefix64]]), instead
      // of a 16-hex-char substring re-parsed through 16
      // conv(substring(...)) nibble columns per token row.
      .select(col(idCol), graft.functions.GraftFunctions.md5Prefix64(col("__tok")).as("__w"))
    val voteAggs = (0 until 64).map { i =>
      val bit = shiftright(col("__w"), i).bitwiseAND(1)
      sum(when(bit === 1, 1).otherwise(-1)).as(s"__v$i")
    }
    val votes = words.groupBy(col(idCol)).agg(voteAggs.head, voteAggs.tail: _*)
    def bitc(i: Int): Column = when(col(s"__v$i") > 0, 1).otherwise(0)
    val hexChars = (0 until 16).map { p => // p=0 → most-significant nibble (bits 63..60)
      val base = (15 - p) * 4
      lower(conv((bitc(base + 3) * 8 + bitc(base + 2) * 4 + bitc(base + 1) * 2 + bitc(base)).cast("string"), 10, 16))
    }
    votes.select(col(idCol), concat(hexChars: _*).as(outCol))
  }

  /** 16-bit block `b` (0 = most significant) of a 64-bit simhash in
    * its 16-hex-char form, as a long in [0, 65535]. */
  private def simhashBand(sh: Column, b: Int): Column =
    conv(substring(sh, b * 4 + 1, 4), 16, 10).cast("long")

  /** Near-duplicate pairs by simhash Hamming distance — the pairing
    * stage on top of [[simhash64ByKey]], via the classic 4-block
    * pigeonhole (Manku/Jarvelin web-dedup): two 64-bit hashes within
    * Hamming distance 3 must agree EXACTLY on at least one of four
    * 16-bit blocks, so candidate generation is an equi-join on
    * (block index, block value) — never all-pairs — and the cheap
    * xor/popcount verify runs only inside blocks. Lossless for
    * `maxHamming` ≤ 3 (enforced: 4 blocks pigeonhole only 3 bit
    * errors; a larger radius needs more blocks).
    *
    * Scale shape: the signature table (one 16-hex-char hash per doc —
    * the corpus's smallest derived table) is MATERIALIZED with an
    * eager localCheckpoint so the block-sizing branch and the pairing
    * branch share one simhash computation (their exchanges do not
    * canonicalize equal, so ReuseExchange alone cannot dedupe the
    * 64-sum subtree). Pair generation is an in-block SELF-EQUI-JOIN
    * on (block, value), NOT collect_list + explode: a flood block's
    * pairs then stream through a join whose skewed partitions AQE can
    * split across tasks, instead of materializing an O(n²) array in
    * one aggregation buffer on one task (measured 2.4M candidate
    * pairs at sf0.1 with 1.3M from a single block — the explode
    * formulation serialized exactly there). The xor/popcount verify
    * runs per candidate pair BEFORE the distinct, so the distinct
    * shuffle carries only true near-dup pairs. At web scale 16-bit
    * blocks under-partition (65k distinct values): raise block
    * count/width together with a permuted-table layout before
    * trusting this at 100 TB corpus sizes — `maxBucket` documents the
    * overflow policy either way.
    *
    * Flood-block straggler control (the 50× ScaleStress run measured
    * a 56× max/median task skew on the plain formulation — one
    * popular block's n² pairs all emit from ONE join partition,
    * which AQE cannot split because its INPUT is tiny): members of
    * each block are hash-assigned to ⌈n/chunkSize⌉ chunks, and the
    * self-join runs per ORDERED CHUNK CELL (ci ≤ cj) — side A
    * replicates a chunk-c row to cells (c, c..k-1), side B to cells
    * (0..c, c), so every pair lands in exactly one cell and a flood
    * block's quadratic work spreads over k(k+1)/2 independent join
    * keys instead of one. Blocks with ≤chunkSize members have k=1
    * and take the identical single-cell path (zero replication), so
    * the common case pays nothing. Replication cost for a flood
    * block is k+1 copies of its member rows — linear, vs the n²
    * output it parallelizes.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b. */
  def simhashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 256): DataFrame = {
    // fail fast BEFORE the eager full-corpus localCheckpoint below —
    // hammingBandPairs re-checks, but by then the signature job ran
    requireHammingArgs(maxHamming, chunkSize)
    // Parse the four 16-bit blocks from the hex signature ONCE per
    // doc, BEFORE fan-out: the per-pair verify below is then pure
    // long xor + popcount — no per-pair substring/conv of hex (8
    // string ops × millions of candidate pairs otherwise).
    val sh = simhash64ByKey(docs, idCol, textCol, "__sh")
      .select(
        col(idCol).as("id") +:
          (0 until 4).map(b => simhashBand(col("__sh"), b).as(s"__b$b")): _*)
      .localCheckpoint(true)
    hammingBandPairs(sh, maxHamming, maxBucket, chunkSize)
  }

  /** The pigeonhole Hamming-pair core of [[simhashNearDupPairs]],
    * factored over the SIGNATURE so any 64-bit fingerprint family
    * reuses the one audited block/chunk join — text simhash above,
    * perceptual image dHash
    * ([[graft.operators.Multimodal.imageNearDupPairs]]).
    *
    * `sig` must be one row per document: (id, __b0..__b3), the four
    * 16-bit blocks of the 64-bit fingerprint as ints — pre-split so
    * the per-pair verify is pure long xor + popcount. The caller is
    * expected to have materialized it ([[simhash64ByKey]] ends in an
    * aggregation; the image path localCheckpoints after decode) so
    * the block fan-out below doesn't recompute the signature four
    * times. Block/chunk semantics, the `maxBucket` cap, and the
    * flood-block straggler chunking are exactly as documented on
    * [[simhashNearDupPairs]]. Output: (id_a, id_b, hamming),
    * id_a < id_b. */
  /** Shared argument validator for the 4-block pigeonhole family —
    * every caller that eagerly materializes a signature table
    * (localCheckpoint) MUST call this FIRST so invalid arguments fail
    * before the full-corpus job, not after it. */
  private[graft] def requireHammingArgs(maxHamming: Int, chunkSize: Int): Unit = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming outside [0,3]: 4-block pigeonhole is lossless only to 3")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
  }

  private[graft] def hammingBandPairs(
      sig: DataFrame,
      maxHamming: Int, maxBucket: Int, chunkSize: Int): DataFrame = {
    requireHammingArgs(maxHamming, chunkSize)
    val sh = sig
    val bandCols = (0 until 4).map(b => col(s"__b$b"))
    val rows = sh.select(
      (col("id") +: bandCols) :+
        posexplode(array(bandCols: _*)).as(Seq("band", "bv")): _*)
    // countDistinct(id) to match the minhash cap semantics (though
    // simhash64ByKey's groupBy already collapses duplicate input ids,
    // so n_ids == count(*) here).
    val keep = rows.groupBy("band", "bv")
      .agg(countDistinct(col("id")).as("n_ids"))
      .filter(col("n_ids") > 1 && col("n_ids") <= maxBucket)
      .select(
        col("band"), col("bv"),
        ceil(col("n_ids").cast("double") / lit(chunkSize)).cast("int").as("__k"))
    // deterministic chunk id (Murmur3 of the doc id mod k) — no
    // window/sort needed, stable across runs and retries
    val members = rows.join(keep, Seq("band", "bv"))
      .withColumn("__c", pmod(hash(col("id")), col("__k")).cast("int"))
    def side(suffix: String) = members.select(
      col("band") +: col("bv") +: col("id").as(s"id_$suffix") +: col("__c") +: col("__k") +:
        (0 until 4).map(b => col(s"__b$b").as(s"__b${b}_$suffix")): _*)
    val a = side("a")
      .select(col("band"), col("bv"),
        explode(sequence(col("__c"), col("__k") - 1)).as("__cj"), col("__c").as("__ci"),
        col("id_a"), col("__b0_a"), col("__b1_a"), col("__b2_a"), col("__b3_a"))
    val b = side("b")
      .select(col("band"), col("bv"),
        explode(sequence(lit(0), col("__c"))).as("__ci"), col("__c").as("__cj"),
        col("id_b"), col("__b0_b"), col("__b1_b"), col("__b2_b"), col("__b3_b"))
    // The cell construction sees each cross-chunk UNORDERED pair
    // exactly once, but with no control over which member lands on
    // side A — so those normalize with least/greatest rather than
    // filter id_a < id_b (which would drop pairs whose smaller id
    // hashed to the higher chunk). DIAGONAL cells (ci = cj — the
    // entire k=1 common case) do see both orientations, so there the
    // id_a < id_b half-filter applies before the verify: without it
    // every same-chunk pair would pay the xor/popcount and the
    // distinct shuffle twice.
    a.join(b, Seq("band", "bv", "__ci", "__cj"))
      .filter(col("__ci") =!= col("__cj") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        (0 until 4)
          .map(b => bit_count(col(s"__b${b}_a").bitwiseXOR(col(s"__b${b}_b"))))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Edit-distance verify stage: given CANDIDATE pairs (id_a, id_b)
    * from any cheap generator (minhash bands, simhash blocks, a
    * bounded key self-join), attach the texts and keep pairs with
    * Levenshtein distance ≤ `maxDist`.
    *
    * Levenshtein is the O(|a|·|b|)-per-pair gold standard that is far
    * too expensive as a pair generator — the scale contract here is
    * the same as [[Search.bm25TopK]]'s rerank: the candidate set is
    * assumed bounded (LSH-pruned), so the quadratic kernel touches
    * only surviving pairs. Two hash joins + a codegen'd `levenshtein`
    * — no driver state, no cartesian.
    *
    * Output: (id_a, id_b, lev LONG). */
  def editDistanceVerify(
      cand: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame =
    cand
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
      .withColumn("lev", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .filter(col("lev") <= maxDist)
      .select("id_a", "id_b", "lev")

  /** Embedding near-duplicate pairs: cosine >= threshold among
    * same-LSH-bucket candidates (see [[Similarity.signBucket]]). */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      signBits: Int, threshold: Double): DataFrame = {
    val withBucket = emb.select(
      col(idCol), col(vecCol),
      Similarity.signBucket(col(vecCol), signBits).as("bucket"))
    val a = withBucket.select(col(idCol).as("id_a"), col(vecCol).as("v_a"), col("bucket"))
    val b = withBucket.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SEMANTIC dedup, corpus-level output: [[embeddingNearDupPairs]] →
    * connected components → keep one representative per cluster (the
    * smallest id) plus every unclustered row — the embedding-side
    * twin of [[dedupNearDups]], for near-dups that share meaning but
    * not surface n-grams (translations, paraphrases, re-renders).
    * Same scale shape: the payload table never shuffles on the dedup
    * decision — it meets the loser set (strictly smaller than the
    * clustered rows) in ONE left-anti equi-join on the id. */
  def dedupEmbeddingNearDups(
      rows: DataFrame, idCol: String, vecCol: String,
      signBits: Int, threshold: Double): DataFrame = {
    val pairs = embeddingNearDupPairs(rows, idCol, vecCol, signBits, threshold)
    val losers = Graph.nonRepresentatives(pairs, idCol)
    rows.join(losers, Seq(idCol), "left_anti")
  }

  /** Portable minhash INDEX of a corpus: (id, sig array<string> of
    * `k` minhashes over `n`-gram shingles). This is the artifact an
    * INCREMENTAL dedup pipeline persists between runs (a few hundred
    * bytes per document, vs re-shingling the whole history every
    * batch): write it as parquet, read it back, and feed it to
    * [[dedupAgainstIndex]] for each new crawl increment. The
    * signature alone supports both the banded candidate join AND the
    * verify (signature-agreement jaccard estimate) — original text
    * is never needed again. */
  def minhashIndex(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val sh = shingleFrontier(docs, idCol, textCol, n, hashed = false)
    minhashSignatureOver(sh, idCol, col("sh"), k)
      .select(col(idCol).as("id"),
        array((0 until k).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** INCREMENTAL near-dup dedup: keep the rows of `newDocs` that are
    * NOT near-duplicates of an existing corpus represented only by
    * its [[minhashIndex]]. The production shape for growing corpora:
    * each increment is banded and joined against the index's bucket
    * space, and candidates verify by SIGNATURE AGREEMENT — the
    * fraction of matching minhash positions, an unbiased estimator
    * of shingle jaccard — so the historical corpus is never
    * re-shingled, re-read, or even present. A new doc is dropped
    * when any index member agrees on ≥ `minAgree` of the `k`
    * positions (for k=12, minAgree=0.5 ≈ jaccard 0.5 with the
    * estimator's variance — callers calibrate minAgree against the
    * exact-jaccard pipeline on a sample, which is what the oracle
    * query does corpus-wide).
    *
    * Intra-batch duplicates are deliberately OUT of scope — run
    * [[dedupNearDups]] on the increment first, then this against
    * history; the two compose (and the surviving increment's
    * [[minhashIndex]] unions into the persisted index for the next
    * run).
    *
    * Scale shape (100 TB): the index side is pre-computed signatures
    * (no text); banding both sides is map-side; ONE bucket equi-join
    * generates candidates (flood buckets capped at `maxBucket`
    * members per bucket side like the batch pipeline); the verify is
    * a k-term codegen'd position compare on the joined signature
    * pair — no arrays ride further than the candidate join; the final
    * step is one left-anti of the increment against its dropped-id
    * set. */
  def dedupAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, n: Int, k: Int, rowsPerBand: Int,
      minAgree: Double, maxBucket: Int = 1024): DataFrame =
    newDocs.join(
      indexNearDupIds(newDocs, idCol, textCol, index,
        n, k, rowsPerBand, minAgree, maxBucket),
      Seq(idCol), "left_anti")

  /** The MATCHED-id set behind [[dedupAgainstIndex]]: the distinct
    * ids of `newDocs` rows whose minhash signature agrees with some
    * index member on ≥ `minAgree` of the `k` positions. Exposed so
    * callers that need the history-duplicate FLAG rather than the
    * surviving rows (e.g. [[Curation.incrementalReport]]'s near-dup
    * gate) reuse the identical banded join + agreement verify.
    *
    * `excludeSameId = true` ignores index members carrying the SAME
    * id as the probe row — required when the increment contains
    * CHANGED documents whose own previous version is in the index
    * (a doc must not be dropped as a near-dup of its old self).
    * [[dedupAgainstIndex]] keeps the default `false`: its contract
    * is disjoint id spaces (a fresh crawl increment). */
  def indexNearDupIds(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, n: Int, k: Int, rowsPerBand: Int,
      minAgree: Double, maxBucket: Int = 1024,
      excludeSameId: Boolean = false): DataFrame = {
    require(minAgree > 0 && minAgree <= 1, s"minAgree in (0,1], got $minAgree")
    def bands(sig: DataFrame, outId: String): DataFrame = {
      require(k % rowsPerBand == 0,
        s"k=$k must be a multiple of rowsPerBand=$rowsPerBand")
      val nBands = k / rowsPerBand
      sig.select(col("id").as(outId), col("sig"),
        posexplode(array((0 until nBands).map { b =>
          md5(concat_ws("|",
            (b * rowsPerBand until (b + 1) * rowsPerBand)
              .map(j => element_at(col("sig"), j + 1)): _*))
        }: _*)).as(Seq("band", "band_hash")))
    }
    val newSig = minhashIndex(newDocs, idCol, textCol, n, k)
    // flood guard on the HISTORY side (the side that grows forever):
    // buckets larger than maxBucket are excluded from matching, the
    // same cap the batch pipeline applies
    val idxBands = bands(index, "old_id")
    val keepBuckets = idxBands.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "band_hash")
    val agree = (0 until k)
      .map(j => when(element_at(col("sig"), j + 1) ===
        element_at(col("__osig"), j + 1), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    val cand = bands(newSig, "new_id")
      .join(idxBands.join(keepBuckets, Seq("band", "band_hash"))
        .select(col("band"), col("band_hash"),
          col("old_id"), col("sig").as("__osig")),
        Seq("band", "band_hash"))
    val scoped =
      if (excludeSameId) cand.filter(col("old_id") =!= col("new_id")) else cand
    scoped
      .select(col("new_id"), col("sig"), col("__osig")).distinct()
      .filter(agree >= minAgree)
      .select(col("new_id").as(idCol)).distinct()
  }

  /** Span-level duplication stats — the practical stand-in for
    * suffix-array substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): cut every document
    * into non-overlapping `size`-token spans, mark a span occurrence
    * a DUPLICATE when its exact text occurred earlier in the corpus
    * (first occurrence by (id, span index) is canonical and kept),
    * then score each document by its duplicated-span fraction.
    * Documents above `maxDupFrac` fail the gate — the RefinedWeb/
    * FineWeb-style "mostly-copied page" drop.
    *
    * Output: (id, n_spans, n_dup_spans, dup_span_frac DOUBLE — one
    * IEEE long/long division, oracle-exact — and keep BOOLEAN).
    *
    * Scale shape: the span stream is built map-side by
    * [[TextAnalysis.chunkWindows]] (stride = size ⇒ no overlap, no
    * blow-up: output tokens = input tokens), and each occurrence
    * ships a 128-bit md5 key, never the span text. ONE md5-keyed
    * shuffle builds (count, first-occurrence) per distinct span; the
    * flag join re-uses the SAME key (co-partitioned exchange), and
    * the per-doc rollup is a second keyed shuffle of 3-column rows.
    * No windows over the corpus, no collect; at 100 TB this is the
    * same two-exchange budget as exact dedup, paid on ~n/size keys
    * per document. */
  def spanDupStats(
      docs: DataFrame, idCol: String, textCol: String,
      size: Int, maxDupFrac: Double): DataFrame = {
    require(size > 0, s"size=$size must be positive")
    require(maxDupFrac >= 0.0 && maxDupFrac <= 1.0,
      s"maxDupFrac=$maxDupFrac must be in [0,1]")
    val spans = TextAnalysis
      // same guard as windowHashes/shingleFrontier: the chunk+md5
      // projection is the pipeline's CPU and fuses into the scan
      // stage without this — measured at 100× ScaleStress, a 29.8 s
      // hashing task at input-file parallelism
      .chunkWindows(
        docs.select(col(idCol), col(textCol))
          .repartition(pinnedParts(docs), col(idCol)),
        idCol, textCol, size = size, stride = size)
      .select(col(idCol), col("chunk_idx"), md5(col("chunk_text")).as("__h"))
    val firsts = spans
      .groupBy("__h")
      .agg(
        count(lit(1)).as("__cnt"),
        min(struct(col(idCol).as("id"), col("chunk_idx").as("idx"))).as("__first"))
    spans
      .join(firsts, Seq("__h"))
      .select(
        col(idCol),
        (col("__cnt") > 1L &&
          !(col("__first.id") === col(idCol) &&
            col("__first.idx") === col("chunk_idx"))).as("__dup"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_spans"))
      .select(
        col(idCol),
        col("n_spans"),
        col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_span_frac"),
        (col("n_dup_spans").cast("double") / col("n_spans") <= maxDupFrac).as("keep"))
  }

  /** MAXIMAL duplicated token regions — the precise form of
    * substring dedup [[spanDupStats]] approximates: every OVERLAPPING
    * `k`-token window (stride 1, vs chunked stride-k) whose exact
    * text occurs elsewhere in the corpus marks its token range
    * duplicated (the corpus-wide FIRST occurrence by (id, start) is
    * canonical and never marked); overlapping and touching marked
    * ranges then merge into maximal contiguous regions per document
    * (gaps-and-islands). This is the "remove the repeated substring,
    * not the whole document" operation of Lee et al. — a suffix
    * array finds variable-length repeats exactly; fixed-k rolling
    * windows are the standard distributed approximation (every
    * repeat of length ≥ k is found, with boundaries quantized to
    * window granularity).
    *
    * Output: (id, span_start, span_end, span_tokens) — inclusive
    * 0-based token positions of each maximal duplicated region.
    *
    * Scale shape (100 TB): stride-1 windows emit one 16-byte md5 per
    * TOKEN (k× more rows than the chunked stats, still linear —
    * window text never ships). ONE hash-keyed shuffle computes
    * (count, first) per distinct window; the mark join re-uses the
    * key. The islands pass is a per-DOCUMENT window sort over marked
    * window STARTS only — bounded by document length, uniform by
    * construction, never a corpus-wide window. */
  def dupSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val w = windowHashes(docs, idCol, textCol, k)
    val firsts = w.groupBy("__h")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol).as("id"), col("__start").as("st"))).as("__first"))
    val marked = w.join(firsts, "__h")
      .filter(col("__cnt") > 1L &&
        !(col("__first.id") === col(idCol) && col("__first.st") === col("__start")))
      .select(col(idCol), col("__start"),
        (col("__start") + lit(k.toLong) - 1L).as("__end"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__start"))
    val runEnd = byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    marked
      // a window starting within (or right after) the furthest end so
      // far extends the current island; else a new island begins
      .withColumn("__brk",
        when(max(col("__end")).over(runEnd).isNull ||
          col("__start") > max(col("__end")).over(runEnd) + 1L, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("__start").as("span_start"), max("__end").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
  }

  /** [[dupSpans]] applied: rewrite each document with its duplicated
    * regions REMOVED (first occurrences stay — the corpus keeps
    * exactly one copy of every repeated passage). Output: the input
    * rows with `clean_text` (tokens outside every duplicated region,
    * re-joined by spaces) and `removed_tokens`.
    *
    * Scale shape: regions collect per document (a handful of (start,
    * end) pairs — interval count is bounded by doc length / k), LEFT
    * join back to the corpus on the id, and the token filter is one
    * map-side higher-order `filter` with an `exists` probe against
    * the per-doc interval array. The corpus text rides exactly one
    * doc-keyed join; no token-level shuffle. */
  def removeDupSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val spans = dupSpans(docs, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val kept = filter(zip_with(col("__toks"),
      sequence(lit(0L), size(col("__toks")).cast("long") - 1L),
      (t, i) => struct(t.as("t"), i.as("i"))),
      s => !exists(col("__spans"),
        sp => s("i") >= sp("span_start") && s("i") <= sp("span_end")))
    docs.join(spans, Seq(idCol), "left")
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("clean_text",
        when(col("__spans").isNull, col(textCol))
          .otherwise(array_join(transform(kept, s => s("t")), " ")))
      .withColumn("removed_tokens",
        when(col("__spans").isNull, lit(0L))
          .otherwise(aggregate(col("__spans"), lit(0L),
            (acc, sp) => acc + sp("span_end") - sp("span_start") + 1L)))
      .select((docs.columns.toIndexedSeq.map(col) :+
        col("clean_text") :+ col("removed_tokens")): _*)
  }

  /** Stride-1 `k`-token window hashes: (id, __start 0-based, __h).
    * Documents shorter than `k` tokens emit nothing (guarded — an
    * unguarded descending `sequence` throws under ANSI). The window
    * TEXT never leaves the projection; only the 128-bit md5 rides
    * the shuffle. `toks` is materialized as an attribute first so
    * the per-window `slice` is O(k), not O(tokens) (an inlined
    * `split` would be re-evaluated per window). */
  private def windowHashes(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol), col(textCol))
      // same guard as shingleFrontier: the per-token hashing below is
      // the pipeline's CPU and must run at cluster parallelism, not
      // input-file parallelism (measured at 50× ScaleStress: a 44 s
      // hashing task on the few-partition amplified feed)
      .repartition(pinnedParts(docs), col(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), explode(transform(
        sequence(lit(0L), size(col("__toks")).cast("long") - k),
        i => struct(i.as("st"),
          md5(array_join(slice(col("__toks"), (i + 1L).cast("int"), lit(k)), " ")).as("h"))))
        .as("__w"))
      .select(col(idCol), col("__w.st").as("__start"), col("__w.h").as("__h"))

  // ---------------------------------------- bucket-drop observability

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()
  // WEAK keys: these statics must not pin stopped SparkSessions in a
  // long-lived JVM that cycles sessions (the listener dies with its
  // session's listenerManager; only our bookkeeping would leak).
  private val dropListenerSessions =
    java.util.Collections.newSetFromMap(java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Latest observed (dropped_buckets, dropped_ids, largest_dropped)
    * per session — exposed so tests (and operational tooling) can
    * assert the counter without scraping logs. */
  private val lastDrops =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, (Long, Long, Long)]())
  def lastObservedDrops(spark: org.apache.spark.sql.SparkSession): Option[(Long, Long, Long)] =
    Option(lastDrops.get(spark))
  def resetObservedDrops(spark: org.apache.spark.sql.SparkSession): Unit =
    lastDrops.remove(spark): Unit

  /** One QueryExecutionListener per session: whenever a query
    * containing [[minhashCandidatePairs]]' observe node completes, a
    * nonzero drop count becomes a WARN naming the cap and the audit
    * query — the silent-pair-loss failure mode now announces itself.
    * (Batch queries only; a streaming caller reads the same metrics
    * from StreamingQueryProgress.observedMetrics.) */
  private def ensureDropWarnListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (dropListenerSessions.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(
            funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_minhash_drops_")) {
              val d = (row.getAs[Long]("dropped_buckets"),
                row.getAs[Long]("dropped_ids"), row.getAs[Long]("largest_dropped"))
              lastDrops.put(spark, d)
              if (d._1 > 0) log.warn(
                s"minhashCandidatePairs dropped ${d._1} flood bucket(s) over the maxBucket cap " +
                  s"(${d._2} member ids, largest ${d._3}); near-dup pairs inside them were NOT " +
                  "generated - run exactGroups first and audit with minhashBucketOverflow")
            }
          }
        override def onFailure(
            funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    }
}
