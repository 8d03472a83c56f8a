package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus n-gram statistics and per-document familiarity scoring —
  * the "does this document look like the corpus" quality signal a
  * training pipeline uses to rank/filter candidate data (the same
  * role a KenLM perplexity filter plays in CCNet-style curation).
  *
  * Design for oracle exactness: classic LM scoring sums `ln p(w|h)`,
  * but `ln` is NOT IEEE-exactly specified — two engines' libm may
  * differ in the last ulp, so a log-prob column can never be
  * hash-compared across engines. Instead the operator scores
  * FAMILIARITY: the fraction of a document's n-gram POSITIONS whose
  * n-gram occurs at least `minCount` times in the whole corpus. That
  * keeps every intermediate in exact integer arithmetic, with one
  * terminal double division (IEEE division IS correctly rounded, so
  * it is bit-identical across engines) — the same discipline as the
  * BM25 ranker's division-free compare ([[Search]]).
  *
  * Scale shape (100 TB):
  *  - [[ngramCounts]] is explode → partial-aggregated count: the
  *    combiner collapses each partition to its local vocabulary
  *    before the shuffle, so the Exchange moves ~|vocab| rows per
  *    partition, not |tokens|.
  *  - [[familiarity]] joins per-(doc, gram) multiplicities against
  *    the counts table on the gram key — an EQUI-join AQE can
  *    skew-split when head grams ("of the") flood a partition. A
  *    window `sum over (partition by gram)` would reuse one Exchange
  *    but puts every row of a head gram in ONE unsplittable task —
  *    the wrong trade at corpus scale, so the join shape is chosen
  *    deliberately.
  *  - The corpus is scanned twice (once per side). Both scans are
  *    column-pruned to (id, text) and map-side reduced; materializing
  *    the exploded positions to avoid the second scan would cost far
  *    more than the scan at any scale.
  */
object LanguageModel {

  /** Corpus-wide n-gram occurrence counts: (gram STRING, cnt LONG).
    * Counts every POSITION (multiplicity, not per-doc distinct) —
    * the LM-style statistic. Tokens are materialized as an attribute
    * before the shingle lambda slices them (an inlined `split`
    * re-evaluates per output element: O(tokens²)). */
  def ngramCounts(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    docs
      .select(col(textCol))
      // spread the tokenize/shingle frontier off the file scan
      // (round-robin REPARTITION_BY_NUM — not AQE-coalescible):
      // fused into a few-file scan the whole explode runs at scan
      // parallelism (measured in the lm_perplexity ScaleStress arm:
      // a 22 s uniform stage at 100× was this projection on the
      // reference-slice scan tasks)
      .repartition(Dedup.pinnedParts(docs))
      .select(split(col(textCol), " ").as("__toks"))
      .select(explode(graft.functions.GraftFunctions.shingles(col("__toks"), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
  }

  /** TRUE backoff perplexity — the full CCNet-style LM gate the
    * familiarity score stands in for when oracle exactness is
    * required. Train [[ngramCounts]] artifacts on a TRUSTED reference
    * slice (n=1 and n=2), score any corpus with stupid backoff:
    *   P(w | ctx) = c2(ctx w) / c1(ctx)          if the bigram is known
    *              = alpha * (c1(w) + 1) / (N + V) otherwise
    * (N = total reference tokens, V = distinct reference vocabulary;
    * add-one keeps OOV finite). Output per document: n_scored
    * (bigram positions), n_hit / n_backoff (which model order
    * fired), hit_frac (ONE IEEE division — engine-exact), and the
    * `ln`-bearing avg_logprob / ppl = exp(-avg_logprob).
    *
    * Oracle discipline: the integer tallies + hit_frac are oracle-gated
    * (`p_lm_score_audit`); avg_logprob/ppl go through `ln`/`exp`,
    * which IEEE leaves implementation-defined, so they are
    * spec-gated (LanguageModelSpec: hand-computed model +
    * Scala-reference fold). Scoring the training corpus itself is
    * degenerate (every position hits); the intended shape is
    * train-on-reference / score-the-rest.
    *
    * Scale shape (100 TB): the model artifacts are vocabulary-sized
    * DataFrames the caller persists — NEVER broadcast; the three
    * gram-keyed joins hash-build the model side (`shuffle_hash`:
    * SMJ would sort the corpus-sized gram stream) and AQE can
    * skew-split head grams. One id-keyed aggregation reduces to a
    * per-doc row; the text never rides a shuffle past the pinned
    * gram frontier.
    *
    * The model frames are MATERIALIZED once here (LAZY localCheckpoint,
    * vocabulary-bounded rows — exactly the "artifacts the caller
    * persists" production contract, realized within the one run):
    * `uni` has THREE divergently-pruned consumers (totals, the __ctx
    * join, the __uw join), and the r22 plan dump showed the optimizer
    * rewriting `totals` into a FULL re-explode of the reference slice
    * (sum-over-group-counts folds to count-over-positions), so
    * without the barrier the reference corpus was tokenized and
    * exploded up to three times for the unigram side alone (guide
    * §2.4 — remove recomputation outright; plan evidence: the
    * p_lm_score_audit formatted plan's Generate count 4 → 1). LAZY,
    * not eager, deliberately: an eager variant was A/B'd and REVERTED
    * (cold 4-query bench min 16.5 → 24.4 s — the upfront serial
    * checkpoint jobs run JIT-cold and forfeit AQE's stage overlap);
    * the lazy checkpoint materializes the blocks inside the main
    * query's own stage graph, and every consumer reads the
    * once-computed persisted blocks. Rows unchanged — only
    * execution count. */
  def perplexity(
      docs: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, bi: DataFrame, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be > 0")
    val uniM = uni.localCheckpoint(false)
    val biM = bi.localCheckpoint(false)
    val totals = uniM.agg(sum("cnt").as("__n"), count(lit(1)).as("__v"))
    val grams = docs
      .select(col(idCol), col(textCol))
      // gram frontier BELOW the tokenize/explode ([[Importance]]
      // gramRows lesson: fused into a few-file scan it runs at scan
      // parallelism); REPARTITION_BY_NUM so AQE cannot re-coalesce
      .repartition(Dedup.pinnedParts(docs), col(idCol))
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.shingles(col("__toks"), 2)).as("gram"))
      // tokens are space-split, so gram = w1 || ' ' || w2 is
      // bijective and the context/word recover by splitting
      .withColumn("__w1", element_at(split(col("gram"), " "), 1))
      .withColumn("__w2", element_at(split(col("gram"), " "), 2))
    val perGram = grams
      .join(biM.select(col("gram"), col("cnt").as("__c2"))
        .hint("shuffle_hash"), Seq("gram"), "left")
      .join(uniM.select(col("gram").as("__w1"), col("cnt").as("__ctx"))
        .hint("shuffle_hash"), Seq("__w1"), "left")
      .join(uniM.select(col("gram").as("__w2"), col("cnt").as("__uw"))
        .hint("shuffle_hash"), Seq("__w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__hit", col("__c2").isNotNull && col("__ctx").isNotNull)
      .withColumn("__lp",
        when(col("__hit"), log(col("__c2").cast("double") / col("__ctx")))
          .otherwise(log(lit(alpha)) +
            log((coalesce(col("__uw"), lit(0L)) + 1).cast("double") /
              (col("__n") + col("__v")).cast("double"))))
    val agg = perGram.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_scored"),
      sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"),
      sum(col("__lp")).as("__lpsum"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_scored"), lit(0L)) -
          coalesce(col("n_hit"), lit(0L))).as("n_backoff"),
        when(col("n_scored") > 0,
          col("n_hit").cast("double") / col("n_scored")).as("hit_frac"),
        when(col("n_scored") > 0,
          col("__lpsum") / col("n_scored")).as("avg_logprob"),
        when(col("n_scored") > 0,
          exp(-(col("__lpsum") / col("n_scored")))).as("ppl"))
  }

  /** Per-document familiarity vs the corpus' own n-gram counts:
    * (doc_id, n_grams, familiar_grams, familiar_rate) where
    * `familiar_grams` counts the document's n-gram positions whose
    * gram appears >= `minCount` times corpus-wide and
    * `familiar_rate = familiar_grams / n_grams` (0.0 for documents
    * shorter than n tokens, which are preserved as zero rows rather
    * than dropped). Rare-gram-dense documents (boilerplate noise,
    * mangled encodings, non-corpus languages) score low. */
  def familiarity(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, minCount: Long = 3): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    require(minCount >= 1, s"minCount=$minCount must be >= 1")
    val counts = ngramCounts(docs, textCol, n)
    val perDoc = docs
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__toks"))
      .select(col("__id"),
        explode(graft.functions.GraftFunctions.shingles(col("__toks"), n)).as("gram"))
      .groupBy("__id", "gram")
      .agg(count(lit(1)).as("__k"))
    val agg = perDoc
      .join(counts, Seq("gram"))
      .groupBy("__id")
      .agg(
        sum(col("__k")).as("__n"),
        sum(when(col("cnt") >= minCount, col("__k")).otherwise(lit(0L))).as("__fam"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, col("doc_id") === col("__id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_grams"),
        coalesce(col("__fam"), lit(0L)).as("familiar_grams"))
      .withColumn("familiar_rate",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("familiar_grams").cast("double") / col("n_grams")))
  }

}
