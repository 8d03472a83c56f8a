package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic (hash-based) sampling and dataset splitting.
  *
  * Training pipelines need train/val/test assignment and subsampling
  * that is STABLE: the same document must land in the same split on
  * every run, engine, partition layout, and cluster size — otherwise
  * re-runs leak val into train and ablations are incomparable. RNG
  * sampling (`df.sample`, `rand()`) guarantees none of that: it
  * depends on partition boundaries and seed plumbing. Salted-hash
  * assignment guarantees all of it: bucket = md5(salt ‖ key) mod N is
  * a pure per-row function of (salt, key).
  *
  * The salt isolates decisions: splitting with one salt and
  * subsampling with another keeps the two choices statistically
  * independent (md5 avalanche), so a 25% sample of train is unbiased
  * w.r.t. the split. Changing a salt re-draws the whole assignment.
  *
  * Scale shape (100 TB): every operator here is a map-side projection
  * or filter — zero shuffles, trivially partition-parallel, and the
  * md5 is codegen'd (no UDF). Hashes derive from md5 (portable across
  * Spark/DuckDB/Java) so assignments are oracle-checkable, like every
  * fingerprint in this library.
  */
object Sampling {

  /** Stable bucket in [0, buckets): integer value of the first 8 hex
    * chars of md5(salt:key), mod buckets. 2^32 hash space spreads the
    * mod bias below 1e-7 for any buckets <= 10^4. */
  def hashBucket(key: Column, salt: String, buckets: Int): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    conv(substring(md5(concat_ws(":", lit(salt), key.cast("string"))), 1, 8), 16, 10)
      .cast("long") % buckets
  }

  /** Add a `split` column: 'train' for the first `trainPct` buckets
    * of 100, 'val' for the next `valPct`, 'test' for the rest. */
  def withSplit(
      df: DataFrame, keyCol: String, salt: String,
      trainPct: Int, valPct: Int, outCol: String = "split"): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"trainPct=$trainPct + valPct=$valPct must fit in 100")
    val b = hashBucket(col(keyCol), salt, 100)
    df.withColumn(outCol,
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic `pct`% subsample: keeps rows whose hash bucket
    * falls below pct. Subsets nest: a 10% sample is contained in the
    * 25% sample under the same salt (useful for scaling-law runs). */
  def sampled(df: DataFrame, keyCol: String, salt: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    df.filter(hashBucket(col(keyCol), salt, 100) < pct)
  }

  /** Token-budget data mixing: per stratum (domain/language), keep a
    * deterministic hash-ordered PREFIX of documents whose cumulative
    * token count fits the stratum's budget — the mixing primitive
    * when targets are token counts ("100 B tokens of code, 20 B of
    * forum text"), not percentages like [[stratifiedSampled]].
    *
    * Selection rule (the semantic contract an oracle can replay):
    * within each stratum, order docs by (bucket, md5(salt:id), id)
    * where bucket = [[hashBucket]](id, salt, nBuckets); keep a doc
    * iff the running token sum up to and including it is <= the
    * stratum's budget. Pure function of (salt, ids, tokens) — stable
    * across runs, engines, and partition layouts.
    *
    * Scale shape: a naive per-row window cumsum puts an ENTIRE
    * stratum in one task — the classic unsplittable-partition killer
    * when one language is 80 % of 100 TB. This runs two-phase
    * instead:
    *  1. aggregate token totals per (stratum, bucket) —
    *     strata×nBuckets rows, window-cumsum'd at no cost — and
    *     classify each bucket KEEP (fits entirely under the budget),
    *     REFINE (straddles the boundary; at most one per stratum),
    *     or DROP;
    *  2. broadcast the classification back; KEEP buckets pass with
    *     no per-row window at all, and only the single straddling
    *     bucket (~1/nBuckets of the stratum) pays the sequential
    *     cumsum, offset by the tokens of the buckets before it.
    * Identical output to the naive single-window form (spec-asserted)
    * with the sequential fraction reduced nBuckets-fold; raise
    * nBuckets to shrink it further.
    *
    * `tokens` is a per-row Column (e.g. `size(split(col("text"), " "))`)
    * so callers choose the token definition; it must be non-negative.
    * Budgets are INCLUSIVE: a doc landing exactly on the budget stays.
    * `nBuckets` is part of the selection function, not just a tuning
    * knob — the order sorts bucket-first, so changing it redraws the
    * kept prefix exactly like changing the salt. Pin it alongside the
    * salt for reproducible mixes.
    * Output: the input rows that made the cut, original columns. */
  def tokenBudgetMix(
      df: DataFrame, keyCol: String, stratumCol: String, tokens: Column,
      salt: String, budgetByStratum: Map[String, Long], defaultBudget: Long,
      nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    (budgetByStratum.values.toSeq :+ defaultBudget).foreach(b =>
      require(b >= 0, s"budgets must be non-negative, got $b"))
    // sorted fold so plan canonicalization doesn't depend on map order
    def budgetFor(stratum: Column): Column =
      budgetByStratum.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
        case (acc, (s, b)) => when(stratum === s, lit(b)).otherwise(acc)
      }
    val keyed = df
      .withColumn("__h", md5(concat_ws(":", lit(salt), col(keyCol).cast("string"))))
      .withColumn("__b", conv(substring(col("__h"), 1, 8), 16, 10).cast("long") % nBuckets)
      .withColumn("__tok", tokens.cast("long"))
    // phase 1: bucket totals + cumulative start offset, classified
    val classed = keyed
      .groupBy(col(stratumCol).as("__s"), col("__b"))
      .agg(sum("__tok").as("__bt"))
      .withColumn("__cb", coalesce(sum("__bt").over(
        Window.partitionBy("__s").orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__budget", budgetFor(col("__s")))
      .select(col("__s"), col("__b"), col("__cb"),
        when(col("__cb") + col("__bt") <= col("__budget"), lit("keep"))
          .when(col("__cb") <= col("__budget"), lit("refine"))
          .otherwise(lit("drop")).as("__class"))
    // phase 2: broadcast classification; only the straddling bucket
    // (at most one per stratum) pays a per-row cumsum
    val joined = keyed.join(broadcast(classed),
      col(stratumCol) === col("__s") && keyed("__b") === classed("__b"))
    val kept = joined.filter(col("__class") === "keep")
    val refined = joined.filter(col("__class") === "refine")
      .withColumn("__cum", sum("__tok").over(
        Window.partitionBy(stratumCol)
          .orderBy(col("__h"), col(keyCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__cb") + col("__cum") <= budgetFor(col(stratumCol)))
    kept.select(df.columns.toIndexedSeq.map(col): _*)
      .unionByName(refined.select(df.columns.toIndexedSeq.map(col): _*))
  }

  /** Stratified deterministic subsample: a keep-percentage per value
    * of `stratumCol` (the data-mixing primitive — e.g. keep 50% of
    * English, 10% of everything else, and the mixture is stable
    * across runs and engines). Strata missing from `pctByStratum`
    * fall back to `defaultPct`. Within a stratum, samples nest across
    * pct changes exactly like [[sampled]]; the stratum only selects
    * the threshold, never re-draws the hash. Map-side filter, zero
    * shuffles. */
  def stratifiedSampled(
      df: DataFrame, keyCol: String, stratumCol: String, salt: String,
      pctByStratum: Map[String, Int], defaultPct: Int): DataFrame = {
    (pctByStratum.values.toSeq :+ defaultPct).foreach(p =>
      require(p >= 0 && p <= 100, s"pct must be in [0,100], got $p"))
    // stable threshold expression: sorted iteration so plans (and
    // their canonicalized forms) don't depend on map ordering
    val threshold = pctByStratum.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (stratum, pct)) =>
        when(col(stratumCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), salt, 100) < threshold)
  }

  /** Per-key cap: keep at most `n` rows per value of `keyCol`, ranked
    * by `sortKey` (descending by default — "keep the best n") with
    * `idCol` as the deterministic tiebreak (override via `tieBreak`
    * when the rank order must match an external ordering, e.g. the
    * streaming sampler's string-cast state). The canonical per-domain
    * cap of a web-scale curation pipeline: no single domain/source
    * may dominate the training mixture.
    *
    * Scale shape: the rank runs over a NARROW projection (key, id,
    * sort value) — one hash-partitioned window whose shuffle carries
    * three columns, never the document payload; survivors then LEFT
    * SEMI equi-join back to the full-width corpus on the unique id
    * (AQE-broadcastable when the cap bites hard). The naive
    * full-width window would shuffle every payload byte instead —
    * at 100 TB that is the whole corpus through the wire for a
    * three-column decision. */
  /** Skew note (100 TB): the rank window partitions by key, so a
    * DOMINANT key (one source holding a large corpus fraction)
    * concentrates its narrow (key, id, score) rows into one sort
    * task. The narrow projection keeps that survivable far longer
    * than ranking full rows would (~tens of bytes/row), but at
    * extreme key skew the scale path is threshold prefiltering:
    * approximate the key's n-th score with `approx_percentile`,
    * filter to score-beyond-threshold (±ε safety band) so only ~n·c
    * rows per key reach the exact rank, and fall back to the full
    * rank for any key whose survivor count proves the band too tight
    * — exactness preserved, sort bounded. Not implemented here
    * because every gated workload is bounded per key; wire it in
    * before pointing this at a corpus where one key exceeds a few
    * hundred million rows. */
  def perKeyCap(
      df: DataFrame, keyCol: String, idCol: String, n: Int,
      sortKey: Column, desc: Boolean = true,
      tieBreak: Option[Column] = None): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val narrow = df.select(
      col(keyCol).as("__k"), col(idCol).as("__id"), sortKey.as("__s"),
      tieBreak.getOrElse(col(idCol)).as("__tb"))
    val ord = if (desc) col("__s").desc else col("__s").asc
    val w = Window.partitionBy(col("__k")).orderBy(ord, col("__tb"))
    val keep = narrow
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .select(col("__id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** EXACT-k uniform sample per key: each key keeps exactly
    * min(k, group size) members, chosen uniformly by ranking on
    * md5(salt:id) — deterministic (re-runs and retries agree),
    * seedable (change `salt` to redraw), and unbiased within a key
    * because the hash order is independent of any data column. The
    * complement of [[perKeyCap]]: that keeps the BEST members by a
    * quality score, this keeps a REPRESENTATIVE subset (eval-slice
    * carving, per-source inspection samples, balanced probe sets).
    * Same scale shape: rank over a narrow (key, id) projection, then
    * one semi-join — the payload never rides the rank shuffle; the
    * [[perKeyCap]] dominant-key skew note (threshold prefilter as the
    * extreme-scale path) applies identically, and is especially cheap
    * here: uniform md5 hashes make the k-th-hash threshold k/n_k to
    * first order, no sketch needed. */
  def uniformPerKey(
      df: DataFrame, keyCol: String, idCol: String, k: Int,
      salt: String): DataFrame =
    // string-cast tiebreak: the rank order is (md5, id-as-string), so
    // on an md5 collision the pick follows string order ("9" > "10"),
    // not numeric order (ADVICE r11)
    perKeyCap(df, keyCol, idCol, k,
      md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), desc = false,
      tieBreak = Some(col(idCol).cast("string")))

  /** Deterministic corpus SHUFFLE + sharding — the "shuffle the
    * corpus before training" step every LLM data pipeline runs.
    * Returns `df` with `shard` in [0, nShards) and `shard_pos`
    * (0-based dense position within the shard); together they define
    * a deterministic global permutation: global order = (shard,
    * shard_pos). Both derive from md5(salt:id), so the permutation
    * is reproducible from the salt alone, independent of input
    * partitioning or row order.
    *
    * Scale shape: shard assignment is a map-side hash; the
    * within-shard position is ONE row_number window per shard —
    * nShards-way parallel sort of (hash, id) pairs only (the payload
    * joins back by id afterward at the writer; here it stays narrow
    * because callers typically select id + shard columns for the
    * manifest). At 100 TB with nShards in the thousands, each shard
    * sort is corpus/nShards rows — bounded and even by construction
    * (md5 spreads keys uniformly). */
  def shuffleShards(
      df: DataFrame, idCol: String, nShards: Int,
      salt: String): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy(col("__shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("__shard", hashBucket(col(idCol), s"$salt:shard", nShards))
      .withColumn("shard_pos", (row_number().over(w) - 1).cast("long"))
      .withColumn("shard", col("__shard"))
      .drop("__h", "__shard")
  }

  /** TEMPERATURE-weighted source mixing — the standard multilingual /
    * multi-source pretraining recipe (sampling probability of source
    * s ∝ n_s^α with α ∈ (0,1]): α < 1 flattens the source
    * distribution, UP-sampling small sources (documents repeat) and
    * down-sampling dominant ones, so low-resource sources are not
    * drowned by web-scale crawl data.
    *
    * Per source, the expected kept-copy count per document is
    * `rate_s = (targetRows · w_s / W) / n_s` where `w_s = weight(n_s)`
    * and `W = Σ w_t`: each document emits `floor(rate)` full copies
    * plus one more with probability `frac(rate)`, decided by a
    * per-(document, copy) salted md5 uniform — fully deterministic,
    * partition-layout-independent, and engine-portable (the DuckDB
    * oracle replays the identical selection). Output = input columns
    * plus `copy` (0-based repeat index; downsampled sources only emit
    * copy 0, kept with probability rate < 1). E[output rows] =
    * targetRows; the realized count concentrates tightly around it
    * (per-document Bernoulli residuals).
    *
    * `weight` defaults to `sqrt` (α = 0.5, the common choice) rather
    * than `pow(_, α)` because IEEE `sqrt` is correctly rounded on
    * every engine while `pow` carries libm ulp drift — callers
    * wanting other α pass `c => pow(c, lit(α))` and accept a
    * rows-only oracle (the repo's exactness rules, `util/Exact`).
    *
    * Scale shape (100 TB): source counts are one map-side-combined
    * aggregation to a strata-sized table; the total `W` is a 1-row
    * broadcast scalar; rates broadcast-join back to the corpus; copy
    * explosion + the keep filter are map-side. The corpus is never
    * shuffled — the only wide op is the tiny counts aggregation. */
  /** Exact-k WEIGHTED sample without replacement, deterministic and
    * oracle-exact. Integer weights only — and that restriction is the
    * whole trick: Efraimidis–Spirakis (A-ES) ranks units by
    * u_i^(1/w_i), and for an integer weight that key is distributed
    * exactly as the MAX of w_i iid uniforms. Equivalently (flipping
    * max→min so smaller is better): give each unit w_i independent
    * salted-md5 draws and rank by its MINIMUM draw — the selection
    * law is identical to A-ES (first pick lands on unit i with
    * probability w_i/Σw, then without-replacement recursion), but
    * every comparison is between md5 hex strings, so there is no
    * `pow`/`ln` whose last-ulp differences could flip a rank between
    * engines. The draw index c rides the hash input (`salt:id:c`),
    * so draws are independent across units AND across a unit's own
    * tickets; changing the salt redraws the whole sample.
    *
    * Scale shape (100 TB): one explode bounded by `maxWeight`
    * (weights are clamped to [1, maxWeight] — a cap you should pick
    * small, e.g. 8: selection pressure is w-proportional, so coarse
    * integer weights already express "keep 8× more of this"), one
    * doc-keyed map-side MIN aggregation, then a bounded top-k
    * (TakeOrderedAndProject's per-task k-heaps — never a global
    * sort). The payload never rides the explode: only (id, weight).
    *
    * Output: the k sampled ids as (id, min_draw), smallest draw
    * first under (min_draw, id) — join back to the payload by id. */
  def weightedSampleK(
      df: DataFrame, idCol: String, weightCol: Column,
      k: Int, salt: String, maxWeight: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxWeight >= 1, s"maxWeight must be >= 1, got $maxWeight")
    val w = least(greatest(weightCol.cast("int"), lit(1)), lit(maxWeight))
    df.select(col(idCol), w.as("__w"))
      .select(col(idCol), explode(sequence(lit(0), col("__w") - 1)).as("__c"))
      .select(col(idCol),
        md5(concat_ws(":", lit(salt), col(idCol).cast("string"),
          col("__c").cast("string"))).as("__d"))
      .groupBy(col(idCol))
      .agg(min(col("__d")).as("min_draw"))
      .orderBy(col("min_draw"), col(idCol))
      .limit(k)
  }

  def temperatureMix(
      df: DataFrame, keyCol: String, stratumCol: String,
      salt: String, targetRows: Long,
      weight: Column => Column = c => sqrt(c)): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val counts = df.groupBy(col(stratumCol).as("__s"))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", weight(col("__n")))
    val total = counts.agg(sum("__w").as("__tw"))
    val rates = counts.crossJoin(broadcast(total))
      .select(col("__s"),
        (lit(targetRows.toDouble) * col("__w") / col("__tw") / col("__n")).as("__rate"))
    // per-(doc, copy) uniform in [0,1): first 8 md5 hex chars / 2^32
    val u = conv(substring(
      md5(concat_ws(":", lit(salt), col(keyCol).cast("string"),
        col("copy").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    df.join(broadcast(rates), col(stratumCol) === col("__s"))
      .withColumn("copy",
        explode(sequence(lit(0L), ceil(col("__rate")).cast("long") - 1)))
      .filter(col("copy") < floor(col("__rate")) ||
        u < col("__rate") - floor(col("__rate")))
      .select((df.columns.toIndexedSeq.map(col) :+ col("copy")): _*)
  }
}
