package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `array<float>` embedding column.
  *
  * The similarity kernel is the native codegen'd
  * [[graft.functions.CosineSimilarity]] expression: one fused
  * zero-allocation pass computing dot and both norms inside
  * whole-stage codegen (the higher-order-function formulation it
  * replaced is CodegenFallback — an interpreted fold plus a zipped
  * array allocation per candidate pair). Sums run left-to-right in
  * element order in double on both Spark and the DuckDB oracle, so
  * results stay bit-identical (the HOF formulation stays in the
  * test tree as the reference, property-tested equivalent).
  *
  * Scale design:
  *  - brute force is the exact baseline: |Q| x |N| partitioned
  *    product with a per-query top-k window. Correct at any scale but
  *    O(Q*N); keep Q small or use the bucketed variant.
  *  - [[signBucket]] is a deterministic LSH (sign of leading
  *    components): candidates are joined per bucket, which turns the
  *    product into an equi-join Spark shuffles/broadcasts like any
  *    other join, pruning ~(1 - 2^-bits) of the pairs.
  */
object Similarity {

  /** Cosine similarity = dot / (||a|| * ||b||); zero for zero
    * vectors. Native codegen'd expression — see class doc.
    *
    * STRICTLY `array<float>` inputs (the embeddings schema): the
    * native expression rejects other numeric arrays at analysis time
    * rather than inserting a silent double→float downcast that would
    * change results. Cast other numeric arrays to array<float>
    * first. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine(a, b)

  /** L2 (Euclidean) distance in double, squared-diff sum in element
    * order — same cross-engine bit-exactness contract as [[cosine]]
    * (identical expression order; `d*d`, never `pow`). Runs on the
    * fused codegen'd [[graft.functions.L2Squared]] kernel; the HOF
    * reference formulation lives in the test tree (property-tested
    * equivalent in FunctionsSpec). */
  def l2(a: Column, b: Column): Column =
    sqrt(graft.functions.GraftFunctions.l2sq(a, b))

  /** Deterministic sign-bit LSH bucket: bit i set iff component i is
    * >= 0. With random-ish embeddings, 2^bits roughly-equal buckets.
    * `try_element_at` + coalesce(0) so vectors shorter than `bits`
    * (or NULL) don't throw under ANSI mode: missing components count
    * as >= 0, and NULL vectors all land in the all-ones bucket rather
    * than silently dropping out of the join. */
  def signBucket(vec: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(coalesce(try_element_at(vec, lit(i + 1)), lit(0f)) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries   (queryIdCol, vecCol)
    * @param corpus    (idCol, vecCol)
    * @param k         neighbors per query
    */
  def bruteForceTopK(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q
      .crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Exact top-k NEAREST neighbors by L2 distance — the metric
    * complement of [[bruteForceTopK]] (ascending rank, same shape;
    * `dist` instead of `sim`). Embedding families trained with
    * Euclidean objectives (classic k-means, some retrieval towers)
    * rank by this, not cosine. */
  def bruteForceTopKL2(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q
      .crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", l2(col("__qv"), col("__cv")))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** Approximate top-k: candidates restricted to the query's sign
    * bucket — the IVF/LSH scale path. Same output shape as
    * [[bruteForceTopK]]. */
  def lshTopK(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, signBits: Int): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__qv"),
      signBucket(col(vecCol), signBits).as("__bucket"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), signBits).as("__bucket"))
    val scored = q
      .join(c, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Embedding-space train/test contamination: pairs whose cosine
    * reaches `threshold`, found through a sign-LSH bucket equi-join —
    * the SEMANTIC complement of [[Fingerprint.ngramContamination]]
    * (which catches verbatim leakage; this catches paraphrase-level
    * leakage that shares no n-gram, the kind benchmark rewrites
    * introduce). The actionable output is the pair list itself: drop
    * or audit the train members.
    *
    * Recall is the single-probe sign-LSH ceiling — a pair split
    * across buckets is missed. `bits` trades recall for candidate
    * volume exactly as in [[lshTopK]], and the recall-audit pattern
    * (`p_lsh_recall_audit`) applies verbatim; multi-probe or banded
    * signatures are the published escalation when decontamination
    * must be near-lossless.
    *
    * Scale shape (100 TB): both sides reduce to (id, vec, bucket);
    * the join is a hash equi-join on bucket (2^bits keys — size
    * `bits` so buckets stay executor-bounded), the cosine verify is
    * the fused codegen'd kernel, and nothing else shuffles. Never an
    * all-pairs product.
    *
    * Output: (test_id, train_id, sim ≥ threshold). */
  def semanticContamination(
      train: DataFrame, trainIdCol: String,
      test: DataFrame, testIdCol: String,
      vecCol: String, signBits: Int, threshold: Double): DataFrame = {
    val tr = train.select(
      col(trainIdCol).as("train_id"), col(vecCol).as("__tv"),
      signBucket(col(vecCol), signBits).as("__bucket"))
    val te = test.select(
      col(testIdCol).as("test_id"), col(vecCol).as("__qv"),
      signBucket(col(vecCol), signBits).as("__bucket"))
    te.join(tr, Seq("__bucket"))
      .withColumn("sim", cosine(col("__qv"), col("__tv")))
      .filter(col("sim") >= threshold)
      .select("test_id", "train_id", "sim")
  }

  /** IVF-flat approximate top-k — the inverted-file ANN scale path.
    *
    * A small set of coarse-quantizer centroids partitions the corpus
    * into cells: every corpus vector is assigned to its max-cosine
    * centroid (smallest centroid id on ties), and a query scores only
    * the vectors in its `nProbe` nearest cells. Candidate volume
    * drops to ~nProbe/nCells of the corpus while the plan stays
    * broadcast + equi-join end to end: centroids broadcast (tiny),
    * assignment is one map-side pass whose argmax is a
    * partial-aggregable lexicographic struct-min, candidate
    * generation is a hash join on cell id — never an all-pairs
    * product, no driver-side state.
    *
    * `centroids` is caller-supplied: train them in-engine with
    * [[trainCentroids]] (quantizer quality tunes recall, never plan
    * shape); tests and oracles pass a deterministic corpus subset so
    * every stage stays value-checkable. Same output shape as
    * [[bruteForceTopK]]. */
  def ivfTopK(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centIdCol).as("__cent"), col(centVecCol).as("__cvec")))
    def cellScores(df: DataFrame, dfIdCol: String, outId: String): DataFrame =
      df.select(col(dfIdCol).as(outId), col(vecCol).as("__v"))
        .crossJoin(cents)
        .withColumn("__ccos", cosine(col("__v"), col("__cvec")))
    // corpus → exactly one cell (see [[assignCells]])
    val cells = assignCells(corpus, idCol, vecCol, centroids, centIdCol, centVecCol)
      .select(col("id").as("neighbor_id"), col("cell").as("__cell"))
    val base = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(cells, Seq("neighbor_id"))
    // queries probe their nProbe nearest cells (ranked like the
    // assignment: cosine desc, centroid id asc)
    val wp = Window.partitionBy("query_id").orderBy(col("__ccos").desc, col("__cent"))
    val probes = cellScores(queries, queryIdCol, "query_id")
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("__v").as("__qv"), col("__cent").as("__cell"))
    val scored = probes.join(base, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Coarse-quantizer cell assignment: each corpus vector → its
    * max-cosine centroid (smallest centroid id on ties). The argmax is
    * a lexicographic struct-min — a PLAIN aggregate, so map-side
    * partials apply and the only wide exchange is on the vector id.
    * The centroid side broadcasts (nCells rows — the quantizer, never
    * the corpus), so at 100 TB this is one map-side pass + one
    * partial-aggregated shuffle of (id, cell) pairs.
    *
    * This is the assignment stage [[ivfTopK]] uses internally,
    * surfaced for cell-balance audits (a skewed quantizer silently
    * serializes the probe stage — cell population is the number to
    * watch) and for materializing the cell column once when many
    * queries share one corpus. Output: (id, cell). */
  def assignCells(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centIdCol).as("__cent"), col(centVecCol).as("__cvec")))
    corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .crossJoin(cents)
      .withColumn("__ccos", cosine(col("__v"), col("__cvec")))
      .groupBy("id")
      .agg(min(struct((-col("__ccos")).as("nc"), col("__cent").as("cent"))).as("__b"))
      .select(col("id"), col("__b.cent").as("cell"))
  }

  /** Distributed spherical k-means trainer for [[ivfTopK]]'s coarse
    * quantizer — Lloyd's iterations expressed as Spark aggregations,
    * so the IVF path is self-contained end to end (no offline
    * training step).
    *
    * Per iteration:
    *  1. ASSIGN — corpus × broadcast(centroids), argmax cosine as the
    *     same partial-aggregable struct-min [[ivfTopK]] uses. The
    *     cross join is nCells-wide (the quantizer, never the corpus),
    *     so this is one map-side pass.
    *  2. RECENTER — posexplode each member vector and average per
    *     (cell, dimension): one shuffle of N·dim scalar rows, the
    *     standard distributed-k-means cost (MLlib's trainer moves the
    *     same volume through its vector-sum aggregator). Cosine is
    *     scale-invariant, so the un-normalized mean assigns
    *     identically to the L2-normalized spherical-k-means centroid.
    *  3. Cells that lose every member keep their previous centroid
    *     (left join + coalesce) — the cell count never shrinks below
    *     its seeded size. Seeding itself uses one corpus row per
    *     cell, so a corpus with fewer than nCells rows yields a
    *     min(nCells, |corpus|)-cell quantizer (k-means with k > n is
    *     degenerate anyway); an empty corpus is rejected.
    *
    * Centroid state is O(nCells·dim) and lives in a DataFrame
    * `localCheckpoint`ed each round (truncates the iteration's
    * lineage so plan depth stays flat; nothing accumulates on the
    * driver). Init is the nCells corpus vectors with the smallest
    * md5(id) — a deterministic hash-spread sample, no RNG.
    *
    * Float means vary with aggregation order (IEEE), so trained
    * centroids tune RECALL, not correctness: oracle-gated queries
    * keep deterministic caller-supplied centroids, and the trained
    * path is spec-gated by recall-vs-brute instead.
    *
    * Output: (cent_id LONG, cent_vec ARRAY<FLOAT>) — ready to feed
    * [[ivfTopK]]'s `centroids` parameter. */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 5): DataFrame = {
    require(nCells > 0, s"nCells=$nCells must be positive")
    require(iters >= 0, s"iters=$iters must be non-negative")
    val seedOrder = Seq(col("__r"), col("__iid"))
    val init = corpus
      .select(col(idCol).cast("string").as("__iid"), col(vecCol).as("__cvec"))
      .withColumn("__r", md5(col("__iid")))
      .orderBy(seedOrder: _*)
      .limit(nCells) // TakeOrderedAndProject — never a global sort
      .select(
        (row_number().over(Window.orderBy(seedOrder: _*)) - 1).cast("long").as("__cent"),
        col("__cvec"))
    var cents = init.localCheckpoint(true)
    // The checkpoint is eager, so this probes the materialized
    // ≤nCells-row RDD — it never re-scans the corpus.
    require(!cents.isEmpty, "trainCentroids: empty corpus — nothing to seed the quantizer")
    for (_ <- 0 until iters) {
      val assigned = corpus
        .select(col(idCol).as("__id"), col(vecCol).as("__v"))
        .crossJoin(broadcast(cents))
        .withColumn("__cos", cosine(col("__v"), col("__cvec")))
        .groupBy("__id")
        .agg(
          min(struct((-col("__cos")).as("nc"), col("__cent").as("cent"))).as("__b"),
          first(col("__v")).as("__v")) // functionally dependent on __id
        .select(col("__b.cent").as("__cent"), col("__v"))
      val means = assigned
        .select(col("__cent"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy("__cent", "__p")
        .agg(avg(col("__x")).as("__m"))
        .groupBy("__cent")
        .agg(array_sort(collect_list(struct(col("__p"), col("__m")))).as("__pm"))
        .select(
          col("__cent"),
          transform(col("__pm"), e => e.getField("__m").cast("float")).as("__mvec"))
      cents = cents
        .join(means, Seq("__cent"), "left")
        .select(col("__cent"), coalesce(col("__mvec"), col("__cvec")).as("__cvec"))
        .localCheckpoint(true)
    }
    cents.select(col("__cent").as("cent_id"), col("__cvec").as("cent_vec"))
  }

  /** [[lshTopK]] with MULTI-PROBE: each query also probes the
    * `signBits` buckets at Hamming distance 1 from its own (one sign
    * bit flipped) — the standard recall fix for vectors near a
    * hyperplane boundary, whose true neighbors straddle the adjacent
    * bucket. Cost is (signBits+1)× the candidate volume but the plan
    * stays a bucket equi-join (never a cross product), and since a
    * corpus vector lives in exactly ONE bucket the probes are
    * disjoint — no duplicate candidates, no dedup pass. */
  def lshTopKMultiProbe(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, signBits: Int): DataFrame = {
    val base = signBucket(col(vecCol), signBits)
    val probes = array(
      base +: (0 until signBits).map(i => base.bitwiseXOR(lit(1L << i))): _*)
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__qv"),
      explode(probes).as("__bucket"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), signBits).as("__bucket"))
    val scored = q
      .join(c, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Deterministic signed random projection (Johnson–Lindenstrauss,
    * Achlioptas-style ±1 matrix): `out[j] = Σ_d vec[d] · r(j, d)`
    * with `r(j, d) = +1` iff the first hex digit of
    * `md5("tag:j:d")` is < '8' (an unbiased coin, portable across
    * engines — the same derivation family as every fingerprint
    * here). Each output is a fixed ±-signed sum of the input floats
    * accumulated in index order, so the double result is
    * bit-identical on any engine that adds left-to-right.
    *
    * The matrix is resolved ONCE at plan time (outDim·dim signs baked
    * into the expression); per row the projection is outDim
    * multiply-add chains over the array — a pure map-side projection,
    * no shuffle, no UDF. At 100 TB this is the cheap dimensionality-
    * reduction front of an ANN pipeline: project 1024-d → 32-d,
    * bucket or index the short vectors, then refine survivors on the
    * originals.
    *
    * One plan form for every matrix size (r22): the fused
    * [[graft.functions.SignedRandomProjection]] kernel computes all
    * outDim folds in one codegen'd call — O(1) plan nodes. It
    * replaces BOTH previous forms bit-identically (same md5 sign
    * rule, same left-to-right double fold; OperatorsSpec asserts
    * exact equality against the scalar reference): the unrolled
    * Add-chain form (dim·outDim ≤ 4096) generated a ~13.8k-line
    * wholestage class that failed Janino once per bench run and fell
    * back to interpreted execution for the whole stage (VERDICT r21
    * #5), and the `aggregate`-HOF form for larger matrices was
    * interpreted by construction. */
  def randomProject(vec: Column, dim: Int, outDim: Int, tag: String = "rp"): Column =
    graft.functions.GraftFunctions.signedProjection(vec, dim, outDim, tag)

  /** Squared L2 in double, element-order fold — [[l2]] without the
    * sqrt; the PQ distance-table unit (PQ ranks on Σ of per-subspace
    * squared distances, so the root is never needed). The fused
    * codegen'd kernel — the PQ encoding evaluates corpus·m·ks of
    * these, which the interpreted HOF form made the dominant stage
    * (measured: a 17.8 s max task at 50× ScaleStress). */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.l2sq(a, b)

  /** The m per-subspace slices of each row's vector:
    * (outId, subspace 0-based, sub-vector of dim/m components).
    * Requires m | dim (slice arithmetic is per-row, so ragged input
    * surfaces as empty/short tails rather than silently mis-slicing
    * — callers validate dimensionality upstream like every vector
    * op here). */
  private def subVectors(
      df: DataFrame, inIdCol: String, vecCol: String, outId: String,
      m: Int): DataFrame = {
    val v = col(vecCol)
    val d = (size(v) / lit(m)).cast("int")
    df.select(col(inIdCol).as(outId),
      posexplode(array((0 until m).map(j =>
        slice(v, (lit(j) * d + 1).cast("int"), d)): _*))
        .as(Seq("subspace", "__sv")))
  }

  /** Product-quantization codebook from `ks` sample vectors: every
    * sample id becomes codeword `code` in EVERY subspace (the fixed
    * deterministic codebook form — like [[ivfTopK]]'s fixed-centroid
    * mode, it keeps the whole index oracle-replayable; swap in a
    * per-subspace k-means via [[trainCentroids]] on the slices when
    * training is wanted). Output: (subspace, code, subvec). */
  def pqCodebookFrom(
      samples: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame =
    subVectors(samples.select(col(idCol).cast("int").as("__c"), col(vecCol)),
      "__c", vecCol, "code", m)
      .select(col("subspace"), col("code"), col("__sv").as("subvec"))

  /** TRAINED product-quantization codebook: per-subspace Lloyd's
    * k-means with L2 (the objective PQ actually quantizes for —
    * [[trainCentroids]] is the spherical/cosine IVF trainer; this one
    * minimizes per-subspace squared distance). All m subspaces train
    * in ONE set of Spark jobs per iteration: the sub-vector frame
    * carries its subspace id, assignment joins codewords on that id
    * (broadcast — m·ks rows), and the mean recomputation groups by
    * (subspace, code, position). Seeding is the deterministic
    * md5-ranked sample (same scheme as [[trainCentroids]]); empty
    * codewords keep their previous vector. Output: (subspace, code,
    * subvec) — drop-in for [[pqTopK]]. */
  def pqTrainCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, iters: Int = 5): DataFrame = {
    require(m > 0 && ks > 0, s"m=$m and ks=$ks must be positive")
    require(iters >= 0, s"iters=$iters must be non-negative")
    val subs = subVectors(corpus, idCol, vecCol, "__id", m)
    val init = corpus
      .select(col(idCol).cast("string").as("__sid"), col(vecCol))
      .withColumn("__r", md5(col("__sid")))
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__r"), col("__sid"))))
      .filter(col("__rk") <= ks)
    var cb = subVectors(init, "__rk", vecCol, "__seed", m)
      .select(col("subspace"), (col("__seed") - 1).cast("int").as("code"),
        col("__sv").as("subvec"))
      .localCheckpoint(true)
    require(!cb.isEmpty, "pqTrainCodebook: empty corpus — nothing to seed")
    for (_ <- 0 until iters) {
      val assigned = subs
        .join(broadcast(cb), "subspace")
        .withColumn("__d2", l2sq(col("__sv"), col("subvec")))
        .groupBy("__id", "subspace")
        .agg(
          min(struct(col("__d2").as("d"), col("code").as("c"))).as("__b"),
          first(col("__sv")).as("__sv")) // functionally dependent
        .select(col("subspace"), col("__b.c").as("code"), col("__sv"))
      val means = assigned
        .select(col("subspace"), col("code"),
          posexplode(col("__sv")).as(Seq("__p", "__x")))
        .groupBy("subspace", "code", "__p")
        .agg(avg(col("__x")).as("__m"))
        .groupBy("subspace", "code")
        .agg(array_sort(collect_list(struct(col("__p"), col("__m")))).as("__pm"))
        .select(col("subspace"), col("code"),
          transform(col("__pm"), e => e.getField("__m").cast("float")).as("__mvec"))
      cb = cb
        .join(means, Seq("subspace", "code"), "left")
        .select(col("subspace"), col("code"),
          coalesce(col("__mvec"), col("subvec")).as("subvec"))
        .localCheckpoint(true)
    }
    cb
  }

  /** Product-quantization approximate top-k — the fourth ANN arm
    * beside brute force, sign-LSH and IVF: corpus vectors compress to
    * m codes (one per subspace, nearest codeword by squared L2, ties
    * → smallest code), queries build a distance LOOK-UP TABLE (d² to
    * every codeword in every subspace), and the asymmetric-distance
    * scan ranks every corpus vector by Σⱼ lut[j, code_j] — m map
    * probes and m−1 additions per (query, vector), never a full
    * D-dim distance.
    *
    * Scale shape (100 TB): the codebook broadcasts (m·ks rows);
    * encoding is one broadcast join + keyed argmin — the corpus
    * never shuffles its VECTORS again after encoding (codes are
    * m bytes-ish vs 4·D — the memory economy PQ exists for). The
    * LUT side is queries-sized (|Q|·m·ks doubles) and broadcasts;
    * the ADC scan is the deliberate broadcast-nested-loop of a
    * bounded query batch against the encoded corpus (the same
    * documented-acceptable class as the brute-force baseline), and
    * the per-query top-k window runs on (id, approx) pairs only.
    *
    * Exactness: every distance is the [[l2sq]] element-order fold,
    * the per-subspace argmin is a lexicographic struct-min, and the
    * ADC sum adds subspaces in fixed j = 0..m−1 expression order —
    * the oracle replays all three bit-identically.
    *
    * Output: (query_id, rank, neighbor_id, approx_d2), rank 1 =
    * nearest by approximate distance, self-pairs excluded. */
  /** Per-corpus-vector PQ codes: (neighbor_id, __codes MAP subspace →
    * nearest codeword id). One broadcast-codebook join + two plain
    * aggregations; the corpus vector never shuffles again after
    * encoding — the m-bytes-per-vector economy PQ exists for. */
  private def pqCodes(
      corpus: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, m: Int): DataFrame =
    subVectors(corpus, idCol, vecCol, "neighbor_id", m)
      .join(cb, "subspace")
      .withColumn("__d2", l2sq(col("__sv"), col("subvec")))
      .groupBy("neighbor_id", "subspace")
      .agg(min(struct(col("__d2").as("d"), col("code").as("c"))).as("__b"))
      .groupBy("neighbor_id")
      .agg(map_from_entries(
        collect_list(struct(col("subspace"), col("__b.c")))).as("__codes"))

  /** Per-query ADC lookup table: (query_id, __lut MAP packed(subspace,
    * code) → L2² between the query's subvector and that codeword). */
  private def pqLut(
      queries: DataFrame, queryIdCol: String, vecCol: String,
      cb: DataFrame, m: Int): DataFrame =
    subVectors(queries, queryIdCol, vecCol, "query_id", m)
      .join(cb, "subspace")
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(
        // (subspace, code) packed into one long: codes are arbitrary
        // caller ids (sample vector ids), so the subspace stride must
        // be collision-proof for any 32-bit code
        (col("subspace").cast("long") * lit(4294967296L) + col("code")).as("mk"),
        l2sq(col("__sv"), col("subvec")).as("d")))).as("__lut"))

  /** ADC distance: fixed j-order sum ((d0 + d1) + …) over the m LUT
    * probes — deterministic cross-engine. */
  private def adcApprox(m: Int): Column =
    (0 until m).map(j =>
      element_at(col("__lut"),
        lit(j.toLong * 4294967296L) + element_at(col("__codes"), lit(j)))).reduce(_ + _)

  def pqTopK(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, k: Int): DataFrame = {
    require(m > 0 && k > 0, s"m=$m and k=$k must be positive")
    val cb = broadcast(codebook.select(
      col("subspace"), col("code"), col("subvec")))
    val enc = pqCodes(corpus, idCol, vecCol, cb, m)
    val lut = pqLut(queries, queryIdCol, vecCol, cb, m)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id"))
    enc.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", adcApprox(m))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "approx_d2")
  }

  /** IVF-PQ — the production ANN index shape (coarse quantizer prunes
    * the corpus to nProbe cells, PQ ADC ranks inside them; what FAISS
    * calls IndexIVFPQ): composes [[assignCells]] (cell per corpus
    * vector), [[ivfTopK]]'s probe rule (a query's nProbe max-cosine
    * cells, ties to the smaller centroid id) and the PQ machinery
    * above. Candidate volume drops to ~nProbe/nCells of the corpus
    * AND each candidate costs m map probes instead of a full-vector
    * kernel — the multiplicative economy that makes billion-vector
    * serving work.
    *
    * Metric note: probes rank cells by COSINE (the audited coarse
    * quantizer this library ships), the re-rank is L2² ADC — the
    * standard pairing for normalized embedding families; callers with
    * unnormalized vectors should L2-normalize upstream or the two
    * stages optimize different objectives.
    *
    * Scale shape (100 TB): centroids and codebook broadcast (tiny);
    * encoding and cell assignment are each one broadcast join + keyed
    * aggregation over the corpus; the probe table is queries×nProbe
    * rows (broadcast with its LUTs); candidate generation is a hash
    * equi-join on cell id — never an all-pairs product. Same output
    * shape as [[pqTopK]]. */
  /** Embedding-space outlier flagging — prototypicality pruning (the
    * SemDeDup-family "drop the least representative members of each
    * semantic cluster" curation op, and the relational skeleton of
    * CLIP-score-style filtering): assign every vector to its coarse
    * cell, rank members by L2 distance from their centroid (farthest
    * first, ties to the smaller id), and flag the top `fraction` of
    * each cell as outliers. Rank-based rather than z-score-based ON
    * PURPOSE: a per-cell mean/stddev of float distances is a
    * variadic double SUM (parallel-order-dependent — not
    * oracle-exact), while every rank comparison here is between
    * per-row deterministic values, so the flagged set is bit-stable
    * across engines and cluster layouts.
    *
    * Scale shape (100 TB): centroids broadcast; distance is one
    * map-side fused-kernel pass; the only wide operation is the
    * per-CELL window — bounded by cell population (quantizer-sized,
    * auditable via `p_ivf_cell_sizes`), never a corpus-wide window.
    *
    * Output: (id, cell, dist, n_cell, outlier). */
  def embeddingOutliers(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction=$fraction must be in [0,1]")
    val cents = broadcast(centroids.select(
      col(centIdCol).as("cell"), col(centVecCol).as("__cvec")))
    val assigned = assignCells(corpus, idCol, vecCol, centroids, centIdCol, centVecCol)
      .select(col("id"), col("cell"))
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("__v")), "id")
      .join(cents, "cell")
      .withColumn("dist", sqrt(l2sq(col("__v"), col("__cvec"))))
    val w = Window.partitionBy("cell").orderBy(col("dist").desc, col("id"))
    assigned
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("outlier",
        col("__rn") <= ceil(col("n_cell") * fraction).cast("long"))
      .select("id", "cell", "dist", "n_cell", "outlier")
  }

  def ivfPqTopK(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      codebook: DataFrame, m: Int, k: Int, nProbe: Int): DataFrame = {
    require(m > 0 && k > 0 && nProbe > 0,
      s"m=$m, k=$k, nProbe=$nProbe must be positive")
    val cb = broadcast(codebook.select(
      col("subspace"), col("code"), col("subvec")))
    val enc = pqCodes(corpus, idCol, vecCol, cb, m)
      .join(assignCells(corpus, idCol, vecCol, centroids, centIdCol, centVecCol)
        .select(col("id").as("neighbor_id"), col("cell").as("__cell")),
        "neighbor_id")
    val cents = broadcast(centroids.select(
      col(centIdCol).as("__cent"), col(centVecCol).as("__cvec")))
    val wp = Window.partitionBy("query_id").orderBy(col("__ccos").desc, col("__cent"))
    val probes = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__v"))
      .crossJoin(cents)
      .withColumn("__ccos", cosine(col("__v"), col("__cvec")))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("__cent").as("__cell"))
    val lut = pqLut(queries, queryIdCol, vecCol, cb, m)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id"))
    broadcast(probes.join(lut, "query_id"))
      .join(enc, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", adcApprox(m))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "approx_d2")
  }

  /** [[ivfPqTopK]] + EXACT re-rank — the refine stage every serving
    * IVF-PQ index pairs with ADC (FAISS's IndexRefineFlat): take the
    * index's top-`refine` candidates per query by approximate
    * distance, re-score exactly on the ORIGINAL vectors, keep the
    * exact top-`k`.
    *
    * Why it exists (measured, 50× ScaleStress trained-quantizer
    * audit): a corpus with tight near-duplicate families quantizes
    * whole families onto the SAME PQ codes, so their ADC distances
    * tie and rank collapses to the id tie-break — with a ~50-member
    * family the un-refined recall@10 is ≈ 10/50 = 0.2 no matter how
    * good the codebook is. Resolution inside the candidate set is the
    * refine stage's job, not the quantizer's.
    *
    * Scale shape (100 TB): the extra cost over [[ivfPqTopK]] is
    * output-bounded — `refine` candidate rows per query, one id-keyed
    * attach of each side's original vector, one fused-kernel L2 per
    * candidate, one per-query window over ≤ `refine` rows. The
    * corpus-vector attach mirrors the exact-PPJoin verify pattern:
    * SHUFFLE_HASH on the corpus side (one row per doc — never sort
    * the candidate stream) — see `Dedup.ngramJaccardPairs`'s memory
    * contract for the hint's safety argument. Output:
    * (query_id, rank, neighbor_id, dist) — [[bruteForceTopKL2]]'s
    * shape, because on candidates it IS that exact computation. */
  def ivfPqTopKRefined(
      queries: DataFrame, queryIdCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      codebook: DataFrame, m: Int, k: Int, nProbe: Int,
      refine: Int): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    val cand = ivfPqTopK(
      queries, queryIdCol, corpus, idCol, vecCol,
      centroids, centIdCol, centVecCol, codebook, m, k = refine, nProbe)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id"))
    cand
      .join(q, "query_id")
      .join(c.hint("shuffle_hash"), "neighbor_id")
      .withColumn("dist", l2(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** Cluster-balanced subsampling — the semantic-diversity selection
    * step of an SSL/SemDeDup-style curation pipeline (Sorscher et al.
    * 2022; Abbas et al. 2023 operate per semantic cluster exactly like
    * this): assign every embedding to its nearest centroid cell
    * ([[assignCells]] — the same argmax-cosine assignment the IVF
    * index and [[embeddingOutliers]] use, so "cell" means the same
    * thing across the whole embedding surface), then keep an EXACT-k
    * uniform sample per cell ([[Sampling.uniformPerKey]] — md5-rank
    * deterministic, seedable via `salt`). Dominant topics are capped
    * at `perCellK` while tail topics keep everything — the embedding-
    * space complement of [[Sampling.stratifiedSampled]]'s
    * metadata-column strata.
    *
    * Scale shape (100 TB): ONE broadcast-centroid argmax pass over the
    * corpus (map-side), then a narrow (cell, id) rank — the window
    * shuffle carries two columns, never the vectors, and Spark's
    * WindowGroupLimit caps the sorted volume at perCellK per cell
    * BEFORE the shuffle. The rank is inlined rather than delegated to
    * [[Sampling.uniformPerKey]] on purpose: that helper's
    * rank-then-semi-join-back shape exists to keep WIDE payloads off
    * the rank shuffle, but this input is already the narrow
    * assignment — delegation was measured (PlanDump) to recompute the
    * corpus×centroid argmax pass twice, once per join side. Ordering
    * is IDENTICAL to uniformPerKey's (md5(salt:id) with the
    * string-cast id tiebreak), so the draw matches what the delegated
    * form would select. A flooded cell is the dominant-key case of
    * [[Sampling.perKeyCap]]'s skew note.
    * Output: (id, cell) for the selected members. */
  def cellBalancedSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      perCellK: Int, salt: String = "cbs"): DataFrame = {
    require(perCellK > 0, s"perCellK=$perCellK must be positive")
    val w = Window.partitionBy(col("cell")).orderBy(
      md5(concat_ws(":", lit(salt), col("id").cast("string"))),
      col("id").cast("string"))
    assignCells(corpus, idCol, vecCol, centroids, centIdCol, centVecCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCellK)
      .select("id", "cell")
  }
}
