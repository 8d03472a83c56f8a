package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end curation DECISION surface: one call composes the
  * gates a training-data pipeline actually runs — heuristic quality
  * ([[TextAnalysis.qualityFilter]]), exact dedup
  * ([[Dedup.exactGroups]] first-copy-wins), and near-dup dedup
  * ([[Dedup.nearDupPairsShingled]] → [[Graph.connectedComponents]]
  * min-id survivor) — into a per-document decision WITH reasons.
  * Curation runs live or die by auditability: "this document was
  * dropped because near_dup_loser" is the row an ablation, an appeal,
  * or a regression bisect needs, and deriving it after the fact from
  * the kept-set diff loses the reason.
  *
  * Output: (id, n_tokens, quality_keep BOOLEAN, drop_reason STRING
  * or NULL, exact_dup_loser BOOLEAN, near_dup_loser BOOLEAN,
  * kept BOOLEAN) — kept ⇔ quality_keep ∧ ¬exact_dup_loser ∧
  * ¬near_dup_loser. Gates are evaluated INDEPENDENTLY (a
  * quality-failing doc still reports its dup flags): production
  * pipelines tune gate order by cost, but the report must show every
  * gate's verdict or ablations on gate order are blind.
  *
  * Scale shape (100 TB): quality is map-side; exact dedup is one
  * fingerprint-keyed aggregation joined back on the fingerprint
  * (never the text); near-dup is the capped banded-LSH pipeline + CC
  * over pairs only, with the loser set joined back by id. The corpus
  * text is read once per gate frontier and never rides a shuffle;
  * every join back to the report is id- or fingerprint-keyed.
  */
object Curation {

  def report(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 1024): DataFrame = {
    // Text share point ([[Dedup.spreadText]]): FOUR gate frontiers
    // consume the raw text (quality map-side, the fingerprint
    // projection, exactGroups' partial agg, the shingle frontier) —
    // one barriered exchange materializes it once and every frontier
    // runs wide above the ReusedExchange instead of re-deriving the
    // scan lineage serially per branch (StageProbe r16).
    val spread = Dedup.spreadText(docs, idCol, textCol)
    val quality = TextAnalysis.qualityFilter(spread, idCol, textCol)
      .select(col(idCol), col("n_tokens"),
        col("keep").as("quality_keep"), col("drop_reason"))
    // exact: a doc loses iff its fingerprint group keeps another id
    val exactLosers = spread
      .select(col(idCol), Dedup.fingerprint(col(textCol)).as("__fp"))
      .join(Dedup.exactGroups(spread, idCol, textCol)
        .select(col("fingerprint").as("__fp"), col("keep_id")), "__fp")
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol))
    val nearLosers = Graph.nonRepresentatives(
      Dedup.nearDupPairsShingled(spread, idCol, textCol,
        n, k, rowsPerBand, threshold, maxBucket), idCol)
    quality
      .join(exactLosers.withColumn("__ex", lit(true)), Seq(idCol), "left")
      .join(nearLosers.withColumn("__nd", lit(true)), Seq(idCol), "left")
      .select(
        col(idCol), col("n_tokens"), col("quality_keep"), col("drop_reason"),
        coalesce(col("__ex"), lit(false)).as("exact_dup_loser"),
        coalesce(col("__nd"), lit(false)).as("near_dup_loser"),
        (col("quality_keep") && coalesce(col("__ex"), lit(false)) === false &&
          coalesce(col("__nd"), lit(false)) === false).as("kept"))
  }

  /** [[report]] extended with the round-12 gate families — the FULL
    * curation decision log a modern pretraining pipeline runs:
    *
    *  - **importance gate** ([[Importance]]): exact DSIR affinity of
    *    each document against a target slice; keep iff
    *    affinity ≥ `minAffinity` AND the document has at least one
    *    scored gram (`sum_raw > 0` — a gram-free document scores the
    *    smoothed prior 1.0, which must not auto-pass the gate; this
    *    is the caller obligation [[Importance.scoreAffinity]]'s
    *    scaladoc states, honored here);
    *  - **prototypicality gate** ([[Similarity.embeddingOutliers]]):
    *    drop documents whose embedding sits in the farthest
    *    `outlierFraction` of its semantic cell (ids join across the
    *    document and embedding tables; documents without an
    *    embedding pass the gate — flag what you can prove).
    *
    * Same contract as [[report]]: every gate evaluated INDEPENDENTLY
    * with its verdict in the output, kept = conjunction of all five.
    * Scale shape adds one broadcast-counts aggregation pass and one
    * broadcast-centroid window to [[report]]'s plan; all new joins
    * back to the report are id-keyed. */
  def reportV2(
      docs: DataFrame, idCol: String, textCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      isTarget: org.apache.spark.sql.Column,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      dsirDim: Int, dsirSalt: String, minAffinity: Double,
      outlierFraction: Double,
      maxBucket: Int = 1024): DataFrame = {
    val base = report(docs, idCol, textCol, n, k, rowsPerBand, threshold, maxBucket)
    // The two DSIR passes (train counts, then score) share ONE
    // superset text frontier ([[Importance.affinityFrontier]], r22):
    // the r21 attempt failed because the consumers' divergent column
    // pruning (counts reads (bucket, __t), scoring (id, bucket))
    // de-canonicalized per-branch copies of the exchange; projecting
    // the superset (id, text, __t) BEFORE the pinned exchange and
    // barriering it restores one materialized shuffle for both
    // passes (VERDICT r21 #6) — the text rides one exchange instead
    // of two. The tokenize/explode projections above the frontier
    // still run once per pass, map-side, feeding a dim-bounded
    // aggregation and a broadcast join.
    val frontier = Importance.affinityFrontier(docs, idCol, textCol, isTarget)
    val counts = Importance.targetAffinityCountsOver(
      frontier, idCol, textCol, n = 2, dim = dsirDim, salt = dsirSalt)
    val aff = Importance.scoreAffinityOver(
      docs, frontier, idCol, textCol, counts, n = 2, dim = dsirDim, salt = dsirSalt)
      .select(col(idCol), col("affinity"), col("sum_raw"))
    val outliers = Similarity.embeddingOutliers(
      emb, vecIdCol, vecCol, centroids, centIdCol, centVecCol, outlierFraction)
      .select(col("id").as(idCol), col("outlier").as("embedding_outlier"))
    base
      .join(aff, Seq(idCol))
      .join(outliers, Seq(idCol), "left")
      .withColumn("embedding_outlier",
        coalesce(col("embedding_outlier"), lit(false)))
      .withColumn("affinity_keep",
        col("affinity") >= minAffinity && col("sum_raw") > 0)
      .withColumn("kept",
        col("kept") && col("affinity_keep") && !col("embedding_outlier"))
      .drop("sum_raw")
  }

  /** [[reportV2]] extended with the LANGUAGE-MODEL gate — the full
    * CCNet-shaped lineup (heuristic quality + LM quality + dedup +
    * importance + prototypicality) as ONE decision log. The LM gate
    * trains [[LanguageModel.ngramCounts]] artifacts (n=1,2) on the
    * `lmRef` slice of the corpus (the trusted-reference predicate —
    * same role `isTarget` plays for DSIR) and scores EVERY document
    * with [[LanguageModel.perplexity]]; the gate keeps a document iff
    * its bigram hit fraction reaches `minHitFrac` OR it has no
    * scorable bigram position (flag only what you can prove). hit_frac
    * is the engine-exact LM surface (one IEEE division), so the WHOLE
    * decision log stays oracle-gated; the `ln`-bearing ppl ranking
    * remains spec-gated in LanguageModelSpec. Reference-slice
    * documents naturally score ~1 (their bigrams trained the model)
    * — the gate targets the NON-reference tail, like production
    * CCNet buckets.
    *
    * Scale shape: adds two vocabulary-sized model aggregations and
    * three gram-keyed shuffle-hash joins ([[LanguageModel.perplexity]]'s
    * own audited shape) + one id-keyed join back to the report. */
  def reportV3(
      docs: DataFrame, idCol: String, textCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      isTarget: org.apache.spark.sql.Column,
      lmRef: org.apache.spark.sql.Column,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      dsirDim: Int, dsirSalt: String, minAffinity: Double,
      outlierFraction: Double, minHitFrac: Double,
      maxBucket: Int = 1024): DataFrame = {
    val v2 = reportV2(docs, idCol, textCol, emb, vecIdCol, vecCol,
      centroids, centIdCol, centVecCol, isTarget,
      n, k, rowsPerBand, threshold, dsirDim, dsirSalt, minAffinity,
      outlierFraction, maxBucket)
    val ref = docs.filter(lmRef)
    val lm = LanguageModel.perplexity(docs, idCol, textCol,
      LanguageModel.ngramCounts(ref, textCol, 1),
      LanguageModel.ngramCounts(ref, textCol, 2))
      .select(col(idCol), col("n_scored"), col("hit_frac"))
    v2.join(lm, Seq(idCol))
      .withColumn("lm_hit_frac", col("hit_frac"))
      .withColumn("lm_keep",
        col("n_scored") === 0 || col("hit_frac") >= minHitFrac)
      .withColumn("kept", col("kept") && col("lm_keep"))
      .drop("n_scored", "hit_frac")
  }

  /** INCREMENTAL curation — re-curate a GROWN corpus paying only for
    * its delta. At 100 TB a recurring pipeline cannot re-run every
    * gate over the whole corpus when a crawl increment changed 1% of
    * it; this call reuses the previous run's verdicts for every
    * document whose content is unchanged and runs the three [[report]]
    * gates only on the delta (added or changed documents), judging
    * the delta against the frozen history through two persisted
    * artifacts that never require re-reading old text:
    *
    *  - `oldReport`: the previous run's [[report]] rows PLUS a
    *    `fingerprint` column ([[Dedup.fingerprint]] of the old text —
    *    persist `report(old).join(old.select(id, fingerprint))`);
    *  - `oldIndex`: the old corpus's [[Dedup.minhashIndex]].
    *
    * THE INCREMENTAL CONTRACT (documented, not hidden): history is
    * FROZEN. Unchanged documents keep their old verdicts verbatim —
    * even if a full re-run would now flip one (e.g. their duplicate
    * partner left the corpus). Delta documents are judged against
    * history-union-delta: exact dup iff their fingerprint exists in
    * the old corpus under a different id OR loses first-copy-wins
    * within the delta; near dup iff the signature-agreement estimate
    * vs the index reaches `minAgree` (same estimator, same flood cap
    * as [[Dedup.dedupAgainstIndex]] — history always wins) OR they
    * lose the exact-jaccard CC pipeline WITHIN the delta. A changed
    * document never matches its own old signature or fingerprint
    * (same-id matches are excluded), so drift alone is not a drop.
    * Run-to-run convergence to the full-recompute answer is restored
    * whenever a full [[report]] re-baseline runs; this call is the
    * cheap path between baselines.
    *
    * Output: [[report]]'s columns plus `reused BOOLEAN` (true = the
    * verdict row was inherited from `oldReport`), one row per
    * document of `newDocs`.
    *
    * Scale shape (100 TB): the reuse decision is one (id, fingerprint)
    * equi-join of two NARROW projections (the text never rides it);
    * the payload meets the decision once, in ONE id-keyed anti join
    * that extracts the delta; every gate then runs on the delta only
    * — quality map-side, exact as two fingerprint-keyed joins
    * (delta×delta and delta×history fingerprints), near-dup as the
    * capped banded pipelines on delta-sized inputs. History cost is
    * index-sized (signatures, no text), so the whole call scales
    * with |delta| + |index|, not |corpus|. */
  def incrementalReport(
      newDocs: DataFrame, idCol: String, textCol: String,
      oldReport: DataFrame, oldIndex: DataFrame,
      n: Int, k: Int, rowsPerBand: Int, threshold: Double,
      minAgree: Double, maxBucket: Int = 1024): DataFrame = {
    // Text share point ([[Dedup.spreadText]], StageProbe-diagnosed
    // r16 in two steps): without any exchange the md5(normalize(text))
    // projection fuses into the file scan and runs at input-FILE
    // parallelism — TWO single-task 28 s stages at 100×, one per
    // reusedIds consumer. A spread under newFp ALONE still
    // materialized twice (22.4 s + 24.7 s single-task stages: the
    // semi- and anti-join branches push different inferred filters
    // into their copies, so ReuseExchange saw two distinct subtrees)
    // AND left delta's six gate frontiers re-deriving the scan. ONE
    // barriered spread shared by newFp and delta pays the serial
    // input lineage exactly once.
    val spread = Dedup.spreadText(newDocs, idCol, textCol)
    val newFp = spread
      .select(col(idCol), Dedup.fingerprint(col(textCol)).as("__fp"))
    val histKeys = oldReport.select(
      col(idCol), col("fingerprint").as("__fp"))
    // same id + same fingerprint ⇒ content unchanged ⇒ reuse
    val reusedIds = newFp.join(histKeys, Seq(idCol, "__fp"), "left_semi")
      .select(idCol)
    val reusedRows = oldReport
      .join(reusedIds, Seq(idCol), "left_semi")
      .select(col(idCol), col("n_tokens"), col("quality_keep"),
        col("drop_reason"), col("exact_dup_loser"), col("near_dup_loser"),
        col("kept"), lit(true).as("reused"))
    // Six gate subtrees consume the delta. An eager localCheckpoint
    // here (the [[Graph]]/[[Dedup]] pattern) was A/B-REJECTED, same
    // session, r16: 50× 37.1→40.3 s, 100× 61.7→73.7 s — exchange
    // reuse already shares the anti-join subtree across consumers,
    // so the block materialization is pure added cost. Leave the
    // plan declarative.
    val delta = spread.join(reusedIds, Seq(idCol), "left_anti")

    val quality = TextAnalysis.qualityFilter(delta, idCol, textCol)
      .select(col(idCol), col("n_tokens"),
        col("keep").as("quality_keep"), col("drop_reason"))
    val deltaFp = delta.select(
      col(idCol), Dedup.fingerprint(col(textCol)).as("__fp"))
    // exact vs history: fingerprint seen in the old corpus under a
    // DIFFERENT id (a changed doc's own old fingerprint differs by
    // construction, but the guard keeps the contract explicit)
    val exHist = deltaFp
      .join(oldReport.select(col(idCol).as("__oid"),
        col("fingerprint").as("__fp")), Seq("__fp"))
      .filter(col(idCol) =!= col("__oid"))
      .select(idCol)
    // exact within the delta: first-copy-wins, as in [[report]]
    val exDelta = deltaFp
      .join(Dedup.exactGroups(delta, idCol, textCol)
        .select(col("fingerprint").as("__fp"), col("keep_id")), "__fp")
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol))
    val exactLosers = exHist.union(exDelta).distinct()
    val ndDelta = Graph.nonRepresentatives(
      Dedup.nearDupPairsShingled(delta, idCol, textCol,
        n, k, rowsPerBand, threshold, maxBucket), idCol)
    val ndHist = Dedup.indexNearDupIds(delta, idCol, textCol, oldIndex,
      n, k, rowsPerBand, minAgree, maxBucket, excludeSameId = true)
    val nearLosers = ndDelta.union(ndHist).distinct()
    val freshRows = quality
      .join(exactLosers.withColumn("__ex", lit(true)), Seq(idCol), "left")
      .join(nearLosers.withColumn("__nd", lit(true)), Seq(idCol), "left")
      .select(
        col(idCol), col("n_tokens"), col("quality_keep"), col("drop_reason"),
        coalesce(col("__ex"), lit(false)).as("exact_dup_loser"),
        coalesce(col("__nd"), lit(false)).as("near_dup_loser"),
        (col("quality_keep") && coalesce(col("__ex"), lit(false)) === false &&
          coalesce(col("__nd"), lit(false)) === false).as("kept"),
        lit(false).as("reused"))
    reusedRows.unionByName(freshRows)
  }

  /** CROSS-RUN curation lineage — the provenance surface a recurring
    * pipeline needs when run N+1's kept-set differs from run N's:
    * per document, what happened to the CONTENT
    * ([[Snapshot.diff]] status: added/removed/changed/unchanged) and
    * what happened to the DECISION (the two runs' [[report]] rows
    * joined side by side), with the exact gates that flipped. "Doc
    * 4711 was demoted because near_dup_loser flipped after the crawl
    * changed its text" is the row a regression bisect or an appeal
    * needs; deriving it from the kept-set diff after the fact loses
    * both the reason and the content/decision distinction.
    *
    * Output, one row per id in either corpus:
    * (idCol, status, transition, old_kept, new_kept,
    * old_drop_reason, new_drop_reason, flipped_gates) where
    *  - `transition` ∈ 'retired' (id left the corpus),
    *    'entered_kept' / 'entered_dropped' (id is new),
    *    'still_kept', 'still_dropped', 'promoted' (dropped→kept),
    *    'demoted' (kept→dropped);
    *  - `flipped_gates` is the comma-joined `gateCols` whose verdict
    *    differs between the runs (empty unless the id is in both);
    *  - old_* columns are NULL for added ids, new_* for removed.
    *
    * Both report frames must carry `kept`, `drop_reason` and every
    * `gateCols` column keyed by `idCol` — [[report]] and [[reportV2]]
    * both qualify (pass the v2 gate list for the latter).
    *
    * Scale shape (100 TB): the content diff is [[Snapshot.diff]]'s
    * one fingerprint-keyed full-outer join; everything else is two
    * id-keyed left joins of decision rows (booleans + a reason
    * string — the text never rides any lineage shuffle) and pure
    * row-local CASE logic. Write the report tables with
    * `bucketBy(n, id).sortBy(id).saveAsTable` and the recurring
    * lineage run is exchange-free (IncrementalCurationSpec asserts
    * the plan). */
  def lineage(
      oldDocs: DataFrame, newDocs: DataFrame,
      oldReport: DataFrame, newReport: DataFrame,
      idCol: String, textCol: String,
      gateCols: Seq[String] =
        Seq("quality_keep", "exact_dup_loser", "near_dup_loser")): DataFrame = {
    // concat() with zero children fails at ANALYSIS time, so an
    // explicit empty gate list would die with an opaque planner error
    // deep inside flipped_gates — fail at the API boundary instead
    // (a lineage with no gates has no flip semantics to report).
    require(gateCols.nonEmpty,
      "lineage needs at least one gate column (flipped_gates is defined over gateCols)")
    val d = Snapshot.diff(oldDocs, newDocs, idCol, textCol)
      .withColumnRenamed("doc_id", idCol)
      .select(idCol, "status")
    def side(rep: DataFrame, p: String): DataFrame = rep.select(
      col(idCol) +:
        (gateCols.map(g => col(g).as(s"${p}_$g")) ++ Seq(
          col("kept").as(s"${p}_kept"),
          col("drop_reason").as(s"${p}_drop_reason"))): _*)
    val flipped = concat(gateCols.map { g =>
      when(!(col(s"old_$g") <=> col(s"new_$g")), array(lit(g)))
        .otherwise(array().cast("array<string>"))
    }: _*)
    d
      .join(side(oldReport, "old"), Seq(idCol), "left")
      .join(side(newReport, "new"), Seq(idCol), "left")
      .withColumn("transition",
        when(col("status") === "removed", "retired")
          .when(col("status") === "added",
            when(col("new_kept"), "entered_kept").otherwise("entered_dropped"))
          .when(col("old_kept") && col("new_kept"), "still_kept")
          .when(!col("old_kept") && !col("new_kept"), "still_dropped")
          .when(!col("old_kept") && col("new_kept"), "promoted")
          .otherwise("demoted"))
      .withColumn("flipped_gates",
        when(col("status").isin("changed", "unchanged"),
          array_join(flipped, ",")).otherwise(lit("")))
      .select(
        (Seq(col(idCol), col("status"), col("transition"),
          col("old_kept"), col("new_kept"),
          col("old_drop_reason"), col("new_drop_reason"),
          col("flipped_gates"))): _*)
  }
}
