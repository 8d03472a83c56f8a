package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-balanced output sharding — the EXPORT step of a curation
  * pipeline: assign every surviving document to one of `nShards`
  * output shards so each shard carries a near-equal token budget,
  * deterministically (re-running the export reproduces the same
  * shard for every document).
  *
  * The textbook exact approach — global sort by size, serpentine
  * deal — needs a TOTAL order over the corpus. In Spark that is a
  * `row_number()` window with no partitionBy, which physically plans
  * `Exchange SinglePartition`: every row of a 100 TB corpus through
  * ONE task. This operator refuses that shape. Documents are first
  * salted-hash-bucketed into `numBuckets` independent groups (the
  * same md5 device every sampling/split oracle uses), then
  * serpentine-dealt WITHIN each bucket by (tokens DESC, id): round
  * r of the deal hands shard positions 0..nShards−1 left-to-right
  * when r is even and right-to-left when r is odd, so the shard that
  * received the largest document of a round receives the smallest of
  * the next — within one bucket any two shards' totals differ by at
  * most that bucket's largest document. The corpus-level shard
  * totals are sums of `numBuckets` INDEPENDENT near-balanced deals,
  * so the residual imbalance stays bounded by ~the largest document
  * per bucket while every stage runs bucket-parallel:
  *
  *  - the window is `partitionBy(bucket)` over NARROW (id, tokens,
  *    bucket) rows — text rides ONE round-robin spread exchange (to
  *    run the tokenize at cluster parallelism instead of scan
  *    parallelism) and never the rank shuffle (the
  *    [[Sampling.perKeyCap]] discipline); Spark executes the rank as
  *    `numBuckets`-way parallel sorts, never a single partition;
  *  - `numBuckets` scales with the corpus (buckets ≫ shards keeps
  *    each deal long enough to balance; buckets ≪ corpus keeps the
  *    per-bucket sort small) — at 100 TB pick thousands of buckets,
  *    exactly like [[Packing.packSequences]]' bucket knob;
  *  - the assignment is a pure expression of (bucket, rank): no
  *    iteration, no driver state, no collect.
  *
  * [[manifest]] is the rollup a shard writer publishes next to the
  * data: per-shard document count and token total (the balance
  * audit), plus the id span for consumers that range-prune.
  */
object Shards {

  /** (idCol, n_tokens LONG, shard INT) for every document. */
  def assignBalanced(
      docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, numBuckets: Int, salt: String = "shard"): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    require(numBuckets >= 1, s"numBuckets=$numBuckets must be >= 1")
    // spread the tokenize/md5 projection off the file scan (the
    // gram-frontier lesson: fused into a few-file scan it runs at
    // scan parallelism — measured in the shard_balanced ScaleStress
    // arm, 500k docs tokenized in ONE ~10 s task), then pin the
    // window's bucket exchange so AQE cannot coalesce the tiny
    // narrow-row shuffle back to a handful of reducers
    val parts = Dedup.pinnedParts(docs)
    val narrow = docs.select(col(idCol), col(textCol))
      .repartition(parts)
      .select(
        col(idCol),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
        Sampling.hashBucket(col(idCol), salt, numBuckets).as("__bucket"))
      .repartition(parts, col("__bucket"))
    val rank = row_number().over(
      Window.partitionBy("__bucket")
        .orderBy(col("n_tokens").desc, col(idCol)))
    narrow
      .withColumn("__r", (rank - 1).cast("long"))
      // integer div/mod keep both engines in exact integer arithmetic
      // (a double `/` would round); serpentine: odd rounds reverse
      .withColumn("__round", expr(s"__r div $nShards"))
      .withColumn("__pos", pmod(col("__r"), lit(nShards)))
      .select(
        col(idCol),
        col("n_tokens"),
        when(pmod(col("__round"), lit(2)) === 0, col("__pos"))
          .otherwise(lit(nShards - 1) - col("__pos"))
          .cast("int").as("shard"))
  }

  /** Per-shard export manifest over [[assignBalanced]] output:
    * (shard, n_docs, total_tokens, min_id, max_id) — the balance
    * audit plus the id span consumers range-prune on. One keyed
    * aggregation; map-side partials reduce each task to ≤ nShards
    * rows before the shuffle. */
  def manifest(assigned: DataFrame, idCol: String): DataFrame =
    assigned
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))
}
