package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted two-phase aggregation for pathologically skewed keys.
  *
  * Spark's hash aggregation already computes map-side partials, which
  * absorbs most skew for algebraic aggregates. What it cannot absorb
  * is a FINAL-stage hot key whose partial rows still concentrate on
  * one reducer — e.g. billions of rows under a handful of keys with a
  * high-cardinality partial state (many distinct map tasks), or an
  * agg whose per-key state is itself large. Salting splits each key
  * into `buckets` synthetic sub-keys for a first shuffle, then
  * combines the per-salt partials in a second, tiny shuffle: the hot
  * key's work spreads over `buckets` tasks by construction rather
  * than by AQE's after-the-fact skew split.
  *
  * Only ALGEBRAIC aggregates (count/sum/min/max — partials combine
  * associatively) are offered; holistic aggregates (distinct counts,
  * medians) need sketches instead. The salt is a deterministic hash
  * of a caller-chosen spread column (a row id), not `rand()` —
  * replays and retries land rows in the same bucket, keeping task
  * retries idempotent.
  */
object Skew {

  /** Supported algebraic aggregate specs: output column → (partial
    * expression over input rows, final combiner over partials). */
  sealed trait Agg { private[Skew] def out: String }
  final case class Count(out: String) extends Agg
  final case class Sum(out: String, in: String) extends Agg
  final case class Min(out: String, in: String) extends Agg
  final case class Max(out: String, in: String) extends Agg

  /** Aggregate `df` by `keyCols` with hot-key spreading: phase 1
    * groups by (keys, salt = hash(spreadCol) mod buckets), phase 2
    * combines the ≤ `buckets` partial rows per key. Results equal the
    * direct `groupBy(keys).agg(...)` BIT-EXACTLY for integral,
    * decimal, and min/max aggregates (asserted in OperatorsSpec);
    * a Sum over float/double columns is only equal up to
    * floating-point regrouping — the salt changes the addition order,
    * exactly as any change of partitioning would. Route double sums
    * through decimal (graft.util.Exact) if bit-stability matters. */
  def saltedAggregate(
      df: DataFrame, keyCols: Seq[String], spreadCol: String,
      buckets: Int, aggs: Seq[Agg]): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(aggs.nonEmpty, "at least one aggregate")
    require(aggs.map(_.out).distinct.size == aggs.size,
      s"duplicate output names: ${aggs.map(_.out).mkString(", ")}")
    require(!keyCols.contains(spreadCol),
      s"spreadCol '$spreadCol' is a grouping key — its hash is constant within a key, so it cannot spread a hot key")
    val salt = pmod(xxhash64(col(spreadCol)), lit(buckets.toLong)).as("__salt")
    val partial = df
      .groupBy((keyCols.map(col) :+ salt): _*)
      .agg(
        aggs.head match {
          case Count(o)  => count(lit(1)).as(o)
          case Sum(o, i) => sum(col(i)).as(o)
          case Min(o, i) => min(col(i)).as(o)
          case Max(o, i) => max(col(i)).as(o)
        },
        aggs.tail.map {
          case Count(o)  => count(lit(1)).as(o)
          case Sum(o, i) => sum(col(i)).as(o)
          case Min(o, i) => min(col(i)).as(o)
          case Max(o, i) => max(col(i)).as(o)
        }: _*)
    val combiners = aggs.map {
      case Count(o)  => sum(col(o)).as(o)   // counts combine by summing
      case Sum(o, _) => sum(col(o)).as(o)
      case Min(o, _) => min(col(o)).as(o)
      case Max(o, _) => max(col(o)).as(o)
    }
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(combiners.head, combiners.tail: _*)
  }
}
