package graft.operators

import org.apache.spark.sql.{Column, DataFrame, graftBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64, Literal => CatLit}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Explicit Bloom-filter join pruning — the classic 100 TB
  * shuffle-reduction: when a big fact table joins a selective small
  * side, most fact rows can NEVER match, yet a plain shuffle join
  * ships every one of them through the exchange before the join
  * discards them. Building a Bloom filter over the small side's keys
  * and filtering the fact side MAP-SIDE (below its exchange) removes
  * the doomed rows before they cost network — false positives only
  * cost shuffle bytes, and false negatives do not exist, so the join
  * result is EXACTLY the plain join's (oracle-gated on that
  * equality).
  *
  * Built on Spark's own native expressions — `BloomFilterAggregate`
  * (a `TypedImperativeAggregate` with map-side partial sketches
  * merged once) to build, `BloomFilterMightContain` (codegen'd, the
  * same expression Spark's adaptive runtime row-level filtering
  * injects) to probe — so the hot path stays inside whole-stage
  * codegen with no UDF. The built filter is numBits/8 bytes on the
  * driver and re-enters the plan as a binary literal, exactly like a
  * broadcast but visible to constant folding.
  *
  * Why an explicit operator when Spark can inject runtime bloom
  * filters itself: the AQE injection is heuristic (creation-side
  * thresholds, one filter per exchange, off for reused exchanges) and
  * invisible to the pipeline author; a curation pipeline that knows
  * "this contaminated-id set / this selected-source dim is tiny and
  * selective" states it once and gets the pruning deterministically,
  * on every run, at every scale.
  *
  * The build is an EAGER action at operator-construction time (like
  * the IVF trainer): one distributed pass over the small side. Both
  * sides hash with the same `xxhash64` the aggregate expects.
  */
object BloomPrune {

  /** Serialized Bloom filter of `small`'s `key` values (null keys
    * contribute nothing — they cannot equi-join anyway). Returns
    * null when `small` is empty. One distributed aggregation;
    * `numBits` is the accuracy/size dial (bits/item ≈ 10 → ~1% false
    * positives). */
  def buildFilter(
      small: DataFrame, key: String,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems=$expectedItems must be positive")
    require(numBits > 0, s"numBits=$numBits must be positive")
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(graftBridge.expression(small(key)))),
      CatLit(expectedItems), CatLit(numBits)).toAggregateExpression()
    small.select(graftBridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe of `key` against a built filter. */
  def mightContain(filter: Array[Byte], key: Column): Column =
    graftBridge.column(BloomFilterMightContain(
      CatLit.create(filter, BinaryType),
      new XxHash64(Seq(graftBridge.expression(key)))))

  /** `large ⋈ small` on `key`, with `large` Bloom-pruned below its
    * exchange. Result rows are EXACTLY the plain inner join's. Pass
    * `joinType = "left_semi"` for the pure filter form ("keep fact
    * rows whose key is in the selected set") — the shape of
    * contamination-id and selected-source pruning in a curation
    * pipeline. */
  def prunedJoin(
      large: DataFrame, small: DataFrame, key: String,
      expectedItems: Long, numBits: Long,
      joinType: String = "inner"): DataFrame = {
    val bytes = buildFilter(small, key, expectedItems, numBits)
    val pruned =
      if (bytes == null) large.filter(lit(false)) // empty build side
      else large.filter(mightContain(bytes, large(key)))
    pruned.join(small, Seq(key), joinType)
  }
}
