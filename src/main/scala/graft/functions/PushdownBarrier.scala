package graft.functions

import org.apache.spark.sql.{DataFrame, graftBridge}
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Always-true predicate that Catalyst must treat as NONDETERMINISTIC
  * — a predicate-pushdown barrier.
  *
  * Why it exists (measured, r12 StageProbe at 50× ScaleStress): the
  * shingle frontier materializes `sh = sort(hash(shingles(text)))`
  * behind a repartition exchange so (a) the CPU-heavy, interpreted
  * higher-order shingle expressions run ONCE, spread over the
  * cluster, and (b) every consumer branch (postings, prefix index,
  * both verify joins) reuses the single materialized exchange.
  * Catalyst defeats both:
  *
  *  1. `InferFiltersFromGenerate` adds `size(sh) > 0 AND isnotnull
  *     (sh)` above each `explode(sh)`;
  *  2. `PushDownPredicates` pushes that filter through the frontier's
  *     Projects — SUBSTITUTING the entire interpreted shingle tree
  *     into the predicate — and through both repartition exchanges,
  *     landing it at the parquet scan;
  *  3. the scan stage then evaluates tokenize+shingle+hash+sort TWICE
  *     per row (filter + project), interpreted, with the SCAN's
  *     parallelism (one task on a single-file table — the measured
  *     321 s straggler task at 50×, vs the 5 s the same work costs
  *     once behind the exchange);
  *  4. branches whose inferred filters differ now have DIFFERENT
  *     canonical plans below the exchange, so ReuseExchange/AQE stage
  *     reuse silently turns off and the whole frontier re-executes
  *     per branch (4× at 50×: the end-to-end 436 s vs ~40 s sum of
  *     barriered stages).
  *
  * A filter whose condition is nondeterministic cannot be pushed, and
  * no later deterministic filter may be reordered BELOW it (Catalyst
  * preserves the row set a nondeterministic predicate observes), so
  * `df.filter(PushdownBarrier())` pins every downstream filter above
  * the frontier: the inferred generate-filters evaluate against the
  * exchange's materialized `sh` ATTRIBUTE (a free `size(attr) > 0`)
  * instead of a re-derived expression tree, and every branch shares
  * one canonical exchange again. The expression itself is
  * `literal true` in codegen — zero runtime cost, invisible to
  * results, and NOT foldable, so constant-folding/PruneFilters cannot
  * remove the Filter node that carries it. */
case class PushdownBarrier() extends LeafExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  // the entire mechanism: non-foldable + nondeterministic ⇒ the
  // enclosing Filter is unmovable and unremovable, but costs nothing
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = code"""boolean ${ev.isNull} = false; boolean ${ev.value} = true;""")
  override def prettyName: String = "graft_pushdown_barrier"
}

object PushdownBarrier {
  /** Pin `df`'s plan: no downstream predicate may push below this
    * point. Use directly above a shared, expensive-to-recompute
    * frontier exchange. */
  def apply(df: DataFrame): DataFrame =
    df.filter(graftBridge.column(new PushdownBarrier()))
}
