package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.{Q, sortedSmall}
import graft.util.Exact.dec

/** Fourth relational wave — grouping/reshaping operators the first
  * three waves didn't cover: explicit GROUPING SETS with a grouping
  * id, pivot (long→wide conditional aggregation), unpivot
  * (wide→long), and the ranking-window family (ntile / percent_rank /
  * cume_dist / nth_value).
  *
  * Scale notes per shape:
  *  - grouping sets: ONE pass — Spark expands the sets via Expand
  *    (each input row replicated once per set) feeding a single
  *    hash aggregate; never one scan per set.
  *  - pivot: a pivot with a KNOWN value list is a single conditional
  *    aggregation (no second pass to discover values, no shuffle per
  *    column) — always pass the value list explicitly at scale.
  *  - unpivot: Expand again — one scan, k output rows per input row,
  *    no join, no shuffle beyond the terminal presentation sort.
  *  - ranking windows: one hash-partitioned sort per window spec;
  *    all four functions share a single spec here so the plan carries
  *    exactly one Exchange + one Sort.
  *
  * All queries follow the [[Queries]] oracle-exactness rules
  * (decimal sums, identical aliasing, deterministic total order,
  * ties broken by a unique key).
  */
object Queries3 {

  // ------------------------------------------------- grouping sets
  // Explicit GROUPING SETS ((flag, status), (flag), ()) — the rollup
  // of q_rollup_order_totals is a special case; this exercises the
  // general form plus the grouping_id disambiguator (COALESCE alone
  // cannot distinguish a real NULL group from an aggregated level).
  // Spark's grouping_id() and DuckDB's GROUPING() both follow the
  // Postgres bit convention: bit i (from the left of the grouping
  // column list) set ⇔ that column is aggregated-out in this row.
  private val qGroupingSets = Q(
    "q_grouping_sets_revenue",
    Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             COALESCE(l_linestatus, 'ALL') AS status,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, flag, status"""),
    (s, dir) =>
      Tables(s, dir).lineitem
        .groupingSets(
          Seq(
            Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")),
            Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("gid"), col("n_items"), col("sum_qty"))
        .transform(sortedSmall(_, "gid", "flag", "status")))

  // ---------------------------------------------------------- pivot
  // Priority × status revenue matrix. The value list ('O','F','P') is
  // declared, so Spark plans ONE conditional aggregation — the same
  // plan the hand-written CASE oracle describes. (An undeclared pivot
  // adds a distinct-values job over the full fact table first: never
  // at 100 TB.)
  private val qPivot = Q(
    "q_pivot_status_revenue",
    Some("""
      SELECT o_orderpriority,
             COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS open_total,
             COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS filled_total,
             COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS partial_total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    (s, dir) =>
      Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(dec(col("o_totalprice"))).cast("double"))
        .select(
          col("o_orderpriority"),
          coalesce(col("O"), lit(0.0)).as("open_total"),
          coalesce(col("F"), lit(0.0)).as("filled_total"),
          coalesce(col("P"), lit(0.0)).as("partial_total"))
        .transform(sortedSmall(_, "o_orderpriority")))

  // -------------------------------------------------------- unpivot
  // Wide→long over part measures. Spark's native unpivot plans an
  // Expand (one scan, two rows out per row in); the oracle writes the
  // same relation as UNION ALL. Both sides cast to double up front —
  // the unpivoted value column must be one type.
  private val qUnpivot = Q(
    "q_unpivot_part_measures",
    Some("""
      SELECT p_partkey, 'p_retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS value
      FROM part WHERE p_partkey <= 120
      UNION ALL
      SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
      FROM part WHERE p_partkey <= 120
      ORDER BY p_partkey, measure"""),
    (s, dir) =>
      Tables(s, dir).part
        .filter(col("p_partkey") <= 120)
        .select(
          col("p_partkey"),
          col("p_retailprice").cast("double").as("p_retailprice"),
          col("p_size").cast("double").as("p_size"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size")),
          "measure", "value")
        .transform(sortedSmall(_, "p_partkey", "measure")))

  // ----------------------------------------------- ranking windows
  // ntile / percent_rank / cume_dist / nth_value over ONE shared
  // window spec (per-segment, acctbal desc, custkey tiebreak for a
  // total order — percent_rank and cume_dist are only deterministic
  // under a total order). One Exchange + one Sort serves all four.
  private val qWindowRanks = Q(
    "q_window_rank_suite",
    Some("""
      SELECT c_custkey, c_mktsegment,
             CAST(ntile(4) OVER w AS BIGINT) AS wealth_quartile,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             nth_value(c_name, 2) OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS runner_up
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey"""),
    (s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir).customer
        .select(
          col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("wealth_quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_name"), 2).over(wAll).as("runner_up"))
        .transform(sortedSmall(_, "c_custkey"))
    })

  val relational3: Seq[Q] =
    Seq(qGroupingSets, qPivot, qUnpivot, qWindowRanks)
}
