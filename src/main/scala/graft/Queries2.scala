package graft

import org.apache.spark.sql.functions._

import graft.Queries.{Q, sortedSmall, sortedSmallBy}
import graft.util.Exact.dec2

/** Second + third relational waves — the remaining TPC-H query SHAPES
  * the driver's reduced star schema can express (no partsupp, shipmode
  * or commit/receipt dates exist, so q2/q9/q11/q12/q20 have no
  * faithful analogue; their distinguishing plan features — correlated
  * scalar subqueries, multi-way dim joins — are already covered by
  * q15/q17/q18/q22 shapes). q4 and q21 ARE expressible in their
  * defining plan feature — semi/anti joins with NON-EQUI residual
  * conditions — with "late" re-defined against o_orderdate and
  * "sole supplier" via a lineitem self-anti-join (see each query's
  * comment).
  *
  * Shapes added here and what each exercises at scale:
  *  - q6  : single-scan predicate-pushdown aggregate (no join at all —
  *          the scan IS the query; filters reach the parquet reader)
  *  - q7  : two independently pre-filtered fact branches joined on the
  *          order key; dims broadcast BEFORE the fact-fact join so the
  *          shuffle moves only surviving rows
  *  - q8  : market-share ratio — conditional aggregation over one pass
  *          (never two scans), exact-decimal numerator/denominator
  *  - q10 : pre-aggregate-then-join: revenue per customer is reduced
  *          BEFORE the customer dim join, so the join probe side is
  *          one row per customer, not one per lineitem
  *  - q14 : promo share — broadcast dim + conditional agg in one pass
  *  - q15 : argmax via a broadcast single-row max joined back on exact
  *          decimal equality (no window over the full aggregate)
  *  - q16 : distinct-count aggregation grouped by dim attributes
  *  - q19 : disjunctive (OR-of-conjunctions) pushdown — part-side
  *          conjuncts pre-filter the broadcast dim, the residual OR
  *          evaluates post-join
  *
  * All queries follow the [[Queries]] oracle-exactness rules: decimal
  * aggregation, one terminal double cast, identical aliasing and FP
  * parenthesization on both engines, deterministic total order.
  */
object Queries2 {

  /** Exact-decimal revenue term (same as [[Queries.revenue]]). */
  private def rev(price: Column, discount: Column): Column =
    dec2(price) * (lit(1) - dec2(discount))
  private type Column = org.apache.spark.sql.Column

  // ----------------------------------------------------------- q6 shape
  // Pure scan-side aggregate: every predicate is pushable, no join.
  // The plan to demand: ParquetScan with PushedFilters on shipdate /
  // discount / quantity, then one partial+final agg — nothing else.
  private val q6 = Q(
    "q6_forecast_revenue",
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.04 AND 0.06
        AND l_quantity < 24"""),
    (s, dir) =>
      Tables(s, dir).lineitem
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.04, 0.06) &&
          col("l_quantity") < 24)
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
            .cast("double").as("revenue")))

  // ----------------------------------------------------------- q7 shape
  // Bilateral trade volume between two nations by ship year. Each fact
  // side is shrunk FIRST by its broadcast dim (supplier→nation on
  // lineitem, customer→nation on orders) so the l⋈o shuffle carries
  // only rows from the two nations — at 100 TB that's the difference
  // between shuffling 2/25ths of each fact table and all of it.
  private val q7 = Q(
    "q7_volume_shipping",
    Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val nat = t.nation.filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supp = broadcast(
        t.supplier.join(nat, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val cust = broadcast(
        t.customer.join(nat, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation")))
      val l = t.lineitem
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("supp_nation"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      val o = t.orders
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(rev(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
        .transform(sortedSmall(_, "supp_nation", "cust_nation", "l_year"))
    })

  // ----------------------------------------------------------- q8 shape
  // NATION_3's share of STANDARD-part revenue sold into ASIA, by order
  // year. ONE pass with a conditional numerator (never a second scan):
  // both SUMs stay decimal to the end, the share is one double
  // division — identically parenthesized in both engines.
  private val q8 = Q(
    "q8_market_share",
    Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                  THEN CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2))) END) AS DOUBLE) AS nation_revenue,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS total_revenue,
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                  THEN CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2))) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS mkt_share
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
      GROUP BY o_year
      ORDER BY o_year"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val asiaNations = t.nation
        .join(t.region.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("__an"))
      val custAsia = broadcast(
        t.customer.join(asiaNations, col("c_nationkey") === col("__an"))
          .select(col("c_custkey")))
      val stdParts = broadcast(
        t.part.filter(col("p_type") === "STANDARD").select(col("p_partkey")))
      val suppNat = broadcast(
        t.supplier.join(t.nation, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val r = rev(col("l_extendedprice"), col("l_discount"))
      t.lineitem
        .join(stdParts, col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", r)).as("__nat"),
          sum(r).as("__tot"))
        .select(
          col("o_year"),
          col("__nat").cast("double").as("nation_revenue"),
          col("__tot").cast("double").as("total_revenue"),
          (col("__nat").cast("double") / col("__tot").cast("double")).as("mkt_share"))
        .transform(sortedSmall(_, "o_year"))
    })

  // ---------------------------------------------------------- q10 shape
  // Top returned-revenue customers for a quarter. Revenue is reduced
  // to ONE ROW PER CUSTOMER before any dim join — the join probe side
  // shrinks from |lineitem| to |active customers| — then the customer
  // and nation dims attach by broadcast.
  private val q10 = Q(
    "q10_returned_items",
    Some("""
      SELECT c_custkey, c_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val o = t.orders
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val perCust = t.lineitem
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(rev(col("l_extendedprice"), col("l_discount"))).as("__rev"))
      val cust = broadcast(
        t.customer.join(t.nation, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name")))
      perCust.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("__rev").cast("double").as("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    })

  // ---------------------------------------------------------- q14 shape
  // Promo share of a month's revenue: broadcast part-type dim, one
  // conditional aggregate pass. The pct keeps the SQL's `100.0 * (a/b)`
  // parenthesization — `(100.0*a)/b` would round differently.
  private val q14 = Q(
    "q14_promo_revenue",
    Some("""
      SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2))) END) AS DOUBLE) AS promo_revenue,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS total_revenue,
             100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2))) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE)) AS promo_pct
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val r = rev(col("l_extendedprice"), col("l_discount"))
      t.lineitem
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
        .join(broadcast(t.part.select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", r)).as("__promo"),
          sum(r).as("__tot"))
        .select(
          col("__promo").cast("double").as("promo_revenue"),
          col("__tot").cast("double").as("total_revenue"),
          (lit(100.0) * (col("__promo").cast("double") / col("__tot").cast("double")))
            .as("promo_pct"))
    })

  // ---------------------------------------------------------- q15 shape
  // Supplier(s) with the quarter's max revenue. The max is a single
  // broadcast row joined back on EXACT decimal equality — a window
  // max over the aggregate would shuffle it once more for nothing,
  // and a double-compare could tie-break differently across engines.
  private val q15 = Q(
    "q15_top_supplier",
    Some("""
      WITH srev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      FROM supplier JOIN srev ON s_suppkey = l_suppkey
      WHERE total_rev = (SELECT MAX(total_rev) FROM srev)
      ORDER BY s_suppkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val srev = t.lineitem
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(rev(col("l_extendedprice"), col("l_discount"))).as("total_rev"))
      val mx = srev.agg(max(col("total_rev")).as("__mx"))
      srev.join(broadcast(mx), col("total_rev") === col("__mx"))
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
        .transform(sortedSmall(_, "s_suppkey"))
    })

  // ---------------------------------------------------------- q16 shape
  // Distinct suppliers per surviving part class (brand excluded, size
  // whitelist). The part dim pre-filters by broadcast; the distinct
  // count is the only shuffle (partial distinct map-side first).
  private val q16 = Q(
    "q16_supplier_part_cnt",
    Some("""
      SELECT p_brand, p_type, p_size,
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#2' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val parts = broadcast(
        t.part.filter(col("p_brand") =!= "Brand#2" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      t.lineitem.select(col("l_partkey"), col("l_suppkey"))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .transform(df => sortedSmallBy(df,
          col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size")))
    })

  // ---------------------------------------------------------- q19 shape
  // OR-of-conjunctions revenue. The part-side conjuncts (brand/size)
  // pre-filter the broadcast dim to 3 brands; the full disjunction
  // (needing both part and lineitem columns) evaluates post-join as a
  // codegen'd residual — no row survives to the aggregate unmatched.
  private val q19 = Q(
    "q19_disjunctive_revenue",
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val parts = broadcast(
        t.part.filter(
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 5)) ||
            (col("p_brand") === "Brand#13" && col("p_size").between(1, 10)) ||
            (col("p_brand") === "Brand#24" && col("p_size").between(1, 15)))
          .select(col("p_partkey"), col("p_brand"), col("p_size")))
      t.lineitem
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(
          count(lit(1)).as("n_items"),
          sum(rev(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("revenue"))
    })

  // ----------------------------------------------------------- q4 shape
  // Correlated EXISTS with a NON-EQUI residual: orders (one year) that
  // have at least one lineitem shipped more than 60 days after the
  // order date, counted by priority. The reduced schema has no
  // commit/receipt dates, so "late" is defined against o_orderdate —
  // the plan feature q4 exists to exercise survives intact: a LEFT
  // SEMI join on the order key whose date comparison rides the join
  // as a residual condition (never a second shuffle, never a
  // cartesian). The orders side is pre-filtered by the pushable date
  // range BEFORE the join, so the probe carries one year, not the
  // full table.
  private val q4 = Q(
    "q4_late_orders",
    Some("""
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.orders
        .filter(
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .join(
          t.lineitem.select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .transform(sortedSmall(_, "o_orderpriority"))
    })

  // ---------------------------------------------------------- q21 shape
  // ANTI join with a NON-EQUI residual (q21's hallmark): suppliers
  // whose orders are theirs ALONE — lineitems with no other supplier
  // in the same order. The self-anti-join keys on l_orderkey with the
  // supplier inequality as the residual, so the plan is one keyed
  // shuffle of a two-column projection; the supplier dim then
  // broadcasts onto the survivors. Output is the solo-order count per
  // supplier, deterministic top 10.
  private val q21 = Q(
    "q21_sole_supplier",
    Some("""
      WITH solo AS (
        SELECT l1.l_suppkey, l1.l_orderkey
        FROM lineitem l1
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey))
      SELECT s_name, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_solo_orders
      FROM solo JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY s_name
      ORDER BY n_solo_orders DESC, s_name
      LIMIT 10"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val l = t.lineitem.select("l_orderkey", "l_suppkey")
      val solo = l.alias("l1")
        .join(l.alias("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_suppkey") =!= col("l2.l_suppkey"),
          "left_anti")
      solo
        .join(broadcast(t.supplier.select("s_suppkey", "s_name")),
          col("l1.l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(countDistinct(col("l1.l_orderkey")).as("n_solo_orders"))
        .transform(sortedSmallBy(_, col("n_solo_orders").desc, col("s_name")))
        .limit(10)
    })

  val relational2: Seq[Q] = Seq(q6, q7, q8, q10, q14, q15, q16, q19, q4, q21)
}
