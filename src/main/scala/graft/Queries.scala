package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.util.Exact.{dec, dec2, dsum}

/** The relational query suite wired into the driver contract
  * (SparkEntry.queries / oracleSql). Covers the SURVEY §2.8 operator
  * families — joins (inner / semi / anti / as-of), aggregations,
  * windows, rollup, set ops, top-k, string/regex/date functions, JSON
  * serialization — over the driver's TPC-H-ish tables.
  *
  * Oracle-exactness rules (every query MUST follow them, the driver
  * hash-compares values against DuckDB):
  *  - double SUMs go through decimal ([[graft.util.Exact]]): shuffle
  *    order then cannot change the result;
  *  - never a triple decimal product (Spark and DuckDB disagree on
  *    precision-loss rescaling past 38 digits) — fold double factors
  *    first, cast once;
  *  - output column names are aliased identically here and in the SQL;
  *  - every query ends in a deterministic total ORDER BY (ties broken
  *    by a unique key) so the compare is row-order-proof;
  *  - timestamps are output as formatted strings or epoch longs, never
  *    raw TIMESTAMP (tz-awareness round-trips differently).
  */
object Queries {

  final case class Q(
      name: String,
      oracle: Option[String],
      run: (SparkSession, String) => DataFrame)

  /** Deterministic total order for SMALL outputs of HEAVY subtrees:
    * a global `orderBy` plans a range-partitioned sort whose sampling
    * pass re-executes the whole child once more — for a few hundred
    * output rows that doubles the query. One partition + in-partition
    * sort yields the identical row order with a single execution. */
  def sortedSmall(df: DataFrame, cols: String*): DataFrame =
    sortedSmallBy(df, cols.map(org.apache.spark.sql.functions.col): _*)

  /** [[sortedSmall]] with arbitrary sort expressions (desc, casts). */
  def sortedSmallBy(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Per-run scratch path for queries that round-trip a persisted
    * artifact (index parquet) through disk as part of their contract:
    * unique per Spark application (two concurrent harness runs can no
    * longer read each other's artifact — ADVICE r20), on the fast
    * scratch medium when available ([[graft.util.LocalScratch]] — the
    * parquet commit protocol's create/rename/delete dance sits on the
    * sandbox's slow ext4 metadata path otherwise). */
  def scratchPath(spark: SparkSession, name: String): String = {
    val base = graft.util.LocalScratch.dir()
      .getOrElse(sys.props("java.io.tmpdir"))
    s"$base/$name-${spark.sparkContext.applicationId}"
  }

  /** The TPC-H revenue term, computed entirely in exact decimal:
    * the 2dp operands cast exactly to decimal(9,2), multiplied without
    * rescale. Never cast a computed double product to decimal — DuckDB
    * truncates where Spark rounds (see [[graft.util.Exact]]). */
  private def revenue(price: Column, discount: Column): Column =
    dec2(price) * (lit(1) - dec2(discount))

  // ---------------------------------------------------------------- q1
  private val q1 = Q(
    "q1_pricing_summary",
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2))) * (1 + CAST(l_tax AS DECIMAL(9,2)))) AS DOUBLE) AS sum_charge,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // spread the single-row-group scan before the eight decimal
      // moment aggregates (Tables.spreadScan — measured r21)
      t.spreadScan(
        t.lineitem.filter(col("l_shipdate") <= lit("1999-09-02 00:00:00").cast("timestamp")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
          sum(revenue(col("l_extendedprice"), col("l_discount")) * (lit(1) + dec2(col("l_tax"))))
            .cast("double").as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .transform(sortedSmall(_, "l_returnflag", "l_linestatus"))
    })

  // ---------------------------------------------------------------- q3
  private val q3 = Q(
    "q3_shipping_priority",
    Some("""
      SELECT o_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
      GROUP BY o_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .join(t.orders.filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem.filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
        .select(
          col("o_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    })

  // ---------------------------------------------------------------- q5
  private val q5 = Q(
    "q5_local_supplier_volume",
    Some("""
      SELECT r_name, n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY r_name, n_name
      ORDER BY revenue DESC, n_name"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // Dims are broadcast (small at any SF that keeps them dimension-
      // shaped); the orders⋈lineitem fact join shuffles on orderkey.
      t.customer
        .join(t.orders.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.supplier),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
        // 25 output rows of a 6-table join: a global orderBy would
        // re-execute the whole join for range-partition sampling
        // (the one consistently >2x query in round-3 bench runs).
        .transform(sortedSmallBy(_, col("revenue").desc, col("n_name")))
    })

  // ------------------------------------------------------- window rank
  private val qWindow = Q(
    "q_window_top_orders",
    Some("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        FROM orders)
      WHERE rnk <= 3
      ORDER BY o_custkey, rnk"""),
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir).orders
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rnk"),
          sum(dec(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
        .filter(col("rnk") <= 3)
        .transform(sortedSmall(_, "o_custkey", "rnk"))
    })

  // ------------------------------------------------------------ rollup
  private val qRollup = Q(
    "q_rollup_order_totals",
    Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),
    (s, dir) =>
      Tables(s, dir).orders
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("total"))
        .transform(sortedSmall(_, "status", "priority")))

  // ------------------------------------------------------------ set op
  private val qSetop = Q(
    "q_setop_open_not_filled",
    Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      ORDER BY o_custkey"""),
    (s, dir) => {
      val o = Tables(s, dir).orders
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .transform(sortedSmall(_, "o_custkey"))
    })

  // ------------------------------------------------------- semi + anti
  private val qSemi = Q(
    "q_semi_urgent_customers",
    Some("""
      SELECT c_nationkey, COUNT(*) AS n_customers
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .transform(sortedSmall(_, "c_nationkey"))
    })

  private val qAnti = Q(
    "q_anti_no_urgent_customers",
    Some("""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .transform(sortedSmall(_, "c_custkey"))
    })

  // ------------------------------------------------------------- top-k
  private val qTopk = Q(
    "q_topk_orders",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20"""),
    (s, dir) =>
      Tables(s, dir).orders
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20))

  // ----------------------------------------------------- events: daily
  private val qEventsDaily = Q(
    "q_events_daily",
    Some("""
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type, day
      ORDER BY event_type, day"""),
    (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .transform(sortedSmall(_, "event_type", "day")))

  // ------------------------------------------------- events: JSON prop
  private val qEventsJson = Q(
    "q_events_json_extract",
    Some("""
      SELECT event_type,
             CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
             MAX(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
    (s, dir) => {
      val k = expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) as bigint)")
      Tables(s, dir).events
        .groupBy("event_type")
        .agg(sum(k).as("sum_k"), max(k).as("max_k"))
        .transform(sortedSmall(_, "event_type"))
    })

  // ------------------------------------------------ P2: JSON serialize
  private val qJsonSerialize = Q(
    "q_json_serialize",
    Some("""
      SELECT event_id,
             '{"event_type":"' || event_type || '","user_id":' || user_id || '}' AS payload
      FROM events
      ORDER BY event_id
      LIMIT 100"""),
    (s, dir) =>
      Tables(s, dir).events
        .select(
          col("event_id"),
          to_json(struct(col("event_type"), col("user_id"))).as("payload"))
        .orderBy("event_id")
        .limit(100))

  // ----------------------------------------------------- as-of join
  private val qAsOf = Q(
    "q_asof_latest_order",
    Some("""
      SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
        SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
      WHERE rn = 1
      ORDER BY event_id"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val left = t.events.select(col("event_id"), col("user_id"), col("ts"))
      val right = t.orders.select(
        col("o_custkey").as("user_id"), col("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
      AsOfJoin.leftAsOf(
        left, right,
        key = "user_id", leftTime = "ts", rightTime = "o_orderdate",
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightTieBreak = "o_orderkey")
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        // output is one row per event but the child is the heavy
        // as-of join — avoid the orderBy resampling re-execution
        .transform(sortedSmall(_, "event_id"))
    })

  // ------------------------------------- correlated aggregate (TPC-H q17 shape)
  // "Small-quantity" lineitems: quantity below 20% of the part's
  // average quantity — the classic correlated-scalar-subquery shape,
  // planned as one per-part aggregate joined back to the fact (both
  // sides shuffle on partkey — co-partitioned), dims broadcast. The
  // predicate is DIVISION-FREE: q < 0.2·(sum/cnt) ⟺ 5·q·cnt < sum,
  // keeping every operand exact decimal (divisions round differently
  // across engines — Exact.scala); the decimal revenue sum casts to
  // double only at the surface.
  private val qSmallQty = Q(
    "q_small_qty_revenue",
    Some("""
      WITH pq AS (SELECT l_partkey,
                    SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sq,
                    CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM lineitem GROUP BY l_partkey)
      SELECT p.p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_small,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN pq ON pq.l_partkey = l.l_partkey
      WHERE 5 * CAST(l.l_quantity AS DECIMAL(9,2)) * pq.cnt < pq.sq
      GROUP BY p.p_brand
      ORDER BY p_brand"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val pq = t.lineitem.groupBy("l_partkey").agg(
        sum(col("l_quantity").cast("decimal(9,2)")).as("sq"),
        count(lit(1)).as("cnt"))
      t.lineitem
        .join(pq, "l_partkey")
        .filter(lit(5) * col("l_quantity").cast("decimal(9,2)") * col("cnt") < col("sq"))
        .join(broadcast(t.part.select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_small"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("revenue"))
        .transform(sortedSmall(_, "p_brand"))
    })

  // ----------------------------------------------------- interval join
  // Point-in-interval join via binning (Intervals scaladoc): per
  // urgent order of 1995-03, the lineitems shipped inside the order's
  // 3-day window — an inequality join vanilla Spark would plan as a
  // nested loop, rewritten as a bin equi-join. The oracle states the
  // predicate directly; counts/min/max of timestamps are exact.
  private val qIntervalJoin = Q(
    "q_interval_ship_count",
    Some("""
      SELECT o_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_shipped,
             MIN(l_shipdate) AS first_ship,
             MAX(l_shipdate) AS last_ship
      FROM (SELECT o_orderkey, o_orderdate,
                   o_orderdate + INTERVAL 3 DAY AS window_end
            FROM orders
            WHERE o_orderpriority = '1-URGENT'
              AND o_orderdate >= TIMESTAMP '1995-03-01'
              AND o_orderdate < TIMESTAMP '1995-04-01') o
      JOIN lineitem l
        ON l.l_shipdate >= o.o_orderdate AND l.l_shipdate <= o.window_end
      GROUP BY o_orderkey
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val iv = t.orders
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("window_end"))
      operators.Intervals.pointInIntervalJoin(
          iv, "o_orderdate", "window_end",
          t.lineitem.select(col("l_shipdate")), "l_shipdate")
        .groupBy("o_orderkey")
        .agg(
          count(lit(1)).as("n_shipped"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"))
        .transform(sortedSmall(_, "o_orderkey"))
    })

  // -------------------------------------------------------------- cube
  private val qCube = Q(
    "q_cube_lineitem",
    Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
             COUNT(*) AS n, COUNT(DISTINCT l_partkey) AS n_parts
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY rf, ls"""),
    (s, dir) =>
      Tables(s, dir).lineitem
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), countDistinct(col("l_partkey")).as("n_parts"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("n_parts"))
        .transform(sortedSmall(_, "rf", "ls")))

  // --------------------------------- outer-join distribution (q13 shape)
  // How many customers placed exactly N non-urgent orders — including
  // the zero-order customers an inner join would drop. Orders are
  // pre-aggregated per custkey BEFORE the join (map-side partial agg
  // shrinks the probe side from one row per order to one per
  // customer), then a left join + coalesce(0) restores the empty
  // group. All-integer output → exact oracle.
  private val qCustOrderDist = Q(
    "q_cust_order_dist",
    Some("""
      WITH co AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM co
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val perCust = t.orders
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("__n"))
      t.customer.select("c_custkey")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("__n"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .transform(df => sortedSmallBy(df, col("custdist").desc, col("c_count").desc))
    })

  // --------------------------- scalar subquery + anti join (q22 shape)
  // Market segments of well-funded customers with no urgent order:
  // acctbal above the mean positive acctbal (the scalar subquery) and
  // no '1-URGENT' orders row (NOT IN ≡ left anti — o_custkey is
  // non-null). The mean comparison is cross-multiplied into exact
  // decimal (bal·n > sum) so neither engine ever materializes a
  // rounded average; the single aggregate row is broadcast to the
  // probe.
  private val qRichIdle = Q(
    "q_rich_idle_customers",
    Some("""
      WITH pos AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      FROM customer, pos
      WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
        AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val pos = t.customer.filter(col("c_acctbal") > 0.0d)
        .agg(sum(dec2(col("c_acctbal"))).as("__s"), count(lit(1)).as("__n"))
      t.customer
        .join(
          t.orders.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .crossJoin(broadcast(pos))
        .filter(dec2(col("c_acctbal")) * col("__n") > col("__s"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .transform(sortedSmall(_, "c_mktsegment"))
    })

  // ------------------------------- sessionization (gaps and islands)
  // Per-user activity sessions: a session breaks after 30 idle
  // minutes; session id = running count of breaks. Timestamps are
  // compared as epoch-µs longs on BOTH engines: DuckDB's epoch_us(ts)
  // and our `ts_ns div 1000` are the identical integer truncation
  // under either feed shape (native timestamp[us], or the historical
  // TIMESTAMP(NANOS) feed — see Tables.events); any ties inside one
  // µs break on event_id the same way on both sides. Both windows
  // share one (user_id, tus, event_id) sort — Spark plans a single
  // exchange+sort for the pair.
  private val qEventSessions = Q(
    "q_event_sessions",
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
      g AS (SELECT user_id, tus, event_id,
              CASE WHEN lag(tus) OVER w IS NULL
                     OR tus - lag(tus) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS brk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      s AS (SELECT user_id, tus,
              SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
            FROM g)
      SELECT user_id, CAST(sess AS BIGINT) AS session_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(tus) AS start_us, MAX(tus) AS end_us
      FROM s
      GROUP BY user_id, sess
      ORDER BY user_id, session_id"""),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val lagUs = lag(col("tus"), 1).over(w)
      Tables(s, dir).events
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"), col("event_id"))
        .withColumn("brk",
          when(lagUs.isNull || col("tus") - lagUs > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("tus").as("start_us"),
          max("tus").as("end_us"))
        .transform(sortedSmall(_, "user_id", "session_id"))
    })

  // --------------------------------------------------------- intersect
  private val qIntersect = Q(
    "q_intersect_customers",
    Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
      ORDER BY o_custkey"""),
    (s, dir) => {
      val o = Tables(s, dir).orders
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
        .transform(sortedSmall(_, "o_custkey"))
    })

  // ------------------------------------------------------- full outer
  // Two sparse daily aggregates (extreme-value clicks vs near-zero
  // errors) reconciled with FULL OUTER — days exist on one side only,
  // so both null-extension paths are exercised; the USING-join
  // coalesces the key on both engines.
  private val qFullOuter = Q(
    "q_full_outer_daily",
    Some("""
      WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_clicks
                 FROM events WHERE event_type = 'click' AND value > 24.5 GROUP BY day),
      e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_errors
            FROM events WHERE event_type = 'error' AND value < 0.5 GROUP BY day)
      SELECT day, COALESCE(n_clicks, 0) AS n_clicks, COALESCE(n_errors, 0) AS n_errors
      FROM c FULL OUTER JOIN e USING (day)
      ORDER BY day"""),
    (s, dir) => {
      val ev  = Tables(s, dir).events
      def daily(tpe: String, pred: Column, out: String) = ev
        .filter(col("event_type") === tpe && pred)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as(out))
      daily("click", col("value") > 24.5d, "n_clicks")
        .join(daily("error", col("value") < 0.5d, "n_errors"), Seq("day"), "full_outer")
        .select(
          col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
        .transform(sortedSmall(_, "day"))
    })

  // ------------------------------------------------- exact percentiles
  // Ordered-set aggregate: exact interpolated quartiles. Spark's
  // percentile and DuckDB's quantile_cont share the same definition
  // (index p·(n−1) into the sorted values, linear interpolation);
  // the inputs are low-cardinality 2dp doubles, so the interpolation
  // arithmetic is identical IEEE ops on both engines. Exact
  // percentile needs the group's values collected per partition —
  // fine for GROUP BY keys with bounded groups; at 100 TB switch to
  // approx_percentile (t-digest) and drop the oracle to rows-only.
  private val qQuantiles = Q(
    "q_quantile_quantity",
    Some("""
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q25,
             quantile_cont(l_quantity, 0.5) AS median,
             quantile_cont(l_quantity, 0.75) AS q75,
             COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // Histogram two-pass (operators.Quantiles, r22) replaces the
      // value-buffering percentile aggregate: bit-identical results
      // (QuantilesSpec), bounded per-task memory at any scale. The
      // r21 spreadScan is gone with the buffering aggregate that
      // motivated it — the remaining per-row work is one hash-agg
      // probe on (flag, quantity).
      operators.Quantiles.exactPercentiles(
          t.lineitem, Seq("l_returnflag"), "l_quantity",
          Seq(0.25, 0.5, 0.75), Seq("q25", "median", "q75"))
        .join(
          t.lineitem.groupBy("l_returnflag").agg(count(lit(1)).as("n")),
          Seq("l_returnflag"))
        .select("l_returnflag", "q25", "median", "q75", "n")
        .transform(sortedSmall(_, "l_returnflag"))
    })

  // ------------------------------------------------ q18 shape (HAVING)
  // Large-volume orders: aggregate-filter (HAVING over a keyed sum)
  // then join back to the order header, top-k by volume. The HAVING
  // compares the same decimal-summed-then-double value on both
  // engines; top-k plans as TakeOrderedAndProject.
  private val qBigOrders = Q(
    "q_big_orders",
    Some("""
      WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150.0)
      SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM (
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, big.total_qty,
               row_number() OVER (ORDER BY big.total_qty DESC, o.o_orderkey) AS rn
        FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey)
      WHERE rn <= 20
      ORDER BY total_qty DESC, o_orderkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val big = t.lineitem
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150.0d)
      big.join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "total_qty")
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
        .transform(sortedSmallBy(_, col("total_qty").desc, col("o_orderkey")))
    })

  // -------------------------------------------- distinct aggregation
  // COUNT(DISTINCT) alongside a plain COUNT: exercises Spark's
  // two-phase distinct-aggregate expansion (partial on (key, cust),
  // final merge) — one extra keyed shuffle, no collect.
  private val qDistinctAgg = Q(
    "q_priority_distinct_custs",
    Some("""
      SELECT o_orderpriority,
             COUNT(DISTINCT o_custkey) AS n_custs,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    (s, dir) =>
      Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(
          countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .transform(sortedSmall(_, "o_orderpriority")))

  // ---------------------------------------- sliding frames + offsets
  // Moving 7-row average and lag over the daily series: the window
  // FRAME family (rowsBetween) and offset functions, distinct from
  // the rank/row_number windows elsewhere. ALL addition — the daily
  // totals AND the 7-row frame sum — runs in decimal (exact,
  // order-proof: a double AVG over the frame would expose each
  // engine's summation order), so the only FP ops are one terminal
  // cast and one division per row, identical on both engines.
  private val qMovingAvg = Q(
    "q_moving_avg_daily",
    Some("""
      WITH d AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS tdec
        FROM events GROUP BY event_type, day)
      SELECT event_type, day, CAST(tdec AS DOUBLE) AS total,
             CAST(SUM(tdec) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
             CAST(lag(tdec, 1) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
               AS prev_total
      FROM d
      ORDER BY event_type, day"""),
    (s, dir) => {
      val d = Tables(s, dir).events
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(util.Exact.dec(col("value"))).as("tdec"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val frame = w.rowsBetween(-6, Window.currentRow)
      d.select(
        col("event_type"), col("day"), col("tdec").cast("double").as("total"),
        (sum("tdec").over(frame).cast("double") / count(lit(1)).over(frame)).as("ma7"),
        lag("tdec", 1).over(w).cast("double").as("prev_total"))
        .transform(sortedSmall(_, "event_type", "day"))
    })

  val relational: Seq[Q] = Seq(
    q1, q3, q5, qWindow, qRollup, qCube, qSetop, qIntersect, qSemi, qAnti, qTopk,
    qEventsDaily, qEventsJson, qJsonSerialize, qAsOf, qIntervalJoin, qSmallQty,
    qCustOrderDist, qRichIdle, qEventSessions, qFullOuter, qQuantiles,
    qBigOrders, qDistinctAgg, qMovingAvg)
}
