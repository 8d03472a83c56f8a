package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.{Q, sortedSmall}
import graft.util.Exact.{dec, dec2, dsum}

/** Fifth relational wave — analytic shapes the earlier waves didn't
  * cover: a q9-style profit rollup (fact–fact join + broadcast dims +
  * year extraction), exact-moment correlation/covariance (the
  * engine-portable form of `corr`/`covar_samp`), a generated date
  * spine with calendar fill (sequence + explode + left join), an
  * arithmetic histogram (no two-pass min/max), and ratio-to-report
  * windowing (share-of-total inside a partition).
  *
  * Scale notes per shape:
  *  - q9 rollup: lineitem⋈orders shuffles on the order key once; the
  *    supplier and nation dims ride broadcast joins, so the plan has
  *    exactly one wide Exchange regardless of dim count.
  *  - correlation: Spark's `corr`/`covar_samp` aggregate doubles in
  *    shuffle order (non-deterministic last bits, engine-specific
  *    formulas), so the query aggregates the five EXACT decimal
  *    moments (map-side partials apply — one shuffle of 5 numbers per
  *    group) and assembles the Pearson/covariance formula in double
  *    AFTER aggregation: one deterministic expression dag on
  *    order-independent inputs. The moment magnitudes obey the
  *    decimal→double 2^53 mantissa rule ([[graft.util.Exact]]) for
  *    quantity×discount; at larger scale surface the decimal moments
  *    themselves.
  *  - date spine: `sequence()` generates the calendar on the fly (90
  *    rows — never a stored calendar table to shuffle); the daily
  *    aggregate is pre-grouped BEFORE the spine join, so the left
  *    join is spine-rows × 1 — broadcastable from either side.
  *  - histogram: bucket = least(floor(x / width), nBuckets−1) is a
  *    map-side expression over literal bounds — one aggregation pass,
  *    no preliminary min/max job, pushdown-friendly.
  *  - ratio-to-report: the window runs over the ALREADY-AGGREGATED
  *    per-nation rows (25 rows), never the raw fact table — compute
  *    heavy aggregates first, window the small result.
  */
object Queries4 {

  // ------------------------------------------- q9-style profit rollup
  // Revenue by supplier nation × order year. No partsupp table in the
  // driver schema, so the profit term is the standard revenue term
  // (exact decimal, same as q1/q5). lineitem⋈orders is the one
  // fact–fact shuffle; supplier and nation broadcast.
  private val q9 = Q(
    "q9_nation_year_revenue",
    Some("""
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON o_orderkey  = l_orderkey
      JOIN supplier ON s_suppkey   = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      GROUP BY 1, 2
      ORDER BY nation, o_year"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // spread the single-row-group lineitem scan off one core before
      // the join + decimal revenue aggregate (Tables.spreadScan, r21)
      t.spreadScan(t.lineitem)
        .join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t.supplier), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(t.nation), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
        .transform(sortedSmall(_, "nation", "o_year"))
    })

  // ------------------------------- exact-moment correlation/covariance
  // Pearson corr and sample covariance of (l_quantity, l_discount) per
  // return flag, assembled from exact decimal moments. Both engines
  // evaluate the IDENTICAL double expression dag over identical
  // (order-independent) inputs, so the doubles are bit-equal — unlike
  // the built-in corr/covar aggregates, whose streaming update order
  // is engine- and shuffle-dependent.
  private val qCorr = Q(
    "q_corr_qty_discount",
    Some("""
      WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sqq,
               CAST(SUM(CAST(l_discount AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS sqd
        FROM lineitem
        GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             (CAST(n AS DOUBLE) * sqd - sq * sd) /
               (sqrt(CAST(n AS DOUBLE) * sqq - sq * sq) * sqrt(CAST(n AS DOUBLE) * sdd - sd * sd)) AS corr_qty_disc,
             (CAST(n AS DOUBLE) * sqd - sq * sd) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS covar_qty_disc
      FROM m
      ORDER BY l_returnflag"""),
    (s, dir) => {
      val nD = col("n").cast("double")
      val t = Tables(s, dir)
      // six decimal moment aggregates over 600k rows fused into a
      // one-task scan stage: spread first (Tables.spreadScan, r21)
      t.spreadScan(t.lineitem)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sq"),
          dsum(col("l_discount")).as("sd"),
          sum(dec2(col("l_quantity")) * dec2(col("l_quantity"))).cast("double").as("sqq"),
          sum(dec2(col("l_discount")) * dec2(col("l_discount"))).cast("double").as("sdd"),
          sum(dec2(col("l_quantity")) * dec2(col("l_discount"))).cast("double").as("sqd"))
        .select(
          col("l_returnflag"), col("n"),
          ((nD * col("sqd") - col("sq") * col("sd")) /
            (sqrt(nD * col("sqq") - col("sq") * col("sq")) *
              sqrt(nD * col("sdd") - col("sd") * col("sd")))).as("corr_qty_disc"),
          ((nD * col("sqd") - col("sq") * col("sd")) / (nD * (nD - lit(1))))
            .as("covar_qty_disc"))
        .transform(sortedSmall(_, "l_returnflag"))
    })

  // ------------------------------------- date spine with calendar fill
  // Q1-1995 daily order counts with zero-filled gaps: the calendar is
  // GENERATED (sequence + explode), the daily aggregate is pre-grouped,
  // and the left join fills missing days with 0. Day is output as a
  // formatted string (raw DATE/TIMESTAMP round-trips differently).
  private val qDateSpine = Q(
    "q_date_spine_fill",
    Some("""
      WITH spine AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY)) AS DATE) AS day),
      d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
        GROUP BY 1)
      SELECT strftime(spine.day, '%Y-%m-%d') AS day,
             COALESCE(d.n_orders, 0) AS n_orders
      FROM spine LEFT JOIN d ON d.day = spine.day
      ORDER BY day"""),
    (s, dir) => {
      val spine = s.range(1).select(
        explode(expr("sequence(to_date('1995-01-01'), to_date('1995-03-31'), interval 1 day)")).as("day"))
      val daily = Tables(s, dir).orders
        .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1995-04-01 00:00:00").cast("timestamp"))
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      spine.join(daily, Seq("day"), "left")
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .transform(sortedSmall(_, "day"))
    })

  // --------------------------------------------- arithmetic histogram
  // Order-value distribution in 10 fixed-width buckets over literal
  // bounds (o_totalprice ∈ (0, 500k]; width 50k; the top bucket is
  // open-ended via least()). One map-side expression + one aggregation
  // — no preliminary min/max pass, which at 100 TB would be a second
  // full scan.
  private val qPriceHist = Q(
    "q_price_histogram",
    Some("""
      SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS BIGINT) AS bucket,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY 1
      ORDER BY bucket"""),
    (s, dir) =>
      Tables(s, dir).orders
        .groupBy(least(floor(col("o_totalprice") / lit(50000.0)), lit(9)).cast("long").as("bucket"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .transform(sortedSmall(_, "bucket")))

  // ------------------------------------------ ratio-to-report window
  // Each nation's share of its region's total customer balance. The
  // heavy aggregate runs FIRST (one keyed shuffle of the fact table);
  // the share window then runs over the 25-row result. Balances sum in
  // exact decimal; the share divides two deterministic double casts.
  private val qNationShare = Q(
    "q_nation_share_of_region",
    Some("""
      WITH a AS (
        SELECT r_name, n_name,
               SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS bal
        FROM customer
        JOIN nation ON n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n_regionkey
        GROUP BY r_name, n_name)
      SELECT r_name, n_name,
             CAST(bal AS DOUBLE) AS nation_bal,
             CAST(bal AS DOUBLE) / CAST(SUM(bal) OVER (PARTITION BY r_name) AS DOUBLE) AS share
      FROM a
      ORDER BY r_name, n_name"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val dims = t.nation.join(t.region, col("r_regionkey") === col("n_regionkey"))
      val a = t.customer
        .join(broadcast(dims), col("n_nationkey") === col("c_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec(col("c_acctbal"))).as("bal"))
      val w = Window.partitionBy("r_name")
      a.select(
        col("r_name"), col("n_name"),
        col("bal").cast("double").as("nation_bal"),
        (col("bal").cast("double") / sum(col("bal")).over(w).cast("double")).as("share"))
        .transform(sortedSmall(_, "r_name", "n_name"))
    })

  // ------------------------------------ heap top-k per group (native agg)
  // Top-5 order values per priority via the graft_top_k
  // TypedImperativeAggregate — O(k) state per group, map-side partial
  // reduction, NO per-partition window sort (the declarative
  // row_number form sorts every row to keep five). Output VALUES are
  // deterministic even under ties (the k-largest multiset is unique),
  // which is exactly what makes the heap form oracle-checkable while
  // row_number-with-ties is not. The oracle recomputes with a window
  // over values alone.
  private val qTopKPerPriority = Q(
    "q_topk_per_priority",
    Some("""
      SELECT o_orderpriority, rnk, price FROM (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DOUBLE) AS price,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC) AS BIGINT) AS rnk
        FROM orders)
      WHERE rnk <= 5
      ORDER BY o_orderpriority, rnk"""),
    (s, dir) =>
      Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(graft.functions.GraftFunctions.topK(col("o_totalprice"), 5).as("__top"))
        .select(col("o_orderpriority"),
          posexplode(col("__top")).as(Seq("__p", "price")))
        .select(
          col("o_orderpriority"),
          (col("__p") + 1).cast("long").as("rnk"),
          col("price"))
        .transform(sortedSmall(_, "o_orderpriority", "rnk")))

  // --------------------------------------- value-RANGE window frame
  // RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW over the acctbal
  // VALUE axis — a genuinely different frame semantic from every ROWS
  // frame elsewhere: peers join by value distance, not position, so
  // the frame width varies per row and ties share a frame. Count of
  // customers within 5000 balance-units below each customer, per
  // segment. Integer frame bound on a double order key: both engines
  // compare (peer >= cur − 5000) identically; COUNT avoids any
  // order-dependent double sum inside the variable frame.
  private val qRangeFrame = Q(
    "q_balance_range_frame",
    Some("""
      SELECT c_custkey, c_mktsegment,
             CAST(COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
               RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_within_5k_below
      FROM customer
      ORDER BY c_custkey"""),
    (s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"))
        .rangeBetween(-5000L, Window.currentRow)
      Tables(s, dir).customer
        .select(
          col("c_custkey"), col("c_mktsegment"),
          count(lit(1)).over(w).as("n_within_5k_below"))
        .transform(sortedSmall(_, "c_custkey"))
    })

  // --------------------------------------------- discrete percentiles
  // percentile_disc returns an ACTUAL data element (no interpolation),
  // so unlike continuous quantiles it is exactly portable even for
  // arbitrary doubles — the right quantile flavor for "give me the
  // real p95 order" questions. Spark's percentile_disc is SQL-only
  // (no DSL function), exercised via spark.sql on a registered view —
  // also covering the engine's SQL entry path under the oracle.
  private val qPercentileDisc = Q(
    "q_percentile_disc",
    Some("""
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.25) AS p25,
             quantile_disc(o_totalprice, 0.50) AS p50,
             quantile_disc(o_totalprice, 0.95) AS p95
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // Histogram two-pass (operators.Quantiles, r22) replaces the
      // value-buffering percentile_disc aggregate: bit-identical
      // value selection (QuantilesSpec property-tests the rank
      // arithmetic against percentile_disc itself, boundary ranks
      // included), bounded per-task state at any scale. The r21
      // spreadScan went with the buffering aggregate it existed for.
      // The spark.sql round-trip stays (this query is the suite's SQL
      // entry-path coverage), now over the two-pass frame's view.
      operators.Quantiles.exactPercentilesDisc(
          t.orders, Seq("o_orderpriority"), "o_totalprice",
          Seq(0.25, 0.50, 0.95), Seq("p25", "p50", "p95"))
        .createOrReplaceTempView("__orders_pd")
      s.sql("SELECT o_orderpriority, p25, p50, p95 FROM __orders_pd")
        .transform(sortedSmall(_, "o_orderpriority"))
    })

  // ------------------------------------------ bag-semantics set ops
  // EXCEPT ALL / INTERSECT ALL keep DUPLICATE MULTIPLICITY (bag
  // semantics) — a different operator from the distinct set ops the
  // earlier waves cover: a part key ordered k times appears
  // max(k−m, 0) / min(k, m) times, which Spark plans as a
  // multiplicity-diff aggregation + generate, never a distinct.
  // Multiset of high-value order partkeys vs low-value ones.
  private val qBagSetOps = Q(
    "q_bag_setops_parts",
    Some("""
      WITH hi AS (SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                  WHERE o_totalprice > 300000 AND l_partkey <= 200),
      lo AS (SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             WHERE o_totalprice <= 100000 AND l_partkey <= 200),
      ea AS (SELECT l_partkey FROM hi EXCEPT ALL SELECT l_partkey FROM lo),
      ia AS (SELECT l_partkey FROM hi INTERSECT ALL SELECT l_partkey FROM lo)
      SELECT 'except_all' AS op, l_partkey, COUNT(*) AS n FROM ea GROUP BY 2
      UNION ALL
      SELECT 'intersect_all' AS op, l_partkey, COUNT(*) AS n FROM ia GROUP BY 2
      ORDER BY op, l_partkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val joined = t.lineitem.join(t.orders, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_partkey") <= 200)
      val hi = joined.filter(col("o_totalprice") > 300000).select("l_partkey")
      val lo = joined.filter(col("o_totalprice") <= 100000).select("l_partkey")
      val ea = hi.exceptAll(lo).groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), col("l_partkey"), col("n"))
      val ia = hi.intersectAll(lo).groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("l_partkey"), col("n"))
      ea.unionAll(ia).transform(sortedSmall(_, "op", "l_partkey"))
    })

  // ----------------------------------- IGNORE NULLS window navigation
  // last_value(... IGNORE NULLS) — the gap-fill / last-observation-
  // carried-forward primitive: nulls in the frame are skipped, so the
  // navigation result differs from plain last_value whenever the
  // current row is null. Sparse signal: acctbal only on every 3rd
  // customer; carry the last seen value forward within the segment.
  private val qIgnoreNulls = Q(
    "q_locf_balance",
    Some("""
      WITH s AS (SELECT c_custkey, c_mktsegment,
                        CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END AS sparse_bal
                 FROM customer)
      SELECT c_custkey, c_mktsegment, sparse_bal,
             last_value(sparse_bal IGNORE NULLS) OVER (
               PARTITION BY c_mktsegment ORDER BY c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal_locf
      FROM s
      ORDER BY c_custkey"""),
    (s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).customer
        .select(
          col("c_custkey"), col("c_mktsegment"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal")).as("sparse_bal"))
        .withColumn("bal_locf", last(col("sparse_bal"), ignoreNulls = true).over(w))
        .transform(sortedSmall(_, "c_custkey"))
    })

  val relational4: Seq[Q] =
    Seq(q9, qCorr, qDateSpine, qPriceHist, qNationShare, qTopKPerPriority,
      qRangeFrame, qPercentileDisc, qBagSetOps, qIgnoreNulls)
}
