package graft.queries

import graft.GraftSession
import graft.GraftSession.table
import graft.operators.Caches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics core (SURVEY.md §2.2): TPC-H-shaped joins/aggs, window top-N,
  * event sessionization, JSON extraction. Same determinism contract as
  * [[CoreQueries]].
  *
  * Scale notes per query are in the Scaladoc — the intent is that each plan
  * survives a 1000-executor / 100 TB run unchanged.
  */
object AnalyticsQueries {

  private val ep   = col("l_extendedprice").cast("decimal(12,2)")
  private val disc = col("l_discount").cast("decimal(4,2)")
  private val one  = lit(1).cast("decimal(4,2)")

  /** SQL fragment mirroring `ep * (1 - disc)` exactly. */
  private val revSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  // ---- q3: shipping priority (join + topk) ------------------------------
  /** customer(filtered, broadcast) ⋈ orders(filtered) ⋈ lineitem(filtered).
    * Filters sit on the scans (pushdown); the only big shuffle is the
    * orders⋈lineitem sort-merge on orderkey; top-k via global sort + limit
    * (Spark runs TakeOrderedAndProject — no full sort at scale).
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("1998-06-15 00:00:00"))
    val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord  = table(s, dir, "orders").filter(col("o_orderdate") < cutoff)
    val li   = table(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(ep * (one - disc)).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  CAST(SUM($revSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
       |  AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin

  // ---- q5: local supplier volume (5-way join) ---------------------------
  /** All dims (region/nation/supplier/customer) broadcast; lineitem⋈orders
    * is the single large shuffle. The c_nationkey = s_nationkey equi-filter
    * rides on the broadcast joins.
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = to_timestamp(lit("1996-01-01 00:00:00"))
    val hi = to_timestamp(lit("1998-01-01 00:00:00"))
    val out = table(s, dir, "lineitem")
      .join(table(s, dir, "orders").filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "customer")),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(ep * (one - disc)).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
    out
  }

  val q5Sql: String =
    s"""SELECT n_name, CAST(SUM($revSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // ---- q6: forecast revenue (pure filtered agg, zero shuffle) -----------
  /** All predicates push to the parquet scan; single partial+final agg. */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
        col("l_shipdate") <  to_timestamp(lit("1998-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24
      )
      .agg(sum(ep * disc).cast("double").as("revenue"))

  val q6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---- window top-N: latest order per customer --------------------------
  /** One shuffle on the partition key; rank inside the window. At scale this
    * is the canonical "latest record per entity" pattern (vs a self-join).
    */
  def qWindowTopn(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  val qWindowTopnSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders) t
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** Same result as [[qWindowTopn]], computed by the custom bounded-top-k
    * aggregate (graft.plans.TopKAgg) instead of a window: partial state is a
    * k-heap, so the shuffle carries ≤ k rows per key per map task instead of
    * every row — the 100 TB formulation of "latest record per entity".
    */
  def qTopkAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(call_function("graft_topk", lit(1),
        array(unix_millis(col("o_orderdate").cast("timestamp")), col("o_orderkey")),
        struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))).as("top"))
      .select(col("o_custkey"),
        element_at(col("top"), 1).getField("o_orderkey").as("o_orderkey"),
        element_at(col("top"), 1).getField("o_orderdate").as("o_orderdate"),
        element_at(col("top"), 1).getField("o_totalprice").as("o_totalprice"))
      .orderBy("o_custkey")

  /** oracle: identical to the window formulation's. */
  val qTopkAggSql: String = qWindowTopnSql

  // ---- rollup: hierarchical totals --------------------------------------
  /** ROLLUP over (returnflag, linestatus): per-pair, per-flag and grand
    * totals in one pass (Expand + single agg — no N scans). NULLS FIRST
    * explicit on both sides: Spark defaults nulls-first, DuckDB nulls-last.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---- cube: the full grouping-sets lattice ------------------------------
  /** CUBE over (returnflag, linestatus, ship year) — every subtotal slice
    * of the rollup family at once (the OLAP report the reference's
    * aggregate consumers build by re-running per dimension; one Expand
    * pass here). Same plan shape as [[qRollup]]: Expand multiplies rows by
    * the 8 grouping sets BEFORE the aggregation, partial aggregation
    * combines map-side, and the output is lattice-sized (|flags|·|status|·
    * |years| upper bound), never corpus-sized.
    */
  def qCube(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
      .cube("l_returnflag", "l_linestatus", "ship_year")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first,
        col("ship_year").asc_nulls_first)

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT) AS ship_year,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus, ship_year)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST,
      |  ship_year ASC NULLS FIRST""".stripMargin

  // ---- anti join: customers with no orders ------------------------------
  /** Left-anti join — the "orphans" audit every feed pipeline needs
    * (customers with no orders in the first half of 1995).
    */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val recent = table(s, dir, "orders")
      .filter(col("o_orderdate") < to_timestamp(lit("1995-07-01 00:00:00")))
    table(s, dir, "customer")
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  // ---- semi join: parts that actually ship ------------------------------
  def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .join(table(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")

  val qSemiJoinSql: String =
    """SELECT p_partkey, p_name, p_retailprice
      |FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin

  // ---- as-of join: latest prior error per purchase ----------------------
  /** For each purchase event, the user's most recent error at-or-before it
    * (graft.operators.AsofJoin — union+window, no band cross-join). Right
    * side pre-deduped per (user, ts) so "the" match is well-defined; oracle
    * is DuckDB's native ASOF LEFT JOIN.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_ms", "value")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy("user_id", "ts_ms")
      .agg(max("event_id").as("err_event_id"), max_by(col("value"), col("event_id")).as("err_value"))
    graft.operators.AsofJoin.join(purchases, errors, "user_id", "ts_ms", "ts_ms",
        rightCols = Seq("err_event_id", "err_value"))
      .orderBy("event_id")
  }

  val qAsofJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type, value FROM events),
      |p AS (SELECT event_id, user_id, ts_ms, value FROM ev WHERE event_type = 'purchase'),
      |e AS (SELECT user_id, ts_ms, max(event_id) AS err_event_id, arg_max(value, event_id) AS err_value
      |      FROM ev WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts_ms, p.value, e.err_event_id, e.err_value
      |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND e.ts_ms <= p.ts_ms
      |ORDER BY p.event_id""".stripMargin

  /** FORWARD as-of: for each error event, the user's NEXT purchase at or
    * after the error instant ([[graft.operators.AsofJoin.joinForward]] —
    * time-to-recovery enrichment). Same union-trick cost as the backward
    * join; purchases pre-deduped per (user, ts) so "the" match is defined.
    * Oracle: DuckDB's native forward `ASOF JOIN … <=`.
    */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value"))
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts_ms", "value")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms")
      .agg(max("event_id").as("next_purchase_id"),
        max_by(col("value"), col("event_id")).as("next_value"))
    graft.operators.AsofJoin.joinForward(errors, purchases, "user_id", "ts_ms", "ts_ms",
        rightCols = Seq("next_purchase_id", "next_value"))
      .orderBy("event_id")
  }

  val qAsofForwardSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type, value FROM events),
      |e AS (SELECT event_id, user_id, ts_ms, value FROM ev WHERE event_type = 'error'),
      |p AS (SELECT user_id, ts_ms, max(event_id) AS next_purchase_id, arg_max(value, event_id) AS next_value
      |      FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts_ms, e.value, p.next_purchase_id, p.next_value
      |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_ms <= p.ts_ms
      |ORDER BY e.event_id""".stripMargin

  // ---- range join: purchases within 7 days after signup -----------------
  /** Band join via interval bucketization (graft.operators.RangeJoin):
    * every (signup, purchase-of-same-user-within-7d) pair. Oracle is the
    * naive inequality join — same rows, quadratic plan.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_ms").as("p_ts_ms"), col("value").as("p_value"))
    graft.operators.RangeJoin.bandJoin(signups, purchases, "user_id",
        "ts_ms", "p_ts_ms", lo = 0L, hi = 7L * 24 * 3600 * 1000)
      .select("signup_id", "purchase_id", "user_id", "ts_ms", "p_ts_ms", "p_value")
      .orderBy("signup_id", "purchase_id")
  }

  val qRangeJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type, value FROM events),
      |s AS (SELECT event_id AS signup_id, user_id, ts_ms FROM ev WHERE event_type = 'signup'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts_ms AS p_ts_ms, value AS p_value
      |      FROM ev WHERE event_type = 'purchase')
      |SELECT s.signup_id, p.purchase_id, s.user_id, s.ts_ms, p.p_ts_ms, p.p_value
      |FROM s JOIN p ON s.user_id = p.user_id
      |  AND p.p_ts_ms >= s.ts_ms AND p.p_ts_ms <= s.ts_ms + 604800000
      |ORDER BY s.signup_id, p.purchase_id""".stripMargin

  // ---- exact group median -----------------------------------------------
  /** Exact (sort-based) median per group — both engines interpolate even
    * counts as (a+b)/2, so the doubles match bit-for-bit.
    */
  def qGroupMedian(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(median(col("c_acctbal")).as("median_acctbal"), count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  val qGroupMedianSql: String =
    """SELECT c_mktsegment, median(c_acctbal) AS median_acctbal, COUNT(*) AS n
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- differentially-private group median --------------------------------
  /** DP median of `l_quantity` per returnflag via the truncated
    * EXPONENTIAL mechanism ([[graft.operators.Privacy.dpMedianByGroup]] —
    * exact 128-bit integer selection, so the draw is bit-identical in
    * DuckDB): the third classic mechanism joins the privacy family
    * (counting → geometric, histogram → clamp+geometric, selection →
    * exponential). Value-grain collapse first; every window below runs
    * over ≤\|quantity grid\| rows per group.
    */
  def qDpMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.dpMedianByGroup(
        table(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_quantity")).cast("long").as("qty")),
        "l_returnflag", "qty", Seq(1, 2))
      .orderBy("l_returnflag", "eps_ln2")

  val qDpMedianSql: String =
    """WITH vg AS (
      |  SELECT l_returnflag AS g, CAST(round(l_quantity) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, CAST(coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS less,
      |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
      |  FROM vg),
      |ud AS (SELECT *, greatest(0, 2 * less + 1 - n, n + 1 - 2 * (less + cnt)) AS u FROM cum),
      |e AS (SELECT unnest([1, 2]) AS j),
      |wg AS (
      |  SELECT ud.*, e.j,
      |    CASE WHEN 62 - e.j * u >= 0
      |         THEN (CAST(1 AS BIGINT) << CAST(62 - e.j * u AS INT))
      |         ELSE CAST(0 AS BIGINT) END AS wgt
      |  FROM ud, e),
      |cw AS (
      |  SELECT *, sum(CAST(wgt AS HUGEINT)) OVER (PARTITION BY g, j ORDER BY v) AS cum_w,
      |    sum(CAST(wgt AS HUGEINT)) OVER (PARTITION BY g, j) AS tot_w
      |  FROM wg),
      |uu AS (
      |  SELECT g, j, CAST(CAST(md5_number_lower('dpm' || j || '|' || g)
      |    % 4294967296 AS BIGINT) AS HUGEINT) AS u32
      |  FROM (SELECT DISTINCT g, j FROM wg)),
      |sel AS (
      |  SELECT cw.g, cw.j, CAST(max(cw.n) AS BIGINT) AS n, min(cw.v) AS dp_median
      |  FROM cw JOIN uu ON uu.g = cw.g AND uu.j = cw.j
      |  WHERE cum_w * 4294967296 > u32 * tot_w
      |  GROUP BY 1, 2),
      |tm AS (
      |  SELECT g, min(v) AS true_median FROM cum
      |  WHERE 2 * (less + cnt) >= n GROUP BY g)
      |SELECT sel.g AS l_returnflag, CAST(sel.j AS INT) AS eps_ln2, sel.n,
      |  tm.true_median, sel.dp_median
      |FROM sel JOIN tm ON tm.g = sel.g
      |ORDER BY l_returnflag, eps_ln2""".stripMargin

  // ---- rolling window over daily aggregates --------------------------------
  /** 7-day rolling revenue over the orders stream — the dashboard
    * smoothing query. Day = epoch-micros DIV 86400000000 (integer);
    * revenue in exact micro-units; the rolling frame is RANGE BETWEEN 6
    * PRECEDING AND CURRENT ROW on the integer day, so calendar gaps are
    * respected without densifying. The window runs over the |days| daily
    * frame (already aggregated — never row bodies); the average is ONE
    * pinned division by the days actually present in the frame.
    */
  def qRollingRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day").rangeBetween(-6, Window.currentRow)
    table(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("rev_u"))
      .groupBy("day").agg(sum("rev_u").as("revenue_u"))
      .withColumn("win_days", count(lit(1)).over(w))
      .withColumn("rolling_sum_u", sum("revenue_u").over(w))
      .withColumn("rolling_avg_u",
        col("rolling_sum_u").cast("double") / col("win_days"))
      .orderBy("day")
  }

  val qRollingRevenueSql: String =
    """WITH d AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(sum(CAST(round(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT) AS revenue_u
      |  FROM orders GROUP BY 1)
      |SELECT day, revenue_u,
      |  CAST(count(*) OVER w AS BIGINT) AS win_days,
      |  CAST(sum(revenue_u) OVER w AS BIGINT) AS rolling_sum_u,
      |  CAST(sum(revenue_u) OVER w AS DOUBLE) / count(*) OVER w AS rolling_avg_u
      |FROM d
      |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  // ---- user growth curve ---------------------------------------------------
  /** Daily new users + cumulative user count from the events stream — the
    * growth dashboard. Per-user first-seen day is ONE map-side-combined
    * min; the running sum then runs over the |days| daily frame (a few
    * hundred rows — control-plane-sized, so the unpartitioned window is
    * free). Day = epoch-ms DIV 86400000, true integer division on both
    * engines.
    */
  def qUserGrowth(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    raw.select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"))
      .withColumn("day", expr("ts_ms div 86400000"))
      .groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(Window.orderBy("day")))
      .orderBy("day")
  }

  val qUserGrowthSql: String =
    """WITH f AS (
      |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS day FROM events GROUP BY 1),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
      |FROM d ORDER BY day""".stripMargin

  // ---- OLS trend fit over daily revenue ------------------------------------
  /** Least-squares line through the daily revenue series — slope
    * (µ-units/day), intercept, and R². All five moment sums (Σx, Σy, Σxy,
    * Σx², Σy²) accumulate as decimal(38,0) EXACT integers (x = day offset
    * from the series start, y = daily revenue in micro-units; Σy² headroom:
    * y up to ~10¹⁹ µ-units/day before 38 digits saturate — the PCA
    * overflow-contract precedent), mirrored by HUGEINT in the oracle, so
    * the closed-form numerators/denominators are bit-identical integers
    * and the final slope/intercept/R² are fixed IEEE trees over them.
    *
    * Scale shape: one map-side-combined daily aggregation (the only
    * corpus-sized pass), a 1-row min-day broadcast onto the |days| frame,
    * one 1-row moment aggregation. Nothing else moves.
    */
  def qTrendFit(s: SparkSession, dir: String): DataFrame = {
    val daily = table(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("rev_u"))
      .groupBy("day").agg(sum("rev_u").as("y"))
    val d0 = daily.agg(min("day").as("day0"))
    val dec = "decimal(38,0)"
    val xy = daily.crossJoin(broadcast(d0))
      .select((col("day") - col("day0")).cast(dec).as("x"), col("y").cast(dec).as("yd"))
    val sums = xy.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("yd")).as("sy"),
      sum(col("x") * col("yd")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("yd") * col("yd")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / den
    sums.select(col("n").cast("long").as("n_days"),
      slope.as("slope_u_per_day"),
      ((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double")).as("intercept_u"),
      ((num * num) / (den * deny)).as("r2"))
  }

  val qTrendFitSql: String =
    """WITH d AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    sum(CAST(round(o_totalprice * 1000000.0) AS BIGINT)) AS y
      |  FROM orders GROUP BY 1),
      |x AS (SELECT CAST(day - (SELECT min(day) FROM d) AS HUGEINT) AS x,
      |             CAST(y AS HUGEINT) AS y FROM d),
      |s AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
      |             sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM x)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope_u_per_day,
      |  (CAST(sy AS DOUBLE)
      |   - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
      |  / CAST(n AS DOUBLE) AS intercept_u,
      |  (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
      |  / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) AS r2
      |FROM s""".stripMargin

  // ---- time-to-convert percentiles -----------------------------------------
  /** Signup→conversion latency percentiles: per user, first signup and
    * first qualified purchase (value ≥ 200 — the [[qAbTest]] conversion
    * contract); users with both (purchase not before signup) contribute
    * latency = t1 − t0 ms, and the report is exact p50/p90/p99 over the
    * latency distribution via the histogram CDF (no value-buffering
    * percentile aggregate — the [[graft.operators.Curation
    * .lengthPercentiles]] engine with a constant group).
    */
  def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    // read twice: histogram + count (both key-sized)
    val lat = Caches.persist(raw.select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts_ms"))).as("t0"),
        min(when(col("event_type") === "purchase" && col("value") >= 200.0,
          col("ts_ms"))).as("t1"))
      .filter(col("t0").isNotNull && col("t1").isNotNull && col("t1") >= col("t0"))
      .select(lit("all").as("grp"), (col("t1") - col("t0")).as("latency_ms")))
    graft.operators.Curation.lengthPercentiles(lat, "grp", "latency_ms")
      .crossJoin(lat.agg(count(lit(1)).as("n_users")))
      .select(col("n_users"), col("p50").as("p50_ms"), col("p90").as("p90_ms"),
        col("p99").as("p99_ms"))
  }

  val qTimeToConvertSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS t0,
      |    min(CASE WHEN event_type = 'purchase' AND value >= 200.0 THEN epoch_ms(ts) END) AS t1
      |  FROM events GROUP BY 1),
      |l AS (SELECT t1 - t0 AS v FROM u
      |      WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0),
      |hist AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM l GROUP BY 1),
      |cum AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS hi,
      |               sum(cnt) OVER () AS n FROM hist)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_users,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS p50_ms,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.9) THEN v END) AS BIGINT) AS p90_ms,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.99) THEN v END) AS BIGINT) AS p99_ms
      |FROM cum""".stripMargin

  // ---- cohort lifetime value ------------------------------------------------
  /** Cohort LTV matrix: users cohorted by first-seen week, purchase value
    * accumulated by weeks-since-signup — the matrix under every "payback
    * period" chart. Exact micro-unit revenue; LTV/user is ONE pinned
    * division per cell.
    *
    * Scale shape: per-user first-week min and the purchase join both key
    * on user_id (the exchange is reusable); the running sum and the size
    * join operate on the \|cohorts × weeks\| matrix — control-plane-sized.
    */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    val ev = raw.select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value"))
      .withColumn("week", expr("ts_ms div 604800000"))
    // read twice: purchase join + cohort sizes
    val cohort = Caches.persist(ev.groupBy("user_id").agg(min("week").as("cohort_week")))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    val w = Window.partitionBy("cohort_week").orderBy("weeks_since")
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("week"),
        round(col("value") * lit(1000000.0)).cast("long").as("v_u"))
      .join(cohort, "user_id")
      .withColumn("weeks_since", col("week") - col("cohort_week"))
      .groupBy("cohort_week", "weeks_since")
      .agg(count(lit(1)).as("n_purchases"), sum("v_u").as("rev_u"))
      .withColumn("cum_rev_u", sum("rev_u").over(w))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("ltv_per_user_u", col("cum_rev_u").cast("double") / col("cohort_users"))
      .select("cohort_week", "weeks_since", "cohort_users", "n_purchases",
        "rev_u", "cum_rev_u", "ltv_per_user_u")
      .orderBy("cohort_week", "weeks_since")
  }

  val qCohortLtvSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) // 604800000 AS week, event_type, value
      |  FROM events),
      |c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
      |s AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      |      FROM c GROUP BY 1),
      |p AS (SELECT cohort_week, week - cohort_week AS weeks_since,
      |        CAST(count(*) AS BIGINT) AS n_purchases,
      |        CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS rev_u
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT p.cohort_week, p.weeks_since, s.cohort_users, p.n_purchases, p.rev_u,
      |  CAST(sum(p.rev_u) OVER (PARTITION BY p.cohort_week ORDER BY p.weeks_since) AS BIGINT) AS cum_rev_u,
      |  CAST(sum(p.rev_u) OVER (PARTITION BY p.cohort_week ORDER BY p.weeks_since) AS DOUBLE)
      |    / s.cohort_users AS ltv_per_user_u
      |FROM p JOIN s USING (cohort_week)
      |ORDER BY cohort_week, weeks_since""".stripMargin

  // ---- RFM customer segmentation ------------------------------------------
  /** Quintile RFM segmentation of the orders stream — see
    * [[graft.operators.Rfm.rfm]] for the exact-integer base stats and the
    * histogram-CDF quintile cuts.
    */
  def qRfm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Rfm.rfm(table(s, dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice")
      .withColumnRenamed("cust", "o_custkey")
      .orderBy("o_custkey")

  val qRfmSql: String = {
    def cutCtes(dim: String, p: String) =
      s"""${p}h AS (SELECT $dim AS v, CAST(count(*) AS BIGINT) AS cnt FROM wr GROUP BY 1),
         |${p}c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS hi, sum(cnt) OVER () AS n FROM ${p}h),
         |${p}cut AS (SELECT
         |  CAST(min(CASE WHEN hi >= CEIL(n * 0.2) THEN v END) AS BIGINT) AS p20,
         |  CAST(min(CASE WHEN hi >= CEIL(n * 0.4) THEN v END) AS BIGINT) AS p40,
         |  CAST(min(CASE WHEN hi >= CEIL(n * 0.6) THEN v END) AS BIGINT) AS p60,
         |  CAST(min(CASE WHEN hi >= CEIL(n * 0.8) THEN v END) AS BIGINT) AS p80
         |  FROM ${p}c)""".stripMargin
    def q(dim: String, p: String) =
      s"""(1 + (CASE WHEN $dim > ${p}cut.p20 THEN 1 ELSE 0 END)
         |   + (CASE WHEN $dim > ${p}cut.p40 THEN 1 ELSE 0 END)
         |   + (CASE WHEN $dim > ${p}cut.p60 THEN 1 ELSE 0 END)
         |   + (CASE WHEN $dim > ${p}cut.p80 THEN 1 ELSE 0 END))""".stripMargin
    s"""WITH base AS (
       |  SELECT o_custkey AS cust, CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    CAST(sum(CAST(round(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT) AS monetary_u
       |  FROM orders GROUP BY 1),
       |g AS (SELECT max(last_us) AS gmax FROM base),
       |wr AS (
       |  SELECT cust, CAST((g.gmax - last_us) // 86400000000 AS BIGINT) AS recency_days,
       |    frequency, monetary_u
       |  FROM base, g),
       |${cutCtes("recency_days", "r")},
       |${cutCtes("frequency", "f")},
       |${cutCtes("monetary_u", "m")}
       |SELECT wr.cust AS o_custkey, wr.recency_days, wr.frequency, wr.monetary_u,
       |  CAST(6 - ${q("wr.recency_days", "r")} AS INT) AS r_score,
       |  CAST(${q("wr.frequency", "f")} AS INT) AS f_score,
       |  CAST(${q("wr.monetary_u", "m")} AS INT) AS m_score,
       |  CAST((6 - ${q("wr.recency_days", "r")}) * 100
       |     + ${q("wr.frequency", "f")} * 10
       |     + ${q("wr.monetary_u", "m")} AS INT) AS rfm
       |FROM wr, rcut, fcut, mcut
       |ORDER BY o_custkey""".stripMargin
  }

  // ---- fixed-domain pivot -------------------------------------------------
  /** Status×priority order-count matrix via `groupBy().pivot()` — the
    * classic ETL reshape. The pivot domain is a LITERAL list: letting
    * Spark infer it runs a collect-distinct job over the full table and
    * makes the output schema data-dependent — both wrong at 100 TB. With
    * literal values the plan is one ordinary hash aggregation (pivot
    * lowers to one conditional-count per domain value, map-side combined).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L, Seq("F", "O", "P"))
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy("o_orderpriority")

  val qPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- join-key skew audit -----------------------------------------------
  /** Power-of-two skew histogram for every candidate join key of the fact
    * table — the report that decides which keys need [[graft.operators
    * .Scale.saltedJoin]] before the shuffle. See
    * [[graft.operators.Skew.skewReport]] for the integer bucket contract
    * (bit-length of the per-key count, no floating log).
    */
  def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    Seq("l_orderkey", "l_partkey", "l_suppkey")
      .map(k => graft.operators.Skew.skewReport(li, k).withColumn("key_name", lit(k)))
      .reduce(_ unionByName _)
      .select("key_name", "bucket", "n_keys", "n_rows", "max_key_rows", "rows_share")
      .orderBy("key_name", "bucket")
  }

  val qSkewReportSql: String = {
    def one(k: String) =
      s"""SELECT '$k' AS key_name, bucket, n_keys, n_rows, max_key_rows,
         |  CAST(n_rows AS DOUBLE) / sum(n_rows) OVER () AS rows_share
         |FROM (
         |  SELECT CAST(len(bin(cnt)) AS INT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |    CAST(max(cnt) AS BIGINT) AS max_key_rows
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY $k)
         |  GROUP BY 1)""".stripMargin
    Seq("l_orderkey", "l_partkey", "l_suppkey").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_name, bucket")
  }

  // ---- salted join: skew-safe fact⋈dim ----------------------------------
  /** lineitem⋈part through Scale.saltedJoin — the hot-key-safe formulation.
    * Salting never changes which pairs match (each left row meets exactly
    * the right replica carrying its salt), so the oracle is the plain join.
    */
  def qSaltedJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.saltedJoin(
        table(s, dir, "lineitem").select(col("l_partkey").as("part_key"), col("l_quantity")),
        table(s, dir, "part").select(col("p_partkey").as("part_key"), col("p_brand")),
        "part_key", salts = 8)
      .groupBy("p_brand")
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")

  val qSaltedJoinSql: String =
    """SELECT p_brand, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty, COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---- events: gap-based sessionization ---------------------------------
  /** 30-min-gap sessionization: lag + running sum inside a user window, then
    * one agg per (user, session). Two shuffles total (both on user_id — the
    * exchange is reused). Timestamps flow as epoch millis so ns-precision
    * parquet timestamps can't desync the engines.
    */
  def qEventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val raw = table(s, dir, "events")
    raw
      .select(col("event_id"), col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("new_sess",
        when(col("ts_ms") - lag("ts_ms", 1).over(byUser) > 1800000L, 1).otherwise(0))
      .withColumn("session_id", sum("new_sess").over(byUser))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_ms").as("session_start_ms"),
        max("ts_ms").as("session_end_ms"),
        sum("v").cast("double").as("total_value")
      )
      .orderBy("user_id", "session_id")
  }

  val qEventsSessionizeSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, CAST(value AS DECIMAL(12,2)) AS v,
      |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), sess AS (
      |  SELECT user_id, ts_ms, v,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
      |  CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---- events: NATIVE session_window sessionization -----------------------
  /** Gap-sessionization on Spark's native `session_window()` — the operator
    * the streaming pipeline rides ([[graft.streaming.StreamSessionize]]):
    * one aggregation, the engine owns window merging, and the SAME code
    * shape runs batch and streaming (the session lifecycle — merge on
    * arrival, close at watermark — is the engine's, not hand-rolled state).
    *
    * Boundary semantics are pinned by SessionWindowSpec: the engine merges
    * an event at EXACTLY `last_ts + gap` into the running session (windows
    * combine when they overlap OR touch), i.e. a session breaks only on
    * `diff > gap` — the same rule as [[qEventsSessionize]]'s lag
    * formulation, so the two views agree on membership and differ only in
    * the reported `session_end_ms` = `last_ts + gap` (the instant the
    * session became unextendable) vs the last event time.
    */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    raw
      .select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("value").cast("decimal(12,2)").as("v"))
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("v").cast("double").as("total_value"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start_ms")
  }

  val qSessionWindowSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, CAST(value AS DECIMAL(12,2)) AS v,
      |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), sess AS (
      |  SELECT user_id, ts_ms, v,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM marked
      |)
      |SELECT user_id, MIN(ts_ms) AS session_start_ms,
      |  MAX(ts_ms) + 1800000 AS session_end_ms,
      |  COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start_ms""".stripMargin

  // ---- events: session entry paths ----------------------------------------
  /** Top-20 session ENTRY paths (first ≤5 event types, '>'-joined) — the
    * path-discovery view next to [[qMarkovTransitions]]' one-step matrix:
    * where do sessions actually start and which openings dominate.
    *
    * Session boundaries are the 30-min-gap contract ([[qEventsSessionize]]).
    * Position-in-session comes from the SAME per-user window pass as the
    * session id (pos − last boundary pos — no second shuffle on (user,
    * session)); the path aggregation buffers ≤5 rows per session
    * (`array_sort` on (ts, id, type) structs pins the order collect_list
    * leaves arbitrary), and the top-20 is TakeOrderedAndProject over the
    * \|distinct paths\| frame (≤ \|types\|⁵, control-plane-sized).
    */
  def qSessionPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = table(s, dir, "events")
    raw.select(col("event_id"), col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"))
      .withColumn("new_sess",
        when(col("ts_ms") - lag("ts_ms", 1).over(byUser) > 1800000L, 1).otherwise(0))
      .withColumn("session_id", sum("new_sess").over(byUser))
      .withColumn("pos", row_number().over(byUser))
      .withColumn("idx",
        col("pos") - coalesce(max(when(col("new_sess") === 1, col("pos"))).over(run),
          lit(1)) + lit(1))
      .filter(col("idx") <= 5)
      .groupBy("user_id", "session_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts_ms"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val qSessionPathsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
      |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess,
      |    CAST(row_number() OVER w AS BIGINT) AS pos
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts_ms, event_type,
      |    CAST(sum(new_sess) OVER w2 AS BIGINT) AS session_id,
      |    pos - coalesce(max(CASE WHEN new_sess = 1 THEN pos END) OVER w2, 1) + 1 AS idx
      |  FROM marked
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_ms, event_id
      |                ROWS UNBOUNDED PRECEDING)),
      |paths AS (
      |  SELECT user_id, session_id,
      |    string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
      |  FROM sess WHERE idx <= 5 GROUP BY 1, 2)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM paths GROUP BY path
      |ORDER BY n_sessions DESC, path
      |LIMIT 20""".stripMargin

  // ---- market-basket pair affinity -----------------------------------------
  /** Co-purchase affinity: part pairs appearing in the same order, with
    * lift = P(a,b) / (P(a)·P(b)) — association rules over the order
    * basket, the retail cousin of [[graft.operators.Cooccur]]'s PMI (same
    * division-first pinned tree). Top-50 by support with key tie-breaks.
    *
    * Scale shape: baskets collapse to DISTINCT (order, part) first; the
    * within-order self-join is bounded by Σ\|basket\|² (baskets are
    * single-digit lines — never corpus²); per-part frequencies shuffle
    * slim keys and the order total broadcasts as a 1-row frame.
    */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame = {
    // read three times: both join sides + frequencies
    val li = Caches.persist(table(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk")).distinct())
    val co = li.join(li.select(col("okey"), col("pk").as("pk2")), Seq("okey"))
      .filter(col("pk") < col("pk2"))
      .groupBy("pk", "pk2").agg(count(lit(1)).as("n_co"))
    val freq = li.groupBy("pk").agg(count(lit(1)).as("n"))
    val total = li.agg(countDistinct(col("okey")).as("n_orders"))
    co.join(freq.select(col("pk"), col("n").as("n_a")), "pk")
      .join(freq.select(col("pk").as("pk2"), col("n").as("n_b")), "pk2")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        col("n_co").cast("double") / col("n_a") * col("n_orders") / col("n_b"))
      .select("pk", "pk2", "n_co", "n_a", "n_b", "lift")
      .orderBy(col("n_co").desc, col("pk"), col("pk2"))
      .limit(50)
  }

  val qBasketPairsSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
      |co AS (
      |  SELECT a.pk, b.pk AS pk2, CAST(count(*) AS BIGINT) AS n_co
      |  FROM li a JOIN li b ON a.okey = b.okey AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |f AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1),
      |t AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM li)
      |SELECT co.pk, co.pk2, co.n_co, fa.n AS n_a, fb.n AS n_b,
      |  CAST(co.n_co AS DOUBLE) / fa.n * t.n_orders / fb.n AS lift
      |FROM co JOIN f fa ON fa.pk = co.pk
      |        JOIN f fb ON fb.pk = co.pk2, t
      |ORDER BY co.n_co DESC, co.pk, co.pk2
      |LIMIT 50""".stripMargin

  // ---- forecast baseline backtest ------------------------------------------
  /** Naive vs seasonal-naive one-step backtest over daily revenue: MAE of
    * "predict yesterday's value" against "predict the value 7 calendar
    * days ago" — the two baselines any forecast must beat, and the
    * cheapest seasonality detector (seasonal MAE ≪ naive MAE ⇒ weekly
    * cycle). Calendar joins (day−1 / day−7 must EXIST) keep each
    * predictor honest on gapped series; absolute errors sum as exact
    * micro-units; each MAE is ONE pinned division. Everything after the
    * daily aggregation runs on the \|days\| control-plane frame.
    */
  def qForecastBaseline(s: SparkSession, dir: String): DataFrame = {
    // tiny; read three times (base + two shifted copies)
    val daily = Caches.persist(table(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("rev_u"))
      .groupBy("day").agg(sum("rev_u").as("y")))
    def backtest(shift: Int, tag: String) =
      daily.join(daily.select((col("day") + shift).as("day"), col("y").as("y_hat")), "day")
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(abs(col("y") - col("y_hat"))).as(s"sae_$tag"))
        .withColumn(s"mae_${tag}_u",
          col(s"sae_$tag").cast("double") / col(s"n_$tag"))
    backtest(1, "naive").crossJoin(backtest(7, "seasonal"))
      .select("n_naive", "sae_naive", "mae_naive_u",
        "n_seasonal", "sae_seasonal", "mae_seasonal_u")
  }

  val qForecastBaselineSql: String =
    """WITH d AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(sum(CAST(round(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_naive,
      |    CAST(sum(abs(a.y - b.y)) AS BIGINT) AS sae_naive
      |  FROM d a JOIN d b ON b.day = a.day - 1),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_seasonal,
      |    CAST(sum(abs(a.y - b.y)) AS BIGINT) AS sae_seasonal
      |  FROM d a JOIN d b ON b.day = a.day - 7)
      |SELECT n_naive, sae_naive,
      |  CAST(sae_naive AS DOUBLE) / n_naive AS mae_naive_u,
      |  n_seasonal, sae_seasonal,
      |  CAST(sae_seasonal AS DOUBLE) / n_seasonal AS mae_seasonal_u
      |FROM n, s""".stripMargin

  // ---- events: burst detection -------------------------------------------
  /** Robust per-type burst detector: minute-grain event counts, then the
    * Hampel gate (|cnt − median| > 3·MAD) per event_type — the monitoring
    * query that catches a traffic spike without the mean/σ breakdown
    * problem (a large burst inflates σ and hides itself; median/MAD has a
    * 50% breakdown point — see [[graft.operators.Curation.robustOutliers]]).
    * Integer end-to-end: minute = epoch-ms DIV 60000; counts and both
    * medians ride the histogram-CDF engine, so the verdict column is
    * bit-deterministic.
    */
  def qBurstDetect(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    val counts = raw
      .select(GraftSession.eventTsMs(raw).as("ts_ms"), col("event_type"))
      .select(expr("ts_ms DIV 60000").as("minute"), col("event_type"))
      .groupBy("event_type", "minute").agg(count(lit(1)).as("cnt"))
    graft.operators.Curation.robustOutliers(counts, "minute", "event_type", "cnt", k = 3)
      .orderBy("event_type", "minute")
  }

  val qBurstDetectSql: String =
    """WITH s AS (
      |  SELECT epoch_ms(ts) // 60000 AS minute, event_type,
      |    CAST(count(*) AS BIGINT) AS value
      |  FROM events GROUP BY 1, 2),
      |h1 AS (SELECT event_type, value AS v, CAST(count(*) AS BIGINT) AS cnt
      |       FROM s GROUP BY 1, 2),
      |c1 AS (
      |  SELECT event_type, v,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h1),
      |med AS (
      |  SELECT event_type, CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS med
      |  FROM c1 GROUP BY event_type),
      |d AS (
      |  SELECT s.minute, s.event_type, s.value, m.med, abs(s.value - m.med) AS adev
      |  FROM s JOIN med m USING (event_type)),
      |h2 AS (SELECT event_type, adev AS v, CAST(count(*) AS BIGINT) AS cnt
      |       FROM d GROUP BY 1, 2),
      |c2 AS (
      |  SELECT event_type, v,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h2),
      |mad AS (
      |  SELECT event_type, CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS mad
      |  FROM c2 GROUP BY event_type)
      |SELECT d.minute, d.event_type, d.value, d.med, ma.mad,
      |  d.adev > 3 * ma.mad AS is_outlier
      |FROM d JOIN mad ma USING (event_type)
      |ORDER BY d.event_type, d.minute""".stripMargin

  // ---- events: A/B test report --------------------------------------------
  /** Two-proportion A/B test over the events stream: users split into
    * variants by the deterministic md5 hash ([[graft.functions.Sampling
    * .md5Bucket]] — the experiment-assignment contract: stable across
    * reruns, no RNG), conversion = "user has ≥1 qualified purchase"
    * (value ≥ 200 — a plain threshold keeps the rate in the interesting
    * range on this corpus, where every user has SOME purchase), and the
    * report is the pooled two-proportion z² statistic (z² > 3.84 ≈ p <
    * 0.05). Every arithmetic step is either exact-integer or an IEEE
    * double op mirrored EXACTLY in the oracle (correctly-rounded + - ×
    * ÷ on identical trees are bit-deterministic cross-engine — the same
    * argument as the pinned single division, applied to a fixed tree).
    *
    * Scale shape: one per-user map-side-combined agg, one 2-row variant
    * agg, one 1-row pivot — after the first agg nothing is corpus-sized.
    */
  def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val users = table(s, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
        .otherwise(0L)).as("converted"))
      .select(graft.functions.Sampling.md5Bucket(col("user_id"), 2).as("variant"),
        col("converted"))
    val per = users.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
    val wide = per.agg(
      sum(when(col("variant") === 0, col("n_users"))).as("n_a"),
      sum(when(col("variant") === 0, col("n_conv"))).as("conv_a"),
      sum(when(col("variant") === 1, col("n_users"))).as("n_b"),
      sum(when(col("variant") === 1, col("n_conv"))).as("conv_b"))
    val rateA = col("conv_a").cast("double") / col("n_a")
    val rateB = col("conv_b").cast("double") / col("n_b")
    val pool = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val lift = rateB - rateA
    wide.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      rateA.as("rate_a"), rateB.as("rate_b"), lift.as("lift"),
      ((lift * lift) / (pool * (lit(1.0) - pool) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))).as("z2"))
  }

  val qAbTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(max(CASE WHEN event_type = 'purchase' AND value >= 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS converted
      |  FROM events GROUP BY 1),
      |v AS (
      |  SELECT CAST(md5_number_lower(CAST(user_id AS VARCHAR)) % 2 AS INT) AS variant,
      |    converted
      |  FROM u),
      |p AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
      |             CAST(sum(converted) AS BIGINT) AS n_conv
      |      FROM v GROUP BY 1),
      |w AS (SELECT
      |  CAST(sum(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS conv_a,
      |  CAST(sum(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS conv_b
      |  FROM p)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a AS DOUBLE) / n_a AS rate_a,
      |  CAST(conv_b AS DOUBLE) / n_b AS rate_b,
      |  CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a AS lift,
      |  ((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
      |   * (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a))
      |  / ((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |     * (1e0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |     * (1e0 / n_a + 1e0 / n_b)) AS z2
      |FROM w""".stripMargin

  // ---- CUPED variance-reduced experiment readout ---------------------------
  /** CUPED-adjusted A/B readout (Deng et al., WSDM 2013): per-user
    * purchase revenue in the experiment window (ts ≥ 2024-01-15) adjusted
    * by the PRE-period revenue covariate — θ = cov(X,Y)/var(X) pooled
    * over both variants (pre-period data is treatment-independent, so θ
    * introduces no bias), adjusted lift = raw lift − θ·(x̄_b − x̄_a), and
    * the variance-reduction factor is corr²(X,Y). Revenue is integerized
    * to exact cents (the [[qCohortLtv]] round-to-long trade), so every
    * SUM the moments build on is exact int64 and the double θ/lift math
    * runs on identical inputs in any engine or partitioning; the one
    * overflow-shaped term (n·Σxy) is computed in doubles, documented.
    *
    * Scale shape: one scan → per-user groupBy (map-side combine) →
    * single 1-row moment reduce; nothing driver-side, no window.
    */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val cutoffMs = 1705276800000L // 2024-01-15T00:00:00Z
    val tsMs = graft.GraftSession.eventTsMs(ev)
    val cents = round(col("value") * 100.0).cast("long")
    val isP = col("event_type") === "purchase"
    val users = ev
      .groupBy("user_id")
      .agg(sum(when(isP && tsMs < cutoffMs, cents).otherwise(0L)).as("x"),
        sum(when(isP && tsMs >= cutoffMs, cents).otherwise(0L)).as("y"))
      .select(graft.functions.Sampling.md5Bucket(col("user_id"), 2).as("variant"),
        col("x"), col("y"))
    val m = users.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"),
      sum(col("y") * col("y")).as("sy2"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy_b"))
    val covn = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varxn = col("n").cast("double") * col("sx2").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varyn = col("n").cast("double") * col("sy2").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val theta = covn / varxn
    val rawLift = col("sy_b").cast("double") / col("n_b") -
      col("sy_a").cast("double") / col("n_a")
    val xGap = col("sx_b").cast("double") / col("n_b") -
      col("sx_a").cast("double") / col("n_a")
    m.select(col("n_a"), col("n_b"), rawLift.as("raw_lift_cents"),
      theta.as("theta"), (rawLift - theta * xGap).as("adj_lift_cents"),
      (covn * covn / (varxn * varyn)).as("var_reduction"))
  }

  val qCupedSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'purchase' AND epoch_ms(ts) < 1705276800000
      |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' AND epoch_ms(ts) >= 1705276800000
      |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |v AS (
      |  SELECT CAST(md5_number_lower(CAST(user_id AS VARCHAR)) % 2 AS INT) AS variant, x, y
      |  FROM u),
      |m AS (SELECT
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sx2,
      |  CAST(sum(y * y) AS BIGINT) AS sy2,
      |  CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
      |  CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
      |  CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
      |  CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
      |  FROM v)
      |SELECT n_a, n_b,
      |  CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a AS raw_lift_cents,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
      |  (CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a)
      |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |      * (CAST(sx_b AS DOUBLE) / n_b - CAST(sx_a AS DOUBLE) / n_a) AS adj_lift_cents,
      |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
      |  / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS var_reduction
      |FROM m""".stripMargin

  // ---- events: transition matrix ------------------------------------------
  /** First-order Markov transition matrix over per-user event streams —
    * the funnel-discovery query: for every (prev → next) event-type pair,
    * the count and the conditional probability P(next | prev). Per-user
    * lag over the (ts, event_id) total order (the events-family tie-break
    * contract — ties otherwise make the lag nondeterministic); the
    * |types|² matrix is control-plane-sized, so the row-probability
    * denominator joins from a broadcast |types| frame; ONE pinned
    * division per cell.
    */
  def qMarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val raw = table(s, dir, "events")
    // read twice: matrix cells + row totals (cache barrier)
    val trans = Caches.persist(raw
      .select(col("event_id"), col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n")))
    val totals = trans.groupBy("prev_type").agg(sum("n").as("__row_n"))
    trans.join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("__row_n")).as("p"))
      .orderBy("prev_type", "next_type")
  }

  val qMarkovTransitionsSql: String =
    """WITH t AS (
      |  SELECT event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |      AS prev_type
      |  FROM events),
      |c AS (
      |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n, CAST(c.n AS DOUBLE) / r.row_n AS p
      |FROM c JOIN r USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  // ---- events: tumbling-window aggregation ------------------------------
  /** Tumbling 1h windows — the batch shape of the Structured Streaming agg
    * in graft.streaming (the same grouping runs on readStream via
    * `window()`; here the bucket is integer epoch math for oracle-exact
    * interchange).
    */
  def qEventsWindow(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    raw
      .select(GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value").cast("decimal(12,2)").as("v"))
      .select(expr("ts_ms DIV 3600000 * 3600000").as("window_start_ms"),
        col("event_type"), col("v"))
      .groupBy("window_start_ms", "event_type")
      .agg(count(lit(1)).as("n"), sum("v").cast("double").as("sum_value"))
      .orderBy("window_start_ms", "event_type")
  }

  val qEventsWindowSql: String =
    """SELECT epoch_ms(ts) // 3600000 * 3600000 AS window_start_ms, event_type,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- events: hopping-window aggregation --------------------------------
  /** Hopping (sliding) 1h windows every 30 min — the batch twin of
    * Structured Streaming's `window(ts, "1 hour", "30 minutes")`. Each
    * event lands in len/hop = 2 windows; the membership explode is a pure
    * per-row `sequence` (no shuffle added beyond the one aggregation), and
    * the window start is integer epoch math so both engines bucket
    * identically. At scale the fan-out is bounded by len/hop — the
    * aggregation state, not the explode, is the cost, exactly as in the
    * streaming twin.
    */
  def qEventsHop(s: SparkSession, dir: String): DataFrame = {
    val hopMs = 1800000L // 30 min
    val nWins = 2        // 1h window / 30min hop
    val raw = table(s, dir, "events")
    raw
      .select(GraftSession.eventTsMs(raw).as("ts_ms"),
        col("event_type"), col("value").cast("decimal(12,2)").as("v"))
      .select(explode(expr(s"sequence(0, ${nWins - 1})")).as("k"),
        col("ts_ms"), col("event_type"), col("v"))
      .select(expr(s"(ts_ms DIV $hopMs - k) * $hopMs").as("window_start_ms"),
        col("event_type"), col("v"))
      .groupBy("window_start_ms", "event_type")
      .agg(count(lit(1)).as("n"), sum("v").cast("double").as("sum_value"))
      .orderBy("window_start_ms", "event_type")
  }

  val qEventsHopSql: String =
    """SELECT (epoch_ms(ts) // 1800000 - k) * 1800000 AS window_start_ms, event_type,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events, LATERAL unnest(generate_series(0, 1)) AS g(k)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- events: ordered funnel --------------------------------------------
  /** Three-stage ordered funnel per user: first view → first click AFTER
    * that view → first purchase AFTER that click (strict event-time order —
    * a click preceding every view doesn't advance the funnel). The
    * product-analytics staple on an event stream.
    *
    * Scale shape: three slim aggregations keyed by user_id; each later
    * stage joins the previous stage's one-row-per-user frame and
    * re-aggregates — Catalyst reuses the user_id hash partitioning across
    * the chain, and only (user, ms) pairs move. No windows, no per-user
    * event buffering.
    */
  def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    // deterministic 1-in-31 sparsification: the synthetic stream is so dense
    // every user would reach stage 3, making the partial-stage logic (and
    // its oracle branch) unreachable; the modulus keeps stages 1/2/3 all
    // populated while staying engine-identical
    val ev = raw.select(col("user_id"), col("event_type"),
      GraftSession.eventTsMs(raw).as("ts_ms"))
      .filter(raw("event_id") % 31 === 0)
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("view_ms"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, "user_id")
      .filter(col("ts_ms") > col("view_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("click_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("ts_ms") > col("click_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("purchase_ms"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ms"), col("click_ms"), col("purchase_ms"),
        (lit(1) + col("click_ms").isNotNull.cast("int") +
          col("purchase_ms").isNotNull.cast("int")).as("stage"))
      .orderBy("user_id")
  }

  val qEventsFunnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms
      |            FROM events WHERE event_id % 31 = 0),
      |v AS (SELECT user_id, min(ts_ms) AS view_ms FROM ev WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT ev.user_id, min(ts_ms) AS click_ms
      |      FROM ev JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_ms > view_ms GROUP BY 1),
      |p AS (SELECT ev.user_id, min(ts_ms) AS purchase_ms
      |      FROM ev JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_ms > click_ms GROUP BY 1)
      |SELECT v.user_id, v.view_ms, c.click_ms, p.purchase_ms,
      |  CAST(1 + CASE WHEN c.click_ms IS NULL THEN 0 ELSE 1 END
      |         + CASE WHEN p.purchase_ms IS NULL THEN 0 ELSE 1 END AS INT) AS stage
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---- events: JSON property extraction ---------------------------------
  /** Schemaless JSON props → typed column, fully codegen'd (no UDF). */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(
        col("event_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k")
      )
      .orderBy("event_id")

  val qJsonExtractSql: String =
    """SELECT event_id, event_type, CAST(props->>'$.k' AS BIGINT) AS k
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- events: cohort retention ------------------------------------------
  /** Weekly cohort retention — the classic product-analytics matrix: users
    * cohorted by the week of their first event, and for every later week
    * the count (and share) of the cohort still active. Week buckets are
    * integer epoch math (`ts_ms DIV weekMs` — the [[qEventsWindow]]
    * contract), so both engines cohort identically; the retention share is
    * ONE pinned double division.
    *
    * Scale shape: (user, week) distinct is one map-side-combined
    * aggregation; the first-week frame is a second slim agg keyed by user,
    * joined back on the SAME key (co-partitioned, no extra exchange under
    * AQE); the final matrix is |cohorts|·|offsets| rows — control-plane
    * sized — and the offset-0 join that prices the share broadcasts.
    */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    val raw = table(s, dir, "events")
    val ev = raw.select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"))
      .select(col("user_id"), expr(s"ts_ms DIV $weekMs").as("wk"))
      .distinct()
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val r = ev.join(first, "user_id")
      .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_users"))
    val c = r.filter(col("week_offset") === 0)
      .select(col("cohort_wk"), col("n_users").as("cohort_size"))
    r.join(broadcast(c), Seq("cohort_wk"))
      .select(col("cohort_wk"), col("week_offset"), col("n_users"),
        (col("n_users").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort_wk", "week_offset")
  }

  val qRetentionSql: String =
    """WITH ev AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
      |r AS (
      |  SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset, CAST(count(*) AS BIGINT) AS n_users
      |  FROM ev e JOIN f USING (user_id) GROUP BY 1, 2),
      |c AS (SELECT cohort_wk, n_users AS cohort_size FROM r WHERE week_offset = 0)
      |SELECT r.cohort_wk, r.week_offset, r.n_users,
      |  CAST(r.n_users AS DOUBLE) / c.cohort_size AS retention
      |FROM r JOIN c USING (cohort_wk)
      |ORDER BY cohort_wk, week_offset""".stripMargin

  // ---- graph centrality: fixed-point PageRank ----------------------------
  /** Customer↔supplier authority over the order-flow bipartite graph:
    * distinct (custkey, suppkey) trade edges symmetrized, 3 exact-integer
    * PageRank rounds ([[graft.operators.Graph.pageRank]]). The oracle
    * replays edge derivation, degrees, and every floor-division round in
    * SQL — `rank` values hash bit-exact.
    */
  /** LONG node encoding for the trade graph (r13): customer k ↔ 2k,
    * supplier k ↔ 2k+1 — injective, so the encoded graph is ISOMORPHIC to
    * the "c k"/"s k" string graph and every per-node graph value (rank,
    * hub/auth, hop count, within-core degree) is identical after decoding.
    * Every operator-internal shuffle/join/distinct then carries one long
    * instead of a string (guide §2.3 narrower types; the r12 group-min
    * relabel precedent). NOT applied to q_concomp: its component LABEL is
    * the min node id, and min-under-long-order ≠ min-under-string-order.
    */
  private def tradeNode(n: Column): Column =
    when(n.bitwiseAND(lit(1L)) === 0,
      concat(lit("c"), shiftright(n, 1).cast("string")))
      .otherwise(concat(lit("s"), shiftright(n, 1).cast("string")))

  /** The distinct customer→supplier trade edges (src = 2·custkey,
    * dst = 2·suppkey + 1, see [[tradeNode]]), persisted and registered —
    * the one edge frame behind q_pagerank, q_ppr, q_bfs_hops and q_hits.
    * The distinct runs on the INT key pair (r13): the dedup exchange
    * carries two longs, and node strings are decoded only on the final
    * node-sized frame. Persisted because every caller reads it twice
    * (both symmetrization legs, or the operator's two edge copies; r12:
    * o⋈l ran twice).
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val edges = Caches.persist(table(s, dir, "orders").join(table(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct())
    edges
  }

  /** [[tradeEdges]] in both directions. Duplicate-free: the edges are
    * distinct and the two legs are disjoint (customers even, suppliers
    * odd), so the walk operators may skip their canonical distinct.
    */
  private def symTradeEdges(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
  }

  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Graph.pageRank(symTradeEdges(s, dir), "src", "dst", iters = 3,
        edgesDistinct = true)
      .select(tradeNode(col("node")).as("node"), col("rank"))
      .orderBy("node")
  }

  val qPageRankSql: String =
    """WITH e AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS s
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |eb AS (SELECT c AS src, s AS dst FROM e UNION ALL SELECT s, c FROM e),
      |nodes AS (SELECT DISTINCT src AS node FROM eb),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM eb GROUP BY src),
      |k AS (
      |  SELECT n, 1000000000000 // n AS init,
      |         (150 * (1000000000000 // n)) // 1000 AS base
      |  FROM nn),
      |r0 AS (SELECT node, (SELECT init FROM k) AS rank FROM nodes),
      |c1 AS (
      |  SELECT eb.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS i
      |  FROM eb JOIN r0 r ON r.node = eb.src JOIN deg d ON d.src = eb.src
      |  GROUP BY eb.dst),
      |r1 AS (
      |  SELECT n.node, (SELECT base FROM k) + (850 * coalesce(c1.i, 0)) // 1000 AS rank
      |  FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
      |c2 AS (
      |  SELECT eb.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS i
      |  FROM eb JOIN r1 r ON r.node = eb.src JOIN deg d ON d.src = eb.src
      |  GROUP BY eb.dst),
      |r2 AS (
      |  SELECT n.node, (SELECT base FROM k) + (850 * coalesce(c2.i, 0)) // 1000 AS rank
      |  FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
      |c3 AS (
      |  SELECT eb.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS i
      |  FROM eb JOIN r2 r ON r.node = eb.src JOIN deg d ON d.src = eb.src
      |  GROUP BY eb.dst),
      |r3 AS (
      |  SELECT n.node, (SELECT base FROM k) + (850 * coalesce(c3.i, 0)) // 1000 AS rank
      |  FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
      |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin

  // ---- graph relevance: personalized PageRank ------------------------------
  /** Random-walk-with-restart relevance to five seed customers over the
    * same trade graph as [[qPageRank]] — "which suppliers (and
    * fellow customers) sit closest to this cohort". See
    * [[graft.operators.Graph.pageRank]] with seeds; every floor-division
    * round replays in SQL, ranks hash bit-exact.
    */
  def qPersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    // seeds c1..c5 are customers 1..5 = encoded longs 2,4,6,8,10 (see
    // [[tradeNode]]). dropZeroRanks (r13): the rank>0 gate is decided
    // inside the operator's FINAL round from base columns, replacing r12's
    // localCheckpoint + filter-on-computed-rank (the filter pushed through
    // the 3-round plan cost ~1.7 s/run of optimizer constraint
    // re-derivation; the checkpoint traded it for an eager extra
    // materialization — both gone).
    graft.operators.Graph.pageRank(symTradeEdges(s, dir), "src", "dst", iters = 3,
        seeds = Seq(2L, 4L, 6L, 8L, 10L), edgesDistinct = true, dropZeroRanks = true)
      .select(tradeNode(col("node")).as("node"), col("rank"))
      .orderBy("node")
  }

  val qPersonalizedPagerankSql: String = {
    val seedList = "('c1', 'c2', 'c3', 'c4', 'c5')"
    def round(i: Int) = {
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT eb.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS i
         |  FROM eb JOIN $prev r ON r.node = eb.src JOIN deg d ON d.src = eb.src
         |  GROUP BY eb.dst),
         |r$i AS (
         |  SELECT n.node,
         |    (CASE WHEN n.node IN $seedList THEN (SELECT sb FROM k) ELSE 0 END)
         |    + (850 * coalesce(c$i.i, 0)) // 1000 AS rank
         |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |eb AS (SELECT c AS src, s AS dst FROM e UNION ALL SELECT s, c FROM e),
       |nodes AS (SELECT DISTINCT src AS node FROM eb),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM eb GROUP BY src),
       |k AS (SELECT 1000000000000 // 5 AS init,
       |             (150 * (1000000000000 // 5)) // 1000 AS sb),
       |r0 AS (SELECT node,
       |         CASE WHEN node IN $seedList THEN (SELECT init FROM k) ELSE 0 END AS rank
       |       FROM nodes),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
       |WHERE rank > 0 ORDER BY node""".stripMargin
  }

  // ---- graph clustering: connected components ----------------------------
  /** Trade communities over the SPARSIFIED customer↔supplier graph (edges
    * = pairs whose summed order quantity ≥ 80 — high-volume relationships
    * only), labeled by [[graft.operators.Graph.connectedComponents]]
    * (converged true components; the spec proves them == driver
    * union-find on the real table). `csize` is each node's component
    * population. The oracle replays edge derivation and 6 unrolled
    * neighbor-min + pointer-halving rounds — the measured fixed point at
    * sf0.01 AND sf0.1 — so labels hash bit-exact.
    */
  def qConcomp(s: SparkSession, dir: String): DataFrame = {
    val edges = table(s, dir, "orders").join(table(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .filter(col("q") >= 80)
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
    val labels = graft.operators.Graph.connectedComponents(edges, "src", "dst")
    labels.join(labels.groupBy("comp").agg(count(lit(1)).as("csize")), "comp")
      .select(col("node"), col("comp"), col("csize"))
      .orderBy("node")
  }

  val qConcompSql: String = {
    val rounds = (1 to 6).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s"""m$r AS MATERIALIZED (
         |  SELECT node, min(comp) AS comp FROM (
         |    SELECT eb.dst AS node, p.comp FROM eb JOIN $prev p ON p.node = eb.src
         |    UNION ALL SELECT node, comp FROM $prev) GROUP BY node),
         |l$r AS MATERIALIZED (
         |  SELECT a.node, least(a.comp, coalesce(b.comp, a.comp)) AS comp
         |  FROM m$r a LEFT JOIN $prev b ON a.comp = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |         's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey, l_suppkey HAVING sum(l_quantity) >= 80),
       |eb AS MATERIALIZED (SELECT src, dst FROM e0 UNION
       |       SELECT dst AS src, src AS dst FROM e0),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS comp FROM eb),
       |$rounds,
       |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS csize FROM l6 GROUP BY comp)
       |SELECT l6.node, l6.comp, sz.csize FROM l6 JOIN sz ON sz.comp = l6.comp
       |ORDER BY node""".stripMargin
  }

  // ---- k-core nucleus of the repeat-business graph ------------------------
  /** 2-core of the REPEAT-business trade graph (edges = customer–supplier
    * pairs with ≥ 2 distinct orders): shave pendant chains until every
    * remaining participant has ≥ 2 steady counterparties — the dense
    * nucleus the one-off noise hides. [[graft.operators.Graph.kCore]]
    * runs peeling to the fixed point; the oracle unrolls 8 peel rounds
    * (measured fixed point: 2 at sf0.01, 4 at sf0.1 — rounds past the
    * fixed point are no-ops, so over-unrolling is safe, which is what
    * lets a fixed-depth SQL replay gate a run-to-convergence operator).
    */
  /** Peel rounds the SQL oracle unrolls — must upper-bound the operator's
    * measured convergence on every gated fixture (2 at sf0.01, 4 at
    * sf0.1; GraphExtraSpec gates kCore(maxRounds = kcoreUnrollRounds)
    * so a fixture needing more rounds fails the spec, not the oracle).
    */
  val kcoreUnrollRounds = 8

  def qKcore(s: SparkSession, dir: String): DataFrame = {
    // LONG node encoding (r13, see [[tradeNode]]): within-core degrees are
    // isomorphism-invariant, so decoding after the peel is value-identical
    // both symmetrization legs read it (r12: o⋈l+agg ran twice)
    val edges = Caches.persist(table(s, dir, "orders").join(table(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(countDistinct(col("o_orderkey")).as("no"))
      .filter(col("no") >= 2)
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst")))
    // symDistinct (r13): the aggregation grain makes `edges` distinct and
    // the graph is bipartite (even/odd longs), so the symmetrized union is
    // provably duplicate-free
    graft.operators.Graph.kCore(edges, "src", "dst", k = 2, symDistinct = true)
      .select(tradeNode(col("node")).as("node"), col("deg"))
      .orderBy("node")
  }

  val qKcoreSql: String = {
    val rounds = (1 to kcoreUnrollRounds).map { r =>
      val prev = if (r == 1) "a0" else s"a${r - 1}"
      s"""a$r AS MATERIALIZED (
         |  SELECT eb.src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM eb JOIN $prev x ON x.node = eb.src JOIN $prev y ON y.node = eb.dst
         |  GROUP BY eb.src HAVING count(*) >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |         's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey, l_suppkey HAVING count(DISTINCT o_orderkey) >= 2),
       |eb AS MATERIALIZED (SELECT src, dst FROM e0 UNION
       |      SELECT dst AS src, src AS dst FROM e0),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM eb),
       |$rounds
       |SELECT node, deg FROM a$kcoreUnrollRounds ORDER BY node""".stripMargin
  }

  // ---- multi-source BFS neighborhood ---------------------------------------
  /** Hop distance from a three-customer seed cohort over the trade graph,
    * bounded at 3 hops — the blast-radius / trusted-list-expansion
    * primitive. Fixed round count ([[graft.operators.Graph.bfsHops]]):
    * settled distances are final under frontier monotonicity, so round-3
    * output is the exact min-hop distance for everything within 3.
    */
  def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    // seeds c1..c3 = encoded longs 2,4,6 (see [[tradeNode]]); symDistinct:
    // distinct int pairs, bipartite even/odd — see qKcore
    graft.operators.Graph.bfsHops(tradeEdges(s, dir), "src", "dst",
        seeds = Seq(2L, 4L, 6L), rounds = 3, symDistinct = true)
      .select(tradeNode(col("node")).as("node"), col("hops"))
      .orderBy("node")
  }

  val qBfsHopsSql: String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"d${r - 1}"
      s"""d$r AS MATERIALIZED (
         |  SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
         |    SELECT eb.dst AS node, p.hops + 1 AS hops FROM eb JOIN $prev p ON p.node = eb.src
         |    UNION ALL SELECT node, hops FROM $prev) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |eb AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS hops
       |  FROM (VALUES ('c1'), ('c2'), ('c3')) v(node)),
       |$rounds
       |SELECT node, hops FROM d3 ORDER BY node""".stripMargin
  }

  // ---- HITS hubs & authorities over the directed trade graph ---------------
  /** Exact-integer HITS on the directed customer→supplier order graph:
    * authorities = suppliers many strong buyers rely on, hubs = customers
    * whose baskets concentrate on strong suppliers. Two mutual-
    * reinforcement rounds, each half-step floor-renormalized to 10⁶ total
    * mass ([[graft.operators.Graph.hits]]) — the oracle replays both
    * rounds including the normalization totals as scalar subqueries.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    // the persisted distinct edges are flagged edgesDistinct so the
    // operator's two pre-partitioned edge copies both read the cached
    // canonical frame instead of re-deriving o⋈l + distinct
    graft.operators.Graph.hits(tradeEdges(s, dir), "src", "dst", iters = 2, edgesDistinct = true)
      .select(tradeNode(col("node")).as("node"), col("hub"), col("auth"))
      .orderBy("node")
  }

  val qHitsSql: String = {
    def round(i: Int) = {
      val ph = s"h${i - 1}"
      s"""ra$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(t.raw, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
         |    FROM e JOIN $ph h ON h.node = e.src GROUP BY e.dst) t ON t.node = n.node),
         |a$i AS MATERIALIZED (
         |  SELECT node, (raw * 1000000) // greatest(1, (SELECT sum(raw) FROM ra$i)) AS s
         |  FROM ra$i),
         |rh$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(t.raw, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS raw
         |    FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src) t ON t.node = n.node),
         |h$i AS MATERIALIZED (
         |  SELECT node, (raw * 1000000) // greatest(1, (SELECT sum(raw) FROM rh$i)) AS s
         |  FROM rh$i)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT node, 1000000 // (SELECT count(*) FROM nodes) AS s FROM nodes),
       |${round(1)},
       |${round(2)}
       |SELECT n.node, CAST(h2.s AS BIGINT) AS hub, CAST(a2.s AS BIGINT) AS auth
       |FROM nodes n JOIN h2 ON h2.node = n.node JOIN a2 ON a2.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  // ---- triangle counts over the part co-order graph ----------------------
  /** Per-part triangle counts on the co-purchase graph: parts are linked
    * when some order contains both, with the edge set thinned to a
    * DETERMINISTIC 30% md5 sample (the co-order graph's density is an
    * artifact of the synthetic catalog's size; a real 100 TB catalog is
    * sparse, and the sample keeps the benchmarked wedge work at the
    * real-graph shape while exercising the same plan). The operator runs
    * the degree-ordered wedge enumeration ([[graft.operators.Graph
    * .triangleCounts]] — Σ d_out² ≤ m^1.5 wedge bound); the oracle replays
    * the result with the naive a<b<c three-way join, which is the
    * RESULT-equality proof that orientation only reshapes the work.
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val sl = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val a = sl.select(col("ok"), col("pk").as("p1"))
    val b = sl.select(col("ok").as("ok2"), col("pk").as("p2"))
    val edges = a.join(b, col("ok") === col("ok2"))
      .filter(col("p1") < col("p2"))
      .select("p1", "p2").distinct()
      .filter(graft.functions.Sampling.md5Bucket(
        concat(col("p1").cast("string"), lit(":"), col("p2").cast("string")), 10) < 3)
    graft.operators.Graph.triangleCounts(edges, "p1", "p2")
      .orderBy("node")
  }

  val qTrianglesSql: String =
    """WITH sl AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM sl a JOIN sl b ON a.ok = b.ok AND a.pk < b.pk),
      |es AS (
      |  SELECT u, v FROM e
      |  WHERE md5_number_lower(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) % 10 < 3),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS node FROM es UNION ALL SELECT v FROM es) GROUP BY node),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM es e1 JOIN es e2 ON e2.u = e1.v JOIN es e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pn AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) GROUP BY node)
      |SELECT deg.node, deg.deg, coalesce(pn.n_tri, 0) AS n_tri
      |FROM deg LEFT JOIN pn ON pn.node = deg.node
      |ORDER BY deg.node""".stripMargin

  // ---- fuzzy record linkage (deletion-neighborhood blocking) ------------
  /** Typo'd-identifier linkage: a deterministically corrupted 20% sample of
    * customer names (one character deleted at an md5-derived position — the
    * planted "dirty EDI feed") linked back to the master table via
    * [[graft.operators.FuzzyLink.linkReport]]'s SymSpell-style variant
    * equi-join + levenshtein verify. Padded numeric IDs make the linkage
    * honestly ambiguous (deleting a pad zero can land within distance 1 of
    * several masters); `n_cand` reports that ambiguity.
    */
  def qFuzzyLink(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sampling
    val cust = table(s, dir, "customer")
    // native graft_md5_mod (r13): value-identical to pmod(md5Lower(·), 5)
    val pick = graft.plans.NativeHash.md5Mod(col("c_custkey").cast("string"), 5L) === 0
    val pos0 = pmod(Sampling.md5Lower(concat(lit("fz:"), col("c_custkey").cast("string"))),
                    length(col("c_name")).cast("decimal(20,0)")).cast("int")
    val probe = cust.filter(pick)
      .select(col("c_custkey").as("pid"),
        concat(col("c_name").substr(lit(1), pos0),
               col("c_name").substr(pos0 + lit(2), length(col("c_name")))).as("pname"))
    graft.operators.FuzzyLink.linkReport(cust, "c_custkey", "c_name", probe, "pid", "pname")
      .orderBy("probe_id")
  }

  val qFuzzyLinkSql: String =
    """WITH probe AS (
      |  SELECT c_custkey AS probe_id,
      |    substr(c_name, 1, pos0) || substr(c_name, pos0 + 2, length(c_name)) AS probe_name
      |  FROM (
      |    SELECT c_custkey, c_name,
      |      CAST(md5_number_lower('fz:' || CAST(c_custkey AS VARCHAR)) % length(c_name) AS INT) AS pos0
      |    FROM customer
      |    WHERE md5_number_lower(CAST(c_custkey AS VARCHAR)) % 5 = 0)),
      |pv AS (
      |  SELECT DISTINCT probe_id, probe_name,
      |    CASE WHEN i = 0 THEN probe_name
      |         ELSE substr(probe_name, 1, i - 1) || substr(probe_name, i + 1, length(probe_name)) END AS variant
      |  FROM probe, unnest(range(0, length(probe_name) + 1)) AS r(i)),
      |mv AS (
      |  SELECT DISTINCT c_custkey AS master_id, c_name AS master_name,
      |    CASE WHEN i = 0 THEN c_name
      |         ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1, length(c_name)) END AS variant
      |  FROM customer, unnest(range(0, length(c_name) + 1)) AS r(i)),
      |cand AS (
      |  SELECT DISTINCT probe_id, probe_name, master_id, master_name
      |  FROM pv JOIN mv USING (variant)),
      |ok AS (
      |  SELECT probe_id, probe_name, master_id, master_name,
      |    CAST(levenshtein(probe_name, master_name) AS INT) AS distance
      |  FROM cand WHERE levenshtein(probe_name, master_name) <= 1)
      |SELECT probe_id, probe_name, match_id, match_name, distance, n_cand FROM (
      |  SELECT probe_id, probe_name, master_id AS match_id, master_name AS match_name, distance,
      |    CAST(count(*) OVER (PARTITION BY probe_id) AS BIGINT) AS n_cand,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY distance, master_id, master_name) AS rn
      |  FROM ok) t
      |WHERE rn = 1 ORDER BY probe_id""".stripMargin

  // ---- Hilbert layout audit -------------------------------------------------------
  /** The Hilbert-curve twin of [[qZorderLayout]] (same dims, file size,
    * and output schema, layout = 'hilbert') — consecutive Hilbert indexes
    * are always ADJACENT cells where Morton jumps at quadrant seams, so
    * straddling file boundaries cost less; this report measures whether
    * that locality edge survives on real data.
    */
  def qHilbertLayout(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout.hilbertAudit(table(s, dir, "lineitem"),
        "l_partkey", "l_suppkey", rowsPerFile = 4096,
        tieCols = Seq("l_orderkey", "l_linenumber"))
      .orderBy("layout")

  val qHilbertLayoutSql: String = {
    val (ctes, last) = graft.operators.Layout.hilbertSqlCtes("seed", 16)
    s"""WITH dom AS (
       |  SELECT CAST(min(l_partkey) AS BIGINT) AS a_lo, CAST(max(l_partkey) AS BIGINT) AS a_hi,
       |         CAST(min(l_suppkey) AS BIGINT) AS b_lo, CAST(max(l_suppkey) AS BIGINT) AS b_hi
       |  FROM lineitem),
       |q AS (
       |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
       |    ((CAST(l_partkey AS BIGINT) - a_lo) * 65536) // (a_hi - a_lo + 1) AS qa,
       |    ((CAST(l_suppkey AS BIGINT) - b_lo) * 65536) // (b_hi - b_lo + 1) AS qb
       |  FROM lineitem, dom),
       |seed AS (
       |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
       |    qa AS x, qb AS y, CAST(0 AS BIGINT) AS d
       |  FROM q),
       |$ctes,
       |hf AS (
       |  SELECT *, CAST((row_number() OVER (ORDER BY d, l_orderkey, l_linenumber) - 1) // 4096 AS BIGINT) AS file_id
       |  FROM $last),
       |hs AS (
       |  SELECT 'hilbert' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       |    CAST(sum(nr) AS BIGINT) AS n_rows,
       |    CAST(sum(sa) AS BIGINT) AS span_a, CAST(sum(sb) AS BIGINT) AS span_b
       |  FROM (SELECT file_id, max(l_partkey) - min(l_partkey) + 1 AS sa,
       |               max(l_suppkey) - min(l_suppkey) + 1 AS sb, count(*) AS nr
       |        FROM hf GROUP BY 1))
       |SELECT layout, n_files, n_rows, span_a, span_b,
       |  CAST(span_a AS DOUBLE) / CAST(n_files * (a_hi - a_lo + 1) AS DOUBLE) AS frac_a,
       |  CAST(span_b AS DOUBLE) / CAST(n_files * (b_hi - b_lo + 1) AS DOUBLE) AS frac_b
       |FROM hs, dom
       |ORDER BY layout""".stripMargin
  }

  // ---- fulfillment-lag percentiles ----------------------------------------------
  /** Ship-lag SLA report: p50/p90/p99 of (shipdate − orderdate) days per
    * order priority, via the lossless histogram-CDF percentile engine
    * ([[graft.operators.Curation.lengthPercentiles]] — exact discrete
    * percentiles, no value-buffering aggregate, ~\|priorities × distinct
    * lags\| intermediate rows regardless of fact size).
    */
  def qShipLag(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("ship_day"))
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("order_day"))
    val lag = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), (col("ship_day") - col("order_day")).as("lag_days"))
    graft.operators.Curation.lengthPercentiles(lag, "o_orderpriority", "lag_days")
      .orderBy("o_orderpriority")
  }

  val qShipLagSql: String =
    """WITH lag AS (
      |  SELECT o_orderpriority,
      |    epoch_us(l_shipdate) // 86400000000 - epoch_us(o_orderdate) // 86400000000 AS v
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |hist AS (SELECT o_orderpriority, v, CAST(count(*) AS BIGINT) AS cnt FROM lag GROUP BY 1, 2),
      |cum AS (
      |  SELECT o_orderpriority, v, cnt,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY v) AS hi,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM hist)
      |SELECT o_orderpriority,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.5) THEN v END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.9) THEN v END) AS BIGINT) AS p90,
      |  CAST(min(CASE WHEN hi >= CEIL(n * 0.99) THEN v END) AS BIGINT) AS p99
      |FROM cum GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- incremental HLL sketch-MV refresh ---------------------------------------
  /** Distinct-users-per-day MV maintained INCREMENTALLY by register merge —
    * the reason mergeable sketches exist: the additive-MV trick
    * ([[qMvRefresh]]) can't maintain COUNT(DISTINCT), but per-(day, bucket)
    * max-merge of HLL registers can, exactly (max is associative +
    * idempotent). Output is the refreshed register table; the spec asserts
    * refresh ≡ rebuild-over-everything bitwise and estimates match.
    */
  def qMvHllRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketch
    val raw = table(s, dir, "events")
    val ev = raw.select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
        (graft.plans.NativeHash.md5Mod(col("event_id").cast("string"), 10L) === 0).as("late"))
      .withColumn("day", expr("ts_ms div 86400000"))
    Sketch.hllMergeBy(
        Sketch.hllRegistersBy(ev.filter(!col("late")), Seq("day"), "user_id"),
        Sketch.hllRegistersBy(ev.filter(col("late")), Seq("day"), "user_id"),
        Seq("day"))
      .orderBy("day", "bucket")
  }

  val qMvHllRefreshSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, user_id,
      |    md5_number_lower(CAST(event_id AS VARCHAR)) % 10 = 0 AS late
      |  FROM events),
      |r AS (
      |  SELECT day, late,
      |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) % 4096 AS INT) AS bucket,
      |    CAST(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END AS INT) AS rho
      |  FROM (SELECT *, md5_number_lower('r:' || CAST(user_id AS VARCHAR)) % 281474976710656 AS w
      |        FROM e)),
      |mv AS (SELECT day, bucket, max(rho) AS rho FROM r WHERE NOT late GROUP BY 1, 2),
      |d AS (SELECT day, bucket, max(rho) AS rho FROM r WHERE late GROUP BY 1, 2)
      |SELECT day, bucket, CAST(max(rho) AS INT) AS rho, CAST(12 AS INT) AS p
      |FROM (SELECT * FROM mv UNION ALL SELECT * FROM d) u
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- incremental MV refresh -------------------------------------------------
  /** Materialized-view maintenance — see [[graft.operators.MvRefresh]]:
    * the daily-revenue MV built from the 90% "already ingested" slice,
    * merged with the 10% "late batch" slice's partials (deterministic md5
    * split). The spec asserts refresh ≡ recompute bitwise; the oracle
    * replays the split, both partials, and the full-outer merge.
    */
  def qMvRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.MvRefresh
    // native md5Mod == Sampling.md5Bucket's declarative chain (fuzz-pinned);
    // the split is harness-only — production late data arrives as its own files
    val o = table(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("rev_u"),
        (graft.plans.NativeHash.md5Mod(col("o_orderkey").cast("string"), 10L) === 0).as("late"))
    MvRefresh.refresh(
        MvRefresh.partial(o.filter(!col("late")), Seq("day"), col("rev_u")),
        MvRefresh.partial(o.filter(col("late")), Seq("day"), col("rev_u")),
        Seq("day"))
      .orderBy("day")
  }

  val qMvRefreshSql: String =
    """WITH o AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS rev_u,
      |    md5_number_lower(CAST(o_orderkey AS VARCHAR)) % 10 = 0 AS late
      |  FROM orders),
      |mv AS (SELECT day, CAST(count(*) AS BIGINT) AS n_a, CAST(sum(rev_u) AS BIGINT) AS s_a
      |       FROM o WHERE NOT late GROUP BY 1),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(rev_u) AS BIGINT) AS s_b
      |      FROM o WHERE late GROUP BY 1)
      |SELECT coalesce(mv.day, d.day) AS day,
      |  CAST(coalesce(n_a, 0) + coalesce(n_b, 0) AS BIGINT) AS n_rows,
      |  CAST(coalesce(s_a, 0) + coalesce(s_b, 0) AS BIGINT) AS sum_u
      |FROM mv FULL OUTER JOIN d ON mv.day = d.day
      |ORDER BY day""".stripMargin

  // ---- incremental JOIN-MV refresh ---------------------------------------
  /** Incremental maintenance of a JOIN view — the gap next to
    * [[qMvRefresh]]'s single-table MV: V = γ(orders ⋈ lineitem) by
    * (priority, returnflag), with INDEPENDENT late-arrival deltas on BOTH
    * sides (md5 splits: 10% late orders, ~14% late lineitems, so all four
    * old/delta quadrants are populated). Refresh applies the two-quadrant
    * delta rule ([[graft.operators.MvRefresh.joinPartialDelta]]):
    * ΔO ⋈ L_new plus O_old ⋈ ΔL — the old⋈old quadrant, the one that
    * costs a double base scan at 100 TB, is never re-joined.
    *
    * The ORACLE computes the FULL REBUILD (plain join + aggregate), so
    * the driver gate checks the algebraic identity refresh ≡ rebuild on
    * real data — stronger than replaying the merge.
    */
  def qMvJoinRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.MvRefresh
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        (graft.plans.NativeHash.md5Mod(col("o_orderkey").cast("string"), 10L) === 0)
          .as("late_o"))
    val l = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_returnflag"),
        round(col("l_extendedprice") * lit(1000000.0)).cast("long").as("rev_u"),
        (graft.plans.NativeHash.md5Mod(
          concat_ws("-", col("l_orderkey").cast("string"),
            col("l_linenumber").cast("string")), 7L) === 0).as("late_l"))
    val keyCols = Seq("o_orderpriority", "l_returnflag")
    val mvOld = MvRefresh.partial(
      o.filter(!col("late_o")).join(l.filter(!col("late_l")), Seq("o_orderkey")),
      keyCols, col("rev_u"))
    val delta = MvRefresh.joinPartialDelta(
      aOld = o.filter(!col("late_o")), aDelta = o.filter(col("late_o")),
      bNew = l, bDelta = l.filter(col("late_l")),
      joinKeys = Seq("o_orderkey"), keyCols = keyCols, valueExpr = col("rev_u"))
    MvRefresh.refresh(mvOld, delta, keyCols)
      .orderBy("o_orderpriority", "l_returnflag")
  }

  val qMvJoinRefreshSql: String =
    """SELECT o_orderpriority, l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_u
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- incremental quantile-sketch MV refresh --------------------------------
  /** Percentile MV maintained INCREMENTALLY — the gap the r9 verdict named:
    * [[qMvHllRefresh]] maintains DISTINCT counts by register max-merge,
    * but every percentile operator re-reads the full value-grain histogram
    * per refresh. [[graft.operators.Hdr]]'s log2-linear sketch closes it:
    * per-(priority, bucket) counts merge by ADDITION, so refresh ≡ rebuild
    * bitwise (spec-asserted) and the standing sketch is
    * |keys|·O(64·2^s)-bounded at ANY corpus scale. Same harness split as
    * [[qMvRefresh]]: 90% "already ingested" builds the MV, the md5-selected
    * 10% "late batch" merges in. Output is the refreshed sketch table.
    */
  def qMvQuantileRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Hdr
    val o = table(s, dir, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("rev_u"),
        (graft.plans.NativeHash.md5Mod(col("o_orderkey").cast("string"), 10L) === 0).as("late"))
    Hdr.mergeBy(
        Hdr.sketchBy(o.filter(!col("late")), Seq("o_orderpriority"), "rev_u", subBits = 5),
        Hdr.sketchBy(o.filter(col("late")), Seq("o_orderpriority"), "rev_u", subBits = 5),
        Seq("o_orderpriority"))
      .orderBy("o_orderpriority", "bucket")
  }

  private val hdrBucketSql =
    """CASE WHEN v < 32 THEN v
      |     ELSE (length(bin(v)) - 1 - 5) * 32
      |          + v // CAST(power(2, length(bin(v)) - 1 - 5) AS BIGINT) END""".stripMargin

  private val hdrSketchSql =
    s"""o AS (
       |  SELECT o_orderpriority, CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS v,
       |    md5_number_lower(CAST(o_orderkey AS VARCHAR)) % 10 = 0 AS late
       |  FROM orders),
       |b AS (SELECT o_orderpriority, late, $hdrBucketSql AS bucket FROM o),
       |mv AS (SELECT o_orderpriority, bucket, CAST(count(*) AS BIGINT) AS cnt
       |       FROM b WHERE NOT late GROUP BY 1, 2),
       |d AS (SELECT o_orderpriority, bucket, CAST(count(*) AS BIGINT) AS cnt
       |      FROM b WHERE late GROUP BY 1, 2),
       |m AS (SELECT o_orderpriority, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
       |      FROM (SELECT * FROM mv UNION ALL SELECT * FROM d) u GROUP BY 1, 2)""".stripMargin

  val qMvQuantileRefreshSql: String =
    s"""WITH $hdrSketchSql
       |SELECT o_orderpriority, bucket, cnt FROM m
       |ORDER BY o_orderpriority, bucket""".stripMargin

  /** The quantile READ off the refreshed sketch: per priority, n plus the
    * p50/p95/p99 bucket lower bounds (true quantile ∈ [reported, next
    * bucket) — relative error ≤ 2⁻⁵, spec-asserted vs the exact driver
    * percentile). Thresholds compare cum·den ≥ n·num in integers; the
    * whole chain (split, sketch build, merge, CDF walk, inverse-bucket
    * map) replays in SQL.
    */
  def qQuantileSketchRead(s: SparkSession, dir: String): DataFrame =
    graft.operators.Hdr.quantiles(qMvQuantileRefresh(s, dir), Seq("o_orderpriority"),
        subBits = 5, ps = Seq((1, 2, "p50_lb"), (19, 20, "p95_lb"), (99, 100, "p99_lb")))
      .orderBy("o_orderpriority")

  val qQuantileSketchReadSql: String =
    s"""WITH $hdrSketchSql,
       |cum AS (
       |  SELECT o_orderpriority, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bucket) AS hi,
       |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM m),
       |lb AS (
       |  SELECT *, CASE WHEN bucket < 32 THEN bucket
       |                 ELSE (bucket - (bucket // 32 - 1) * 32)
       |                      * CAST(power(2, bucket // 32 - 1) AS BIGINT) END AS lo
       |  FROM cum)
       |SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_rows,
       |  CAST(min(CASE WHEN hi * 2 >= n THEN lo END) AS BIGINT) AS p50_lb,
       |  CAST(min(CASE WHEN hi * 20 >= n * 19 THEN lo END) AS BIGINT) AS p95_lb,
       |  CAST(min(CASE WHEN hi * 100 >= n * 99 THEN lo END) AS BIGINT) AS p99_lb
       |FROM lb GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ---- range-partition split plan off the quantile sketch --------------------
  /** Balanced range-partitioning boundaries WITHOUT a sampling pass — the
    * planner behind "repartitionByRange this 100 TB fact table into 16
    * balanced shards": Spark's RangePartitioner re-samples the corpus per
    * job and is run-nondeterministic; [[graft.operators.Hdr.splitPlan]]
    * reads the standing quantile-sketch MV instead, so split points cost a
    * |sketch|-sized walk, are bit-stable across runs, and each range holds
    * n/16 rows within one bucket's mass (≤ 2⁻⁵ relative, spec-asserted).
    */
  def qRangeSplitPlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.Hdr.splitPlan(qMvQuantileRefresh(s, dir), Seq("o_orderpriority"),
        subBits = 5, parts = 16)
      .orderBy("o_orderpriority", "split_no")

  val qRangeSplitPlanSql: String =
    s"""WITH $hdrSketchSql,
       |cum AS (
       |  SELECT o_orderpriority, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bucket) AS hi,
       |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM m),
       |lb AS (
       |  SELECT *, CASE WHEN bucket < 32 THEN bucket
       |                 ELSE (bucket - (bucket // 32 - 1) * 32)
       |                      * CAST(power(2, bucket // 32 - 1) AS BIGINT) END AS lo
       |  FROM cum),
       |x AS (
       |  SELECT o_orderpriority, split_no, lo, hi
       |  FROM lb, unnest(range(1, 16)) AS r(split_no)
       |  WHERE hi * 16 >= n * split_no)
       |SELECT o_orderpriority, CAST(split_no AS INT) AS split_no,
       |  CAST(min(lo) AS BIGINT) AS split_lb, CAST(min(hi) AS BIGINT) AS rows_le
       |FROM x GROUP BY 1, 2
       |ORDER BY o_orderpriority, split_no""".stripMargin

  // ---- stable dictionary encoding ---------------------------------------------
  /** Frequency-ordered dense codes for a categorical column — see
    * [[graft.operators.Dict]]: code 0 = most frequent, lexicographic tie
    * break, so the assignment is a pure function of the distribution
    * (unlike first-seen StringIndexer-style encoders). Gated on part.p_type
    * (a real 150-value vocabulary); the corpus collapses to the
    * vocabulary frame before the rank window.
    */
  def qDictEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dict.build(table(s, dir, "part"), "p_type")
      .orderBy("code")

  val qDictEncodeSql: String =
    """SELECT value, n, CAST(row_number() OVER (ORDER BY n DESC, value) - 1 AS BIGINT) AS code
      |FROM (SELECT p_type AS value, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1) c
      |ORDER BY code""".stripMargin

  // ---- lakehouse commit log ---------------------------------------------------
  /** Delta/Iceberg-shaped snapshot ledger — see
    * [[graft.operators.TableLog]]: per-commit add/remove-file accounting
    * with running live totals over the planted 4-commit history (3 era
    * appends + a compaction that nets rows/bytes to zero). Everything
    * downstream of the one file-stats agg is metadata-sized.
    */
  def qTableLog(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableLog.snapshotAccounting(
        graft.operators.TableLog.plantedLog(table(s, dir, "orders")))
      .orderBy("commit_id")

  /** Shared oracle prefix: the planted action log (file stats per era
    * commit, the compaction's remove actions replaying commit-1 stats,
    * and the merged adds).
    */
  private val tableLogSqlPrefix: String =
    """WITH f AS (
      |  SELECT CASE WHEN year(o_orderdate) <= 1996 THEN 1
      |              WHEN year(o_orderdate) <= 1998 THEN 2 ELSE 3 END AS commit_id,
      |         CAST(o_orderkey % 8 AS BIGINT) AS b,
      |         o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |files AS (
      |  SELECT CAST(commit_id AS BIGINT) AS commit_id, 'add' AS action,
      |    CAST(commit_id * 100 + b AS BIGINT) AS file_id,
      |    CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS bytes,
      |    CAST(min(o_orderkey) AS BIGINT) AS min_key, CAST(max(o_orderkey) AS BIGINT) AS max_key
      |  FROM f GROUP BY commit_id, b),
      |removes AS (
      |  SELECT CAST(4 AS BIGINT) AS commit_id, 'remove' AS action,
      |    file_id, n_rows, bytes, min_key, max_key
      |  FROM files WHERE commit_id = 1),
      |merged AS (
      |  SELECT CAST(4 AS BIGINT) AS commit_id, 'add' AS action,
      |    CAST(900 + file_id % 2 AS BIGINT) AS file_id,
      |    CAST(sum(n_rows) AS BIGINT) AS n_rows, CAST(sum(bytes) AS BIGINT) AS bytes,
      |    CAST(min(min_key) AS BIGINT) AS min_key, CAST(max(max_key) AS BIGINT) AS max_key
      |  FROM files WHERE commit_id = 1 GROUP BY file_id % 2),
      |lg AS (SELECT * FROM files UNION ALL SELECT * FROM removes
      |       UNION ALL SELECT * FROM merged)
      |""".stripMargin

  val qTableLogSql: String = tableLogSqlPrefix +
    """, pc AS (
      |  SELECT commit_id,
      |    CAST(sum(CASE WHEN action = 'add' THEN 1 ELSE 0 END) AS BIGINT) AS files_added,
      |    CAST(sum(CASE WHEN action = 'remove' THEN 1 ELSE 0 END) AS BIGINT) AS files_removed,
      |    CAST(sum(CASE WHEN action = 'add' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_added,
      |    CAST(sum(CASE WHEN action = 'remove' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_removed,
      |    CAST(sum(CASE WHEN action = 'add' THEN bytes ELSE 0 END) AS BIGINT) AS bytes_added,
      |    CAST(sum(CASE WHEN action = 'remove' THEN bytes ELSE 0 END) AS BIGINT) AS bytes_removed
      |  FROM lg GROUP BY 1)
      |SELECT *,
      |  CAST(sum(files_added - files_removed) OVER w AS BIGINT) AS live_files,
      |  CAST(sum(rows_added - rows_removed) OVER w AS BIGINT) AS live_rows,
      |  CAST(sum(bytes_added - bytes_removed) OVER w AS BIGINT) AS live_bytes
      |FROM pc
      |WINDOW w AS (ORDER BY commit_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY commit_id""".stripMargin

  /** Time-travel read twin: the LIVE FILE LISTING (the scan plan's input)
    * at snapshot 2 (pre-compaction) and snapshot 4 (post) — adds ≤ s
    * anti-joined against removes ≤ s, both snapshot-filtered in the scan
    * stage.
    */
  def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val log = graft.operators.TableLog.plantedLog(table(s, dir, "orders"))
    graft.operators.TableLog.liveFilesAt(log, 2L).withColumn("as_of", lit(2L))
      .unionByName(
        graft.operators.TableLog.liveFilesAt(log, 4L).withColumn("as_of", lit(4L)))
      .select("as_of", "file_id", "n_rows", "bytes", "min_key", "max_key")
      .orderBy("as_of", "file_id")
  }

  val qTimeTravelSql: String = tableLogSqlPrefix +
    """, live AS (
      |  SELECT s.as_of, a.file_id, a.n_rows, a.bytes, a.min_key, a.max_key
      |  FROM (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))) s(as_of)
      |  JOIN lg a ON a.action = 'add' AND a.commit_id <= s.as_of
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM lg r
      |    WHERE r.action = 'remove' AND r.commit_id <= s.as_of
      |      AND r.file_id = a.file_id))
      |SELECT as_of, file_id, n_rows, bytes, min_key, max_key
      |FROM live ORDER BY as_of, file_id""".stripMargin

  /** Vacuum eligibility over the planted log — see
    * [[graft.operators.TableLog.vacuumPlan]]: per candidate retention
    * horizon (commits 2..5), how many files / bytes are live, still
    * retained for time travel, or physically deletable. The planted
    * history exercises both branches: commit-1 files (removed by the
    * commit-4 compaction) flip retained→deletable exactly when the
    * horizon reaches 4.
    */
  def qVacuumPlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableLog.vacuumPlan(
        graft.operators.TableLog.plantedLog(table(s, dir, "orders")),
        horizons = Seq(2L, 3L, 4L, 5L))
      .orderBy("horizon", "status")

  val qVacuumPlanSql: String = tableLogSqlPrefix +
    """, pf AS (
      |  SELECT file_id,
      |    min(CASE WHEN action = 'add' THEN commit_id END) AS added_commit,
      |    min(CASE WHEN action = 'remove' THEN commit_id END) AS removed_commit,
      |    max(CASE WHEN action = 'add' THEN bytes END) AS bytes
      |  FROM lg GROUP BY 1),
      |h(horizon) AS (VALUES (CAST(2 AS BIGINT)), (3), (4), (5)),
      |st(status) AS (VALUES ('live'), ('retained'), ('deletable')),
      |clf AS (
      |  SELECT h.horizon,
      |    CASE WHEN pf.removed_commit IS NULL THEN 'live'
      |         WHEN pf.removed_commit <= h.horizon THEN 'deletable'
      |         ELSE 'retained' END AS status,
      |    pf.bytes
      |  FROM pf, h),
      |ag AS (
      |  SELECT horizon, status, CAST(count(*) AS BIGINT) AS n_files,
      |    CAST(sum(bytes) AS BIGINT) AS bytes
      |  FROM clf GROUP BY 1, 2)
      |SELECT h.horizon, st.status,
      |  CAST(coalesce(ag.n_files, 0) AS BIGINT) AS n_files,
      |  CAST(coalesce(ag.bytes, 0) AS BIGINT) AS bytes
      |FROM h CROSS JOIN st
      |LEFT JOIN ag ON ag.horizon = h.horizon AND ag.status = st.status
      |ORDER BY h.horizon, st.status""".stripMargin

  // ---- calendar gap fill ----------------------------------------------------
  /** Forward-filled daily revenue over a dense calendar spine — the
    * panel-data operator behind every "carry last observation forward"
    * dashboard series, and the inverse of what [[qForecastBaseline]] does
    * (that query EXCLUDES gapped days; this one repairs them and SAYS so
    * with a `filled` flag).
    *
    * Scale shape: the corpus-sized pass is the one map-side-combined
    * daily agg; everything after runs on the |days| spine (≤ ~4 × 10⁴
    * rows for a century — control-plane sized at ANY corpus scale, so the
    * unpartitioned fill window is a non-issue by construction). The spine
    * bounds come from the same 1-row agg pattern as [[qZorderLayout]].
    */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    // read by the 1-row domain agg AND the spine join
    val daily = Caches.persist(table(s, dir, "orders")
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("rev_u"))
      .groupBy("day").agg(sum("rev_u").as("revenue_u")))
    val spine = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("day"), "left")
      .withColumn("filled", col("revenue_u").isNull)
      .withColumn("revenue_filled_u", last("revenue_u", ignoreNulls = true).over(w))
      .select("day", "revenue_u", "revenue_filled_u", "filled")
      .orderBy("day")
  }

  val qGapFillSql: String =
    """WITH d AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(sum(CAST(round(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT) AS revenue_u
      |  FROM orders GROUP BY 1),
      |dom AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
      |spine AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM dom),
      |j AS (SELECT spine.day, d.revenue_u FROM spine LEFT JOIN d USING (day))
      |SELECT day, revenue_u,
      |  last_value(revenue_u IGNORE NULLS) OVER (
      |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_filled_u,
      |  revenue_u IS NULL AS filled
      |FROM j ORDER BY day""".stripMargin

  // ---- z-order layout audit ----------------------------------------------
  /** Would OPTIMIZE ZORDER pay off on lineitem's two join dims? — see
    * [[graft.operators.Layout.zorderAudit]]. One summary row per layout;
    * the z-curve should bound the per-file span fraction on BOTH
    * l_partkey and l_suppkey where the single-dim sort leaves l_suppkey
    * at ~the full domain.
    */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout.zorderAudit(table(s, dir, "lineitem"),
        "l_partkey", "l_suppkey", rowsPerFile = 4096,
        tieCols = Seq("l_orderkey", "l_linenumber"))
      .orderBy("layout")

  val qZorderLayoutSql: String = {
    val z = graft.operators.Layout.zSql("qa", "qb", 16)
    s"""WITH dom AS (
       |  SELECT CAST(min(l_partkey) AS BIGINT) AS a_lo, CAST(max(l_partkey) AS BIGINT) AS a_hi,
       |         CAST(min(l_suppkey) AS BIGINT) AS b_lo, CAST(max(l_suppkey) AS BIGINT) AS b_hi
       |  FROM lineitem),
       |q AS (
       |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
       |    ((CAST(l_partkey AS BIGINT) - a_lo) * 65536) // (a_hi - a_lo + 1) AS qa,
       |    ((CAST(l_suppkey AS BIGINT) - b_lo) * 65536) // (b_hi - b_lo + 1) AS qb
       |  FROM lineitem, dom),
       |zf AS (
       |  SELECT *, CAST((row_number() OVER (ORDER BY zkey, l_orderkey, l_linenumber) - 1) // 4096 AS BIGINT) AS file_id
       |  FROM (SELECT *, $z AS zkey FROM q)),
       |lf AS (
       |  SELECT *, CAST((row_number() OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) - 1) // 4096 AS BIGINT) AS file_id
       |  FROM q),
       |zs AS (
       |  SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       |    CAST(sum(nr) AS BIGINT) AS n_rows,
       |    CAST(sum(sa) AS BIGINT) AS span_a, CAST(sum(sb) AS BIGINT) AS span_b
       |  FROM (SELECT file_id, max(l_partkey) - min(l_partkey) + 1 AS sa,
       |               max(l_suppkey) - min(l_suppkey) + 1 AS sb, count(*) AS nr
       |        FROM zf GROUP BY 1)),
       |ls AS (
       |  SELECT 'linear_l_partkey' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       |    CAST(sum(nr) AS BIGINT) AS n_rows,
       |    CAST(sum(sa) AS BIGINT) AS span_a, CAST(sum(sb) AS BIGINT) AS span_b
       |  FROM (SELECT file_id, max(l_partkey) - min(l_partkey) + 1 AS sa,
       |               max(l_suppkey) - min(l_suppkey) + 1 AS sb, count(*) AS nr
       |        FROM lf GROUP BY 1))
       |SELECT layout, n_files, n_rows, span_a, span_b,
       |  CAST(span_a AS DOUBLE) / CAST(n_files * (a_hi - a_lo + 1) AS DOUBLE) AS frac_a,
       |  CAST(span_b AS DOUBLE) / CAST(n_files * (b_hi - b_lo + 1) AS DOUBLE) AS frac_b
       |FROM (SELECT * FROM zs UNION ALL SELECT * FROM ls), dom
       |ORDER BY layout""".stripMargin
  }

  // ---- day-of-week seasonality index ---------------------------------------------
  /** Weekly seasonality of shipment revenue: per day-of-week, how the
    * average daily revenue compares to the overall average (index > 1 =
    * above-trend weekday). Dow = epoch-day mod 7 (engine-free — both
    * engines' dayofweek() disagree on numbering); revenue in exact cents;
    * the index is a MIRRORED IEEE tree over four exact integers —
    * (rev_d/days_d)/(rev_tot/days_tot) — the [[qAbTest]] determinism
    * recipe. One day-grain agg, one 7-row agg, totals broadcast back.
    */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    val daily = table(s, dir, "lineitem")
      .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("day"))
      .agg(sum(cents).as("rev"))
    val dow = daily.groupBy(pmod(col("day"), lit(7)).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum("rev").as("rev_cents"))
    val tot = dow.agg(sum("n_days").as("td"), sum("rev_cents").as("tr"))
    dow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("rev_cents"),
        ((col("rev_cents").cast("double") / col("n_days").cast("double")) /
          (col("tr").cast("double") / col("td").cast("double"))).as("seasonal_index"))
      .orderBy("dow")
  }

  val qSeasonalitySql: String =
    """WITH daily AS (
      |  SELECT epoch_us(l_shipdate) // 86400000000 AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |dw AS (
      |  SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(rev) AS BIGINT) AS rev_cents
      |  FROM daily GROUP BY 1),
      |t AS (SELECT CAST(sum(n_days) AS BIGINT) AS td,
      |             CAST(sum(rev_cents) AS BIGINT) AS tr FROM dw)
      |SELECT dow, n_days, rev_cents,
      |  (CAST(rev_cents AS DOUBLE) / CAST(n_days AS DOUBLE)) /
      |  (CAST(tr AS DOUBLE) / CAST(td AS DOUBLE)) AS seasonal_index
      |FROM dw, t
      |ORDER BY dow""".stripMargin

  // ---- multi-EXISTS decorrelation: sole-blame supplier (TPC-H Q21 shape) ----------
  /** Suppliers who were the ONLY late shipper on a multi-supplier order
    * (ship lag > 60 days), counted per supplier — the TPC-H Q21 pattern:
    * EXISTS (another supplier on the order) AND NOT EXISTS (another LATE
    * supplier on the order). Decorrelated into ONE per-order conditional
    * aggregate (suppliers, late suppliers, the single late suppkey via a
    * conditional min — exact because the filter pins n_late = 1) joined
    * back nowhere: the aggregate IS the answer, so the two correlated
    * subqueries cost one map-side-combined pass instead of two
    * re-executions per outer row.
    */
  def qSoleBlame(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem").join(table(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000") -
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000") > 60)
          .as("late"))
    // pre-aggregate to the (order, supplier) grain first (r13): the double
    // countDistinct planned an Expand (3 shuffled rows per line) with no
    // partial aggregation; the (ok, sk) groupBy map-side combines, and the
    // distinct counts become plain counts over the group rows —
    // n_supp ≡ #groups, n_late ≡ #groups with any late line, blame ≡ min sk
    // among late groups (guide §2.3 aggregate before you shuffle)
    li.groupBy("ok", "sk").agg((count(when(col("late"), lit(1))) > 0).as("late"))
      .groupBy("ok")
      .agg(count(lit(1)).as("n_supp"),
        count(when(col("late"), lit(1))).as("n_late"),
        min(when(col("late"), col("sk"))).as("blame"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("blame").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey")).limit(20)
  }

  val qSoleBlameSql: String =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_suppkey AS sk,
      |    (epoch_us(l_shipdate) // 86400000000 - epoch_us(o_orderdate) // 86400000000) > 60 AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |po AS (
      |  SELECT ok, count(DISTINCT sk) AS n_supp,
      |    count(DISTINCT CASE WHEN late THEN sk END) AS n_late,
      |    min(CASE WHEN late THEN sk END) AS blame
      |  FROM li GROUP BY ok)
      |SELECT blame AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
      |FROM po WHERE n_supp > 1 AND n_late = 1
      |GROUP BY blame
      |ORDER BY numwait DESC, s_suppkey
      |LIMIT 20""".stripMargin

  // ---- one-way ANOVA over exact integer moments ------------------------------------
  /** Does order priority actually move ship lag? One-way ANOVA F
    * statistic over the per-priority lag-day groups — the numeric-
    * response complement of `q_chi2_independence`'s categorical test.
    * All sums of squares reduce to per-group (count, sum) plus one
    * global sum-of-squares in exact decimal(38,0)/HUGEINT integers:
    * SSB = Σ s_g²/n_g − S²/n and SSW = Q − Σ s_g²/n_g. The only
    * non-integer stage, Σ s_g²/n_g, is five doubles — added in PINNED
    * literal-domain order (explicit left-to-right over the closed
    * priority list; a 5-row SUM would order arbitrarily and can drift
    * an ulp cross-engine) — so F agrees bit for bit. One corpus pass
    * (map-side-combined conditional aggregates); output is one row.
    */
  private val prioDomain = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def qAnovaLag(s: SparkSession, dir: String): DataFrame = {
    val lag = table(s, dir, "lineitem").join(table(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("g"),
        (expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000") -
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")).as("v"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val aggs = prioDomain.zipWithIndex.flatMap { case (p, i) =>
      Seq(count(when(col("g") === p, 1)).as(s"n$i"),
        coalesce(sum(when(col("g") === p, col("v"))), lit(0L)).as(s"s$i"))
    } ++ Seq(sum(dec(col("v") * col("v"))).as("q"), count(lit(1)).as("n"))
    val m = lag.agg(aggs.head, aggs.tail: _*)
    def term(i: Int) =
      (dec(col(s"s$i")) * col(s"s$i")).cast("double") / col(s"n$i").cast("double")
    val ssg = prioDomain.indices.map(term).reduce(_ + _)
    val stot = prioDomain.indices.map(i => dec(col(s"s$i"))).reduce(_ + _)
    m.select(lit(prioDomain.size.toLong).as("k"), col("n"),
        (ssg - (stot * stot).cast("double") / col("n").cast("double")).as("ssb"),
        (col("q").cast("double") - ssg).as("ssw"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        ((col("ssb") / lit((prioDomain.size - 1).toDouble)) /
          (col("ssw") / (col("n") - prioDomain.size).cast("double"))).as("f_stat"))
  }

  val qAnovaLagSql: String = {
    val ns = prioDomain.indices
    val condAggs = prioDomain.zipWithIndex.map { case (p, i) =>
      s"CAST(count(*) FILTER (WHERE g = '$p') AS BIGINT) AS n$i,\n" +
      s"    CAST(coalesce(sum(v) FILTER (WHERE g = '$p'), 0) AS BIGINT) AS s$i"
    }.mkString(",\n    ")
    val ssg = ns.map(i => s"(CAST(CAST(s$i AS HUGEINT) * s$i AS DOUBLE) / CAST(n$i AS DOUBLE))")
      .reduce((a, b) => s"($a + $b)")
    val stot = ns.map(i => s"CAST(s$i AS HUGEINT)").reduce((a, b) => s"($a + $b)")
    s"""WITH lag AS (
       |  SELECT o_orderpriority AS g,
       |    epoch_us(l_shipdate) // 86400000000 - epoch_us(o_orderdate) // 86400000000 AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |m AS (
       |  SELECT $condAggs,
       |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q, CAST(count(*) AS BIGINT) AS n
       |  FROM lag),
       |b AS (
       |  SELECT CAST(${prioDomain.size} AS BIGINT) AS k, n,
       |    $ssg - CAST($stot * $stot AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
       |    CAST(q AS DOUBLE) - $ssg AS ssw
       |  FROM m)
       |SELECT k, n, ssb, ssw,
       |  (ssb / CAST(${prioDomain.size - 1} AS DOUBLE)) /
       |  (ssw / CAST(n - ${prioDomain.size} AS DOUBLE)) AS f_stat
       |FROM b""".stripMargin
  }

  // ---- revenue concentration (Pareto 80/20 report) ---------------------------------
  /** How concentrated is revenue across customers: for each coverage
    * target (50/80/90% of total revenue), the minimum number of
    * top-revenue customers that reach it and their share of the customer
    * base — the 80/20 report. Exact: per-customer revenue in cents, the
    * cumulative axis is [[graft.operators.Scale.runningSum]] over the
    * (revenue DESC, custkey) total order (two-level — no single-task
    * window), and k = #{cum·100 < pct·total} + 1 compares exact
    * decimal(38,0) integers (cum is strictly increasing — revenues are
    * positive — so the rank identity is exact).
    */
  def qParetoShare(s: SparkSession, dir: String): DataFrame = {
    val rev = table(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")).as("rev"))
      .withColumn("negrev", -col("rev"))
    val cum = Caches.persist(
      graft.operators.Scale.runningSum(rev, Seq("negrev", "o_custkey"), "rev", "cum"))
    val tot = cum.agg(sum("rev").cast("decimal(38,0)").as("tot"),
      count(lit(1)).as("n_cust"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    Seq(50, 80, 90).map { pct =>
      cum.crossJoin(broadcast(tot))
        .agg(lit(pct).as("pct"),
          (coalesce(sum(when(dec(col("cum")) * 100 < lit(pct) * col("tot"), 1L)), lit(0L)) + 1L)
            .as("n_customers"),
          max("n_cust").as("__n"))
        .select(col("pct"), col("n_customers"),
          (col("n_customers").cast("double") / col("__n").cast("double")).as("share_of_base"))
    }.reduce(_.unionByName(_)).orderBy("pct")
  }

  val qParetoShareSql: String = {
    def level(pct: Int) =
      s"""SELECT $pct AS pct,
         |  CAST(coalesce(sum(CASE WHEN CAST(cum AS HUGEINT) * 100 < $pct * (SELECT tot FROM t) THEN 1 END), 0) + 1 AS BIGINT) AS n_customers,
         |  CAST(CAST(coalesce(sum(CASE WHEN CAST(cum AS HUGEINT) * 100 < $pct * (SELECT tot FROM t) THEN 1 END), 0) + 1 AS BIGINT) AS DOUBLE) /
         |  CAST((SELECT n_cust FROM t) AS DOUBLE) AS share_of_base
         |FROM c""".stripMargin
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |c AS (
       |  SELECT rev, sum(rev) OVER (ORDER BY -rev, o_custkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM rev),
       |t AS (SELECT CAST(sum(rev) AS HUGEINT) AS tot, CAST(count(*) AS BIGINT) AS n_cust FROM rev)
       |SELECT * FROM (
       |  ${level(50)}
       |  UNION ALL ${level(80)}
       |  UNION ALL ${level(90)})
       |ORDER BY pct""".stripMargin
  }

  // ---- correlated-subquery decorrelation: small-quantity revenue (TPC-H Q17 shape)
  /** Average yearly revenue lost if small orders (below 20% of the part's
    * average quantity) stopped shipping — the canonical CORRELATED
    * subquery, decorrelated by hand into one per-part aggregate + one
    * equi-join (what an optimizer must do; here the plan states it). The
    * 0.2·avg comparison runs in EXACT integers: quantities are integral,
    * so qty < 0.2·(sumq/cnt) ⇔ 5·qty·cnt < sumq — no double average
    * whose value depends on sum order. Brand filter broadcasts; per-part
    * stats aggregate AFTER the brand join (the correlation is on
    * partkey, so restricting to the brand's parts first is equivalent
    * and skips 96% of the stats work).
    */
  def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val pb = table(s, dir, "part").filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
    val li = Caches.persist(table(s, dir, "lineitem")
      .join(broadcast(pb), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents")))
    val stats = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"), sum("qty").as("sumq"))
    li.join(stats, "l_partkey")
      .filter(col("qty") * 5L * col("cnt") < col("sumq"))
      .agg(sum("cents").as("revenue_cents"))
      .select(col("revenue_cents"),
        (col("revenue_cents").cast("double") / lit(7.0)).as("avg_yearly"))
  }

  val qSmallQtyRevenueSql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#23'),
      |st AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(qty) AS BIGINT) AS sumq
      |  FROM li GROUP BY 1)
      |SELECT CAST(sum(cents) AS BIGINT) AS revenue_cents,
      |  CAST(sum(cents) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM li JOIN st USING (l_partkey)
      |WHERE qty * 5 * cnt < sumq""".stripMargin

  // ---- last-touch attribution over the event stream -------------------------------
  /** Marketing attribution: every purchase credits the user's most recent
    * prior click/view within 7 days (same-instant touches count; ties at
    * one instant break by highest event id — pinned, not arbitrary).
    * Report: per touch type (+ 'none'), attributed purchases and revenue.
    *
    * The as-of machinery is the union + last(ignoreNulls) window over ONE
    * struct payload (the `q_asof_join` shape): per-user event streams
    * sort inside their partition, no cross-join, no range explosion —
    * at 100 TB the shuffle is one hash exchange on user_id.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    val ev = raw.select(col("user_id"), GraftSession.eventTsMs(raw).as("ts_ms"),
      col("event_id"), col("event_type"),
      round(col("value") * lit(1000000.0)).cast("long").as("value_u"))
    val frame = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts_ms"), col("event_id"), lit(0).as("isp"),
        struct(col("ts_ms").as("tts"), col("event_type").as("ttype")).as("touch"),
        lit(null).cast("long").as("value_u"))
      .unionByName(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ms"), col("event_id"), lit(1).as("isp"),
          lit(null).cast("struct<tts:long,ttype:string>").as("touch"), col("value_u")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("isp"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame.withColumn("lt", last(col("touch"), ignoreNulls = true).over(w))
      .filter(col("isp") === 1)
      .select(
        when(col("lt").isNotNull && col("ts_ms") - col("lt.tts") <= 7L * 86400000L,
          col("lt.ttype")).otherwise(lit("none")).as("touch_type"),
        col("value_u"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"), sum("value_u").as("revenue_u"))
      .orderBy("touch_type")
  }

  val qAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 1000 AS ts_ms, event_id, event_type,
      |    CAST(round(value * 1000000.0) AS BIGINT) AS value_u
      |  FROM events),
      |frame AS (
      |  SELECT user_id, ts_ms, event_id, 0 AS isp,
      |    {'tts': ts_ms, 'ttype': event_type} AS touch, CAST(NULL AS BIGINT) AS value_u
      |  FROM ev WHERE event_type IN ('click', 'view')
      |  UNION ALL
      |  SELECT user_id, ts_ms, event_id, 1 AS isp,
      |    NULL AS touch, value_u
      |  FROM ev WHERE event_type = 'purchase'),
      |att AS (
      |  SELECT *, last_value(touch IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts_ms, isp, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
      |  FROM frame)
      |SELECT CASE WHEN lt IS NOT NULL AND ts_ms - lt.tts <= 7 * 86400000
      |            THEN lt.ttype ELSE 'none' END AS touch_type,
      |  CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(value_u) AS BIGINT) AS revenue_u
      |FROM att WHERE isp = 1
      |GROUP BY 1
      |ORDER BY touch_type""".stripMargin

  // ---- entity resolution: golden-record materializer ------------------------------
  /** The merge/purge MATERIALIZER (Hernández & Stolfo's survivorship step):
    * catalog records arriving under different keys with name typos
    * (planted: every 5th part re-keyed with one character deleted at a
    * hash-pinned position) collapse to one golden record per fuzzy-name
    * cluster — golden id = min member id, golden name = the cluster's
    * lexicographic-min name, plus name/member counts.
    *
    * Scale shape mirrors [[graft.operators.Dedup]]'s canonicalization:
    * linkage runs on the DISTINCT-NAME grain (equal-name record pairs
    * would grow duplication², and a catalog's duplication factor is the
    * whole point), SymSpell deletion variants + levenshtein-≤1 verify
    * produce name edges, [[graft.operators.Graph.connectedComponents]]
    * labels name clusters, and records join back by name — bodies move
    * once. The oracle replays variants, verify, a recursive-CTE closure,
    * and survivorship.
    */
  def qGoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sampling
    val part = table(s, dir, "part")
    val base = part.select(col("p_partkey").as("rid"), col("p_name").as("name"))
    val pos0 = pmod(Sampling.md5Lower(concat(lit("gr:"), col("p_partkey").cast("string"))),
      length(col("p_name")).cast("decimal(20,0)")).cast("int")
    // native graft_md5_mod (r13): value-identical to pmod(md5Lower(·), 5)
    val dupes = part.filter(
        graft.plans.NativeHash.md5Mod(col("p_partkey").cast("string"), 5L) === 0)
      .select((col("p_partkey") + 10000000L).as("rid"),
        concat(col("p_name").substr(lit(1), pos0),
          col("p_name").substr(pos0 + lit(2), length(col("p_name")))).as("name"))
    val records = Caches.persist(base.unionByName(dupes))
    val names = records.select(col("name")).distinct()
    val v = names.withColumn("variant",
      explode(graft.operators.FuzzyLink.deletionVariants(col("name"))))
    val edges = v.as("a").hint("shuffle_hash").join(v.as("b"),
        col("a.variant") === col("b.variant") && col("a.name") < col("b.name"))
      .select(col("a.name").as("src"), col("b.name").as("dst")).distinct()
      .filter(levenshtein(col("src"), col("dst")) <= 1)
    val labels = graft.operators.Graph.connectedComponents(edges, "src", "dst")
      .withColumnRenamed("node", "name")
    records.join(labels, Seq("name"), "left")
      .select(col("rid"), col("name"), coalesce(col("comp"), col("name")).as("cluster"))
      .groupBy("cluster")
      .agg(min(col("rid")).as("golden_id"), min(col("name")).as("golden_name"),
        countDistinct(col("name")).as("n_names"), count(lit(1)).as("n_members"))
      .select("golden_id", "golden_name", "n_names", "n_members")
      .orderBy("golden_id")
  }

  val qGoldenRecordSql: String =
    """WITH RECURSIVE base AS (
      |  SELECT p_partkey AS rid, p_name AS name FROM part),
      |dupes AS (
      |  SELECT p_partkey + 10000000 AS rid,
      |    substr(p_name, 1, pos0) || substr(p_name, pos0 + 2, length(p_name)) AS name
      |  FROM (
      |    SELECT p_partkey, p_name,
      |      CAST(md5_number_lower('gr:' || CAST(p_partkey AS VARCHAR)) % length(p_name) AS INT) AS pos0
      |    FROM part
      |    WHERE md5_number_lower(CAST(p_partkey AS VARCHAR)) % 5 = 0)),
      |records AS (SELECT * FROM base UNION ALL SELECT * FROM dupes),
      |names AS (SELECT DISTINCT name FROM records),
      |v AS (
      |  SELECT DISTINCT name,
      |    CASE WHEN i = 0 THEN name
      |         ELSE substr(name, 1, i - 1) || substr(name, i + 1, length(name)) END AS variant
      |  FROM names, unnest(range(0, length(name) + 1)) AS r(i)),
      |p AS (
      |  SELECT DISTINCT a.name AS src, b.name AS dst
      |  FROM v a JOIN v b ON a.variant = b.variant AND a.name < b.name),
      |e AS (
      |  SELECT src, dst FROM p WHERE levenshtein(src, dst) <= 1
      |  UNION ALL SELECT dst, src FROM p WHERE levenshtein(src, dst) <= 1),
      |reach(n, r) AS (
      |  SELECT name, name FROM names
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.n),
      |cl AS (SELECT n AS name, min(r) AS cluster FROM reach GROUP BY n)
      |SELECT CAST(min(rid) AS BIGINT) AS golden_id, min(rec.name) AS golden_name,
      |  CAST(count(DISTINCT rec.name) AS BIGINT) AS n_names,
      |  CAST(count(*) AS BIGINT) AS n_members
      |FROM records rec JOIN cl USING (name)
      |GROUP BY cluster
      |ORDER BY golden_id""".stripMargin

  // ---- 2-D skyline (Pareto front) -----------------------------------------------
  /** Pareto-optimal parts: no other part is both ≤ price and ≥ size with
    * one strict. The oracle is the textbook O(n²) NOT-EXISTS dominance
    * test; the Spark plan is [[graft.operators.Skyline.pareto2d]]'s
    * ordered scan — distinct-price group max + a two-level strict-prefix
    * max + one join back. Same rows, linear-ish work.
    */
  def qSkyline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline.pareto2d(table(s, dir, "part"), "p_retailprice", "p_size")
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_partkey")

  val qSkylineSql: String =
    """SELECT p_partkey, p_retailprice, p_size FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  // ---- interval sweep: max concurrent open orders per day ------------------------
  /** Classic sweep-line concurrency: each order is an interval
    * [o_orderdate, max(l_shipdate)]; +1/−1 deltas sorted by (ts, delta)
    * — ends apply before starts at the same instant (half-open
    * intervals) — and a GLOBAL running sum gives the number of open
    * orders at every event point; per-day max is the SLA-facing report.
    * The running sum is [[graft.operators.Scale.runningSum]] (two-level:
    * range partition + per-partition window + driver prefix over ≤
    * `shuffle.partitions` totals) — no single-task ORDER-BY window at any
    * size. Tied (ts, delta) rows are value-identical, so the per-day max
    * is permutation-invariant.
    */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(max(col("l_shipdate")).as("close_ts"))
    val ev = iv.select(col("o_orderdate").as("ts"), lit(1).as("delta"))
      .unionByName(iv.select(col("close_ts").as("ts"), lit(-1).as("delta")))
    graft.operators.Scale.runningSum(ev, Seq("ts", "delta"), "delta", "open")
      .groupBy(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"))
      .agg(max(col("open")).as("max_open"))
      .orderBy("day")
  }

  val qConcurrencySql: String =
    """WITH iv AS (
      |  SELECT o_orderkey, o_orderdate, max(l_shipdate) AS close_ts
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY o_orderkey, o_orderdate),
      |ev AS (
      |  SELECT o_orderdate AS ts, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT close_ts AS ts, -1 AS delta FROM iv),
      |sw AS (
      |  SELECT ts, SUM(delta) OVER (ORDER BY ts, delta ROWS UNBOUNDED PRECEDING) AS open
      |  FROM ev)
      |SELECT epoch_us(ts) // 86400000000 AS day, CAST(max(open) AS BIGINT) AS max_open
      |FROM sw GROUP BY 1
      |ORDER BY day""".stripMargin
}
