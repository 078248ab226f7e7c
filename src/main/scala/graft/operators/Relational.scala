package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational query core (SURVEY.md §2 D1-D14) — the analytics the
  * reference delegated to PostgreSQL after loading
  * (reference: etl_pipeline.py:212-222 of README's monitoring SQL),
  * re-expressed as Catalyst plans.
  *
  * Scale notes:
  *  - every aggregate is algebraic → map-side partial aggregation;
  *  - dim tables (region/nation/customer/supplier/part) join via
  *    `broadcast()`; only fact-fact joins shuffle;
  *  - money math goes through exact decimals (`dsum`) so results are
  *    order- and partitioning-insensitive — bit-identical on 32 cores
  *    or 1000 executors, and identical to the DuckDB oracle.
  */
object Relational {

  /** Exact-decimal money type: doubles in the data carry ≤2 decimal
    * places, so a scale-6 decimal cast is lossless. */
  private val M = DecimalType(18, 6)
  private def dec(c: Column): Column = c.cast(M)

  /** Order-insensitive sum of a double column: exact decimal sum,
    * round, back to double. */
  def dsum(c: Column, scale: Int = 2): Column =
    round(sum(dec(c)), scale).cast("double")

  /** Order-insensitive average (exact decimal sum / count). */
  def davg(c: Column, scale: Int = 4): Column =
    round(sum(dec(c)).cast("double") / count(lit(1)), scale)

  // ---------------------------------------------------------------- D1
  /** Filter + projection — both must reach the parquet scan
    * (PushedFilters + 3-column ReadSchema). */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 200000.0)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        round(dec(col("o_totalprice")) * lit(0.9).cast(M), 2)
          .cast("double").as("discounted"))

  // ---------------------------------------------------------------- D2
  /** TPC-H Q1-style grouped multi-aggregate over lineitem. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val discPrice = dec(col("l_extendedprice")) * (lit(1).cast(M) - dec(col("l_discount")))
    val charge = (dec(col("l_extendedprice")).cast(DecimalType(12, 4)) *
      (lit(1).cast(DecimalType(12, 4)) - col("l_discount").cast(DecimalType(12, 4)))) *
      (lit(1).cast(DecimalType(12, 4)) + col("l_tax").cast(DecimalType(12, 4)))
    l.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        round(sum(discPrice), 2).cast("double").as("sum_disc_price"),
        round(sum(charge), 2).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4)))), 2) AS DOUBLE) AS sum_charge,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
      |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- D3
  /** Star join: revenue by region/nation. All dims broadcast; the only
    * shuffle is lineitem⋈orders + the final aggregation. */
  def starJoin(s: SparkSession, dir: String): DataFrame = {
    val revenue = dec(col("l_extendedprice")) * (lit(1).cast(M) - dec(col("l_discount")))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(revenue), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val starJoinSql: String =
    """SELECT r_name, n_name,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- D4
  /** Fact-fact shuffle join (lineitem⋈orders) with aggregation —
    * sort-merge/shuffled-hash territory at 100 TB; AQE handles skew. */
  def bigJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        dsum(col("l_quantity")).as("sum_qty"))

  val bigJoinSql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_lines,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- D5
  /** Semi join: customers having at least one 300k+ order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  // ---------------------------------------------------------------- D6
  /** Anti join: customers with no orders at all. */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // ---------------------------------------------------------------- D7
  /** Window: top-3 orders per customer by price (deterministic
    * tie-break on orderkey). */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  val windowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
      |  FROM orders) t WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- D8
  /** Top-k: global top 10 orders by price. TakeOrderedAndProject —
    * only k rows ever reach the driver. */
  def topK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val topKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- D9
  /** Distinct counts over the fact table. */
  def distinctCounts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"))

  val distinctCountsSql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
      |FROM lineitem""".stripMargin

  // --------------------------------------------------------------- D10
  /** Conditional aggregation (CASE WHEN inside agg). */
  def condAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        dsum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(0.0)).as("returned_qty"),
        sum(when(col("l_discount") >= 0.05, 1L).otherwise(0L)).as("high_discount_lines"),
        count(lit(1)).as("n"))

  val condAggSql: String =
    """SELECT l_linestatus,
      |  CAST(ROUND(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))), 2) AS DOUBLE) AS returned_qty,
      |  CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount_lines,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // --------------------------------------------------------------- D11
  /** Rollup: hierarchical totals over (returnflag, linestatus). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val rollupAggSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // --------------------------------------------------------------- D12
  /** Tumbling-window event aggregation (hour buckets as strings so the
    * comparison is precision-agnostic). */
  def eventWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

  val eventWindowSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- D13
  /** Approximate distinct users per event type (HLL sketch) — the
    * 100 TB substitute for exact countDistinct. Rows-only check: HLL
    * estimates are engine-specific. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        count(lit(1)).as("n"))

  /** Driver-checkable gate for the HLL sketch: the approximate
    * distinct count must land within 5% of the exact count (the sketch
    * runs at rsd=0.01, so 5% is a generous, non-flaky band). The
    * sketch value itself is engine-specific; the thresholded verdict
    * plus the exact count are oracle-pinned exactly. */
  def approxDistinctGate(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("a"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("a").cast("double") / col("n_exact") - 1.0) <= 0.05).as("within_tol"))

  val approxDistinctGateSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS within_tol
      |FROM events GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- D14
  /** Gap-based sessionization (30-min inactivity) via window lag +
    * running sum — one shuffle on user_id, no state on the driver. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val sessionizeSql: String =
    """SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
      |  SELECT user_id, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, ts,
      |      CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |          FROM events) a) b) c
      |GROUP BY user_id""".stripMargin

  // -------------------------------------------------------------- D14b
  /** Per-session granularity via the built-in `session_window` (gap
    * merge in the aggregation itself — the same operator works on a
    * stream): one row per (user, session) with bounds and size.
    * Session end = last event + gap, per Spark's definition. */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("n_events"), col("sum_value"))

  val sessionWindowsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, value,
      |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |        FROM events) a),
      |sessioned AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
      |  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS sess_end,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM sessioned GROUP BY user_id, session_id""".stripMargin

  // --------------------------------------------------------------- D15
  /** Pivot: line counts by returnflag × linestatus. Explicit pivot
    * values, so no extra distinct-collection job runs at scale. */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .count()
      // a combination absent from the data pivots to NULL; the
      // SUM(CASE...) oracle (and the useful semantics) is 0
      .na.fill(0L, Seq("F", "O"))

  val pivotAggSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- D16
  /** Cube: totals over every subset of (returnflag, linestatus). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val cubeAggSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // --------------------------------------------------------------- D17
  /** Set operations: customers with a 250k+ order vs customers with an
    * urgent order — intersect / except / union cardinalities. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val high = o.filter(col("o_totalprice") > 250000.0).select(col("o_custkey")).distinct()
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")).distinct()
    // scalar attachment: broadcast the 1-row aggregates like every
    // other scalar crossJoin in the codebase, keeping the plan-audit's
    // cartesian scan a clean signal
    high.intersect(urgent).agg(count(lit(1)).as("n_both"))
      .crossJoin(broadcast(high.except(urgent).agg(count(lit(1)).as("n_high_only"))))
      .crossJoin(broadcast(high.union(urgent).distinct().agg(count(lit(1)).as("n_either"))))
  }

  val setOpsSql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_totalprice > 250000
      |    INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_both,
      |  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_totalprice > 250000
      |    EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_high_only,
      |  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_totalprice > 250000
      |    UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')) AS n_either""".stripMargin

  // --------------------------------------------------------------- D18
  /** As-of join: for every purchase event, the user's most recent
    * click at-or-before it. Implemented the scalable way — one tagged
    * union + an ignore-nulls running `last` over (user, time), so the
    * cost is a single sort-shuffle on user_id instead of a per-row
    * range join. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "click", col("ts")).as("click_ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("last_click"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("last_click"))).as("gap_us"))
  }

  val asofJoinSql: String =
    """WITH ev AS (SELECT user_id, ts, event_type,
      |    CASE WHEN event_type = 'click' THEN ts END AS click_ts,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (SELECT user_id, ts, event_type,
      |    LAST_VALUE(click_ts IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, tag ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
      |  FROM ev)
      |SELECT user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  strftime(last_click, '%Y-%m-%d %H:%M:%S') AS click_ts,
      |  CAST(epoch_us(ts) - epoch_us(last_click) AS BIGINT) AS gap_us
      |FROM w WHERE event_type = 'purchase'""".stripMargin

  // --------------------------------------------------------------- D18b
  /** Native as-of join ([[graft.plans.AsOfJoin]] — custom LogicalPlan
    * + SparkStrategy + merge-scan SparkPlan): every purchase joined to
    * the user's latest click at-or-before it, null-extended when none
    * exists. Same semantics as D18's window composition, but executed
    * as a co-partitioned streaming merge with O(1) per-partition state
    * — and oracle-checked against DuckDB's native ASOF LEFT JOIN. */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    // unique (key, time) right side → deterministic tie behavior
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(max(col("value")).as("c_val"))
    graft.plans.AsOfJoin.asofJoin(purchases, clicks, "p_user", "c_user", "p_ts", "c_ts")
      .select(col("p_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_time"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        col("c_val"))
  }

  val asofJoinNativeSql: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, MAX(value) AS c_val FROM events
      |      WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.p_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_time,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time, c.c_val
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  // --------------------------------------------------------------- D18c
  /** As-of join WITH TOLERANCE (the pandas `merge_asof(tolerance=...)`
    * / kdb `wj` cell): the most recent click at-or-before each
    * purchase counts only when it happened within the attribution
    * horizon (30 min); a staler click yields NULL, exactly like no
    * click at all. Same single sort-shuffle as D18 — tolerance is a
    * post-projection on the matched gap, so the horizon costs nothing
    * at any scale. NULL semantics fall out of three-valued logic: an
    * unmatched purchase has NULL gap, and NULL <= tol is NULL → both
    * output columns null without a special case. */
  def asofJoinTolerance(s: SparkSession, dir: String,
                        tolSeconds: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tolUs = tolSeconds * 1000000L
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "click", col("ts")).as("click_ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("last_click")))
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        when(col("gap_us") <= tolUs,
          date_format(col("last_click"), "yyyy-MM-dd HH:mm:ss")).as("click_ts"),
        when(col("gap_us") <= tolUs, col("gap_us")).as("gap_us"))
  }

  val asofJoinToleranceSql: String =
    """WITH ev AS (SELECT user_id, ts, event_type,
      |    CASE WHEN event_type = 'click' THEN ts END AS click_ts,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (SELECT user_id, ts, event_type,
      |    LAST_VALUE(click_ts IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, tag ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
      |  FROM ev),
      |g AS (SELECT user_id, ts, last_click,
      |    CAST(epoch_us(ts) - epoch_us(last_click) AS BIGINT) AS gap_us
      |  FROM w WHERE event_type = 'purchase')
      |SELECT user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  CASE WHEN gap_us <= 1800000000 THEN strftime(last_click, '%Y-%m-%d %H:%M:%S') END AS click_ts,
      |  CASE WHEN gap_us <= 1800000000 THEN gap_us END AS gap_us
      |FROM g""".stripMargin

  // --------------------------------------------------------------- D20
  /** Two-phase salted skew join — the production form of manual skew
    * mitigation for when AQE's runtime split isn't enough. Phase 0
    * detects hot keys from a bounded key-column sample of the big side
    * (top `topHot` sampled keys — a driver-bounded set, never an exact
    * full-key histogram). Only rows with those keys take the salted
    * path: the big side gets a deterministic salt in [0, nSalts), the
    * other side is exploded once per salt PER HOT KEY (≤ topHot·nSalts
    * extra rows — not a whole-side ×nSalts explode). Everything else
    * runs as a plain join, and the union is exactly the plain join's
    * result no matter which keys the sample flags — so correctness
    * never depends on the sample. Columns of the two inputs must be
    * disjoint. */
  def skewSaltedJoin(big: DataFrame, bigKey: String, dim: DataFrame,
                     dimKey: String, nSalts: Int = 8, topHot: Int = 100,
                     sampleFraction: Double = 0.05): DataFrame = {
    require(nSalts > 0, s"nSalts must be positive, got $nSalts")
    val plainCols = (big.columns ++ dim.columns).map(col(_))
    // bounded driver set: topHot keys from a sampled histogram
    val hotVals = big.select(col(bigKey))
      .sample(withReplacement = false, sampleFraction, seed = 7L)
      .groupBy(col(bigKey)).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col(bigKey).asc)
      .limit(topHot)
      .collect().map(_.get(0)).filter(_ != null)
    if (hotVals.isEmpty)
      return big.join(dim, col(bigKey) === col(dimKey)).select(plainCols: _*)
    // the salt only spreads rows, so any deterministic per-row value works
    val saltExpr = pmod(xxhash64(struct(big.columns.map(col(_)): _*)), lit(nSalts))
    val hotJoined = big.filter(col(bigKey).isin(hotVals: _*))
      .withColumn("b_salt", saltExpr)
      .join(dim.filter(col(dimKey).isin(hotVals: _*))
          .withColumn("d_salt", explode(array((0 until nSalts).map(lit(_)): _*))),
        col(bigKey) === col(dimKey) && col("b_salt") === col("d_salt"))
    val coldJoined = big.filter(!col(bigKey).isin(hotVals: _*))
      .join(dim.filter(!col(dimKey).isin(hotVals: _*)),
        col(bigKey) === col(dimKey))
    hotJoined.select(plainCols: _*).unionByName(coldJoined.select(plainCols: _*))
  }

  /** D20 driver query: lineitem ⋈ orders through [[skewSaltedJoin]] —
    * verified by the same oracle as a plain join. */
  def saltedJoin(s: SparkSession, dir: String, nSalts: Int = 8): DataFrame =
    skewSaltedJoin(Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey", nSalts)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))

  val saltedJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- D22
  /** Cumulative aggregation with a RANGE frame: running revenue per
    * customer by order date. RANGE (not ROWS) so all same-date peers
    * aggregate together — the result is deterministic under any
    * intra-date row order, hence safe for exact comparison. */
  def cumulativeSum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("cum_spend", round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"), col("cum_spend"))
  }

  val cumulativeSumSql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_spend
      |FROM orders""".stripMargin

  // --------------------------------------------------------------- D23
  /** Correlated-scalar-subquery shape: orders priced above their own
    * customer's average — expressed as a window average (one shuffle)
    * rather than a per-row subquery. The average is an exact decimal
    * sum divided by the count, so the comparison boundary is
    * bit-identical in any engine. */
  def aboveCustomerAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
    val avgP = sum(dec(col("o_totalprice"))).over(w).cast("double") /
      count(lit(1)).over(w)
    Tables.orders(s, dir)
      .withColumn("avg_p", avgP)
      .filter(col("o_totalprice") > col("avg_p"))
      .agg(count(lit(1)).as("n_above"),
        countDistinct(col("o_custkey")).as("n_custs"))
  }

  val aboveCustomerAvgSql: String =
    """SELECT COUNT(*) AS n_above, COUNT(DISTINCT o_custkey) AS n_custs FROM (
      |  SELECT o_custkey, o_totalprice,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey) AS DOUBLE)
      |      / COUNT(*) OVER (PARTITION BY o_custkey) AS avg_p
      |  FROM orders) t
      |WHERE o_totalprice > avg_p""".stripMargin

  // --------------------------------------------------------------- D24
  /** Approximate quantiles (GK sketch) — the 100 TB path next to the
    * exact rank-selection of `quantiles`: one pass, mergeable partial
    * sketches, no per-group sort. Rows-only check (sketch results are
    * engine-specific), so the output is exploded to scalar rows
    * (l_linestatus, p, value) — an array column would crash the
    * driver's row-sort compare. */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9)), lit(10000)).as("approx_p"))
      .select(col("l_linestatus"),
        posexplode(col("approx_p")).as(Seq("pos", "value")))
      .select(col("l_linestatus"),
        element_at(array(lit(0.5), lit(0.9)), col("pos") + 1).as("p"),
        col("value"))

  /** Driver-checkable gate for the GK sketch: each approximate
    * quantile must lie between the exact values at ranks
    * ⌈p·n⌉ ± (⌈n/accuracy⌉ + 1) — the sketch's rank-error guarantee
    * with one rank of slack for boundary-definition differences.
    *
    * The four bound values are value-at-rank selections (values are
    * non-decreasing in rank, so `max(value | rn ≤ K)` IS the value at
    * rank K, and `min(value | rn ≥ K)` the value at rank K; both rank
    * targets provably land in [1, n]) — since r20 they ride the binned
    * selection core ([[Analytics.binnedRankAt]], the identical rank
    * expressions evaluated on the histogram's group count) instead of
    * the GlobalRank full-relation range exchange + sort this family
    * left in r18/r19. */
  def approxQuantileGate(s: SparkSession, dir: String): DataFrame = {
    def eps(n: Column) = ceil(n / lit(10000)) + lit(1)
    def loR(p: Double)(n: Column) =
      greatest(lit(1), ceil(n * p) - eps(n))
    def hiR(p: Double)(n: Column) =
      least(n, ceil(n * p) + eps(n))
    val src = Tables.lineitem(s, dir)
      .select(col("l_linestatus"), col("l_extendedprice").as("value"))
    // same size dispatch (and the same provably-equal-arms argument)
    // as exactQuantiles: the identical rank expressions evaluate on
    // either the histogram's group count or the ranked frame's n
    val bounds =
      if (inputLeafBytes(src) > binnedMinBytes(src)) {
        val at = Analytics.binnedRankAt(src, "l_linestatus", "value",
          Seq[(String, Column => Column)](
            "lo_50" -> loR(0.5) _, "hi_50" -> hiR(0.5) _,
            "lo_90" -> loR(0.9) _, "hi_90" -> hiR(0.9) _))
        at.groupBy(col("l_linestatus")).agg(
          max(when(col("lbl") === "lo_50", col("value"))).as("lo_50"),
          max(when(col("lbl") === "hi_50", col("value"))).as("hi_50"),
          max(when(col("lbl") === "lo_90", col("value"))).as("lo_90"),
          max(when(col("lbl") === "hi_90", col("value"))).as("hi_90"))
      } else {
        val ranked = globalRank(src, Seq("l_linestatus"), Seq("value"))
        def lo(p: Double) = max(when(col("rn") <= loR(p)(col("n")), col("value")))
        def hi(p: Double) = min(when(col("rn") >= hiR(p)(col("n")), col("value")))
        ranked.groupBy(col("l_linestatus")).agg(
          lo(0.5).as("lo_50"), hi(0.5).as("hi_50"),
          lo(0.9).as("lo_90"), hi(0.9).as("hi_90"))
      }
    approxQuantiles(s, dir).join(bounds, "l_linestatus")
      .select(col("l_linestatus"), col("p"),
        when(col("p") === 0.5, col("value").between(col("lo_50"), col("hi_50")))
          .otherwise(col("value").between(col("lo_90"), col("hi_90")))
          .as("in_bounds"))
  }

  val approxQuantileGateSql: String =
    """SELECT l_linestatus, p, TRUE AS in_bounds
      |FROM (SELECT DISTINCT l_linestatus FROM lineitem),
      |     (SELECT UNNEST([0.5, 0.9]) AS p)""".stripMargin

  // --------------------------------------------------------------- D19
  /** Distributed global rank: every row's 1-based position within its
    * group under `sortCols` order, WITHOUT a per-group single-reducer
    * sort. Range-repartition by (groupCols ++ sortCols) so every
    * partition holds a contiguous slice of the key space, rank locally
    * within each sorted partition (one sequential iterator pass), then
    * lift local ranks to global ones by adding per-(partition, group)
    * offsets — a #partitions × #groups-sized aggregate, broadcast
    * back. The expensive part (the sort) parallelizes across ALL
    * partitions regardless of group cardinality; a `row_number` window
    * over a handful of groups would funnel the whole table through
    * that many reducer sorts. Appends `rankCol` and `countCol` (group
    * size) to the input columns. Ranks among `sortCols` ties follow
    * partition-local order — pass a total order (e.g. append a unique
    * id) when exact positions must be deterministic. With no
    * groupCols the offsets window runs unpartitioned — over exactly
    * #partitions COUNT rows, never data, so the single-reducer window
    * warning it triggers is inherently bounded. */
  def globalRank(df: DataFrame, groupCols: Seq[String], sortCols: Seq[String],
                 nParts: Int = -1, rankCol: String = "rn",
                 countCol: String = "n",
                 rankFilter: Option[(Column, Column) => Column] = None): DataFrame = {
    require(sortCols.nonEmpty, "globalRank needs at least one sort column")
    // nParts < 0 → follow the session's shuffle parallelism: a fixed
    // default (the old 32) would range-partition a 100 TB table into
    // 32 slices no matter how many executors the cluster has
    val numParts =
      if (nParts > 0) nParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val keyCols = (groupCols ++ sortCols).map(col(_))
    // ONE explicit range exchange, consumed twice INSIDE the native
    // GlobalRank operator (a counting job straight off the shuffle
    // output, then the single planned sort + rank pass) — partition
    // ids coherent by construction, no offsets aggregate, no window,
    // no broadcast join (see plans/GlobalRank.scala). `rankFilter`
    // is the RIDER: a (rn, n) => bool Column evaluated inside the
    // emit loop, so rank-selection queries (quantile brackets) never
    // materialize the full ranked table.
    val parts0 = df.repartitionByRange(numParts, keyCols: _*)
    graft.plans.GlobalRank.withGlobalRank(parts0, groupCols, sortCols,
      rankCol, countCol, rankFilter = rankFilter)
  }

  /** Distributed global running total (inclusive prefix sum) of long
    * column `sumCol` in `sortCols` order within each group — the same
    * ONE-exchange native operator as [[globalRank]], with the counting
    * pass also accumulating per-(partition, group) value sums so the
    * scan needs no extra job, no window, and no second shuffle. An
    * unpartitioned `SUM() OVER (ORDER BY …)` would funnel the whole
    * table through one reducer; this parallelizes across all range
    * partitions. The sum column must be LONG: integer addition is
    * associative, so the prefix sum is exact and partitioning-
    * independent. Appends `rankCol`, `countCol`, and `runCol`. */
  def globalRunningSum(df: DataFrame, groupCols: Seq[String],
                       sortCols: Seq[String], sumCol: String,
                       nParts: Int = -1, rankCol: String = "rn",
                       countCol: String = "n",
                       runCol: String = "run_sum"): DataFrame = {
    require(sortCols.nonEmpty, "globalRunningSum needs a sort column")
    val numParts =
      if (nParts > 0) nParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val keyCols = (groupCols ++ sortCols).map(col(_))
    val parts0 = df.repartitionByRange(numParts, keyCols: _*)
    graft.plans.GlobalRank.withGlobalRank(parts0, groupCols, sortCols,
      rankCol, countCol, sumCol = Some(sumCol), runCol = runCol)
  }

  /** Exact per-group quantiles by rank selection: for each p in `ps`,
    * the value at rank ⌈p·n⌉ within its group — a value FROM the data
    * (no interpolation drift), computed without any per-group
    * single-reducer sort, so it survives groups with billions of rows.
    * Output: groupCols ++ (p, value). Ties share a rank neighborhood
    * and the VALUE at any rank is unique regardless of tie order, so
    * the result is exact and deterministic.
    *
    * SIZE-ADAPTIVE dispatch (r20): two provably-equal arms.
    *
    *  - Small inputs ride [[globalRank]] (one range exchange + sort +
    *    in-operator rank-bracket selection) — at bench-local sizes the
    *    sort is partition-local and cheaper than the binned core's
    *    fixed second job (measured r19: 0.42 s vs 0.96 s at sf0.1 on
    *    the 20 k-row iqr input, which is why r19 reverted the
    *    unconditional binned form).
    *  - Inputs whose plan-statistics size exceeds
    *    `spark.graft.select.binnedMinBytes` (default 256 MB — where a
    *    full-relation range exchange + sort becomes the query's floor;
    *    production keeps the default, the knob exists for measurement
    *    and tests) take the two-phase binned selection
    *    ([[Analytics.binnedRankQuantiles]]): one histogram aggregate +
    *    a crossing-bin resolve scan with value-range pushdown —
    *    NOTHING data-sized is sorted or range-exchanged, the r18/r19
    *    shape that already carries the weighted family and D19.
    *
    * Equality of the arms: the binned arm selects the smallest value
    * whose cumulative count cw satisfies den·cw ≥ num·n, i.e. the
    * value at rank ⌈(num/den)·n⌉; the dispatch only takes it when
    * every p is a small DYADIC rational (den a power of two ≤ 1024),
    * where n·p in double arithmetic is exact for every row count the
    * rank arm could see — so ⌈n·p⌉ (rank arm) ≡ ⌈n·num/den⌉ (binned
    * arm) for ALL n, not just tested ones (ExactQuantileDispatchSpec
    * pins both arms row-identical). Non-dyadic p or multi-column
    * groups always take the rank arm. */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     ps: Seq[Double], nParts: Int = -1): DataFrame = {
    val rationals = ps.map(smallDyadic)
    if (groupCols.size == 1 && rationals.forall(_.isDefined) &&
        inputLeafBytes(df) > binnedMinBytes(df)) {
      Analytics.binnedRankQuantiles(
        df.select((groupCols :+ valueCol).map(col(_)): _*),
        groupCols.head, valueCol, rationals.map(_.get))
        .select((groupCols.map(col(_)) :+ col("p") :+ col("value")): _*)
    } else {
      // the bracket selection rides INSIDE the rank operator: only rows
      // at a wanted rank are ever projected out of the sort pass; null
      // values are dropped before ranking, as the binned arm (and
      // DuckDB's quantile_disc) drops them
      val ranked = globalRank(df.select((groupCols :+ valueCol).map(col(_)): _*)
          .filter(col(valueCol).isNotNull),
        groupCols, Seq(valueCol), nParts,
        rankFilter = Some((rn, n) =>
          ps.map(p => rn === ceil(n * p).cast("long")).reduce(_ || _)))
      val matched = array(ps.map(p =>
        when(col("rn") === ceil(col("n") * p).cast("long"), lit(p))): _*)
      ranked.select((groupCols.map(col(_)) :+
        explode(filter(matched, x => x.isNotNull)).as("p") :+
        col(valueCol).as("value")): _*)
    }
  }

  /** The size-dispatch threshold (see [[exactQuantiles]]). */
  private def binnedMinBytes(df: DataFrame): BigInt =
    BigInt(df.sparkSession.conf
      .get("spark.graft.select.binnedMinBytes", (256L * 1024 * 1024).toString))

  /** Source size from LEAF-relation statistics only (file sizes for
    * parquet scans) — the analyzed plan's leaves, never the optimizer:
    * an `optimizedPlan.stats` probe re-runs the whole optimizer on the
    * input subtree at DataFrame-construction time, which measured as a
    * ~0.1 s driver-side regression on iqr_outliers when this dispatch
    * first landed. */
  private def inputLeafBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum

  /** p as an exact small dyadic rational (num, den = 2^k ≤ 1024, label
    * whose double cast reproduces p), or None. For such p, n·p is
    * exact in double arithmetic for any realistic row count, which is
    * what makes the two [[exactQuantiles]] arms provably equal. */
  private def smallDyadic(p: Double): Option[(Long, Long, String)] = {
    var den = 1L
    while (den <= 1024L) {
      val num = p * den
      if (num == math.rint(num) && num >= 0.0 && num <= den.toDouble &&
          num.toLong.toDouble / den.toDouble == p)
        return Some((num.toLong, den, p.toString))
      den *= 2
    }
    None
  }

  /** Exact quantiles by rank (p50/p90 of extended price per line
    * status): the value at rank ⌈p·n⌉ — rank selection, not
    * interpolation, so the result is a value from the data and is
    * bit-identical in any engine (no float interpolation drift).
    * Selection rides the two-phase binned core
    * ([[Analytics.binnedRankQuantiles]] — r19, replacing the
    * GlobalRank full-relation range exchange + sort; p as exact
    * rationals, so the crossing test is pure BIGINT arithmetic). */
  def quantiles(s: SparkSession, dir: String): DataFrame =
    Analytics.binnedRankQuantiles(
      Tables.lineitem(s, dir)
        .select(col("l_linestatus"), col("l_extendedprice").as("value")),
      "l_linestatus", "value", Seq((1L, 2L, "0.5"), (9L, 10L, "0.9")))

  val quantilesSql: String =
    """WITH w AS (SELECT l_linestatus, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_linestatus ORDER BY l_extendedprice ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_linestatus) AS n
      |  FROM lineitem)
      |SELECT l_linestatus, 0.5 AS p, l_extendedprice AS value FROM w
      |  WHERE rn = CAST(CEIL(n * 0.5) AS BIGINT)
      |UNION ALL
      |SELECT l_linestatus, 0.9 AS p, l_extendedprice AS value FROM w
      |  WHERE rn = CAST(CEIL(n * 0.9) AS BIGINT)""".stripMargin

  // --------------------------------------------------------------- D41
  /** Bloom-pre-filtered join (explicit runtime filtering): build a
    * bloom filter over the selective dim side's join keys (one
    * sketch-sized agg job), prune the fact side with `might_contain`
    * BEFORE its shuffle, then run the exact join — false positives
    * drop out there, so the result is identical to the plain join.
    * At 100 TB this is the difference between shuffling the whole
    * fact table and shuffling ~the matching fraction; unlike relying
    * on `InjectRuntimeFilter`, the pruning is under explicit control.
    * PlanSpec asserts `might_contain` sits in the fact scan stage. */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir)
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"))
    val bloom = graft.functions.BloomExprs.buildBloom(
      dim, "c_custkey", expectedItems = 100000L, numBits = 1L << 20)
    Tables.orders(s, dir)
      .filter(graft.functions.BloomExprs.mightContain(bloom, col("o_custkey")))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
  }

  val bloomJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_nationkey < 5
      |GROUP BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- D42
  /** Value-RANGE window frame: per customer, the count and exact sum
    * of orders whose total price lies within ±1000 of the current
    * order's — the frame is defined by VALUE distance, not row
    * offsets, so tied/clustered prices share one frame. One shuffle on
    * the partition key; decimal sum keeps it order-insensitive. */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      .rangeBetween(-1000L, 1000L)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      count(lit(1)).over(w).as("n_near"),
      round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double").as("sum_near"))
  }

  val rangeFrameSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  COUNT(*) OVER w AS n_near,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS sum_near
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
      |             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)""".stripMargin

  // --------------------------------------------------------------- D25
  /** Offset/ranking window family beyond rank: prev/next order per
    * customer (lag/lead), spend quartile (ntile), percentile position
    * (percent_rank) — one window pass, deterministic order. */
  def lagLead(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_orderkey"), 1).over(w).as("prev_order"),
      lead(col("o_orderkey"), 1).over(w).as("next_order"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pr"))
  }

  val lagLeadSql: String =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_orderkey, 1) OVER w AS prev_order,
      |  LEAD(o_orderkey, 1) OVER w AS next_order,
      |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      |  ROUND(PERCENT_RANK() OVER w, 6) AS pr
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin

  // --------------------------------------------------------------- D26
  /** GROUPING SETS: per-flag totals, per-status totals, and the grand
    * total in one pass (a single Expand + aggregation — each input row
    * is replicated once per set, not re-scanned per set). */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  // --------------------------------------------------------------- D27
  /** Range (non-equi interval) join: events bucketed against a value-
    * band dimension. The band table is tiny and broadcast, so the
    * non-equi predicate runs as a broadcast nested-loop against 10
    * rows — no shuffle of the fact side, which is the only sane plan
    * for interval joins at 100 TB (never sort-merge on a non-equi
    * key). */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(10).select(
      (col("id") * 50.0).as("lo"), ((col("id") + 1) * 50.0).as("hi"))
    Tables.events(s, dir)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  val rangeJoinSql: String =
    """SELECT lo, hi, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |JOIN (SELECT i * 50.0 AS lo, (i + 1) * 50.0 AS hi FROM range(10) t(i)) bands
      |  ON value >= lo AND value < hi
      |GROUP BY lo, hi""".stripMargin

  // --------------------------------------------------------------- D28
  /** Aggregate + HAVING: repeat customers (≥ 8 orders) with exact-
    * decimal lifetime spend. The HAVING filter runs post-aggregation
    * on the reduced relation, never on the fact rows. */
  def havingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 8)

  val havingAggSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS spend
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8""".stripMargin

  // --------------------------------------------------------------- D35
  /** Outer join with null-side accounting: every customer with their
    * order count and spend, zero-filled for the orderless (left outer
    * — the dim side broadcasts, the fact side aggregates FIRST so the
    * join is keys-vs-keys, not keys-vs-rows). */
  def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
    Tables.customer(s, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"))
  }

  val outerJoinSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  COALESCE(n_orders, 0) AS n_orders, COALESCE(spend, 0.0) AS spend
      |FROM customer LEFT OUTER JOIN (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey""".stripMargin

  // --------------------------------------------------------------- D36
  /** Cross join of bounded dimensions (the calendar×dim scaffold shape)
    * — legitimate only when both sides are tiny; Spark broadcasts the
    * smaller side into a nested loop. */
  def crossDim(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).select(col("r_name"))
      .crossJoin(Tables.nation(s, dir).select(col("n_name")))
      .agg(count(lit(1)).as("n_combos"),
        countDistinct(col("r_name")).as("n_regions"),
        countDistinct(col("n_name")).as("n_nations"))

  val crossDimSql: String =
    """SELECT COUNT(*) AS n_combos, COUNT(DISTINCT r_name) AS n_regions,
      |  COUNT(DISTINCT n_name) AS n_nations
      |FROM region CROSS JOIN nation""".stripMargin

  // --------------------------------------------------------------- D40
  /** String aggregation (LISTAGG shape): nations per region as one
    * sorted CSV string. `collect_list` order is partition-dependent,
    * so the list is sorted BEFORE joining — deterministic under any
    * parallelism. */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
        count(lit(1)).as("n"))

  val stringAggSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  COUNT(*) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  // --------------------------------------------------------------- D38
  /** Recursive CTE (Spark 4 WITH RECURSIVE): a generated calendar
    * scaffold left-joined to facts so empty days surface as zeros —
    * the gap-filling shape reporting queries need. The recursion depth
    * is the calendar length (bounded), not data-dependent.
    *
    * Scale shape: the fact table is aggregated to one row per day
    * FIRST (map-side partials → one scan, exchange carries ≈ #days
    * partial rows), and only that day-level aggregate joins the
    * calendar — joining raw facts to a low-cardinality calendar key
    * would shuffle the whole table onto a handful of hot date
    * partitions for a dim-sized result. */
  def recursiveCalendar(s: SparkSession, dir: String): DataFrame = {
    val perDay = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(col("o_orderkey")).as("cnt"))
    val cal = s.sql(
      """WITH RECURSIVE cal AS (
        |  SELECT DATE'1995-01-01' AS d
        |  UNION ALL SELECT date_add(d, 1) FROM cal WHERE d < DATE'1995-01-31')
        |SELECT date_format(d, 'yyyy-MM-dd') AS day FROM cal""".stripMargin)
    cal.join(broadcast(perDay), Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
  }

  val recursiveCalendarSql: String =
    """WITH RECURSIVE cal(d) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL SELECT d + INTERVAL 1 DAY FROM cal WHERE d < DATE '1995-01-31')
      |SELECT strftime(d, '%Y-%m-%d') AS day, COUNT(o_orderkey) AS n_orders
      |FROM cal LEFT JOIN orders
      |  ON strftime(o_orderdate, '%Y-%m-%d') = strftime(d, '%Y-%m-%d')
      |GROUP BY strftime(d, '%Y-%m-%d')""".stripMargin

  // --------------------------------------------------------------- D39
  /** Correlated LATERAL subquery: per-customer aggregate computed in a
    * lateral derived table (decorrelated by Catalyst into a join, not
    * executed per row). */
  def lateralAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_lt")
    Tables.orders(s, dir).createOrReplaceTempView("orders_lt")
    s.sql("""
      |SELECT c_custkey, t.n AS n_orders
      |FROM customer_lt c, LATERAL (
      |  SELECT COUNT(*) AS n FROM orders_lt o WHERE o.o_custkey = c.c_custkey) t
      |WHERE t.n >= 8""".stripMargin)
  }

  val lateralAggSql: String =
    """SELECT c_custkey, t.n AS n_orders
      |FROM customer c, LATERAL (
      |  SELECT COUNT(*) AS n FROM orders o WHERE o.o_custkey = c.c_custkey) t
      |WHERE t.n >= 8""".stripMargin

  // --------------------------------------------------------------- D37
  /** Unpivot (melt): wide measures → long (measure, value) rows — a
    * per-row Expand projection (no shuffle until the aggregation),
    * summarized per measure with exact decimals. */
  def unpivotAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

  val unpivotAggSql: String =
    """WITH u AS (
      |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
      |SELECT measure, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM u GROUP BY measure""".stripMargin

  // --------------------------------------------------------------- D32
  /** Moving aggregate over a ROWS frame: per-customer trailing-3-order
    * spend. The ordering key is made unique (date, orderkey) so the
    * frame contents — and the exact-decimal sum — are deterministic
    * under any partitioning. */
  def movingSum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("trailing3",
        round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("trailing3"))
  }

  val movingSumSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trailing3
      |FROM orders""".stripMargin

  // --------------------------------------------------------------- D33
  /** first_value / last_value / nth_value over the full partition
    * frame: each customer's first, latest, and second order. One
    * window pass, unique ordering key. */
  def firstLast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      .distinct()
  }

  val firstLastSql: String =
    """SELECT DISTINCT o_custkey,
      |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
      |  LAST_VALUE(o_orderkey) OVER w AS last_order,
      |  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  // --------------------------------------------------------------- D34
  /** Hopping (sliding) time windows: 1-hour windows advancing every 30
    * minutes, so each event lands in exactly two windows — the batch
    * analogue of a sliding streaming aggregation. Spark's `window()`
    * generates the window set per row (an explode, no self-join); the
    * oracle reproduces it as a two-way union of shifted tumbling
    * windows. */
  def hoppingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  val hoppingWindowSql: String =
    """WITH slotted AS (
      |  SELECT to_timestamp(FLOOR(epoch(ts) / 1800) * 1800) AS slot, event_type, value
      |  FROM events),
      |assigned AS (
      |  SELECT slot AS win_start, event_type, value FROM slotted
      |  UNION ALL
      |  SELECT slot - INTERVAL 30 MINUTE AS win_start, event_type, value FROM slotted)
      |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM assigned GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- D30
  /** Per-key top-k via the bounded custom aggregate
    * ([[graft.functions.BoundedTopK]]): identical rows to D7's window
    * rank, but the shuffle carries ≤ k rows per key per partition and
    * nothing ever sorts the full table — the 100 TB formulation.
    * Ordering is struct-natural: (-price, orderkey) ascending ≡ price
    * desc, orderkey asc. */
  def topKPerKey(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKAgg.boundedTopK(
        struct((-col("o_totalprice")).as("np"), col("o_orderkey")), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("o_custkey"), col("t.o_orderkey").as("o_orderkey"),
        (-col("t.np")).as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rn"))

  // --------------------------------------------------------------- D43
  /** Windowed distinct counting — SQL's COUNT(DISTINCT) OVER, which
    * Spark's window aggregates don't support natively: expressed as
    * the size of a running collect_set in one window pass. Correct for
    * bounded-cardinality attributes (the per-row state is the distinct
    * set, here ≤ 5 priorities); a high-cardinality attribute should
    * use HLL partials instead — this is the exact form. */
  def windowDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      size(collect_set(col("o_orderpriority")).over(w)).as("distinct_prios"))
  }

  val windowDistinctSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(COUNT(DISTINCT o_orderpriority) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
      |    AS distinct_prios
      |FROM orders""".stripMargin

  // --------------------------------------------------------------- D29
  /** Multiset (bag) set operations: EXCEPT ALL / INTERSECT ALL over
    * order priorities — duplicates preserved, unlike D17's distinct
    * variants. Spark plans both as aggregate+generate (sum/min of
    * per-side counts), never a join per duplicate. */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val high = o.filter(col("o_totalprice") > 250000.0).select(col("o_orderpriority"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderpriority"))
    high.exceptAll(urgent).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_except_all"))
      .join(
        high.intersectAll(urgent).groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_intersect_all")),
        Seq("o_orderpriority"), "full_outer")
      .na.fill(0L, Seq("n_except_all", "n_intersect_all"))
  }

  val setOpsAllSql: String =
    """WITH high AS (SELECT o_orderpriority FROM orders WHERE o_totalprice > 250000),
      |urgent AS (SELECT o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'),
      |ea AS (SELECT o_orderpriority, COUNT(*) AS n_except_all
      |       FROM (SELECT * FROM high EXCEPT ALL SELECT * FROM urgent) GROUP BY 1),
      |ia AS (SELECT o_orderpriority, COUNT(*) AS n_intersect_all
      |       FROM (SELECT * FROM high INTERSECT ALL SELECT * FROM urgent) GROUP BY 1)
      |SELECT COALESCE(ea.o_orderpriority, ia.o_orderpriority) AS o_orderpriority,
      |  COALESCE(n_except_all, 0) AS n_except_all,
      |  COALESCE(n_intersect_all, 0) AS n_intersect_all
      |FROM ea FULL OUTER JOIN ia ON ea.o_orderpriority = ia.o_orderpriority""".stripMargin

  // --------------------------------------------------------------- D75
  /** Multi-aggregate pivot (D15 with BOTH a sum and a count per
    * pivoted value — the report shape where one pivot pass must carry
    * several measures): Spark plans the aliased aggregates into ONE
    * hash aggregate over the Expand-free pivot projection — one
    * shuffle, same as the single-measure pivot, and the quantity sum
    * goes through the exact-decimal discipline so partial-aggregation
    * order cannot move the result. */
  def pivotMulti(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("cnt"))
      .na.fill(0L, Seq("F_cnt", "O_cnt"))
      .na.fill(0.0, Seq("F_qty", "O_qty"))

  val pivotMultiSql: String =
    """SELECT l_returnflag,
      |  CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_quantity AS DECIMAL(18,6)) ELSE 0 END), 2) AS DOUBLE) AS F_qty,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F_cnt,
      |  CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_quantity AS DECIMAL(18,6)) ELSE 0 END), 2) AS DOUBLE) AS O_qty,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O_cnt
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
}
