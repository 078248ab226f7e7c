package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Statistical / temporal analytics operators (SURVEY §2 D44-D48).
  *
  * Cross-engine float discipline: every aggregate that feeds a derived
  * statistic is an EXACT decimal (or integer) sum, so the reduction is
  * order-independent under any partitioning; the floating-point math
  * happens once, on the final scalars, with the same expression shape
  * the oracle uses — identical inputs + identical IEEE-754 ops =
  * identical bits. Summing doubles directly would tie the result to
  * partition count.
  */
object Analytics {

  // --------------------------------------------------------------- D44
  /** Correlation / covariance / stddev per group, derived from exact
    * component sums (n, Σx, Σy, Σxy, Σx², Σy²). One shuffle of six
    * scalars per group; the raw products are computed in double (one
    * deterministic op each) and pinned to DECIMAL(28,8) before the
    * order-sensitive summation. At 100 TB this is the only shape that
    * gives bit-stable statistics: `corr()`'s internal double
    * accumulation varies with partitioning. */
  def statsAgg(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 6))).as("sx"),
        sum(y.cast(DecimalType(18, 6))).as("sy"),
        sum((x * y).cast(DecimalType(28, 8))).as("sxy"),
        sum((x * x).cast(DecimalType(28, 8))).as("sxx"),
        sum((y * y).cast(DecimalType(28, 8))).as("syy"))
      .select(col("l_returnflag"), col("n"),
        // mirror the oracle's expression tree exactly (see statsAggSql)
        expr("""round((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
               | (sqrt(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) *
               |  sqrt(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))), 6)
               |""".stripMargin).as("corr_qty_price"),
        expr("""round((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
               | (cast(n as double) * (cast(n as double) - 1.0)), 4)""".stripMargin).as("covar_samp"),
        expr("""round(sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) /
               | (cast(n as double) * (cast(n as double) - 1.0))), 6)""".stripMargin).as("stddev_qty"))
  }

  val statsAggSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
      |    SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS sxy,
      |    SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS sxx,
      |    SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
      |   (sqrt(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) *
      |    sqrt(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))), 6)
      |    AS corr_qty_price,
      |  round((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
      |   (cast(n as double) * (cast(n as double) - 1.0)), 4) AS covar_samp,
      |  round(sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) /
      |   (cast(n as double) * (cast(n as double) - 1.0))), 6) AS stddev_qty
      |FROM g""".stripMargin

  // --------------------------------------------------------------- D45
  /** Time-interval RANGE frame: per-user trailing-1-hour sum over the
    * event stream. The frame is anchored on exact epoch-microseconds
    * (events carry µs precision; both engines see identical integers),
    * and the windowed sum is an exact decimal, so ties in `ts` — which
    * RANGE frames treat as one peer group — cannot produce
    * order-dependent output. Scale shape: partitions by user_id
    * (high cardinality), one sort per partition, no global sort. */
  def timeRangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        round(sum(col("value").cast(DecimalType(18, 6))).over(w), 2)
          .cast("double").as("trailing_1h"))
  }

  val timeRangeFrameSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
      |    AS trailing_1h
      |FROM events""".stripMargin

  // --------------------------------------------------------------- D46
  /** Deterministic mode (most frequent value, smallest wins ties) per
    * group. Built-in `mode()` is tie-nondeterministic, so: count pass
    * (map-side partials) then an argmax via max-of-struct — both
    * shuffles carry one row per (group, value), never the fact table,
    * and there is no per-group sort. */
  def modeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(max(struct(col("cnt"), (-col("l_quantity")).as("nq"))).as("m"))
      .select(col("l_returnflag"), col("m.cnt").as("mode_n"),
        (-col("m.nq")).as("mode_qty"))

  val modeAggSql: String =
    """WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, cnt AS mode_n, l_quantity AS mode_qty FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |    ORDER BY cnt DESC, l_quantity ASC) AS rn FROM c)
      |WHERE rn = 1""".stripMargin

  // --------------------------------------------------------------- D47
  /** Calendar arithmetic: month truncation, end-of-month alignment,
    * day spans — the date dimension toolkit. All functions chosen to
    * have identical semantics in both engines (truncation, last_day,
    * whole-day diffs); everything stays in whole dates/integers. */
  def dateArith(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"),
        col("o_orderdate"))
      .groupBy(col("month"))
      .agg(
        count(lit(1)).as("n"),
        max(date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")).as("eom"),
        max(datediff(last_day(col("o_orderdate")), col("o_orderdate")))
          .cast("int").as("max_days_to_eom"),
        countDistinct(dayofmonth(col("o_orderdate"))).as("n_distinct_days"))

  val dateArithSql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
      |  COUNT(*) AS n,
      |  MAX(strftime(last_day(o_orderdate), '%Y-%m-%d')) AS eom,
      |  CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE),
      |    last_day(o_orderdate))) AS INTEGER) AS max_days_to_eom,
      |  COUNT(DISTINCT day(o_orderdate)) AS n_distinct_days
      |FROM orders GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- D48
  /** Array higher-order functions (transform / filter / aggregate) in
    * one codegen'd projection — the no-UDF idiom for per-row collection
    * logic. No shuffle at all: a pure map over the scan. */
  def arrayHof(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(expr("filter(toks, t -> length(t) > 4)")).as("n_long"),
        expr("aggregate(toks, 0, (acc, t) -> acc + length(t))")
          .cast("long").as("sum_len"),
        expr("array_max(transform(toks, t -> length(t)))")
          .cast("int").as("max_len"))

  val arrayHofSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  len(toks) AS n_tokens,
      |  len(list_filter(toks, t -> length(t) > 4)) AS n_long,
      |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
      |  CAST(list_max(list_transform(toks, t -> length(t))) AS INTEGER) AS max_len
      |FROM t""".stripMargin

  // --------------------------------------------------------------- D49
  /** Binned range join — the large×large interval-join plan. D27's
    * broadcast nested-loop is only sane while one side fits in memory;
    * when both sides are big, the standard scale trick is to quantize:
    * explode each interval to the fixed-width bins it overlaps (≤2
    * here: bin width = max interval length), tag each point with its
    * bin, equi-join on the bin key (a plain shuffled hash join —
    * partitionable, AQE-skew-splittable), and clear false positives
    * with the residual range predicate. Each matching pair surfaces
    * exactly once because a point lives in exactly one bin. */
  def binnedRangeJoin(s: SparkSession, dir: String): DataFrame = {
    // width 0.5 keeps the pair count (~density x width x |points|)
    // bench-sized; the plan shape is identical at any width
    val w = 0.5
    val iv = Tables.orders(s, dir).select(col("o_orderkey"),
        (col("o_totalprice") / 1000.0).as("lo"),
        ((col("o_totalprice") / 1000.0) + w).as("hi"))
      .withColumn("bin",
        explode(sequence(floor(col("lo") / w).cast("long"),
          floor(col("hi") / w).cast("long"))))
    val pts = Tables.events(s, dir).select(col("event_id"), col("value"))
      .withColumn("bin", floor(col("value") / w).cast("long"))
    iv.join(pts, "bin")
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("o_orderkey")).as("n_intervals"),
        countDistinct(col("event_id")).as("n_points"),
        Relational.dsum(col("value")).as("sum_value"))
  }

  val binnedRangeJoinSql: String =
    """WITH iv AS (SELECT o_orderkey, o_totalprice / 1000.0 AS lo,
      |    (o_totalprice / 1000.0) + 0.5 AS hi FROM orders)
      |SELECT COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT o_orderkey) AS n_intervals,
      |  COUNT(DISTINCT event_id) AS n_points,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM iv JOIN events ON value >= lo AND value < hi""".stripMargin

  // --------------------------------------------------------------- D50
  /** LOCF gap-fill (last observation carried forward): per-user event
    * values with planted nulls are forward-filled with
    * `last_value(..., ignoreNulls)` over an unbounded-preceding ROWS
    * frame — the standard time-series imputation. Partitioned by
    * user_id (high cardinality): per-partition sorts, no global sort.
    * Ordering key includes event_id so peers are total-ordered and the
    * fill is deterministic under ties. */
  def locfFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("v", when(col("value") >= 50.0, col("value")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("v").isNull.as("was_gap"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
  }

  val locfFillSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  (CASE WHEN value >= 50.0 THEN value END) IS NULL AS was_gap,
      |  LAST_VALUE(CASE WHEN value >= 50.0 THEN value END IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM events""".stripMargin

  // --------------------------------------------------------------- D51
  /** Dynamic pivot: when the pivot values aren't known ahead, a first
    * cheap pass collects the distinct spine (bounded by construction —
    * a guard raises if it explodes) and the second pass pivots against
    * that explicit list, keeping the main job a single shuffle. This
    * is the production two-pass shape; D15 is the known-values form. */
  def dynamicPivot(s: SparkSession, dir: String, maxValues: Int = 100): DataFrame = {
    val spine = Bounded.collect(Tables.events(s, dir).select(col("event_type")).distinct(), maxValues)
      .getOrElse(throw new IllegalArgumentException(
        s"pivot spine exceeds $maxValues distinct values — pivot is the wrong shape"))
      .map(_.getString(0)).sorted
    Tables.events(s, dir)
      .groupBy(col("user_id")).pivot("event_type", spine)
      .agg(count(lit(1)))
      .na.fill(0L)
      .agg(count(lit(1)).as("n_users"),
        spine.map(v => sum(col(s"`$v`")).as(s"n_$v")): _*)
  }

  val dynamicPivotSql: String =
    """SELECT COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events""".stripMargin

  // --------------------------------------------------------------- D53
  /** Time-series resample: one day of events regridded to an hourly
    * per-user matrix — every (user, hour) cell exists even when no
    * event landed in it (n = 0), and the value column is LOCF-filled
    * from the last non-empty hour. The scaffold is built from the
    * day's distinct users × 24 hour slots (a bounded explode, NOT a
    * join against a generated calendar table), aggregation happens
    * BEFORE the scaffold join so the exchange carries per-cell
    * partials, and the fill window partitions by user. */
  def resampleDay(s: SparkSession, dir: String, day: String = "2024-01-15"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evs = Tables.events(s, dir)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === day)
    val perCell = evs
      .groupBy(col("user_id"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), Relational.dsum(col("value")).as("sum_value"))
    val scaffold = evs.select(col("user_id")).distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(23))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold.join(perCell, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("v_filled"))
  }

  val resampleDaySql: String =
    """WITH evs AS (SELECT * FROM events
      |    WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'),
      |cell AS (SELECT user_id, hour(ts) AS hour, COUNT(*) AS n,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |  FROM evs GROUP BY 1, 2),
      |scaffold AS (SELECT DISTINCT user_id, h.hour
      |  FROM evs, (SELECT unnest(range(0, 24)) AS hour) h)
      |SELECT s.user_id, CAST(s.hour AS INTEGER) AS hour,
      |  COALESCE(c.n, 0) AS n,
      |  LAST_VALUE(c.sum_value IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM scaffold s LEFT JOIN cell c
      |  ON s.user_id = c.user_id AND s.hour = c.hour""".stripMargin

  // --------------------------------------------------------------- D54
  /** Funnel analysis: how far does each user get through
    * view → click → purchase (stages must happen in order)? One
    * aggregation pass computes each user's earliest timestamp per
    * stage (conditional min — no joins, no window), then the ordered
    * reach conditions and the per-stage user counts come from the
    * per-user scalars. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
    val per = evs.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("ts"))).as("t_view"),
      min(when(col("event_type") === "click", col("ts"))).as("t_click"),
      min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    per.agg(
      count(lit(1)).as("n_users"),
      count(col("t_view")).as("n_view"),
      sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)).as("n_view_click"),
      sum(when(col("t_click") > col("t_view") &&
        col("t_purchase") > col("t_click"), 1L).otherwise(0L)).as("n_full_funnel"))
  }

  val funnelSql: String =
    """WITH per AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT COUNT(*) AS n_users,
      |  COUNT(t_view) AS n_view,
      |  CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_view_click,
      |  CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      |FROM per""".stripMargin

  // --------------------------------------------------------------- D55
  /** Interval×interval overlap join, binned: the general form of D49.
    * Both sides explode to width-w bins (w ≥ either interval length →
    * ≤2 bins each); a pair can now share up to two bins, so exactly-
    * once emission needs the canonical-bin trick: emit only in
    * bin == max(floor(a_lo/w), floor(b_lo/w)) — the bin of the overlap
    * region's left edge, provably shared by every overlapping pair.
    * Everything else is a plain partitionable equi-join. */
  def intervalOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val w = 0.1
    def bins(lo: Column, hi: Column) =
      explode(sequence(floor(lo / w).cast("long"), floor(hi / w).cast("long")))
    val a = Tables.orders(s, dir).select(col("o_orderkey"),
        (col("o_totalprice") / 1000.0).as("a_lo"))
      .withColumn("a_hi", col("a_lo") + 0.1)
      .withColumn("bin", bins(col("a_lo"), col("a_hi")))
    val b = Tables.events(s, dir).select(col("event_id"), col("value").as("b_lo"))
      .withColumn("b_hi", col("b_lo") + 0.05)
      .withColumn("bin", bins(col("b_lo"), col("b_hi")))
    a.join(b, "bin")
      .filter(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .filter(col("bin") ===
        greatest(floor(col("a_lo") / w).cast("long"), floor(col("b_lo") / w).cast("long")))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("o_orderkey")).as("n_a"),
        countDistinct(col("event_id")).as("n_b"))
  }

  val intervalOverlapJoinSql: String =
    """WITH a AS (SELECT o_orderkey, o_totalprice / 1000.0 AS a_lo,
      |    (o_totalprice / 1000.0) + 0.1 AS a_hi FROM orders),
      |b AS (SELECT event_id, value AS b_lo, value + 0.05 AS b_hi FROM events)
      |SELECT COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT o_orderkey) AS n_a,
      |  COUNT(DISTINCT event_id) AS n_b
      |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi""".stripMargin

  // --------------------------------------------------------------- C14
  /** Table profiler: per-column NDV / null count / most frequent value
    * (ANALYZE-style stats, the input to salting and broadcast
    * decisions). Columns are stacked into (col_name, value) rows in
    * one projection, then two grouped passes: value counts, then a
    * per-column rollup with a deterministic argmax (min-of-struct on
    * (-count, value) — smallest value wins ties). Scales: both
    * shuffles carry (column, value) partials, never raw rows twice. */
  def tableProfile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(expr(
        """stack(3,
          |  'l_returnflag', CAST(l_returnflag AS STRING),
          |  'l_linestatus', CAST(l_linestatus AS STRING),
          |  'l_linenumber', CAST(l_linenumber AS STRING)) AS (col_name, val)
          |""".stripMargin))
      .groupBy(col("col_name"), col("val"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(
        count(when(col("val").isNotNull, 1)).as("ndv"),
        coalesce(sum(when(col("val").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
        min(when(col("val").isNotNull,
          struct((-col("cnt")).as("nc"), col("val")))).as("m"))
      .select(col("col_name"), col("ndv"), col("n_nulls"),
        col("m.val").as("top_value"), (-col("m.nc")).as("top_count"))

  val tableProfileSql: String =
    """WITH stacked AS (
      |  SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS val FROM lineitem
      |  UNION ALL
      |  SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
      |  UNION ALL
      |  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem),
      |c AS (SELECT col_name, val, COUNT(*) AS cnt FROM stacked GROUP BY 1, 2),
      |agg AS (SELECT col_name,
      |    COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS ndv,
      |    CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN cnt END), 0) AS BIGINT) AS n_nulls
      |  FROM c GROUP BY 1),
      |top AS (SELECT col_name, val AS top_value, cnt AS top_count FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY col_name
      |      ORDER BY cnt DESC, val ASC) AS rn FROM c WHERE val IS NOT NULL)
      |  WHERE rn = 1)
      |SELECT col_name, ndv, n_nulls, top_value, top_count
      |FROM agg JOIN top USING (col_name)""".stripMargin

  // --------------------------------------------------------------- D56
  /** Distribution-position windows: `cume_dist` (fraction of the
    * user's events at or below this value) and `ntile`-free percentile
    * position per user. Partitioned by user id — a high-cardinality
    * key, so the window parallelizes across users and no reducer sees
    * more than one user's rows (the per-group single-reducer-sort trap
    * only bites on few-valued partition keys; for corpus-wide
    * distribution positions use Relational.globalRank / the decile
    * operator instead). cume_dist is an exact integer ratio evaluated
    * in double — deterministic cross-engine on identical inputs. */
  def cumeDist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").asc, col("event_id").asc)
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      round(cume_dist().over(w), 6).as("cd"),
      round(percent_rank().over(w), 6).as("pr"))
  }

  val cumeDistSql: String =
    """SELECT user_id, event_id,
      |  ROUND(CUME_DIST() OVER w, 6) AS cd,
      |  ROUND(PERCENT_RANK() OVER w, 6) AS pr
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)""".stripMargin

  // --------------------------------------------------------------- D57
  /** Gaps-and-islands: per-user consecutive-active-day streaks via the
    * classic day − row_number() anchor (consecutive days share an
    * anchor; a gap starts a new island). The window partitions by
    * user_id — high cardinality, so the sort parallelizes across the
    * cluster and no partition exceeds one user's distinct days. The
    * distinct collapses the raw stream FIRST, so the window input is
    * (users × active days), not raw events. */
  def islands(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("anchor",
        datediff(col("day"), lit("1970-01-01")) - row_number().over(w))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
  }

  val islandsSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (SELECT user_id, day,
      |        CAST(day - DATE '1970-01-01' AS BIGINT)
      |          - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS anchor
      |      FROM d),
      |i AS (SELECT user_id, anchor, COUNT(*) AS len FROM r GROUP BY 1, 2)
      |SELECT user_id, MAX(len) AS longest_streak,
      |  COUNT(*) AS n_streaks, CAST(SUM(len) AS BIGINT) AS active_days
      |FROM i GROUP BY user_id""".stripMargin

  // --------------------------------------------------------------- D58
  /** Ratio-to-report: each event type's share of its day's total
    * value. The share is computed on the AGGREGATE (days × types
    * rows), never on raw events — aggregate first, then a window over
    * the tiny frame; sums are exact decimal so the reduction is
    * order-independent, and the one float division happens on final
    * scalars with the oracle's expression shape. */
  def ratioToReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(sum(col("value").cast(DecimalType(18, 6))).as("v"))
    val w = Window.partitionBy(col("day"))
    agg.select(col("day"), col("event_type"),
      round(col("v"), 2).cast("double").as("sum_value"),
      round(col("v").cast("double") / sum(col("v")).over(w).cast("double"), 6)
        .as("share"))
  }

  val ratioToReportSql: String =
    """WITH a AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS v
      |  FROM events GROUP BY 1, 2)
      |SELECT day, event_type,
      |  CAST(ROUND(v, 2) AS DOUBLE) AS sum_value,
      |  ROUND(CAST(v AS DOUBLE) / CAST(SUM(v) OVER (PARTITION BY day) AS DOUBLE), 6)
      |    AS share
      |FROM a""".stripMargin

  // --------------------------------------------------------------- D59
  /** Equi-width histogram of order totals: one groupBy on the bin id
    * (map-side partials — the exchange carries #bins rows), exact
    * decimal sums. The bin function is a pure projection, so the scan
    * prunes to the one column it needs. */
  def histogram(s: SparkSession, dir: String, width: Double = 50000.0): DataFrame =
    Tables.orders(s, dir)
      .groupBy(floor(col("o_totalprice") / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        Relational.dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("bin_lo", (col("bin") * width).cast("double"))

  def histogramSql(width: Double = 50000.0): String =
    s"""SELECT bin, COUNT(*) AS n,
       |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price,
       |  CAST(bin * $width AS DOUBLE) AS bin_lo
       |FROM (SELECT CAST(FLOOR(o_totalprice / $width) AS BIGINT) AS bin,
       |        o_totalprice FROM orders)
       |GROUP BY bin""".stripMargin

  // --------------------------------------------------------------- D60
  /** Markov transition matrix over per-user event sequences: lag
    * window partitioned by user (high cardinality — parallelizes; ties
    * broken by event_id so the sequence is total-ordered), then one
    * aggregation of the (prev, next) pairs. The transition probability
    * is derived on the 25-row aggregate via a window, not on raw
    * pairs. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(seq).as("prev_type"))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy(col("prev_type"))
    pairs.select(col("prev_type"), col("event_type"), col("n"),
      round(col("n").cast("double") / sum(col("n")).over(byPrev).cast("double"), 6)
        .as("p"))
  }

  val transitionsSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |a AS (SELECT prev_type, event_type, COUNT(*) AS n FROM s
      |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, event_type, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
      |FROM a""".stripMargin

  // --------------------------------------------------------------- D61
  /** Interpolated (percentile_cont / type-7) quantiles, distributed:
    * h = (n−1)·p picks bracketing ranks ⌊h⌋+1 and min(⌊h⌋+2, n); both
    * brackets of every p come from ONE two-phase binned selection
    * ([[binnedRankInterp]] — a histogram pass + a crossing-bin
    * resolve, r19, replacing the GlobalRank formulation whose
    * full-relation range exchange + sort was this query's floor, the
    * same move that halved the weighted family in r18). Nothing
    * data-sized is sorted or exchanged; the interpolation arithmetic
    * runs once per output row with the frac=0 case short-circuited,
    * oracle-mirrored expression for expression. Exact-rank selection
    * (D19) stays the bit-stable default; this is the SQL-standard
    * PERCENTILE_CONT counterpart. Values are non-null by schema here;
    * on a nullable column the binned core skips nulls from both rank
    * space and n (the oracle's COUNT(*) would not — see the core's
    * contract). */
  def quantilesInterp(s: SparkSession, dir: String,
                      ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame =
    binnedRankInterp(
      Tables.lineitem(s, dir)
        .select(col("l_linestatus"), col("l_extendedprice").as("value")),
      "l_linestatus", "value", ps)

  // --------------------------------------------------------------- D64
  /** Period-over-period comparison: month-over-month revenue deltas.
    * The lag window runs over the MONTH AGGREGATE (≈ tens of rows —
    * aggregate first, window on the rollup, the D58 discipline), so
    * the single-partition window is legal at any fact size: its input
    * is bounded by the calendar, not the data. Sums are exact decimal;
    * the delta/percent arithmetic happens once per month row with the
    * oracle's expression shape. */
  def periodDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(Relational.dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("month"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .select(col("month"), col("n_orders"), col("revenue"), col("prev_revenue"),
        round(col("revenue") - col("prev_revenue"), 2).as("delta"),
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100.0, 4)
          .as("pct_change"))
  }

  val periodDeltaSql: String =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |l AS (SELECT *, LAG(revenue) OVER (ORDER BY month) AS prev_revenue FROM m)
      |SELECT month, n_orders, revenue, prev_revenue,
      |  ROUND(revenue - prev_revenue, 2) AS delta,
      |  ROUND((revenue - prev_revenue) / prev_revenue * 100.0, 4) AS pct_change
      |FROM l""".stripMargin

  // --------------------------------------------------------------- D65
  /** Retention cohort matrix: users bucketed by first-activity day,
    * then distinct active users per (cohort, age-in-days). The
    * classic product-analytics rollup, shaped for scale: the raw
    * stream collapses to distinct (user, day) FIRST; cohorts are a
    * min-aggregate on that frame; the join back is user-keyed (high
    * cardinality — shuffles partition evenly, AQE handles any hot
    * user); the matrix aggregate is cohort×age-sized. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    d.join(cohorts, Seq("user_id"))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort_day")).as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  val retentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
      |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort,
      |  CAST(d.day - c.cohort_day AS INTEGER) AS age_days,
      |  COUNT(DISTINCT d.user_id) AS n_active
      |FROM d JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  val quantilesInterpSql: String =
    """WITH w AS (SELECT l_linestatus, l_extendedprice AS value,
      |    ROW_NUMBER() OVER (PARTITION BY l_linestatus ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_linestatus) AS n
      |  FROM lineitem),
      |ps AS (SELECT UNNEST([0.25, 0.5, 0.75, 0.95]::DOUBLE[]) AS p),
      |c AS (SELECT w.l_linestatus, ps.p, MAX(w.n) AS n,
      |    MIN(CASE WHEN rn = CAST(FLOOR((n-1)*p) AS BIGINT) + 1
      |             THEN value END) AS lo,
      |    MIN(CASE WHEN rn = LEAST(CAST(FLOOR((n-1)*p) AS BIGINT) + 2, n)
      |             THEN value END) AS hi
      |  FROM w JOIN ps
      |    ON rn = CAST(FLOOR((n-1)*p) AS BIGINT) + 1
      |    OR rn = LEAST(CAST(FLOOR((n-1)*p) AS BIGINT) + 2, n)
      |  GROUP BY 1, 2)
      |SELECT l_linestatus, p,
      |  ROUND(CASE WHEN (n-1)*p - FLOOR((n-1)*p) = 0 THEN lo
      |        ELSE lo + ((n-1)*p - FLOOR((n-1)*p)) * (hi - lo) END, 6) AS value
      |FROM c""".stripMargin

  // --------------------------------------------------------------- D63
  /** GROUPS window frame (SQL:2011 `GROUPS BETWEEN k PRECEDING AND
    * CURRENT ROW`) — the frame neither Spark nor DuckDB implements:
    * the trailing window counted in PEER GROUPS (distinct order-key
    * values), not rows and not value range. Emulated with two
    * windows over the raw rows: dense_rank assigns each peer group
    * one integer, then a RANGE frame of width k on that rank sums
    * whole groups. The oracle verifies through an INDEPENDENT
    * formulation (pre-aggregate each peer group, then a ROWS frame),
    * so the emulation's group semantics — every peer row carries the
    * full 3-group sum — is cross-checked, not mirrored. Sums ride
    * decimals so both engines agree bit-for-bit. Scale: both windows
    * partition by o_custkey (high cardinality — parallel); the
    * distinct collapses peers AFTER the frame. */
  def groupsFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("dr"))
      .rangeBetween(-2, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("dr", dense_rank().over(w1))
      .withColumn("g_sum",
        sum(col("o_totalprice").cast("decimal(18,6)")).over(w2).cast("double"))
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"), col("g_sum"))
      .distinct()
  }

  val groupsFrameSql: String =
    """WITH d AS (SELECT o_custkey, o_orderdate AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS day_sum
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_custkey, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(SUM(day_sum) OVER (PARTITION BY o_custkey ORDER BY day
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS g_sum
      |FROM d""".stripMargin

  // --------------------------------------------------------------- D66
  /** SQL:2011 window-frame EXCLUDE clause (`EXCLUDE CURRENT ROW /
    * GROUP / TIES`) — Spark has no EXCLUDE at all; DuckDB ships it
    * natively, so the oracle is the real thing. Emulated by algebra
    * on a RANGE frame: because a RANGE frame always contains the
    * current row's ENTIRE peer group, the three excluded sums are
    *   EXCLUDE CURRENT ROW = frame − current row
    *   EXCLUDE GROUP       = frame − peer-group
    *   EXCLUDE TIES        = frame − peer-group + current row
    * with the SQL empty-frame rule (SUM over zero surviving rows is
    * NULL) restored from frame/peer counts. The peer-group sum is
    * itself a RANGE frame of width zero over the SAME partition+order,
    * so all four window aggregates collapse into ONE physical Window
    * operator on one hash-exchange+sort (PlanSpec pins it) — no
    * second shuffle for the peer pass. Sums ride exact decimals and
    * convert to double once, after the algebra, so both engines round
    * identically. Scale: partitioned by o_custkey (high cardinality);
    * nothing is driver-side; the frame is calendar-bounded (30 days)
    * so state per key is bounded regardless of fact size. */
  def excludeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        datediff(col("o_orderdate"), lit("1992-01-01")).as("day_n"))
      .withColumn("p", col("o_totalprice").cast(DecimalType(18, 6)))
    val frame = Window.partitionBy(col("o_custkey")).orderBy(col("day_n"))
      .rangeBetween(-30, 0)
    val peers = Window.partitionBy(col("o_custkey")).orderBy(col("day_n"))
      .rangeBetween(0, 0)
    base
      .withColumn("f_sum", sum(col("p")).over(frame))
      .withColumn("f_cnt", count(lit(1)).over(frame))
      .withColumn("g_sum", sum(col("p")).over(peers))
      .withColumn("g_cnt", count(lit(1)).over(peers))
      .select(col("o_orderkey"),
        when(col("f_cnt") > 1, col("f_sum") - col("p"))
          .cast("double").as("ex_cur"),
        when(col("f_cnt") > col("g_cnt"), col("f_sum") - col("g_sum"))
          .cast("double").as("ex_grp"),
        (col("f_sum") - col("g_sum") + col("p"))
          .cast("double").as("ex_ties"))
  }

  // --------------------------------------------------------------- D67
  /** Sequential pattern matching over event streams (the
    * MATCH_RECOGNIZE-lite shape): each (user, day)'s events collapse —
    * ordered by (ts, event_id) — into a compact symbol string (first
    * letter of event_type; the five types have distinct initials), and
    * regex scans over that string answer ordered-sequence questions a
    * relational join can't express directly: how many times did a view
    * IMMEDIATELY precede a purchase (`vp`), how many view→purchase
    * conversions had only clicks/errors between them (`v[ce]*p`), and
    * did the day contain a view-then-purchase at any distance
    * (`v.*p`).
    *
    * Scale shape: ONE shuffle on (user_id, day) — the grouping key
    * bounds per-group state at a day of one user's events, so the
    * collect_list + array_sort never sees unbounded input; the regex
    * scans are per-row projections after the aggregate. Both engines
    * scan regexes non-overlapping left-to-right, and the character-
    * class patterns have no alternation ambiguity, so counts agree. */
  def seqPattern(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("sym")).as("e"))
      .groupBy(col("user_id"), col("day"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(e)), x -> x.sym)"), "")
        .as("seq"))
      .select(col("user_id"),
        // emitted as a formatted string, not DateType: engines hand a
        // raw date column to the driver as different physical kinds
        // (datetime.date object vs datetime64), and the driver's
        // dtype-sensitive hash would mismatch on identical values
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        length(col("seq")).cast("long").as("n_events"),
        expr("regexp_count(seq, 'vp')").cast("long").as("n_adjacent"),
        expr("regexp_count(seq, 'v[ce]*p')").cast("long").as("n_conversions"),
        col("seq").rlike("v.*p").as("has_funnel"))

  val seqPatternSql: String =
    """WITH seqs AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id, CAST(ts AS DATE))
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(length(seq) AS BIGINT) AS n_events,
      |  CAST(len(regexp_extract_all(seq, 'vp')) AS BIGINT) AS n_adjacent,
      |  CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_conversions,
      |  regexp_matches(seq, 'v.*p') AS has_funnel
      |FROM seqs""".stripMargin

  // --------------------------------------------------------- D63+D66
  /** GROUPS frame COMPOSED with the EXCLUDE clause (`GROUPS BETWEEN 2
    * PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW / GROUP / TIES`) —
    * the SQL:2011 window cell NEITHER engine ships (Spark has neither
    * piece; DuckDB 1.0 has EXCLUDE but no GROUPS mode), so both sides
    * are emulations and the oracle is an INDEPENDENT formulation, not
    * a mirror. Spark side: the D63 dense_rank→RANGE trick makes the
    * GROUPS frame, and because a dense-rank RANGE frame contains only
    * whole peer groups, the D66 algebra applies verbatim on top:
    *   EXCLUDE CURRENT ROW = frame − current row
    *   EXCLUDE GROUP       = frame − peer-group
    *   EXCLUDE TIES        = frame − peer-group + current row
    * with SQL's empty-frame-is-NULL rule restored from frame/peer
    * counts. Oracle side: peer groups pre-aggregate to one row each, a
    * ROWS frame spans them, and the per-row EXCLUDE algebra runs after
    * a join back to the fact rows. Sums ride exact decimals; the
    * double conversion happens once, after the algebra. Scale: both
    * windows partition by o_custkey (high cardinality, parallel); the
    * two sort orders (o_orderdate, dr) share one hash exchange. */
  def groupsExclude(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val frame = Window.partitionBy(col("o_custkey")).orderBy(col("dr"))
      .rangeBetween(-2, 0)
    val peers = Window.partitionBy(col("o_custkey")).orderBy(col("dr"))
      .rangeBetween(0, 0)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(18, 6)).as("p"))
      .withColumn("dr", dense_rank().over(byDate))
      .withColumn("f_sum", sum(col("p")).over(frame))
      .withColumn("f_cnt", count(lit(1)).over(frame))
      .withColumn("g_sum", sum(col("p")).over(peers))
      .withColumn("g_cnt", count(lit(1)).over(peers))
      .select(col("o_orderkey"),
        when(col("f_cnt") > 1, col("f_sum") - col("p"))
          .cast("double").as("ex_cur"),
        when(col("f_cnt") > col("g_cnt"), col("f_sum") - col("g_sum"))
          .cast("double").as("ex_grp"),
        (col("f_sum") - col("g_sum") + col("p"))
          .cast("double").as("ex_ties"))
  }

  val groupsExcludeSql: String =
    """WITH d AS (SELECT o_custkey, o_orderdate AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS day_sum,
      |    COUNT(*) AS day_cnt
      |  FROM orders GROUP BY 1, 2),
      |f AS (SELECT o_custkey, day, day_sum, day_cnt,
      |    SUM(day_sum) OVER w AS f_sum,
      |    SUM(day_cnt) OVER w AS f_cnt
      |  FROM d
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      |SELECT o.o_orderkey,
      |  CAST(CASE WHEN f.f_cnt > 1
      |       THEN f.f_sum - CAST(o.o_totalprice AS DECIMAL(18,6)) END
      |    AS DOUBLE) AS ex_cur,
      |  CAST(CASE WHEN f.f_cnt > f.day_cnt
      |       THEN f.f_sum - f.day_sum END AS DOUBLE) AS ex_grp,
      |  CAST(f.f_sum - f.day_sum + CAST(o.o_totalprice AS DECIMAL(18,6))
      |    AS DOUBLE) AS ex_ties
      |FROM orders o JOIN f
      |  ON o.o_custkey = f.o_custkey AND o.o_orderdate = f.day""".stripMargin

  val excludeFrameSql: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
      |    EXCLUDE CURRENT ROW) AS DOUBLE) AS ex_cur,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
      |    EXCLUDE GROUP) AS DOUBLE) AS ex_grp,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
      |    EXCLUDE TIES) AS DOUBLE) AS ex_ties
      |FROM orders""".stripMargin

  // --------------------------------------------------------------- D69
  /** Per-group ordinary-least-squares linear regression (price on
    * quantity): slope, intercept, and R², the SQL-standard
    * regr_slope/regr_intercept/regr_r2 family — derived from the same
    * exact decimal component sums as D44 (`statsAgg`), because the
    * built-in regr_* aggregates accumulate doubles and are therefore
    * partitioning-dependent. One shuffle of six scalars per group; the
    * float math runs once on the final scalars with the oracle's exact
    * expression tree (shared sub-terms are materialized as named
    * intermediate columns in BOTH engines, so every division sees
    * bit-identical operands). */
  def regressionAgg(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 6))).as("sx"),
        sum(y.cast(DecimalType(18, 6))).as("sy"),
        sum((x * y).cast(DecimalType(28, 8))).as("sxy"),
        sum((x * x).cast(DecimalType(28, 8))).as("sxx"),
        sum((y * y).cast(DecimalType(28, 8))).as("syy"))
      .select(col("l_returnflag"), col("n"),
        expr("cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)").as("sp"),
        expr("cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)").as("ssx"),
        expr("cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)").as("ssy"),
        expr("cast(sy as double) * cast(sxx as double) - cast(sx as double) * cast(sxy as double)").as("ic"))
      .select(col("l_returnflag"), col("n"),
        round(col("sp") / col("ssx"), 6).as("slope"),
        round(col("ic") / col("ssx"), 6).as("intercept"),
        round((col("sp") * col("sp")) / (col("ssx") * col("ssy")), 6).as("r2"))
  }

  val regressionAggSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
      |    SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS sxy,
      |    SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS sxx,
      |    SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS syy
      |  FROM lineitem GROUP BY l_returnflag),
      |d AS (
      |  SELECT l_returnflag, n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sp,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS ssx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS ssy,
      |    CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE) AS ic
      |  FROM g)
      |SELECT l_returnflag, n,
      |  ROUND(sp / ssx, 6) AS slope,
      |  ROUND(ic / ssx, 6) AS intercept,
      |  ROUND((sp * sp) / (ssx * ssy), 6) AS r2
      |FROM d""".stripMargin

  // --------------------------------------------------------------- D70
  /** Exact rank-⌈p·n⌉ value per group via a FREQUENCY TABLE — the
    * right exact-median plan when the measure's distinct values per
    * group are BOUNDED (integer-like quantities, prices in cents,
    * quality deciles): one hash aggregation collapses the data to
    * per-(group, value) counts (map-side combine — the exchange
    * carries value-histogram keys, never rows), then the rank is
    * located in the cumulative counts with a window whose input is
    * histogram-sized, not data-sized. Returns one row per group:
    * (groupCols..., value-at-rank). `maxDistinct` guards the
    * assumption and fails fast AFTER the first aggregation (the agg
    * itself is skew-safe partial aggregation; the guard protects the
    * per-group window from unbounded input) — high-cardinality
    * measures belong on [[Relational.exactQuantiles]]'s distributed
    * rank instead. */
  private[graft] def frequencyQuantile(df: DataFrame,
      groupCols: Seq[String], valueCol: String, p: Double,
      maxDistinct: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col(_))
    val freq = df.groupBy((gs :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__c"))
    val wg = Window.partitionBy(gs: _*)
    val wo = Window.partitionBy(gs: _*).orderBy(col(valueCol))
    val guardMsg = concat(
      lit(s"frequencyQuantile: more than $maxDistinct distinct values of " +
        s"'$valueCol' in group ("), concat_ws(",", gs: _*),
      lit(") — use the distributed rank path (exactQuantiles) for " +
        "high-cardinality measures"))
    val guarded = freq
      .withColumn("__nvals", count(lit(1)).over(wg))
      .withColumn("__guard",
        when(col("__nvals") > maxDistinct, raise_error(guardMsg))
          .otherwise(lit(null).cast("string")))
    // rank ⌈p·n⌉ falls in exactly one value's cumulative slot
    val cum = sum(col("__c")).over(wo)
    val n = sum(col("__c")).over(wg)
    val target = ceil(n * p).cast("long")
    guarded
      .withColumn("__cum", cum).withColumn("__target", target)
      // the isNull conjunct FORCES the guard's evaluation (a never-read
      // raise_error column would be pruned away by the optimizer)
      .filter(col("__guard").isNull &&
        col("__target") > col("__cum") - col("__c") &&
        col("__target") <= col("__cum"))
      .select((gs :+ col(valueCol)): _*)
  }

  /** Median absolute deviation per group — the robust dispersion
    * statistic (outlier-resistant where stddev is not): MAD = median
    * of |x − median(x)|. Both medians are exact rank-⌈n/2⌉ values, so
    * the result is a value from the data (no interpolation drift) and
    * bit-identical across engines; the deviation |x − med| is one IEEE
    * subtraction of identical doubles.
    *
    * Plan shape: `l_quantity` is an integer-valued measure (≤ ~50
    * distinct per group; the deviations then have ≤ ~100), so both
    * medians go through [[frequencyQuantile]] — two histogram-sized
    * hash aggregations and a broadcast of the one-row-per-group
    * medians, no range exchange, no data-sized sort. That replaced the
    * two GlobalRank rank selections (r15: 2.21 s floor at sf0.1,
    * documented-inherent THEN — inherent only while the plan sorted
    * rows instead of counting values); the general-cardinality path
    * (q_quantile over extendedprice) still uses the distributed rank,
    * and frequencyQuantile fails fast past its distinct-values guard
    * rather than degrade. The one-pass approximate path is
    * q_approx_quantile (GK). */
  def madAgg(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_linestatus"), col("l_quantity").as("value"))
    val med = frequencyQuantile(base, Seq("l_linestatus"), "value", 0.5)
      .withColumnRenamed("value", "med")
    val dev = base.join(broadcast(med), Seq("l_linestatus"))
      .select(col("l_linestatus"), abs(col("value") - col("med")).as("dev"))
    frequencyQuantile(dev, Seq("l_linestatus"), "dev", 0.5)
      .withColumnRenamed("dev", "mad")
      .join(broadcast(med), Seq("l_linestatus"))
      .select(col("l_linestatus"), col("med").as("median"), col("mad"))
  }

  val madAggSql: String =
    """WITH w AS (SELECT l_linestatus, l_quantity,
      |    ROW_NUMBER() OVER (PARTITION BY l_linestatus ORDER BY l_quantity ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_linestatus) AS n
      |  FROM lineitem),
      |med AS (SELECT l_linestatus, l_quantity AS med FROM w
      |  WHERE rn = CAST(CEIL(n * 0.5) AS BIGINT)),
      |d AS (SELECT l.l_linestatus, ABS(l.l_quantity - m.med) AS dev
      |  FROM lineitem l JOIN med m ON l.l_linestatus = m.l_linestatus),
      |w2 AS (SELECT l_linestatus, dev,
      |    ROW_NUMBER() OVER (PARTITION BY l_linestatus ORDER BY dev ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_linestatus) AS n
      |  FROM d)
      |SELECT w2.l_linestatus, m.med AS median, w2.dev AS mad
      |FROM w2 JOIN med m ON w2.l_linestatus = m.l_linestatus
      |WHERE w2.rn = CAST(CEIL(w2.n * 0.5) AS BIGINT)""".stripMargin

  // --------------------------------------------------------------- D71
  /** Overlapping-interval merge (interval coalescing): each event opens
    * an interval `[ts, ts + value seconds]`; per user, transitively
    * overlapping intervals collapse into one "island" reported with its
    * span and member count. The classic formulation: a new island starts
    * exactly when an interval's start exceeds the running max end of ALL
    * previous intervals (a plain `lag(end)` misses nested intervals).
    *
    * Scale shape: ONE hash exchange on user_id feeds both windows (same
    * partition spec); the island groupBy adds a partial-aggregated
    * exchange on (user_id, island) whose input is already one row per
    * event — no row amplification anywhere. Durations are integral
    * seconds and timestamps are exact microseconds, so the merge points
    * are bit-identical across engines. */
  def intervalMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("ts").as("iv_s"),
      // floor() before the BIGINT cast: Spark's double→long cast
      // truncates but DuckDB's rounds — floor pins both to the same int
      expr("ts + make_interval(0, 0, 0, 0, 0, 0, cast(floor(value) as bigint))").as("iv_e"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("iv_s"), col("event_id"))
    val prevMax = max(col("iv_e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = iv.withColumn("new_island",
      when(prevMax.isNull || col("iv_s") > prevMax, lit(1L)).otherwise(lit(0L)))
    val islands = marked.withColumn("island",
      sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("user_id"), col("island"))
      .agg(min(col("iv_s")).as("span_start"), max(col("iv_e")).as("span_end"),
        count(lit(1)).as("n_events"))
  }

  val intervalMergeSql: String =
    """WITH iv AS (SELECT user_id, event_id, ts AS iv_s,
      |    ts + to_seconds(CAST(floor(value) AS BIGINT)) AS iv_e
      |  FROM events),
      |m AS (SELECT user_id, iv_s, iv_e,
      |    CASE WHEN MAX(iv_e) OVER (PARTITION BY user_id ORDER BY iv_s, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |        OR iv_s > MAX(iv_e) OVER (PARTITION BY user_id ORDER BY iv_s, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS new_island,
      |    event_id
      |  FROM iv),
      |isl AS (SELECT user_id, iv_s, iv_e,
      |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY iv_s, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM m)
      |SELECT user_id, CAST(island AS BIGINT) AS island,
      |  MIN(iv_s) AS span_start, MAX(iv_e) AS span_end, COUNT(*) AS n_events
      |FROM isl GROUP BY user_id, island""".stripMargin

  // --------------------------------------------------------------- D72
  /** Weighted median per group: the smallest value whose cumulative
    * weight reaches half the group total — identical to the lower
    * median of the weight-expanded multiset. Weights are integral
    * (l_quantity is whole units), so the entire selection runs in exact
    * BIGINT arithmetic — no float accumulation order to diverge on.
    *
    * Scale shape: a WEIGHTED distributed prefix scan — [[graft.plans
    * .GlobalRank]] with the weight as the running-sum rider, the new
    * group sum-total output (`totCol`), and a `rankFilterOn` rider
    * selecting exactly the crossing row `2·cw ≥ tw ∧ 2·(cw−w) < tw`
    * inside the emit loop. One range exchange on (group, value)
    * spreads the sort over ALL partitions (the previous per-(group,
    * value) window collapsed to |groups| reducer partitions — a
    * 3-partition data-sized sort here), the per-partition weight
    * totals merge on the driver in O(#groups + #partitions), and only
    * the |groups| crossing rows are ever projected. Correctness of the
    * row-level crossing under value ties: the first row r with
    * 2·cum(r) ≥ tw has the median value v* because cum(r) ≤ F(v*)
    * (all of v*'s tie run is ≤ v*) and every v < v* has
    * 2·F(v) = 2·cum(end of v's run) < tw by r's minimality. */
  /** Two-phase BINNED weighted selection — the shared core of D72
    * weighted median and D83 weighted quantile brackets. The previous
    * core (one [[graft.plans.GlobalRank]] pass) range-exchanged and
    * sorted the WHOLE relation to find ≤ |ps|·|groups| crossing rows;
    * this one never sorts or shuffles the data at all:
    *
    *   1. **Histogram**: one map-side-partial hash aggregate of
    *      (group, bin) → Σw, where bin = the top bits of the
    *      order-preserving IEEE-754 key ([[graft.functions.SelectExprs
    *      .sortableDoubleBits]] >> shift) — exactly monotone by bit
    *      layout (no min/max pass, no sampling job, no float bucket
    *      arithmetic that could go non-monotone at boundaries). The
    *      exchange carries occupied bins only — histogram-sized, never
    *      data-sized.
    *   2. **Crossing bins**: per-group bin prefix sums run ON the
    *      histogram (a window over thousands of rows); for each
    *      p = num/den the crossing bin, its preceding cumulative
    *      weight, and the group total broadcast back.
    *   3. **Resolve**: a second scan keeps ONLY rows in crossing bins
    *      (≈ n/bins rows — the broadcast semi-join prunes everything
    *      else), aggregates them by exact value, and the within-bin
    *      prefix walk picks the crossing VALUE with the same exact
    *      BIGINT rationals as before (`den·cw ≥ num·tw ∧
    *      den·(cw−vw) < num·tw` — no p·tw float anywhere).
    *
    * Exactness: the bit key is monotone and the double cast of any
    * numeric valueCol is monotone, so bin order is value order and the
    * selected value equals the expanded-multiset lower quantile
    * (PropertySpec pins both callers against the literal expansion).
    * Scale: two scans + a histogram exchange + tiny broadcasts replace
    * a full-relation range exchange + sort; the residual within-bin
    * candidate set is ≈ n/occupied-bins rows — `shift` is the
    * resolution knob (default 44 ⇒ sign+exponent+8 mantissa bits,
    * 256 bins per octave: measured the sweet spot where the histogram
    * aggregate stops paying for bin cardinality while crossing-bin
    * slices stay a few hundred rows at sf0.1; deepen it, or re-bin the
    * candidate set with a smaller shift, long before any single bin's
    * slice challenges a partition). The resolve scan additionally
    * receives the crossing bins as a LITERAL value-range disjunction,
    * so the predicate reaches the parquet reader (PushedFilters) — on
    * a value-sorted/z-ordered table at 100 TB the second scan reads
    * only the crossing row-groups.
    *
    * '''Execution + input contract (read before calling):'''
    *
    *  - '''Eagerly executes''' the histogram job AT DATAFRAME
    *    CONSTRUCTION TIME (the bounded crossing-bin collect) — calling
    *    this, or [[weightedMedianOf]]/[[weightedQuantileBracketsOf]],
    *    runs a Spark job as a side effect; do not assume laziness.
    *  - The resolve pass re-derives `base` from `df` in a SECOND
    *    independent job, so `df` must be '''deterministic and stable'''
    *    across the two jobs: no rand/sample/monotonically_increasing_id
    *    in its lineage (guarded below), and the underlying files must
    *    not change between the histogram job and the resolve job — a
    *    mutated input would silently drop crossing rows from the
    *    value-range filter and vanish groups from the output. Callers
    *    reading a moving table should snapshot (cache/checkpoint or a
    *    committed-manifest read) first.
    *  - Rows with a '''null value''' contribute nothing — not even to
    *    `total_weight` (they have no place in the value-ordered
    *    multiset, mirroring how ORDER BY-based oracles skip them from
    *    cumulative sums); on nullable value columns, totals therefore
    *    differ from a count(*)-style weight sum. Weights must be
    *    positive integers (non-positive/null weights drop, see below). */
  private[operators] def binnedWeightedSelect(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String,
      ps: Seq[(Long, Long, String)], shift: Int = 44): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.queryExecution.analyzed.exists(_.expressions.exists(e =>
        e.exists(!_.deterministic))),
      "binnedWeightedSelect input must be deterministic: the histogram and " +
        "resolve passes scan it in two independent jobs, and a " +
        "rand/sample/monotonic-id lineage would make them disagree silently")
    // Contract: weights are strictly positive integers. Non-positive or
    // null weights are dropped HERE, identically to how the expanded-
    // multiset definition treats them (a zero weight contributes no
    // copies; a negative weight has no multiset meaning and would break
    // the crossing invariant den·(cw−w) < num·tw ≤ den·cw).
    val base = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"),
      col(weightCol).cast("long").as("__w"))
      .filter(col("__w") > 0 && !col(valueCol).isNull)
      // -0.0 normalizes to +0.0 before binning: Spark's grouping/sort
      // semantics treat them as ONE value, so they must share a bin
      .withColumn("__bin", shiftright(
        graft.functions.SelectExprs.sortableDoubleBits(
          when(col("__v").cast("double") === 0.0, lit(0.0))
            .otherwise(col("__v").cast("double"))),
        shift))
    val hist = base.groupBy(col("__g"), col("__bin"))
      .agg(sum(col("__w")).as("__bw"))
    val cumw = Window.partitionBy(col("__g")).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cb", sum(col("__bw")).over(cumw))
      .withColumn("__tw", sum(col("__bw")).over(Window.partitionBy(col("__g"))))
    val qs = explode(array(ps.map { case (num, den, lbl) =>
      struct(lit(lbl).as("p"), lit(num).as("num"), lit(den).as("den"))
    }: _*)).as("__q")
    val crossBins = cum.select(col("__g").as("__cg"), col("__bin").as("__cbin"),
        (col("__cb") - col("__bw")).as("__before"), col("__cb"), col("__tw"), qs)
      .filter(col("__cb") * col("__q.den") >= col("__tw") * col("__q.num") &&
        col("__before") * col("__q.den") < col("__tw") * col("__q.num"))
      .select(col("__cg"), col("__cbin"), col("__q.p").as("p"),
        col("__q.num").as("__num"), col("__q.den").as("__den"),
        col("__before"), col("__tw"))
    // The crossing-bin set is ≤ |ps|·|groups| rows — a BOUNDED collect —
    // and each bin is a contiguous VALUE interval (the sortable-bits
    // transform is an involution, so bin edges invert to doubles on the
    // driver). Handing the resolve scan a literal value-range
    // disjunction instead of only a join condition means the predicate
    // reaches the parquet reader (PushedFilters): on a value-sorted or
    // z-ordered table at scale the second scan reads ONLY the crossing
    // row-groups, and even unsorted it skips the join build entirely.
    val crossRows = crossBins.collect()
    // the collect already PAID for the histogram job — hand the rows
    // back as a LocalRelation so the resolve job's broadcast side costs
    // nothing instead of re-running the histogram subtree
    val crossLocal = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(crossRows: _*), crossBins.schema)
    val ranges = crossRows.map { r =>
      val b = r.getLong(r.fieldIndex("__cbin"))
      def unsortable(k: Long): Double =
        java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & 0x7fffffffffffffffL))
      (unsortable(b << shift), unsortable((b << shift) | ((1L << shift) - 1)))
    }
    val rangeFilter = ranges.map { case (lo, hi) =>
      if (lo.isNaN || hi.isNaN) lit(true)
      else col("__v").cast("double") >= lo && col("__v").cast("double") <= hi
    }.reduceOption(_ || _).getOrElse(lit(false))
    val cand = base.filter(rangeFilter).join(broadcast(crossLocal),
      col("__g") === col("__cg") && col("__bin") === col("__cbin"))
    val inBin = Window.partitionBy(col("__g"), col("p")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand
      .groupBy(col("__g"), col("p"), col("__num"), col("__den"),
        col("__before"), col("__tw"), col("__v"))
      .agg(sum(col("__w")).as("__vw"))
      .withColumn("__cw", col("__before") + sum(col("__vw")).over(inBin))
      .filter(col("__cw") * col("__den") >= col("__tw") * col("__num") &&
        (col("__cw") - col("__vw")) * col("__den") < col("__tw") * col("__num"))
      .select(col("__g").as(groupCol), col("p"), col("__v").as("value"),
        col("__tw").as("total_weight"))
  }

  /** Two-phase BINNED rank-bracket selection — the D61 interpolated
    * quantile's core, sibling of [[binnedWeightedSelect]] (same
    * histogram → crossing-bin → resolve shape, same eager-execution and
    * deterministic/stable-input contract, same non-null-value rule),
    * specialised to ROW-RANK targets instead of weight rationals: for
    * each p it selects BOTH bracket ranks of the type-7 interpolation,
    * lo = ⌊(n−1)·p⌋+1 and hi = min(lo+1, n), in one pass. The rank
    * targets depend on the per-group count n, so they are computed ON
    * the histogram (where n = Σ bin counts is already in hand) rather
    * than passed in as constants — ⌊(n−1)·p⌋ in double, mirroring the
    * oracle's FLOOR((n-1)*p) expression for bit-identical bracket
    * choice (n ≪ 2^53 always holds for row counts).
    *
    * This replaces the r18 GlobalRank formulation whose full-relation
    * range exchange + sort was the query's floor (2.69× the DuckDB
    * cohort floor — the last >2× anywhere): here nothing data-sized is
    * ever sorted or range-exchanged; the resolve scan reads only the
    * ≤ 2·|ps|·|groups| crossing bins' value ranges (PushedFilters).
    * Returns one row per (group, p): `(groupCol, p, value)` with the
    * interpolated value rounded to 6 decimals. */
  private[operators] def binnedRankInterp(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double], shift: Int = 44): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    require(!df.queryExecution.analyzed.exists(_.expressions.exists(e =>
        e.exists(!_.deterministic))),
      "binnedRankInterp input must be deterministic: the histogram and " +
        "resolve passes scan it in two independent jobs")
    val base = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .filter(!col(valueCol).isNull)
      .withColumn("__bin", shiftright(
        graft.functions.SelectExprs.sortableDoubleBits(
          when(col("__v").cast("double") === 0.0, lit(0.0))
            .otherwise(col("__v").cast("double"))),
        shift))
    val hist = base.groupBy(col("__g"), col("__bin"))
      .agg(count(lit(1)).as("__bw"))
    val cumw = Window.partitionBy(col("__g")).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cb", sum(col("__bw")).over(cumw))
      .withColumn("__tw", sum(col("__bw")).over(Window.partitionBy(col("__g"))))
    // both brackets of every p, each carrying its own target rank
    val qs = explode(array(ps.flatMap { p =>
      val loR = floor((col("__tw").cast("double") - 1.0) * lit(p))
        .cast("long") + 1L
      val hiR = least(loR + 1L, col("__tw"))
      Seq(struct(lit(p).as("p"), lit("lo").as("side"), loR.as("r")),
        struct(lit(p).as("p"), lit("hi").as("side"), hiR.as("r")))
    }: _*)).as("__q")
    val crossBins = cum.select(col("__g").as("__cg"), col("__bin").as("__cbin"),
        (col("__cb") - col("__bw")).as("__before"), col("__cb"), col("__tw"), qs)
      .filter(col("__cb") >= col("__q.r") && col("__before") < col("__q.r"))
      .select(col("__cg"), col("__cbin"), col("__q.p").as("p"),
        col("__q.side").as("__side"), col("__q.r").as("__r"),
        col("__before"), col("__tw"))
    // bounded: ≤ 2·|ps|·|groups| rows (see binnedWeightedSelect — same
    // LocalRelation hand-back so the broadcast side is free, same
    // literal value-range pushdown for the resolve scan)
    val crossRows = crossBins.collect()
    val crossLocal = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(crossRows: _*), crossBins.schema)
    val ranges = crossRows.map { r =>
      val b = r.getLong(r.fieldIndex("__cbin"))
      def unsortable(k: Long): Double =
        java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & 0x7fffffffffffffffL))
      (unsortable(b << shift), unsortable((b << shift) | ((1L << shift) - 1)))
    }
    val rangeFilter = ranges.map { case (lo, hi) =>
      if (lo.isNaN || hi.isNaN) lit(true)
      else col("__v").cast("double") >= lo && col("__v").cast("double") <= hi
    }.reduceOption(_ || _).getOrElse(lit(false))
    val cand = base.filter(rangeFilter).join(broadcast(crossLocal),
      col("__g") === col("__cg") && col("__bin") === col("__cbin"))
    val inBin = Window.partitionBy(col("__g"), col("p"), col("__side"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = cand
      .groupBy(col("__g"), col("p"), col("__side"), col("__r"),
        col("__before"), col("__tw"), col("__v"))
      .agg(count(lit(1)).as("__vw"))
      .withColumn("__cw", col("__before") + sum(col("__vw")).over(inBin))
      .filter(col("__cw") >= col("__r") &&
        (col("__cw") - col("__vw")) < col("__r"))
    val h = (col("__tw").cast("double") - 1.0) * col("p")
    val frac = h - floor(h)
    picked
      .groupBy(col("__g"), col("p"), col("__tw"))
      .agg(min(when(col("__side") === "lo", col("__v"))).as("lo"),
        min(when(col("__side") === "hi", col("__v"))).as("hi"))
      .select(col("__g").as(groupCol), col("p"),
        round(when(frac === 0.0, col("lo"))
          .otherwise(col("lo") + frac * (col("hi") - col("lo"))), 6)
          .as("value"))
  }

  /** Exact value-at-rank selection at ARBITRARY rank targets — the
    * [[binnedRankInterp]] machinery with caller-supplied rank
    * expressions instead of the type-7 brackets (r20, built for the GK
    * gate's error-bound ranks ⌈p·n⌉ ± ε(n)): each labelled target maps
    * the per-group row count `n` (a Column) to a 1-based rank in
    * [1, n], and the returned row is the value AT that rank — the same
    * histogram pass + crossing-bin resolve, nothing data-sized sorted
    * or range-exchanged. Equivalent to `max(value) FILTER (rn ≤ r)` /
    * `min(value) FILTER (rn ≥ r)` over a globally ranked frame:
    * values are non-decreasing in rank, so both reduce to the value at
    * the boundary rank, which is what the crossing selects. Output:
    * (groupCol, lbl, value), one row per (group, target). Same
    * eager-execution and deterministic/stable-input contract as the
    * siblings. */
  private[graft] def binnedRankAt(df: DataFrame, groupCol: String,
      valueCol: String, targets: Seq[(String, Column => Column)],
      shift: Int = 44): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targets.nonEmpty)
    require(!df.queryExecution.analyzed.exists(_.expressions.exists(e =>
        e.exists(!_.deterministic))),
      "binnedRankAt input must be deterministic: the histogram and " +
        "resolve passes scan it in two independent jobs")
    val base = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .filter(!col(valueCol).isNull)
      .withColumn("__bin", shiftright(
        graft.functions.SelectExprs.sortableDoubleBits(
          when(col("__v").cast("double") === 0.0, lit(0.0))
            .otherwise(col("__v").cast("double"))),
        shift))
    val hist = base.groupBy(col("__g"), col("__bin"))
      .agg(count(lit(1)).as("__bw"))
    val cumw = Window.partitionBy(col("__g")).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cb", sum(col("__bw")).over(cumw))
      .withColumn("__tw", sum(col("__bw")).over(Window.partitionBy(col("__g"))))
    val qs = explode(array(targets.map { case (lbl, f) =>
      struct(lit(lbl).as("lbl"), f(col("__tw")).cast("long").as("r"))
    }: _*)).as("__q")
    val crossBins = cum.select(col("__g").as("__cg"), col("__bin").as("__cbin"),
        (col("__cb") - col("__bw")).as("__before"), col("__cb"), col("__tw"), qs)
      .filter(col("__cb") >= col("__q.r") && col("__before") < col("__q.r"))
      .select(col("__cg"), col("__cbin"), col("__q.lbl").as("__lbl"),
        col("__q.r").as("__r"), col("__before"), col("__tw"))
    // bounded: ≤ |targets|·|groups| rows — same LocalRelation hand-back
    // and literal value-range pushdown as the sibling cores
    val crossRows = crossBins.collect()
    val crossLocal = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(crossRows: _*), crossBins.schema)
    val ranges = crossRows.map { r =>
      val b = r.getLong(r.fieldIndex("__cbin"))
      def unsortable(k: Long): Double =
        java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & 0x7fffffffffffffffL))
      (unsortable(b << shift), unsortable((b << shift) | ((1L << shift) - 1)))
    }
    val rangeFilter = ranges.map { case (lo, hi) =>
      if (lo.isNaN || hi.isNaN) lit(true)
      else col("__v").cast("double") >= lo && col("__v").cast("double") <= hi
    }.reduceOption(_ || _).getOrElse(lit(false))
    val cand = base.filter(rangeFilter).join(broadcast(crossLocal),
      col("__g") === col("__cg") && col("__bin") === col("__cbin"))
    val inBin = Window.partitionBy(col("__g"), col("__lbl"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand
      .groupBy(col("__g"), col("__lbl"), col("__r"),
        col("__before"), col("__tw"), col("__v"))
      .agg(count(lit(1)).as("__vw"))
      .withColumn("__cw", col("__before") + sum(col("__vw")).over(inBin))
      .filter(col("__cw") >= col("__r") &&
        (col("__cw") - col("__vw")) < col("__r"))
      .select(col("__g").as(groupCol), col("__lbl").as("lbl"),
        col("__v").as("value"))
  }

  /** Exact rank-selected quantiles — the value at rank ⌈p·n⌉ per group
    * for each p = num/den — via the two-phase binned selection with
    * UNIT weights (r19): with w ≡ 1 the weighted crossing condition
    * den·cw ≥ num·tw picks exactly the smallest value whose cumulative
    * COUNT reaches p·n, i.e. the rank-⌈p·n⌉ value, in exact BIGINT
    * arithmetic. Replaces the GlobalRank full-relation range exchange +
    * sort for D19 `q_quantile` and E52 `iqr_outliers` (the same move
    * that halved the weighted family in r18 and D61 in r19): nothing
    * data-sized is sorted or exchanged — one histogram hash-aggregate
    * plus a crossing-bin resolve scan whose value-range predicate
    * reaches the parquet reader. Output: (groupCol, p: double, value),
    * one row per (group, p). Same eager-execution and deterministic/
    * stable-input contract as [[binnedWeightedSelect]]. */
  private[operators] def binnedRankQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(Long, Long, String)]): DataFrame =
    binnedWeightedSelect(df.withColumn("__unit", lit(1L)),
        groupCol, valueCol, "__unit", ps)
      .select(col(groupCol), col("p").cast("double").as("p"), col("value"))

  def weightedMedianOf(df: DataFrame, groupCol: String, valueCol: String,
                       weightCol: String): DataFrame =
    binnedWeightedSelect(df, groupCol, valueCol, weightCol,
      Seq((1L, 2L, "0.50")))
      .select(col(groupCol), col("value").as("weighted_median"),
        col("total_weight"))

  def weightedMedian(s: SparkSession, dir: String): DataFrame =
    weightedMedianOf(Tables.lineitem(s, dir),
      "l_returnflag", "l_extendedprice", "l_quantity")

  val weightedMedianSql: String =
    """WITH bv AS (SELECT l_returnflag, l_extendedprice,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, l_extendedprice,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM bv)
      |SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median,
      |  CAST(MIN(tw) AS BIGINT) AS total_weight
      |FROM c WHERE cw * 2 >= tw GROUP BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- D83
  /** Weighted quantile BRACKETS (p25/p50/p75) per group in ONE
    * two-phase binned selection — the percentile-band report (price
    * bands by unit volume here; latency bands by request weight in
    * ops) that would otherwise run one selection pass per p. The
    * weighted p-quantile is the smallest value whose cumulative weight
    * reaches p·total; all three selections share the SAME histogram
    * pass and the same crossing-bin resolve
    * ([[binnedWeightedSelect]] — exact BIGINT rationals, no p·tw
    * float rounding, no data-sized sort or range exchange; r18,
    * replacing the GlobalRank pass whose full-relation range exchange
    * was the family's floor). A single bin can carry several p's (a
    * heavy value straddling p25 AND p50) — each p resolves its own
    * crossing independently off the shared histogram. */
  /** Generic core: each p = num/den (exact rationals, labelled `lbl`)
    * selects the smallest value whose cumulative weight reaches
    * p·total — all brackets in ONE two-phase binned selection
    * ([[binnedWeightedSelect]]): a histogram pass + a crossing-bin
    * resolve, no data-sized sort or exchange anywhere. */
  def weightedQuantileBracketsOf(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String,
      ps: Seq[(Long, Long, String)]): DataFrame =
    binnedWeightedSelect(df, groupCol, valueCol, weightCol, ps)
      .select(col(groupCol), col("p"), col("value"))

  def weightedQuantiles(s: SparkSession, dir: String): DataFrame =
    weightedQuantileBracketsOf(Tables.lineitem(s, dir),
      "l_linestatus", "l_extendedprice", "l_quantity",
      Seq((1L, 4L, "0.25"), (1L, 2L, "0.50"), (3L, 4L, "0.75")))

  val weightedQuantilesSql: String =
    """WITH bv AS (SELECT l_linestatus, l_extendedprice,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_linestatus, l_extendedprice,
      |    SUM(w) OVER (PARTITION BY l_linestatus ORDER BY l_extendedprice
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY l_linestatus) AS tw
      |  FROM bv),
      |q AS (SELECT '0.25' AS p, 1 AS num, 4 AS den
      |      UNION ALL SELECT '0.50', 1, 2
      |      UNION ALL SELECT '0.75', 3, 4)
      |SELECT l_linestatus, p, MIN(l_extendedprice) AS value
      |FROM c JOIN q ON cw * den >= tw * num
      |GROUP BY l_linestatus, p""".stripMargin

  // --------------------------------------------------------------- D73
  /** Event de-bounce (run-length collapse): consecutive events of the
    * same type per user collapse to one row per run, keeping the run's
    * start time and length — the standard pre-processing step before
    * funnel/transition analysis on noisy clickstreams.
    *
    * Scale shape: one hash exchange on user_id; lag, run numbering, and
    * the run groupBy all ride it (the final groupBy on (user_id, run)
    * partial-aggregates map-side). Output is O(runs), never wider than
    * the input. */
  def debounce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("run", sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    runs.groupBy(col("user_id"), col("run"))
      .agg(min(col("event_type")).as("event_type"), min(col("ts")).as("run_start"),
        count(lit(1)).as("run_len"))
  }

  val debounceSql: String =
    """WITH m AS (SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
      |      THEN 1 ELSE 0 END AS chg
      |  FROM events),
      |r AS (SELECT user_id, ts, event_type,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM m)
      |SELECT user_id, CAST(run AS BIGINT) AS run, MIN(event_type) AS event_type,
      |  MIN(ts) AS run_start, COUNT(*) AS run_len
      |FROM r GROUP BY user_id, run""".stripMargin

  // --------------------------------------------------------------- D18d
  /** As-of join, FORWARD and NEAREST directions (completing pandas
    * `merge_asof` parity — D18/D18c cover direction='backward' [+
    * tolerance]): for every purchase, the user's latest click
    * at-or-before AND earliest click at-or-after under the (ts,
    * event_id) total order, then `nearest` picks the smaller absolute
    * gap (ties → backward, and a missing side loses to a present
    * one). Both directions come from ONE window spec — the backward
    * frame is preceding..current, the forward frame
    * current..following — so Spark plans a single sort-shuffle on
    * user_id for the whole three-direction answer, same cost as D18's
    * backward-only form. */
  def asofNearest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(col("event_type") === "click", col("ts")).as("click_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val back = last(col("click_ts"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = first(col("click_ts"), ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val gapB = unix_micros(col("ts")) - unix_micros(col("cb"))
    val gapF = unix_micros(col("cf")) - unix_micros(col("ts"))
    ev.withColumn("cb", back).withColumn("cf", fwd)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("cb"), "yyyy-MM-dd HH:mm:ss").as("click_back"),
        date_format(col("cf"), "yyyy-MM-dd HH:mm:ss").as("click_fwd"),
        when(col("cb").isNull && col("cf").isNull, lit(null).cast("string"))
          .when(col("cf").isNull, lit("backward"))
          .when(col("cb").isNull, lit("forward"))
          .when(gapB <= gapF, lit("backward")).otherwise(lit("forward"))
          .as("direction"),
        when(col("cb").isNull && col("cf").isNull, lit(null).cast("long"))
          .when(col("cf").isNull, gapB)
          .when(col("cb").isNull, gapF)
          .when(gapB <= gapF, gapB).otherwise(gapF).as("gap_us"))
  }

  val asofNearestSql: String =
    """WITH ev AS (SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN event_type = 'click' THEN ts END AS click_ts
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (SELECT user_id, ts, event_type,
      |    LAST_VALUE(click_ts IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
      |    FIRST_VALUE(click_ts IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS cf
      |  FROM ev)
      |SELECT user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  strftime(cb, '%Y-%m-%d %H:%M:%S') AS click_back,
      |  strftime(cf, '%Y-%m-%d %H:%M:%S') AS click_fwd,
      |  CASE WHEN cb IS NULL AND cf IS NULL THEN NULL
      |       WHEN cf IS NULL THEN 'backward'
      |       WHEN cb IS NULL THEN 'forward'
      |       WHEN epoch_us(ts) - epoch_us(cb) <= epoch_us(cf) - epoch_us(ts)
      |         THEN 'backward' ELSE 'forward' END AS direction,
      |  CAST(CASE WHEN cb IS NULL AND cf IS NULL THEN NULL
      |       WHEN cf IS NULL THEN epoch_us(ts) - epoch_us(cb)
      |       WHEN cb IS NULL THEN epoch_us(cf) - epoch_us(ts)
      |       WHEN epoch_us(ts) - epoch_us(cb) <= epoch_us(cf) - epoch_us(ts)
      |         THEN epoch_us(ts) - epoch_us(cb)
      |       ELSE epoch_us(cf) - epoch_us(ts) END AS BIGINT) AS gap_us
      |FROM w WHERE event_type = 'purchase'""".stripMargin

  // --------------------------------------------------------------- D76
  /** Rolling exact median over a trailing ROWS frame (the robust
    * moving-average replacement for spiky series — D32's moving sum
    * with a median instead, which neither engine ships as a native
    * windowed aggregate with the lower-median tie rule): the frame's
    * values are collected, sorted, and the rank-⌈n/2⌉ element taken —
    * a value FROM the data, no interpolation, deterministic for any
    * frame content. The frame is a BOUNDED 7 rows, so the per-row
    * collect+sort is O(7 log 7) inside one codegen'd projection over
    * ONE hash exchange on user_id — this is the right altitude for
    * small-frame order statistics (a rank-selection pass per frame
    * would be 7 jobs). */
  def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("frame", sort_array(collect_list(col("value")).over(w)))
      .select(col("user_id"), col("event_id"), col("ts"),
        size(col("frame")).as("n_frame"),
        expr("frame[CAST(ceil(size(frame) / 2.0) AS INT) - 1]").as("med7"))
  }

  val rollingMedianSql: String =
    """SELECT user_id, event_id, ts,
      |  CAST(COUNT(*) OVER w AS INTEGER) AS n_frame,
      |  list_sort(list(value) OVER w)[
      |    CAST(ceil(COUNT(*) OVER w / 2.0) AS INT)] AS med7
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  // --------------------------------------------------------------- D74
  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): two
    * status-sliced aggregates of orders joined on a key that is NULL
    * for one domain value — a plain equi-join would silently drop the
    * NULL group; the null-safe form matches it. Spark plans
    * EqualNullSafe as a hash-join key, so this stays a real shuffled
    * hash/SMJ join at scale, not a nested loop. */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("pr_key", nullif(col("o_orderpriority"), lit("1-URGENT")))
    val a = o.filter(col("o_orderstatus") === "F")
      .groupBy(col("pr_key")).agg(count(lit(1)).as("n_f"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev_f"))
    val b = o.filter(col("o_orderstatus") === "O")
      .groupBy(col("pr_key")).agg(count(lit(1)).as("n_o"))
    a.join(b, a("pr_key") <=> b("pr_key"))
      .select(a("pr_key").as("pr_key"), col("n_f"),
        col("rev_f").cast("double").as("rev_f"), col("n_o"))
  }

  val nullSafeJoinSql: String =
    """WITH o AS (SELECT nullif(o_orderpriority, '1-URGENT') AS pr_key,
      |    o_orderstatus, o_totalprice FROM orders),
      |a AS (SELECT pr_key, COUNT(*) AS n_f,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev_f
      |  FROM o WHERE o_orderstatus = 'F' GROUP BY 1),
      |b AS (SELECT pr_key, COUNT(*) AS n_o FROM o WHERE o_orderstatus = 'O' GROUP BY 1)
      |SELECT a.pr_key, a.n_f, a.rev_f, b.n_o
      |FROM a JOIN b ON a.pr_key IS NOT DISTINCT FROM b.pr_key""".stripMargin

  // --------------------------------------------------------------- D77
  /** Pareto skyline per group (minimize price, maximize size): a part
    * is on its brand's frontier iff no other part of the brand is at
    * most as expensive AND at least as large with one strict. The
    * naive definition is an all-pairs NOT EXISTS (the oracle states it
    * that way); the engine-side plan is the classic sort-scan: collapse
    * to one candidate per (brand, price) — only the largest size at a
    * price can survive — then a running strictly-preceding max over
    * prices keeps exactly the rows whose size beats every cheaper one.
    *
    * Scale shape: O(n) → O(distinct (brand,price,size)) partial-combined
    * exchange, then two geometrically shrinking ones (per-price, then a
    * per-brand window over DISTINCT PRICES — bounded by the price
    * domain, never the row count). No all-pairs join anywhere; every
    * comparison is exact (price/size are read untouched). */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = Tables.part(s, dir)
      .groupBy(col("p_brand"), col("p_retailprice"), col("p_size"))
      .agg(count(lit(1)).as("n_parts"))
    // per price the only frontier candidate is the max size; struct-max
    // also carries that size's part count (sizes are distinct within
    // the group, so the struct ordering never reaches the count)
    val byPrice = sized
      .groupBy(col("p_brand"), col("p_retailprice"))
      .agg(max(struct(col("p_size"), col("n_parts"))).as("m"))
      .select(col("p_brand"), col("p_retailprice"),
        col("m.p_size").as("best_size"), col("m.n_parts").as("n_parts"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byPrice
      .withColumn("prev_best", max(col("best_size")).over(w))
      .filter(col("prev_best").isNull || col("best_size") > col("prev_best"))
      .select(col("p_brand"), col("p_retailprice"),
        col("best_size"), col("n_parts"))
  }

  val skylineSql: String =
    """WITH sized AS (SELECT p_brand, p_retailprice, p_size,
      |    COUNT(*) AS n_parts FROM part GROUP BY 1, 2, 3)
      |SELECT s.p_brand, s.p_retailprice, s.p_size AS best_size, s.n_parts
      |FROM sized s
      |WHERE NOT EXISTS (SELECT 1 FROM sized d
      |  WHERE d.p_brand = s.p_brand
      |    AND d.p_retailprice <= s.p_retailprice AND d.p_size >= s.p_size
      |    AND (d.p_retailprice < s.p_retailprice OR d.p_size > s.p_size))""".stripMargin

  // --------------------------------------------------------------- D78
  /** Linear-interpolation gap fill: D50's LOCF repeats the last
    * observation; sensor/metric pipelines more often want the value ON
    * THE LINE between the bracketing observations. Per user, the
    * observed series is the hourly mean; the spine is every hour from
    * the user's first to last observation; missing hours interpolate
    * prev + (next − prev) · elapsed/gap, with pure-LOCF semantics never
    * applying because the spine is clamped inside the observed span.
    *
    * Float discipline: the hourly mean divides an exact DECIMAL sum by
    * the count, so both engines feed bit-identical doubles into one
    * identically-shaped interpolation expression. The prev/next scan is
    * two frames over ONE (user, hour) sort — a single exchange feeds
    * spine build, join, and both windows. At 100 TB the spine is
    * |users|·|hours|, generated (never shuffled raw), and the windows
    * carry four scalars per row. */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Tables.events(s, dir)
      .filter(col("user_id") % 17 === 0)
      .groupBy(col("user_id"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg((sum(col("value").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1))).as("v"))
    val spine = obs.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hour"))
    val joined = spine.join(obs, Seq("user_id", "hour"), "left")
    val ord = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    val prevW = ord.rowsBetween(Window.unboundedPreceding, 0)
    val nextW = ord.rowsBetween(0, Window.unboundedFollowing)
    val hs = unix_timestamp(col("hour"))
    joined
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(prevW))
      .withColumn("ph", last(when(col("v").isNotNull, hs),
        ignoreNulls = true).over(prevW))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(nextW))
      .withColumn("nh", first(when(col("v").isNotNull, hs),
        ignoreNulls = true).over(nextW))
      // NO final round(): Spark's round() rounds the double's shortest
      // decimal rendering (BigDecimal.valueOf) while DuckDB rounds the
      // exact binary value — on a true value like 32.93343749999999…
      // the two disagree. The raw doubles, by contrast, ARE
      // bit-identical (exact decimal-sum inputs through one identical
      // IEEE-754 expression tree), so exact is safer than rounded here.
      .select(col("user_id"), col("hour"), col("v").isNotNull.as("observed"),
        when(col("v").isNotNull, col("v")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            ((hs - col("ph")) / (col("nh") - col("ph")))).as("v_filled"))
  }

  val interpolateSql: String =
    """WITH obs AS (SELECT user_id, date_trunc('hour', ts) AS hour,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
      |  FROM events WHERE user_id % 17 = 0 GROUP BY 1, 2),
      |spine AS (SELECT user_id, unnest(generate_series(h0, h1,
      |      INTERVAL 1 HOUR)) AS hour
      |  FROM (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
      |        FROM obs GROUP BY 1)),
      |j AS (SELECT s.user_id, s.hour, o.v, epoch(s.hour) AS hs
      |  FROM spine s LEFT JOIN obs o
      |    ON s.user_id = o.user_id AND s.hour = o.hour),
      |f AS (SELECT *,
      |    LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN hs END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY hour
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
      |    FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hs END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY hour
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      |  FROM j)
      |SELECT user_id, hour, v IS NOT NULL AS observed,
      |  CASE WHEN v IS NOT NULL THEN v
      |    ELSE pv + (nv - pv) * ((hs - ph) / (nh - ph)) END AS v_filled
      |FROM f""".stripMargin

  // --------------------------------------------------------------- C32
  /** One-pass pairwise correlation matrix across the fact table's
    * measures — the numeric-profiling companion to C14's per-column
    * profile: every Pearson correlation between measure pairs from a
    * SINGLE scan.
    *
    * Scale shape: all 15 moments (n, 4 column sums, 10 product sums)
    * ride ONE hash aggregate with map-side partials — one scan and a
    * 1-row exchange regardless of pair count; m measures cost
    * m(m+1)/2 moment columns, never m² passes (the naive profiler
    * calls corr() per pair and rescans the fact table each time).
    *
    * Exactness AND speed via fixed-point longs: every measure is an
    * exact 2-decimal value, so ROUND(v·100) recovers identical
    * integers in both engines (the true fraction sits ~1e-9 from an
    * integer, never near the .5 boundary where the engines' rounding
    * styles differ), and correlation is scale-invariant. Summing
    * >18-digit DECIMALs instead would pull every row through the
    * BigDecimal (128-bit) aggregate path — measured 10× slower than
    * long math here — so products accumulate as TWO long sums
    * (quotient/remainder by 1e9); the exact total hi·1e9+lo is
    * reconstructed in DECIMAL(38,0) on the single result row. The
    * split is overflow-safe to ~9.2e9 rows per aggregation; beyond
    * that, add a third limb (div 1e18 / div 1e9 mod 1e9 / mod 1e9) —
    * the same trick, one more column. DuckDB needs no split (its
    * BIGINT SUM accumulates into exact HUGEINT); both engines then
    * cast the same exact integer to double, which IEEE rounds
    * identically, and round(…,6) absorbs the final arithmetic. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val ms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val scaled = Tables.lineitem(s, dir).select(
      ms.map(c => expr(s"cast(round($c * 100.0, 0) as bigint)").as(c)): _*)
    val m = 1000000000L
    val moments: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
      ms.map(c => sum(col(c)).as(s"s_$c")) ++
      (for (i <- ms.indices; j <- i until ms.length; part <- Seq(
        sum(expr(s"(${ms(i)} * ${ms(j)}) div $m")).as(s"hi_${ms(i)}__${ms(j)}"),
        sum(expr(s"(${ms(i)} * ${ms(j)}) % $m")).as(s"lo_${ms(i)}__${ms(j)}")))
        yield part)
    val g = scaled.agg(moments.head, moments.tail: _*)
    def p(a: String, b: String): Column =
      (col(s"hi_${a}__$b").cast(DecimalType(38, 0)) * lit(m) +
        col(s"lo_${a}__$b").cast(DecimalType(38, 0))).cast("double")
    def d(c: String): Column = col(c).cast("double")
    val nD = col("n").cast("double")
    def ss(a: String, b: String): Column =
      nD * p(a, b) - d(s"s_$a") * d(s"s_$b")
    val rows = for (i <- ms.indices; j <- (i + 1) until ms.length) yield {
      val (a, b) = (ms(i), ms(j))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round(ss(a, b) / sqrt(ss(a, a) * ss(b, b)), 6).as("corr"))
    }
    g.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_a").as("col_a"), col("r.col_b").as("col_b"),
        col("r.corr").as("corr"))
  }

  val corrMatrixSql: String =
    """WITH sc AS (SELECT
      |  CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT) AS q,
      |  CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT) AS e,
      |  CAST(ROUND(l_discount * 100.0, 0) AS BIGINT) AS d,
      |  CAST(ROUND(l_tax * 100.0, 0) AS BIGINT) AS t
      |  FROM lineitem),
      |g AS (SELECT COUNT(*) AS n,
      |  SUM(q) AS sq, SUM(e) AS se, SUM(d) AS sd, SUM(t) AS st,
      |  SUM(q * q) AS pqq, SUM(q * e) AS pqe, SUM(q * d) AS pqd,
      |  SUM(q * t) AS pqt, SUM(e * e) AS pee, SUM(e * d) AS ped,
      |  SUM(e * t) AS pet, SUM(d * d) AS pdd, SUM(d * t) AS pdt,
      |  SUM(t * t) AS ptt
      |  FROM sc),
      |c AS (SELECT CAST(n AS DOUBLE) AS n, CAST(sq AS DOUBLE) AS sq,
      |  CAST(se AS DOUBLE) AS se, CAST(sd AS DOUBLE) AS sd,
      |  CAST(st AS DOUBLE) AS st, CAST(pqq AS DOUBLE) AS pqq,
      |  CAST(pqe AS DOUBLE) AS pqe, CAST(pqd AS DOUBLE) AS pqd,
      |  CAST(pqt AS DOUBLE) AS pqt, CAST(pee AS DOUBLE) AS pee,
      |  CAST(ped AS DOUBLE) AS ped, CAST(pet AS DOUBLE) AS pet,
      |  CAST(pdd AS DOUBLE) AS pdd, CAST(pdt AS DOUBLE) AS pdt,
      |  CAST(ptt AS DOUBLE) AS ptt FROM g)
      |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
      |  ROUND((n*pqe - sq*se) / sqrt((n*pqq - sq*sq)*(n*pee - se*se)), 6) AS corr FROM c
      |UNION ALL SELECT 'l_quantity', 'l_discount',
      |  ROUND((n*pqd - sq*sd) / sqrt((n*pqq - sq*sq)*(n*pdd - sd*sd)), 6) FROM c
      |UNION ALL SELECT 'l_quantity', 'l_tax',
      |  ROUND((n*pqt - sq*st) / sqrt((n*pqq - sq*sq)*(n*ptt - st*st)), 6) FROM c
      |UNION ALL SELECT 'l_extendedprice', 'l_discount',
      |  ROUND((n*ped - se*sd) / sqrt((n*pee - se*se)*(n*pdd - sd*sd)), 6) FROM c
      |UNION ALL SELECT 'l_extendedprice', 'l_tax',
      |  ROUND((n*pet - se*st) / sqrt((n*pee - se*se)*(n*ptt - st*st)), 6) FROM c
      |UNION ALL SELECT 'l_discount', 'l_tax',
      |  ROUND((n*pdt - sd*st) / sqrt((n*pdd - sd*sd)*(n*ptt - st*st)), 6) FROM c""".stripMargin

  // --------------------------------------------------------------- D79
  /** U-shaped multi-touch attribution (the marketing-analytics
    * workhorse D54's funnel doesn't answer: not "how many converted"
    * but "which touchpoints get the CREDIT"): each user's conversion
    * is their FIRST purchase; the view/click events strictly before it
    * are the touch path; credit per conversion sums to 1 and splits
    * 40% first touch / 40% last touch / 20% evenly across the middle
    * (1 touch → 100%, 2 touches → 50/50 — the standard position-based
    * model). Output: total credit and touch count per event type.
    *
    * Scale shape: conversions are one per-user struct-min aggregate
    * (map-side partials); the touch path re-joins events on user_id —
    * one key-partitioned shuffle — and the position/count windows
    * partition BY USER, so no global sort and no single reducer;
    * per-touch credit is pinned to DECIMAL(28,12) before the order-
    * sensitive final sum (the D44 discipline), so the result is exact
    * and partitioning-independent. Ties in ts break on event_id — a
    * total order, so ranks are deterministic in both engines. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val evs = Tables.events(s, dir)
    val conv = evs.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("c"))
      .select(col("user_id"), col("c.ts").as("conv_ts"),
        col("c.event_id").as("conv_id"))
    val touches = evs
      .filter(col("event_type").isin("view", "click"))
      .join(conv, Seq("user_id"))
      .filter(col("ts") < col("conv_ts") ||
        (col("ts") === col("conv_ts") && col("event_id") < col("conv_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    val credited = touches
      .withColumn("rn", row_number().over(w))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("credit",
        when(col("k") === 1, lit(1.0))
          .when(col("k") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
          .otherwise(lit(0.2) / (col("k") - 2).cast("double"))
          .cast(DecimalType(28, 12)))
    credited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit")).cast("double"), 6).as("credit"))
  }

  val attributionSql: String =
    """WITH conv AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id
      |  FROM (SELECT user_id, ts, event_id,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS rn
      |    FROM events WHERE event_type = 'purchase')
      |  WHERE rn = 1),
      |touch AS (SELECT e.user_id, e.event_id, e.event_type, e.ts
      |  FROM events e JOIN conv c ON e.user_id = c.user_id
      |  WHERE e.event_type IN ('view', 'click')
      |    AND (e.ts < c.conv_ts
      |      OR (e.ts = c.conv_ts AND e.event_id < c.conv_id))),
      |pos AS (SELECT event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS k
      |  FROM touch),
      |cr AS (SELECT event_type, CAST(CASE
      |    WHEN k = 1 THEN 1.0
      |    WHEN k = 2 THEN 0.5
      |    WHEN rn = 1 OR rn = k THEN 0.4
      |    ELSE 0.2 / CAST(k - 2 AS DOUBLE) END AS DECIMAL(28,12)) AS credit
      |  FROM pos)
      |SELECT event_type, COUNT(*) AS n_touches,
      |  ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credit
      |FROM cr GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- D80
  /** Exponentially time-decayed event counts (the "what's trending
    * NOW" statistic: a plain count weighs a click from last month like
    * one from this morning): each event contributes 2^(−age/halflife)
    * with age measured from the corpus max timestamp and a 1-day
    * half-life — yesterday's event counts half, last week's ~1%. This
    * is the batch form of the streaming EWMA (F21): same decay law,
    * recomputed exactly instead of folded incrementally.
    *
    * Scale shape: the anchor timestamp is a 1-row aggregate broadcast
    * back; the weight is a pure per-row projection (exact integer-µs
    * age, one pow()); the sum is one hash aggregate with map-side
    * partials. Each engine's pow() may wobble in the last ULP, so
    * per-row weights pin to DECIMAL(28,12) before the commutative sum
    * and the output rounds to 6 — the C33/E63 libm discipline. */
  def decayedCounts(s: SparkSession, dir: String,
                    halflifeDays: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val evs = Tables.events(s, dir)
    val anchor = evs.agg(max(col("ts")).as("tmax"))
    evs.crossJoin(broadcast(anchor))
      .select(col("event_type"),
        pow(lit(0.5),
          (unix_micros(col("tmax")) - unix_micros(col("ts"))).cast("double")
            / lit(halflifeDays * 86400e6))
          .cast(DecimalType(28, 12)).as("w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("w")).cast("double"), 6).as("decayed_count"))
  }

  val decayedCountsSql: String =
    """WITH t AS (SELECT MAX(ts) AS tmax FROM events),
      |w AS (SELECT event_type,
      |    CAST(POWER(0.5, CAST(epoch_us(tmax) - epoch_us(ts) AS DOUBLE)
      |      / 86400000000.0) AS DECIMAL(28,12)) AS w
      |  FROM events, t)
      |SELECT event_type, COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(w) AS DOUBLE), 6) AS decayed_count
      |FROM w GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- D81
  /** Chi-square test of independence over a contingency table
    * (event_type × 6-hour time-of-day band): the categorical-
    * association screen behind "does behaviour differ by daypart?" —
    * the analytical complement of C32's numeric correlation matrix.
    *
    * Scale shape: ONE scan reduces to the |types|×4 cell table in a
    * single hash aggregate with map-side partials; row totals, column
    * totals and N are then WINDOW sums over that keys-sized frame —
    * the scan has exactly one consumer, so nothing recomputes and no
    * broadcast-join scaffolding is needed (the SURVEY §4 multi-
    * consumer rule, solved structurally instead of by checkpoint).
    * Expected counts and contributions are doubles derived once from
    * exact BIGINT operands — identical in any engine. */
  def chi2Independence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(s, dir)
      .select(col("event_type"), (hour(col("ts")) / 6).cast("int").as("band"))
      .groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("observed"))
    val byType = Window.partitionBy(col("event_type"))
    val byBand = Window.partitionBy(col("band"))
    val all = Window.partitionBy()
    val e = sum(col("observed")).over(byType).cast("double") *
      sum(col("observed")).over(byBand).cast("double") /
      sum(col("observed")).over(all).cast("double")
    cells
      .withColumn("expected", round(e, 6))
      .withColumn("contrib",
        round(pow(col("observed").cast("double") - e, 2) / e, 6))
      .select(col("event_type"), col("band"), col("observed"),
        col("expected"), col("contrib"))
  }

  val chi2IndependenceSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(hour(ts) // 6 AS INTEGER) AS band,
      |    COUNT(*) AS observed
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, band, observed,
      |  CAST(SUM(observed) OVER (PARTITION BY event_type) AS DOUBLE) *
      |    CAST(SUM(observed) OVER (PARTITION BY band) AS DOUBLE) /
      |    CAST(SUM(observed) OVER () AS DOUBLE) AS e
      |  FROM cells)
      |SELECT event_type, band, observed, ROUND(e, 6) AS expected,
      |  ROUND(POWER(CAST(observed AS DOUBLE) - e, 2) / e, 6) AS contrib
      |FROM w""".stripMargin

  // --------------------------------------------------------------- D82
  /** Time-bounded funnel (D54's ordered-reach funnel with per-step
    * conversion WINDOWS — the form marketing actually runs: a click
    * only converts if it happens within 4 h of the first view, a
    * purchase within 4 h of that click): t1 = first view per user,
    * t2 = first click in [t1, t1+4h], t3 = first purchase in
    * [t2, t2+4h]. Reports per-stage reachers and the mean step delay.
    *
    * Scale shape: three per-type filtered aggregates, each keyed on
    * user_id; the two step joins rehash on the SAME user_id key, so
    * the exchange partitioning is reused down the chain and no stage
    * ever holds more than one row per user. Step delays are exact
    * integer µs; the mean divides two exact BIGINTs in one double op
    * — bit-identical in any engine, any partitioning. */
  def funnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
    def firstOf(t: String) = evs.filter(col("event_type") === t)
    val v1 = firstOf("view").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c2 = firstOf("click").join(v1, "user_id")
      .filter(col("ts") >= col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 4 HOURS"))
      .groupBy(col("user_id")).agg(min(col("t1")).as("t1"), min(col("ts")).as("t2"))
    val p3 = firstOf("purchase").join(c2, "user_id")
      .filter(col("ts") >= col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 4 HOURS"))
      .groupBy(col("user_id")).agg(min(col("t2")).as("t2"), min(col("ts")).as("t3"))
    def stage(n: Int, d: DataFrame, from: String, to: String) = {
      val agged =
        if (from.isEmpty)
          d.agg(count(lit(1)).as("users"))
            .withColumn("avg_step_delay_sec", lit(null).cast("double"))
        else d.agg(count(lit(1)).as("users"),
          round(sum(unix_micros(col(to)) - unix_micros(col(from)))
            .cast("double") / (count(lit(1)) * 1000000L).cast("double"), 6)
            .as("avg_step_delay_sec"))
      agged.select(lit(n).as("stage"), col("users"), col("avg_step_delay_sec"))
    }
    stage(1, v1, "", "t1")
      .unionAll(stage(2, c2, "t1", "t2"))
      .unionAll(stage(3, p3, "t2", "t3"))
  }

  val funnelWindowedSql: String =
    """WITH v1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c2 AS (SELECT e.user_id, MIN(v1.t1) AS t1, MIN(e.ts) AS t2
      |  FROM events e JOIN v1 ON e.user_id = v1.user_id
      |  WHERE e.event_type = 'click'
      |    AND e.ts >= v1.t1 AND e.ts <= v1.t1 + INTERVAL 4 HOUR
      |  GROUP BY e.user_id),
      |p3 AS (SELECT e.user_id, MIN(c2.t2) AS t2, MIN(e.ts) AS t3
      |  FROM events e JOIN c2 ON e.user_id = c2.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts >= c2.t2 AND e.ts <= c2.t2 + INTERVAL 4 HOUR
      |  GROUP BY e.user_id)
      |SELECT 1 AS stage, COUNT(*) AS users,
      |  CAST(NULL AS DOUBLE) AS avg_step_delay_sec FROM v1
      |UNION ALL
      |SELECT 2, COUNT(*),
      |  ROUND(CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS DOUBLE)
      |    / CAST(COUNT(*) * 1000000 AS DOUBLE), 6) FROM c2
      |UNION ALL
      |SELECT 3, COUNT(*),
      |  ROUND(CAST(SUM(epoch_us(t3) - epoch_us(t2)) AS DOUBLE)
      |    / CAST(COUNT(*) * 1000000 AS DOUBLE), 6) FROM p3""".stripMargin
}
