package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Driver-visible CORRECTNESS gates for the sink/layout surface
  * (SURVEY.md §2 C6-C9, C11-C13, C16-C17, D21) in the
  * `publish_manifest` style: each gate runs the real sink/layout
  * machinery against /tmp scratch space and reduces its invariant to
  * rows a SQL oracle recomputes exactly — counts and checksums from
  * the source tables plus TRUE booleans for the structural checks
  * (files pruned, plan reused an exchange, a rerun changed nothing).
  */
object SinkGates {

  private def base(dir: String, name: String): String =
    s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  /** Order-insensitive arithmetic checksum — same hash family as
    * [[Sinks.writeAuditPublish]], recomputable in ANSI SQL. */
  private def checksum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(pmod((c.cast("long") % 1000003L) * 2654435761L, lit(1000000007L)))

  private val checksumSqlOf: String => String = c =>
    s"SUM((($c % 1000003) * 2654435761) % 1000000007)"

  // ------------------------------------------------------------- C6
  /** Small-files compaction: compact lineitem clustered by l_shipdate
    * into deliberately small files, then verify (a) nothing was lost
    * (count + key checksum vs the source) and (b) the layout actually
    * clusters — a one-month probe's rows live in a strict subset of
    * the files, which is what lets footer stats skip whole files at
    * 100 TB. */
  def compactGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_shipdate"), col("l_quantity"))
    val out = base(dir, "compact")
    // the target scales with the data (~40 parquet B/row on this
    // 5-column projection, aimed at ~16 files) so the clustering
    // invariant is TESTABLE at any SF — a fixed size lands sf0.001 in
    // one file, where "a probe touches a strict subset" is vacuously
    // false rather than meaningfully true
    val target = math.max(8L * 1024, li.count() * 40L / 16)
    Sinks.compact(li, out, Seq("l_shipdate"), targetFileBytes = target)
    val back = s.read.parquet(out)
    val agg = back.agg(count(lit(1)).as("n"),
      checksum(col("l_orderkey")).as("ck")).head()
    val nFiles = back.select(input_file_name()).distinct().count()
    val probeFiles = back
      .filter(col("l_shipdate") < lit("1995-07-01").cast("timestamp"))
      .select(input_file_name()).distinct().count()
    Seq(("compact", agg.getLong(0), agg.getLong(1),
        nFiles > 1L && probeFiles < nFiles))
      .toDF("metric", "n_rows", "key_checksum", "clustered")
  }

  val compactGateSql: String =
    s"""SELECT 'compact' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(${checksumSqlOf("l_orderkey")} AS BIGINT) AS key_checksum,
       |  TRUE AS clustered
       |FROM lineitem""".stripMargin

  // ------------------------------------------------------------- C7
  /** Idempotent daily load: write events partitioned by day, then
    * RERUN one day's load — dynamic partition overwrite must replace
    * only that partition, so count and checksum stay exactly the
    * source's (an append-mode rerun would duplicate the day). */
  def idempotentLoadGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("day"))
    val out = base(dir, "idempotent")
    Sinks.writeParquetIdempotent(ev, out, Seq("day"))
    // the rerun: same day, same data — must be a no-op overall
    Sinks.writeParquetIdempotent(
      ev.filter(col("day") === "2024-01-15"), out, Seq("day"))
    val back = s.read.parquet(out)
    val agg = back.agg(count(lit(1)).as("n"),
      checksum(col("event_id")).as("ck")).head()
    Seq(("idempotent_load", agg.getLong(0), agg.getLong(1)))
      .toDF("metric", "n_rows", "key_checksum")
  }

  val idempotentLoadGateSql: String =
    s"""SELECT 'idempotent_load' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(${checksumSqlOf("event_id")} AS BIGINT) AS key_checksum
       |FROM events""".stripMargin

  // ------------------------------------------------------------- C8
  /** Single-pass audit accounting: `processDay` counts the sunk rows
    * with an `observe` metric DURING the one sink action; the audit
    * total must equal both the files on disk and the oracle's count of
    * that day. */
  def etlAuditGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val drop = graft.EtlStage.stageEventsCsv(s, dir)
    val out = base(dir, "etl_audit")
    val entry = graft.EtlPipeline.processDay(s, drop, "2024-01-15",
      sink = df => df.write.mode("overwrite").parquet(out)).get
    val sunk = s.read.parquet(out).count()
    Seq(("etl_audit", entry.total_row_count, entry.total_row_count == sunk))
      .toDF("metric", "total_rows", "audit_matches_sink")
  }

  val etlAuditGateSql: String =
    """SELECT 'etl_audit' AS metric, CAST(COUNT(*) AS BIGINT) AS total_rows,
      |  TRUE AS audit_matches_sink
      |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'""".stripMargin

  // ------------------------------------------------------------- C9
  /** Parquet upsert: seed the dataset with customer, upsert a delta
    * (every custkey % 10 == 0, acctbal shifted) — the merged table must
    * keep every key exactly once with exactly the delta's rows updated. */
  def upsertGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val out = base(dir, "upsert")
    Sinks.writeParquet(cust, out)
    val delta = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
    Sinks.upsertParquet(delta, out, Seq("c_custkey"))
    val back = s.read.parquet(out)
    val nUpdated = back.alias("b")
      .join(cust.alias("c"), "c_custkey")
      .filter(col("b.c_acctbal") =!= col("c.c_acctbal")).count()
    val agg = back.agg(count(lit(1)).as("n"),
      checksum(col("c_custkey")).as("ck")).head()
    Seq(("upsert", agg.getLong(0), agg.getLong(1), nUpdated))
      .toDF("metric", "n_rows", "key_checksum", "n_updated")
  }

  val upsertGateSql: String =
    s"""SELECT 'upsert' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(${checksumSqlOf("c_custkey")} AS BIGINT) AS key_checksum,
       |  CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_updated
       |FROM customer""".stripMargin

  // ------------------------------------------------------------ C11
  /** Exactly-once JDBC load: the staging + transactional-publish +
    * audit-mark protocol must publish a batch once, treat a replay of
    * the same batchId as a no-op, and accept the next batchId. */
  def exactlyOnceJdbcGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val db = "eo_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val cfg = Sinks.JdbcConfig(
      url = s"jdbc:derby:memory:$db;create=true",
      table = "nation_load", user = "app", password = "app",
      numPartitions = 2)
    val nation = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    // Derby needs the target table to exist for INSERT..SELECT publish
    Sinks.writeJdbc(nation.limit(0), cfg, overwrite = true)
    val first = Sinks.writeJdbcExactlyOnce(nation, cfg, batchId = 1L)
    val replay = Sinks.writeJdbcExactlyOnce(nation, cfg, batchId = 1L)
    val second = Sinks.writeJdbcExactlyOnce(nation, cfg, batchId = 2L)
    val n = graft.sources.Readers.jdbc(s, cfg.url, cfg.table, "app", "app",
      partitionColumn = None).count()
    Seq(("exactly_once_jdbc", n / 2, first && !replay && second))
      .toDF("metric", "n_rows_per_batch", "exactly_once")
  }

  val exactlyOnceJdbcGateSql: String =
    """SELECT 'exactly_once_jdbc' AS metric,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows_per_batch,
      |  TRUE AS exactly_once
      |FROM nation""".stripMargin

  // ------------------------------------------------------------ C12
  /** Z-order clustered write: after the morton rewrite on
    * (l_partkey, l_suppkey), a selective probe on EITHER column must
    * touch a strict subset of the files — the two-dimensional locality
    * a linear sort can only give one column. */
  def zorderGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val out = base(dir, "zorder")
    // target scales with the data, aimed at ~32 files: with fewer, the
    // 2-bit-per-dim z prefix can't isolate either dimension's low
    // range (a fixed size makes sf0.001 one unprunable file)
    Sinks.writeZOrdered(li, out, "l_partkey", "l_suppkey",
      targetFileBytes = math.max(4L * 1024, li.count() * 24L / 32))
    val back = s.read.parquet(out)
    val nFiles = back.select(input_file_name()).distinct().count()
    def filesTouched(c: String, bound: Long) = back
      .filter(col(c) < bound).select(input_file_name()).distinct().count()
    val aCount = back.filter(col("l_partkey") < 100L).count()
    val bCount = back.filter(col("l_suppkey") < 5L).count()
    Seq(("zorder", back.count(), aCount, bCount,
        nFiles > 1L &&
          filesTouched("l_partkey", 100L) < nFiles &&
          filesTouched("l_suppkey", 5L) < nFiles))
      .toDF("metric", "n_rows", "n_match_a", "n_match_b", "both_dims_prune")
  }

  val zorderGateSql: String =
    """SELECT 'zorder' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN l_partkey < 100 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_match_a,
      |  CAST(SUM(CASE WHEN l_suppkey < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_match_b,
      |  TRUE AS both_dims_prune
      |FROM lineitem""".stripMargin

  // ------------------------------------------------------------ C13
  /** Incremental aggregate maintenance: fold orders into the stored
    * rollup in TWO increments (never rescanning the first), then emit
    * the maintained table itself — the oracle recomputes it from
    * scratch, so any drift in the fold shows as a value mismatch. */
  def aggMaintainGate(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"))
      .withColumn("n_rows", lit(1L))
    val out = base(dir, "agg_maintain")
    // fresh fold every run: the gate is the two-increment maintenance
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val inc1 = orders.filter(col("o_orderkey") % 2 === 0)
    val inc2 = orders.filter(col("o_orderkey") % 2 === 1)
    Sinks.maintainAggregate(inc1, out, Seq("o_orderpriority"), Seq("n_rows", "o_custkey"))
    Sinks.maintainAggregate(inc2, out, Seq("o_orderpriority"), Seq("n_rows", "o_custkey"))
    s.read.parquet(out)
      .select(col("o_orderpriority"), col("n_rows"),
        col("o_custkey").as("custkey_sum"))
  }

  val aggMaintainGateSql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
      |FROM orders GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ C35
  /** Incremental JOIN-view maintenance — the delta rule, C13's fold
    * for a JOIN view: V = orders ⋈ customer materializes ONCE from
    * the old snapshots; inserts arriving on BOTH sides then maintain
    * it as V' = V ∪ (ΔO⋈C_old) ∪ (O_old⋈ΔC) ∪ (ΔO⋈ΔC) — three delta
    * joins whose Δ sides BROADCAST, never an old⋈old recompute. At
    * 100 TB this is the whole point: the view's big shuffle ran once
    * at materialization, every refresh costs |Δ|, not |table|. Emits
    * the maintained view's per-priority rollup; the oracle recomputes
    * the FULL join from scratch, so a missed or double-counted delta
    * term shows as a value mismatch, exactly. */
  def joinViewMaintainGate(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val oldO = orders.filter(col("o_orderkey") % 17 =!= 0)
    val dO = orders.filter(col("o_orderkey") % 17 === 0)
    val oldC = cust.filter(col("c_custkey") % 23 =!= 0)
    val dC = cust.filter(col("c_custkey") % 23 === 0)
    val out = base(dir, "join_view")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    oldO.join(oldC, col("o_custkey") === col("c_custkey"))
      .write.parquet(out)
    def jk = col("o_custkey") === col("c_custkey")
    val maintained = s.read.parquet(out)
      .unionByName(broadcast(dO).join(oldC, jk))
      .unionByName(oldO.join(broadcast(dC), jk))
      .unionByName(broadcast(dO).join(broadcast(dC), jk))
    maintained.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Relational.dsum(col("o_totalprice")).as("price_sum"),
        sum(col("c_nationkey")).cast("long").as("nation_sum"))
  }

  val joinViewMaintainGateSql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
      |    AS price_sum,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS nation_sum
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ C16
  /** Dynamic partition pruning: a day-partitioned fact joined to a
    * filtered dim must carry a runtime pruning subquery in the fact
    * scan — at 100 TB this is what keeps a date-dim join from reading
    * every partition. The join result count cross-checks the oracle. */
  def dppGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = base(dir, "dpp_fact")
    val ev = Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .select(col("event_id"), col("event_type"), col("day"))
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    val dim = ev.select(col("day")).distinct()
      .withColumn("tag", when(col("day") === "2024-01-15", 1L).otherwise(0L))
    val q = s.read.parquet(out)
      .join(dim.filter(col("tag") === 1L), "day")
      .agg(count(lit(1)).as("n"))
    val n = q.collect().head.getLong(0)
    val plan = q.queryExecution.executedPlan.toString
    Seq(("dpp", n, plan.contains("dynamicpruning")))
      .toDF("metric", "n_rows", "dpp_used")
  }

  val dppGateSql: String =
    """SELECT 'dpp' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  TRUE AS dpp_used
      |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'""".stripMargin

  // ------------------------------------------------------------ C17
  /** Exchange reuse: identical aggregation subtrees in a self-join
    * must execute ONE exchange (ReusedExchange/ReusedQueryStage), not
    * recompute the aggregate per branch. */
  def exchangeReuseGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def agg = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("spend"))
    val q = agg.alias("a").join(agg.alias("b"), "o_custkey")
      .agg(count(lit(1)).as("n"))
    // collect() THIS plan (head() would execute a separate limited
    // query and leave q's adaptive plan unfinalized)
    val n = q.collect().head.getLong(0)
    val plan = q.queryExecution.executedPlan.toString
    Seq(("exchange_reuse", n,
        plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")))
      .toDF("metric", "n_rows", "exchange_reused")
  }

  val exchangeReuseGateSql: String =
    """SELECT 'exchange_reuse' AS metric,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_rows,
      |  TRUE AS exchange_reused
      |FROM orders""".stripMargin

  // ------------------------------------------------------------ D21
  /** Bucketed co-located join: orders and lineitem bucketed on the
    * join key must sort-merge-join with the bucketing standing in for
    * the shuffle — exactly one exchange in the plan (the final
    * aggregation), with broadcast disabled so the join path is real. */
  def bucketedJoinGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (tOrders, tLine) = (s"bg_orders_$safe", s"bg_lineitem_$safe")
    s.sql(s"DROP TABLE IF EXISTS $tOrders")
    s.sql(s"DROP TABLE IF EXISTS $tLine")
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      .write.bucketBy(8, "o_orderkey").mode("overwrite")
      .option("path", base(dir, "bg_orders")).saveAsTable(tOrders)
    Tables.lineitem(s, dir).select(col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").mode("overwrite")
      .option("path", base(dir, "bg_lineitem")).saveAsTable(tLine)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = s.table(tLine)
        .join(s.table(tOrders), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val n = q.collect().head.getLong(0)
      val plan = q.queryExecution.executedPlan.toString
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      Seq(("bucketed_join", n,
          plan.contains("SortMergeJoin") && nExchanges == 0))
        .toDF("metric", "n_rows", "join_shuffle_free")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  val bucketedJoinGateSql: String =
    """SELECT 'bucketed_join' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  TRUE AS join_shuffle_free
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  // ------------------------------------------------------------ C29
  /** Key purge gate: seed a day-partitioned events table, purge two
    * planted user ids via [[Sinks.purgeKeys]], then pin (a) zero rows
    * for the purged keys remain, (b) the total row drop equals exactly
    * the users' row count, and (c) partitions that never contained the
    * keys kept their files UNTOUCHED (same part-file names before and
    * after — a rewrite would have generated fresh ones), which is the
    * whole point of partition-scoped deletion at 100 TB. */
  def purgeKeysGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val purge = Seq(7L, 42L)
    val table = base(dir, "purge_keys")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    // cluster by the partition column before the partitioned write
    // (guide §6 small-files): without it every task writes a sliver of
    // every day — tasks × days tiny files whose listing/rewrite costs
    // dominate the gate; with it each day lands as one right-sized file.
    // The seed total and the purge keys' day set ride the SAME write job
    // as observe metrics (r20) — previously each was its own full events
    // scan (`ev.count()` at the end, the affected-days distinct here).
    val seedObs = org.apache.spark.sql.Observation("purge_seed")
    Sinks.writeParquet(
      ev.observe(seedObs, count(lit(1)).as("n_total"),
          collect_set(when(col("user_id").isin(purge: _*), col("day")))
            .as("affected_days"))
        .repartition(col("day")),
      table, partitionBy = Seq("day"))
    val seedMetrics = seedObs.get
    val seedTotal = seedMetrics("n_total").asInstanceOf[Long]
    val affectedDays = seedMetrics("affected_days").asInstanceOf[Seq[String]]
      .map("day=" + _).toSet
    def partFiles(): Map[String, Set[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(table))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
        .map { st =>
          st.getPath.getName ->
            fs.listStatus(st.getPath).map(_.getPath.getName)
              .filter(_.endsWith(".parquet")).toSet
        }.toMap
    val filesBefore = partFiles()
    val audit = Sinks.purgeKeys(s, table, "user_id", purge, "day")
    // null-safe: on a dataset where no row carries a purge key (e.g. a
    // sliced dir whose user_id % m filter drops users 7 and 42) the
    // audit is empty and a bare sum() returns NULL
    val removed = audit.agg(coalesce(sum(col("rows_removed")), lit(0L)))
      .head().getLong(0)
    val filesAfter = partFiles()
    val untouchedIntact = filesBefore.keySet.forall { d =>
      affectedDays.contains(d) || filesBefore(d) == filesAfter(d)
    }
    // one read-back scan answers both audit questions (leak count and
    // total rows) — previously three separate full-scan jobs of the
    // rewritten table sat on the gate's critical path
    val backAgg = s.read.parquet(table).agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("user_id").isin(purge: _*), 1L)
          .otherwise(0L)), lit(0L)).as("leak")).head()
    val backCount = backAgg.getLong(0)
    val leak = backAgg.getLong(1)
    Seq(("purge_keys", backCount, removed, affectedDays.size.toLong,
        leak == 0L && untouchedIntact &&
          backCount + removed == seedTotal))
      .toDF("metric", "n_rows_after", "n_rows_removed", "n_days_affected",
        "purge_scoped_and_complete")
  }

  val purgeKeysGateSql: String =
    """SELECT 'purge_keys' AS metric,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id NOT IN (7, 42))
      |    AS n_rows_after,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows_removed,
      |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days_affected,
      |  TRUE AS purge_scoped_and_complete
      |FROM events WHERE user_id IN (7, 42)""".stripMargin

  // ------------------------------------------------------------ C28
  /** Time travel over [[Sinks.versionedPublish]]: publish v1 = the
    * customer snapshot, v2 = the CDC-mutated version (C24's derivation
    * — balances shifted on %10 keys, %97 keys deleted, %101 keys
    * re-inserted under shifted ids); then v1 read AS OF must still
    * equal the original exactly (count + key checksum + zero changed
    * balances), the latest read must equal v2, and the pointer must
    * say 2 — i.e. publishing a new version did not disturb a retained
    * old one, the property every reproducible-training-run reads
    * depend on. */
  def timeTravelGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v1df = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal").as("bal"))
    val base0 = Tables.customer(s, dir)
    val v2df = base0
      .filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, round(col("c_acctbal") + 100.0, 2))
          .otherwise(col("c_acctbal")).as("bal"))
      .unionByName(base0
        .filter(col("c_custkey") % 101 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          round(col("c_acctbal") + 1.0, 2).as("bal")))
    val table = base(dir, "time_travel")
    // fresh table per run — the gate must be rerun-idempotent
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    val ver1 = Sinks.versionedPublish(v1df, table)
    val ver2 = Sinks.versionedPublish(v2df, table)
    val asOf1 = Sinks.readVersion(s, table, ver1)
    val latest = Sinks.readVersion(s, table)
    // one scan per frame (r19): count + checksum ride one aggregate,
    // and each count lands in a val — the per-use re-count previously
    // put three extra full-scan jobs on the gate's critical path
    val agg1 = asOf1.agg(count(lit(1)).as("n"), checksum(col("c_custkey")).as("ck")).head()
    val latestCount = latest.count()
    val v1Intact = agg1.getLong(0) == v1df.count() &&
      asOf1.join(v1df.withColumnRenamed("bal", "bal0"), Seq("c_custkey"))
        .filter(col("bal") =!= col("bal0")).count() == 0
    val latestIsV2 =
      latestCount == v2df.count() &&
        latest.join(v2df.withColumnRenamed("bal", "bal2"), Seq("c_custkey"))
          .filter(col("bal") =!= col("bal2")).count() == 0
    Seq(("time_travel", agg1.getLong(0), agg1.getLong(1), latestCount,
        ver1 == 1 && ver2 == 2 && v1Intact && latestIsV2))
      .toDF("metric", "n_rows_v1", "key_checksum_v1", "n_rows_latest",
        "versions_isolated")
  }

  val timeTravelGateSql: String =
    s"""SELECT 'time_travel' AS metric,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows_v1,
       |  CAST(${checksumSqlOf("c_custkey")} AS BIGINT) AS key_checksum_v1,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
       |     SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0
       |     UNION ALL
       |     SELECT c_custkey + 10000000 FROM customer WHERE c_custkey % 101 = 0))
       |    AS n_rows_latest,
       |  TRUE AS versions_isolated
       |FROM customer""".stripMargin

  // ------------------------------------------------------------ C31
  /** Snapshot expiration (vacuum) over [[Sinks.versionedPublish]]:
    * C28 pins that retained versions stay isolated; this gate pins the
    * OTHER half of the retention contract — expired snapshots are
    * physically deleted (at 100 TB un-vacuumed snapshots are the
    * storage bill), the retained window is exactly the newest
    * `retain`, the `_LATEST` pointer survives every expiration, and a
    * read of an expired version fails loudly instead of returning
    * stale files. Five publishes at retain=2 leave exactly {v_4, v_5}
    * on disk; each publish `i` is the deterministic slice
    * `c_custkey % 5 < i`, so the oracle recomputes the latest count
    * and key checksum straight from `customer`. */
  def vacuumGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val table = base(dir, "vacuum")
    val fs = new Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(table), true) // rerun-idempotent
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
    val versions = (1 to 5).map { i =>
      Sinks.versionedPublish(cust.filter(col("c_custkey") % 5 < i),
        table, retain = 2)
    }
    val onDisk = fs.listStatus(new Path(table)).map(_.getPath.getName)
      .filter(_.startsWith("v_")).sorted.toSeq
    val retainedRight = onDisk == Seq("v_4", "v_5")
    val expiredFails =
      try { Sinks.readVersion(s, table, 2).count(); false }
      catch {
        // surfaces as AnalysisException (path not found at plan time)
        // or a FileNotFoundException-wrapped SparkException at scan
        // time — the exact wrapping is Spark-version/listing-cache
        // dependent, so ANY exception is "fails loudly", which is the
        // contract under test; only a successful read of stale rows
        // may fail the gate
        case scala.util.control.NonFatal(_) => true
      }
    val latest = Sinks.readVersion(s, table)
    val agg = latest.agg(count(lit(1)).as("n"),
      checksum(col("c_custkey")).as("ck")).head()
    Seq(("vacuum", versions.last.toLong, 2L, agg.getLong(0), agg.getLong(1),
        versions == Seq(1, 2, 3, 4, 5) && retainedRight && expiredFails &&
          Sinks.latestVersion(s, table).contains(5)))
      .toDF("metric", "n_published", "n_retained", "n_rows_latest",
        "key_checksum_latest", "expired_gone_latest_intact")
  }

  val vacuumGateSql: String =
    s"""SELECT 'vacuum' AS metric,
       |  CAST(5 AS BIGINT) AS n_published,
       |  CAST(2 AS BIGINT) AS n_retained,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows_latest,
       |  CAST(${checksumSqlOf("c_custkey")} AS BIGINT) AS key_checksum_latest,
       |  TRUE AS expired_gone_latest_intact
       |FROM customer WHERE c_custkey % 5 < 5""".stripMargin

  // ------------------------------------------------------------ C38
  /** Atomic multi-table publish gate over [[Sinks.publishTableSet]]:
    * a fact rollup (orders by status) and the dimension summary it
    * pairs with (customer) publish TOGETHER, twice, each epoch
    * carrying an epoch marker INSIDE both tables. The gate pins the
    * cross-table contract C28 can't: at every retained version the two
    * tables' epochs AGREE (a reader can never join fact v2 against dim
    * v1), the previous snapshot stays readable and internally
    * consistent after the next publish, no staging residue survives,
    * and the latest pointer resolves both tables to epoch 2. */
  def multiPublishGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val root = base(dir, "multi_publish")
    val fs = new Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true) // rerun-idempotent
    def slices(epoch: Int): Seq[(String, DataFrame)] = {
      // epoch 1 = half the keys, epoch 2 = all: both tables derive
      // from the SAME epoch filter, so a mixed-version read is
      // detectable as an epoch mismatch
      val m = if (epoch == 1) 2 else 1
      val or = Tables.orders(s, dir).filter(col("o_orderkey") % m === 0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("epoch", lit(epoch))
      val cu = Tables.customer(s, dir).filter(col("c_custkey") % m === 0)
        .agg(count(lit(1)).as("n_cust"),
          checksum(col("c_custkey")).as("cust_ck"))
        .withColumn("epoch", lit(epoch))
      Seq("orders_rollup" -> or, "customer_rollup" -> cu)
    }
    val v1 = Sinks.publishTableSet(slices(1), root, retain = 3)
    val v2 = Sinks.publishTableSet(slices(2), root, retain = 3)
    def epochOf(name: String, v: Int): Int =
      Sinks.readTableSet(s, root, name, v)
        .select(min(col("epoch"))).head().getInt(0)
    val epochsAgree =
      epochOf("orders_rollup", 1) == 1 && epochOf("customer_rollup", 1) == 1 &&
      epochOf("orders_rollup", 2) == 2 && epochOf("customer_rollup", 2) == 2
    val noStaging = !fs.listStatus(new Path(root))
      .exists(_.getPath.getName.contains("_staging"))
    val latestCu = Sinks.readTableSet(s, root, "customer_rollup").head()
    val nStatusLatest = Sinks.readTableSet(s, root, "orders_rollup").count()
    val v1CustN = Sinks.readTableSet(s, root, "customer_rollup", 1)
      .head().getLong(0)
    val v1Expected = Tables.customer(s, dir)
      .filter(col("c_custkey") % 2 === 0).count()
    Seq(("multi_publish", 2L, nStatusLatest,
        latestCu.getLong(0), latestCu.getLong(1),
        v1 == 1 && v2 == 2 && epochsAgree && noStaging &&
          v1CustN == v1Expected &&
          Sinks.latestVersion(s, root).contains(2)))
      .toDF("metric", "n_published", "n_status_latest", "n_cust_latest",
        "cust_checksum_latest", "atomic_consistent")
  }

  val multiPublishGateSql: String =
    s"""SELECT 'multi_publish' AS metric,
       |  CAST(2 AS BIGINT) AS n_published,
       |  (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders)
       |    AS n_status_latest,
       |  CAST(COUNT(*) AS BIGINT) AS n_cust_latest,
       |  CAST(${checksumSqlOf("c_custkey")} AS BIGINT)
       |    AS cust_checksum_latest,
       |  TRUE AS atomic_consistent
       |FROM customer""".stripMargin

  // ------------------------------------------------------------ C42
  /** Runtime Bloom-filter semi-join reduction (Catalyst's
    * InjectRuntimeFilter): a shuffled fact⋈selective-dim join must
    * pre-filter the FACT side with a bloom filter built from the dim's
    * join keys — at 100 TB this is the difference between shuffling
    * every fact row and shuffling only candidate rows (bloom-rejected
    * rows never enter the exchange; with ~2% of orders URGENT-filtered,
    * ~98% of lineitem rows drop BEFORE the shuffle). The production
    * defaults gate injection on a ≥10 GB application-side scan —
    * correct at cluster scale, never true at sf0.1 — so the gate
    * scopes the thresholds down (and disables broadcast so the join
    * genuinely shuffles), asserts `might_contain` inside the executed
    * fact-side plan, and pins the count equal to both a bloom-DISABLED
    * run and the oracle: the filter may only REDUCE the shuffle, never
    * change the result. */
  def bloomJoinGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def joined = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    val scoped = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = scoped.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      scoped.foreach { case (k, v) => s.conf.set(k, v) }
      val q = joined
      val n = q.collect().head.getLong(0)
      val plan = q.queryExecution.executedPlan.toString
      val bloomUsed = plan.toLowerCase.contains("might_contain")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val nPlain = joined.collect().head.getLong(0)
      Seq(("bloom_join", n, bloomUsed && n == nPlain))
        .toDF("metric", "n_rows", "bloom_reduced")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  val bloomJoinGateSql: String =
    """SELECT 'bloom_join' AS metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  TRUE AS bloom_reduced
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin
}
