package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{EtlPipeline, EtlStage, Tables}
import graft.sources.{DateExtract, FileCatalog, Readers}
import graft.operators.Relational.dsum

/** Driver-checkable queries for the ETL surface (SURVEY.md §2 A/B/C).
  * Each exercises an engine operator against the testdata tables (the
  * staged CSV drop stands in for the reference's S3 bucket) with a
  * DuckDB oracle computed from the original parquet.
  */
object EtlQueries {

  /** Fixed processing time so pipeline outputs stay deterministic:
    * 2026-01-01T00:00:00Z. */
  private val fixedProcessedAt = new java.sql.Timestamp(1767225600000L)

  // ----------------------------------------------------------- A2
  /** Build filenames in six reference naming conventions from
    * o_orderdate, extract the date back, count exact recoveries.
    * The oracle asserts 100% recovery per convention. */
  def dateExtract(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val kind = pmod(col("o_orderkey"), lit(6))
    val iso = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val fname = when(kind === 0, concat(lit("data_"), iso, lit("T030000_export.csv.gz")))
      .when(kind === 1, concat(lit("sales_"), iso, lit(".csv")))
      .when(kind === 2, concat(lit("report_"), date_format(col("o_orderdate"), "yyyyMMdd"), lit(".xlsx")))
      .when(kind === 3, concat(lit("logs_"), date_format(col("o_orderdate"), "yyyy_MM_dd"), lit(".txt")))
      .when(kind === 4, concat(lit("backup_"), date_format(col("o_orderdate"), "MM-dd-yyyy"), lit("_120000.sql")))
      .otherwise(concat(lit("analytics."), date_format(col("o_orderdate"), "yyyy.MM.dd"), lit(".json")))
    o.select(kind.as("kind"), iso.as("truth"),
        DateExtract.extractDate(fname).as("extracted"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("extracted") === col("truth"), 1L).otherwise(0L)).as("n_correct"))
  }

  val dateExtractSql: String =
    "SELECT o_orderkey % 6 AS kind, COUNT(*) AS n, COUNT(*) AS n_correct FROM orders GROUP BY 1"

  // ----------------------------------------------------------- A2 (custom patterns)
  /** Custom business conventions (reference `get_custom_patterns()`,
    * etl_pipeline.py:234-249): build filenames in the sales_daily and
    * backup_file conventions, extract with the custom patterns
    * prepended, and count (a) exact date recovery through the scalar
    * form, (b) per-pattern matches through the all-matches dict form,
    * (c) time-of-day preservation through the custom timestamp form
    * (backup carries 12:30:45 — the default patterns would collapse it
    * to midnight). */
  def dateExtractCustom(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DateExtract.{DatePattern, DateTimePattern, QuarterPattern}
    val custom = Seq(
      DatePattern("sales_daily", "sales_(\\d{4}-\\d{2}-\\d{2})_daily\\.csv", "yyyy-MM-dd"),
      DatePattern("backup_file", "backup_(\\d{4}_\\d{2}_\\d{2}_\\d{2}_\\d{2}_\\d{2})\\.sql",
        "yyyy_MM_dd_HH_mm_ss"),
      // multi-group: date and time captured separately, composed
      // (reference etl_pipeline.py:243-244)
      DateTimePattern("log_file", "app_(\\d{8})_(\\d{6})\\.log", "yyyyMMdd", "HHmmss"),
      // computed: quarter digit + year → first day of that quarter
      // (reference etl_pipeline.py:248)
      QuarterPattern("report_quarterly", "report_Q(\\d)_(\\d{4})\\.xlsx"))
    val o = Tables.orders(s, dir)
    val kind = pmod(col("o_orderkey"), lit(4))
    val iso = date_format(col("o_orderdate"), "yyyy-MM-dd")
    // the quarterly convention only encodes the quarter — its truth is
    // the quarter's first day, not the order date
    val truth = when(kind === 3,
      date_format(trunc(col("o_orderdate"), "quarter"), "yyyy-MM-dd")).otherwise(iso)
    val fname = when(kind === 0, concat(lit("sales_"), iso, lit("_daily.csv")))
      .when(kind === 1, concat(lit("backup_"), date_format(col("o_orderdate"), "yyyy_MM_dd"),
        lit("_12_30_45.sql")))
      .when(kind === 2, concat(lit("app_"), date_format(col("o_orderdate"), "yyyyMMdd"),
        lit("_123456.log")))
      .otherwise(concat(lit("report_Q"), quarter(col("o_orderdate")).cast("string"),
        lit("_"), date_format(col("o_orderdate"), "yyyy"), lit(".xlsx")))
    // The all-matches dict is computed ONCE per row and both consumers
    // derive from it: the scalar `extracted` is the same customs-first
    // priority coalesce over the dict's fields (identical values to
    // extractDate(fname, custom) — extractAllDates evaluates the exact
    // same per-pattern candidates). Building extractDate's chains a
    // second time doubled the projection's expression tree, and for
    // this widest-in-the-repo projection the tree size itself (analysis
    // + codegen per invocation) was most of the query's wall time. The
    // two-stage select keeps the dict from being inlined per consumer
    // (CollapseProject refuses to duplicate non-cheap expressions).
    val priority = custom.map(_.name) ++ Seq("iso_datetime_compact",
      "iso_datetime_full", "iso_date", "us_datetime", "us_date",
      "compact_date", "underscore_date", "dot_date", "year_month",
      "unix_timestamp", "date_range")
    o.select(kind.as("kind"), truth.as("truth"),
        DateExtract.extractAllDates(fname, custom).as("all"),
        date_format(DateExtract.extractTimestamp(fname, custom), "HH:mm:ss").as("tod"))
      .select(col("kind"), col("truth"), col("tod"),
        coalesce(priority.map(col("all").getField): _*).as("extracted"),
        col("all").getField("sales_daily").as("m_sales"),
        col("all").getField("backup_file").as("m_backup"),
        col("all").getField("log_file").as("m_log"),
        col("all").getField("report_quarterly").as("m_report"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("extracted") === col("truth"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("m_sales").isNotNull, 1L).otherwise(0L)).as("n_sales_matched"),
        sum(when(col("m_backup").isNotNull, 1L).otherwise(0L)).as("n_backup_matched"),
        sum(when(col("m_log").isNotNull, 1L).otherwise(0L)).as("n_log_matched"),
        sum(when(col("m_report").isNotNull, 1L).otherwise(0L)).as("n_report_matched"),
        sum(when(col("tod") === when(col("kind") === 1, "12:30:45")
            .when(col("kind") === 2, "12:34:56"),
          1L).otherwise(0L)).as("n_time_kept"))
  }

  val dateExtractCustomSql: String =
    """SELECT o_orderkey % 4 AS kind, COUNT(*) AS n, COUNT(*) AS n_correct,
      |  CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sales_matched,
      |  CAST(SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backup_matched,
      |  CAST(SUM(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_log_matched,
      |  CAST(SUM(CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_report_matched,
      |  CAST(SUM(CASE WHEN o_orderkey % 4 IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_time_kept
      |FROM orders GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- A1
  /** Catalog of the staged drop: every file named with its extracted
    * date. Oracle reconstructs the expected drop from events. */
  def fileCatalog(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    FileCatalog.catalog(s, drop).select(col("name"), col("extracted_date"))
  }

  val fileCatalogSql: String =
    """SELECT DISTINCT
      |  'events_' || strftime(ts, '%Y-%m-%d') ||
      |    (CASE WHEN CAST(strftime(ts, '%d') AS INT) % 2 = 0 THEN '.csv.gz' ELSE '.csv' END) AS name,
      |  strftime(ts, '%Y-%m-%d') AS extracted_date
      |FROM events""".stripMargin

  // ----------------------------------------------------------- C5
  /** The reference's --analyze-dates histogram over the drop. */
  def bucketDateHistogram(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    FileCatalog.dateHistogram(s, drop).select(col("extracted_date"), col("n_files"))
  }

  val bucketDateHistogramSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS extracted_date, CAST(1 AS BIGINT) AS n_files
      |FROM events GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- A3
  /** Date-filtered read of one (gzipped) day from the drop. */
  def dateFilterRead(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    val files = FileCatalog.pathsForDate(s, drop, "2024-01-16").map(_._1)
    Readers.csv(s, files)
      .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"),
        lit(files.length.toLong).as("n_files"))
  }

  val dateFilterReadSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
      |  CAST(1 AS BIGINT) AS n_files
      |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-16'""".stripMargin

  // ----------------------------------------------------------- A14
  /** The catalog as a DataSourceV2 TABLE (`graft-catalog`): one row
    * per object over the date-partitioned drop, date column derived
    * in-source from the `day=` directory names. The per-day file
    * count is the oracle-pinned invariant (one file per day by the
    * staging contract). See [[graft.sources.CatalogSource]]. */
  def catalogV2(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsvByDay(s, dir)
    s.read.format("graft-catalog").load(drop)
      .groupBy(col("extracted_date"))
      .agg(count(lit(1)).as("n_files"))
  }

  val catalogV2Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS extracted_date,
      |  CAST(1 AS BIGINT) AS n_files
      |FROM events GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- A14b
  /** Pushdown PROOF for the `graft-catalog` source, asserted from the
    * executed plan's own DSv2 metrics — not a side-channel counter:
    * a `WHERE extracted_date = d` read must (a) prune every other
    * date subtree BEFORE any LIST call (`dirs_pruned` = days − 1,
    * `dirs_listed` = 1), (b) leave NO residual FilterExec in the plan
    * (the source enforces date predicates fully), and (c) still
    * return exactly the day's files. At 100 TB this gate is the
    * difference between one prefix LIST and paging the whole bucket. */
  def catalogV2PushdownGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val drop = EtlStage.stageEventsCsvByDay(s, dir)
    val nDays = s.read.format("graft-catalog").load(drop)
      .select(col("extracted_date")).distinct().count()
    val one = s.read.format("graft-catalog").load(drop)
      .filter(col("extracted_date") === "2024-01-16")
      .select(col("name"), col("extracted_date"))
    // execute THIS queryExecution, then read ITS metrics (a separate
    // .count() would plan and meter a different physical tree)
    val nMatch = one.collect().length.toLong
    // pre-order walk stepping through adaptive wrappers (the
    // PlanAuditSweepSpec idiom)
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val all = nodes(one.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan)
    val noResidualFilter = !all.exists(_.isInstanceOf[FilterExec])
    val scan = all.collectFirst { case b: BatchScanExec => b }
      .getOrElse(throw new IllegalStateException("no BatchScanExec in plan"))
    val pruned = scan.metrics("dirs_pruned").value
    // single-dir check from the PLANNED partitions (driver-side, one
    // CatalogPartition per dir) rather than the dirs_listed task-sum
    // metric: a retried or speculative task attempt re-emits its
    // constant 1 and would double-count, flipping the check false
    // even when pruning worked (r14 advisor note).
    val plannedDirs = scan.inputPartitions.length.toLong
    val emptyOk = nDays == 0 && nMatch == 0
    Seq(("catalog_v2_pushdown", nDays, nMatch,
        emptyOk || pruned == nDays - 1,
        emptyOk || plannedDirs == 1L,
        noResidualFilter))
      .toDF("metric", "n_days", "n_files_match", "pushdown_pruned",
        "single_dir_listed", "no_residual_filter")
  }

  val catalogV2PushdownGateSql: String =
    """SELECT 'catalog_v2_pushdown' AS metric,
      |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
      |  CAST(1 AS BIGINT) AS n_files_match,
      |  TRUE AS pushdown_pruned,
      |  TRUE AS single_dir_listed,
      |  TRUE AS no_residual_filter
      |FROM events""".stripMargin

  // ----------------------------------------------------------- A4
  /** Whole-drop CSV read (mixed .csv/.csv.gz): values must round-trip
    * exactly vs the original parquet. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    Readers.csv(s, Seq(drop))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val csvRoundtripSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT event_type) AS n_types,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events""".stripMargin

  // ----------------------------------------------------------- A4b
  /** CSV row-level quarantine gate: a staged drop with three injected
    * malformed rows (non-numeric id / trailing garbage) must split
    * into exactly the clean slice (count + value sum vs the oracle)
    * and exactly three quarantined raw records — bad ROWS never cost
    * the file, and good rows never leak into quarantine. */
  /** Unique per-invocation scratch dir: a FIXED path re-used across
    * same-JVM invocations races CacheManager's overwrite-triggered
    * recache against side-files written after the Spark write — the
    * recache re-materializes the rep-1 cached read while the dir holds
    * only the fresh part files, so the rep-2 read (same canonical
    * plan) silently reuses a cache missing `bad_rows.csv` (the r13
    * quarantine_replay_gate rep-2 ROW_VALUE_IS_NULL failure). */
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def scratchDir(dir: String, name: String): String =
    s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/" +
      s"$name-p${ProcessHandle.current().pid()}-${scratchSeq.incrementAndGet()}"

  private def dropScratch(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def csvQuarantineGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import s.implicits._
    // try/finally on BOTH resources: an action throwing mid-gate must
    // not leak the per-invocation scratch dir (accumulating /tmp dirs
    // across bench reps) or the cached permissive parse (executor
    // memory held until session end).
    val out = scratchDir(dir, "quarantine")
    try {
      val ev = Tables.events(s, dir).filter(col("event_id") < 500)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.coalesce(1).write.mode("overwrite")
        .options(graft.sources.Readers.csvOptions).csv(out)
      val bad = java.nio.file.Paths.get(out, "bad_rows.csv")
      java.nio.file.Files.write(bad, java.util.Arrays.asList(
        "event_id,event_type,value",
        "not_a_number,click,1.0",
        "12.5,signup,oops",
        "xyz,purchase,"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val (good, quarantined, parsed) =
        graft.sources.Readers.csvWithQuarantineCached(s, Seq(out), schema)
      try {
        val g = good.agg(count(lit(1)).as("n"),
          graft.operators.Relational.dsum(col("value")).as("sum_value")).head()
        val nq = quarantined.count()
        Seq(("csv_quarantine", g.getLong(0), g.getDouble(1), nq))
          .toDF("metric", "n_good", "sum_value", "n_quarantined")
      } finally parsed.unpersist()
    } finally dropScratch(s, out)
  }

  val csvQuarantineGateSql: String =
    """SELECT 'csv_quarantine' AS metric, COUNT(*) AS n_good,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
      |  CAST(3 AS BIGINT) AS n_quarantined
      |FROM events WHERE event_id < 500""".stripMargin

  // ----------------------------------------------------------- C39
  /** Dead-letter repair & replay (the second half of A4b's quarantine
    * contract — quarantined rows are not a graveyard, they are a work
    * queue): rows that failed the strict parse are pushed through a
    * repair rule (here: a feed that switched its delimiter to `|`),
    * re-parsed with `from_csv` against the SAME schema, and the
    * recovered rows are accounted alongside the clean read. Rows the
    * repair cannot save stay quarantined — nothing is dropped
    * silently, nothing is double-counted.
    *
    * Scale shape: the repair is a per-row projection (regexp +
    * from_csv, both codegen'd) over the quarantine frame only — the
    * clean path is never rescanned; accounting is one aggregate per
    * frame over the already-cached permissive parse. */
  def quarantineReplayGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import s.implicits._
    val out = scratchDir(dir, "replay")
    try {
      val ev = Tables.events(s, dir).filter(col("event_id") < 500)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.coalesce(1).write.mode("overwrite")
        .options(graft.sources.Readers.csvOptions).csv(out)
      val bad = java.nio.file.Paths.get(out, "bad_rows.csv")
      java.nio.file.Files.write(bad, java.util.Arrays.asList(
        "event_id,event_type,value",
        "777|view|3.25",      // delimiter drift — repairable
        "888|click|1.5",      // delimiter drift — repairable
        "zzz,purchase,bad"))  // genuinely unparseable — stays dead
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val (good, quarantined, parsed) =
        graft.sources.Readers.csvWithQuarantineCached(s, Seq(out), schema)
      try {
        val repaired = quarantined
          .withColumn("p", from_csv(
            regexp_replace(col("_corrupt_record"), "\\|", ","),
            schema, Map.empty[String, String]))
          .filter(col("p.event_id").isNotNull && col("p.value").isNotNull)
          .select(col("p.event_id").as("event_id"),
            col("p.event_type").as("event_type"), col("p.value").as("value"))
        val g = good.count()
        val r = repaired.agg(count(lit(1)).as("n"),
          coalesce(graft.operators.Relational.dsum(col("value")), lit(0.0)).as("v"))
          .head()
        val nq = quarantined.count()
        Seq(("quarantine_replay", g, nq, r.getLong(0),
          g + r.getLong(0), r.getDouble(1)))
          .toDF("metric", "n_good", "n_quarantined", "n_repaired",
            "n_after_replay", "repaired_value_sum")
      } finally parsed.unpersist()
    } finally dropScratch(s, out)
  }

  val quarantineReplayGateSql: String =
    """SELECT 'quarantine_replay' AS metric, COUNT(*) AS n_good,
      |  CAST(3 AS BIGINT) AS n_quarantined,
      |  CAST(2 AS BIGINT) AS n_repaired,
      |  CAST(COUNT(*) + 2 AS BIGINT) AS n_after_replay,
      |  CAST(4.75 AS DOUBLE) AS repaired_value_sum
      |FROM events WHERE event_id < 500""".stripMargin

  // ----------------------------------------------------------- A5c
  /** Schema-evolved parquet read gate: two generations of the same
    * table (columns added over time) merged by footer-schema union —
    * old files come back null-padded in the new column and vice versa,
    * with nothing dropped. Counts and null accounting are exact. */
  def schemaEvolvedGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/evolve"
    val cust = Tables.customer(s, dir)
    cust.select(col("c_custkey"), col("c_name"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    cust.select(col("c_custkey"), col("c_acctbal"))
      .write.mode("overwrite").parquet(s"$base/gen2")
    val merged = graft.sources.Readers.parquetMergedSchema(
      s, s"$base/gen1", s"$base/gen2")
    merged.agg(count(lit(1)).as("n_rows"),
      sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("n_name_null"),
      sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("n_acct_null"),
      countDistinct(col("c_custkey")).as("n_keys"))
      .select(lit("schema_evolved").as("metric"), col("n_rows"),
        col("n_name_null"), col("n_acct_null"), col("n_keys"))
  }

  val schemaEvolvedGateSql: String =
    """SELECT 'schema_evolved' AS metric,
      |  CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_name_null,
      |  CAST(COUNT(*) AS BIGINT) AS n_acct_null,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys
      |FROM customer""".stripMargin

  // ----------------------------------------------------------- A6
  /** JSON payload parsing: events.props is a JSON object; parse with
    * an explicit schema (`from_json` — codegen, no UDF) and aggregate
    * the typed field. */
  def jsonPropsParse(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", expr("from_json(props, 'k BIGINT').k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  val jsonPropsParseSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  // ----------------------------------------------------------- B3/B8
  /** Per-source-file row accounting over the whole drop. */
  def sourceFileCounts(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    Enrich.sourceFileCounts(Readers.withSourceFile(Readers.csv(s, Seq(drop))))
  }

  val sourceFileCountsSql: String =
    """SELECT 'events_' || strftime(ts, '%Y-%m-%d') ||
      |    (CASE WHEN CAST(strftime(ts, '%d') AS INT) % 2 = 0 THEN '.csv.gz' ELSE '.csv' END) AS source_file,
      |  COUNT(*) AS n_rows
      |FROM events GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- B1
  /** Mangle documents' column names the way the reference's inputs
    * arrive (braces + stray spaces), clean, and query through the
    * cleaned names. */
  def cleanColumns(s: SparkSession, dir: String): DataFrame = {
    val mangled = Tables.documents(s, dir)
      .toDF("{doc_id }", "{text}", " lang ", "{source}", "n_chars ")
    Cleaning.cleanColumnNames(mangled)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
  }

  val cleanColumnsSql: String =
    "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY 1"

  // ----------------------------------------------------------- B2
  /** Union-by-name of frames with disjoint columns (the reference's
    * pd.concat(sort=False) semantics). */
  def unionMerge(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
    val b = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
    Cleaning.unionMerge(Seq(a, b))
      .agg(count(lit(1)).as("n"),
        count(col("o_totalprice")).as("n_price"),
        count(col("o_orderpriority")).as("n_prio"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  val unionMergeSql: String =
    """SELECT COUNT(*) AS n, COUNT(o_totalprice) AS n_price,
      |  COUNT(o_orderpriority) AS n_prio,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
      |FROM (SELECT o_orderkey, o_totalprice FROM orders
      |      UNION ALL BY NAME
      |      SELECT o_orderkey, o_orderpriority FROM orders)""".stripMargin

  // ----------------------------------------------------------- B4
  /** Unix-seconds → timestamp coercion, verified through an hour
    * histogram. */
  def tsCoerce(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("unix_s", col("ts").cast("long")).drop("ts")
    Enrich.coerceUnixTimestamps(ev, Seq("unix_s", "not_a_column"), "s")
      .groupBy(date_format(date_trunc("hour", col("unix_s_datetime")),
        "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(count(lit(1)).as("n"))
  }

  val tsCoerceSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- B5
  /** Metadata enrichment with a pinned processing time. */
  def enrichMeta(s: SparkSession, dir: String): DataFrame =
    Enrich.addMetadata(Tables.documents(s, dir), "2024-02-01", 3L, fixedProcessedAt)
      .groupBy(
        date_format(col("source_date"), "yyyy-MM-dd").as("source_date"),
        col("files_merged_count"),
        date_format(col("processed_date"), "yyyy-MM-dd HH:mm:ss").as("processed_at"))
      .agg(count(lit(1)).as("n"))

  val enrichMetaSql: String =
    """SELECT '2024-02-01' AS source_date, CAST(3 AS BIGINT) AS files_merged_count,
      |  '2026-01-01 00:00:00' AS processed_at, COUNT(*) AS n
      |FROM documents""".stripMargin

  // ----------------------------------------------------------- B6
  /** Add an all-null and a half-null column; only the all-null one
    * must be dropped. Output is the surviving schema. */
  def dropEmptyCols(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = Tables.documents(s, dir)
      .withColumn("ghost", lit(null).cast("string"))
      .withColumn("half", when(col("doc_id") % 2 === 0, col("doc_id")))
    Cleaning.dropEmptyColumns(df).columns.toSeq.toDF("col_name")
  }

  val dropEmptyColsSql: String =
    """SELECT * FROM (VALUES ('doc_id'), ('text'), ('lang'), ('source'),
      |  ('n_chars'), ('half')) t(col_name)""".stripMargin

  // ----------------------------------------------------------- B7
  /** Triple the fact table, dedup back to distinct rows. */
  def dedupRows(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    Cleaning.dedupRows(l.union(l).union(l)).agg(count(lit(1)).as("n"))
  }

  val dedupRowsSql: String =
    "SELECT COUNT(*) AS n FROM (SELECT DISTINCT * FROM lineitem)"

  // ----------------------------------------------------------- C4
  /** Full day pipeline on the staged drop, aggregated per event type. */
  def etlDayPipeline(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    val (day, _) = EtlPipeline.dayFrame(s, drop, "2024-01-15", fixedProcessedAt).get
    day.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"),
        max(date_format(col("ts_us_datetime"), "yyyy-MM-dd")).as("max_day"))
  }

  val etlDayPipelineSql: String =
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
      |  '2024-01-15' AS max_day
      |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
      |GROUP BY event_type""".stripMargin

  // ----------------------------------------------------------- A5b
  /** ORC round-trip: same contract as csv_roundtrip through the ORC
    * source/sink (columnar, predicate-pushdown capable). */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/events_orc"
    Tables.events(s, dir).write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter(col("event_type") =!= "error")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val orcRoundtripSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events WHERE event_type <> 'error'""".stripMargin

  // ----------------------------------------------------------- A11
  /** Avro round-trip: the row-oriented interchange format of
    * Kafka/streaming estates, through the spark-avro source/sink
    * bundled with Spark 4. The read passes the READER SCHEMA
    * EXPLICITLY (`avroSchema` option, derived once via
    * [[org.apache.spark.sql.avro.SchemaConverters]]): at 100 TB the
    * reader/writer schema agreement is a contract checked per file
    * open, never a discovery pass, and a writer-side drift surfaces
    * as a loud incompatibility instead of a silently widened column.
    * The oracle recomputes the aggregate from the parquet source, so
    * any loss in the Avro round-trip (timestamp precision, union
    * handling, row drops) fails the compare. */
  /** The spark-avro file source rides the full provider class name:
    * this distribution bundles the avro classes inside spark-sql but
    * without the `META-INF/services` DataSourceRegister entry, so the
    * `"avro"` short name does not resolve while the class itself
    * loads fine. */
  private val AvroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/events_avro"
    val src = Tables.events(s, dir)
    src.write.mode("overwrite").format(AvroProvider).save(out)
    // default record name/namespace — MUST match what the writer
    // emitted ("topLevelRecord"): Avro schema resolution is by name
    val readerSchema = org.apache.spark.sql.avro.SchemaConverters
      .toAvroType(src.schema, nullable = false).toString
    s.read.format(AvroProvider).option("avroSchema", readerSchema).load(out)
      .filter(col("event_type") =!= "error")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        max(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("max_ts"))
  }

  val avroRoundtripSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
      |FROM events WHERE event_type <> 'error'""".stripMargin

  // ----------------------------------------------------------- A8
  /** Line-oriented text round-trip: the rawest corpus interchange
    * format (one document per line — documents carry no newlines).
    * Write through the text sink, read back with `spark.read.text`,
    * and aggregate; the oracle recomputes from the parquet source, so
    * a source that splits/merges/mangles lines fails the compare. */
  def textRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/docs_text"
    Tables.documents(s, dir).select(col("text")).write.mode("overwrite").text(out)
    s.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("value"))).cast("long").as("sum_chars"),
        sum(size(split(col("value"), " "))).cast("long").as("sum_tokens"))
  }

  val textRoundtripSql: String =
    """SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM documents""".stripMargin

  // ----------------------------------------------------------- A12
  /** Fixed-width text round-trip (the mainframe/legacy-feed format a
    * warehouse ETL still meets: no delimiters, fields live at byte
    * offsets): events serialize to 42-char records (event_id lpad 10 |
    * user_id lpad 8 | event_type rpad 12 | value as DECIMAL(12,2)
    * lpad 12) through the text sink, read back with `spark.read.text`
    * + substring slicing at the SAME offsets, and aggregate. Both the
    * writer and the parser are pure codegen projections; the oracle
    * recomputes from the parquet source, so an off-by-one slice, a
    * pad/trim asymmetry, or a decimal-formatting drift all fail the
    * compare. */
  def fixedWidthRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/events_fw"
    Tables.events(s, dir)
      .select(concat(
        lpad(col("event_id").cast("string"), 10, " "),
        lpad(col("user_id").cast("string"), 8, " "),
        rpad(col("event_type"), 12, " "),
        lpad(col("value").cast("decimal(12,2)").cast("string"), 12, " ")).as("value"))
      .write.mode("overwrite").text(out)
    val parsed = s.read.text(out).select(
      trim(substring(col("value"), 1, 10)).cast("long").as("event_id"),
      trim(substring(col("value"), 11, 8)).cast("long").as("user_id"),
      trim(substring(col("value"), 19, 12)).as("event_type"),
      trim(substring(col("value"), 31, 12)).cast("decimal(12,2)").as("v"))
    parsed.agg(count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("n_users"),
      sum(col("event_id")).as("sum_ids"),
      sum(col("v")).cast("double").as("sum_value"),
      max(length(col("event_type")) <= 12).as("types_fit"))
  }

  val fixedWidthRoundtripSql: String =
    """SELECT COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_ids,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      |  TRUE AS types_fit
      |FROM events""".stripMargin

  // ----------------------------------------------------------- A13
  /** Hardened CSV round-trip: embedded NEWLINES, QUOTES, and COMMAS
    * inside quoted fields (the RFC-4180 corners that break naive
    * line-split readers — and the reason `multiLine` exists: a
    * multiline CSV file is NOT splittable by line, each file parses as
    * a unit). Every 5th document's spaces become newlines and a
    * `a,"<lang>"b` field plants quote+comma; write and read use
    * symmetric quote-escape ("" doubling), and the aggregate is
    * oracle-recomputed from the parquet SOURCE — so a reader that
    * splits on raw newlines, drops embedded quotes, or mis-widths the
    * replacement fails the compare (the space→newline swap is
    * length-preserving by construction). */
  def csvMultilineRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/docs_csv_ml"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, regexp_replace(col("text"), " ", "\n"))
          .otherwise(col("text")).as("text"),
        concat(lit("a,\""), col("lang"), lit("\"b")).as("tricky"))
      .write.mode("overwrite")
      .option("quote", "\"").option("escape", "\"").csv(out)
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType).add("tricky", StringType)
    s.read.schema(schema)
      .option("multiLine", "true").option("quote", "\"").option("escape", "\"")
      .csv(out)
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(when(col("text").contains("\n"), 1L).otherwise(0L)).as("n_multiline"),
        sum(length(col("tricky"))).cast("long").as("sum_tricky"))
  }

  val csvMultilineRoundtripSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(CASE WHEN doc_id % 5 = 0 AND contains(text, ' ')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline,
      |  CAST(SUM(length(lang) + 5) AS BIGINT) AS sum_tricky
      |FROM documents""".stripMargin

  // ----------------------------------------------------------- A6b
  /** JSON-lines FILE round-trip (distinct from A6's JSON-column
    * parsing): write documents metadata as json-lines, read back with
    * an EXPLICIT schema — at 100 TB schema inference is a full extra
    * pass over the data, so production json reads must pin the schema
    * — and aggregate. Timestamps round-trip as ISO strings. */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/docs_json"
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").json(out)
    val schema = new StructType()
      .add("doc_id", LongType).add("lang", StringType).add("n_chars", LongType)
    s.read.schema(schema).json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  val jsonRoundtripSql: String =
    """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents GROUP BY lang""".stripMargin

  // ----------------------------------------------------------- A7/C1
  /** End-to-end JDBC: write documents metadata through the batched
    * JDBC sink into an embedded Derby database, read it back through
    * the partitioned JDBC source (4 range partitions on doc_id), and
    * aggregate. Exercises the real reader/writer codepaths the
    * PostgreSQL deployment uses — only the JDBC URL differs. */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    val cfg = graft.sinks.Sinks.JdbcConfig(url, "docs_meta", "app", "app",
      numPartitions = 2, batchSize = 1000)
    graft.sinks.Sinks.writeJdbc(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      cfg, overwrite = true)
    Readers.jdbc(s, url, "docs_meta", "app", "app",
        partitionColumn = Some(("doc_id", 0L, 1000L, 4)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
  }

  val jdbcRoundtripSql: String =
    "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY 1"

  // ----------------------------------------------------------- C2
  /** Partitioned parquet sink round-trip: write documents partitioned
    * by lang, read back one partition — the filter must prune to a
    * single partition directory, never scanning the rest. */
  def partitionedSink(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/docs_by_lang"
    graft.sinks.Sinks.writeParquet(Tables.documents(s, dir), out,
      partitionBy = Seq("lang"))
    s.read.parquet(out)
      .filter(col("lang") === "en")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
  }

  val partitionedSinkSql: String =
    """SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents WHERE lang = 'en'""".stripMargin

  // ----------------------------------------------------------- C19
  /** Write-audit-publish round-trip (see
    * [[graft.sinks.Sinks.writeAuditPublish]]): stage events, audit the
    * staged files, publish atomically, and emit the manifest read back
    * from the PUBLISHED location — row count and engine-portable
    * checksum are oracle-pinned, so a publish that dropped or mangled
    * rows fails the hash compare. */
  def publishManifest(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    graft.sinks.Sinks.writeAuditPublish(Tables.events(s, dir),
      stagingPath = s"$base/events_staging",
      publishPath = s"$base/events_published",
      keyCol = "event_id")
  }

  val publishManifestSql: String =
    """SELECT COUNT(*) AS row_count,
      |  CAST(SUM((event_id % 1000003) * 2654435761 % 1000000007) AS BIGINT)
      |    AS checksum,
      |  TRUE AS published
      |FROM events""".stripMargin

  // ----------------------------------------------------------- C3
  /** Day-range run: one audit row per day, reference schema. */
  def processingLog(s: SparkSession, dir: String): DataFrame = {
    val drop = EtlStage.stageEventsCsv(s, dir)
    val entries = Seq("2024-01-10", "2024-01-11", "2024-01-12").flatMap(d =>
      EtlPipeline.processDay(s, drop, d,
        sink = _.write.format("noop").mode("overwrite").save(),
        processedAt = Some(fixedProcessedAt)))
    graft.sinks.ProcessingLog.toDf(s, entries)
      .select(
        date_format(col("date_of_data"), "yyyy-MM-dd").as("date_of_data"),
        col("files_processed"), col("files_merged"), col("table_name"),
        col("total_row_count"), col("column_count"))
  }

  val processingLogSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS date_of_data,
      |  CAST(1 AS BIGINT) AS files_processed, CAST(1 AS BIGINT) AS files_merged,
      |  'table_name' AS table_name, COUNT(*) AS total_row_count,
      |  CAST(11 AS BIGINT) AS column_count
      |FROM events WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-10','2024-01-11','2024-01-12')
      |GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- C10
  /** Load-time data-quality gate over orders: null / range / domain /
    * key-uniqueness expectations in one aggregation pass. */
  def qualityChecks(s: SparkSession, dir: String): DataFrame =
    DataQuality.report(graft.Tables.orders(s, dir),
      Seq(
        DataQuality.expectNonNull("o_orderdate"),
        DataQuality.expectBetween("o_totalprice", 0.0, 1000000.0),
        DataQuality.expectIn("o_orderstatus", Seq("F", "O", "P"))),
      uniqueKey = Some("o_orderkey"))

  val qualityChecksSql: String =
    """WITH w AS (SELECT
      |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS non_null_o_orderdate,
      |  CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS range_o_totalprice,
      |  CAST(SUM(CASE WHEN NOT o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS domain_o_orderstatus,
      |  CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS unique_o_orderkey
      |  FROM orders)
      |SELECT 'non_null_o_orderdate' AS rule, non_null_o_orderdate AS n_violations FROM w
      |UNION ALL SELECT 'range_o_totalprice', range_o_totalprice FROM w
      |UNION ALL SELECT 'domain_o_orderstatus', domain_o_orderstatus FROM w
      |UNION ALL SELECT 'unique_o_orderkey', unique_o_orderkey FROM w""".stripMargin

  // ----------------------------------------------------------- C20
  /** Incremental ingest ledger: which drop files has the warehouse
    * NOT loaded yet? The catalog side is the distributed listing
    * (A1); the ledger side is the audit table the reference appends
    * per run (`data_processing_log.date_of_data`,
    * etl_pipeline.py:519-530) — here the first 15 days stand in for
    * it. The new-work set is a broadcast ANTI join of the catalog
    * against the loaded-day ledger: the 100M-file catalog never
    * shuffles (the ledger is days-sized), and re-running after a
    * partial load is idempotent by construction — exactly the
    * "process only what's new" restart discipline the reference's
    * day-range loop approximates by hand. */
  def incrementalLedger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val drop = EtlStage.stageEventsCsv(s, dir)
    val ledger = (1 to 15).map(d => f"2024-01-$d%02d").toDF("loaded_date")
    FileCatalog.catalog(s, drop)
      .join(broadcast(ledger),
        col("extracted_date") === col("loaded_date"), "left_anti")
      .groupBy(col("extracted_date").as("day"))
      .agg(count(lit(1)).as("n_new_files"))
  }

  val incrementalLedgerSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(1 AS BIGINT) AS n_new_files
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') > '2024-01-15'
      |GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- A15
  /** Transactional DSv2 sink gate (`graft-atomic`,
    * [[graft.sources.AtomicSink]]): the write-side commit contract the
    * reference's chunked INSERT loop lacks (etl_pipeline.py:485-517 —
    * a crash mid-load leaves a half-loaded table). Pins, end to end
    * against live writes through `df.write.format("graft-atomic")`:
    *
    *  1. COMMIT — two appends land the full documents projection;
    *     manifest-only readback equals the source row-for-row
    *     (symmetric anti-join count 0), and the second append FOLDS
    *     the first's manifest rather than clobbering it.
    *  2. ATOMIC ABORT — an overwrite that throws mid-task (planted
    *     `raise_error` on the max doc_id) must leave the PREVIOUS
    *     committed state bit-identical: same rows visible, manifest
    *     untouched. All-or-nothing, not half-truncated — the exact
    *     failure the reference cannot survive.
    *  3. NO RESIDUE — after the abort and a zero-retention vacuum
    *     (commit itself deletes NOTHING — versioned readers keep their
    *     snapshot), the physical directory holds exactly the latest
    *     manifest's files + that manifest: the failed attempt's task
    *     files were swept by the writer/driver abort hooks (and had
    *     they leaked, manifest-only visibility still hides them —
    *     vacuum is the single reclamation point).
    */
  def atomicSinkGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = scratchDir(dir, "atomic")
    try {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("graft-atomic").mode("append").save(out)
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.format("graft-atomic").mode("append").save(out)
      val back = graft.sources.AtomicSink.readCommitted(s, out)
      // one-job symmetric diff (r20, [[graft.DfCompare]]): each side is
      // scanned once instead of twice per except direction
      val rowDiff = graft.DfCompare.symmetricExceptCount(back, docs)
      val agg = back.agg(count(lit(1)).as("n"),
        dsum(col("n_chars").cast("double")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources")).head()
      // planted mid-write failure: overwrite would truncate on commit,
      // so the job MUST die before the manifest is touched
      val failId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val aborted =
        try {
          docs.select(col("doc_id"), col("source"),
            when(col("doc_id") === failId,
              raise_error(lit("planted mid-write failure")))
              .otherwise(col("n_chars")).cast("long").as("n_chars"))
            .write.format("graft-atomic").mode("overwrite").save(out)
          false
        } catch { case _: Exception => true }
      val after = graft.sources.AtomicSink.readCommitted(s, out)
      val unchanged = aborted &&
        graft.DfCompare.symmetricExceptCount(after, docs) == 0L
      // after a zero-retention vacuum (test-scoped: no concurrent
      // writers here), the physical listing == the LATEST manifest's
      // files + that manifest itself, nothing else — aborted residue
      // and superseded manifest versions all reclaimed
      graft.sources.AtomicSink.vacuum(s, out, retentionMs = 0L)
      val rootPath = new org.apache.hadoop.fs.Path(out)
      val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val m = graft.sources.AtomicSink.latestManifest(fs, rootPath).get
      val listed = m.entries.map(_._1).toSet
      val physical = fs.listStatus(rootPath).map(_.getPath.getName).toSet
      val noStray = physical == listed +
        graft.sources.AtomicSink.manifestPath(rootPath, m.version).getName
      Seq(("atomic_sink", agg.getLong(0), agg.getDouble(1), agg.getLong(2),
          rowDiff, unchanged, noStray))
        .toDF("metric", "n_rows", "sum_chars", "n_sources", "row_diff",
          "atomic_after_abort", "no_stray_files")
    } finally dropScratch(s, out)
  }

  // ----------------------------------------------------------- A18
  /** First-class DSv2 READ for `graft-atomic`
    * ([[graft.sources.AtomicScan]]): the manifest is not just a commit
    * record, it is the table's entire scan plan — one InputPartition
    * per committed file, column pruning pushed into the CSV decoder,
    * and EXACT row statistics reported straight from the manifest's
    * audit counts (no listing, no sampling — at 100 TB the difference
    * between "broadcast this side" decided from truth vs from a
    * file-size guess). Pins:
    *
    *  1. `spark.read.format("graft-atomic")` == `readCommitted`
    *     row-for-row (symmetric exceptAll count 0) on a live written
    *     table;
    *  2. a 2-of-3-column projection reaches the scan: the optimized
    *     plan's DSv2 relation readSchema is exactly the projected
    *     columns (the A14b pushdown discipline);
    *  3. the relation's advertised rowCount equals the true count —
    *     the manifest-stats path Catalyst's join planning consumes. */
  def atomicReadGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val out = scratchDir(dir, "atomic_read")
    try {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.write.format("graft-atomic").mode("append").save(out)
      val scan = s.read.format("graft-atomic").load(out)
      val helper = graft.sources.AtomicSink.readCommitted(s, out)
      // one-job symmetric diff (r20, [[graft.DfCompare]])
      val rowDiff = graft.DfCompare.symmetricDiffAllCount(scan, helper)
      val pruned = scan.select(col("doc_id"), col("n_chars"))
      val rel = pruned.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r
      }.head
      val pruneOk =
        rel.scan.readSchema().fieldNames.toSeq == Seq("doc_id", "n_chars")
      val nTrue = docs.count()
      val statsOk = rel.computeStats().rowCount.contains(BigInt(nTrue))
      val agg = scan.agg(count(lit(1)).as("n"),
        dsum(col("n_chars").cast("double")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources")).head()
      Seq(("atomic_read", agg.getLong(0), agg.getDouble(1), agg.getLong(2),
          rowDiff, pruneOk, statsOk))
        .toDF("metric", "n_rows", "sum_chars", "n_sources", "row_diff",
          "scan_pruned", "stats_exact")
    } finally dropScratch(s, out)
  }

  val atomicReadGateSql: String =
    """SELECT 'atomic_read' AS metric, COUNT(*) AS n_rows,
      |  CAST(ROUND(SUM(CAST(n_chars AS DECIMAL(18,6))), 2) AS DOUBLE)
      |    AS sum_chars,
      |  COUNT(DISTINCT source) AS n_sources, CAST(0 AS BIGINT) AS row_diff,
      |  TRUE AS scan_pruned, TRUE AS stats_exact
      |FROM documents""".stripMargin

  // ----------------------------------------------------------- A19
  /** Manifest-stats FILE SKIPPING for the `graft-atomic` read (r19):
    * the commit path already records per-file audit counts; now it
    * also records per-file column min/max, and the DSv2 scan enforces
    * pushed comparisons against them
    * ([[graft.sources.AtomicStatsSkip]]) — a predicated read opens
    * only the files whose interval can satisfy it, decided from
    * manifest metadata alone (the parquet row-group-stats move at
    * manifest grain; at 100 TB the filter chooses the file SET with
    * zero data I/O). The table is written range-partitioned on the
    * filter column so files carry disjoint key intervals, then a
    * bottom-decile predicate must (a) plan a STRICT SUBSET of the
    * committed files (from the executed scan's own inputPartitions,
    * the A14b/r14 idiom), (b) return rows oracle-exact, and (c) agree
    * row-for-row with the unpruned readCommitted scan — skipping must
    * be pure pruning, never a semantics change. */
  def atomicReadPruneGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val out = scratchDir(dir, "atomic_prune")
    try {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_partkey"), col("l_quantity").cast("double").as("l_quantity"))
      li.repartitionByRange(4, col("l_orderkey"))
        .write.format("graft-atomic").mode("append").save(out)
      val mm = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
      val emptyIn = mm.isNullAt(0)
      val thresh =
        if (emptyIn) 0L else mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 10L
      val filtered = s.read.format("graft-atomic").load(out)
        .filter(col("l_orderkey") <= thresh)
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      // execute THIS queryExecution, then read ITS planned partitions (a
      // separate action would plan and meter a different physical tree)
      val row = filtered.head()
      def nodes(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        p +: kids.flatMap(nodes)
      }
      val planned = nodes(filtered.queryExecution.executedPlan)
        .collectFirst { case b: BatchScanExec => b }
        .map(_.inputPartitions.length.toLong)
        .getOrElse(-1L)
      val rootPath = new org.apache.hadoop.fs.Path(out)
      val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val total = graft.sources.AtomicSink.latestManifest(fs, rootPath)
        .map(_.entries.length.toLong).getOrElse(0L)
      val strictSubset = emptyIn || (planned >= 1L && planned < total)
      // pruning must be invisible to semantics: the unpruned helper
      // read filtered row-level agrees exactly
      val unpruned = graft.sources.AtomicSink.readCommitted(s, out)
        .filter(col("l_orderkey") <= thresh).count()
      Seq(("atomic_read_prune", row.getLong(0), row.getDouble(1), total,
          strictSubset, row.getLong(0) == unpruned))
        .toDF("metric", "n_rows", "sum_qty", "files_total",
          "pruned_strict_subset", "no_false_drop")
    } finally dropScratch(s, out)
  }

  val atomicReadPruneGateSql: String =
    """WITH t AS (SELECT MIN(l_orderkey) +
      |    (MAX(l_orderkey) - MIN(l_orderkey)) // 10 AS th FROM lineitem)
      |SELECT 'atomic_read_prune' AS metric,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
      |    AS sum_qty,
      |  CAST(4 AS BIGINT) AS files_total,
      |  TRUE AS pruned_strict_subset, TRUE AS no_false_drop
      |FROM lineitem, t WHERE l_orderkey <= t.th""".stripMargin

  // ----------------------------------------------------------- A16
  /** Runtime-filtering (DPP) proof for the `graft-catalog` source:
    * the one-day pruning of A14b, but with the day decided AT RUNTIME
    * by a JOIN instead of a literal predicate. The catalog side
    * carries NO static date filter — statically every date subtree
    * survives pushdown — yet joining it to a selectively-filtered,
    * broadcastable dimension on `extracted_date` must hand the
    * surviving key set to the scan via [[org.apache.spark.sql
    * .connector.read.SupportsRuntimeFiltering]] BEFORE tasks launch:
    * dynamic partition pruning applied to the LISTING itself. At
    * 100 TB this is "which days do I even LIST?" answered by a dim
    * table, not a constant — the gate asserts from the executed plan
    * that (a) a runtime filter was attached to the DSv2 scan and
    * (b) exactly ONE date subtree was listed (`dirs_listed` = 1)
    * out of `n_days` statically-eligible ones. */
  def catalogV2DppGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val drop = EtlStage.stageEventsCsvByDay(s, dir)
    val dimDir = scratchDir(dir, "dpp_dim")
    try {
      val catalog = s.read.format("graft-catalog").load(drop)
      val nDays = catalog.select(col("extracted_date")).distinct().count()
      // dim: one row per drop date, parquet-backed so the filter below
      // is a real selective predicate over a scan (what the DPP rule
      // looks for on the filtering side)
      catalog.select(col("extracted_date").as("loaded_date")).distinct()
        .coalesce(1).write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir)
        .filter(col("loaded_date") === "2024-01-16")
      val joined = catalog
        .join(dim, col("extracted_date") === col("loaded_date"))
        .select(col("name"), col("extracted_date"))
      val nMatch = joined.collect().length.toLong
      def nodes(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        p +: kids.flatMap(nodes)
      }
      val all = nodes(joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan)
      val scan = all.collect { case b: BatchScanExec
          if b.scan.isInstanceOf[graft.sources.CatalogScan] => b }
        .headOption
        .getOrElse(throw new IllegalStateException("no graft-catalog scan in plan"))
      val runtimePlanned = scan.runtimeFilters.nonEmpty
      val dirsListed = scan.metrics("dirs_listed").value
      Seq(("catalog_v2_dpp", nDays, nMatch, runtimePlanned,
          dirsListed == 1L && nDays > 1L))
        .toDF("metric", "n_days", "n_files_match", "runtime_filter_planned",
          "single_dir_listed")
    } finally dropScratch(s, dimDir)
  }

  val catalogV2DppGateSql: String =
    """SELECT 'catalog_v2_dpp' AS metric,
      |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
      |  CAST(1 AS BIGINT) AS n_files_match,
      |  TRUE AS runtime_filter_planned,
      |  TRUE AS single_dir_listed
      |FROM events""".stripMargin

  // ----------------------------------------------------------- A17
  /** Aggregate-pushdown proof for the `graft-catalog` source
    * (SupportsPushDownAggregates): `GROUP BY extracted_date` with
    * COUNT/MIN/MAX is answered from the LISTING metadata — each
    * partition's reader folds its directory into ONE partial row per
    * group, so per-file rows never exist and Spark's final Aggregate
    * merges day-sized partials. The gate runs the same aggregation
    * twice against the same source: once pushable (count + max), once
    * deliberately UNPUSHABLE (a sum, which the source rejects, so the
    * whole aggregation falls back to per-file rows + Spark-side agg) —
    * results must agree, the pushed plan's scan must be the agg scan
    * with `files_emitted` = one row per date dir, and the fallback
    * scan must have emitted every file. */
  def catalogV2AggPushdownGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val drop = EtlStage.stageEventsCsvByDay(s, dir)
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    def scanOf(df: DataFrame): BatchScanExec =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b }.head
    val pushed = s.read.format("graft-catalog").load(drop)
      .groupBy(col("extracted_date"))
      .agg(count(lit(1)).as("n_files"), max(col("size")).as("max_size"))
    val pushedRows = pushed.collect()
    val pushedScan = scanOf(pushed)
    val isAggScan = pushedScan.scan.isInstanceOf[graft.sources.CatalogAggScan]
    val pushedEmitted = pushedScan.metrics("files_emitted").value
    // sum(size) is outside the pushable set -> per-file fallback
    val fallback = s.read.format("graft-catalog").load(drop)
      .groupBy(col("extracted_date"))
      .agg(count(lit(1)).as("n_files"), max(col("size")).as("max_size"),
        sum(col("size")).as("sum_size"))
    val fallbackRows = fallback.collect()
    val fallbackScan = scanOf(fallback)
    val fallbackIsPlain = fallbackScan.scan.isInstanceOf[graft.sources.CatalogScan]
    val fallbackEmitted = fallbackScan.metrics("files_emitted").value
    val nDays = pushedRows.length.toLong
    val nFiles = pushedRows.map(_.getLong(1)).sum
    val agree = pushedRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq ==
      fallbackRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    Seq(("catalog_v2_agg_pushdown", nDays, nFiles,
        isAggScan && pushedEmitted == nDays,
        fallbackIsPlain && fallbackEmitted == nFiles,
        agree))
      .toDF("metric", "n_days", "n_files", "pushed_one_row_per_day",
        "fallback_per_file", "results_agree")
  }

  val catalogV2AggPushdownGateSql: String =
    """SELECT 'catalog_v2_agg_pushdown' AS metric,
      |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
      |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_files,
      |  TRUE AS pushed_one_row_per_day,
      |  TRUE AS fallback_per_file,
      |  TRUE AS results_agree
      |FROM events""".stripMargin

  val atomicSinkGateSql: String =
    """SELECT 'atomic_sink' AS metric, COUNT(*) AS n_rows,
      |  CAST(ROUND(SUM(CAST(n_chars AS DECIMAL(18,6))), 2) AS DOUBLE)
      |    AS sum_chars,
      |  COUNT(DISTINCT source) AS n_sources, CAST(0 AS BIGINT) AS row_diff,
      |  TRUE AS atomic_after_abort, TRUE AS no_stray_files
      |FROM documents""".stripMargin
}
