package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Cleaning, Enrich}
import graft.sinks.ProcessingLog
import graft.sources.{FileCatalog, Readers}

/** The reference's per-day ETL as one composable plan
  * (SURVEY.md §2 C4; reference: etl_pipeline.py:252-545
  * `process_single_day`):
  *
  *   catalog → date filter → CSV read → clean names → source_file tag
  *   → unix-ts coercion → metadata → drop empty cols → dedup
  *   → (sink + audit entry)
  *
  * Everything up to the sink is a single lazy logical plan: Catalyst
  * sees the whole chain, so column pruning flows back into the CSV
  * scan and the dedup shuffle is the only wide stage. The reference's
  * per-file pandas loop becomes one distributed multi-file scan.
  *
  * Drop contract: all files of one day share one header. Spark's CSV
  * reader takes the schema from the first file and maps every later
  * file's columns BY POSITION, only logging a warning on a header
  * mismatch — two files with headers `a,b` and `b,a` silently swap
  * their values. (`enforceSchema=false` would reject the mismatch, but
  * also rejects legitimate trailing-comma and duplicate-name headers.)
  */
object EtlPipeline {

  /** The day's lazy, cleaned frame plus its (path, name) files, or
    * `None` when the drop has no file for `date`
    * (reference: etl_pipeline.py:326-346). Every row's
    * `processed_date` is `processedAt`. */
  def dayFrame(
      spark: SparkSession,
      dropDir: String,
      date: String,
      processedAt: java.sql.Timestamp)
      : Option[(DataFrame, Seq[(String, String)])] = {
    // capped, never unbounded (see FileCatalog.pathsForDate)
    val files = FileCatalog.pathsForDate(spark, dropDir, date)
    if (files.isEmpty) return None

    val merged = Cleaning.cleanColumnNames(Readers.csv(spark, files.map(_._1)))
    val enriched = Enrich.addMetadata(
      Enrich.coerceUnixTimestamps(Readers.withSourceFile(merged), Seq("ts_us"), "us"),
      sourceDate = date, filesMergedCount = files.length.toLong,
      processedAt = processedAt)
    Some((Cleaning.dedupRows(Cleaning.dropEmptyColumns(enriched)), files))
  }

  /** Runs the day's frame through `sink` and returns its audit entry.
    *
    * Sink contract: `sink` runs exactly one action on the frame it is
    * given. The audit row count is an `observe` metric of that action,
    * so the day is never counted in a pass of its own. One processing
    * instant, `processedAt` or the time of the call, is stamped on the
    * rows' `processed_date` and on the entry's `date_processed`. */
  def processDay(
      spark: SparkSession,
      dropDir: String,
      date: String,
      sink: DataFrame => Unit,
      tableName: String = "table_name",
      processedAt: Option[java.sql.Timestamp] = None): Option[ProcessingLog.Entry] = {
    val at = processedAt.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
    dayFrame(spark, dropDir, date, at).map { case (cleaned, files) =>
      val obs = Observation(s"etl_day_$date")
      sink(cleaned.observe(obs, count(lit(1)).as("rows")))
      ProcessingLog.entry(
        dateOfData = date,
        filesProcessed = files.length.toLong,
        filesMerged = files.length.toLong,
        tableName = tableName,
        totalRows = obs.get("rows").asInstanceOf[Long],
        columnCount = cleaned.columns.length.toLong,
        sourceFiles = files.map(_._2),
        processedAt = at)
    }
  }
}
