package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import graft.operators.{Cleaning, Enrich}
import graft.sinks.ProcessingLog
import graft.sources.{FileCatalog, Readers}

/** The reference's per-day ETL as one composable plan
  * (SURVEY.md §2 C4; reference: etl_pipeline.py:252-545
  * `process_single_day`):
  *
  *   catalog → date filter → headers → profile → typed CSV read
  *   → clean names → merge by name → source_file tag
  *   → unix-ts coercion → metadata → dedup → (sink + audit entry)
  *
  * Before the sink the day runs one Spark job, the profile: the files'
  * headers are read on the driver, and one pass over an all-string scan
  * gives the column types, the columns with no value and the rows read
  * (`Readers.csvProfile`). Everything after it is a single lazy plan
  * over a scan with the profiled schema: Catalyst sees the whole chain,
  * column pruning keeps the empty columns out of the scan, and the
  * dedup shuffle is the only wide stage. So the day reads its rows
  * twice, once to profile and once to load; the typed parse needs the
  * types before it starts.
  *
  * Merge by header name: files are grouped by header, one scan per
  * group, and the groups merge by cleaned column name
  * (`Cleaning.unionMerge`), like the reference's `pd.concat` of
  * per-file frames (etl_pipeline.py:413-418). Files with headers
  * `a,b`, `b,a` and `a,c` give columns `a, b, c`, each value under
  * its own name, `c` null for the first two files. Each column gets
  * one type over the whole day. A group's scan declares its files'
  * own header names, so Spark's header check stays silent.
  */
object EtlPipeline {

  /** One day's lazy, cleaned frame, its (path, name) files, and what
    * the profile found: the rows read and the empty columns dropped. */
  final case class Day(
      frame: DataFrame,
      files: Seq[(String, String)],
      rowsRead: Long,
      emptyColumns: Seq[String])

  /** The day's [[Day]], or `None` when the drop has no file for `date`
    * (reference: etl_pipeline.py:326-346). Every row's
    * `processed_date` is `processedAt`. A day with no data row (header-
    * only or empty files) is a frame with no column and no row: with
    * nothing read, every column counts as empty. */
  def dayFrame(
      spark: SparkSession,
      dropDir: String,
      date: String,
      processedAt: java.sql.Timestamp): Option[Day] = {
    // capped, never unbounded (see FileCatalog.pathsForDate)
    val files = FileCatalog.pathsForDate(spark, dropDir, date)
    if (files.isEmpty) return None

    val headed = files.flatMap { case (path, _) => Readers.csvHeader(spark, path).map(_ -> path) }
    val groups = headed.map(_._1).distinct.map(h => h -> headed.collect { case (`h`, p) => p })
    def read(typeOf: String => DataType): DataFrame =
      Cleaning.unionMerge(groups.map { case (header, paths) =>
        val schema = StructType(header.map(c => StructField(c, typeOf(Cleaning.cleanName(c)))))
        Cleaning.cleanColumnNames(Readers.csv(spark, paths, schema = Some(schema)))
      })
    val profile =
      if (groups.isEmpty) Readers.CsvProfile(new StructType, Nil, 0L)
      else Readers.csvProfile(read(_ => StringType))
    if (profile.rows == 0L)
      return Some(Day(spark.emptyDataFrame, files, 0L, profile.emptyColumns))

    val resolver = spark.sessionState.conf.resolver
    val typed = read(c => profile.schema.find(f => resolver(f.name, c)).get.dataType)
      .drop(profile.emptyColumns: _*)
    val enriched = Enrich.addMetadata(
      Enrich.coerceUnixTimestamps(Readers.withSourceFile(typed), Seq("ts_us"), "us"),
      sourceDate = date, filesMergedCount = files.length.toLong,
      processedAt = processedAt)
    Some(Day(Cleaning.dedupRows(enriched), files, profile.rows, profile.emptyColumns))
  }

  /** Runs the day's frame through `sink`; returns its audit entry and
    * the [[Day]] it loaded.
    *
    * Sink contract: `sink` runs exactly one action on the frame it is
    * given. The audit row count is an `observe` metric of that action,
    * so the day is never counted in a pass of its own. A day with no
    * data row never reaches the sink; its entry counts 0 rows. One
    * processing instant, `processedAt` or the time of the call, is
    * stamped on the rows' `processed_date` and on the entry's
    * `date_processed`. */
  def runDay(
      spark: SparkSession,
      dropDir: String,
      date: String,
      sink: DataFrame => Unit,
      tableName: String = "table_name",
      processedAt: Option[java.sql.Timestamp] = None): Option[(ProcessingLog.Entry, Day)] = {
    val at = processedAt.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
    dayFrame(spark, dropDir, date, at).map { day =>
      // a day with no data row has no column: there is nothing to load,
      // and a writer would have to create a table with no column
      val rows =
        if (day.rowsRead == 0L) 0L
        else {
          val obs = Observation(s"etl_day_$date")
          sink(day.frame.observe(obs, count(lit(1)).as("rows")))
          obs.get("rows").asInstanceOf[Long]
        }
      val entry = ProcessingLog.entry(
        dateOfData = date,
        filesProcessed = day.files.length.toLong,
        filesMerged = day.files.length.toLong,
        tableName = tableName,
        totalRows = rows,
        columnCount = day.frame.columns.length.toLong,
        sourceFiles = day.files.map(_._2),
        processedAt = at)
      (entry, day)
    }
  }

  /** [[runDay]]'s audit entry alone. */
  def processDay(
      spark: SparkSession,
      dropDir: String,
      date: String,
      sink: DataFrame => Unit,
      tableName: String = "table_name",
      processedAt: Option[java.sql.Timestamp] = None): Option[ProcessingLog.Entry] =
    runDay(spark, dropDir, date, sink, tableName, processedAt).map(_._1)
}
