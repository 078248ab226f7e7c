package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Audit-log sink (SURVEY.md §2 C3).
  *
  * The reference appends one row per processed day to
  * `data_processing_log` (reference: etl_pipeline.py:519-530). Same
  * schema here; the entry is built deterministically from the run's
  * facts and can be appended to any sink.
  */
object ProcessingLog {

  final case class Entry(
      date_processed: java.sql.Timestamp,
      date_of_data: java.sql.Date,
      files_processed: Long,
      files_merged: Long,
      table_name: String,
      total_row_count: Long,
      column_count: Long,
      source_files: String)

  def entry(dateOfData: String, filesProcessed: Long, filesMerged: Long,
            tableName: String, totalRows: Long, columnCount: Long,
            sourceFiles: Seq[String],
            processedAt: java.sql.Timestamp): Entry =
    Entry(processedAt, java.sql.Date.valueOf(dateOfData), filesProcessed,
      filesMerged, tableName, totalRows, columnCount, sourceFiles.mkString(", "))

  def toDf(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    entries.toDF()
  }

  def append(spark: SparkSession, entries: Seq[Entry], path: String): Unit =
    Sinks.writeParquet(toDf(spark, entries), path, overwrite = false)
}
