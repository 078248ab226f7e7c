package graft.sinks

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

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

  /** The entries' columns: names, types and nullability as in [[toDf]]. */
  private lazy val schema: StructType = Encoders.product[Entry].schema

  def toDf(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    entries.toDF()
  }

  /** Appends `entries` to the JDBC table `cfg.table` over one
    * driver-side connection, starting no Spark job. It does what the
    * Spark JDBC writer does in append mode, through the writer's own
    * helpers: a missing table is created with the writer's DDL
    * (`JdbcUtils.createTable`: the dialect's quoting, types and
    * nullability), and the rows go in through the writer's INSERT
    * (`JdbcUtils.getInsertStatement`, matched to an existing table's
    * columns) in one transaction. The Spark writer spent a Spark job,
    * and its planning, on the one audit row of each CLI day. */
  def appendJdbc(entries: Seq[Entry], cfg: Sinks.JdbcConfig): Unit = {
    val options = new JdbcOptionsInWrite(Sinks.jdbcWriteOptions(cfg))
    val dialect = JdbcDialects.get(options.url)
    val caseSensitive = SQLConf.get.caseSensitiveAnalysis
    val conn = dialect.createConnectionFactory(options)(-1)
    try {
      val tableSchema =
        if (JdbcUtils.tableExists(conn, options)) JdbcUtils.getSchemaOption(conn, options)
        else {
          JdbcUtils.createTable(conn, options.table, schema, caseSensitive, options)
          Some(schema)
        }
      conn.setAutoCommit(false)
      val st = conn.prepareStatement(
        JdbcUtils.getInsertStatement(options.table, schema, tableSchema, caseSensitive, dialect))
      try {
        entries.foreach { e =>
          st.setTimestamp(1, e.date_processed)
          st.setDate(2, e.date_of_data)
          st.setLong(3, e.files_processed)
          st.setLong(4, e.files_merged)
          st.setString(5, e.table_name)
          st.setLong(6, e.total_row_count)
          st.setLong(7, e.column_count)
          st.setString(8, e.source_files)
          st.addBatch()
        }
        st.executeBatch()
        conn.commit()
      } finally st.close()
    } finally conn.close()
  }

  def append(spark: SparkSession, entries: Seq[Entry], path: String): Unit =
    Sinks.writeParquet(toDf(spark, entries), path, overwrite = false)
}
