package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.RunParam

/** Enrichment + type-coercion operators (SURVEY.md §2 B3-B5/B8). */
object Enrich {

  /** Unix-epoch numeric columns → companion `<col>_datetime` columns
    * (reference: etl_pipeline.py:431-441 `pd.to_datetime(unit='s')`).
    * Applied only to columns that exist and are numeric, like the
    * reference's dtype check. `unit` ∈ s|ms|us. */
  def coerceUnixTimestamps(df: DataFrame, cols: Seq[String], unit: String = "s"): DataFrame = {
    val numeric: Set[String] = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSet
    def convert(c: Column): Column = unit match {
      case "s"  => timestamp_seconds(c)
      case "ms" => timestamp_millis(c.cast("long"))
      case "us" => timestamp_micros(c.cast("long"))
    }
    cols.filter(numeric.contains).foldLeft(df) { (d, c) =>
      d.withColumn(s"${c}_datetime", convert(col(c)))
    }
  }

  /** Metadata columns the reference stamps on every merged batch
    * (etl_pipeline.py:443-446): processing time, the day the data
    * belongs to, and how many files were merged. `processedAt` is
    * passed in, so the caller can stamp the same instant on the rows
    * and on the day's audit entry.
    *
    * The three values are [[RunParam]]s, not literals: Spark inlines a
    * Timestamp, Date or Long literal into the generated Java source,
    * so every new day would compile its dedup and sink stages afresh
    * (6 classes a CLI day). As parameters the source is the same text
    * every day and the codegen cache hits. The types are the literals'
    * ones: `processed_date` timestamp and `files_merged_count` bigint,
    * both not null; `source_date` is `to_date` of the string, so it
    * stays a nullable date. */
  def addMetadata(df: DataFrame, sourceDate: String, filesMergedCount: Long,
                  processedAt: java.sql.Timestamp): DataFrame =
    df.withColumn("processed_date", RunParam.of(processedAt))
      .withColumn("source_date", to_date(RunParam.of(sourceDate)))
      .withColumn("files_merged_count", RunParam.of(filesMergedCount))

  /** Rows per source file (reference: etl_pipeline.py:421-425
    * `value_counts`) — the merged batch's provenance accounting. */
  def sourceFileCounts(df: DataFrame): DataFrame =
    df.groupBy(col("source_file")).agg(count(lit(1)).as("n_rows"))
}
