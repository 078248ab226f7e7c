package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema hygiene + merge operators (SURVEY.md §2 B1/B2/B6/B7). */
object Cleaning {

  /** Strip `{}` characters and trim whitespace from column names
    * (reference: etl_pipeline.py:383
    * `df.columns.str.replace(r"[\{\}]", "").str.strip()`).
    * Pure metadata — zero data movement. */
  def cleanColumnNames(df: DataFrame): DataFrame = {
    val renames = df.columns.map(c => c -> cleanName(c))
    renames.foldLeft(df) { case (d, (from, to)) =>
      if (from == to) d else d.withColumnRenamed(from, to)
    }
  }

  /** One column name as [[cleanColumnNames]] cleans it. */
  def cleanName(c: String): String = c.replaceAll("[{}]", "").trim

  /** Merge heterogeneous frames, tolerating disjoint column sets —
    * the reference's `pd.concat(..., sort=False)`
    * (etl_pipeline.py:417). Missing columns become nulls. Union is a
    * plan-level concat: no shuffle. */
  def unionMerge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Drop columns that are entirely null
    * (reference: etl_pipeline.py:453 `df.isnull().all()`).
    * One distributed pass: a single aggregate computes every column's
    * non-null count map-side; the schema decision happens on the
    * driver with just one row collected. The ETL day does not call
    * it: its one profile pass (`Readers.csvProfile`) already finds the
    * columns with no value, and the day's scan never reads them. */
  def dropEmptyColumns(df: DataFrame): DataFrame = {
    val counts = df.select(df.columns.map(c => count(col(s"`$c`")).as(c)).toSeq: _*)
      .head()
    val empty = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) == 0L => c
    }
    if (empty.isEmpty) df else df.drop(empty.toSeq: _*)
  }

  /** Exact duplicate-row removal (reference: etl_pipeline.py:480-483).
    * Hash-shuffle on all columns; map-side partial dedup first. */
  def dedupRows(df: DataFrame): DataFrame = df.dropDuplicates()
}
