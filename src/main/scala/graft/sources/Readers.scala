package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** File readers (SURVEY.md §2 A4-A7).
  *
  * The reference downloads each object to a temp file and parses it
  * with pandas one at a time (reference: etl_pipeline.py:355-377).
  * Spark reads the whole file *set* as one distributed scan — gzip
  * (`.csv.gz`) is decoded transparently by extension, schema comes
  * from inference or a supplied schema, and `source_file` tagging
  * (etl_pipeline.py:389) is the codegen'd `input_file_name()` instead
  * of a per-frame python assignment.
  *
  * The ETL day does not let the CSV reader infer. It reads each file's
  * header on the driver ([[csvHeader]]), profiles the day in one job
  * over an all-string scan ([[csvProfile]]: column types, empty
  * columns and rows read), then scans with the profiled schema. Spark's
  * inferring reader costs a header job and an inference job on top of
  * the scan, and an empty-column decision costs an aggregate job more.
  */
object Readers {

  /** Consistent CSV options for write+read roundtrips: explicit quote
    * and escape so embedded quotes/commas/JSON survive. */
  val csvOptions: Map[String, String] = Map(
    "header" -> "true",
    "quote" -> "\"",
    "escape" -> "\"",
    "multiLine" -> "false")

  /** CSV / CSV.gz reader. `paths` may mix plain and gzipped files —
    * Spark picks the codec per file from the extension. */
  def csv(spark: SparkSession, paths: Seq[String],
          inferSchema: Boolean = true,
          schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.options(csvOptions)
    val r2 = schema.map(r.schema).getOrElse(r.option("inferSchema", inferSchema.toString))
    r2.csv(paths: _*)
  }

  /** [[csvOptions]] with inference on, built as Spark's CSV reader
    * builds them (`CSVFileFormat`: the session's column-pruning flag,
    * time zone and corrupt-record column), so the header rule and the
    * type inference below are the reader's own. */
  private def csvParseOptions(spark: SparkSession): CSVOptions = {
    val conf = spark.sessionState.conf
    new CSVOptions(csvOptions + ("inferSchema" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
  }

  /** One CSV file's field names, read on the driver, or `None` for a
    * file with no header line (empty or blank). The header is the
    * file's first non-blank line, decoded by extension through
    * Hadoop's `CompressionCodecFactory` (so `.gz` works), and named by
    * the rule of Spark's header read (`CSVUtils.makeSafeHeader`):
    * `_c<i>` for an empty name, an index suffix on duplicates, compared
    * under the session's case sensitivity. */
  def csvHeader(spark: SparkSession, path: String): Option[Seq[String]] = {
    val options = csvParseOptions(spark)
    CSVUtils.readHeaderLine(new Path(path), options, spark.sparkContext.hadoopConfiguration)
      .map { line =>
        CSVUtils.makeSafeHeader(new CsvParser(options.asParserSettings).parseLine(line),
          spark.sessionState.conf.caseSensitiveAnalysis, options).toSeq
      }
  }

  /** What one pass over a CSV day finds: the inferred `schema` (a
    * column with no value is a string, as in Spark's inference), the
    * columns with no value at all, and the rows read. */
  final case class CsvProfile(schema: StructType, emptyColumns: Seq[String], rows: Long)

  /** Profiles `strings`, an all-`StringType` CSV scan (or a union of
    * them), in one Spark job: every row goes through Spark's own
    * `CSVInferSchema.inferRowType`, partitions merge with
    * `mergeRowTypes`, and the rows are counted alongside. A null cell
    * is an empty token, which inference skips, so a column whose type
    * ends as `NullType` holds no value at all: exactly the column a
    * count-based empty-column drop removes. Runs under
    * `withSQLConfPropagated`, as Spark's own inference does. */
  def csvProfile(strings: DataFrame): CsvProfile = {
    val spark = strings.sparkSession
    val infer = new CSVInferSchema(csvParseOptions(spark))
    val names = strings.columns
    val n = names.length
    val (types, rows) = SQLExecution.withSQLConfPropagated(castToImpl(spark)) {
      strings.queryExecution.toRdd.aggregate((Array.fill[DataType](n)(NullType), 0L))(
        { case ((soFar, read), row) =>
          val tokens = Array.tabulate(n)(i => if (row.isNullAt(i)) null else row.getUTF8String(i).toString)
          (infer.inferRowType(soFar, tokens), read + 1) },
        { case ((t1, r1), (t2, r2)) => (infer.mergeRowTypes(t1, t2), r1 + r2) })
    }
    CsvProfile(StructType(infer.toStructFields(types, names)),
      names.zip(types).collect { case (c, NullType) => c }.toSeq, rows)
  }

  /** CSV ingest with row-level quarantine (A4b): PERMISSIVE parse
    * into a declared schema plus a corrupt-record column, split into
    * (good, quarantined). The reference dropped a whole file on any
    * parse error (etl_pipeline.py:375-377); here bad ROWS are
    * preserved for inspection and good rows still load. The frame is
    * cached before the split — Spark forbids filtering on the
    * internal corrupt-record column of a streaming-read plan
    * otherwise, and the split would double-parse anyway. */
  def csvWithQuarantine(spark: SparkSession, paths: Seq[String],
                        schema: org.apache.spark.sql.types.StructType):
      (DataFrame, DataFrame) = {
    val (good, bad, _) = csvWithQuarantineCached(spark, paths, schema)
    (good, bad)
  }

  /** [[csvWithQuarantine]] plus the underlying cached permissive
    * parse, so a caller that materializes both splits can
    * `parsed.unpersist()` when done. A caller that re-reads the SAME
    * path in one JVM must unpersist (or use a fresh path): an
    * `overwrite` write to a path with a live cached read triggers
    * CacheManager's recache at a moment when side-files written after
    * the Spark write are absent, leaving the cache stale. */
  def csvWithQuarantineCached(spark: SparkSession, paths: Seq[String],
                              schema: org.apache.spark.sql.types.StructType):
      (DataFrame, DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val parsed = spark.read.options(csvOptions)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .csv(paths: _*)
      .cache()
    (parsed.filter(col(corrupt).isNull).drop(corrupt),
      parsed.filter(col(corrupt).isNotNull).select(col(corrupt)), parsed)
  }

  /** Tag each row with the basename of the file it came from
    * (reference: etl_pipeline.py:389 `df['source_file'] = basename`). */
  def withSourceFile(df: DataFrame): DataFrame =
    df.withColumn("source_file",
      element_at(split(input_file_name(), "/"), -1))

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Schema-evolved parquet read: union the schemas of all footers
    * (columns added over time come back null-padded for old files) —
    * the parquet-level form of the reference's disjoint-column merge
    * (etl_pipeline.py:413-418). Off by default in Spark because footer
    * merging costs a distributed job, which is exactly why it's an
    * explicit reader here. */
  def parquetMergedSchema(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  def json(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.json(paths: _*)

  /** JDBC (PostgreSQL) source — partitioned parallel read. No database
    * ships in this container, so this builds the reader config; the
    * option map is unit-tested. */
  def jdbc(spark: SparkSession, url: String, table: String,
           user: String, password: String,
           partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("fetchsize", "10000")
    val withPart = partitionColumn match {
      case Some((colName, lower, upper, n)) => base
        .option("partitionColumn", colName)
        .option("lowerBound", lower.toString)
        .option("upperBound", upper.toString)
        .option("numPartitions", n.toString)
      case None => base
    }
    withPart.load()
  }

  /** The JDBC option map alone (testable without a server). */
  def jdbcOptions(url: String, table: String, user: String, password: String,
                  partitionColumn: Option[(String, Long, Long, Int)] = None): Map[String, String] = {
    val base = Map(
      "url" -> url, "dbtable" -> table, "user" -> user,
      "password" -> password, "fetchsize" -> "10000")
    partitionColumn.map { case (c, lo, hi, n) =>
      base ++ Map("partitionColumn" -> c, "lowerBound" -> lo.toString,
        "upperBound" -> hi.toString, "numPartitions" -> n.toString)
    }.getOrElse(base)
  }
}
