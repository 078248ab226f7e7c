package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Cleaning
import graft.sources.Readers

/** The day pipeline's read of a drop: the driver-side header, the one
  * profile pass, and the by-name merge of files with different headers. */
class EtlDaySpec extends SparkSpec {

  private val at = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")

  /** A drop holding `files` (name → content; `.gz` names are gzipped). */
  private def drop(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_etl_day")
    files.foreach { case (name, content) => write(dir.resolve(name), content) }
    dir.toString
  }

  private def write(p: Path, content: String): Unit =
    if (p.toString.endsWith(".gz")) {
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
      try out.write(content.getBytes("UTF-8")) finally out.close()
    } else Files.write(p, content.getBytes("UTF-8"))

  /** runDay into a sink that keeps the frame's columns and rows. */
  private def runDay(dir: String): (sinks.ProcessingLog.Entry, EtlPipeline.Day, Seq[String], Seq[org.apache.spark.sql.Row]) = {
    var cols = Seq.empty[String]
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val sink: DataFrame => Unit = df => { cols = df.columns.toSeq; rows = df.collect().toSeq }
    val (entry, day) = EtlPipeline.runDay(spark, dir, "2024-03-01", sink, processedAt = Some(at)).get
    (entry, day, cols, rows)
  }

  // Outcomes pinned from the pipeline that let Spark's CSV reader infer
  // and then dropped every column with a zero non-null count: with no
  // row read, that is every column, the stamped ones included.
  test("a day whose files hold headers only loads no row and no column") {
    val dir = drop(
      "a_2024-03-01.csv" -> "id,{name}, ts_us \n",
      "b_2024-03-01.csv.gz" -> "id,{name}, ts_us \n")
    val (entry, day, cols, rows) = runDay(dir)
    assert(rows.isEmpty && cols.isEmpty)
    assert((entry.total_row_count, entry.column_count, entry.files_processed) == (0L, 0L, 2L))
    assert(day.rowsRead == 0L)
    assert(day.emptyColumns == Seq("id", "name", "ts_us"))
  }

  test("a day whose only file is empty loads no row and no column") {
    val (entry, day, cols, rows) = runDay(drop("a_2024-03-01.csv" -> ""))
    assert(rows.isEmpty && cols.isEmpty)
    assert((entry.total_row_count, entry.column_count, entry.files_processed) == (0L, 0L, 1L))
    assert(day.rowsRead == 0L && day.emptyColumns.isEmpty)
  }

  // Expected rows checked once against DuckDB 1.0.0:
  // read_csv([...], union_by_name = true, filename = true), DISTINCT per
  // file, over the same four files with feed_c's header cleaned to `a,c`.
  test("files with permuted, disjoint, {}-wrapped and gzipped headers merge by name") {
    val dir = drop(
      "feed_a_2024-03-01.csv" -> "a,b\n1,x\n2,y\n2,y\n",
      "feed_b_2024-03-01.csv" -> "b,a,e\nz,3,\n",
      "feed_c_2024-03-01.csv.gz" -> "{a}, c \n4,5.5\n5,\n",
      "feed_d_2024-03-01.csv" -> "a,c\n6,7.25\n",
      "feed_a_2024-03-02.csv" -> "c,a\n9.5,9\n")
    val (entry, day, cols, rows) = runDay(dir)
    assert(cols == Seq("a", "b", "c", "source_file",
      "processed_date", "source_date", "files_merged_count"))
    val types = day.frame.schema.map(f => f.name -> f.dataType).toMap
    assert((types("a"), types("b"), types("c")) == (IntegerType, StringType, DoubleType))
    val got = rows.map(r => (Option(r.getAs[Integer]("a")).map(_.toInt),
      Option(r.getAs[String]("b")), Option(r.getAs[java.lang.Double]("c")).map(_.toDouble),
      r.getAs[String]("source_file"))).sortBy(_._1)
    assert(got == Seq(
      (Some(1), Some("x"), None, "feed_a_2024-03-01.csv"),
      (Some(2), Some("y"), None, "feed_a_2024-03-01.csv"),
      (Some(3), Some("z"), None, "feed_b_2024-03-01.csv"),
      (Some(4), None, Some(5.5), "feed_c_2024-03-01.csv.gz"),
      (Some(5), None, None, "feed_c_2024-03-01.csv.gz"),
      (Some(6), None, Some(7.25), "feed_d_2024-03-01.csv")))
    assert((entry.total_row_count, entry.column_count, entry.files_processed) == (6L, 7L, 4L))
    assert(day.rowsRead == 7L && day.emptyColumns == Seq("e"))
  }

  /** Spark's inferring reader plus the count-based empty-column drop,
    * against the profile over an all-string scan of the same files. */
  private def assertProfileMatchesReader(files: String*): Unit = {
    val dir = Files.createTempDirectory("graft_profile")
    val paths = files.zipWithIndex.map { case (content, i) =>
      val p = dir.resolve(s"f$i.csv" + (if (i % 2 == 1) ".gz" else ""))
      write(p, content)
      p.toString
    }
    val inferred = spark.read.options(Readers.csvOptions).option("inferSchema", "true").csv(paths: _*)
    val kept = Cleaning.dropEmptyColumns(inferred).columns.toSet
    val header = Readers.csvHeader(spark, paths.head).get
    val strings = Readers.csv(spark, paths,
      schema = Some(StructType(header.map(StructField(_, StringType)))))
    val profile = Readers.csvProfile(strings)
    assert(profile.schema == inferred.schema)
    assert(profile.emptyColumns == inferred.columns.filterNot(kept).toSeq)
    assert(profile.rows == inferred.count())
  }

  test("the profile pass finds the reader's schema and empty columns on hostile single-header input") {
    // an all-empty column; a column empty in one file only
    assertProfileMatchesReader("id,e,v\n1,,x\n2,,y\n", "id,e,v\n3,,\n")
    // quoted "", whitespace-only values
    assertProfileMatchesReader("id,q,w\n1,\"\",\" \"\n2,\"\",  \n")
    // NaN and Inf strings; int, long and double mixes within and across files
    assertProfileMatchesReader("d,i,l,m\nNaN,1,1,1\nInf,2,3000000000,2.5\n-Inf,3,4,7\n",
      "d,i,l,m\n1.5,4,5,6\n")
    assertProfileMatchesReader("x\n1\n", "x\n3000000000\n", "x\n2.5\n")
    // booleans, dates, timestamps, and a file holding only its header
    assertProfileMatchesReader("flag,day,ts\ntrue,2024-01-01,2024-01-01 10:00:00\n",
      "flag,day,ts\n")
    // duplicate (case-insensitive) and blank header names
    assertProfileMatchesReader("a,A,,b,a\n1,2,3,4,5\n6,,8,,\n")
    // header-only files alone: no row, every column empty
    assertProfileMatchesReader("id,v\n", "id,v\n")
  }

  test("csvHeader names fields by Spark's header rule and reads through gzip") {
    val dir = drop("h.csv.gz" -> "\n  \na,A,,b,{c}\n1,2,3,4,5\n")
    assert(Readers.csvHeader(spark, s"$dir/h.csv.gz") == Some(Seq("a0", "A1", "_c2", "b", "{c}")))
    assert(Readers.csvHeader(spark, drop("e.csv" -> "") + "/e.csv").isEmpty)
  }
}
