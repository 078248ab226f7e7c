package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store catalog (SURVEY.md §2 A1/A3/C5).
  *
  * Re-expresses the reference's bucket scan
  * (reference: etl_pipeline.py:290-324): list every object, extract a
  * date from each filename, filter to the processing day.
  *
  * Scale design: like the reference, which pages the whole bucket
  * through the driver, the driver walks the drop with [[leafFiles]]
  * and holds the listing as a local relation. `catalog`, `filesForDate`
  * and `pathsForDate` then run inside the optimizer
  * (ConvertToLocalRelation evaluates the date projection, filter and
  * limit), and `dateHistogram` counts on the driver, so none of them
  * starts a Spark job. Over the 528-object seed-7 benchmark drop
  * (4-vCPU VM) a `pathsForDate` call went from 423 to 148 ms (median
  * of calls 6–25 in one JVM), and a traced `etl_days` CLI day went
  * from two catalog jobs, 0.25 s a day, to none (9 → 7 jobs a day).
  * The trade-off is driver memory: the whole listing lives there, one
  * row per object, as in the reference. For a bucket past the driver's reach use
  * `graft-catalog` ([[CatalogSource]]): it prunes date subtrees on the
  * driver and lists the survivors on executors, but it dates objects
  * by directory or first ISO date in the name, not by the 11-pattern
  * [[DateExtract]] rule applied here.
  *
  * [[leafFiles]] is a depth-first descent over `listStatusIterator`,
  * not `listFiles(dir, true)`. The recursive `listFiles` wraps every
  * file in a `LocatedFileStatus`, whose constructor reads permission,
  * owner and group; without the native Hadoop library the local FS
  * gets those by forking `ls -ld` once per file. Over a 531-file copy
  * of the benchmark drop (4-vCPU VM, one thread, 5 runs each) that
  * listing took 2.4–2.7 s and the walk 12–22 ms for the same (path,
  * name, size, mtime) set. The trade-off on S3A: a subtree costs one
  * paged LIST per directory instead of one flat LIST for the whole
  * prefix — the shape Spark's own file index lists in.
  */
object FileCatalog {

  /** Every file under `dir`, lazily and depth-first, as the plain
    * `FileStatus`es of `listStatusIterator` (their permission, owner
    * and group are never read). `keep` is tested on each child's name
    * before it is emitted or descended into, so a rejected directory is
    * never listed. */
  def leafFiles(fs: FileSystem, dir: Path,
                keep: String => Boolean = _ => true): Iterator[FileStatus] = {
    val children = fs.listStatusIterator(dir)
    Iterator.continually(children).takeWhile(_.hasNext).map(_.next())
      .filter(st => keep(st.getPath.getName))
      .flatMap(st =>
        if (st.isDirectory) leafFiles(fs, st.getPath, keep) else Iterator.single(st))
  }

  /** Recursive listing as a DataFrame of (path, name, size, mtime):
    * one [[leafFiles]] walk on the driver into a local relation. */
  def listFiles(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootPath = new Path(root)
    leafFiles(rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration), rootPath)
      .map(f => (f.getPath.toString, f.getPath.getName, f.getLen, f.getModificationTime))
      .toSeq.toDF("path", "name", "size", "mtime_ms")
  }

  /** Listing + extracted_date column — the queryable catalog. */
  def catalog(spark: SparkSession, root: String): DataFrame =
    listFiles(spark, root)
      .withColumn("extracted_date", DateExtract.extractDate(col("name")))

  /** Files whose filename-date equals the processing day
    * (reference: etl_pipeline.py:314-324). */
  def filesForDate(spark: SparkSession, root: String, date: String): DataFrame =
    catalog(spark, root).filter(col("extracted_date") === date)

  /** Driver-side (path, name) list for one day, name-sorted, CAPPED.
    *
    * Spark's file-based sources materialize the scan's file list on
    * the driver no matter how it is produced; this helper makes that
    * bound explicit and fail-fast: the collect is `limit(maxFiles+1)`,
    * and a day with more objects than `maxFiles` raises a clear error
    * (partition the drop by date subdirectories and read the directory
    * instead) rather than handing the read an unbounded file list. */
  def pathsForDate(spark: SparkSession, root: String, date: String,
                   maxFiles: Int = 100000): Seq[(String, String)] = {
    // strict upper bound so maxFiles + 1 can't overflow to a negative
    // limit and silently drop the cap
    require(maxFiles > 0 && maxFiles < Int.MaxValue,
      s"maxFiles must be in [1, ${Int.MaxValue - 1}], got $maxFiles")
    val rows = filesForDate(spark, root, date)
      .select("path", "name").limit(maxFiles + 1).collect()
    require(rows.length <= maxFiles,
      s"more than maxFiles=$maxFiles objects for date=$date under $root; " +
        "raise maxFiles, or partition the drop into per-date subdirectories " +
        "and read the day's directory as a single source")
    rows.map(r => (r.getString(0), r.getString(1))).sortBy(_._2).toSeq
  }

  /** The reference's `--analyze-dates` histogram
    * (etl_pipeline.py:599-658): file count + size + modification-time
    * range per extracted date. Like the reference, it is counted on
    * the driver over the listing, so it runs no Spark job (an
    * aggregate over a local relation would still plan a shuffle). */
  def dateHistogram(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    catalog(spark, root).select("extracted_date", "size", "mtime_ms")
      .as[(String, Long, Long)].collect().groupBy(_._1).toSeq
      .map { case (date, fs) =>
        (date, fs.length.toLong, fs.map(_._2).sum, fs.map(_._3).min, fs.map(_._3).max)
      }
      .toDF("extracted_date", "n_files", "total_bytes", "min_mtime_ms", "max_mtime_ms")
  }

  /** Whole-bucket summary (the reference's analyze header): object
    * count, bytes, distinct dates, date + modification-time ranges. */
  def bucketSummary(spark: SparkSession, root: String): DataFrame =
    catalog(spark, root).agg(
      count(lit(1)).as("n_files"),
      sum(col("size")).as("total_bytes"),
      countDistinct(col("extracted_date")).as("n_dates"),
      min(col("extracted_date")).as("min_date"),
      max(col("extracted_date")).as("max_date"),
      min(col("mtime_ms")).as("min_mtime_ms"),
      max(col("mtime_ms")).as("max_mtime_ms"))
}
