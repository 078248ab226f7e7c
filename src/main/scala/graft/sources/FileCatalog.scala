package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Object-store catalog (SURVEY.md §2 A1/A3/C5).
  *
  * Re-expresses the reference's bucket scan
  * (reference: etl_pipeline.py:290-324): list every object, extract a
  * date from each filename, filter to the processing day.
  *
  * Scale design: the reference pages the whole bucket through the
  * driver. Here only the first directory level is listed on the
  * driver; each subtree is then listed *on executors* (Hadoop
  * FileSystem is S3A-compatible), so a 100M-object bucket becomes a
  * distributed DataFrame instead of a driver OOM. Filename-date
  * extraction is a codegen'd projection (see [[DateExtract]]).
  *
  * Subtrees are walked with [[leafFiles]], a depth-first descent over
  * `listStatusIterator`, not with `listFiles(dir, true)`. The recursive
  * `listFiles` wraps every file in a `LocatedFileStatus`, whose
  * constructor reads permission, owner and group; without the native
  * Hadoop library the local FS gets those by forking `ls -ld` once per
  * file. Over a 531-file copy of the benchmark drop (4-vCPU VM, one
  * thread, 5 runs each) that listing took 2.4–2.7 s and the walk
  * 12–22 ms for the same (path, name, size, mtime) set; in a traced
  * `etl_days` CLI day the catalog jobs fell from 0.76–0.87 s to
  * 0.17 s. The trade-off on S3A: a subtree costs one paged LIST per
  * directory instead of one flat LIST for the whole prefix — the shape
  * Spark's own file index lists in.
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

  /** Recursive listing as a DataFrame of (path, name, size, mtime). */
  def listFiles(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf.value)
    val (dirs, files) = fs.listStatus(rootPath).partition(_.isDirectory)
    def row(f: FileStatus) =
      (f.getPath.toString, f.getPath.getName, f.getLen, f.getModificationTime)
    // one task per top-level subtree, each walking its own subtree
    val subRows =
      if (dirs.isEmpty) spark.emptyDataset[(String, String, Long, Long)]
      else spark.sparkContext
        .parallelize(dirs.map(_.getPath.toString).toSeq, dirs.length)
        .flatMap { d =>
          val p = new Path(d)
          leafFiles(p.getFileSystem(conf.value), p).map(row)
        }.toDS()
    files.toSeq.map(row).toDF("path", "name", "size", "mtime_ms")
      .unionByName(subRows.toDF("path", "name", "size", "mtime_ms"))
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
    * the driver no matter how it is produced, so "fully distributed"
    * is not on the table for the read itself — what this helper does
    * is make that driver bound explicit and fail-fast: the collect is
    * `limit(maxFiles+1)`, never unbounded, and a day with more objects
    * than `maxFiles` raises a clear error (partition the drop by date
    * subdirectories and read the directory instead) rather than
    * silently pinning driver memory. */
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
    * range per extracted date. */
  def dateHistogram(spark: SparkSession, root: String): DataFrame =
    catalog(spark, root)
      .groupBy(col("extracted_date"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"),
        min(col("mtime_ms")).as("min_mtime_ms"),
        max(col("mtime_ms")).as("max_mtime_ms"))

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
