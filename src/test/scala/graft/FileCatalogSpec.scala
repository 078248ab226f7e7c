package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import graft.sources.{CatalogAggScan, DateExtract, FileCatalog}

class FileCatalogSpec extends SparkSpec {

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_catalog").toString
    Files.createDirectories(Paths.get(dir, "sub"))
    Files.write(Paths.get(dir, "events_2024-01-15.csv"), "a,b\n1,2\n".getBytes)
    Files.write(Paths.get(dir, "sub", "events_2024-01-16.csv.gz"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(dir, "sub", "nodate.txt"), "x".getBytes)
    dir
  }

  test("quarantine ingest keeps good rows and captures bad ones") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_quarantine").toString
    Files.write(Paths.get(dir, "drop.csv"),
      "id,v\n1,10\n2,abc\n3,30\n".getBytes)
    val schema = new StructType().add("id", LongType).add("v", IntegerType)
    val (good, bad) = graft.sources.Readers.csvWithQuarantine(
      spark, Seq(s"$dir/drop.csv"), schema)
    assert(good.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val quarantined = bad.collect().map(_.getString(0))
    assert(quarantined.length == 1 && quarantined.head.contains("abc"))
  }

  test("listing is recursive and carries size + mtime") {
    val rows = FileCatalog.listFiles(spark, root).collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getAs[Long]("size") > 0 && r.getAs[Long]("mtime_ms") > 0))
  }

  test("catalog extracts dates; date filter selects the right files") {
    val names = FileCatalog.filesForDate(spark, root, "2024-01-16")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(names == Seq("events_2024-01-16.csv.gz"))
  }

  test("bucket summary reports counts, date range, and mtime range") {
    val r = FileCatalog.bucketSummary(spark, root).head()
    assert(r.getAs[Long]("n_files") == 3)
    assert(r.getAs[Long]("n_dates") == 2)
    assert(r.getAs[String]("min_date") == "2024-01-15")
    assert(r.getAs[String]("max_date") == "2024-01-16")
    assert(r.getAs[Long]("min_mtime_ms") <= r.getAs[Long]("max_mtime_ms"))
  }

  test("pathsForDate is name-sorted and fails fast past the cap") {
    val got = FileCatalog.pathsForDate(spark, root, "2024-01-16")
    assert(got.map(_._2) == Seq("events_2024-01-16.csv.gz"))
    // a day with more objects than maxFiles must raise, not OOM the driver
    val dir = Files.createTempDirectory("graft_cap").toString
    (1 to 5).foreach(i =>
      Files.write(Paths.get(dir, s"events_2024-01-16_$i.csv"), "a\n1\n".getBytes))
    val e = intercept[IllegalArgumentException](
      FileCatalog.pathsForDate(spark, dir, "2024-01-16", maxFiles = 3))
    assert(e.getMessage.contains("maxFiles=3"))
  }

  test("date histogram carries per-date file counts and mtime ranges") {
    val m = FileCatalog.dateHistogram(spark, root)
      .filter(col("extracted_date").isNotNull)
      .collect().map(r => r.getAs[String]("extracted_date") -> r.getAs[Long]("n_files")).toMap
    assert(m == Map("2024-01-15" -> 1L, "2024-01-16" -> 1L))
  }

  test("pathsForDate and dateHistogram list on the driver and start no Spark job") {
    val ((paths, hist), jobs) = countJobs((FileCatalog.pathsForDate(spark, root, "2024-01-16"),
      FileCatalog.dateHistogram(spark, root).collect()
        .map(r => Option(r.getAs[String]("extracted_date")) -> r.getAs[Long]("n_files")).toMap))
    assert(paths.map(_._2) == Seq("events_2024-01-16.csv.gz"))
    assert(hist == Map(Some("2024-01-15") -> 1L, Some("2024-01-16") -> 1L, None -> 1L))
    assert(jobs == 0, s"$jobs Spark job(s) started")
  }

  test("extractDate's analyzed tree holds one RegExpExtract per pattern") {
    import org.apache.spark.sql.catalyst.expressions.RegExpExtract
    val plan = spark.range(1).select(lit("events_2024-01-15.csv").as("name"))
      .select(DateExtract.extractDate(col("name"))).queryExecution.analyzed
    assert(plan.expressions.map(_.collect { case r: RegExpExtract => r }.size).sum == 11)
  }

  /** A tree with every shape a listing can get wrong: a file two
    * directories deep, an empty directory, `_`- and `.`-prefixed files,
    * a normally named file under `_temporary/`, and a `.crc` sidecar. */
  private lazy val shapes: String = {
    val dir = Files.createTempDirectory("graft_catalog_shapes").toString
    Files.createDirectories(Paths.get(dir, "a", "b"))
    Files.createDirectories(Paths.get(dir, "empty"))
    Files.createDirectories(Paths.get(dir, "_temporary"))
    Files.write(Paths.get(dir, "events_2024-01-15.csv"), "a\n1\n".getBytes)
    Files.write(Paths.get(dir, "a", "b", "events_2024-01-16.csv"), "a\n2\n".getBytes)
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(dir, "a", ".events_2024-01-17.csv"), "a\n3\n".getBytes)
    Files.write(Paths.get(dir, "_temporary", "events_2024-01-18.csv"), "a\n4\n".getBytes)
    // the checksummed local FS writes `.events_2024-01-19.csv.crc` beside it
    val out = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .create(new Path(dir, "a/events_2024-01-19.csv"))
    try out.write("a\n5\n".getBytes) finally out.close()
    assert(Files.exists(Paths.get(dir, "a", ".events_2024-01-19.csv.crc")))
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long)] =
    df.select("path", "name", "size", "mtime_ms").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  test("listing equals Hadoop's recursive listFiles; graft-catalog drops hidden paths") {
    val root = new Path(shapes)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true) // the reference listing
    val reference = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getPath.getName, f.getLen, f.getModificationTime))
      .toSet
    assert(reference.map(_._2) == Set("events_2024-01-15.csv", "events_2024-01-16.csv",
      "_SUCCESS", ".events_2024-01-17.csv", "events_2024-01-18.csv",
      "events_2024-01-19.csv"))
    assert(rows(FileCatalog.listFiles(spark, shapes)) == reference)
    val rootUri = fs.makeQualified(root).toString
    val visible = reference.filterNot(r =>
      r._1.stripPrefix(rootUri + "/").split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
    assert(visible.map(_._2) == Set("events_2024-01-15.csv", "events_2024-01-16.csv",
      "events_2024-01-19.csv"))
    assert(rows(spark.read.format("graft-catalog").load(shapes)) == visible)
  }

  test("listings never read permission, owner or group of a file") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CountingFileSystem.scheme}.impl", classOf[CountingFileSystem].getName)
    val dir = Files.createTempDirectory("graft_catalog_counted").toString
    Files.createDirectories(Paths.get(dir, "day=2024-01-02", "nested"))
    Files.createDirectories(Paths.get(dir, "other", "deeper"))
    Files.write(Paths.get(dir, "events_2024-01-01.csv"), "a\n1\n".getBytes)
    Files.write(Paths.get(dir, "day=2024-01-02", "x.csv"), "a\n2\n".getBytes)
    Files.write(Paths.get(dir, "day=2024-01-02", "nested", "y.csv"), "a\n3\n".getBytes)
    Files.write(Paths.get(dir, "other", "deeper", "events_2024-01-03.csv"), "a\n4\n".getBytes)
    Files.write(Paths.get(dir, "other", "deeper", "events_2024-01-04.csv"), "a\n5\n".getBytes)
    val root = s"${CountingFileSystem.scheme}://$dir"
    def uncounted[T](what: String)(body: => T): T = {
      CountingFileSystem.reset()
      val out = body
      assert(CountingFileSystem.counts == ((0L, 0L, 0L)),
        s"$what read (permission, owner, group) ${CountingFileSystem.counts} times")
      out
    }
    assert(uncounted("FileCatalog.listFiles")(
      FileCatalog.listFiles(spark, root).count()) == 5)
    // a root with no subdirectories: the driver lists it alone
    assert(uncounted("FileCatalog.listFiles, no subdirectories")(
      FileCatalog.listFiles(spark, s"$root/other/deeper").count()) == 2)
    val plain = uncounted("graft-catalog read")(
      spark.read.format("graft-catalog").load(root).collect())
    assert(plain.length == 5)
    val grouped = spark.read.format("graft-catalog").load(root)
      .groupBy("extracted_date").count()
    assert(grouped.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan }.exists(_.isInstanceOf[CatalogAggScan]),
      "the aggregate was not pushed into the catalog scan")
    val perDate = uncounted("graft-catalog aggregate pushdown")(
      grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(perDate == Map("2024-01-01" -> 1L, "2024-01-02" -> 2L,
      "2024-01-03" -> 1L, "2024-01-04" -> 1L))
  }
}
