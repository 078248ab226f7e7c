package graft

import org.apache.spark.sql.functions._

/** End-to-end CLI driver tests (SURVEY.md "What's missing" items 1+2
  * from the round-5 verdict): graft.Main over a real staged drop dir,
  * loading into an in-memory Derby warehouse via the env-driven
  * config, mirroring the reference's argparse surface
  * (etl_pipeline.py:661-731). */
class MainSpec extends SparkSpec {

  private def freshEnv(db: String): Map[String, String] = Map(
    "GRAFT_DROP_DIR" -> EtlStage.stageEventsCsv(spark, sf),
    "GRAFT_JDBC_URL" -> s"jdbc:derby:memory:$db;create=true",
    "GRAFT_DB_USER" -> "app",
    "GRAFT_DB_PASSWORD" -> "app")

  private def collectOut(body: (String => Unit) => Int): (Int, Seq[String]) = {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val rc = body(lines += _)
    (rc, lines.toSeq)
  }

  test("processes a two-day range end to end: data + audit rows land over JDBC") {
    val env = freshEnv("main_e2e")
    val (rc, outLines) = collectOut(o => Main.run(
      Seq("--start-date", "2024-01-15", "--end-date", "2024-01-16"),
      spark, env, o))
    assert(rc == 0, outLines.mkString("\n"))
    assert(outLines.exists(_.contains("Successfully processed 2 out of 2 days")))
    val loaded = sources.Readers.jdbc(spark, env("GRAFT_JDBC_URL"),
      "table_name", "app", "app")
    val expected = Tables.events(spark, sf)
      .filter(date_format(col("ts"), "yyyy-MM-dd")
        .isin("2024-01-15", "2024-01-16")).count()
    assert(loaded.count() == expected)
    val log = sources.Readers.jdbc(spark, env("GRAFT_JDBC_URL"),
      "data_processing_log", "app", "app")
    assert(log.count() == 2)
    assert(log.select(sum(col("total_row_count"))).collect()
      .head.getLong(0) == expected)
    // one processing instant per day: the rows' processed_date is the
    // day's audit date_processed
    val stamped = loaded.groupBy(col("source_date"))
      .agg(collect_set(col("processed_date")).as("at")).collect()
      .map(r => r.getDate(0).toString -> r.getSeq[java.sql.Timestamp](1).toSet).toMap
    val audited = log.select(col("date_of_data"), col("date_processed")).collect()
      .map(r => r.getDate(0).toString -> Set(r.getTimestamp(1))).toMap
    assert(stamped.keySet == Set("2024-01-15", "2024-01-16"))
    assert(stamped == audited)
  }

  test("a CLI day starts at most 3 Spark jobs; its audit append starts none") {
    val env = freshEnv("main_jobs")
    val cfg = EtlConfig.fromEnv(env).toOption.get
    val entry = sinks.ProcessingLog.entry("2024-01-15", 1L, 1L, "table_name", 1L, 1L,
      Seq("events_2024-01-15.csv"), java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    // the first day in a JVM pays for class loading and codegen, not jobs;
    // it runs uncounted so the counted day is a steady one
    assert(Main.run(Seq("--start-date", "2024-01-16"), spark, env, _ => ()) == 0)
    val ((rc, outLines), dayJobs) =
      countJobs(collectOut(o => Main.run(Seq("--start-date", "2024-01-15"), spark, env, o)))
    val (_, auditJobs) = countJobs(sinks.ProcessingLog.appendJdbc(Seq(entry), cfg.jdbcLog))
    assert(rc == 0, outLines.mkString("\n"))
    assert(dayJobs > 0 && dayJobs <= 3, s"$dayJobs Spark jobs in one CLI day")
    assert(auditJobs == 0, s"audit append started $auditJobs job(s)")
    // the per-day funnel line: date first, rows read, duplicates, empty columns
    val line = outLines.filter(_.startsWith("2024-01-15:"))
    assert(line.length == 1 && !line.head.contains("FAILED"), outLines.mkString("\n"))
    val funnel = """2024-01-15: loaded (\d+) rows from 1 file\(s\); read (\d+) rows, removed (\d+) duplicate\(s\), dropped (\d+) empty column\(s\)""".r
    line.head match {
      case funnel(loaded, read, dups, empty) =>
        assert(read.toLong - loaded.toLong == dups.toLong && loaded.toLong > 0L)
        assert(empty.toInt == 0)
      case other => fail(s"unexpected day line: $other")
    }
  }

  test("the audit table keeps the Spark writer's shape, created or appended to") {
    def cfg(db: String) = sinks.Sinks.JdbcConfig(
      s"jdbc:derby:memory:$db;create=true", "data_processing_log", "app", "app")
    def columns(db: String): Seq[(String, String, Int, String)] = {
      val c = java.sql.DriverManager.getConnection(cfg(db).url, "app", "app")
      try {
        val rs = c.getMetaData.getColumns(null, "APP", "DATA_PROCESSING_LOG", null)
        val b = Seq.newBuilder[(Int, (String, String, Int, String))]
        while (rs.next()) b += rs.getInt("ORDINAL_POSITION") -> ((rs.getString("COLUMN_NAME"),
          rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE"), rs.getString("IS_NULLABLE")))
        b.result().sortBy(_._1).map(_._2)
      } finally c.close()
    }
    val at = java.sql.Timestamp.valueOf("2024-01-16 08:00:00")
    val e1 = sinks.ProcessingLog.entry("2024-01-15", 2L, 2L, "table_name", 10L, 5L,
      Seq("a_2024-01-15.csv", "b_2024-01-15.csv.gz"), at)
    val e2 = sinks.ProcessingLog.entry("2024-01-16", 1L, 1L, "table_name", 0L, 0L, Seq("c.csv"), at)
    // the table as the Spark JDBC writer creates it, which every audit row used to go through
    sinks.Sinks.writeJdbc(sinks.ProcessingLog.toDf(spark, Seq(e1)), cfg("audit_by_writer"))
    val pinned = Seq(
      ("date_processed", "TIMESTAMP", 29, "YES"),
      ("date_of_data", "DATE", 10, "YES"),
      ("files_processed", "BIGINT", 19, "NO"),
      ("files_merged", "BIGINT", 19, "NO"),
      ("table_name", "CLOB", 2147483647, "YES"),
      ("total_row_count", "BIGINT", 19, "NO"),
      ("column_count", "BIGINT", 19, "NO"),
      ("source_files", "CLOB", 2147483647, "YES"))
    assert(columns("audit_by_writer") == pinned)
    sinks.ProcessingLog.appendJdbc(Seq(e1), cfg("audit_by_insert"))
    assert(columns("audit_by_insert") == pinned)
    sinks.ProcessingLog.appendJdbc(Seq(e2), cfg("audit_by_writer"))
    assert(columns("audit_by_writer") == pinned)
    def back(db: String) = {
      import spark.implicits._
      sources.Readers.jdbc(spark, cfg(db).url, "data_processing_log", "app", "app")
        .as[sinks.ProcessingLog.Entry].collect().toSet
    }
    assert(back("audit_by_writer") == Set(e1, e2))
    assert(back("audit_by_insert") == Set(e1))
  }

  test("a day with no files is skipped and accounted, not fatal") {
    val env = freshEnv("main_skip")
    val (rc, outLines) = collectOut(o => Main.run(
      Seq("--start-date", "2023-12-31", "--end-date", "2024-01-01"), spark, env, o))
    assert(rc == 0)
    assert(outLines.exists(_.contains("no files found")))
  }

  test("a FAILED day makes the exit code 1; the other days still load") {
    val drop = java.nio.file.Files.createTempDirectory("graft_main_fail")
    val staged = new java.io.File(EtlStage.stageEventsCsv(spark, sf))
    java.nio.file.Files.copy(new java.io.File(staged, "events_2024-01-15.csv").toPath,
      drop.resolve("events_2024-01-15.csv"))
    // a gzip stream cut off mid-file: the day's read fails
    val gz = java.nio.file.Files.readAllBytes(
      new java.io.File(staged, "events_2024-01-16.csv.gz").toPath)
    java.nio.file.Files.write(drop.resolve("events_2024-01-16.csv.gz"),
      java.util.Arrays.copyOf(gz, gz.length / 2))
    val env = freshEnv("main_fail") + ("GRAFT_DROP_DIR" -> drop.toString)
    val (rc, outLines) = collectOut(o => Main.run(
      Seq("--start-date", "2024-01-15", "--end-date", "2024-01-16"), spark, env, o))
    assert(rc == 1, outLines.mkString("\n"))
    assert(outLines.exists(_.startsWith("2024-01-16: FAILED")))
    assert(outLines.exists(_.contains("Successfully processed 1 out of 2 days")))
  }

  test("a header-only first day into a fresh warehouse loads nothing and is audited") {
    val drop = java.nio.file.Files.createTempDirectory("graft_main_header_only")
    java.nio.file.Files.write(drop.resolve("feed_2024-03-01.csv"), "id,v\n".getBytes("UTF-8"))
    java.nio.file.Files.write(drop.resolve("feed_2024-03-02.csv"), "id,v\n1,a\n2,b\n".getBytes("UTF-8"))
    val env = freshEnv("main_header_only") + ("GRAFT_DROP_DIR" -> drop.toString)
    val (rc, outLines) = collectOut(o => Main.run(
      Seq("--start-date", "2024-03-01", "--end-date", "2024-03-02"), spark, env, o))
    assert(rc == 0, outLines.mkString("\n"))
    assert(outLines.exists(_.startsWith("2024-03-01: loaded 0 rows from 1 file(s)")), outLines.mkString("\n"))
    assert(outLines.exists(_.contains("Successfully processed 2 out of 2 days")))
    val log = sources.Readers.jdbc(spark, env("GRAFT_JDBC_URL"), "data_processing_log", "app", "app")
      .select(col("date_of_data").cast("string"), col("total_row_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(log == Map("2024-03-01" -> 0L, "2024-03-02" -> 2L))
    val loaded = sources.Readers.jdbc(spark, env("GRAFT_JDBC_URL"), "table_name", "app", "app")
    assert(loaded.select(col("id")).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("--analyze-dates prints the drop histogram and exits 0") {
    val env = freshEnv("main_analyze")
    val (rc, outLines) = collectOut(o =>
      Main.run(Seq("--analyze-dates"), spark, env, o))
    assert(rc == 0)
    assert(outLines.exists(_.startsWith("Found ")))
    assert(outLines.exists(_.contains("2024-01-15")))
  }

  test("invalid dates and ranges are rejected before any work") {
    val env = freshEnv("main_bad")
    assert(Main.run(Seq("--start-date", "2024/01/15"), spark, env, _ => ()) == 2)
    assert(Main.run(Seq("--start-date", "2024-01-16",
      "--end-date", "2024-01-15"), spark, env, _ => ()) == 2)
    assert(Main.run(Seq.empty, spark, env, _ => ()) == 2)
    assert(Main.run(Seq("--bogus"), spark, env, _ => ()) == 2)
  }

  test("missing env vars are reported BY NAME; connection is tested up front") {
    val (rc, outLines) = collectOut(o => Main.run(
      Seq("--start-date", "2024-01-15"), spark,
      Map("GRAFT_DB_HOST" -> "h"), o))
    assert(rc == 3)
    val msg = outLines.mkString("\n")
    assert(msg.contains("GRAFT_DROP_DIR"))
    assert(msg.contains("GRAFT_DB_NAME"))
    assert(msg.contains("GRAFT_DB_USER"))
    assert(msg.contains("GRAFT_DB_PASSWORD"))
    // well-formed config pointing at an unreachable DB → connection
    // test fails with rc 3 before the day loop starts
    val (rc2, out2) = collectOut(o => Main.run(
      Seq("--start-date", "2024-01-15"), spark,
      Map("GRAFT_DROP_DIR" -> "/tmp",
        "GRAFT_JDBC_URL" -> "jdbc:derby:/nonexistent/x",
        "GRAFT_DB_USER" -> "u", "GRAFT_DB_PASSWORD" -> "p"), o))
    assert(rc2 == 3)
    assert(out2.exists(_.contains("Error connecting to database")))
  }

  test("EtlConfig assembles dialect URLs from parts like the reference") {
    val cfg = EtlConfig.fromEnv(Map(
      "GRAFT_DROP_DIR" -> "/drop", "GRAFT_DB_TYPE" -> "mysql",
      "GRAFT_DB_HOST" -> "db1", "GRAFT_DB_NAME" -> "warehouse",
      "GRAFT_DB_USER" -> "u", "GRAFT_DB_PASSWORD" -> "p"))
    assert(cfg == Right(EtlConfig("/drop", "jdbc:mysql://db1:3306/warehouse",
      "u", "p", "table_name", "data_processing_log")))
  }
}
