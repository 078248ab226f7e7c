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
