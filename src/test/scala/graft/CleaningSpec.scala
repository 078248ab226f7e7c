package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cleaning, Enrich}
import graft.sinks.Sinks
import graft.sources.Readers

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("cleanColumnNames strips braces and trims") {
    val df = Seq((1, 2, 3)).toDF("{a}", " b ", "{ c }")
    assert(Cleaning.cleanColumnNames(df).columns.toSeq == Seq("a", "b", "c"))
  }

  test("unionMerge tolerates disjoint columns with null fill") {
    val a = Seq((1L, "x")).toDF("id", "left_only")
    val b = Seq((2L, 9.5)).toDF("id", "right_only")
    val m = Cleaning.unionMerge(Seq(a, b))
    assert(m.columns.toSet == Set("id", "left_only", "right_only"))
    assert(m.count() == 2)
    assert(m.filter(col("left_only").isNull).count() == 1)
  }

  test("dropEmptyColumns drops all-null, keeps partially-null") {
    val df = Seq((1, Some("x")), (2, None)).toDF("id", "half")
      .withColumn("ghost", lit(null).cast("string"))
    assert(Cleaning.dropEmptyColumns(df).columns.toSeq == Seq("id", "half"))
  }

  test("coerceUnixTimestamps converts seconds/millis/micros, skips missing + non-numeric") {
    val df = Seq((1705276800L, 1705276800000L, "notnum")).toDF("s", "ms", "str")
    val out = Enrich.coerceUnixTimestamps(
      Enrich.coerceUnixTimestamps(df, Seq("s", "absent", "str"), "s"),
      Seq("ms"), "ms")
    val r = out.select(
      date_format(col("s_datetime"), "yyyy-MM-dd HH:mm:ss"),
      date_format(col("ms_datetime"), "yyyy-MM-dd HH:mm:ss")).head()
    assert(r.getString(0) == "2024-01-15 00:00:00")
    assert(r.getString(1) == "2024-01-15 00:00:00")
    assert(!out.columns.contains("absent_datetime"))
    assert(!out.columns.contains("str_datetime"))
  }

  test("addMetadata adds its three columns with fixed types and nullability") {
    import org.apache.spark.sql.types._
    val at = java.sql.Timestamp.valueOf("2024-01-16 08:00:00")
    val df = Enrich.addMetadata(Seq((1, "x")).toDF("id", "v"), "2024-01-15", 3L, at)
    assert(df.schema.takeRight(3) == Seq(
      StructField("processed_date", TimestampType, nullable = false),
      StructField("source_date", DateType, nullable = true),
      StructField("files_merged_count", LongType, nullable = false)))
    assert(df.select("processed_date", "source_date", "files_merged_count").head().toSeq ==
      Seq(at, java.sql.Date.valueOf("2024-01-15"), 3L))
  }

  test("jdbc reader options carry partitioned-read config (A7)") {
    val opts = Readers.jdbcOptions("jdbc:postgresql://db:5432/wh", "t", "u", "p",
      Some(("id", 0L, 1000L, 16)))
    assert(opts("partitionColumn") == "id")
    assert(opts("numPartitions") == "16")
    assert(opts("fetchsize") == "10000")
  }

  test("jdbc sink options batch and rewrite inserts (C1)") {
    val opts = Sinks.jdbcWriteOptions(
      Sinks.JdbcConfig("jdbc:postgresql://db:5432/wh", "t", "u", "p", batchSize = 5000))
    assert(opts("batchsize") == "5000")
    assert(opts("reWriteBatchedInserts") == "true")
  }
}
