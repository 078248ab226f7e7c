package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Analytics, Bounded, CorpusAnalytics, Sketches}

/** The bounded collect every driver-sized read goes through: its cap
  * edge, its id-type test, its job count on local and partitioned
  * frames, and the five fail-fast caps built on it. */
class BoundedSpec extends SparkSpec {
  import spark.implicits._

  private def ids(rows: Option[Array[Row]]): Option[Seq[Long]] =
    rows.map(_.map(_.getAs[Number](0).longValue).toSeq.sorted)

  /** The shape the MinHash driver arm hands on: a projection with casts
    * over local rows. */
  private def localPairs(n: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id_b", LongType, nullable = false),
      StructField("id_a", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList((1 to n).map(i => Row(i + 1L, i.toLong)): _*), schema)
      .select(col("id_a").cast(IntegerType).as("id_a"), col("id_b").cast(IntegerType).as("id_b"))
  }

  test("Some at exactly cap rows, None at cap + 1, on local and partitioned frames") {
    val partitioned = spark.range(0, 10, 1, 4).toDF("id")
    assert(ids(Bounded.collect(partitioned, 10)) == Some(0L until 10L))
    assert(Bounded.collect(partitioned, 9).isEmpty)
    assert(ids(Bounded.collect(localPairs(5), 5)) == Some(1L to 5L))
    assert(Bounded.collect(localPairs(5), 4).isEmpty)
    assert(Bounded.collect(localPairs(0), 0).exists(_.isEmpty))
    assert(Bounded.collect(localPairs(1), 0).isEmpty)
  }

  test("a local frame, also under a select and cast, is read with no job") {
    val plain = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val (a, jobsPlain) = countJobs(Bounded.collect(plain, 2, "id_a", "id_b"))
    assert(ids(a) == Some(Seq(1L, 2L)) && jobsPlain == 0, s"$jobsPlain job(s)")
    val (b, jobsCast) = countJobs(Bounded.collect(localPairs(3).select(col("id_a"), col("id_b")),
      3, "id_a", "id_b"))
    assert(ids(b) == Some(Seq(1L, 2L, 3L)) && jobsCast == 0, s"$jobsCast job(s)")
    assert(b.get.head.schema("id_a").dataType == IntegerType)
  }

  test("no more jobs than collect() on a 4-partition frame, under and over the cap") {
    val frames = Seq(
      "range" -> spark.range(0, 40, 1, 4).toDF("id"),
      "checkpoint" -> spark.range(0, 40, 1, 4).toDF("id").localCheckpoint(),
      "shuffle" -> spark.range(0, 40, 1, 4).toDF("id").repartition(4, col("id")))
    assert(frames.take(2).forall(_._2.rdd.getNumPartitions == 4))
    frames.foreach { case (name, df) =>
      val (all, plain) = countJobs(df.collect())
      val (under, jobsUnder) = countJobs(Bounded.collect(df, 40))
      val (over, jobsOver) = countJobs(Bounded.collect(df, 39))
      assert(ids(under) == Some(all.map(_.getLong(0)).toSeq.sorted) && over.isEmpty, name)
      assert(plain >= 1 && jobsUnder <= plain && jobsOver <= plain,
        s"$name: collect() $plain, bounded $jobsUnder under and $jobsOver over the cap")
    }
  }

  test("a non-integral id column gives None without running anything") {
    val partitioned = spark.range(0, 8, 1, 4).select(col("id").cast("string").as("id"))
    val (rows, jobs) = countJobs(Bounded.collect(partitioned, 100, "id"))
    assert(rows.isEmpty && jobs == 0, s"$jobs job(s)")
    Seq(ByteType, ShortType, IntegerType, LongType).foreach(t => assert(Bounded.integral(t)))
    Seq(DoubleType, DecimalType(20, 0), StringType).foreach(t => assert(!Bounded.integral(t)))
  }

  test("rejects cap = -1 and cap = Int.MaxValue") {
    Seq(-1, Int.MaxValue).foreach { cap =>
      val e = intercept[IllegalArgumentException](Bounded.collect(localPairs(1), cap))
      assert(e.getMessage.contains(cap.toString))
    }
  }

  test("the five fail-fast caps return at the true distinct count and raise one below it") {
    val types = Tables.events(spark, sf).select("event_type").distinct().count().toInt
    val sources = Tables.documents(spark, sf).select("source").distinct().count().toInt
    val caps: Seq[(String, Int, Int => DataFrame, Int => String)] = Seq(
      ("cms_probe maxKeys", types,
        c => Sketches.cmsProbe(spark, sf, maxKeys = c), c => s"maxKeys=$c"),
      ("theta_overlap maxTypes", types,
        c => Sketches.thetaOverlap(spark, sf, maxTypes = c), c => s"maxTypes=$c"),
      ("kll_rollup maxTypes", types,
        c => Sketches.kllRollup(spark, sf, maxTypes = c), c => s"maxTypes=$c"),
      ("q_dynamic_pivot maxValues", types,
        c => Analytics.dynamicPivot(spark, sf, maxValues = c), c => s"exceeds $c distinct values"),
      ("source_interleave maxSources", sources,
        c => CorpusAnalytics.sourceInterleave(spark, sf, maxSources = c), c => s"maxSources=$c"))
    caps.foreach { case (name, n, build, names) =>
      assert(n >= 2, s"$name: $n distinct values")
      assert(!build(n).isEmpty, name)
      val e = intercept[IllegalArgumentException](build(n - 1))
      assert(e.getMessage.contains(names(n - 1)), s"$name: ${e.getMessage}")
    }
  }
}
