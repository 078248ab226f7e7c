package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("local[4]", None,
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
