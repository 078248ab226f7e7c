package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = {
    import spark.implicits._
    Seq(
      (1L, "a", 0.1 + 0.2, Seq(1.5f, -0.0f), Map("k" -> 1.0)),
      (2L, null, -0.0, Seq.empty[Float], Map.empty[String, Double]),
      (3L, "c", Double.NaN, Seq(2.0f), Map("x" -> 2.0, "y" -> 3.0)),
      (3L, "c", Double.NaN, Seq(2.0f), Map("x" -> 2.0, "y" -> 3.0)))
      .toDF("id", "s", "d", "arr", "m")
  }

  test("row order and partitioning do not change the fingerprint") {
    val base = Fingerprint(sample)
    assert(base.rows == 4)
    assert(Fingerprint(sample.orderBy(desc("id"))) == base)
    assert(Fingerprint(sample.repartition(5, col("s"))) == base)
    assert(Fingerprint(sample.select("m", "arr", "d", "s", "id")) == base)
  }

  test("content, duplicates and float noise below 8 digits") {
    val base = Fingerprint(sample)
    val oneDuplicateLess = sample.filter(col("id") =!= 3)
      .union(sample.filter(col("id") === 3).limit(1))
    assert(Fingerprint(oneDuplicateLess) != base)
    assert(Fingerprint(sample.withColumn("s", upper(col("s")))) != base)
    def scaled(f: Double) = sample.withColumn("d", col("d") * f)
    assert(Fingerprint(scaled(1 + 1e-12)) == base)
    assert(Fingerprint(scaled(1 + 1e-3)) != base)
  }

  test("the observed fingerprint equals the separate aggregate") {
    val (df, fp) = Fingerprint.observe(sample.orderBy("id"), "spec")
    df.write.format("noop").mode("overwrite").save()
    assert(fp() == Fingerprint(sample))
  }

  test("repeated column names are fingerprinted by position") {
    val twice = sample.select(col("id"), col("id"), col("s"))
    assert(Fingerprint(twice).rows == 4)
    assert(Fingerprint(twice) != Fingerprint(sample.select(col("id"), col("s"))))
  }
}
