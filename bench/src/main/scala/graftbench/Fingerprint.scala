package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a query result.
  *
  * Each row is hashed over its columns in column-name order; the hash is
  * the multiset sum of the row hashes, so row order and partitioning do
  * not matter while duplicates still do. Floating-point values are
  * compared at 8 significant digits (and -0.0 as 0.0), so a change in
  * summation order across partitions does not read as a wrong result. */
object Fingerprint {

  final case class Result(rows: Long, hash: String)

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.8g", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** The frame to aggregate (renamed by position only when column names
    * repeat), its three aggregates, and the schema string. */
  private def parts(df: DataFrame): (DataFrame, Seq[Column], String) = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val unique = df.columns.distinct.length == df.columns.length
    val base = if (unique) df else df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def ref(name: String, i: Int) = if (unique) col(s"`$name`") else col(s"c$i")
    val h = xxhash64(fields.map { case (f, i) => norm(ref(f.name, i), f.dataType) }: _*)
    // the 64-bit hash summed as two 32-bit halves: no overflow below 2^31 rows
    val aggs = Seq(count(lit(1)).as("fp_rows"), sum(shiftright(h, 32)).as("fp_hi"),
      sum(h.bitwiseAND(0xffffffffL)).as("fp_lo"))
    val schema = fields.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }.mkString(",")
    (base, aggs, schema)
  }

  private def result(schema: String, rows: Long, hi: Any, lo: Any): Result = {
    def long(x: Any) = if (x == null) 0L else x.asInstanceOf[Long]
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$schema|$rows|${long(hi)}|${long(lo)}".getBytes("UTF-8"))
    Result(rows, digest.take(12).map("%02x".format(_)).mkString)
  }

  /** Fingerprint by a separate aggregate over the result. */
  def apply(df: DataFrame): Result = {
    val (base, aggs, schema) = parts(df)
    val r: Row = base.agg(aggs.head, aggs.tail: _*).head()
    result(schema, r.getLong(0), r.get(1), r.get(2))
  }

  /** The result with the fingerprint riding on it as an observed metric:
    * an action on the returned frame computes both, and the function
    * reads the fingerprint once that action has succeeded. */
  def observe(df: DataFrame, name: String): (DataFrame, () => Result) = {
    val (base, aggs, schema) = parts(df)
    val obs = Observation(name)
    val observed = base.observe(obs, aggs.head, aggs.tail: _*)
    (observed, () => {
      val m = obs.get
      result(schema, m("fp_rows").asInstanceOf[Long], m("fp_hi"), m("fp_lo"))
    })
  }
}
