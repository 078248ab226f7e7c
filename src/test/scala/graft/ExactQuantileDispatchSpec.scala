package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Pins the r20 size-adaptive [[Relational.exactQuantiles]] dispatch:
  * both arms (GlobalRank rank-bracket vs two-phase binned selection)
  * must produce ROW-IDENTICAL output — the dispatch may change the
  * plan, never the result — and the arm choice must follow the
  * `spark.graft.select.binnedMinBytes` threshold, with non-dyadic p
  * always falling back to the rank arm. */
class ExactQuantileDispatchSpec extends SparkSpec {

  private val key = "spark.graft.select.binnedMinBytes"

  private def withThreshold[T](bytes: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // tie-heavy groups: integer-valued doubles, several duplicated runs,
  // group sizes chosen so ⌈p·n⌉ lands on and between tie plateaus
  private lazy val df = {
    import spark.implicits._
    val rows = for {
      g <- Seq("a", "b", "c")
      i <- 1 to (g match { case "a" => 101; case "b" => 64; case _ => 7 })
    } yield (g, ((i * 7919) % 13).toDouble) // many exact ties per group
    rows.toDF("grp", "value")
  }

  // the same groups plus one whose values are partly null and one whose
  // values are all null: both arms rank only the non-null values
  private lazy val withNulls = {
    import spark.implicits._
    val nulls = (1 to 11).map(i =>
      ("d", if (i % 3 == 0) None else Some(((i * 31) % 5).toDouble))) ++
      Seq(("e", None), ("e", None))
    df.union(nulls.toDF("grp", "value"))
  }

  private val ps = Seq(0.25, 0.5, 0.75)

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.select(col("grp"), col("p"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet

  test("both dispatch arms are row-identical on tie-heavy groups") {
    import spark.implicits._
    for (input <- Seq(df, withNulls)) {
      val rankArm = withThreshold(Long.MaxValue.toString) {
        rows(Relational.exactQuantiles(input, Seq("grp"), "value", ps))
      }
      val binnedArm = withThreshold("0") {
        rows(Relational.exactQuantiles(input, Seq("grp"), "value", ps))
      }
      assert(rankArm == binnedArm, s"rank=$rankArm binned=$binnedArm")
      // and both match a literal sort-based oracle over the non-null values
      val oracle = input.as[(String, Option[Double])].collect().groupBy(_._1).flatMap {
        case (g, vs) =>
          val sorted = vs.flatMap(_._2).sorted
          if (sorted.isEmpty) Nil
          else ps.map(p => (g, p, sorted(math.ceil(sorted.length * p).toInt - 1)))
      }.toSet
      assert(rankArm == oracle, s"rank=$rankArm oracle=$oracle")
    }
  }

  test("threshold picks the arm; non-dyadic p always takes the rank arm") {
    import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
    def planOf(d: org.apache.spark.sql.DataFrame): String =
      d.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan.toString
    val small = withThreshold(Long.MaxValue.toString) {
      planOf(Relational.exactQuantiles(df, Seq("grp"), "value", ps))
    }
    assert(small.contains("GlobalRank"), small)
    val big = withThreshold("0") {
      planOf(Relational.exactQuantiles(df, Seq("grp"), "value", ps))
    }
    // binned arm: no range exchange, no GlobalRank — a histogram
    // aggregate + resolve join instead
    assert(!big.contains("GlobalRank"), big)
    assert(!big.toLowerCase.contains("rangepartitioning"), big)
    // 0.9 is not a small dyadic rational → rank arm even above threshold
    val nonDyadic = withThreshold("0") {
      planOf(Relational.exactQuantiles(df, Seq("grp"), "value", Seq(0.9)))
    }
    assert(nonDyadic.contains("GlobalRank"), nonDyadic)
  }

  test("binnedRankAt == value-at-rank sort oracle, incl. boundary ranks 1 and n") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // the GK gate's bound ranks plus the extremes
    val targets = Seq[(String, Column => Column)](
      "r1"   -> ((n: Column) => lit(1L)),
      "rn"   -> ((n: Column) => n),
      "mid-" -> ((n: Column) => greatest(lit(1), ceil(n * 0.5) - (ceil(n / lit(10000)) + lit(1)))),
      "mid+" -> ((n: Column) => least(n, ceil(n * 0.5) + (ceil(n / lit(10000)) + lit(1)))))
    val got = operators.Analytics.binnedRankAt(df, "grp", "value", targets)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val oracle = df.as[(String, Double)].collect().groupBy(_._1).flatMap {
      case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val n = sorted.length.toLong
        def eps = math.ceil(n / 10000.0).toLong + 1
        Seq(
          (g, "r1", sorted(0)),
          (g, "rn", sorted(n.toInt - 1)),
          (g, "mid-", sorted((math.max(1L, math.ceil(n * 0.5).toLong - eps) - 1).toInt)),
          (g, "mid+", sorted((math.min(n, math.ceil(n * 0.5).toLong + eps) - 1).toInt)))
    }.toSet
    assert(got == oracle, s"got $got vs oracle $oracle")
  }
}
