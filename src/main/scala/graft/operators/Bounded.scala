package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftfn.PlanBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** The one bounded collect: the driver arms choose their arm with it and
  * the fail-fast caps raise past their cap with it. */
private[graft] object Bounded {

  /** The id types a driver arm reads as longs. */
  def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `df`'s rows when it holds at most `cap` rows and every `ids` column
    * is [[integral]], else `None` (with no job when an id is not). The
    * probe `df.limit(cap + 1)` is planned once and collected in no more
    * jobs than `df.collect()`: none over local rows (the limit folds into
    * the local relation), one over any number of partitions
    * ([[PlanBridge.collectLimited]]). */
  def collect(df: DataFrame, cap: Int, ids: String*): Option[Array[Row]] = {
    // so that cap + 1 cannot overflow
    require(cap >= 0 && cap < Int.MaxValue, s"bounded collect: cap must be in [0, Int.MaxValue): $cap")
    val probe = df.limit(cap + 1)
    if (!ids.forall(c => integral(probe.schema(c).dataType))) None
    else Some(PlanBridge.collectLimited(probe)).filter(_.length <= cap)
  }
}
