package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-job multiset comparison for gate assertions (r20).
  *
  * The r19 gate shape — `a.localCheckpoint()`, `b.localCheckpoint()`,
  * then two `exceptAll(..).isEmpty` actions — spends FOUR jobs per
  * comparison (two checkpoint materializations plus two except jobs),
  * and each job pays the local-mode job floor even when the frames are
  * 50 rows. Multiset equality has a one-pass formulation: tag side A's
  * rows +1 and side B's rows −1, group by every data column, and check
  * that each group's tag sum is zero — exactly `count_A(r) == count_B(r)`
  * for every distinct row r, which is the same predicate the pair of
  * exceptAlls tests. Each input lineage is evaluated exactly ONCE
  * (the union consumes both), so no checkpoint is needed for the
  * comparison itself, and the null/NaN/-0.0 key semantics match
  * exceptAll (both group null-safely with normalized floats).
  *
  * [[multisetEqualCounts]] additionally returns each side's row count
  * from the SAME aggregate as the mismatch count — gates that previously
  * ran a separate `.count()` action per side fold those in for free. */
object DfCompare {

  /** Multiset equality of two same-schema frames in one job. */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    multisetEqualCounts(a, b)._1

  /** (equal, |a| rows, |b| rows) — one job, each input evaluated once. */
  def multisetEqualCounts(a: DataFrame, b: DataFrame): (Boolean, Long, Long) = {
    val r = taggedGroups(a, b)
      .agg(count(when(col("__na") =!= col("__nb"), lit(1))),
        coalesce(sum(col("__na")), lit(0L)), coalesce(sum(col("__nb")), lit(0L)))
      .head()
    (r.getLong(0) == 0L, r.getLong(1), r.getLong(2))
  }

  private def taggedGroups(a: DataFrame, b: DataFrame): DataFrame = {
    require(a.columns.length == b.columns.length,
      s"DfCompare: column arity differs (${a.columns.length} vs ${b.columns.length})")
    val keys = a.columns.toSeq
    a.select(keys.map(col) :+ lit(1L).as("__side"): _*)
      .unionAll(b.select(b.columns.toSeq.map(col) :+ lit(-1L).as("__side"): _*))
      .groupBy(keys.map(col): _*)
      .agg(count(when(col("__side") === 1L, lit(1))).as("__na"),
        count(when(col("__side") === -1L, lit(1))).as("__nb"))
  }

  /** `a.exceptAll(b).count() + b.exceptAll(a).count()` in one job:
    * Σ over distinct rows of |count_a − count_b|. */
  def symmetricDiffAllCount(a: DataFrame, b: DataFrame): Long =
    taggedGroups(a, b)
      .agg(coalesce(sum(abs(col("__na") - col("__nb"))), lit(0L)))
      .head().getLong(0)

  /** `a.except(b).count() + b.except(a).count()` (DISTINCT semantics)
    * in one job: the number of distinct rows present on exactly one
    * side. */
  def symmetricExceptCount(a: DataFrame, b: DataFrame): Long =
    taggedGroups(a, b)
      .filter(col("__na") === 0L || col("__nb") === 0L)
      .count()
}
