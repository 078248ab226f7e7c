package graft

/** The one-job multiset comparison the gates and the arm specs use. */
class DfCompareSpec extends SparkSpec {
  import spark.implicits._

  test("multisetEqualCounts: two empty frames, empty against non-empty, and an equal pair") {
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val rows = Seq((1L, "a"), (1L, "a"), (2L, null), (3L, "c")).toDF("k", "v")
    assert(DfCompare.multisetEqualCounts(empty, empty) == ((true, 0L, 0L)))
    assert(DfCompare.multisetEqualCounts(empty, rows) == ((false, 0L, 4L)))
    assert(DfCompare.multisetEqualCounts(rows, empty) == ((false, 4L, 0L)))
    val permuted = Seq((3L, "c"), (1L, "a"), (2L, null), (1L, "a")).toDF("k", "v")
    assert(DfCompare.multisetEqualCounts(rows, permuted) == ((true, 4L, 4L)))
    // same distinct rows, different multiplicities
    assert(!DfCompare.multisetEqual(rows, rows.distinct()))
  }
}
