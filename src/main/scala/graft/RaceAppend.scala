package graft

import org.apache.spark.sql.functions._

/** Multi-PROCESS commit-race driver for the graft-atomic sink: one JVM
  * per committer, so the CAS claim is exercised across real process
  * boundaries (no shared in-memory state, no common lock — only the
  * filesystem primitive arbitrates). CommitStoreSpec spawns two of
  * these against one table root and asserts every tagged append from
  * both processes is visible exactly once.
  *
  * Args: <root> <who> <nAppends>. Exit 0 iff all appends committed.
  */
object RaceAppend {
  def main(args: Array[String]): Unit = {
    val Array(root, who, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = GraftSession("local[2]", Some("ERROR"),
      "spark.sql.shuffle.partitions" -> "2")
    try {
      (0 until n).foreach { i =>
        spark.range(0, 1, 1, 1).select(
          lit(s"$who-$i").as("src"), col("id").cast("long").as("n"))
          .write.format("graft-atomic")
          .option("graft.tag", s"tag-$who-$i")
          .mode("append").save(root)
      }
      println(s"RACEAPPEND $who committed $n")
    } finally spark.stop()
  }
}
