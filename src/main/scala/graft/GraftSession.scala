package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session setup every graft entry point shares: UTC
  * session time and no UI, plus the caller's master, confs and log
  * level (`None` keeps Spark's configured level).
  *
  *   GraftSession("local[4]", Some("WARN"), "spark.sql.shuffle.partitions" -> "4")
  */
object GraftSession {
  def apply(master: String, logLevel: Option[String],
            confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    logLevel.foreach(spark.sparkContext.setLogLevel)
    spark
  }
}
