package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query physical-plan fingerprints, persisted per round so a plan
  * change is diffable the round it happens instead of surfacing as
  * bench archaeology two rounds later (the r11 GlobalRank lesson).
  *
  * For every headline query, the PREPARED physical plan is reduced to
  * a sorted operator-class multiset. The fingerprint is deliberately
  * coarse: stable across attribute-id churn and literal changes,
  * sensitive to exactly the things a plan regression is made of — a
  * new exchange, a lost whole-stage span, a join strategy flip, an
  * extra sort. Plans are captured with AQE off and auto-broadcast at
  * -1 (the PlanAuditSweepSpec discipline), so every exchange the
  * planner would need is statically visible and size-threshold noise
  * at test SF cannot flap the diff.
  *
  * Sink-gate and stream queries (r19 — previously the 43-key
  * NO-FINGERPRINT hole that cost r17 a round of machine-episode
  * archaeology) execute side effects at frame-construction time, so
  * their prepared plan alone is just the final audit read. For those,
  * the gate RUNS under a [[QueryExecutionListener]] and the
  * fingerprint is the operator multiset UNION of every batch plan the
  * run executes — the foreachBatch bodies, the scratch writes, the
  * drain reads — plus the returned frame's own plan. Streaming's
  * internal micro-batch plans for non-foreachBatch sinks don't cross
  * the listener; what does cross it is exactly the code this repo
  * owns, which is what a diff needs to attribute a mover. Each distinct
  * captured plan counts once, so the number of micro-batches a run
  * happens to execute does not move the fingerprint.
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.01 PLANS.json"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "PLANS.json"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def countInto(counts: scala.collection.mutable.Map[String, Int],
                  plan: org.apache.spark.sql.execution.SparkPlan): Unit =
      plan.foreach(p =>
        counts.update(p.getClass.getSimpleName,
          counts.getOrElse(p.getClass.getSimpleName, 0) + 1))

    def render(counts: collection.Map[String, Int]): String =
      counts.toSeq.sorted
        .map { case (op, c) => s"\"$op\":$c" }
        .mkString("{", ",", "}")

    // QueryExecutionListener events ride the shared listener bus
    // ASYNCHRONOUSLY — between gate captures the bus must drain or one
    // gate's tail events would land in the next gate's multiset. The
    // drain API is private[spark] (public in bytecode), so reflection;
    // a bounded sleep is the fallback if the method ever moves.
    def drainBus(): Unit =
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .map(_.invoke(bus))
          .getOrElse(bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(30000L)))
        ()
      } catch { case _: Throwable => Thread.sleep(2000) }

    // each DISTINCT captured plan counts once: a stream gate runs a
    // number of micro-batches that varies from run to run, and their
    // plans repeat
    class CaptureListener extends QueryExecutionListener {
      val plans = scala.collection.mutable.Set[Map[String, Int]]()
      private def add(qe: QueryExecution): Unit = synchronized {
        try {
          val counts = scala.collection.mutable.Map[String, Int]()
          countInto(counts, qe.executedPlan)
          plans += counts.toMap
        } catch { case _: Throwable => () }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }

    val isGate = (n: String) => n.startsWith("stream_") || Bench.sinkGateNames(n)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) =>
        val fp =
          try {
            if (isGate(name)) {
              val cap = new CaptureListener
              drainBus() // don't inherit the previous query's stragglers
              spark.listenerManager.register(cap)
              try {
                val df = fn(spark, sfDir) // side effects run HERE
                drainBus()
                val counts = scala.collection.mutable.Map[String, Int]()
                countInto(counts, df.asInstanceOf[ClassicDataset[_]]
                  .queryExecution.executedPlan)
                cap.synchronized(cap.plans.foreach(_.foreach { case (op, c) =>
                  counts.update(op, counts.getOrElse(op, 0) + c)
                }))
                render(counts)
              } finally {
                drainBus()
                spark.listenerManager.unregister(cap)
              }
            } else {
              val plan = fn(spark, sfDir)
                .asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan
              val counts = scala.collection.mutable.Map[String, Int]()
              countInto(counts, plan)
              render(counts)
            }
          } catch {
            case e: Throwable =>
              "{\"__plan_error\":\"" +
                e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(160) + "\"}"
          }
        s"  \"$name\": $fp"
      }
    val json = rows.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"PLANDUMP wrote ${rows.length} fingerprints to $outPath")
    spark.stop()
  }
}
