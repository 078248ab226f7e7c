package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.graftfn.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan tool: per-path physical-plan fingerprints, so a plan change
  * is diffable (`tools/plandiff.py`) the change it happens in instead of
  * surfacing as bench archaeology later.
  *
  *   sbt "runMain graft.PlanDump <sfDir> [PLANS.json]"
  *   sbt "runMain graft.PlanDump <sfDir> --explain <outDir> <suffix> <query>..."
  *
  * A fingerprint is a sorted operator-class multiset. It is deliberately
  * coarse: stable across attribute-id churn and literal changes,
  * sensitive to exactly the things a plan regression is made of — a
  * new exchange, a lost whole-stage span, a join strategy flip, an
  * extra sort. Plans are captured with AQE off and auto-broadcast at
  * -1 (the PlanAuditSweepSpec discipline), so every exchange the
  * planner would need is statically visible and size-threshold noise
  * at test SF cannot flap the diff.
  *
  * One rule covers every registered path ([[fingerprint]]): the frame
  * is built under a [[QueryExecutionListener]], and the fingerprint is
  * the union of the returned frame's executed plan with every distinct
  * plan executed while the frame was built and planned. A path whose
  * construction runs nothing fingerprints to its own plan; a sink or
  * stream gate, whose frame is only the final audit read, also counts
  * its foreachBatch bodies, scratch writes and drain reads — the code
  * this repo owns, which is what a diff needs to attribute a mover.
  * Streaming's internal micro-batch plans for non-foreachBatch sinks do
  * not cross the listener. Each distinct captured plan counts once, so
  * the number of micro-batches a run happens to execute does not move
  * the fingerprint. The dump exits 1, after writing its file, when any
  * path failed to plan.
  *
  * `--explain` writes `.explain("formatted")` of the named paths to
  * `<outDir>/<query>_<suffix>.txt` instead, with AQE off and the default
  * auto-broadcast so join strategies match what a run picks. Both modes
  * exit 2 on bad usage; an unknown query name is bad usage.
  */
object PlanDump {

  val FingerprintConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val ExplainConfs =
    FingerprintConfs.filterNot(_._1 == "spark.sql.autoBroadcastJoinThreshold")

  private val usage =
    "usage: PlanDump <sfDir> [out.json, default PLANS.json]\n" +
      "       PlanDump <sfDir> --explain <outDir> <suffix> <query> [query ...]"

  def operatorCounts(plan: SparkPlan): Map[String, Int] =
    plan.map(_.getClass.getSimpleName).groupMapReduce(identity)(_ => 1)(_ + _)

  private class CaptureListener extends QueryExecutionListener {
    private val plans = scala.collection.mutable.Set[Map[String, Int]]()
    def captured: Seq[Map[String, Int]] = synchronized(plans.toSeq)
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      try { val counts = operatorCounts(qe.executedPlan); synchronized(plans += counts) }
      catch { case _: Throwable => () }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** The fingerprint of registered path `name` (see the object doc).
    * Listener events arrive asynchronously, so the bus is drained before
    * the capture starts (no straggler from the previous path) and again
    * before it is read. */
  def fingerprint(spark: SparkSession, name: String, sfDir: String): Map[String, Int] = {
    val cap = new CaptureListener
    PlanBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(cap)
    try {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan
      PlanBridge.drainListenerBus(spark.sparkContext)
      (operatorCounts(plan) +: cap.captured).flatten
        .groupMapReduce(_._1)(_._2)(_ + _)
    } finally spark.listenerManager.unregister(cap)
  }

  /** Explain-mode arguments `<outDir> <suffix> <query>...`, or the usage
    * error. */
  def explainArgs(args: Seq[String]): Either[String, (String, String, Seq[String])] =
    args match {
      case outDir +: suffix +: names if names.nonEmpty =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        if (unknown.isEmpty) Right((outDir, suffix, names))
        else Left(s"unknown queries: ${unknown.mkString(", ")} " +
          "(valid names are the SparkEntry.queries keys)")
      case _ => Left(usage)
    }

  def main(args: Array[String]): Unit = args.indexOf("--explain") match {
    case -1 if args.length == 1 || args.length == 2 =>
      dump(args(0), args.lift(1).getOrElse("PLANS.json"))
    case 1 => explain(args(0), args.drop(2).toSeq)
    case _ => System.err.println(usage); sys.exit(2)
  }

  private def dump(sfDir: String, outPath: String): Unit = {
    // a fresh warehouse, so the pass caches (TermTable, GramTable) build
    // inside the dump and no fingerprint depends on what an earlier run
    // left in the working directory
    val warehouse = Files.createTempDirectory("graft_plandump")
    val spark = GraftSession("local[4]", Some("WARN"),
      FingerprintConfs :+ ("spark.sql.warehouse.dir" -> warehouse.toString): _*)
    val fps = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> (try Right(fingerprint(spark, name, sfDir)) catch {
        case e: Throwable => Left(e.toString.replaceAll("[\"\\\\\n\r\t]", " ").take(160))
      })
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(warehouse.toFile)
    val rows = fps.map { case (name, fp) =>
      val json = fp.fold(err => s"""{"__plan_error":"$err"}""",
        _.toSeq.sorted.map { case (op, c) => s"\"$op\":$c" }.mkString("{", ",", "}"))
      s"  \"$name\": $json"
    }
    Files.write(Paths.get(outPath), rows.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    println(s"PLANDUMP wrote ${rows.length} fingerprints to $outPath")
    val failed = fps.collect { case (name, Left(_)) => name }
    if (failed.nonEmpty) {
      System.err.println(s"PLANDUMP ${failed.length} path(s) failed to plan: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  private def explain(sfDir: String, args: Seq[String]): Unit =
    explainArgs(args) match {
      case Left(err) => System.err.println(err); sys.exit(2)
      case Right((outDir, suffix, names)) =>
        val spark = GraftSession("local[4]", Some("WARN"), ExplainConfs: _*)
        Files.createDirectories(Paths.get(outDir))
        names.foreach { name =>
          val txt = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), txt.getBytes(UTF_8))
          println(s"[explain] wrote $outDir/${name}_$suffix.txt")
        }
        spark.stop()
    }
}
