package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.SparkBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Records, from outside the program, what Spark did for each traced
  * operation: its jobs (with call site, stages, tasks and summed task
  * metrics) and its SQL executions (planning phases, final-plan
  * exchanges and scans, JDBC target table).
  *
  * A job belongs to the operation named by the harness's own local
  * property [[Tracer.OpKey]] (inherited by threads Spark spawns for the
  * job), never by job group, so tagging inside the program cannot
  * clobber it. Its layer is the repo package of the first graft frame
  * of its call site. Everything stays in memory until [[report]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Job(val id: Int, val op: String, val phase: String,
                  val execId: Long, val rootExecId: Long,
                  val stageSite: String, val start: Long) {
    var end: Long = start
    var ok: Boolean = false
    var stages, tasks = 0
    var runMs, cpuNs, inBytes, inRecords, shuffleWrite, shuffleRead, spill,
        peakMem, gcMs = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val execs = mutable.Map[Long, Exec]()             // by QueryExecution id
  private val execStart = mutable.Map[Long, (Long, String)]() // by execution id
  private val qeExec = mutable.Map[Long, Long]()             // QueryExecution id -> execution id

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val op = if (p == null) null else p.getProperty(OpKey)
    if (op != null) {
      def id(k: String) = Option(p.getProperty(k)).map(_.toLong).getOrElse(-1L)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val j = new Job(e.jobId, op, Option(p.getProperty(PhaseKey)).getOrElse(""),
        id("spark.sql.execution.id"), id("spark.sql.execution.root.id"), site, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecords += m.inputMetrics.recordsRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.gcMs += m.jvmGCTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execStart(s.executionId) = (s.time, s.details) }
    case s: SparkListenerSQLExecutionEnd =>
      SparkBridge.queryExecutionId(s).foreach(q => synchronized { qeExec(q) = s.executionId })
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, s) => k -> (s.endTimeMs - s.startTimeMs).toDouble }
    val (exchanges, scans) =
      try PlanCounts(qe.executedPlan) catch { case _: Throwable => (0, 0) }
    val table = qe.logical match {
      case c: SaveIntoDataSourceCommand =>
        c.options.find(_._1.equalsIgnoreCase("dbtable")).map(_._2)
      case _ => None
    }
    synchronized { execs(qe.id) = Exec(qe.id, phases, exchanges, scans, table, ok) }
  }

  /** Per-operation job and execution records, for operations given as
    * (op id, start ms, end ms). Call after the listener bus drained.
    *
    * A job's call site is the one its root SQL execution recorded on
    * the thread that ran the action; stage submission may happen on
    * Spark's own threads, whose stacks hold no program frame. A job
    * outside any SQL execution (a plain RDD job) keeps its stage's. */
  def report(ops: Seq[(String, Long, Long)]): Map[String, Any] = synchronized {
    val byOp = jobs.values.groupBy(_.op)
    def site(j: Job): (String, String) = {
      val s = Seq(j.rootExecId, j.execId).flatMap(execStart.get).map(_._2)
        .find(_.contains("graft")).getOrElse(j.stageSite)
      callSiteLayer(s)
    }
    // an execution belongs to the op whose jobs ran it; one that ran no
    // job belongs to the op whose interval holds its start
    val execOp = mutable.Map[Long, String]()
    jobs.values.foreach { j =>
      if (j.execId >= 0) execOp(j.execId) = j.op
      if (j.rootExecId >= 0) execOp.getOrElseUpdate(j.rootExecId, j.op)
    }
    execStart.foreach { case (id, (t, _)) =>
      if (!execOp.contains(id))
        ops.findLast { case (_, s, e) => s <= t && t <= e }.foreach(o => execOp(id) = o._1)
    }
    val byExecId = execs.values.flatMap(x => qeExec.get(x.id).map(_ -> x)).toMap
    val tableOf = byExecId.flatMap { case (id, x) => x.jdbcTable.map(id -> _) }
    val execsByOp = byExecId.groupBy { case (id, _) => execOp.getOrElse(id, "") }
      .map { case (op, m) => op -> m.toSeq.sortBy(_._1).map(_._2) }
    ops.map { case (op, _, _) =>
      val js = byOp.getOrElse(op, Nil).toSeq.sortBy(_.id)
      val xs = execsByOp.getOrElse(op, Nil)
      op -> Map(
        "jobs" -> js.map { j =>
          val (layer, file) = site(j)
          Map("id" -> j.id, "phase" -> j.phase, "layer" -> layer, "file" -> file,
            "start_ms" -> j.start, "end_ms" -> j.end, "ok" -> j.ok,
            "jdbc_table" -> tableOf.get(j.rootExecId).orElse(tableOf.get(j.execId)),
            "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
            "cpu_ns" -> j.cpuNs, "input_bytes" -> j.inBytes,
            "input_records" -> j.inRecords, "shuffle_write_bytes" -> j.shuffleWrite,
            "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
            "peak_exec_mem" -> j.peakMem, "task_gc_ms" -> j.gcMs)
        },
        "executions" -> xs.map { x =>
          Map("ok" -> x.ok, "exchanges" -> x.exchanges, "scans" -> x.scans,
            "analysis_ms" -> x.phases.getOrElse("analysis", 0.0),
            "optimizer_ms" -> x.phases.getOrElse("optimization", 0.0),
            "planning_ms" -> x.phases.getOrElse("planning", 0.0),
            "jdbc_table" -> x.jdbcTable)
        })
    }.toMap
  }
}

object Tracer {
  final case class Exec(id: Long, phases: Map[String, Double], exchanges: Int,
                        scans: Int, jdbcTable: Option[String], ok: Boolean)

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** (layer, file) of the first graft frame of a long-form call site.
    * Layers are the repo's packages; the CLI driver and day pipeline
    * form the `pipeline` layer, and the harness's own timed action is
    * `harness`. */
  def callSiteLayer(longForm: String): (String, String) = {
    val frame = longForm.split("\n").iterator.map(_.trim)
      .find(f => f.startsWith("graft.") || f.startsWith("graftbench."))
    frame match {
      case None => ("other", "")
      case Some(f) =>
        val cls = f.takeWhile(_ != '(')
        val file = f.dropWhile(_ != '(').drop(1).takeWhile(c => c != '.' && c != ':' && c != ')')
        val layer =
          if (cls.startsWith("graftbench.")) "harness"
          else if (file == "EtlPipeline" || file == "Main") "pipeline"
          else if (file == "Tables") "sources"
          else cls.split('.') match {
            case Array("graft", pkg, _*) if Layers.contains(pkg) => pkg
            case _ => "other"
          }
        (layer, file)
    }
  }

  private val Layers =
    Set("sources", "operators", "functions", "plans", "sinks", "streaming")
}

/** Exchange and scan nodes of an executed plan, looking inside adaptive
  * query stages and subqueries. Reused exchanges are not counted. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val exchanges = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    val scans = collectWithSubqueries(plan) {
      case s: DataSourceScanExec => s
      case s: DataSourceV2ScanExecBase => s
    }.size
    (exchanges, scans)
  }
}
