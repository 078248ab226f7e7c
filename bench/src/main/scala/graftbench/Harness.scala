package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.graftbench.SparkBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark harness. It drives graft only through its public entry
  * points, `graft.Main.run` (one CLI day) and `graft.SparkEntry.queries`
  * (one registry query, timed to the end of a `noop` write of its full
  * result), and writes raw samples to `<work>/result.json`;
  * `bench/run.py` turns them into metrics and checks them.
  *
  * One driver thread issues all work in a closed loop with one client:
  * the next day or query starts when the previous one returns. A run is
  * set-up (session, warehouse, untimed warm-up), `--passes` untraced
  * passes, then, with `--trace 1`, one traced pass with listeners
  * registered. Output checks run outside the timed passes. */
object Harness {

  final case class Args(workload: String, seed: Long, passes: Int, trace: Boolean,
                        work: String, data: String, queries: Seq[String],
                        startDate: String, days: Int, alter: Option[String], cpus: Int)

  /** One timed operation: a CLI day or one query execution. */
  final case class Op(id: String, name: String, pass: Int, startMs: Long, endMs: Long,
                      seconds: Double, buildSeconds: Double, gcMs: Long, ok: Boolean,
                      error: String, lines: Seq[String])

  /** Days in the traced pass of the etl_days workload: the last days of
    * the drop, which the untimed and timed days never reach. */
  val TracedDays = 4

  /** Untimed warm-up days of the etl_days workload, the drop's first days.
    * The first day of a JVM pays class loading and takes several times a
    * warm day; a day's time keeps falling over the next six or so days
    * while the JIT compiles its code paths. */
  val WarmupDays = 6

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    // Derby's flush policy, identical for every build under test: no
    // fsync per commit, so the sink measures graft, not the disk.
    System.setProperty("derby.system.durability", "test")
    val loadStart = loadAverage()
    val spark = session(a)
    val result =
      try {
        val w: Workload =
          if (a.workload == "etl_days") new EtlDays(spark, a) else new Queries(spark, a)
        run(spark, a, w, t0)
      } finally spark.stop()
    val out = result ++ Map("load_avg_start" -> loadStart, "load_avg_end" -> loadAverage(),
      "cpus" -> a.cpus, "workload" -> a.workload, "seed" -> a.seed)
    Files.writeString(Paths.get(a.work, "result.json"), Json(out))
  }

  /** The benchmark's only SparkSession: `local[N]` with N shuffle
    * partitions and the confs graft.Bench uses, including its codegen
    * cache size; scratch and warehouse dirs stay in the work dir. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What a workload supplies to the common run loop. */
  trait Workload {
    /** Warehouse creation and the untimed warm-up. */
    def setup(): Unit
    /** The operations of the next pass; empty when the input is used up. */
    def nextPass(): Seq[String]
    /** The operations of the traced pass, the same for every run of a seed. */
    def tracedPass: Seq[String]
    /** Run one operation; throws or returns (ok, error, build seconds, lines). */
    def runOp(sc: SparkContext, name: String): (Boolean, String, Double, Seq[String])
    /** Output check results, read after the timed phase. */
    def checks(): Map[String, Any]
  }

  private def run(spark: SparkSession, a: Args, w: Workload, t0: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    val cg0 = SparkBridge.codegenTotals()
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val cg1 = SparkBridge.codegenTotals()
    val ops = passes(sc, w, w.nextPass _, "u", a.passes)
    val cg2 = SparkBridge.codegenTotals()
    val heapMb = retainedHeapMb()

    // the traced pass runs last, on a fixed operation list, so that its
    // counts repeat exactly for a seed and its tracer state cannot reach
    // the untraced measurements
    val traced: Option[(Seq[Op], Map[String, Any])] =
      if (!a.trace) None
      else {
        val tracer = new Tracer
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        val tops = passes(sc, w, () => w.tracedPass, "t", 1)
        SparkBridge.drainListenerBus(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        val report = tracer.report(tops.map(o => (o.id, o.startMs, o.endMs)))
        Some((tops, report))
      }
    val checks = w.checks()

    Map(
      "setup_s" -> setupS,
      "retained_heap_mb" -> heapMb,
      "ops" -> ops.map(opJson),
      "checks" -> checks,
      "codegen" -> Map("setup_ms" -> (cg1._2 - cg0._2), "timed_classes" -> (cg2._1 - cg1._1)),
      "trace" -> traced.map { case (tops, report) =>
        Map("ops" -> tops.map(o => opJson(o) ++ Map("spark" -> report(o.id))))
      })
  }

  /** `count` closed-loop passes, fewer if `next` runs out. */
  private def passes(sc: SparkContext, w: Workload, next: () => Seq[String], tag: String,
                     count: Int): Seq[Op] =
    (0 until count).iterator.map(p => (p, next())).takeWhile(_._2.nonEmpty).flatMap {
      case (pass, names) =>
        names.zipWithIndex.map { case (n, i) => timedOp(sc, w, s"$tag$pass.$i:$n", n, pass) }
    }.toSeq

  private def timedOp(sc: SparkContext, w: Workload, id: String, name: String, pass: Int): Op = {
    sc.setLocalProperty(Tracer.OpKey, id)
    val gc0 = gcMillis()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, err, build, lines) =
      try w.runOp(sc, name)
      catch { case e: Throwable => (false, oneLine(e), 0.0, Nil) }
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.OpKey, null)
    sc.setLocalProperty(Tracer.PhaseKey, null)
    Op(id, name, pass, wall0, wall1, (t1 - t0) / 1e9, build, gcMillis() - gc0, ok, err, lines)
  }

  private def opJson(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "name" -> o.name, "pass" -> o.pass, "start_ms" -> o.startMs,
    "end_ms" -> o.endMs, "s" -> o.seconds, "build_s" -> o.buildSeconds, "gc_ms" -> o.gcMs,
    "ok" -> o.ok, "error" -> o.error, "lines" -> o.lines)

  def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".replaceAll("\\s+", " ").take(300)

  /** Used heap after full GCs, once Spark's ContextCleaner has had time
    * to drop the shuffles and broadcasts the GCs released; the least of
    * three readings. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** etl_days: one `Main.run` per day, like a daily cron, loading into an
    * on-disk embedded Derby warehouse. The drop's first WarmupDays days are
    * the untimed warm-up; timed days follow them in order. */
  final class EtlDays(spark: SparkSession, a: Args) extends Workload {
    private val url = s"jdbc:derby:${a.work}/warehouse"
    private val env = Map(
      "GRAFT_DROP_DIR" -> a.data, "GRAFT_JDBC_URL" -> url,
      "GRAFT_DB_USER" -> "bench", "GRAFT_DB_PASSWORD" -> "bench")
    private val first = java.time.LocalDate.parse(a.startDate)
    private var next = 0

    private def day(): String = {
      val d = first.plusDays(next.toLong).toString
      next += 1
      d
    }

    def setup(): Unit = {
      java.sql.DriverManager.getConnection(s"$url;create=true").close()
      for (_ <- 0 until WarmupDays) {
        val (ok, err, _, lines) = runOp(spark.sparkContext, day())
        if (!ok) throw new IllegalStateException(s"warm-up day failed: $err ${lines.mkString(" | ")}")
      }
    }

    /** One day per pass. */
    def nextPass(): Seq[String] = if (next >= a.days - TracedDays) Nil else Seq(day())

    def tracedPass: Seq[String] =
      (a.days - TracedDays until a.days).map(i => first.plusDays(i.toLong).toString)

    def runOp(sc: SparkContext, name: String): (Boolean, String, Double, Seq[String]) = {
      sc.setLocalProperty(Tracer.PhaseKey, "day")
      val lines = ArrayBuffer[String]()
      val rc = graft.Main.run(Seq("--start-date", name), spark, env, lines += _)
      val dayLines = lines.filter(_.startsWith(name)).toSeq
      val failed = rc != 0 || dayLines.exists(_.contains("FAILED")) || dayLines.isEmpty
      (!failed, if (failed) s"rc=$rc" else "", 0.0, dayLines)
    }

    def checks(): Map[String, Any] = {
      val c = java.sql.DriverManager.getConnection(url, env("GRAFT_DB_USER"), env("GRAFT_DB_PASSWORD"))
      try {
        def rows(sql: String)(f: java.sql.ResultSet => (String, Any)): Map[String, Any] = {
          val rs = c.createStatement().executeQuery(sql)
          val b = Map.newBuilder[String, Any]
          while (rs.next()) b += f(rs)
          b.result()
        }
        Map(
          "warehouse_rows" -> rows(
            "SELECT \"source_date\", COUNT(*) FROM table_name GROUP BY \"source_date\"") { r =>
            r.getDate(1).toString -> r.getLong(2)
          },
          "audit" -> rows("SELECT \"date_of_data\", \"total_row_count\", \"column_count\", " +
            "\"files_processed\" FROM data_processing_log") { r =>
            r.getDate(1).toString -> Map("total_row_count" -> r.getLong(2),
              "column_count" -> r.getLong(3), "files_processed" -> r.getLong(4))
          })
      } finally c.close()
    }
  }

  /** corpus_ops / warehouse_sql: registry queries in a seed-permuted
    * order; each execution is the registry call (build) plus a `noop`
    * write of the full result (action). The untimed warm-up pass runs the
    * same write with the result's fingerprint riding on it as an observed
    * metric, so it pays each query's codegen compile and checks its
    * output in one execution. */
  final class Queries(spark: SparkSession, a: Args) extends Workload {
    private val registry = graft.SparkEntry.queries
    private val order = new scala.util.Random(a.seed).shuffle(a.queries)
    private val fingerprints = scala.collection.mutable.Map[String, Map[String, Any]]()

    private def build(name: String): DataFrame = {
      val df = registry(name)(spark, a.data)
      // negative control: an altered result must fail the output check
      if (a.alter.contains(name)) df.union(df.limit(1)) else df
    }

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def setup(): Unit = order.foreach { n =>
      fingerprints(n) =
        try {
          val (df, fingerprint) = Fingerprint.observe(build(n), s"fingerprint_$n")
          noop(df)
          val f = fingerprint()
          Map("rows" -> f.rows, "hash" -> f.hash)
        } catch { case e: Throwable => Map("error" -> oneLine(e)) }
    }

    def nextPass(): Seq[String] = order

    def tracedPass: Seq[String] = order

    def runOp(sc: SparkContext, name: String): (Boolean, String, Double, Seq[String]) = {
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val t0 = System.nanoTime()
      val df = build(name)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "action")
      noop(df)
      (true, "", (t1 - t0) / 1e9, Nil)
    }

    def checks(): Map[String, Any] = Map("fingerprints" -> fingerprints.toMap)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = req("workload"), seed = req("seed").toLong, passes = req("passes").toInt,
      trace = m.get("trace").contains("1"), work = req("work"), data = req("data"),
      queries = m.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      startDate = m.getOrElse("start-date", ""), days = m.getOrElse("days", "0").toInt,
      alter = m.get("alter").filter(_.nonEmpty), cpus = req("cpus").toInt)
  }
}
