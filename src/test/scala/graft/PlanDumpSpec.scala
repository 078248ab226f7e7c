package graft

/** The plan tool's one fingerprint rule, on the shared session with the
  * dump's own confs (AQE off, auto-broadcast -1). */
class PlanDumpSpec extends SparkSpec {

  private def withDumpConfs[T](body: => T): T = {
    val keep = PlanDump.FingerprintConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    PlanDump.FingerprintConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a gate that writes while its frame is built fingerprints its writes") {
    val fp = withDumpConfs(PlanDump.fingerprint(spark, "vacuum_gate", sf))
    assert(fp.contains("DataWritingCommandExec"), fp)
  }

  test("a path whose construction runs nothing fingerprints to its own prepared plan") {
    withDumpConfs {
      val fp = PlanDump.fingerprint(spark, "q_star_join", sf)
      val own = PlanDump.operatorCounts(
        PlanAudit.preparedPlan(SparkEntry.queries("q_star_join")(spark, sf)))
      assert(fp == own)
    }
  }

  test("a stream gate's fingerprint is the same on two runs back to back") {
    withDumpConfs {
      // the first stream gate in a JVM also persists and stages the
      // shared event slice (StreamGates caches both per JVM), so the
      // comparison starts after one warm-up run
      PlanDump.fingerprint(spark, "stream_tumbling", sf)
      val first = PlanDump.fingerprint(spark, "stream_tumbling", sf)
      val second = PlanDump.fingerprint(spark, "stream_tumbling", sf)
      assert(first == second)
      assert(first.keySet != Set("LocalTableScanExec"), first)
    }
  }

  test("explain mode rejects an unknown query name") {
    val unknown = PlanDump.explainArgs(Seq("out", "after", "q_star_join", "no_such_query"))
    assert(unknown.left.exists(_.contains("no_such_query")), unknown)
    assert(PlanDump.explainArgs(Seq("out", "after")).isLeft)
    assert(PlanDump.explainArgs(Seq("out", "after", "q_star_join")) ==
      Right(("out", "after", Seq("q_star_join"))))
  }
}
