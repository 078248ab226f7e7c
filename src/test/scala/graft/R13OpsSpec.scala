package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Oracle-independent invariants for the round-13 operators (the
  * merge_into lesson: a same-shaped SQL oracle can agree with a bug,
  * so every operator also pins a property the oracle doesn't test). */
class R13OpsSpec extends SparkSpec {

  // ------------------------------------------------------------ C36
  test("ks_drift: D in [0,1], planted shift registers, sides sized right") {
    val r = DataQuality.ksDrift(spark, sf).head()
    val d = r.getDouble(0)
    assert(d > 0.0 && d <= 1.0)
    val n = Tables.orders(spark, sf).count()
    assert(r.getLong(2) == n && r.getLong(3) == n)
    // the verdict must be exactly D > crit (at this spec's tiny SF the
    // planted shift's D ≈ 0.017 sits UNDER crit ≈ 0.05 — n is too
    // small for significance; the driver's sf0.01 run clears it)
    assert(r.getBoolean(5) == (r.getDouble(0) > r.getDouble(4)))
    // the argmax value is a value one of the CDFs actually steps at
    assert(r.getDouble(1) > 0.0)
  }

  test("ks_drift: identical sides yield D == 0") {
    // same construction, no shift: base vs base
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice").as("v"))
    val tagged = base.select(col("v"), lit(1L).as("one_b"), lit(0L).as("one_c"))
      .unionByName(base.select(col("v"), lit(0L).as("one_b"), lit(1L).as("one_c")))
    val counts = tagged.groupBy(col("v"))
      .agg(sum(col("one_b")).as("cb"), sum(col("one_c")).as("cc"))
    val run1 = Relational.globalRunningSum(counts, Nil, Seq("v"), "cb",
      rankCol = "rn_b", countCol = "nv_b", runCol = "run_b")
    val run2 = Relational.globalRunningSum(run1, Nil, Seq("v"), "cc",
      rankCol = "rn_c", countCol = "nv_c", runCol = "run_c")
    val mx = run2.agg(max(abs(col("run_b") - col("run_c")))).head().getLong(0)
    assert(mx == 0L)
  }

  // ------------------------------------------------------------ C37
  test("join_size_estimate equals the actual self-join cardinality") {
    val est = DataQuality.joinSizeEstimate(spark, sf)
      .select(col("total_join_rows")).head().getLong(0)
    val li = Tables.lineitem(spark, sf).select(col("l_partkey"))
    val actual = li.join(li.withColumnRenamed("l_partkey", "k2"),
      col("l_partkey") === col("k2")).count()
    assert(est == actual, s"estimate $est != actual $actual")
    // shares are a probability distribution fragment, sorted desc
    val rows = DataQuality.joinSizeEstimate(spark, sf)
      .select(col("out_rows"), col("out_share")).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).sliding(2).forall(p => p(0) >= p(1)))
    assert(rows.map(_.getDouble(1)).sum <= 1.0 + 1e-9)
  }

  // ------------------------------------------------------------ D79
  test("attribution: every conversion's credit sums to exactly 1") {
    val credited = Analytics.attribution(spark, sf)
      .agg(sum(col("credit")).as("total"),
        sum(col("n_touches")).as("touches")).head()
    // total credit == number of users that HAVE a touch path
    val evs = Tables.events(spark, sf)
    val conv = evs.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("c"))
      .select(col("user_id"), col("c.ts").as("conv_ts"),
        col("c.event_id").as("conv_id"))
    val usersWithTouches = evs
      .filter(col("event_type").isin("view", "click"))
      .join(conv, Seq("user_id"))
      .filter(col("ts") < col("conv_ts") ||
        (col("ts") === col("conv_ts") && col("event_id") < col("conv_id")))
      .select(col("user_id")).distinct().count()
    // tolerance: per-type round(6) + DECIMAL(28,12) truncation of the
    // 0.2/(k-2) middle credits accumulate well under 1e-5
    assert(math.abs(credited.getDouble(0) - usersWithTouches) < 1e-5,
      s"credit ${credited.getDouble(0)} != converted-with-path $usersWithTouches")
  }

  // ------------------------------------------------------------ D80
  test("decayed_counts: weights bounded by plain counts and positive") {
    val rows = Analytics.decayedCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d) = (r.getLong(1), r.getDouble(2))
      assert(d > 0.0 && d <= n.toDouble + 1e-9, s"${r.getString(0)}: $d vs $n")
    }
    // halving the half-life can only shrink every decayed count
    val fast = Analytics.decayedCounts(spark, sf, halflifeDays = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    rows.foreach(r => assert(fast(r.getString(0)) <= r.getDouble(2) + 1e-9))
  }

  // ------------------------------------------------------------ E80
  test("inverted_index: df band holds, postings sorted, spot recount") {
    val idx = CorpusAnalytics.invertedIndex(spark, sf).collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val df = r.getLong(1)
      assert(df >= 5, s"${r.getString(0)}: df $df")
      val ids = r.getString(3).split(",").map(_.split(":")(0).toLong)
      assert(ids.length == math.min(df, CorpusAnalytics.postingCap))
      assert(ids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    }
    // recount one term locally from the raw text
    val term = idx.head.getString(0)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    val expectDocs = docs.filter(_.getString(1).toLowerCase
      .split(" ").contains(term)).map(_.getLong(0)).sorted
    assert(idx.head.getLong(1) == expectDocs.length)
    val gotIds = idx.head.getString(3).split(",").map(_.split(":")(0).toLong)
    assert(gotIds.sameElements(expectDocs.take(CorpusAnalytics.postingCap)))
  }

  // ------------------------------------------------------------ C38
  test("publishTableSet: retention GC keeps the newest window, reads pair") {
    import spark.implicits._
    val root = "/tmp/graft_r13_multipub_spec"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    (1 to 4).foreach { e =>
      val a = Seq((e, s"a$e")).toDF("epoch", "tag")
      val b = Seq((e, s"b$e")).toDF("epoch", "tag")
      assert(graft.sinks.Sinks.publishTableSet(
        Seq("ta" -> a, "tb" -> b), root, retain = 2) == e)
    }
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("v_")).sorted.toSeq
    assert(onDisk == Seq("v_3", "v_4"), onDisk.mkString(","))
    (3 to 4).foreach { v =>
      val ea = graft.sinks.Sinks.readTableSet(spark, root, "ta", v)
        .head().getInt(0)
      val eb = graft.sinks.Sinks.readTableSet(spark, root, "tb", v)
        .head().getInt(0)
      assert(ea == v && eb == v)
    }
  }

  // ------------------------------------------------------------ C39/A4b
  // The r13 rep-2 failure: a fixed scratch path + cached permissive read
  // left the second same-JVM invocation reading a stale cache missing
  // bad_rows.csv (replay threw ROW_VALUE_IS_NULL; the A4b gate would have
  // silently returned n_quarantined=0). A row count alone misses that, so
  // this pins the VALUES of both gates across two same-JVM runs.
  test("quarantine gates: identical correct values on re-execution") {
    def runBoth(): (Seq[Any], Seq[Any]) = (
      EtlQueries.quarantineReplayGate(spark, sf).head().toSeq,
      EtlQueries.csvQuarantineGate(spark, sf).head().toSeq)
    val (r1, q1) = runBoth()
    val (r2, q2) = runBoth()
    assert(r1 == r2, s"replay gate drifted across reps: $r1 vs $r2")
    assert(q1 == q2, s"quarantine gate drifted across reps: $q1 vs $q2")
    // replay: 3 quarantined, 2 repaired, repaired sum 3.25 + 1.5
    assert(r1(2) == 3L && r1(3) == 2L && r1(5) == 4.75)
    assert(r1(4) == r1(1).asInstanceOf[Long] + 2L)
    // A4b: exactly the 3 injected bad rows quarantined
    assert(q1(3) == 3L)
  }
}
