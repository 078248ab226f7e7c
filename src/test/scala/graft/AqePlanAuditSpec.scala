package graft

import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** AQE-ON final-plan audit of the most expensive headline queries.
  *
  * PLANS.json and PlanAuditSweepSpec audit with AQE OFF by design (so
  * every exchange is statically visible and size-threshold noise can't
  * flap the diff) — but at 100 TB AQE is ON and re-plans at runtime:
  * it can flip join strategies per-stage from observed statistics. The
  * flip that matters is a regression INTO a nested-loop/cartesian
  * shape (an empty-relation or tiny-stage heuristic at test SF that
  * would be all-pairs work at scale), and a final plan that lost its
  * whole-stage-codegen spans. This spec EXECUTES each query under AQE
  * and audits the FINAL adaptive plan:
  *
  *  1. the PlanAudit scale-killer sweep holds on the final plan
  *     (adaptive wrappers expanded — see PlanAudit.walk);
  *  2. any BroadcastNestedLoopJoin/CartesianProduct node class present
  *     AQE-on was already present AQE-off (AQE may upgrade SMJ→BHJ,
  *     never introduce an all-pairs shape the static planner didn't
  *     choose);
  *  3. a query whose static plan had whole-stage codegen keeps at
  *     least one codegen span in the final plan.
  *
  * Query set = the most expensive headline queries by the round-12
  * bench floor plus the skew/shuffle cohort (sink/stream gates
  * excluded: building their frame runs side effects) — the queries
  * where a silent AQE flip would cost the most at scale. */
class AqePlanAuditSpec extends SparkSpec {

  private val expensive = Seq(
    "dedup_embedding", "canonical_docs", "dedup_clusters", "dedup_minhash",
    "similarity_prefix_join", "doc_pagerank", "record_linkage",
    "token_budget", "source_interleave", "tfidf_top", "q_mad",
    "q_weighted_median", "q_weighted_quantiles", "paragraph_dedup",
    "cdc_chunk_dedup", "dedup_bow", "kn_bigram_lm", "bpe_pair_counts",
    "date_extract_custom", "dup_ngram_ratio",
    "q_range_join_binned", "cross_source_dup",
    "q_big_join", "q_salted_join", "q_star_join", "q_topk_per_key",
    "contamination_score", "boilerplate_score", "semdedup",
    "source_novelty", "ann_ivf", "q_quantile_interp", "fk_integrity")

  /** Same as PlanAuditSweepSpec: empty since r17 — dedup_embedding's
    * exact form is the banded equi-join, so no query needs the
    * all-pairs exemption any more. */
  private val allPairsAllowed = Set.empty[String]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val buf = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    PlanAudit.walk(p)(buf += _)
    buf.toSeq
  }

  private def allPairsJoinClasses(p: SparkPlan): Set[String] =
    nodes(p).collect {
      case j: BroadcastNestedLoopJoinExec => j.getClass.getSimpleName
      case j: CartesianProductExec => j.getClass.getSimpleName
    }.toSet

  private def codegenSpans(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[WholeStageCodegenExec])

  test("AQE-on final plans: no all-pairs flips, no lost codegen, sweep holds") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Auto-broadcast -1 on BOTH sides, same discipline (and same
    // rationale) as PlanAuditSweepSpec: at test SF every table sits
    // under the size threshold, so size-based broadcasts of fact
    // tables would swamp the audit with choices neither planner would
    // make against 100 TB statistics. Explicit broadcast() hints —
    // the choices written into the operators — survive, and ALL the
    // AQE-specific machinery under audit (stage re-planning, skew
    // splitting, partition coalescing, empty-relation propagation)
    // still runs.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    // try/finally around the whole loop: a throw OUTSIDE the inner
    // per-query trys (missing queries key, helper error) must not
    // leak autoBroadcastJoinThreshold=-1 / a toggled AQE flag into
    // every later suite sharing this SparkSession
    try {
    for (name <- expensive) {
      val fn = SparkEntry.queries(name)
      // static reference plan (AQE off)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val offPlan =
        try Some(PlanAudit.preparedPlan(fn(spark, sf)))
        catch { case e: Throwable =>
          failures += s"$name: AQE-off planning failed: ${e.toString.take(160)}"
          None
        }
      // executed final plan (AQE on): run THIS queryExecution's
      // physical plan so the AdaptiveSparkPlanExec we inspect is the
      // one that finalized (a fresh action like df.count() would
      // build a NEW execution and leave this one un-materialized)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val onPlan =
        try {
          val p = fn(spark, sf).asInstanceOf[ClassicDataset[_]]
            .queryExecution.executedPlan
          p.execute().count()
          Some(p)
        } catch { case e: Throwable =>
          failures += s"$name: AQE-on execution failed: ${e.toString.take(160)}"
          None
        }
      for (off <- offPlan; on <- onPlan) {
        val vs = PlanAudit.violations(on, allPairsAllowed(name))
        vs.foreach(v => failures += s"$name (AQE-on final): $v")
        val flips = allPairsJoinClasses(on) -- allPairsJoinClasses(off)
        if (flips.nonEmpty && !allPairsAllowed(name))
          failures += s"$name: AQE introduced all-pairs join(s): " +
            flips.mkString(",")
        if (codegenSpans(off) > 0 && codegenSpans(on) == 0)
          failures += s"$name: final AQE plan lost every codegen span " +
            s"(static plan had ${codegenSpans(off)})"
      }
    }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("AQE skew-split fires on a planted skewed join (PartialReducerPartitionSpec)") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val keep = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // one key owns ~98% of the left side → its reducer partition is
      // far over the (lowered) skew threshold → AQE must split it
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val left = spark.range(0, 60000)
        .select(when(col("id") % 50 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"), lit(1).as("w"))
      val joined = left.join(right, "k")
      val plan = joined.asInstanceOf[ClassicDataset[_]]
        .queryExecution.executedPlan
      plan.execute().count()
      var skewSplits = 0
      PlanAudit.walk(plan) {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
          skewSplits += r.partitionSpecs.count(
            _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
        case _ =>
      }
      assert(skewSplits > 0,
        s"AQE skew-join did not split the planted hot partition:\n$plan")
      // and the split must not break correctness: every hot-key row
      // still joins exactly once
      assert(joined.count() == left.filter(col("k").isin(
        (0L until 2000L): _*)).count())
    } finally keep.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }
}
