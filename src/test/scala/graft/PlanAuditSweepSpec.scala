package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, GlobalLimitExec, LocalLimitExec, RDDScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** The generic plan audit: EVERY query registered in
  * [[SparkEntry.queries]] gets its prepared physical plan walked for
  * the scale-killing shapes — a cartesian product, a nested-loop
  * broadcast join outside the whitelisted bounded shapes, a
  * single-partition funnel fed by an unreduced base-table scan, and a
  * broadcast of an unbounded fact table. Per-operator specs (PlanSpec,
  * GlobalRankPlanSpec, RangeBinRewriteSpec) pin the plans of the
  * operators someone already thought about; THIS sweep is the default
  * guarantee — a future operator registered in SparkEntry gets plan
  * discipline on day one, whether or not anyone remembers to pin it. */
object PlanAudit {

  /** Tables whose row count scales with the corpus: broadcasting or
    * single-partition-funneling a raw scan of one of these is exactly
    * the shape that dies at 100 TB. (region/nation are constant-size;
    * customer/supplier/part grow with SF but stay orders of magnitude
    * under the fact tables — broadcast-eligible dims here, consistent
    * with the repo's star-join design.) */
  private val factTables =
    Set("lineitem", "orders", "events", "documents", "embeddings")

  private def isFactScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec =>
      val roots = f.relation.location.rootPaths.map(_.toString)
      factTables.exists(t => roots.exists(_.contains(s"$t.parquet")))
    case _ => false
  }

  /** A node below which row volume no longer tracks input volume. */
  private def reduces(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: GlobalLimitExec | _: LocalLimitExec => true
    case _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    case _ => false
  }

  /** A filter only counts as a deliberate subset when it tests
    * something beyond the IsNotNull conjuncts the planner inserts for
    * every equi-join key — those filter out nothing at scale. */
  private def selectiveFilter(f: org.apache.spark.sql.execution.FilterExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, IsNotNull}
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(f.condition).exists(!_.isInstanceOf[IsNotNull])
  }

  /** Children with adaptive wrappers expanded: AdaptiveSparkPlanExec
    * yields its (current/final) executed plan, QueryStageExec its
    * materialized stage plan — so the audit sees the same node set
    * whether it walks an AQE-off prepared plan or an AQE-on FINAL
    * plan after execution. */
  private def stepInto(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(q.plan)
    case _ => p.children
  }

  /** Pre-order walk through adaptive wrappers. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p); stepInto(p).foreach(walk(_)(f))
  }

  /** Does this subtree scan a fact table with NO reducing node (and,
    * when `filterBounds`, no selective filter) between the scan and
    * the subtree root? */
  private def unboundedFactBelow(p: SparkPlan, filterBounds: Boolean): Boolean = {
    if (reduces(p)) false
    else p match {
      case f: org.apache.spark.sql.execution.FilterExec
          if filterBounds && selectiveFilter(f) => false
      case _ =>
        if (isFactScan(p)) true
        else stepInto(p).exists(unboundedFactBelow(_, filterBounds))
    }
  }

  /** The plan's windows that run in one partition. */
  def singlePartitionWindows(plan: SparkPlan): Seq[WindowExec] = {
    val ws = scala.collection.mutable.ArrayBuffer[WindowExec]()
    walk(plan) {
      case w: WindowExec if singlePartitionWindow(w) => ws += w
      case _ => ()
    }
    ws.toSeq
  }

  /** A window with no partition spec, or one fed by a single-partition
    * exchange (below its sort, if any). */
  private def singlePartitionWindow(w: WindowExec): Boolean = {
    val feed = w.child match {
      case s: SortExec => s.child
      case c => c
    }
    w.partitionSpec.isEmpty || (feed match {
      case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions == 1
      case _ => false
    })
  }

  /** Does this subtree read any scanned relation (file, catalog, cached
    * or checkpointed; a driver-local relation is bounded and is not
    * one) with no aggregate or limit between it and the subtree root? */
  private def unboundedScanBelow(p: SparkPlan): Boolean =
    if (reduces(p)) false
    else p match {
      case _: FileSourceScanExec | _: BatchScanExec | _: RDDScanExec |
           _: InMemoryTableScanExec => true
      case _ => stepInto(p).exists(unboundedScanBelow)
    }

  /** All scale-killer violations in a prepared physical plan.
    * `allPairsAllowed` exempts the two all-pairs arms (cartesian /
    * unbounded-NL) for queries documented as intentionally-exact
    * oracle formulations of an operator whose production path is
    * bucketed; the funnel and broadcast rules still apply to them. */
  def violations(plan: SparkPlan, allPairsAllowed: Boolean): Seq[String] = {
    val vs = scala.collection.mutable.ArrayBuffer[String]()
    walk(plan) {
      case c: CartesianProductExec if !allPairsAllowed =>
        // a cartesian over reduced/dim sides (scalar-count stitches,
        // calendar×dim scaffolds) is bounded work; one with a raw
        // fact side multiplies the corpus and never survives scale
        if (Seq(c.left, c.right).exists(unboundedFactBelow(_, filterBounds = true)))
          vs += "CartesianProduct with an unreduced fact-table side"
      case b: BroadcastNestedLoopJoinExec if !allPairsAllowed =>
        // NL per-row probing is only sane when the broadcast side is
        // bounded by construction: an aggregate/limit-reduced subtree
        // (scalar stats joins), a local/dim relation, or an explicitly
        // filtered subset. An unreduced fact scan on the broadcast
        // side is all-pairs work AND an OOM-sized broadcast.
        val bcSide = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        if (unboundedFactBelow(bcSide, filterBounds = true))
          vs += "BroadcastNestedLoopJoin with an unbounded fact-table broadcast side"
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 =>
        // a single-partition exchange is a full-data funnel unless an
        // aggregate/limit already reduced the stream feeding it
        if (unboundedFactBelow(e.child, filterBounds = false))
          vs += "single-partition exchange fed by an unreduced fact-table scan"
      case w: WindowExec if singlePartitionWindow(w) =>
        // a global window sorts its whole input in one task: only legal
        // over a frame an aggregate or a limit already bounded
        if (unboundedScanBelow(w.child))
          vs += "single-partition window over an unaggregated scan"
      case b: BroadcastExchangeExec =>
        // broadcasting a fact table that was neither aggregated,
        // limited, nor explicitly filtered to a subset is a driver/
        // executor OOM at scale. An explicit Filter is accepted as a
        // deliberate bounded subset (e.g. the ANN query side).
        if (unboundedFactBelow(b.child, filterBounds = true))
          vs += "broadcast of an unbounded fact-table scan"
      case _ => ()
    }
    vs.toSeq
  }

  /** The prepared (EnsureRequirements applied) physical plan, without
    * executing the query. The sweep audits with AQE off so every
    * exchange the planner would need is statically visible. */
  def preparedPlan(df: DataFrame): SparkPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan
}

class PlanAuditSweepSpec extends SparkSpec {

  /** The all-pairs rules are structural (a cartesian/NL side must be
    * bounded by an aggregate/limit/filter or be a local/dim relation),
    * so most legitimate shapes — D27's tiny band dim, D36's dim×dim
    * cross, E6's filtered query side, the scalar-stats cross joins —
    * need no listing. Names here are documented intentionally-exact
    * oracle formulations whose production path is bucketed:
    * Since r17 this set is EMPTY: dedup_embedding's exact form now
    * plans as the banded equi-join (Similarity.cosineNearDuplicatesBanded)
    * so even the intentionally-exact oracle formulation carries no
    * cartesian; the audit enforces the full registry uniformly. */
  private val allPairsAllowed: Set[String] = Set.empty

  test("every registered query plans free of scale-killing shapes") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Auto-broadcast off: at test SF every table sits under the size
    // threshold, so the planner's size-based broadcasts would swamp
    // the audit with choices it would never make against 100 TB
    // statistics. What MUST be audited is the choices written into
    // the operators — explicit broadcast() hints survive threshold
    // -1, so a hinted broadcast of an unbounded fact table (the bug
    // that OOMs at scale regardless of what AQE thinks) is exactly
    // what remains visible.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val vs =
            try PlanAudit.violations(PlanAudit.preparedPlan(fn(spark, sf)),
              allPairsAllowed(name))
            catch {
              case e: Throwable =>
                Seq(s"query failed to plan: ${e.toString.take(200)}")
            }
          vs.map(v => s"$name: $v")
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("the audit actually fires: planted bad plans are flagged") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    try {
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
      // 1) all-pairs cross join of two facts → CartesianProduct (auto-
      //    broadcast off: at test SF the planner would otherwise hide
      //    the cartesian behind a broadcast NL join — equally flagged,
      //    but this pin is for the cartesian arm)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val crossVs = PlanAudit.violations(
        PlanAudit.preparedPlan(li.crossJoin(ord)), allPairsAllowed = false)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      assert(crossVs.exists(_.contains("CartesianProduct")), crossVs.mkString(";"))
      // 1b) the same cross join WITH auto-broadcast is the BNLJ arm
      val bnljVs = PlanAudit.violations(
        PlanAudit.preparedPlan(li.crossJoin(ord)), allPairsAllowed = false)
      assert(bnljVs.exists(_.contains("BroadcastNestedLoopJoin")),
        bnljVs.mkString(";"))
      // 2) broadcast of an unfiltered fact table → flagged
      val bcVs = PlanAudit.violations(
        PlanAudit.preparedPlan(
          li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))),
        allPairsAllowed = false)
      assert(bcVs.exists(_.contains("broadcast of an unbounded fact")),
        bcVs.mkString(";"))
      // 3) global window over a raw fact scan → single-partition funnel
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("l_extendedprice"))
      val winVs = PlanAudit.violations(
        PlanAudit.preparedPlan(
          li.withColumn("rk", row_number().over(w))), allPairsAllowed = false)
      assert(winVs.exists(_.contains("single-partition")), winVs.mkString(";"))
      // 4) the same shapes BOUNDED are clean: an aggregated broadcast
      //    and a limited funnel pass the audit
      val okVs = PlanAudit.violations(
        PlanAudit.preparedPlan(
          li.join(broadcast(ord.groupBy("o_orderstatus").count()),
            col("l_returnflag") === col("o_orderstatus"))),
        allPairsAllowed = false)
      assert(okVs.isEmpty, okVs.mkString(";"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("spark.sql.crossJoin.enabled")
    }
  }
}
