package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import graft.operators.{Relational, Similarity}

/** Physical-plan audits: the properties that make these operators hold
  * up at 100 TB are asserted here so a regression (a lost pushdown, a
  * join that stops broadcasting, codegen falling off) fails CI, not a
  * cluster run. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = {
    df.collect() // materialize THIS plan so AQE finalizes stages
    df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan.toString
  }

  test("filter+projection reach the parquet scan (pushdown + pruning)") {
    val p = plan(Relational.filterProject(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus)"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    // scan schema is only the referenced columns, not the whole table
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("o_comment") && !p.contains("o_orderdate"), p)
  }

  test("star join broadcasts every dimension") {
    val p = plan(Relational.starJoin(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // the fact-fact join may be sort-merge or shuffled-hash, never NL
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q1 aggregation is partial (map-side) + final") {
    val p = plan(Relational.q1Agg(spark, sf))
    assert(p.contains("partial_sum"), p) // map-side combine before shuffle
    assert(p.contains("*("), p)           // whole-stage codegen stages
  }

  test("partitioned sink read-back prunes to one lang partition") {
    val out = s"/tmp/graft_sink/plan_spec/docs_by_lang"
    graft.sinks.Sinks.writeParquet(Tables.documents(spark, sf), out,
      partitionBy = Seq("lang"))
    val read = spark.read.parquet(out).filter(col("lang") === "en")
      .select(col("doc_id"))
    val p = plan(read)
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
  }

  test("minhash candidate generation plans no cross join") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val p = plan(operators.Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("brute-force ANN broadcasts the bounded query side and prunes top-k map-side") {
    val vecs = Tables.embeddings(spark, sf)
    val p = plan(Similarity.bruteForceTopK(vecs.filter(col("vec_id") < 5), vecs, 10))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // per-query top-k is the bounded aggregate: partial pruning to <= k
    // before the shuffle, never a window sort of all |Q|x|C| scored rows
    assert(p.contains("partial_bounded_top_k"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("bucketed tables join with no shuffle on the join key") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the catalog is in-memory per JVM, but the managed locations are
    // not — scrub leftovers from previous test runs
    Seq("b_orders", "b_lineitem").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft_warehouse/$t"))
    }
    Tables.orders(spark, sf).write.bucketBy(8, "o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sf).write.bucketBy(8, "l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // force the shuffle-join path (at real scale neither side
    // broadcasts); the point is that bucketing replaces the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = plan(joined).split("== Initial Plan ==")(0)
      // the only exchange is the one for the final groupBy — the join
      // itself reuses the bucketing (the 100 TB co-location story)
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("range join broadcasts the band dim; fact side never shuffles for the join") {
    val p = plan(Relational.rangeJoin(spark, sf))
    // non-equi join against 10 rows → broadcast nested loop, the only
    // sane interval-join plan at scale
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the single exchange is the final aggregation, not the join
    assert("Exchange hashpartitioning".r.findAllIn(
      p.split("== Initial Plan ==")(0)).size <= 1, p)
  }

  test("chunking is shuffle-free (pure projection + explode)") {
    val p = plan(operators.Corpus.chunkDocuments(
      Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), p)
  }

  test("grouping sets runs as one Expand pass, not per-set rescans") {
    val p = plan(Relational.groupingSetsAgg(spark, sf)).split("== Initial Plan ==")(0)
    assert(p.contains("Expand"), p)
    // one scan of lineitem feeds all three grouping sets
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("sequence packing reuses the window partitioning for the final agg") {
    val p = plan(operators.Corpus.packSequences(
      Tables.documents(spark, sf)).filter(col("pack_id") >= 0))
    // hash partitioning on `source` satisfies the (source, pack_id)
    // clustering, so the groupBy adds no second shuffle
    assert("Exchange hashpartitioning".r.findAllIn(
      p.split("== Initial Plan ==")(0)).size == 1, p)
  }

  test("bounded top-k per key aggregates partially, never window-sorts the table") {
    val p = plan(Relational.topKPerKey(spark, sf)).split("== Initial Plan ==")(0)
    // map-side partial pruning to <= k per key before the shuffle
    assert(p.contains("partial_bounded_top_k"), p)
    // no window operator, no full-table sort
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // one hot key carrying ~100k rows vs 1k cold keys
    val hot = spark.range(0, 100000).select(lit(0L).as("k"), col("id").as("v"))
    val cold = spark.range(1, 1000).select(col("id").as("k"), col("id").as("v"))
    val left = hot.union(cold)
    val right = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(key => key -> spark.conf.getOption(key)).toMap
    try {
      // thresholds tiny so the local[4] fixture actually qualifies as skew
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // note: no aggregation on the join key downstream — AQE declines
      // to split a skewed partition when the join's output partitioning
      // is still required above it
      val p = plan(left.join(right, "k").select(col("v"), col("w")))
      assert(p.contains("isSkew=true") || p.contains("skew=true"), p)
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("outer join broadcasts the pre-aggregated fact summary") {
    val p = plan(Relational.outerJoin(spark, sf)).split("== Initial Plan ==")(0)
    // the per-customer aggregate is keys-sized → broadcast, no SMJ
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("chunking reads only the referenced columns") {
    val p = plan(operators.Corpus.chunkDocuments(Tables.documents(spark, sf)))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("chunker rejects invalid strides up front") {
    val docs = Tables.documents(spark, sf)
    intercept[IllegalArgumentException](
      operators.Corpus.chunkDocuments(docs, chunkTokens = 10, stride = 20))
    intercept[IllegalArgumentException](
      operators.Corpus.chunkDocuments(docs, chunkTokens = 10, stride = 0))
  }

  test("bloom join probes the sketch on the fact side below the join") {
    val p = plan(Relational.bloomJoin(spark, sf)).split("== Initial Plan ==")(0)
    assert(p.contains("might_contain"), p)
    // tree prints top-down: the probe filter must sit BELOW the join
    // (fact rows are pruned before they reach it)
    assert(p.indexOf("might_contain") > p.indexOf("Join"), p)
  }

  test("recursive calendar joins a day-level aggregate, never raw facts") {
    val p = plan(Relational.recursiveCalendar(spark, sf)).split("== Initial Plan ==")(0)
    // fact side collapses to per-day partials before any exchange
    assert(p.contains("partial_count"), p)
    // the calendar join consumes the broadcast day-level aggregate —
    // no sort-merge of raw orders rows onto the hot date key
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val bcast = p.indexOf("BroadcastExchange")
    assert(bcast >= 0 && p.substring(bcast).contains("HashAggregate"), p)
  }

  test("exact quantiles rank in parallel — no per-group global sort") {
    // q_quantile (r19): the two-phase binned selection — a histogram
    // hash aggregate + crossing-bin resolve, NO data-sized sort or
    // range exchange anywhere, resolve predicate pushed to the scan
    val pq = plan(Relational.quantiles(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!pq.contains("GlobalRank"), pq)
    assert(!pq.toLowerCase.contains("rangepartitioning"), pq)
    assert(pq.contains("HashAggregate"), pq)
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_extendedprice"
      .r.findAllIn(pq).hasNext, pq)
    assert(!pq.contains("row_number"), pq)
    // the approx gate's exact rank bounds are size-dispatched since
    // r20 (the exactQuantiles discipline): GlobalRank below the
    // threshold, the binned selection core (Analytics.binnedRankAt —
    // no range exchange, no data-sized sort) above it, where the bound
    // ranks resolve off the histogram (ExactQuantileDispatchSpec pins
    // the value-at-rank math)
    val pg = plan(Relational.approxQuantileGate(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(pg.contains("GlobalRank"), pg)
    assert(!"windowspecdefinition\\([^)]*value".r.findAllIn(pg).hasNext, pg)
    assert(!pg.contains("row_number"), pg)
    val key = "spark.graft.select.binnedMinBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      val pb = plan(Relational.approxQuantileGate(spark, sf))
        .split("== Initial Plan ==")(0)
      assert(!pb.contains("GlobalRank"), pb)
      assert(!pb.toLowerCase.contains("rangepartitioning"), pb)
      assert(!pb.contains("row_number"), pb)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("tfidf top-3 prunes map-side with bounded top-k, no window sort") {
    val p = plan(operators.TrainingQueries.tfidfTop(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_bounded_top_k"), p)
    assert(!p.contains("Window"), p)
  }

  test("boilerplate probes a broadcast common-gram set — no gram shuffle join") {
    val p = plan(operators.Corpus.boilerplateScore(Tables.documents(spark, sf)))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("embedding quantization computes the per-vector scale exactly once") {
    val p = plan(operators.TrainingQueries.quantizeEmbeddings(spark, sf))
      .split("== Initial Plan ==")(0)
    // one array_max per row — CollapseProject must not inline the scale
    // back into the per-component lambda (that would be O(d²)/vector)
    assert("array_max".r.findAllIn(p).size == 1, p)
  }

  test("two-phase skew join equals the plain join on planted-skew data") {
    // one hot key carrying half the big side, plus a cold uniform tail
    val big = spark.range(0, 20000).select(
      when(col("id") < 10000, lit(7L)).otherwise(pmod(col("id"), lit(2000L))).as("bk"),
      col("id").as("bv"))
    val dim = spark.range(0, 1000).select(col("id").as("dk"), (col("id") * 3).as("dv"))
    val got = Relational.skewSaltedJoin(big, "bk", dim, "dk",
      nSalts = 4, topHot = 5, sampleFraction = 0.2)
    val exp = big.join(dim, col("bk") === col("dk"))
      .select(col("bk"), col("bv"), col("dk"), col("dv"))
    // exact multiset equality — whatever keys the sample flagged as hot
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
    // the planted hot key must actually take the salted path: its dim
    // row explodes across all 4 salts, the cold tail joins plain
    val hotSide = big.filter(col("bk") === 7L)
    val hotOnly = Relational.skewSaltedJoin(
      hotSide, "bk", dim, "dk", nSalts = 4, topHot = 1, sampleFraction = 1.0)
    assert(hotOnly.count() == hotSide.count())
  }

  test("corpus shuffle ranks via range repartition, not a global sort") {
    val p = plan(operators.TrainingQueries.corpusShuffle(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("GlobalRank"), p)
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    // the only window orders per-partition COUNT rows by __pid — no
    // window (and no single-partition exchange) ever orders documents
    assert(!"windowspecdefinition\\([^)]*(shuffle_key|doc_id)".r.findAllIn(p).hasNext, p)
    assert(!p.contains("row_number"), p)
  }

  test("source quota prunes map-side with bounded top-k, no window sort") {
    val p = plan(operators.TrainingQueries.sourceQuota(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_bounded_top_k"), p)
    assert(!p.contains("Window"), p)
  }

  test("exact stratified sampler is a pure pre-aggregate projection") {
    val p = plan(operators.TrainingQueries.exactStratifiedSample(spark, sf))
      .split("== Initial Plan ==")(0)
    // one exchange (the final groupBy) — membership never shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("oov rate probes a broadcast vocab — doc side never shuffle-joins on term") {
    val p = plan(operators.TrainingQueries.oovRate(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the LIMIT stays inside the plan (TakeOrderedAndProject), no collect
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("lm score: prefix counts and vocab broadcast; one bigram shuffle join") {
    val p = plan(operators.TrainingQueries.lmScore(spark, sf))
      .split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("custom expressions stay inside whole-stage codegen") {
    val p = plan(Tables.documents(spark, sf)
      .select(operators.Dedup.simhash("text").as("s"),
        graft.functions.RollingHash.rollingHash(col("text")).as("f")))
    assert(p.contains("*("), p) // codegen stage marker in executedPlan
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    val out = "/tmp/graft_sink/dpp_events"
    Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    // the dim must come from storage (not literals — Catalyst would
    // constant-fold those into a static partition filter) with the
    // selective predicate on a NON-key column, so pruning can only
    // happen at runtime via the DPP subquery
    val dimPath = "/tmp/graft_sink/dpp_dim"
    Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
      .withColumn("tag", when(col("day") === "2024-01-15", 1L).otherwise(0L))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = spark.read.parquet(out)
      .join(dim.filter(col("tag") === 1L), "day")
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val p = plan(q)
    // the fact scan's partition filter carries a runtime (dynamic)
    // pruning subquery fed by the dim side — at 100 TB this is what
    // keeps a date-dim join from scanning every partition
    assert(p.contains("dynamicpruning"), p)
  }

  test("identical aggregation subtrees reuse one exchange in a self-join") {
    def agg = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("spend"))
    val q = agg.as("a").join(agg.as("b"), "o_custkey")
      .agg(count(lit(1)).as("n"))
    val p = plan(q)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"self-join recomputed the aggregate instead of reusing the exchange:\n$p")
  }

  test("bm25 broadcasts docfreqs and corpus stats — no term-keyed fact shuffle join") {
    val p = plan(operators.CorpusAnalytics.bm25Score(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("time-interval range frame partitions by user, never a global sort") {
    val p = plan(operators.Analytics.timeRangeFrame(spark, sf))
    assert(p.contains("Window"), p)
    // a Window over an empty partition spec would show Exchange SinglePartition
    assert(!p.contains("SinglePartition"), p)
  }

  test("deterministic mode runs as two partial-capable aggregations, no window") {
    val p = plan(operators.Analytics.modeAgg(spark, sf))
    assert(!p.contains("Window"), p)
    assert("partial_count|partial_min|partial_max".r.findAllIn(p).nonEmpty, p)
  }

  test("hll rollup merges shard sketches — the union level consumes sketches, not data") {
    val p = plan(operators.Sketches.hllRollup(spark, sf))
      .split("== Initial Plan ==")(0)
    // two-level sketch aggregation: per-shard build, then union-merge
    assert(p.contains("hll_sketch_agg"), p)
    assert(p.contains("hll_union_agg"), p)
    // the base table feeds exactly two aggregation branches (sketch
    // build + the exact-count gate) — a third scan would mean the
    // merge level rescanned data instead of consuming sketches
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size == 2, p)
  }

  test("source novelty shuffles grams with map-side partials, never the corpus") {
    val p = plan(operators.CorpusAnalytics.sourceNovelty(spark, sf))
      .split("== Initial Plan ==")(0)
    // min-per-gram and the per-source counts are algebraic: partials
    // combine before every exchange
    assert(p.contains("partial_min"), p)
    assert(p.contains("partial_count"), p)
    // the raw document text never crosses an exchange — grams are
    // exploded and projected before the first shuffle
    val exchanges = "Exchange [^\n]*".r.findAllIn(p).toList
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(!e.contains("text#"), e))
  }

  test("cume_dist partitions by the high-cardinality user key, no single reducer") {
    val p = plan(operators.Analytics.cumeDist(spark, sf))
    assert(!p.contains("SinglePartition"), p)
  }

  test("quality mixture sampling ranks in parallel and keeps exactly decile/10") {
    val rows = operators.CorpusAnalytics.qualityMixSample(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to 10))
    // keep fraction rises with decile; top decile kept in full
    rows.foreach { case (d, n, k) =>
      assert(k <= n)
      if (d == 10) assert(k == n, s"decile 10 must keep all: $k of $n")
    }
    val p = plan(operators.CorpusAnalytics.qualityMixSample(spark, sf))
    // ranks come from the native GlobalRank over a range repartition,
    // not a global sort (no row_number window over documents)
    assert(p.contains("GlobalRank"), p)
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(!p.contains("row_number"), p)
  }

  test("scd2 merge: one open row per key, versioned keys carry a closed row") {
    val df = operators.Scd2.scd2Merge(spark, sf).cache()
    try {
      val perKeyOpen = df.filter(col("is_current"))
        .groupBy(col("c_custkey")).count().filter(col("count") =!= 1)
      assert(perKeyOpen.count() == 0)
      // closed rows exist exactly for changed keys (%10 but not %50)
      val closed = df.filter(!col("is_current"))
      assert(closed.filter(col("valid_to").isNull).count() == 0)
      assert(closed.filter(col("c_custkey") % 10 =!= 0).count() == 0)
      assert(closed.filter(col("c_custkey") % 50 === 0).count() == 0)
      val nChanged = Tables.customer(spark, sf)
        .filter(col("c_custkey") % 10 === 0 && col("c_custkey") % 50 =!= 0).count()
      assert(closed.count() == nChanged)
      // the update side broadcasts: the dimension never shuffles on the key
      val p = plan(operators.Scd2.scd2Merge(spark, sf))
      assert(p.contains("BroadcastHashJoin"), p)
    } finally df.unpersist()
  }

  test("gaps-and-islands windows partition by user — no single reducer") {
    val p = plan(operators.Analytics.islands(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("ratio-to-report windows run over the day aggregate, not raw events") {
    val p = plan(operators.Analytics.ratioToReport(spark, sf))
      .split("== Initial Plan ==")(0)
    // aggregate (with map-side partials) must sit BELOW the window
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("partial_sum")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected partial aggregation below the window:\n$p")
  }

  test("histogram is one partial-capable aggregation over a pruned scan") {
    val p = plan(operators.Analytics.histogram(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Window") && !p.contains("Sort"), p)
    // bin arithmetic is a projection: the scan reads only o_totalprice
    assert("ReadSchema: [^\n]*o_totalprice".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("o_orderdate"), p)
  }

  test("transition matrix: lag partitions by user, probability over the aggregate") {
    val p = plan(operators.Analytics.transitions(spark, sf))
    // the anchor must exist, or the position comparison below is vacuous
    // (indexOf == -1 would let ANY SinglePartition placement pass)
    assert(p.indexOf("partial_count") >= 0, p)
    assert(!p.contains("SinglePartition") ||
      // the 25-row probability window may legally collapse to one
      // partition AFTER the pair aggregate; the raw-events lag must not
      p.indexOf("SinglePartition") > p.indexOf("partial_count"), p)
  }

  test("paragraph dedup: chunk text crosses exactly one doc-keyed exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    val df = operators.CorpusAnalytics.paragraphDedup(spark, sf)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val root = df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan
    val shuffles = nodes(root).collect { case e: ShuffleExchangeLike => e }.distinct
    assert(shuffles.nonEmpty, root.toString)
    // the firsts aggregate and the kept-flag join move 16-byte hash
    // keys; only the one explicit doc_id repartition may carry strings
    val stringShuffles = shuffles.filter(
      _.output.exists(_.dataType == StringType))
    assert(stringShuffles.size == 1,
      s"expected exactly one text-carrying exchange, got " +
        s"${stringShuffles.size}:\n$root")
    assert(stringShuffles.head.outputPartitioning.toString.contains("doc_id"),
      stringShuffles.head.toString)
  }

  test("period delta: lag window runs over the month aggregate, not raw orders") {
    val p = plan(operators.Analytics.periodDelta(spark, sf))
      .split("== Initial Plan ==")(0)
    // aggregate with map-side partials must sit BELOW the (calendar-
    // bounded, hence legally single-partition) lag window
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("partial_sum")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected partial month aggregation below the lag window:\n$p")
  }

  test("retention: distinct collapses (user,day) before cohorts; no window, no single reducer") {
    val p = plan(operators.Analytics.retention(spark, sf))
      .split("== Initial Plan ==")(0)
    // raw events collapse via a partial-capable distinct aggregate
    assert(p.contains("HashAggregate"), p)
    // cohort assignment is an aggregate + user-keyed join — never a
    // min() window over raw events, never a single-partition exchange
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("canonical selection is an argmax aggregate per component — no member window") {
    val p = plan(operators.TrainingQueries.canonicalDocs(spark, sf))
      .split("== Initial Plan ==")(0)
    // the best member comes from max(struct(len, -id)) with map-side
    // partials, never a row_number window over cluster members
    assert(p.contains("partial_max"), p)
    assert(!p.contains("row_number"), p)
  }

  test("DSIR: the ratio table broadcasts back; document text never shuffles") {
    val p = plan(operators.CorpusAnalytics.dsirWeights(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    // every exchange carries hashed buckets / doc partials — if 'text'
    // appears in any Exchange's schema the corpus is being shuffled
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), l)
    }
  }

  test("iqr fences: quantiles ride GlobalRank; the fence table broadcasts") {
    val p = plan(operators.CorpusAnalytics.iqrOutliers(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("GlobalRank"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("row_number"), p)
  }

  test("groups-frame windows partition by the high-cardinality key, never one reducer") {
    val p = plan(operators.Analytics.groupsFrame(spark, sf))
    assert(p.contains("Window"), p) // the emulation IS two windows
    assert(!p.contains("SinglePartition"), p)
  }

  test("exclude-frame: all four window aggregates share ONE Window operator and exchange") {
    val p = plan(operators.Analytics.excludeFrame(spark, sf))
      .split("== Initial Plan ==")(0)
    // both frames ride the same partition+order, so Catalyst plans a
    // single Window node on a single hash exchange — the peer-group
    // pass must not buy a second shuffle
    assert("(?m)^[^\\n]*Window \\[".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("groups+exclude composition: one hash exchange, no single-reducer window") {
    val p = plan(operators.Analytics.groupsExclude(spark, sf))
      .split("== Initial Plan ==")(0)
    // dense_rank orders by o_orderdate, the frame windows by dr — two
    // Window nodes — but all of them partition by o_custkey, so the
    // whole composition rides ONE hash exchange and stays parallel
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("single-partition windows sit above an aggregate or a limit, never over a raw scan") {
    // PlanAudit's window rule, which PlanAuditSweepSpec applies to every
    // registered path, pinned on the five known global-window sites:
    // q_period_delta (Analytics.periodDelta: lag over the month
    // aggregate), zipf_fit (CorpusAnalytics.zipfFit: rank over the
    // top-k limit), volume_anomaly (DataQuality.volumeAnomaly: trailing
    // frame over the daily aggregate), join_order_probe
    // (DataQuality.joinOrderProbe: ranks over the six permutations
    // crossed with aggregated selectivities) and the distributed
    // k-means seed numbering (Similarity.kmeansDistributed: row_number
    // over the k-row limit, run while the frame is built). Each site
    // must plan such a window, and the rule must pass it.
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sites = Seq("q_period_delta", "zipf_fit", "volume_anomaly", "join_order_probe")
        .map(n => n -> PlanAudit.preparedPlan(SparkEntry.queries(n)(spark, sf)))
      // the k-means seed window runs inside a localCheckpoint job
      val plans = scala.collection.mutable.ArrayBuffer[SparkPlan]()
      val cap = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.synchronized(plans += qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      org.apache.spark.sql.graftfn.PlanBridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.register(cap)
      try {
        Similarity.kmeansDistributed(Tables.embeddings(spark, sf)
          .select(col("vec_id"), col("embedding").as("__emb")), 4, 1)
        org.apache.spark.sql.graftfn.PlanBridge.drainListenerBus(spark.sparkContext)
      } finally spark.listenerManager.unregister(cap)
      val kmeans = plans.synchronized(plans.toSeq)
        .filter(p => PlanAudit.singlePartitionWindows(p).nonEmpty)
      assert(kmeans.nonEmpty, "no single-partition window in the k-means seed job")
      (sites ++ kmeans.map("kmeans_seed" -> _)).foreach { case (name, p) =>
        assert(PlanAudit.singlePartitionWindows(p).nonEmpty, s"$name: no global window\n$p")
        assert(PlanAudit.violations(p, allPairsAllowed = false).isEmpty, s"$name\n$p")
      }
      // the rule fires on a global window straight over a scan, also of
      // a table the fact-table funnel rule does not watch
      import org.apache.spark.sql.expressions.Window
      val raw = Tables.customer(spark, sf)
        .withColumn("rk", row_number().over(Window.orderBy(col("c_custkey"))))
      assert(PlanAudit.violations(PlanAudit.preparedPlan(raw), allPairsAllowed = false)
        .exists(_.contains("single-partition window")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
