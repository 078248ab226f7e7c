package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.Tables

/** Mergeable-sketch operators (SURVEY §2 E42-E43): the pre-aggregated
  * summary-table pattern that makes interactive analytics possible at
  * 100 TB — build tiny mergeable sketches per shard ONCE, then answer
  * distinct-count / frequency questions by merging sketches instead of
  * re-scanning data. Both operators pin their formal accuracy
  * guarantee as an exact-oracle boolean, the same discipline as the
  * HLL/GK/freqItems gates (SURVEY §5).
  */
object Sketches {

  // --------------------------------------------------------------- E42
  /** Mergeable HLL sketch rollup: per-(lang, source) Datasketches HLL
    * sketches of the doc id domain (the shard-level summary table a
    * 100 TB corpus would persist next to each ingest batch), then a
    * second-level `hll_union_agg` merge up to per-lang distinct-doc
    * estimates — NO rescan of the base data at query time, which is
    * the entire point of the pattern: the merge input is
    * #shards × ~2^lgK bytes regardless of corpus size.
    *
    * Correctness gate (driver-checkable): the merged estimate must
    * land within `tol` of the exact distinct count (relative error of
    * the k=2^12 HLL is ~1.6%; below the sparse-mode threshold the
    * sketch is EXACT, so 5% never flakes while any merge bug — e.g.
    * unioning the wrong shard level — lands far outside). Columns are
    * the exact count + flag so the DuckDB oracle pins every row. */
  def hllRollup(s: SparkSession, dir: String, tol: Double = 0.05): DataFrame = {
    val docs = Tables.documents(s, dir)
    // shard-level sketch table: one 2^12-bucket sketch per (lang, source)
    val shard = docs.groupBy(col("lang"), col("source"))
      .agg(hll_sketch_agg(col("doc_id"), lit(12)).as("sk"))
    // rollup by merging sketches — never touches `docs` again
    val merged = shard.groupBy(col("lang"))
      .agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("lang"), hll_sketch_estimate(col("sk")).as("est"))
    val exact = docs.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_exact"))
    exact.join(merged, "lang")
      .select(col("lang"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact").cast("double") * tol).as("within_tol"))
  }

  val hllRollupSql: String =
    """SELECT lang, COUNT(DISTINCT doc_id) AS n_exact, TRUE AS within_tol
      |FROM documents GROUP BY lang""".stripMargin

  // --------------------------------------------------------------- E43
  /** Count-min-sketch frequency probe: merge one CMS over the event
    * stream (`count_min_sketch` is an algebraic aggregate — partials
    * combine map-side, the exchange carries one w×d counter array per
    * partition, never rows), then probe it for each key and check the
    * CMS contract: the estimate NEVER undercounts, and overcounts by
    * at most eps·N (w = ⌈2/eps⌉ counters/row; overflow probability
    * (1-confidence)^d). The probe set (distinct event types) is a
    * bounded domain — the collect is capped and fail-fast, mirroring
    * FileCatalog.pathsForDate's discipline, because a CMS probe list
    * must be driver-sized by definition (that's what the sketch is
    * for; an unbounded key set would use the exact groupBy instead). */
  def cmsProbe(s: SparkSession, dir: String, eps: Double = 0.001,
               confidence: Double = 0.99, maxKeys: Int = 1000): DataFrame = {
    val ev = Tables.events(s, dir)
    val skRow = ev.agg(
      count_min_sketch(col("event_type"), lit(eps), lit(confidence), lit(42)).as("sk"),
      count(lit(1)).as("n_total")).head()
    val sketch = CountMinSketch.readFrom(skRow.getAs[Array[Byte]]("sk"))
    val nTotal = skRow.getAs[Long]("n_total")
    val exact = Bounded.collect(
      ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact")), maxKeys)
      .getOrElse(throw new IllegalArgumentException(
        s"more than maxKeys=$maxKeys distinct event types — a CMS probe list " +
          "must be driver-sized; use the exact groupBy for unbounded key sets"))
    val slack = math.ceil(eps * nTotal).toLong
    val rows = exact.toSeq.map { r =>
      val key = r.getAs[String]("event_type")
      val n = r.getAs[Long]("n_exact")
      val est = sketch.estimateCount(key.getBytes(StandardCharsets.UTF_8))
      (key, n, est >= n, est <= n + slack)
    }
    import s.implicits._
    rows.toDF("event_type", "n_exact", "never_under", "within_eps")
  }

  val cmsProbeSql: String =
    """SELECT event_type, COUNT(*) AS n_exact,
      |  TRUE AS never_under, TRUE AS within_eps
      |FROM events GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- E46
  /** Theta-sketch audience overlap: how many (user, day) active pairs
    * does each PAIR of event types share? The exact answer needs a
    * self-join of the distinct audience table; the sketch answer
    * intersects two kilobyte-sized Theta sketches — the only
    * distinct-count sketch family with set operations, which is why
    * it (not HLL) is the summary-table choice when overlap questions
    * matter. The plan follows the E42 two-level discipline:
    *
    *   1. shard level: one sketch per (event_type, day) — the
    *      per-ingest-batch summary a 100 TB pipeline persists;
    *   2. rollup: `theta_union_agg` per event_type — consumes
    *      sketches, never rescans events;
    *   3. pairwise intersections over the ≤ `maxTypes` per-type
    *      sketches on the driver (an overlap matrix is type-count²
    *      sized by definition — capped and fail-fast like cmsProbe).
    *
    * Gate: every pairwise estimate must land within `tol` of the
    * exact overlap (computed distributed, audience-table self-join on
    * the bounded distinct frame). lgK=14 holds the per-type sketches
    * at/near exact mode for the test SFs while staying ~0.8% relative
    * error far beyond them; Theta hashing is seed-fixed, so the
    * estimate — hence the boolean — is deterministic for fixed data. */
  def thetaOverlap(s: SparkSession, dir: String, lgK: Int = 14,
                   tol: Double = 0.05, maxTypes: Int = 64): DataFrame = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketches => Th}
    import graft.functions.SketchFns._
    // ONE events scan (r20): the distinct audience table feeds BOTH the
    // sketch path and the exact self-join — previously each path ran its
    // own full scan+projection of events. Feeding the sketches DISTINCT
    // rows is value-identical: a Theta update with an already-retained
    // hash is a no-op, so the per-shard sketch state is a function of
    // the (user, day) SET, which dedup does not change.
    val audience = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint()
    // the sketched item is the (user, day) pair, folded to one stable
    // 64-bit key (xxhash64 is fixed-seed; collisions at ~n²/2^64 are
    // far inside `tol`) — Theta updates take scalars, not structs
    val shard = audience.groupBy(col("event_type"), col("day"))
      .agg(thetaSketch(xxhash64(col("user_id"), col("day")), lgK).as("sk"))
    val perType = Bounded.collect(
      shard.groupBy(col("event_type")).agg(thetaUnion(col("sk"), lgK).as("sk")), maxTypes)
      .getOrElse(throw new IllegalArgumentException(
        s"more than maxTypes=$maxTypes event types — an overlap matrix is " +
          "quadratic in the type count; aggregate types first or raise the cap"))
    val sketches = perType.map(r => r.getAs[String]("event_type") ->
      Th.wrapSketch(Memory.wrap(r.getAs[Array[Byte]]("sk")))).sortBy(_._1)
    val ests = for {
      i <- sketches.indices; j <- (i + 1) until sketches.length
    } yield {
      val inter = SetOperation.builder().setLogNominalEntries(lgK).buildIntersection()
      inter.intersect(sketches(i)._2)
      inter.intersect(sketches(j)._2)
      (sketches(i)._1, sketches(j)._1, inter.getResult.getEstimate)
    }
    import s.implicits._
    val estDf = ests.toDF("type_a", "type_b", "est")
    val d = audience
    val exact = d.as("a").join(d.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(estDf), Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact").cast("double") * tol).as("within_tol"))
  }

  val thetaOverlapSql: String =
    """WITH d AS (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day
      |           FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  COUNT(*) AS n_exact, TRUE AS within_tol
      |FROM d a JOIN d b
      |  ON a.user_id = b.user_id AND a.day = b.day
      | AND a.event_type < b.event_type
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- E47
  /** Mergeable KLL quantile rollup: per-(event_type, day) KLL sketches
    * of `value` (the shard summary), merged per event_type by
    * `kll_merge_agg` — quantiles over a month of data without
    * re-reading a single measurement, the rollup-able counterpart of
    * the one-shot GK `approx_percentile` (D24; GK partials are not a
    * persistable summary table).
    *
    * Gate: for each type, probe the merged sketch at p∈{0.5, 0.9} and
    * verify the TRUE normalized rank of the returned quantile —
    * count(value ≤ q)/n, computed distributed in one conditional
    * aggregation pass with the tiny estimate table broadcast — lands
    * within 3× the sketch's advertised 99%-confidence rank error
    * (k=200 → ε≈1.65%; KLL compaction coin-flips make the estimate
    * itself run-dependent, so the gate is the bound that holds with
    * probability ≈1-1e-10, the same 5σ discipline as the Bernoulli
    * sampler gate). Columns are exact counts + booleans so the oracle
    * pins every row. */
  def kllRollup(s: SparkSession, dir: String, k: Int = 200,
                maxTypes: Int = 64): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    import graft.functions.SketchFns._
    val ev = Tables.events(s, dir)
    val shard = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(kllSketch(col("value"), k).as("sk"))
    val merged = Bounded.collect(
      shard.groupBy(col("event_type")).agg(kllMerge(col("sk"), k).as("sk")), maxTypes)
      .getOrElse(throw new IllegalArgumentException(
        s"more than maxTypes=$maxTypes event types in the KLL rollup probe"))
    val eps = org.apache.datasketches.kll.KllSketch.getNormalizedRankError(k, false)
    val probes = merged.map { r =>
      val sk = KllDoublesSketch.heapify(Memory.wrap(r.getAs[Array[Byte]]("sk")))
      (r.getAs[String]("event_type"),
        sk.getQuantile(0.5, QuantileSearchCriteria.INCLUSIVE),
        sk.getQuantile(0.9, QuantileSearchCriteria.INCLUSIVE))
    }.toSeq
    import s.implicits._
    val probeDf = probes.toDF("event_type", "q50", "q90")
    ev.join(broadcast(probeDf), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("value") <= col("q50"), 1L).otherwise(0L)).as("n_le_q50"),
        sum(when(col("value") <= col("q90"), 1L).otherwise(0L)).as("n_le_q90"))
      .select(col("event_type"), col("n_total"),
        (abs(col("n_le_q50").cast("double") / col("n_total") - 0.5) <=
          lit(3.0 * eps)).as("p50_in_bound"),
        (abs(col("n_le_q90").cast("double") / col("n_total") - 0.9) <=
          lit(3.0 * eps)).as("p90_in_bound"))
  }

  val kllRollupSql: String =
    """SELECT event_type, COUNT(*) AS n_total,
      |  TRUE AS p50_in_bound, TRUE AS p90_in_bound
      |FROM events GROUP BY event_type""".stripMargin
}
