package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained IVF index (C13 ∘ A15 at index grain) —
  * the maintenance story for the THIRD shared asset, completing the
  * E85 term-table / E86 gram-table family: the E7c persisted index
  * retrains the coarse quantizer from scratch on every build, but a
  * production corpus arrives as daily deltas, and a daily fold must
  * cost |Δ|, not |corpus|.
  *
  * Index layout under one root, both arms transactional
  * (`graft-atomic`, manifest-versioned, tag-idempotent — a re-delivered
  * batch publishes nothing; a crash mid-fold leaves the previous
  * committed version visible):
  *
  *  - `<root>/centroids` — the FROZEN coarse quantizer, one row per
  *    (cell, pos, x): the sink is scalar-typed, so the k×dim float
  *    matrix travels per-dimension and is reassembled on read. Floats
  *    widen to double exactly and `Double.toString` round-trips, so
  *    the reloaded quantizer is bit-identical to the trained one and
  *    [[Similarity.assignCells]] stays a pure function across the
  *    round-trip (the E7c persistence property, re-proven here).
  *  - `<root>/assign` — the maintained asset: one (vec_id, cell,
  *    c_nrm) row per corpus vector. Deliberately NOT the vectors
  *    themselves: at 100 TB the embedding store is the corpus and the
  *    index is cell metadata over it — search joins the assignment
  *    table back to the vector source on vec_id, instead of the index
  *    duplicating 100 TB of floats.
  *
  * A fold assigns ONLY the delta's vectors to the existing cells
  * (centroids frozen — one broadcast-centroid-array argmax projection
  * over |Δ| rows, r20) and appends them atomically. Assignment is per-vector pure,
  * so fold(Δ₁)∘fold(Δ₂)∘… equals the one-shot assignment of ∪Δᵢ
  * exactly — the `ann_ivf_fold_gate` pins that search-for-search, plus
  * replay no-op, plus recall@10 ≥ 0.7 vs brute force.
  *
  * Freezing the quantizer is what makes folds cheap, and it is safe
  * only while the data distribution holds — so the drift check is part
  * of the contract: [[driftStats]] computes cell-population skew and
  * the mean member→centroid cosine (the E68 embedding-health
  * statistic) in one pass over the index, and [[drifted]] compares
  * against the build-time baseline. A drifted index must RETRAIN:
  * [[build]] into a fresh versioned root and swap readers — the same
  * publish-then-repoint move every A15 consumer already makes; folds
  * never mutate a quantizer in place. */
object IvfIndex {

  /** Bump when the quantizer training recipe changes. */
  val QuantizerVersion = 1

  private def centroidRoot(root: String) = s"$root/centroids"
  private def assignRoot(root: String)   = s"$root/assign"

  /** Initial build: train the coarse quantizer on the seed batch
    * (deterministic bounded k-means, [[Similarity.kmeansCentroids]]),
    * publish it, and fold the seed as the first assignment batch.
    * Returns the trained centroid frame (already materialized: a local
    * frame or the trainer's localCheckpoint) so callers/specs can compare the
    * published round-trip against THESE floats — retraining would race
    * aggregate summation order, the E7c lesson. */
  def build(s: SparkSession, root: String, seed: DataFrame,
            targetCellSize: Long = 64L, iters: Int = 3): DataFrame = {
    val c0 = seed.select(col("vec_id"), col("embedding"))
    val n = c0.count()
    val cents = Similarity.kmeansCentroids(
      c0, Similarity.cellCount(n, targetCellSize), iters, n = n)
    cents
      .select(col("cell"), posexplode(col("centroid")).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"), col("x").cast("double").as("x"))
      .write.format("graft-atomic")
      .option("graft.tag", s"quantizer-v$QuantizerVersion")
      .mode("append").save(centroidRoot(root))
    foldBatch(s, root, seed, tag = "init")
    cents
  }

  /** The frozen quantizer, reassembled to (cell, centroid:
    * array<float>) — bit-identical to the trained frame (see object
    * doc for why the per-dimension double round-trip is lossless). */
  def centroids(s: SparkSession, root: String): DataFrame =
    graft.sources.AtomicSink.readCommitted(s, centroidRoot(root))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
        t => t.getField("x").cast("float")).as("centroid"))

  /** Daily fold: assign ONLY the delta's vectors to the existing cells
    * and append transactionally. Cost is O(|Δ|·k) for the argmax —
    * never a corpus rescan. Tag-idempotent: a re-delivered batch
    * publishes nothing. */
  def foldBatch(s: SparkSession, root: String, vecs: DataFrame,
                tag: String): Unit =
    Similarity.assignCells(
        vecs.select(col("vec_id"), col("embedding")), centroids(s, root))
      .withColumn("c_nrm", Similarity.norm("embedding"))
      .select(col("vec_id"), col("cell"), col("c_nrm"))
      .write.format("graft-atomic").option("graft.tag", tag)
      .mode("append").save(assignRoot(root))

  /** The maintained assignment rows (vec_id, cell, c_nrm). */
  def assignments(s: SparkSession, root: String): DataFrame =
    graft.sources.AtomicSink.readCommitted(s, assignRoot(root))

  /** The searchable index frame: committed assignments joined back to
    * the vector source — the shape [[Similarity.ivfSearch]] takes. */
  def indexedWith(s: SparkSession, root: String, corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .join(assignments(s, root), Seq("vec_id"))

  /** Search the maintained index. nProbe ≤ 0 derives the
    * probed-mass-holding default from the committed cell count, the
    * [[Similarity.ivfTopK]] operating point. */
  def search(s: SparkSession, root: String, corpus: DataFrame,
             queries: DataFrame, k: Int, nProbe: Int = 0): DataFrame = {
    val cents = centroids(s, root)
    val probe =
      if (nProbe > 0) nProbe
      else math.max(4, ((cents.count() + 1) / 2).toInt)
    Similarity.ivfSearch(queries, cents, indexedWith(s, root, corpus), k, probe)
  }

  /** One-pass index health (the drift statistics): cell-population
    * skew (max/mean members per cell) and mean member→centroid cosine
    * — the E68 statistic at index grain. */
  case class DriftStats(nVecs: Long, nCells: Long, maxCell: Long,
                        meanCos: Double) {
    def skew: Double =
      if (nCells == 0 || nVecs == 0) 0.0
      else maxCell.toDouble / (nVecs.toDouble / nCells.toDouble)
  }

  def driftStats(s: SparkSession, root: String, corpus: DataFrame): DriftStats = {
    val cents = centroids(s, root)
      .select(col("cell"), col("centroid"),
        Similarity.norm("centroid").as("ct_nrm"))
    val member = indexedWith(s, root, corpus)
      .join(broadcast(cents), Seq("cell"))
      .withColumn("__cos", Similarity.dot("embedding", "centroid") /
        (col("c_nrm") * col("ct_nrm")))
    val perCell = member.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("__cos")).as("sc"))
    val r = perCell.agg(coalesce(sum(col("n")), lit(0L)),
        count(lit(1)), coalesce(max(col("n")), lit(0L)),
        coalesce(sum(col("sc")), lit(0.0))).head()
    val nVecs = r.getLong(0)
    DriftStats(nVecs, r.getLong(1), r.getLong(2),
      if (nVecs == 0) 0.0 else r.getDouble(3) / nVecs)
  }

  /** Retrain trigger: the current index has drifted from its
    * build-time baseline when one heavy cell holds more than
    * `skewFactor`× the baseline's worst relative population, or the
    * mean member→centroid cosine fell below `cosFactor` of the
    * baseline's. `cosFactor` defaults to 0.7 — the baseline mean is
    * biased high (its members TRAINED the centroids; fresh
    * in-distribution members score somewhat lower by construction),
    * so a tighter factor would alarm on healthy isotropic growth. On
    * true: retrain via [[build]] into a fresh root and swap readers;
    * never fold onto a drifted quantizer. */
  def drifted(baseline: DriftStats, current: DriftStats,
              skewFactor: Double = 2.0, cosFactor: Double = 0.7): Boolean =
    current.skew > skewFactor * math.max(baseline.skew, 1.0) ||
      current.meanCos < cosFactor * baseline.meanCos
}
