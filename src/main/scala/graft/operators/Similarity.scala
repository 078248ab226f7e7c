package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs

/** Embedding similarity operators (SURVEY.md §2 E5-E7): cosine
  * primitives over `array<float>` columns, brute-force top-k ANN, an
  * LSH (random hyperplane) bucketed scale path, and cosine near-dup
  * detection.
  *
  * Arithmetic discipline: every product is float×float promoted to
  * double (exact in IEEE754) and summed in array order, so scores are
  * bit-reproducible — the DuckDB oracle computes the identical
  * sequence. The hot loops are codegen expressions
  * ([[graft.functions.FloatVecDot]], [[graft.functions.HyperplaneBucket]]),
  * not interpreted `zip_with`/`aggregate` lambdas, and pair-independent
  * work (norms, buckets) is computed once per VECTOR before the join,
  * never per pair. At 100 TB the brute-force path prunes to k per
  * query map-side (bounded aggregate after a broadcast of the bounded
  * query set — no window sort); the LSH path turns the all-pairs
  * problem into per-bucket pairs.
  */
object Similarity {

  /** Σ aᵢ·bᵢ with double accumulation in array order (codegen). */
  def dot(a: String, b: String): Column = VectorExprs.floatDot(col(a), col(b))

  def norm(a: String): Column = sqrt(dot(a, a))

  def cosine(a: String, b: String): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k (E6): broadcast the (bounded) query set
    * against the corpus; corpus/query norms are computed once per
    * vector, so each of the |Q|·|C| pairs costs one dot product. The
    * per-query top-k is a bounded aggregate ([[graft.functions.BoundedTopK]]),
    * NOT a row_number window: the window form shuffles every scored
    * pair into |Q| reducer partitions and sorts the whole corpus per
    * query — at corpus scale that is a few-hot-partition sort of all
    * |Q|·|C| rows. The aggregate prunes to ≤ k per query map-side, so
    * the exchange carries O(|Q|·k). Ordering (cos desc, vec_id asc on
    * the rounded score) matches the previous window formulation
    * bit-for-bit. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_nrm", norm("q_emb"))
    val c = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("c_nrm", norm("embedding"))
    c.crossJoin(broadcast(q))
      .withColumn("cos",
        round(dot("q_emb", "embedding") / (col("q_nrm") * col("c_nrm")), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.boundedTopK(
        struct((-col("cos")).as("neg_cos"), col("vec_id")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.vec_id").as("vec_id"),
        (-col("t.neg_cos")).as("cos"), (col("pos") + 1).cast("int").as("rn"))
  }

  /** Hard-negative mining for contrastive training (E81): for each
    * query vector, the top-k most-similar corpus vectors that carry a
    * DIFFERENT label, excluding near-duplicates (cos ≥ `nearDupCos` —
    * those are mislabeled twins, not informative negatives). Same
    * bounded-aggregate scale shape as [[bruteForceTopK]]: the label
    * test and the near-dup ceiling are per-pair projections evaluated
    * BEFORE the aggregate, so the exchange still carries O(|Q|·k)
    * rows, never the scored cross product. Brute force is the exact
    * baseline; at corpus scale the same selection runs against the
    * persisted IVF index (E7c) with the label filter applied at cell-
    * probe time. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    nearDupCos: Double = 0.95): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
        col("label").as("q_label"), col("embedding").as("q_emb"))
      .withColumn("q_nrm", norm("q_emb"))
    val c = corpus.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("c_nrm", norm("embedding"))
    c.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("cos",
        round(dot("q_emb", "embedding") / (col("q_nrm") * col("c_nrm")), 6))
      .filter(col("cos") < nearDupCos)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.boundedTopK(
        struct((-col("cos")).as("neg_cos"), col("vec_id")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.vec_id").as("vec_id"),
        (-col("t.neg_cos")).as("cos"), (col("pos") + 1).cast("int").as("rn"))
  }

  /** Random hyperplanes for LSH: deterministic from `seed`. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Embedding dimensionality probed from the data (one 1-row job) so
    * the LSH planes always match — a mismatch then fails fast inside
    * [[graft.functions.HyperplaneBucket]] instead of silently hashing
    * every vector to bucket 0. None on an empty/all-null corpus. */
  def embeddingDim(vecs: DataFrame, embCol: String = "embedding"): Option[Int] =
    vecs.select(size(col(embCol)).as("d")).filter(col("d") >= 0)
      .limit(1).collect().headOption.map(_.getInt(0))

  /** Cosine near-duplicate pairs (E5). `exact=true` returns the EXACT
    * pair set via [[cosineNearDuplicatesBanded]] (band-bounded, never a
    * cartesian); otherwise pairs are generated within LSH buckets only
    * (probabilistic recall, cheapest at extreme scale). */
  def cosineNearDuplicates(vecs: DataFrame, threshold: Double,
                           exact: Boolean = false, nPlanes: Int = 16,
                           seed: Long = 42L, dim: Option[Int] = None): DataFrame = {
    val base = vecs.select(col("vec_id"), col("embedding"))
    if (exact) return cosineNearDuplicatesBanded(base, threshold, seed = seed, dim = dim)
    val a = base.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .withColumn("nrm_a", norm("emb_a"))
    val b = base.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      .withColumn("nrm_b", norm("emb_b"))
    val pairs =
      dim.orElse(embeddingDim(base)) match {
        case None => // empty corpus → empty pairs, like the exact path
          a.limit(0).join(b.limit(0), col("id_a") < col("id_b"))
        case Some(d) =>
          val ab = a.withColumn("bucket", VectorExprs.hyperplaneBucket(col("emb_a"),
            hyperplanes(nPlanes, d, seed)))
          val bb = b.withColumn("bucket", VectorExprs.hyperplaneBucket(col("emb_b"),
            hyperplanes(nPlanes, d, seed)))
          ab.join(bb, Seq("bucket")).filter(col("id_a") < col("id_b"))
            .drop("bucket")
      }
    pairs
      .withColumn("cos", round(dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** All-pairs cosine near-dup — the O(n²) verification oracle for
    * [[cosineNearDuplicatesBanded]]. Bounded corpora ONLY (specs, small
    * recall audits); never register this form as a production query. */
  def cosineNearDuplicatesBrute(vecs: DataFrame, threshold: Double): DataFrame = {
    val base = vecs.select(col("vec_id"), col("embedding"))
    val a = base.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .withColumn("nrm_a", norm("emb_a"))
    val b = base.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      .withColumn("nrm_b", norm("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** EXACT cosine near-duplicate pairs with BOUNDED candidates — the
    * PPJoin-for-vectors plan (prefix filtering à la Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07, adapted to dense
    * vectors). Replaces the all-pairs cartesian with an equi-join:
    *
    *  1. **Band** every vector by `bandPivots` seeded unit directions:
    *     cell_i = ⌊(v̂·p_i)/w⌋ with w = √(2−2θ')(1+ε), θ' = θ − 0.5e-6
    *     (the emitted filter rounds cos to 6 decimals, so a qualifying
    *     pair's true cosine bound is θ', which also keeps w ≥ 1e-3 at
    *     θ = 1). For any pair with round(cos,6) ≥ θ the unit vectors
    *     satisfy |û−v̂| ≤ √(2−2θ'), and a unit
    *     projection contracts distances (Cauchy-Schwarz), so the pair's
    *     cells differ by at most 1 per pivot — a candidate pair MUST
    *     fall in the same or an adjacent cell on EVERY axis. The join
    *     is a plain hash equi-join on the cell tuple; one side fans out
    *     over the lexicographically-positive half of {−1,0,1}^g
    *     ((3^g+1)/2 keys), which generates each unordered neighbor-cell
    *     pair exactly once (same-cell pairs keep the id_a < id_b tie).
    *  2. **Prefix-filter** surviving candidates with the head bound:
    *     the distance of the first `headLen` coordinates of û,v̂ is a
    *     coordinate projection of |û−v̂|, so headDist² > (2−2θ) refutes
    *     the pair with certainty — a handful of codegen flops (one
    *     `float_vec_dot` over the raw float heads plus two precomputed
    *     per-vector norms) kills random pairs long before the full dot.
    *  3. Survivors get the UNCHANGED exact score — `round(dot/(‖a‖‖b‖),
    *     6)` in array order, bit-identical to the brute form — so the
    *     emitted pair set equals [[cosineNearDuplicatesBrute]]'s
    *     (spec-verified). Slack ε ≫ the ~1e-14 error of the
    *     double-accumulated projections keeps the pruning conservative.
    *
    * Scale: per-pair work is O(headLen) until the final check; the join
    * carries ~n·(3^g+1)/2 rows keyed by cells, and candidate volume is
    * Σ_cellpairs n_a·n_b — band pivots are the 100 TB knob (each extra
    * pivot multiplies cell count by the per-axis band count and divides
    * per-cell occupancy; g=2 already yields broadcast-sized sides
    * here). Zero-norm vectors have no direction and are excluded (the
    * brute form emits NaN-cos artifacts for them under Spark's
    * NaN-is-greatest ordering; real corpora contain neither). */
  def cosineNearDuplicatesBanded(vecs: DataFrame, threshold: Double,
                                 headLen: Int = 16, bandPivots: Int = 2,
                                 seed: Long = 42L, dim: Option[Int] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold (the band width √(2−2θ) " +
        "must be positive and the half-space trick needs a positive bound)")
    val base = vecs.select(col("vec_id"), col("embedding"))
    val g = bandPivots
    dim.orElse(embeddingDim(base)) match {
      case None =>
        base.select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
          lit(0.0).as("cos")).limit(0)
      case Some(d) =>
        // the emitted filter is on round(cos, 6) ≥ θ, so a qualifying
        // pair's TRUE cosine can be as low as θ − 0.5e-6 — the
        // geometric radius must use that bound, not θ itself. This also
        // floors the band width at θ = 1.0 (r ≥ 1e-3 instead of 0), so
        // relative fp error in a unit projection (~1e-7) can never span
        // a band and silently drop an exact-duplicate pair.
        val thetaEff = threshold - 0.5e-6
        val r = math.sqrt(2.0 - 2.0 * thetaEff)
        val w = r * (1.0 + 1e-6) + 1e-9 // band width with fp slack
        val ubSq = w * w                // head-distance ceiling, same slack
        val pivots: Array[Array[Float]] = hyperplanes(g, d, seed).map { p =>
          val n = math.sqrt(p.map(x => x * x).sum)
          p.map(x => (x / n).toFloat)
        }
        // NOTE (r20, tried and REVERTED): computing norms/heads/band
        // coordinates ONCE into a localCheckpoint cut shared by both
        // sides measured 0.99→1.15 s on dedup_embedding same-box pairs
        // — the materialization job costs more than the duplicated
        // 1000-row scan it saves at bench scale. At very large corpora
        // the one-scan form wins on scan volume but trades executor
        // block-storage footprint (the ADVICE r19 localCheckpoint
        // note); with the local number negative on a declared query,
        // the two-projection shape stays.
        def side(sfx: String): DataFrame = {
          val e = col("embedding")
          val withCols = base
            .filter(VectorExprs.floatDot(e, e) > 0) // defined direction only
            .select(col("vec_id").as("id" + sfx), e.as("emb" + sfx),
              sqrt(VectorExprs.floatDot(e, e)).as("nrm" + sfx),
              slice(e, 1, headLen).as("head" + sfx))
            .withColumn("hh" + sfx,
              VectorExprs.floatDot(col("head" + sfx), col("head" + sfx)) /
                (col("nrm" + sfx) * col("nrm" + sfx)))
          pivots.zipWithIndex.foldLeft(withCols) { case (df, (p, i)) =>
            df.withColumn(s"c$i$sfx",
              floor(VectorExprs.floatDot(col("emb" + sfx), typedLit(p)) /
                col("nrm" + sfx) / lit(w)).cast("long"))
          }
        }
        // lexicographically-positive half of {−1,0,1}^g, plus zero
        val offsets: Seq[Seq[Int]] = {
          def enum(k: Int): Seq[Seq[Int]] =
            if (k == 0) Seq(Seq.empty)
            else for (h <- Seq(-1, 0, 1); t <- enum(k - 1)) yield h +: t
          enum(g).filter(o => o.forall(_ == 0) ||
            o.dropWhile(_ == 0).headOption.contains(1))
        }
        val offCol = array(offsets.map(o =>
          struct(o.zipWithIndex.map { case (v, i) => lit(v).as(s"d$i") }: _*)): _*)
        val aFan0 = side("_a").withColumn("__o", explode(offCol))
        val aFan = (0 until g).foldLeft(aFan0) { (df, i) =>
          df.withColumn(s"jc$i", col(s"c${i}_a") + col("__o").getField(s"d$i"))
        }
        val bSide = side("_b")
        val joinCond = (0 until g).map(i => col(s"jc$i") === col(s"c${i}_b"))
          .reduce(_ && _)
        val sameCell = (0 until g).map(i => col("__o").getField(s"d$i") === 0)
          .reduce(_ && _)
        aFan.join(bSide, joinCond)
          .filter(!sameCell || col("id_a") < col("id_b"))
          .filter(col("hh_a") + col("hh_b") -
            lit(2.0) * VectorExprs.floatDot(col("head_a"), col("head_b")) /
              (col("nrm_a") * col("nrm_b")) <= lit(ubSq))
          .withColumn("cos", round(
            VectorExprs.floatDot(col("emb_a"), col("emb_b")) /
              (col("nrm_a") * col("nrm_b")), 6))
          .filter(col("cos") >= threshold)
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
    }
  }

  // ------------------------------------------------------------- IVF

  /** Cell count for a corpus of `n` vectors: one k-means cell per
    * `targetCellSize` members, clamped to [1, maxCells]. Every entry
    * point that clusters derives k from the data through this — a
    * fixed k (the old default of 16) makes within-cell work O((n/k)²)
    * per cell and cannot survive a 100× corpus growth. */
  def cellCount(n: Long, targetCellSize: Long, maxCells: Int = 1 << 17): Int =
    math.min(maxCells.toLong,
      math.max(1L, (n + targetCellSize - 1) / targetCellSize)).toInt

  /** Deterministic k-means (Lloyd, fixed iterations) returning the
    * centroids as a DataFrame `(cell: long, centroid: array<float>)`.
    * Seeds are the k vectors with the smallest `xxhash64(vec_id)` — a
    * deterministic uniform sample, immune to sorted/clustered id
    * layouts that made lowest-id seeding degenerate. Each round
    * assigns every vector by the score max (v·c − |c|²/2) with ties to
    * the lower cell ([[graft.functions.VectorExprs.nearestCellOf]]),
    * and a cell's new centroid is the double `avg` of its members per
    * dimension, cast to float. Cells that lose every member keep their
    * previous centroid.
    *
    * Training is BOUNDED: when the corpus exceeds `maxTrain`, Lloyd
    * runs on a deterministic xxhash64(vec_id) sample of ~max(maxTrain,
    * 4k) vectors (the coarse-quantizer-on-a-sample discipline of every
    * production IVF build) — per-iteration cost then caps at
    * O(maxTrain·k·dim) no matter how large the corpus grows, while the
    * FINAL full-corpus assignment stays with the caller. Pass `n` if
    * the caller already counted the corpus, else it is counted here;
    * pass `dim` (the largest embedding length) if the caller knows it,
    * else [[embeddingDim]] probes it.
    *
    * Scale shape: two arms, the same centroids. When the training set
    * holds at most [[KmeansDriverFloats]] floats and a round at most
    * [[KmeansDriverMultiplyAdds]] multiply-adds, one bounded collect
    * ([[trainingRows]]) reads it and every round runs in plain Scala
    * ([[kmeansOnDriver]]): at that size a distributed round is mostly
    * its jobs and planning passes (seeds, assignment, means,
    * checkpoint), not its arithmetic. Past either bound the rounds stay
    * on executors ([[kmeansDistributed]], the only arm that
    * checkpoints), so k·dim can grow with the corpus and the driver
    * never holds the training set. */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int = 3,
                      embCol: String = "embedding",
                      maxTrain: Long = 100000L, n: Long = -1L,
                      dim: Option[Int] = None): DataFrame = {
    val all = vecs.select(col("vec_id"), col(embCol).as("__emb"))
    val total = if (n >= 0) n else all.count()
    val cap = math.max(maxTrain, 4L * k)
    val base =
      if (total <= cap) all
      else { // keep each vector with probability cap/total, by stable hash
        val den = 1L << 20
        val num = math.min(den, den * cap / total + 1)
        all.filter(pmod(xxhash64(col("vec_id")), lit(den)) < lit(num))
      }
    val d = math.max(1, dim.orElse(embeddingDim(base, "__emb")).getOrElse(1))
    val rowCap = math.min(KmeansDriverFloats / d,
      KmeansDriverMultiplyAdds / (d.toLong * math.max(k, 1)))
    trainingRows(base, rowCap.toInt)
      .filter(_.iterator.map(x => if (x.isNullAt(2)) 0L else x.getSeq[Any](2).length.toLong).sum <=
        KmeansDriverFloats)
      .map(kmeansOnDriver(vecs.sparkSession, _, k, iters))
      .getOrElse(kmeansDistributed(base, k, iters))
  }

  /** Driver-arm bound on the training set: n·dim floats (32 MB). */
  private[graft] val KmeansDriverFloats: Long = 8L << 20

  /** Driver-arm bound on one round's work: n·k·dim multiply-adds, a few
    * tenths of a second on one driver thread — the order of what a
    * distributed round's jobs and planning cost (an estimate, not a
    * measured crossover). */
  private[graft] val KmeansDriverMultiplyAdds: Long = 1L << 28

  private val CentroidSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("centroid", ArrayType(FloatType, containsNull = true), nullable = true)))

  private def arrayData(xs: Seq[java.lang.Float]): ArrayData =
    if (xs.contains(null)) new GenericArrayData(xs.toArray[Any])
    else UnsafeArrayData.fromPrimitiveArray(xs.map(_.floatValue).toArray)

  /** A `(vec_id, __emb)` training set as the driver arm reads it,
    * `(vec_id, xxhash64(vec_id), __emb)` in scan order, when it holds at
    * most `cap` rows and `vec_id` is integral ([[Bounded.collect]]). */
  private[graft] def trainingRows(base: DataFrame, cap: Int): Option[Array[Row]] =
    Bounded.collect(base.select(col("vec_id"), xxhash64(col("vec_id")), col("__emb")), cap, "vec_id")

  /** The driver arm of [[kmeansCentroids]] over its collected training
    * set ([[trainingRows]]): the same seeds (the k smallest (hash,
    * vec_id)), the same assignment loop, and each mean summed in scan
    * order as Spark's `avg` sums one partition — so on a one-partition
    * input the centroids are bit-identical to [[kmeansDistributed]]'s.
    * A null embedding joins no cell; a null element is skipped by its
    * dimension's mean. Returns a local frame. */
  private[graft] def kmeansOnDriver(spark: SparkSession, rows: Array[Row],
                                    k: Int, iters: Int): DataFrame = {
    val vecs = rows.map(r => (Option(r.getAs[Number](0)).map(_.longValue), r.getLong(1),
      if (r.isNullAt(2)) null else arrayData(r.getSeq[java.lang.Float](2))))
    val seedOrder = Ordering.Tuple2(Ordering.Long, Ordering.Option(Ordering.Long))
    val seeds = vecs.sortBy(v => (v._2, v._1))(seedOrder).take(k)
    var cents: Array[(Long, ArrayData)] = seeds.zipWithIndex.map { case (v, i) => (i.toLong, v._3) }
    for (_ <- 1 to iters if cents.nonEmpty) {
      val table = new GenericArrayData(cents.map { case (c, v) => InternalRow(c, half(v), v) })
      val sums = scala.collection.mutable.Map.empty[Long, (Array[Double], Array[Long])]
      vecs.foreach { case (_, _, e) =>
        // an empty vector is assigned (and checked) but adds no mean
        val cell = if (e == null) None else Some(VectorExprs.nearestCellOf(e, table))
        if (cell.isDefined && e.numElements() > 0) {
          val (sum, cnt) = sums.getOrElseUpdate(cell.get,
            (new Array[Double](e.numElements()), new Array[Long](e.numElements())))
          var i = 0
          while (i < e.numElements()) {
            if (!e.isNullAt(i)) { sum(i) += e.getFloat(i).toDouble; cnt(i) += 1 }
            i += 1
          }
        }
      }
      cents = cents.map { case (c, old) =>
        sums.get(c).fold((c, old)) { case (sum, cnt) =>
          (c, new GenericArrayData(sum.indices.map(i =>
            if (cnt(i) == 0) null else java.lang.Float.valueOf((sum(i) / cnt(i).toDouble).toFloat)
          ).toArray[Any]))
        }
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(cents.map { case (c, v) =>
      Row(c, if (v == null) null else Seq.tabulate[java.lang.Float](v.numElements())(i =>
        if (v.isNullAt(i)) null else java.lang.Float.valueOf(v.getFloat(i))))
    }: _*), CentroidSchema)
  }

  /** `assignCells`' half = |c|²/2 as [[graft.functions.FloatVecDot]]
    * sums it: null for a null centroid or a null element. */
  private def half(v: ArrayData): Any = {
    if (v == null) return null
    var acc = 0.0
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) return null
      acc += v.getFloat(i).toDouble * v.getFloat(i).toDouble
      i += 1
    }
    acc / 2.0
  }

  /** The distributed arm of [[kmeansCentroids]] over its training set
    * `(vec_id, __emb)`: each Lloyd step assigns via [[assignCells]]
    * (broadcast centroid array + codegen argmax projection — no
    * exchange, r20) and aggregates the new means per (cell, dimension)
    * into a k-row frame that is `localCheckpoint`ed to break the
    * iterative lineage. The driver never materializes k·dim values. */
  private[graft] def kmeansDistributed(base: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__h"), col("vec_id")) // ≤ k rows
    var cents = base
      .withColumn("__h", xxhash64(col("vec_id")))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      .select((row_number().over(w) - 1).cast("long").as("cell"),
        col("__emb").as("centroid"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val means = assignCells(base, cents, "__emb")
        .select(col("cell"), posexplode(col("__emb")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          t => t.getField("m").cast("float")).as("mean"))
      cents = cents.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("mean"), col("centroid")).as("centroid"))
        .localCheckpoint()
    }
    cents
  }

  /** Nearest-centroid assignment as a pure PROJECTION (r20): the
    * centroid table is collapsed (on executors) into one row holding a
    * cell-sorted `array<struct<cell, half, centroid>>`, cross-joined in
    * as a broadcast, and each vector picks its cell with the codegen
    * argmax loop [[graft.functions.VectorExprs.nearestCell]] — the
    * same score max (v·c − |c|²/2) ≡ min L2 and the same lower-cell-id
    * tie-break as the former broadcast-join + argmax-aggregate shape,
    * but with NO exchange at all: the old plan's `groupBy(vec_id)`
    * shuffled one row per vector WITH its embedding (a full-corpus
    * exchange on the final IVF/semdedup assignment pass) purely to
    * collapse the k-way join fan-out this formulation never creates.
    * Broadcast footprint is unchanged — the old shape broadcast the
    * same k·dim centroid values as a hashed relation; the driver still
    * never materializes them as API output. Input must carry (vec_id,
    * embCol) with non-null float embeddings; output is
    * (vec_id, embCol, cell), one row per input row: duplicate `vec_id`s
    * are not collapsed. An empty centroid frame assigns nothing and
    * gives no row (the global aggregate's one empty-array row is
    * filtered out before the cross join). */
  def assignCells(vecs: DataFrame, centroids: DataFrame,
                  embCol: String = "embedding"): DataFrame = {
    val centsRow = centroids.agg(
      array_sort(collect_list(struct(col("cell"),
        (VectorExprs.floatDot(col("centroid"), col("centroid")) / lit(2.0)).as("half"),
        col("centroid")))).as("__cents"))
      .filter(size(col("__cents")) > 0)
    vecs.select(col("vec_id"), col(embCol))
      .crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col(embCol),
        VectorExprs.nearestCell(col(embCol), col("__cents")).as("cell"))
  }

  /** IVF ANN (E7 scale path): coarse-quantize the corpus into k-means
    * cells, then answer each query by brute-forcing only the `nProbe`
    * closest cells — the candidate join fans each query out to nProbe
    * cells instead of the whole corpus. `nCells` defaults to 0 =
    * derived from the corpus size via [[cellCount]] (one cell per
    * `targetCellSize` vectors), so the per-cell scan stays bounded as
    * the corpus grows. `nProbe` defaults to 0 = max(4, ⌈cells/2⌉):
    * recall is a function of the PROBED MASS FRACTION, so a fixed
    * probe count starves recall as the cell count grows with the
    * corpus (4/8 cells held recall 0.86-1.0; the same 4 of 32 cells
    * fell under the 0.7 gate at 10× data). The derived default holds
    * the isotropic-corpus operating point at any scale; REAL clustered
    * corpora should pass an explicit nProbe (typically 1-10% of
    * cells — clustering concentrates each query's neighbors in few
    * cells, which random vectors maximally do not). Final per-query
    * top-k via the bounded aggregate (no window sort). Approximate:
    * recall depends on nProbe/nCells (gate-checked, so rows-only at
    * the driver). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 0, nProbe: Int = 0, iters: Int = 3,
              targetCellSize: Long = 64L): DataFrame = {
    val c0 = corpus.select(col("vec_id"), col("embedding"))
    // the corpus size and the largest embedding length, in one job
    val stats = c0.agg(count(lit(1)), max(size(col("embedding")))).head()
    val nCorpus = stats.getLong(0)
    val kCells = if (nCells > 0) nCells else cellCount(nCorpus, targetCellSize)
    val probe = if (nProbe > 0) nProbe else math.max(4, (kCells + 1) / 2)
    val cents = kmeansCentroids(c0, kCells, iters, n = nCorpus,
      dim = if (stats.isNullAt(1)) None else Some(stats.getInt(1)))
    val indexed = assignCells(c0, cents).withColumn("c_nrm", norm("embedding"))
    ivfSearch(queries, cents, indexed, k, probe)
  }

  /** The SEARCH stage of [[ivfTopK]] over an already-built index —
    * `cents` as produced by [[kmeansCentroids]] and `indexed` as
    * produced by `assignCells(..).withColumn("c_nrm", norm(..))`.
    * Split out so the index can be PERSISTED (two parquet tables:
    * centroids + assigned corpus) and searched without retraining —
    * the amortized production shape, where the coarse quantizer is
    * built once and queries arrive forever after. Search is a pure
    * function of the index frames: identical index in, identical
    * top-k out (the persist gate pins exactly that across a parquet
    * round-trip). */
  def ivfSearch(queries: DataFrame, cents: DataFrame, indexed: DataFrame,
                k: Int, nProbe: Int = 4): DataFrame = {
    // per-query probe list: nProbe best cells by the same score, via
    // the same broadcast join + bounded aggregate — no centroid collect
    val centsP = cents.select(col("cell").as("__cell"), col("centroid"),
        (VectorExprs.floatDot(col("centroid"), col("centroid")) / lit(2.0)).as("__half"))
      .withColumn("__one", pmod(xxhash64(col("__cell")), lit(1L)))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_nrm", norm("q_emb"))
      .withColumn("__one", pmod(xxhash64(col("q_id")), lit(1L)))
      .join(broadcast(centsP), Seq("__one"))
      .withColumn("__s", VectorExprs.floatDot(col("q_emb"), col("centroid")) - col("__half"))
      .groupBy(col("q_id"))
      .agg(first(col("q_emb")).as("q_emb"), first(col("q_nrm")).as("q_nrm"),
        graft.functions.TopKAgg.boundedTopK(
          struct((-col("__s")).as("neg_s"), col("__cell").as("cell")), nProbe).as("probe"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        explode(col("probe").getField("cell")).as("cell"))
    indexed.join(broadcast(q), "cell")
      .withColumn("cos",
        round(dot("q_emb", "embedding") / (col("q_nrm") * col("c_nrm")), 6))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.boundedTopK(
        struct((-col("cos")).as("neg_cos"), col("vec_id")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.vec_id").as("vec_id"),
        (-col("t.neg_cos")).as("cos"), (col("pos") + 1).cast("int").as("rn"))
  }

  /** Cell assignment plus the skew cap semDeDup's pair stage needs:
    * any cell larger than `maxCellSize` is hash-split on the embedding
    * CONTENT into ceil(n/maxCellSize) subcells, so the within-group
    * pair count a downstream self-join can emit is bounded even when
    * one cell attracts half the corpus. Hashing content (not vec_id)
    * keeps byte-identical vectors in one subcell; callers are expected
    * to have removed exact duplicates first, so the values being split
    * are distinct and the hash spreads them uniformly. Output:
    * (vec_id, embedding, nrm, cell, subcell). */
  def semAssign(reps: DataFrame, cents: DataFrame, maxCellSize: Long): DataFrame = {
    val assigned = assignCells(reps, cents).withColumn("nrm", norm("embedding"))
    val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    assigned.join(counts, Seq("cell"))
      .withColumn("__splits", greatest(lit(1L),
        ceil(col("__n").cast("double") / lit(maxCellSize.toDouble)).cast("long")))
      .withColumn("subcell", pmod(xxhash64(col("embedding")), col("__splits")))
      .drop("__n", "__splits")
  }

  /** SemDeDup (E41): semantic dedup at corpus scale. Three stages,
    * each bounded: (1) an exact-duplicate pre-pass — group by the
    * embedding value, keep the minimum vec_id — so byte-identical
    * vectors are removed with CERTAINTY in one linear shuffle,
    * independent of any cell structure; (2) k-means cells over the
    * distinct survivors, k derived from the corpus size
    * ([[cellCount]]) and oversized cells content-hash-split
    * ([[semAssign]]) so the pair stage is never quadratic in a skewed
    * cell; (3) candidate pairs only WITHIN a (cell, subcell) group,
    * greedily dropping the higher-id member of every pair with cosine
    * ≥ threshold. Near-dups split across a cell/subcell boundary can
    * escape — the documented recall trade of the cluster-then-prune
    * family, pinned by the planted-copy gate. */
  def semDeDup(vecs: DataFrame, threshold: Double,
               targetCellSize: Long = 256L, maxCellSize: Long = 4096L,
               iters: Int = 3, nCells: Int = 0): DataFrame = {
    val base = vecs.select(col("vec_id"), col("embedding"))
    // cut the exact-dup pre-pass ONCE (r19): `reps` feeds the count,
    // every Lloyd iteration, the final assignment and the pair stage —
    // without the cut each of those jobs re-runs the corpus-sized
    // group-by-embedding shuffle (shuffle files are not reused across
    // separately-planned jobs)
    val reps = base.groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val nReps = reps.count()
    val k = if (nCells > 0) nCells else cellCount(nReps, targetCellSize)
    // cut once: `assigned` feeds both pair-join sides AND the final
    // anti-join — three separately-planned jobs otherwise re-run the
    // whole broadcast-argmax assignment pipeline
    val assigned =
      semAssign(reps, kmeansCentroids(reps, k, iters, n = nReps), maxCellSize)
        .localCheckpoint()
    val a = assigned.select(col("cell"), col("subcell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell"), col("subcell"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val drops = a.join(b, Seq("cell", "subcell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }
}
