package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  test("bruteForceTopK rank 1 is the query itself at cos 1.0") {
    val out = Similarity.bruteForceTopK(vecs.filter(col("vec_id") < 3), vecs, k = 5)
      .filter(col("rn") === 1)
      .select("q_id", "vec_id", "cos").as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (q, v, c) => assert(q == v && c == 1.0) }
  }

  test("exact cosineNearDuplicates finds every scaled copy") {
    val scaled = vecs.select((col("vec_id") + 10000).as("vec_id"),
      expr("transform(embedding, x -> CAST(1.5 * x AS FLOAT))").as("embedding"))
    val all = vecs.union(scaled)
    val found = Similarity.cosineNearDuplicates(all, threshold = 0.99, exact = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = vecs.select("vec_id").as[Long].collect().map(i => (i, i + 10000)).toSet
    assert(planted.subsetOf(found))
  }

  test("LSH cosineNearDuplicates finds every scaled copy (same bucket by construction)") {
    val scaled = vecs.select((col("vec_id") + 10000).as("vec_id"),
      expr("transform(embedding, x -> CAST(1.5 * x AS FLOAT))").as("embedding"))
    val all = vecs.union(scaled)
    val found = Similarity.cosineNearDuplicates(all, threshold = 0.99, exact = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // a positively-scaled vector has identical hyperplane signs → same
    // bucket with probability 1, so recall of planted pairs is exact
    val planted = vecs.select("vec_id").as[Long].collect().map(i => (i, i + 10000)).toSet
    assert(planted.subsetOf(found))
  }

  test("banded exact near-dup equals brute force bit-for-bit (θ=0.99, planted copies)") {
    val scaled = vecs.select((col("vec_id") + 10000).as("vec_id"),
      expr("transform(embedding, x -> CAST(1.5 * x AS FLOAT))").as("embedding"))
    val all = vecs.union(scaled)
    val banded = Similarity.cosineNearDuplicatesBanded(all, threshold = 0.99)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.cosineNearDuplicatesBrute(all, threshold = 0.99)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(banded == brute, s"banded minus brute: ${banded -- brute}; " +
      s"brute minus banded: ${brute -- banded}")
    assert(brute.nonEmpty)
  }

  test("banded exact near-dup equals brute on pairs straddling the threshold (cross-cell)") {
    // clusters of noisy copies whose cosines span [≈0.6, ≈1.0] around
    // θ=0.9: pairs land on BOTH sides of the threshold and cross cell
    // boundaries — the adversarial regime for the half-neighborhood
    // fan-out and the prefix filter's conservativeness
    val dim = 16
    val rows = (0 until 200).flatMap { c =>
      val r = new scala.util.Random(c)
      val base = Array.fill(dim)(r.nextGaussian())
      val bn = math.sqrt(base.map(x => x * x).sum)
      (0 until 3).map { j =>
        val eps = 0.15 * (j + c % 3) // noise levels straddle the threshold
        val v = base.zip(Array.fill(dim)(r.nextGaussian()))
          .map { case (b, n) => (b / bn + eps * n).toFloat }
        ((c * 3 + j).toLong, v)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val banded = Similarity.cosineNearDuplicatesBanded(df, threshold = 0.9)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.cosineNearDuplicatesBrute(df, threshold = 0.9)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(banded == brute, s"banded minus brute: ${(banded -- brute).take(5)}; " +
      s"brute minus banded: ${(brute -- banded).take(5)}")
    assert(brute.nonEmpty, "the planted clusters should admit qualifying pairs")
    // and the corpus really does have near-misses the filter must reject
    val nearMiss = Similarity.cosineNearDuplicatesBrute(df, threshold = 0.6)
    assert(nearMiss.count() > brute.size, "want sub-threshold pairs in play")
  }

  test("banded exact near-dup equals brute with 3 band pivots (generic half-neighborhood)") {
    val banded = Similarity.cosineNearDuplicatesBanded(vecs, threshold = 0.9, bandPivots = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.cosineNearDuplicatesBrute(vecs, threshold = 0.9)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(banded == brute, s"banded minus brute: ${(banded -- brute).take(5)}; " +
      s"brute minus banded: ${(brute -- banded).take(5)}")
  }

  test("banded equals brute at θ=1.0: float-rounded exact duplicates are not dropped") {
    // at θ=1.0 the naive band width √(2−2θ) collapses to 0, while a
    // scaled copy's cosine differs from 1 by float-rounding (~1e-7
    // relative) — the rounding-aware radius (θ−0.5e-6) must keep such
    // pairs inside one band instead of silently dropping them
    val scaled = vecs.select((col("vec_id") + 10000).as("vec_id"),
      expr("transform(embedding, x -> CAST(1.5 * x AS FLOAT))").as("embedding"))
    val all = vecs.union(scaled)
    val banded = Similarity.cosineNearDuplicatesBanded(all, threshold = 1.0)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.cosineNearDuplicatesBrute(all, threshold = 1.0)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(banded == brute, s"banded minus brute: ${(banded -- brute).take(5)}; " +
      s"brute minus banded: ${(brute -- banded).take(5)}")
    assert(brute.nonEmpty, "planted exact duplicates must qualify at θ=1.0")
  }

  test("banded plan is an equi-join: no cartesian, no nested loop") {
    val plan = Similarity.cosineNearDuplicatesBanded(vecs, threshold = 0.99)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("banded near-dup on an empty corpus returns the empty pair frame") {
    val out = Similarity.cosineNearDuplicatesBanded(vecs.limit(0), threshold = 0.99)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "cos"))
    assert(out.count() == 0)
  }

  test("embeddingDim probes the data") {
    assert(Similarity.embeddingDim(vecs).contains(64))
    assert(Similarity.embeddingDim(vecs.limit(0)).isEmpty)
  }

  test("IVF ANN recalls planted near-identical vectors") {
    import spark.implicits._
    // corpus = base ∪ 1.5×-scaled copies (same direction, cos ≈ 1)
    val base = vecs.select(col("vec_id"), col("embedding"))
    val corpus = base.union(base.select(col("vec_id") + 10000,
      expr("transform(embedding, x -> CAST(1.5 * x AS FLOAT))")))
    val queries = base.filter(col("vec_id") < 20)
    val top = Similarity.ivfTopK(queries, corpus, k = 3)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // a scaled copy lands in the SAME cell as its original (same
    // direction, k-means cells are convex cones around centroids), so
    // IVF must find it; the query itself must also rank
    val n = 20
    val copyHits = (0L until n).count(q => top(q).contains(q + 10000))
    val selfHits = (0L until n).count(q => top(q).contains(q))
    assert(selfHits == n, s"every query must retrieve itself, got $selfHits/$n")
    assert(copyHits >= n * 9 / 10, s"copy recall too low: $copyHits/$n")
  }

  test("IVF matches brute force on the cells it probes (end-to-end sanity)") {
    val e = vecs
    val ivf = Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, k = 10)
    // 5 queries × k rows, ranks 1..10, rank-1 is the query itself at cos 1
    assert(ivf.count() == 50)
    val r1 = ivf.filter(col("rn") === 1).select("q_id", "vec_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(r1.forall { case (q, v, c) => q == v && c == 1.0 })
  }

  test("cellCount scales k with the corpus, clamped to [1, maxCells]") {
    assert(Similarity.cellCount(0L, 256L) == 1)
    assert(Similarity.cellCount(255L, 256L) == 1)
    assert(Similarity.cellCount(257L, 256L) == 2)
    assert(Similarity.cellCount(1L << 40, 256L) == (1 << 17)) // clamp
    // 100× the corpus → 100× the cells, per-cell size constant
    assert(Similarity.cellCount(100L * 256L * 50L, 256L) ==
      100 * Similarity.cellCount(256L * 50L, 256L))
  }

  test("kmeans centroids stay a DataFrame end to end; assignment is an exchange-free projection") {
    val cents = Similarity.kmeansCentroids(vecs, k = 8, iters = 2)
    assert(cents.columns.toSeq == Seq("cell", "centroid"))
    assert(cents.count() == 8)
    val assigned = Similarity.assignCells(vecs, cents)
    val p = assigned.queryExecution.executedPlan.toString
    // r20 shape: the codegen argmax projection over the broadcast
    // centroid array — the vector side is never exchanged (the old
    // shape's groupBy(vec_id) shuffled one full embedding per vector),
    // and k·dim still travels as a broadcast relation, not a
    // driver-side literal
    assert(p.contains("nearest_cell_argmax"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("hashpartitioning(vec_id"), p)
    // every vector lands in exactly one existing cell
    assert(assigned.count() == vecs.count())
    assert(assigned.select("cell").distinct().count() <= 8)
  }

  test("assignCells argmax projection ≡ the join+max(struct) formulation, ties to lower cell") {
    import spark.implicits._
    // hand-built centroids including an EXACT tie for vector [1, 0]:
    // cells 2 and 3 both score 0 − 0.5; the lower cell id must win
    val cents = Seq(
      (0L, Array(1f, 0f)),   // s([1,0]) = 1 − 0.5 = 0.5  (winner)
      (1L, Array(0.5f, 0.5f)),
      (2L, Array(0f, 1f)),   // tie pair for [0, 0]
      (3L, Array(0f, -1f))
    ).toDF("cell", "centroid")
    val vs = spark.createDataFrame(java.util.Arrays.asList(Seq[(Long, Seq[java.lang.Float])](
      (10L, Seq(1f, 0f)),    // clear winner: cell 0
      (11L, Seq(0f, 0f)),    // all dots 0 → argmax by −half → cell 1 (half 0.25)
      (12L, Seq(-1f, 0f)),   // dots: −1, −0.5, 0, 0 → cells 2,3 tie at −0.5 → 2
      (13L, Seq(Float.NaN, 0f)),  // every score NaN: a tie → cell 0
      // scores Inf, Inf, NaN, NaN: NaN ranks above Inf → cells 2,3 tie → 2
      (14L, Seq(Float.PositiveInfinity, 0f)),
      (15L, Seq(null, 1f)),  // a null element: every score null → cell 0
      (16L, Seq(1f, null))
    ).map { case (id, v) => org.apache.spark.sql.Row(id, v) }: _*),
      org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
    val got = Similarity.assignCells(vs, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    // the interpreted form (`eval`, no codegen) picks the same cells
    val table = cents.agg(array_sort(collect_list(struct(col("cell"),
      (graft.functions.VectorExprs.floatDot(col("centroid"), col("centroid")) / lit(2.0)).as("half"),
      col("centroid")))))
    val tableLit = Literal.create(table.collect().head.get(0), table.schema.head.dataType)
    val interpreted = vs.collect().map(r => r.getLong(0) -> graft.functions.NearestCellArgmax(
      Literal.create(r.get(1), ArrayType(FloatType)), tableLit).eval()).toMap
    // reference: the pre-r20 broadcast-join + max(struct(s, −cell)) shape
    val centsP = cents.select(col("cell").as("__cell"), col("centroid"),
        (graft.functions.VectorExprs.floatDot(col("centroid"), col("centroid")) / lit(2.0)).as("__half"))
      .withColumn("__one", lit(0L))
    val ref = vs.withColumn("__one", lit(0L))
      .join(broadcast(centsP), Seq("__one"))
      .withColumn("__s",
        graft.functions.VectorExprs.floatDot(col("embedding"), col("centroid")) - col("__half"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("__s").as("s"), (-col("__cell")).as("neg_cell"))).as("__b"))
      .select(col("vec_id"), (-col("__b").getField("neg_cell")).cast("long").as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(got == ref, s"got $got vs ref $ref")
    assert(interpreted == ref, s"interpreted $interpreted vs ref $ref")
    assert(got == Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 0L, 14L -> 2L, 15L -> 0L, 16L -> 0L))
  }

  test("assignCells: an empty centroid frame assigns no row") {
    val cents = Seq.empty[(Long, Array[Float])].toDF("cell", "centroid")
    val vs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.assignCells(vs, cents)
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "cell"))
    assert(out.count() == 0)
  }

  test("assignCells: duplicate vec_ids are not collapsed") {
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("cell", "centroid")
    val vs = Seq((1L, Array(1f, 0f)), (1L, Array(1f, 0f)), (1L, Array(0f, 2f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.assignCells(vs, cents).select("vec_id", "cell").as[(Long, Long)]
      .collect().toSeq.sorted
    assert(got == Seq((1L, 0L), (1L, 0L), (1L, 1L), (2L, 1L)))
  }

  test("kmeans trains on a bounded hash-sample when the corpus exceeds maxTrain") {
    import spark.implicits._
    val dim = 4
    val big = (0 until 2000).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // cap far below the corpus: training must still yield k centroids
    // and assignment must still cover every vector with valid cells
    val cents = Similarity.kmeansCentroids(big, k = 8, iters = 2,
      maxTrain = 64L, n = 2000L)
    assert(cents.count() == 8)
    val assigned = Similarity.assignCells(big, cents)
    assert(assigned.count() == 2000)
    val cells = assigned.select("cell").distinct()
      .as[Long].collect().toSet
    assert(cells.nonEmpty && cells.forall(c => c >= 0 && c < 8))
  }

  test("semDeDup survives a planted 50% skew cell: exact dups certain, subcells capped") {
    import spark.implicits._
    val dim = 8
    val n = 1000
    // one identical vector repeated n/2 times (ids 0..499) + n/2 distinct
    // random-ish vectors (ids 500..999): half the corpus in one cell
    val rows = (0 until n).map { i =>
      val v: Array[Float] =
        if (i < n / 2) Array.tabulate(dim)(d => (d + 1).toFloat)
        else { // seeded gaussians: P(cos ≥ 0.9999) per pair ≈ 1e-13 at dim 8
          val r = new scala.util.Random(i)
          Array.fill(dim)(r.nextGaussian().toFloat)
        }
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val kept = Similarity.semDeDup(df, threshold = 0.9999,
      targetCellSize = 64L, maxCellSize = 50L)
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    // exact duplicates removed with certainty: only the min id survives
    assert(keptIds.contains(0L))
    assert((1L until (n / 2).toLong).forall(!keptIds.contains(_)),
      "a planted exact duplicate survived")
    // the distinct half survives (sin-spaced vectors are far from each other)
    assert((500L until n.toLong).count(keptIds.contains) == n / 2)
    // and the skew cap engaged: after the exact-dup pre-pass the pair
    // stage never sees a (cell, subcell) group larger than ~maxCellSize
    val reps = df.groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val k = Similarity.cellCount(reps.count(), 64L)
    val groups = Similarity
      .semAssign(reps, Similarity.kmeansCentroids(reps, k, 3), maxCellSize = 50L)
      .groupBy(col("cell"), col("subcell")).count()
      .select(max(col("count"))).as[Long].collect().head
    assert(groups <= 100L, s"subcell split failed to cap group size: $groups")
  }
}
