package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Invariant tests for the dedup operators on planted fixtures — the
  * probabilistic parts (LSH recall) that the DuckDB oracle can't hold
  * to exact equality are pinned here instead. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))

  test("exactTextDedup keeps min id and counts copies") {
    val d = Seq((1L, "aaa"), (2L, "aaa"), (3L, "bbb")).toDF("doc_id", "text")
    val out = Dedup.exactTextDedup(d, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash LSH finds every planted near-dup pair at J>=0.8") {
    val mutated = docs.select(
      (col("doc_id") + 10000).as("doc_id"),
      concat_ws(" ", concat(
        expr("slice(split(text, ' '), 1, size(split(text, ' ')) - 1)"),
        array(lit("zzz")))).as("text"))
    val all = docs.union(mutated)
    val found = Dedup.minhashNearDuplicates(all, "doc_id", "text",
        threshold = 0.8, strict = true, maxBucket = 4096)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: planted pair (id, id+10000) has J=(T-5)/(T+1) for a
    // T-token doc; require recall of every pair the threshold admits
    val expected = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("t"))
      .as[(Long, Int)].collect()
      .collect { case (id, t) if t >= 3 && (t - 5).toDouble / (t + 1) >= 0.8 =>
        (id, id + 10000) }
      .toSet
    assert(expected.nonEmpty)
    assert(expected.subsetOf(found))
  }

  test("minhash strict mode raises when a bucket would truncate") {
    val same = (1L to 50L).map(i => (i, "the same exact text repeated here please"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.minhashCandidatePairs(same, "doc_id", "text",
        maxBucket = 10, strict = true).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("maxBucket")))
  }

  test("minhash non-strict mode truncates instead of raising") {
    val same = (1L to 50L).map(i => (i, "the same exact text repeated here please"))
      .toDF("doc_id", "text")
    val n = Dedup.minhashCandidatePairs(same, "doc_id", "text",
      maxBucket = 10, strict = false).count()
    assert(n == 45) // C(10,2) pairs from the truncated bucket
  }

  test("connected components merge chains and leave islands alone") {
    import spark.implicits._
    // two chains (1-2-3, 10-11) and a triangle with a bridge (20-21-22-20, 22-23)
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components raise instead of returning partial clusters") {
    import spark.implicits._
    // a path graph of length 9 has diameter 9 → the distributed arm
    // cannot converge in 2 rounds (the driver arm's union-find has none)
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException](
      Dedup.componentsDistributed(chain, maxIter = 2).collect())
  }

  test("simhash finds planted near-dups within hamming budget") {
    val mutated = docs.limit(50).select(
      (col("doc_id") + 10000).as("doc_id"),
      concat(col("text"), lit(" zzz")).as("text"))
    val all = docs.limit(50).union(mutated)
    val found = Dedup.simhashNearDuplicates(all, "doc_id", "text", maxHamming = 10,
        maxBucket = 4096, strict = true)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    // every reported pair respects the hamming budget
    assert(found.forall(_._3 <= 10))
    // the 4×16-bit banding GUARANTEES detection at hamming ≤ 3
    // (pigeonhole: some chunk is identical); check that contract on the
    // true distances, plus useful (probabilistic) recall overall
    val sims = all.select(col("doc_id"), Dedup.simhash("text").as("s"))
      .as[(Long, Long)].collect().toMap
    val ids = docs.limit(50).select("doc_id").as[Long].collect()
    val planted = ids.map(i => (i, i + 10000))
    val byDist = planted.groupBy { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b)) }
    val guaranteed = planted.filter { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3 }.toSet
    val foundSet = found.map(p => (p._1, p._2)).toSet
    assert(guaranteed.subsetOf(foundSet))
    val within10 = planted.count { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 10 }
    assert(within10 > 0 && planted.count(foundSet.contains) >= within10 / 2,
      s"recall too low: dist histogram=${byDist.view.mapValues(_.length).toMap}")
  }

  test("withJaccard computes the exact set Jaccard") {
    val d = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.withJaccard(pairs, d, "doc_id", "text", n = 3)
      .select("jaccard").as[Double].head()
    // shingles: {a b c, b c d} vs {a b c, b c e} → 1/3
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("dedupBow: every planted token-reversed copy pairs with its original") {
    val pairs = graft.operators.TrainingQueries.dedupBow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nDocs = Tables.documents(spark, sf).count()
    // each reversed copy (doc_id+20000) must collapse onto a bag-equal
    // original; keep_id is always the smallest member
    pairs.foreach { case (keep, dup) => assert(keep < dup) }
    val revCaught = pairs.count { case (_, dup) => dup >= 20000 }
    assert(revCaught == nDocs, s"$revCaught of $nDocs reversed copies caught")
    // and a reversed copy never becomes the keeper of anything
    assert(!pairs.exists { case (keep, _) => keep >= 20000 })
  }
}
