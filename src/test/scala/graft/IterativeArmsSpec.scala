package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{CorpusAnalytics, Dedup, Similarity}

/** The iterative corpus operators each run their rounds on the driver
  * below a size bound and on executors above it. Both arms must give
  * the same output: connected components, the BPE merge table, the
  * k-means centroids (bit for bit on a one-partition input), the
  * PageRank ranks (bit for bit) and the MinHash near-duplicate pairs.
  * Each arm is called directly on seeded ScalaCheck inputs and on the
  * hostile shapes named per test. */
class IterativeArmsSpec extends SparkSpec {
  import spark.implicits._

  /** n reproducible samples of g (seeds 1..n — deterministic). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(0xBEEFL + i)))

  // ------------------------------------------------ connected components

  private def componentsBothArms(edges: Seq[(Long, Long)], maxIter: Int = 20): Unit = {
    val pairs = edges.toDF("id_a", "id_b")
    val driver = Dedup.componentsOnDriver(edges.toArray).toSet
    val distributed = Dedup.componentsDistributed(pairs, maxIter)
      .as[(Long, Long)].collect().toSet
    assert(driver == distributed, s"on $edges")
    assert(Dedup.connectedComponents(pairs, maxIter).as[(Long, Long)].collect().toSet == driver)
    // every id of the input, each in the component of its min id
    assert(driver.map(_._1) == edges.flatMap(e => Seq(e._1, e._2)).toSet)
  }

  test("connected components: union-find equals min-label propagation on random graphs") {
    // few ids and many edges: self-loops, duplicate and reversed edges,
    // negative and extreme ids, diameters well under maxIter
    val ids = Seq(-7L, -1L, 0L, 1L, 2L, 3L, 5L, 8L, 13L, 21L, Long.MaxValue, Long.MinValue + 1)
    val gen = for {
      n <- Gen.choose(1, 24)
      es <- Gen.listOfN(n, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
    } yield es
    samples(gen, 8).foreach(componentsBothArms(_))
  }

  test("connected components: star, single edge, self-loop, repeats and short chains") {
    componentsBothArms(Seq((1L, 2L)))
    componentsBothArms(Seq((4L, 4L)))
    componentsBothArms((1L to 9L).map(i => (0L, i)))                 // star
    componentsBothArms((1L to 9L).map(i => (i * 10, 5L)))            // star, hub larger
    componentsBothArms(Seq((3L, 2L), (2L, 3L), (3L, 2L), (2L, 2L)))  // repeats, reversed
    componentsBothArms(Seq((-5L, Long.MaxValue), (Long.MaxValue, 7L), (100L, -100L)))
    componentsBothArms((1L to 6L).map(i => (i, i + 1)), maxIter = 8) // chain < maxIter
    componentsBothArms((1L to 6L).map(i => (i + 1, i)).reverse, maxIter = 8)
  }

  test("connected components: an empty pair list gives no component in either arm") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.componentsOnDriver(Array.empty).isEmpty)
    assert(Dedup.componentsDistributed(empty, 20).count() == 0)
    val out = Dedup.connectedComponents(empty)
    assert(out.count() == 0 && out.columns.toSeq == Seq("id", "component"))
  }

  test("connected components: the MinHash driver arm's local pair frame starts no job") {
    // documents plus exact copies: every document pairs with its copy
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val docs = d.union(d.select(col("doc_id") + 10000, col("text")))
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.8,
        maxBucket = 4096, strict = true)
      .select(col("id_a"), col("id_b"))
    assert(isLocal(pairs) && !pairs.isEmpty)
    val (components, jobs) = countJobs(Dedup.connectedComponents(pairs))
    assert(jobs == 0, s"$jobs job(s)")
    assert(isLocal(components))
    assert(DfCompare.multisetEqual(components, Dedup.componentsDistributed(pairs, 20)))
  }

  test("connected components: the dispatcher keeps the id type of its input") {
    val pairs = Seq((1, 2), (2, 3), (7, 7)).toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs)
    val distributed = Dedup.componentsDistributed(pairs, 20)
    assert(driver.schema.map(_.dataType) == distributed.schema.map(_.dataType))
    assert(DfCompare.multisetEqual(driver, distributed))
  }

  // ---------------------------------------------------------------- BPE

  private def vocabFrame(vocab: Seq[(Seq[String], Long)]): DataFrame =
    vocab.toDF("syms", "freq")

  private def bpeBothArms(vocab: Seq[(Seq[String], Long)], steps: Int): Unit = {
    val driver = CorpusAnalytics.bpeMergesOnDriver(vocab, steps)
    val distributed = CorpusAnalytics.bpeMergesDistributed(vocabFrame(vocab), steps)
    assert(driver == distributed, s"on $vocab")
  }

  test("BPE: driver merges equal distributed merges on random vocabs") {
    // a three-letter alphabet and small frequencies: many tied pair
    // counts, overlapping repeats and words that merge down to one symbol
    val word = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    val gen = for {
      n <- Gen.choose(1, 12)
      ws <- Gen.listOfN(n, Gen.zip(word, Gen.choose(1L, 3L)))
    } yield ws.groupBy(_._1).map { case (w, fs) => (w.toSeq, fs.map(_._2).sum) }.toSeq
    samples(gen, 8).foreach(bpeBothArms(_, steps = 5))
  }

  test("BPE: empty vocab, early exhaustion, all-tie counts and overlapping repeats") {
    bpeBothArms(Nil, steps = 3)
    // one word: one merge, then no pair is left before `steps`
    bpeBothArms(Seq((Seq("a", "b"), 2L)), steps = 4)
    assert(CorpusAnalytics.bpeMergesOnDriver(Seq((Seq("a", "b"), 2L)), 4) == Seq((1, "a", "b", 2L)))
    // every pair count ties: the lexicographic (left, right) order decides
    val ties = Seq((Seq("b", "a"), 1L), (Seq("a", "c"), 1L), (Seq("c", "b"), 1L), (Seq("a", "b"), 1L))
    bpeBothArms(ties, steps = 4)
    assert(CorpusAnalytics.bpeMergesOnDriver(ties, 1) == Seq((1, "a", "b", 1L)))
    // overlapping repeats: `aaaa` counts (a,a) three times, merges left to right
    bpeBothArms(Seq((Seq("a", "a", "a", "a"), 1L), (Seq("a", "a", "a"), 2L)), steps = 4)
    assert(CorpusAnalytics.bpeMergesOnDriver(Seq((Seq("a", "a", "a", "a"), 1L)), 2) ==
      Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("BPE: bpe_learn_gate compares the two arms and they agree") {
    val gate = CorpusAnalytics.bpeLearnGate(spark, sf).collect().head
    assert(gate.getAs[Boolean]("replay_match"))
    assert(gate.getAs[Long]("n_steps") == 8L)
    val learned = CorpusAnalytics.bpeLearn(spark, sf).as[(Int, String, String, Long)].collect()
    assert(learned.head == ((1, gate.getAs[String]("step1_left"),
      gate.getAs[String]("step1_right"), gate.getAs[Long]("step1_count"))))
  }

  // ------------------------------------------------------------ k-means

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  /** One partition, in the given order. */
  private def vecFrame(vs: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vs.map { case (id, v) => Row(id, v) }: _*),
      vecSchema).coalesce(1)

  private def bits(df: DataFrame): Map[Long, Seq[Option[Int]]] =
    df.collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[java.lang.Float](1).map(f =>
        Option(f).map(x => java.lang.Float.floatToIntBits(x.floatValue))))
    }.toMap

  private def kmeansBothArms(vs: Seq[(Long, Seq[java.lang.Float])], k: Int, iters: Int): Unit = {
    val df = vecFrame(vs)
    val base = df.select(col("vec_id"), col("embedding").as("__emb"))
    val distributed = bits(Similarity.kmeansDistributed(base, k, iters))
    val driver = bits(Similarity.kmeansOnDriver(spark,
      Similarity.trainingRows(base, 1 << 20).get, k, iters))
    assert(driver == distributed, s"k=$k iters=$iters on $vs")
    assert(bits(Similarity.kmeansCentroids(df, k, iters)) == distributed)
  }

  private def fv(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)

  test("k-means: driver Lloyd rounds give bit-identical centroids on random one-partition inputs") {
    // a small value domain: exact assignment ties and duplicate vectors;
    // k from below n to above it
    val value = Gen.frequency(
      8 -> Gen.oneOf(-1f, 0f, 0.5f, 1f, 2f, 0.1f, 1.0e-3f, 3.3f),
      1 -> Gen.const(Float.NaN))
    val gen = for {
      dim <- Gen.choose(1, 3)
      n <- Gen.choose(1, 14)
      vs <- Gen.listOfN(n, Gen.listOfN(dim, value))
      k <- Gen.choose(1, 16)
      iters <- Gen.choose(1, 3)
    } yield (vs.zipWithIndex.map { case (v, i) => (i.toLong * 37 - 50, fv(v: _*)) }, k, iters)
    samples(gen, 10).foreach { case (vs, k, iters) => kmeansBothArms(vs, k, iters) }
  }

  test("k-means: k > n, an emptied cell, duplicates, null elements and null vectors") {
    val line = (0 until 6).map(i => (i.toLong, fv(i.toFloat, 0f)))
    kmeansBothArms(line, k = 9, iters = 2)                          // k > n
    // every vector a seed, two of them equal: the higher of their two
    // cells loses its member to the tie and keeps its old centroid
    val dups = Seq((1L, fv(1f, 1f)), (2L, fv(1f, 1f)), (3L, fv(5f, 5f)), (4L, fv(-2f, 0f)))
    kmeansBothArms(dups, k = 4, iters = 3)
    val cents = Similarity.kmeansCentroids(vecFrame(dups), 4, 3)
      .select("centroid").as[Seq[Float]].collect()
    assert(cents.count(_ == Seq(1f, 1f)) == 2)
    // a null element scores null against every cell (the lowest cell
    // takes it) and is skipped by its dimension's mean; a null vector
    // joins no cell
    val withNulls = Seq((1L, fv(1f, 2f)), (2L, Seq[java.lang.Float](null, 4f)),
      (3L, fv(9f, 9f)), (4L, null), (5L, fv(8f, 7f)))
    kmeansBothArms(withNulls, k = 2, iters = 2)
    kmeansBothArms(Seq((7L, null)), k = 2, iters = 2)
  }

  test("k-means: an empty training set gives no centroid in either arm") {
    val empty = vecFrame(Nil)
    assert(Similarity.kmeansCentroids(empty, 4, 2).count() == 0)
    assert(Similarity.kmeansDistributed(
      empty.select(col("vec_id"), col("embedding").as("__emb")), 4, 2).count() == 0)
  }

  // ----------------------------------------------------------- PageRank

  private def rankBits(rs: Seq[(Long, Long, Double)]): Seq[(Long, Long, Long)] =
    rs.map { case (n, d, r) => (n, d, java.lang.Double.doubleToLongBits(r)) }

  private def rounded(ranks: DataFrame): Set[Row] =
    ranks.select(col("doc_id"), col("deg"), round(col("r"), 6)).collect().toSet

  private def pagerankBothArms(edges: Seq[(Long, Long)], iters: Int): Unit = {
    val df = edges.toDF("src", "dst")
    val driver = CorpusAnalytics.pagerankOnDriver(edges.toArray, iters).toSeq
    val distributed = CorpusAnalytics.pagerankDistributed(df, iters)
    assert(rankBits(driver) ==
      rankBits(distributed.as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)),
      s"iters=$iters on $edges")
    val dispatched = CorpusAnalytics.pagerank(df, iters)
    assert(dispatched.schema == distributed.schema)
    assert(rankBits(dispatched.as[(Long, Long, Double)].collect().toSeq) == rankBits(driver))
    assert(rounded(dispatched) == rounded(distributed))
  }

  test("PageRank: driver rounds give bit-identical ranks on random graphs") {
    // few ids, many edges: self-loops, duplicate and reversed edges,
    // nodes with no in-edge (dropped after round 1) and extreme ids
    val ids = Seq(-3L, 0L, 1L, 2L, 4L, 9L, 17L, Long.MaxValue, Long.MinValue + 1)
    val gen = for {
      n <- Gen.choose(1, 30)
      es <- Gen.listOfN(n, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
      iters <- Gen.choose(1, 5)
    } yield (es, iters)
    samples(gen, 8).foreach { case (es, iters) => pagerankBothArms(es, iters) }
  }

  test("PageRank: empty graph, one edge, a star, repeats and extreme ids") {
    pagerankBothArms(Nil, iters = 3)
    assert(CorpusAnalytics.pagerank(Seq.empty[(Long, Long)].toDF("src", "dst"), 3).count() == 0)
    pagerankBothArms(Seq((1L, 2L)), iters = 1)   // dst has no out-edge: no row
    pagerankBothArms(Seq((1L, 2L), (2L, 1L)), iters = 5)
    val star = (1L to 12L).flatMap(i => Seq((0L, i), (i, 0L)))
    pagerankBothArms(star, iters = 1)
    pagerankBothArms(star, iters = 5)
    pagerankBothArms(Seq((3L, 4L), (3L, 4L), (4L, 3L), (4L, 5L), (5L, 3L), (3L, 5L)), iters = 5)
    val extreme = Seq((Long.MaxValue, Long.MinValue + 1), (Long.MinValue + 1, Long.MaxValue),
      (Long.MaxValue, 0L), (0L, Long.MaxValue))
    pagerankBothArms(extreme, iters = 1)
    pagerankBothArms(extreme, iters = 5)
  }

  test("PageRank: the dispatcher keeps the id type of an int edge frame") {
    val edges = Seq((1, 2), (2, 1), (2, 3), (3, 2), (3, 1)).toDF("src", "dst")
    val driver = CorpusAnalytics.pagerank(edges, 3)
    val distributed = CorpusAnalytics.pagerankDistributed(edges, 3)
    assert(driver.schema == distributed.schema)
    assert(DfCompare.multisetEqual(driver, distributed))
  }

  test("PageRank: doc_pagerank takes the driver arm; its output schema is pinned") {
    val out = CorpusAnalytics.docPagerank(spark, sf)
    assert(isLocal(out))
    assert(out.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      Seq(("doc_id", LongType, true), ("deg", LongType, false), ("pagerank", DoubleType, true)))
  }

  // ------------------------------------------------------------ MinHash

  private def isLocal(df: DataFrame): Boolean =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  private val docSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))

  private def docFrame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (i, t) => Row(i, t) }: _*),
      docSchema)

  /** Dispatcher vs the distributed arm over the dispatcher's own
    * checkpoint; `driver` says which arm the dispatcher must take. */
  private def minhashBothArms(docs: DataFrame, threshold: Double, maxBucket: Int = 64,
                              strict: Boolean = false, n: Int = 3, bands: Int = 8,
                              rows: Int = 2, driver: Boolean = true): DataFrame = {
    val (pairs, sh) = Dedup.minhashNearDuplicatesWithSig(docs, "id", "text", threshold, n,
      bands, rows, maxBucket, strict)
    val distributed = Dedup.minhashPairsDistributed(sh, threshold, maxBucket, strict)
    assert(isLocal(pairs) == driver)
    assert(pairs.schema == distributed.schema)
    assert(DfCompare.multisetEqual(pairs, distributed), s"on ${docs.collect().toSeq}")
    pairs
  }

  test("MinHash: driver bucket/verify equals the distributed pair stage on random corpora") {
    // a five-word vocabulary and short texts: many shared buckets, exact
    // copies, texts shorter than n, empty and null texts
    val text = Gen.frequency(
      10 -> Gen.choose(0, 7).flatMap(k => Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e")))
        .map(_.mkString(" ")),
      1 -> Gen.const(null: String))
    val gen = for {
      k <- Gen.choose(1, 16)
      ts <- Gen.listOfN(k, text)
      n <- Gen.choose(1, 3)
      threshold <- Gen.oneOf(0.0, 0.25, 0.5, 0.8, 1.0)
    } yield (ts.zipWithIndex.map { case (t, i) => (i.toLong * 7 - 20, t) }, n, threshold)
    samples(gen, 8).foreach { case (docs, n, threshold) =>
      minhashBothArms(docFrame(docs), threshold, n = n)
    }
  }

  test("MinHash: one full bucket, strict over-full buckets and non-strict truncation") {
    val same = docFrame((1L to 6L).map(i => (i * 3, "the same five word text")))
    val all = minhashBothArms(same, threshold = 0.8)
    assert(all.count() == 15 && all.filter(col("jaccard") =!= 1.0).isEmpty)
    val strictDriver = intercept[IllegalStateException](
      Dedup.minhashNearDuplicatesWithSig(same, "id", "text", 0.8, maxBucket = 4, strict = true))
    assert(strictDriver.getMessage.contains("maxBucket=4"))
    val (_, sh) = Dedup.minhashNearDuplicatesWithSig(same, "id", "text", 0.8)
    val strictDistributed = intercept[Exception](
      Dedup.minhashPairsDistributed(sh, 0.8, maxBucket = 4, strict = true).collect())
    assert(strictDistributed.getMessage.contains("maxBucket=4"))
    // non-strict: each bucket keeps its 4 lowest ids, C(4, 2) pairs
    val cut = minhashBothArms(same, threshold = 0.8, maxBucket = 4)
    assert(cut.select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Seq(3L, 6L, 9L, 12L).combinations(2).map(c => (c(0), c(1))).toSet)
  }

  test("MinHash: null text, short docs and the empty input") {
    val docs = docFrame(Seq((1L, null), (2L, null), (3L, "a b"), (4L, "a b"), (5L, ""),
      (6L, "a b c d"), (7L, "a b c e")))
    minhashBothArms(docs, threshold = 0.0)
    minhashBothArms(docs, threshold = 0.5, n = 5)
    assert(minhashBothArms(docFrame(Nil), threshold = 0.5).isEmpty)
  }

  test("MinHash: duplicate ids keep the distributed arm") {
    val docs = docFrame(Seq((1L, "a b c d"), (1L, "a b c d"), (2L, "a b c d"), (3L, "x y z")))
    val pairs = minhashBothArms(docs, threshold = 0.5, driver = false)
    assert(pairs.count() > 1)
  }

  test("MinHash: an int id column comes back as int from both arms") {
    val docs = Seq((1, "a b c d"), (2, "a b c d"), (3, "a b c e"), (4, "q r s")).toDF("id", "text")
    val pairs = minhashBothArms(docs, threshold = 0.5)
    assert(pairs.schema("id_a").dataType == IntegerType)
    assert(pairs.select("id_a", "id_b").as[(Int, Int)].collect().contains((1, 2)))
  }
}
