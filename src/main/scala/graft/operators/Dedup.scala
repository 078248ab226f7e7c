package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Deduplication operators for training corpora (SURVEY.md §2 B7 +
  * E1-E4): exact text dedup, MinHash+LSH and SimHash near-dup
  * candidate generation, and n-gram Jaccard verification.
  *
  * Scale design: nothing here is O(n²). Exact dedup shuffles a 32-byte
  * digest, not the document. MinHash/SimHash emit `bands` (resp. 4)
  * rows per doc and only documents sharing a band bucket ever meet in
  * a shuffle; bucket fan-out is capped (`maxBucket`) so one degenerate
  * key can't explode a task. Verification joins shingle sets only for
  * surviving candidate pairs.
  *
  * Two stages keep a driver arm for small state, chosen by a code
  * constant over the size the stage already observes: the MinHash
  * bucket→verify stage of [[minhashNearDuplicatesWithSig]] (signature
  * rows, their longs and the candidate pairs) and the propagation of
  * [[connectedComponents]] (the edge count). Below the bounds one job
  * collects the state and the stage runs in plain Scala, because a few
  * thousand rows do not pay for the shuffles, joins and planning passes
  * of the distributed form; above them the distributed arm runs on
  * executors, with the same output. MinHash checkpoints its signatures
  * before the choice (both arms and the callers read them); components
  * checkpoint the pair list only in the distributed arm.
  */
object Dedup {

  /** Exact text dedup: group by SHA-256 of the text, keep the lowest
    * id (reference semantics: drop_duplicates keep-first,
    * etl_pipeline.py:480-483 — "first" made deterministic as min id). */
  def exactTextDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles (falls back to the whole text when
    * shorter than n tokens).
    *
    * The tokenization is bound ONCE per row via the single-element
    * `transform(array(split(..)), toks -> ..)` idiom: SQL expressions
    * have no let-binding, and writing `split(text)` inline inside the
    * per-position lambda re-tokenizes the document for EVERY gram —
    * O(tokens²) character work that measured as the dominant cost of
    * the whole shingle operator family (source_novelty/boilerplate:
    * ~2 s of a ~2.5 s floor was the explode projection alone at
    * sf0.1). With the hoist each row splits once and the lambda only
    * slices. */
  def wordShingles(textCol: String, n: Int): Column = expr(
    s"""element_at(transform(array(split($textCol, ' ')), toks ->
       |  CASE WHEN size(toks) >= $n
       |    THEN array_distinct(transform(
       |      sequence(0, size(toks) - $n),
       |      i -> concat_ws(' ', slice(toks, i + 1, $n))))
       |    ELSE array($textCol) END), 1)""".stripMargin)

  /** LSH candidate pairs (id_a < id_b): per-band minhash bucket keys
    * (single-pass codegen, [[graft.functions.MinHashBandKeys]] — one
    * string hash per shingle, k minima by double hashing), bucket by
    * (band, key), pair within buckets. Collisions across ≥1 of `bands`
    * bands ⇒ candidate; P(candidate) ≈ 1-(1-J^rows)^bands.
    *
    * `maxBucket` caps the quadratic per-bucket pair fan-out so one
    * degenerate key can't explode a task. With `strict=true` an
    * over-full bucket raises instead of silently truncating — required
    * when downstream claims exact recall (the correctness-gate mode);
    * the default truncates and is the permissive 100 TB mode. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
                            maxBucket: Int = 64, strict: Boolean = false): DataFrame =
    pairsWithinBuckets(
      docs
        .select(col(idCol).as("id"), wordShingles(textCol, n).as("sh"))
        .select(col("id"),
          posexplode(graft.functions.HashExprs.minhashBandKeys(col("sh"), bands, rowsPerBand))
            .as(Seq("band", "key"))),
      maxBucket, strict)

  /** Bucket-bounded pair emission shared by [[minhashCandidatePairs]]
    * and [[minhashNearDuplicates]]: group the (id, band, key) stream by
    * bucket, emit each bucket's ordered pairs. */
  private def pairsWithinBuckets(sig: DataFrame, maxBucket: Int,
                                 strict: Boolean): DataFrame = {
    val guarded =
      if (strict)
        when(size(col("ids")) > maxBucket, expr(
          s"""raise_error(concat('minhash LSH bucket exceeds maxBucket=$maxBucket (',
             |  CAST(size(ids) AS STRING), ' ids) — pairs would be silently dropped'))"""
            .stripMargin))
          .otherwise(col("ids"))
      else expr(s"slice(ids, 1, $maxBucket)")
    sig.groupBy(col("band"), col("key"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("ids", array_sort(col("ids")))
      .withColumn("ids", guarded)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(sequence(0, i - 1),
          |    j -> named_struct('id_a', ids[j], 'id_b', ids[i]))))""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Attach exact n-gram Jaccard to candidate pairs (E4): join the
    * shingle sets back (only for candidates) and compute
    * |∩| / |∪| as an integer-ratio double.
    *
    * Shingle identity travels as 8-byte `xxhash64(gram)` keys, never
    * strings (the E55/E77 discipline — r19): the two verify joins
    * exchange long arrays instead of the full gram text, and the
    * intersect/union loops compare longs. Distinctness is preserved up
    * to hash collision (P ≈ |sh|²/2⁶⁵ per pair — the string-gram
    * DuckDB oracles would fail the compare on one, so the hash compare
    * pins absence of collisions on every tested corpus). */
  def withJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                  textCol: String, n: Int = 3): DataFrame =
    joinJaccard(pairs,
      docs.select(col(idCol).as("id"),
        hashedShingles(textCol, n).as("sh")))

  /** Distinct word n-gram shingles reduced to 8-byte xxhash64 keys
    * (seed 42 — the identical per-gram h1 the minhash kernel uses). */
  private def hashedShingles(textCol: String, n: Int): Column =
    transform(wordShingles(textCol, n), g => xxhash64(g))

  /** Verify-join core over a prepared (id, sh: array<long>) frame. */
  private def joinJaccard(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .drop("sh_a", "sh_b")

  /** Full MinHash near-dup pipeline: candidates → verify → threshold.
    * With bands=32 × rows=4, a pair at J=0.8 is missed with
    * probability (1-0.8⁴)³² ≈ 5e-8 — thresholds ≥ 0.8 are safe to
    * hold to exact recall; lower thresholds should be treated as
    * probabilistic (use more bands or rows=3).
    *
    * One shingle projection feeds BOTH the band-key pipeline and the
    * two verify joins (r19 — previously the split+slice+concat shingle
    * projection ran once for the candidate pass and once per verify
    * side, 3× the dominant per-row cost; the E77 lesson applied).
    * `localCheckpoint` cuts the projection so no consumer recomputes
    * it — note this EXECUTES a job at DataFrame-construction time. */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, n: Int = 3,
                            bands: Int = 32, rowsPerBand: Int = 4,
                            maxBucket: Int = 64, strict: Boolean = false): DataFrame =
    minhashNearDuplicatesWithSig(docs, idCol, textCol, threshold, n,
      bands, rowsPerBand, maxBucket, strict)._1

  /** As [[minhashNearDuplicates]], additionally returning the cut
    * signature frame `(id, bk, sh, meta…)` so callers that need more
    * per-document columns (canonical selection needs doc lengths) ride
    * the SAME corpus projection/checkpoint instead of paying a second
    * full text scan (r20). `meta` columns are evaluated in the one
    * shingle projection and must be aliased.
    *
    * Scale shape: the signature frame is materialized once
    * (`localCheckpoint`, before the choice: both arms and the callers
    * read it), and that job also observes its row count, its non-null
    * id count and its long count (band keys plus hashed shingles).
    * Within [[MinhashDriverRows]] rows and
    * [[MinhashDriverLongs]] longs of integral, non-null, unique ids,
    * the signatures are collected in one job and bucketing, pair
    * emission and Jaccard verification run on the driver
    * ([[minhashPairsOnDriver]], at most [[MinhashDriverPairs]]
    * candidate pairs): a few thousand signatures do not pay for the
    * bucket shuffle and the two verify joins. Larger inputs, and
    * duplicate ids (whose join fan-out the driver arm does not
    * reproduce), keep the distributed arm over the same checkpoint
    * ([[minhashPairsDistributed]]). With `strict`, the driver arm
    * raises at construction rather than at the first action. */
  def minhashNearDuplicatesWithSig(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, n: Int = 3,
                            bands: Int = 32, rowsPerBand: Int = 4,
                            maxBucket: Int = 64, strict: Boolean = false,
                            meta: Seq[Column] = Nil): (DataFrame, DataFrame) = {
    val projected = docs.select(
      Seq(col(idCol).as("id"), wordShingles(textCol, n).as("shs")) ++ meta: _*)
    val metaNames = projected.columns.drop(2).toSeq
    val stats = Observation()
    val sh = projected
      .select(Seq(col("id"),
        graft.functions.HashExprs.minhashBandKeys(col("shs"), bands, rowsPerBand).as("bk"),
        expr("transform(shs, g -> xxhash64(g))").as("sh")) ++ metaNames.map(col): _*)
      .observe(stats, count(lit(1)).as("rows"), count(col("id")).as("ids"),
        coalesce(sum(size(col("bk")) + size(col("sh"))), lit(0L)).as("longs"))
      .localCheckpoint()
    val m = stats.get
    val idType = sh.schema("id").dataType
    // the observed counts bound this collect, so it needs no limit probe
    val local =
      if (Bounded.integral(idType) && m("ids") == m("rows") &&
          m("rows").asInstanceOf[Long] <= MinhashDriverRows &&
          m("longs").asInstanceOf[Long] <= MinhashDriverLongs) {
        val spark = sh.sparkSession
        import spark.implicits._
        minhashPairsOnDriver(
          sh.select(col("id").cast("long"), col("bk"), col("sh"))
            .as[(Long, Array[Long], Array[Long])].collect(),
          threshold, maxBucket, strict)
      } else None
    val pairs = local.map { ps =>
      // the distributed arm's ids come out of non-null bucket arrays
      val schema = StructType(Seq(StructField("id_b", LongType, nullable = false),
        StructField("id_a", LongType, nullable = false), StructField("jaccard", DoubleType)))
      sh.sparkSession.createDataFrame(
          java.util.Arrays.asList(ps.map { case (a, b, j) => Row(b, a, j) }: _*), schema)
        .select(col("id_b").cast(idType).as("id_b"), col("id_a").cast(idType).as("id_a"),
          col("jaccard"))
    }.getOrElse(minhashPairsDistributed(sh, threshold, maxBucket, strict))
    (pairs, sh)
  }

  /** Driver-arm bounds of [[minhashNearDuplicatesWithSig]]: signature
    * rows, longs across their band-key and shingle arrays (32 MB), and
    * candidate pairs before verification. */
  private[graft] val MinhashDriverRows: Int = 1 << 20
  private[graft] val MinhashDriverLongs: Long = 1L << 22
  private[graft] val MinhashDriverPairs: Long = 1L << 20

  /** The distributed arm of [[minhashNearDuplicatesWithSig]] over its
    * checkpointed `(id, bk, sh)` frame: bucket shuffle, pair emission,
    * the two verify joins and the threshold. */
  private[graft] def minhashPairsDistributed(sh: DataFrame, threshold: Double,
                                             maxBucket: Int, strict: Boolean): DataFrame = {
    val sig = sh.select(col("id"),
      posexplode(col("bk")).as(Seq("band", "key")))
    joinJaccard(pairsWithinBuckets(sig, maxBucket, strict),
        sh.select(col("id"), col("sh")))
      .filter(col("jaccard") >= threshold)
  }

  /** The driver arm of [[minhashNearDuplicatesWithSig]] over collected
    * `(id, bk, sh)` signatures: the rows [[pairsWithinBuckets]] +
    * [[joinJaccard]] + threshold give, as (id_a, id_b, jaccard) with
    * id_a < id_b. Buckets are (band position, key); each bucket of two
    * or more ids is sorted ascending, raises past `maxBucket` when
    * `strict` (the distributed arm's message) and is otherwise cut to
    * its first `maxBucket` ids; pairs are distinct; Jaccard is
    * |A∩B| / |A∪B| over the distinct hashed shingles, as a double
    * division. `None` — take the distributed arm — for duplicate ids,
    * null arrays, an empty shingle array or more than
    * [[MinhashDriverPairs]] candidate pairs. */
  private[graft] def minhashPairsOnDriver(docs: Array[(Long, Array[Long], Array[Long])],
                                          threshold: Double, maxBucket: Int,
                                          strict: Boolean): Option[Array[(Long, Long, Double)]] = {
    val eligible = docs.map(_._1).distinct.length == docs.length &&
      docs.forall(d => d._2 != null && d._3 != null && d._3.nonEmpty)
    if (!eligible) return None
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Long), List[Long]]
    docs.foreach { case (id, bk, _) =>
      bk.indices.foreach(i => buckets((i, bk(i))) = id :: buckets.getOrElse((i, bk(i)), Nil))
    }
    val lists = buckets.valuesIterator.filter(_.lengthCompare(1) > 0).map { b =>
      val sorted = b.toArray.sorted
      if (sorted.length <= maxBucket) sorted
      else if (strict) throw new IllegalStateException(
        s"minhash LSH bucket exceeds maxBucket=$maxBucket (${sorted.length} ids) — " +
          "pairs would be silently dropped")
      else sorted.take(maxBucket)
    }.toArray
    if (lists.map(l => l.length.toLong * (l.length - 1) / 2).sum > MinhashDriverPairs) return None
    val pairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
    lists.foreach(l => for (i <- 1 until l.length; j <- 0 until i) pairs += ((l(j), l(i))))
    val shingles = docs.map { case (id, _, sh) => id -> sh.distinct.sorted }.toMap
    Some(pairs.iterator.map { case (a, b) =>
      val (x, y) = (shingles(a), shingles(b))
      var (i, j, common) = (0, 0, 0)
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { common += 1; i += 1; j += 1 }
      }
      (a, b, common.toDouble / (x.length + y.length - common).toDouble)
    }.filter(_._3 >= threshold).toArray)
  }

  /** Connected components over a near-dup pair graph (E21) — the
    * clustering step after candidate verification: every document in a
    * component is a rewrite of the same underlying text, and the keep
    * policy ("retain min id per component") needs the component id.
    *
    * Output: (id, component) for every id in `pairs`, component = min
    * id in the connected component.
    *
    * Scale shape: one bounded collect ([[Bounded.collect]]) reads the
    * pair list. When it holds at most [[ComponentsDriverEdges]] edges of
    * integral, non-null ids, the components come from union-find on the
    * driver ([[componentsOnDriver]]): near-dup graphs after verification
    * are small, and each propagation round would cost two shuffles, a
    * checkpoint job and a planning pass. A pair list the driver already
    * holds (the MinHash driver arm's) is read with no job. Larger or
    * other graphs keep the min-label propagation on executors
    * ([[componentsDistributed]]), which materializes the pair list first
    * and throws if `maxIter` rounds do not converge. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 2,
      "connectedComponents: the fused init round cannot observe its own " +
        "convergence; maxIter must be >= 2")
    val p = pairs.select(col("id_a"), col("id_b"))
    Bounded.collect(p, ComponentsDriverEdges, "id_a", "id_b").filter(!_.exists(_.anyNull)).map { e =>
      // the type of the distributed arm's ids: both integral columns, widened
      val idType = p.schema.map(_.dataType).maxBy(_.defaultSize)
      val spark = p.sparkSession
      import spark.implicits._
      componentsOnDriver(e.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)))
        .toSeq.toDF("id", "component")
        .select(col("id").cast(idType).as("id"), col("component").cast(idType).as("component"))
    }.getOrElse(componentsDistributed(p, maxIter))
  }

  /** Driver-arm bound of [[connectedComponents]]: the pair count (16 MB
    * of long pairs). */
  private[graft] val ComponentsDriverEdges: Int = 1 << 20

  /** Union-find over `edges`, each root kept at its component's minimum
    * id (union by min, path halving): (id, component) for every id, by
    * id. */
  private[graft] def componentsOnDriver(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var v = x
      var up = parent.getOrElseUpdate(v, v)
      while (up != v) {
        val grand = parent(up)
        parent(v) = grand
        v = up
        up = grand
      }
      v
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.sorted.map(id => (id, find(id)))
  }

  /** The distributed arm of [[connectedComponents]]: the pair frame is
    * materialized once (`localCheckpoint`: both branches of the
    * symmetric edge union read it, in every round), then iterative min-label propagation. Each
    * round every node
    * adopts the smallest label among itself and its neighbors, so
    * labels converge in O(component diameter) rounds — near-dup
    * components are shallow (a hub document and its variants), so
    * convergence is a handful of rounds even at corpus scale. Each
    * round is one join + one groupBy (two shuffles) and the lineage is
    * cut with `localCheckpoint` so the plan doesn't grow per round.
    * Throws if `maxIter` rounds don't converge rather than returning
    * partial clusters; the fused init counts as round 1 and cannot
    * observe its own convergence, so `maxIter` ≥ 2 (ADVICE r19).
    *
    * NOTE (r20, tried and REVERTED): chaining TWO propagation rounds
    * per job (the second doubling as the convergence proof, so the
    * planted-pair family would finish in one job instead of two)
    * measured ~0.85-0.9× on fresh-JVM probes (dedup_clusters steady
    * 2.25-2.4 s → 2.5-2.6 s): the un-materialized round-k labels
    * appear twice in the fused plan (neighbor-min side + node side),
    * and the duplicated subtree's extra stages cost more than the one
    * removed job-floor. The one-round-per-job shape stays. */
  private[graft] def componentsDistributed(pairs: DataFrame, maxIter: Int): DataFrame = {
    val p = pairs.localCheckpoint()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    // fused round 1 (r19): with identity labels, the first round's
    // neighbor-min is simply min(src) over each node's incoming edges,
    // so initialization IS round 1 — one groupBy replaces the previous
    // distinct-init job plus the first join round (every node appears
    // as dst because `edges` carries both directions)
    var labels = edges.groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("component"))
      .localCheckpoint()
    var converged = false
    var round = 1
    while (!converged && round < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("src"), col("component").as("src_comp")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_comp")).as("nbr_comp"))
      val newComp = least(col("component"), coalesce(col("nbr_comp"), col("component")))
      // the convergence flag rides the checkpoint materialization as an
      // observe metric — one action per round, no second agg job
      val obs = org.apache.spark.sql.Observation(s"cc_round_$round")
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), newComp.as("component"),
          (newComp =!= col("component")).cast("int").as("changed"))
        .observe(obs, coalesce(max(col("changed")), lit(0)).as("max_changed"))
        .localCheckpoint()
      converged = obs.get("max_changed").asInstanceOf[Int] == 0
      labels = next.select(col("id"), col("component"))
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds the bound; raise maxIter")
    labels
  }

  /** 64-bit SimHash over the distinct token set (E3): per bit j, sum
    * ±1 votes from each token's hash bit, take the sign. Single-pass
    * codegen ([[graft.functions.SimHash64]]): one xxhash64 per token. */
  def simhash(textCol: String): Column =
    graft.functions.HashExprs.simHash64(array_distinct(split(col(textCol), " ")))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    * Candidates via 4×16-bit chunk banding (pigeonhole: distance ≤ 3
    * guarantees an identical chunk; larger distances are found with
    * high probability), verified with bit_count(xor). The pigeonhole
    * guarantee only holds while no bucket truncates — as with minhash,
    * `strict=true` raises on an over-full bucket instead of silently
    * dropping pairs. */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3, maxBucket: Int = 64,
                            strict: Boolean = false): DataFrame =
    simhashNearDuplicatesFromSigs(
      docs.select(col(idCol).as("id"), simhash(textCol).as("sim")),
      maxHamming, maxBucket, strict)

  /** [[simhashNearDuplicates]] over an already-computed signature frame
    * (id, sim) — split out (r19) so callers that need the signatures
    * for their own audit (E3's recall gate measures planted-pair
    * Hamming distances from the same sigs) compute the corpus SimHash
    * pass once instead of once per consumer. */
  def simhashNearDuplicatesFromSigs(sigs: DataFrame,
                            maxHamming: Int = 3, maxBucket: Int = 64,
                            strict: Boolean = false): DataFrame = {
    val banded = sigs.select(col("id"), col("sim"), explode(expr(
      "transform(sequence(0, 3), c -> named_struct('chunk', c, 'key', (sim >> (c * 16)) & 65535))")).as("ck"))
    val guarded =
      if (strict)
        when(size(col("members")) > maxBucket, expr(
          s"""raise_error(concat('simhash bucket exceeds maxBucket=$maxBucket (',
             |  CAST(size(members) AS STRING), ' ids) — pairs would be silently dropped'))"""
            .stripMargin))
          .otherwise(col("members"))
      else expr(s"slice(members, 1, $maxBucket)")
    banded.groupBy(col("ck.chunk"), col("ck.key"))
      .agg(collect_list(struct(col("id"), col("sim"))).as("members"))
      .filter(size(col("members")) > 1)
      .withColumn("members", array_sort(col("members")))
      .withColumn("members", guarded)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(members) - 1),
          |  i -> transform(sequence(0, i - 1),
          |    j -> named_struct('id_a', members[j].id, 'id_b', members[i].id,
          |                      'hamming', bit_count(members[j].sim ^ members[i].sim)))))""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
