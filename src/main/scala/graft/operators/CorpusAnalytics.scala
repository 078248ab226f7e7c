package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TopKAgg, VectorExprs}

/** Corpus-level retrieval / sampling / reporting operators for the
  * training-data pipeline (SURVEY §2 E36-E39).
  */
object CorpusAnalytics {

  // --------------------------------------------------------------- E36
  /** BM25 scoring of the corpus against a fixed term set (the lexical
    * retrieval baseline next to the ANN path). Scale shape: tokens are
    * filtered to the query terms BEFORE any shuffle, so the exchange
    * carries O(matching tokens), never the corpus; docfreqs (≤ |terms|
    * rows) and the corpus stats (1 row) come back via broadcast joins.
    *
    * Determinism: the per-term partial scores are summed in a FIXED
    * textual order (one conditional-agg column per term), not with a
    * data-order `sum()` over doubles, and `ln` is the only non-exact
    * op — its ≤1-ulp cross-engine wobble is absorbed by the final
    * round(…, 6). */
  def bm25Score(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("table", "sort", "merge", "hash", "spark")
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val stats = toks.select(size(col("tk")).as("len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    val tf = toks
      .select(col("doc_id"), size(col("tk")).as("len"), explode(col("tk")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // identical expression tree to the oracle (see bm25ScoreSql)
    val sc = expr(
      """ln((cast(n_docs as double) - cast(df as double) + 0.5) /
        |   (cast(df as double) + 0.5) + 1.0) *
        | (cast(tf as double) * 2.2) /
        | (cast(tf as double) + 1.2 * (0.25 + 0.75 *
        |   (cast(len as double) / (cast(sum_len as double) / cast(n_docs as double)))))
        |""".stripMargin)
    val scored = tf.join(broadcast(dfs), "term").crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), sc.as("sc"))
    val per = scored.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_terms_hit"),
      sum(when(col("term") === "table", col("sc"))).as("s1"),
      sum(when(col("term") === "sort", col("sc"))).as("s2"),
      sum(when(col("term") === "merge", col("sc"))).as("s3"),
      sum(when(col("term") === "hash", col("sc"))).as("s4"),
      sum(when(col("term") === "spark", col("sc"))).as("s5"))
    per.select(col("doc_id"), col("n_terms_hit"),
      round(coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0)) +
        coalesce(col("s3"), lit(0.0)) + coalesce(col("s4"), lit(0.0)) +
        coalesce(col("s5"), lit(0.0)), 6).as("bm25"))
  }

  val bm25ScoreSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(len(tk)) AS sum_len FROM toks),
      |tf AS (SELECT doc_id, len, term, COUNT(*) AS tf FROM (
      |         SELECT doc_id, len(tk) AS len, unnest(tk) AS term FROM toks)
      |       WHERE term IN ('table', 'sort', 'merge', 'hash', 'spark')
      |       GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT t.doc_id, t.term,
      |  ln((cast(n_docs as double) - cast(df as double) + 0.5) /
      |     (cast(df as double) + 0.5) + 1.0) *
      |   (cast(tf as double) * 2.2) /
      |   (cast(tf as double) + 1.2 * (0.25 + 0.75 *
      |     (cast(len as double) / (cast(sum_len as double) / cast(n_docs as double)))))
      |   AS sc
      |  FROM tf t JOIN dfs USING (term) CROSS JOIN stats),
      |per AS (SELECT doc_id, COUNT(*) AS n_terms_hit,
      |  SUM(CASE WHEN term = 'table' THEN sc END) AS s1,
      |  SUM(CASE WHEN term = 'sort'  THEN sc END) AS s2,
      |  SUM(CASE WHEN term = 'merge' THEN sc END) AS s3,
      |  SUM(CASE WHEN term = 'hash'  THEN sc END) AS s4,
      |  SUM(CASE WHEN term = 'spark' THEN sc END) AS s5
      |  FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_terms_hit,
      |  round(coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0) +
      |        coalesce(s4, 0.0) + coalesce(s5, 0.0), 6) AS bm25
      |FROM per""".stripMargin

  // --------------------------------------------------------------- E37
  /** Matryoshka truncation: keep the first 16 of 64 embedding dims and
    * re-normalize — the standard trick for cheap first-stage retrieval
    * over MRL-trained embeddings. Reports the retained-energy ratio
    * (‖prefix‖/‖full‖) and the first re-normalized component; a pure
    * projection, no shuffle, dot products via the codegen float-dot
    * expression in array order (bit-identical to the oracle's
    * DOUBLE[] arithmetic). */
  def matryoshka(s: SparkSession, dir: String): DataFrame = {
    val tr = slice(col("embedding"), 1, 16)
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      round(sqrt(VectorExprs.floatDot(tr, tr)) /
        sqrt(VectorExprs.floatDot(col("embedding"), col("embedding"))), 6)
        .as("energy_ratio"),
      round(element_at(col("embedding"), 1).cast("double") /
        sqrt(VectorExprs.floatDot(tr, tr)), 6).as("c0"))
  }

  val matryoshkaSql: String =
    """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      |SELECT vec_id,
      |  round(sqrt(list_dot_product(e[1:16], e[1:16])) /
      |        sqrt(list_dot_product(e, e)), 6) AS energy_ratio,
      |  round(e[1] / sqrt(list_dot_product(e[1:16], e[1:16])), 6) AS c0
      |FROM d""".stripMargin

  // --------------------------------------------------------------- E38
  /** Distributed reservoir sample: exactly k docs per stratum, chosen
    * by rank on a deterministic integer hash — the scalable equivalent
    * of per-group reservoir sampling (uniform over the stratum, stable
    * across reruns/partitioning). The per-stratum top-k is a bounded
    * aggregate pruned to k map-side, NOT a row_number window: with few
    * strata a window would sort each whole stratum on one reducer. */
  def reservoirSample(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        ((col("doc_id") * 1103515245L + 12345L) % 2147483648L).as("h"))
      .groupBy(col("lang"))
      .agg(TopKAgg.boundedTopK(struct(col("h"), col("doc_id")), k).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("lang"), col("t.doc_id").as("doc_id"), col("t.h").as("h"),
        (col("pos") + 1).cast("int").as("rn"))

  val reservoirSampleSql: String =
    """SELECT lang, doc_id, h, rn FROM (
      |  SELECT lang, doc_id, (doc_id * 1103515245 + 12345) % 2147483648 AS h,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id)
      |      AS INTEGER) AS rn
      |  FROM documents) WHERE rn <= 20""".stripMargin

  // --------------------------------------------------------------- E40
  /** Global decile assignment (the quality-bucketing step of
    * stratified corpus mixing): every document gets its corpus-wide
    * decile by a sort key WITHOUT a single-reducer global sort —
    * ranks come from [[Relational.globalRank]] (range repartition +
    * per-partition offset lifting), and the decile is integer
    * arithmetic on (rank, total). An NTILE window over an empty
    * partition spec would funnel the whole corpus through one task. */
  def qualityDeciles(s: SparkSession, dir: String): DataFrame =
    Relational.globalRank(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        groupCols = Nil, sortCols = Seq("n_chars", "doc_id"))
      .withColumn("decile", expr("CAST(((rn - 1) * 10) DIV n AS INT) + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))

  val qualityDecilesSql: String =
    """WITH r AS (SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents)
      |SELECT CAST(((rn - 1) * 10) // n AS INTEGER) + 1 AS decile,
      |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM r GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- E41
  /** SemDeDup over the corpus with planted EXACT duplicates (vec_id +
    * 10000, identical vector): cluster assignment depends on k-means,
    * so the survivor set is rows-only at the driver; the GATE below
    * pins the formal guarantee as an exact oracle row. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    Similarity.semDeDup(base.unionByName(copies), threshold = 0.999)
  }

  /** Exact-oracle gate: identical vectors share a cell, so EVERY
    * planted copy must drop and EVERY base row must survive. */
  def semDedupGate(s: SparkSession, dir: String): DataFrame = {
    val kept = semDedup(s, dir)
    kept.agg(
      sum(when(col("vec_id") < 10000L, 1L).otherwise(0L)).as("n_base_kept"),
      sum(when(col("vec_id") >= 10000L, 1L).otherwise(0L)).as("n_copies_kept"))
  }

  val semDedupGateSql: String =
    """SELECT COUNT(*) AS n_base_kept, CAST(0 AS BIGINT) AS n_copies_kept
      |FROM embeddings""".stripMargin

  // --------------------------------------------------------------- E39
  /** Corpus mixture report: docs / exact token counts / token share
    * per (source, lang) — the mixing table every pretraining run is
    * steered by. One aggregation shuffle carrying (source, lang)
    * partials; the share division happens on the tiny grouped result
    * (the single-partition window is over ≤ |sources|·|langs| rows,
    * never the corpus). */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(col("source"), col("lang"), size(split(col("text"), " ")).as("n_toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(Window.partitionBy()).cast("double"), 6)
          .as("token_share"))
  }

  val corpusMixSql: String =
    """WITH g AS (SELECT source, lang, COUNT(*) AS n_docs,
      |    SUM(len(string_split(text, ' '))) AS n_tokens
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6)
      |    AS token_share
      |FROM g""".stripMargin

  // --------------------------------------------------------------- E44
  /** Source novelty curve: how many distinct 3-grams each source is
    * the FIRST to contribute, under a deterministic ingestion order
    * (lexical source id) — the marginal-diversity signal data-curation
    * uses to decide whether adding a source is worth its tokens
    * (a source whose grams are all already covered adds volume, not
    * diversity).
    *
    * Scale shape: grams travel as 8-byte xxhash64 keys — no exchange
    * ever carries a gram STRING, and no gram string is even BUILT:
    * [[graft.functions.WordShingleHashes]] hashes each n-gram window
    * as a byte range of the original text (same values as
    * `xxhash64(gram)`, zero slice/join/array_distinct allocations).
    * A collision merges two grams' novelty attribution,
    * P ≈ G²/2⁶⁵ — irrelevant for a novelty ratio, and the
    * DuckDB oracle keeps the literal-gram formulation so a collision
    * would fail the compare. The corpus explodes once into a
    * (source, gram_h)-distinct frame which is localCheckpoint-cut
    * before feeding its TWO consumers (min-source-per-gram and
    * distinct-grams-per-source) — without the cut the explode+distinct
    * subtree recomputes per consumer (the §4 multi-consumer rule).
    * `min(source)` per gram is algebraic (map-side partials), and the
    * final counts are per-source (≤ |sources| rows). Nothing shuffles
    * the corpus itself, and no step is quadratic in sources. */
  def sourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = docs
      .select(col("source"),
        explode(graft.functions.HashExprs.wordShingleHashes(col("text"), 3))
          .as("gram_h"))
      .distinct()
      .localCheckpoint()
    val first = grams.groupBy(col("gram_h")).agg(min(col("source")).as("source"))
    val novelty = first.groupBy(col("source")).agg(count(lit(1)).as("new_grams"))
    grams.groupBy(col("source")).agg(count(lit(1)).as("distinct_grams"))
      .join(novelty, Seq("source"), "left")
      .withColumn("new_grams", coalesce(col("new_grams"), lit(0L)))
      .select(col("source"), col("distinct_grams"), col("new_grams"),
        round(col("new_grams").cast("double") / col("distinct_grams"), 6)
          .as("novelty_ratio"))
  }

  val sourceNoveltySql: String =
    """WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT DISTINCT source, UNNEST(CASE WHEN len(toks) >= 3
      |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> array_to_string(toks[i:i+2], ' ')))
      |  ELSE [array_to_string(toks, ' ')] END) AS gram FROM d),
      |f AS (SELECT gram, MIN(source) AS source FROM g GROUP BY gram),
      |n AS (SELECT source, COUNT(*) AS new_grams FROM f GROUP BY source),
      |t AS (SELECT source, COUNT(*) AS distinct_grams FROM g GROUP BY source)
      |SELECT source, distinct_grams, COALESCE(new_grams, 0) AS new_grams,
      |  ROUND(CAST(COALESCE(new_grams, 0) AS DOUBLE) / distinct_grams, 6)
      |    AS novelty_ratio
      |FROM t LEFT JOIN n USING (source)""".stripMargin

  // --------------------------------------------------------------- E45
  /** Quality-weighted mixture sampling: corpus-wide quality deciles
    * (E40's distributed rank — no single-reducer NTILE) drive
    * per-decile keep fractions of decile/10, so the top decile is kept
    * in full and the bottom at 10% — the static quality-upweighting
    * mixture a pretraining data build applies after scoring. Membership
    * uses the engine-portable hash sampler (E32), so the EXACT kept
    * set — not just its expectation — is deterministic and
    * oracle-pinned per decile. Both building blocks scale (rank via
    * range repartition + offset lifting; the sampler is a pure
    * projection), and the composition adds only the per-decile
    * aggregate. */
  def qualityMixSample(s: SparkSession, dir: String): DataFrame = {
    val ranked = Relational.globalRank(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      groupCols = Nil, sortCols = Seq("n_chars", "doc_id"))
    val bucket = pmod((col("doc_id") % 1000003L) * 2654435761L, lit(10000L))
    ranked
      .withColumn("decile", expr("CAST(((rn - 1) * 10) DIV n AS INT) + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(bucket < col("decile") * 1000L, 1L).otherwise(0L)).as("n_kept"))
  }

  val qualityMixSampleSql: String =
    """WITH r AS (SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents),
      |d AS (SELECT doc_id,
      |    CAST(((rn - 1) * 10) // n AS INTEGER) + 1 AS decile,
      |    ((doc_id % 1000003) * 2654435761) % 10000 AS b
      |  FROM r)
      |SELECT decile, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN b < decile * 1000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM d GROUP BY decile""".stripMargin

  // --------------------------------------------------------------- E48
  /** Vocabulary coverage curve: what fraction of all token
    * OCCURRENCES do the top-N most frequent terms cover, for a ladder
    * of N — the tokenizer-design / vocab-sizing diagnostic (a BPE
    * vocab is worth building exactly up to where this curve flattens).
    *
    * Scale shape: one token explode → term-count aggregate (map-side
    * partials), then the top-`cuts.max` terms come out via the repo's
    * `BoundedTopK` — map-side pruning to ≤ max(N) terms per partition,
    * O(max N) exchange, no full vocabulary sort. The coverage join
    * runs on (max N terms × |cuts|) rows; the corpus total is one
    * aggregate scalar carried by a broadcast cross join. Ties rank by
    * (count desc, term asc) in both engines. */
  def vocabCoverage(s: SparkSession, dir: String,
                    cuts: Seq[Int] = Seq(10, 20, 50, 100)): DataFrame = {
    import s.implicits._
    require(cuts.nonEmpty && cuts.forall(_ > 0))
    val tc = TermTable.termCounts(s, dir) // shared tokenization pass
    val ranked = tc
      .agg(TopKAgg.boundedTopK(
        struct((-col("n")).as("negn"), col("term")), cuts.max).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "t")))
      .select((col("pos") + 1).as("rk"), (-col("t.negn")).as("n"))
    val total = tc.agg(sum(col("n")).cast("long").as("total_tokens"))
    ranked.join(broadcast(cuts.toDF("n_top")), col("rk") <= col("n_top"))
      .groupBy(col("n_top")).agg(sum(col("n")).cast("long").as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("n_top"), col("covered_tokens"), col("total_tokens"),
        round(col("covered_tokens").cast("double") / col("total_tokens"), 6)
          .as("coverage"))
  }

  val vocabCoverageSql: String =
    """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS term
      |           FROM documents),
      |tc AS (SELECT term, COUNT(*) AS n FROM t WHERE len(term) > 0
      |       GROUP BY term),
      |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rk
      |      FROM tc),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM tc)
      |SELECT v.n_top, CAST(SUM(r.n) AS BIGINT) AS covered_tokens,
      |  tot.total_tokens,
      |  ROUND(CAST(SUM(r.n) AS DOUBLE) / tot.total_tokens, 6) AS coverage
      |FROM (VALUES (10), (20), (50), (100)) AS v(n_top)
      |JOIN r ON r.rk <= v.n_top CROSS JOIN tot
      |GROUP BY v.n_top, tot.total_tokens""".stripMargin

  // --------------------------------------------------------------- E49
  /** Strided source interleave: a deterministic global training order
    * that spreads every source evenly through the epoch —
    * position = (rank_within_source − 1) · n_sources + source_index —
    * so no contiguous stretch of the shuffled corpus is dominated by
    * one source (the failure mode of naive concatenation that E30's
    * uniform shuffle fixes statistically; this fixes it by
    * construction, the round-robin mixing a dataloader expects).
    *
    * Scale shape: within-source ranks come from `globalRank` (range
    * repartition + offset lifting — parallel in the source's size);
    * the source→index map is the distinct source list, driver-sized
    * by definition (capped + fail-fast like the CMS probe list) and
    * broadcast back. Positions are collision-free by arithmetic (one
    * residue class mod n_sources per source), not by a global sort;
    * with unequal source sizes the position space has gaps (up to
    * (max_count − 1) · n_sources), so consume it by SORTING on
    * position, not by indexing a dense array with it. */
  def sourceInterleave(s: SparkSession, dir: String,
                       maxSources: Int = 10000): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val srcRows = docs.select(col("source")).distinct()
      .limit(maxSources + 1).collect()
    require(srcRows.length <= maxSources,
      s"more than maxSources=$maxSources sources — assign indices via " +
        "globalRank over the distinct frame instead of the driver map")
    val idx = srcRows.map(_.getString(0)).sorted.zipWithIndex
    val nSources = idx.length.toLong
    val ranked = Relational.globalRank(docs,
      groupCols = Seq("source"), sortCols = Seq("doc_id"))
    ranked.join(broadcast(idx.toSeq.toDF("source", "sidx")), Seq("source"))
      .select(col("doc_id"), col("source"),
        ((col("rn") - 1L) * nSources + col("sidx")).as("position"))
  }

  val sourceInterleaveSql: String =
    """WITH s AS (SELECT source,
      |    ROW_NUMBER() OVER (ORDER BY source) - 1 AS sidx,
      |    COUNT(*) OVER () AS ns
      |  FROM (SELECT DISTINCT source FROM documents)),
      |r AS (SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      |  FROM documents)
      |SELECT r.doc_id, r.source,
      |  CAST((r.rk - 1) * s.ns + s.sidx AS BIGINT) AS position
      |FROM r JOIN s USING (source)""".stripMargin

  // --------------------------------------------------------------- E50
  /** Paragraph-level dedup (the MassiveText/Gopher corpus-prep step):
    * chunk every document into fixed non-overlapping token windows
    * ("paragraphs" — this corpus has no newlines, so windows stand in;
    * the pipeline shape is identical), keep only the FIRST occurrence
    * of each distinct chunk corpus-wide (ordered by doc_id, then
    * position), and reassemble each document from its surviving chunks
    * in order. Output per document: chunk counts plus the deduped
    * text's length.
    *
    * Scale shape: first-occurrence resolution rides a 128-bit content
    * key (two independent xxhash64 seeds), so the firsts aggregate and
    * the kept-flag join exchange 16-byte hashes, never chunk text. The
    * text itself crosses the wire exactly ONCE, keyed by doc_id, where
    * the flag join and the reassembly aggregate both consume that one
    * explicit exchange (HashPartitioning(doc_id) satisfies both the
    * (doc_id, pos) join and the doc_id aggregate). The DuckDB oracle
    * resolves on the exact string, so any hash-collision effect would
    * fail the gate. No window over the corpus. */
  def paragraphDedup(s: SparkSession, dir: String, window: Int = 20): DataFrame = {
    val w = window
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(toks) / $w.0) AS INT) - 1),
           |  i -> array_join(slice(toks, i * $w + 1, $w), ' '))""".stripMargin))
        .as(Seq("pos", "chunk")))
    val keyed = chunks.select(col("doc_id"), col("pos"),
      xxhash64(col("chunk")).as("h1"),
      xxhash64(lit(7), col("chunk")).as("h2"))
    val firsts = keyed.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val flags = keyed.join(firsts, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"),
        (struct(col("doc_id"), col("pos")) === col("first")).as("kept"))
      .repartition(col("doc_id"))
    chunks.repartition(col("doc_id"))
      .join(flags, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        length(array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("chunk"))))),
          t => t.getField("chunk")), " ")).as("dedup_len"))
  }

  val paragraphDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c0 AS (SELECT doc_id, list_transform(
      |    range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
      |    i -> struct_pack(pos := i,
      |      chunk := array_to_string(toks[i*20+1 : i*20+20], ' '))) AS cs
      |  FROM d),
      |c AS (SELECT doc_id, unnest(cs, recursive := true) FROM c0),
      |k AS (SELECT doc_id, pos, chunk,
      |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1 AS kept
      |  FROM c)
      |SELECT doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(length(array_to_string(list_transform(
      |    list_sort(list(struct_pack(pos := pos, chunk := chunk))
      |      FILTER (WHERE kept)),
      |    x -> x.chunk), ' ')), 0) AS BIGINT) AS dedup_len
      |FROM k GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- E52
  /** Robust per-source outlier fences (Tukey IQR): q1/q3 are EXACT
    * rank-selected quantiles from the distributed rank operator (no
    * interpolation, no sketch — the fences must be reproducible), the
    * fence arithmetic stays exact in binary (×1.5 of an integer-valued
    * spread), and each source's outlier count comes from one broadcast
    * join of the 2-row-per-source fence table. The length-outlier trim
    * every corpus intake applies before quality scoring. */
  def iqrOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("double").as("value"))
    val qs = Relational.exactQuantiles(docs, Seq("source"), "value",
      ps = Seq(0.25, 0.75))
    val fences = qs.groupBy(col("source")).agg(
        max(when(col("p") === 0.25, col("value"))).as("q1"),
        max(when(col("p") === 0.75, col("value"))).as("q3"))
      .select(col("source"),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
    docs.join(broadcast(fences), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"))
  }

  val iqrOutliersSql: String =
    """WITH w AS (SELECT source, CAST(n_chars AS DOUBLE) AS value,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents),
      |q AS (SELECT source,
      |    MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN value END) AS q1,
      |    MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT) THEN value END) AS q3
      |  FROM w GROUP BY source),
      |f AS (SELECT source, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
      |  FROM q)
      |SELECT w.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  MAX(lo) AS lo, MAX(hi) AS hi
      |FROM w JOIN f ON w.source = f.source
      |GROUP BY w.source""".stripMargin

  // --------------------------------------------------------------- E54
  /** Per-document deflate compression ratio — the redundancy signal
    * quality filters use against templated/generated text (natural
    * prose compresses far less than repeated boilerplate). The zlib
    * bytes aren't recomputable in SQL, so the per-doc ratios are
    * rows-only; [[compressionGate]] pins the signal's separation
    * property as the exact-oracle companion. */
  def compressionRatio(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        round(graft.functions.CompressExprs.deflateRatio(col("text")), 6)
          .as("ratio"))

  /** Exact-oracle gate: text built by repeating one token 100× MUST
    * compress below every real document — if the planted maximum ever
    * reaches the real minimum, the signal has no separating power and
    * the boolean flips. */
  def compressionGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // both ratios in ONE corpus scan (r19): the real and planted
    // deflate passes previously ran as two separate jobs over the
    // same documents
    val a = docs.select(
        graft.functions.CompressExprs.deflateRatio(col("text")).as("r_real"),
        graft.functions.CompressExprs.deflateRatio(
          concat_ws(" ", array_repeat(split(col("text"), " ").getItem(0), 100)))
          .as("r_planted"))
      .agg(count(lit(1)).as("n"), min(col("r_real")).as("mn"),
        max(col("r_planted")).as("mx")).head()
    import s.implicits._
    Seq(("compression_separation", a.getLong(0), a.getLong(0),
        a.getDouble(2) < a.getDouble(1)))
      .toDF("metric", "n_real", "n_planted", "separable")
  }

  val compressionGateSql: String =
    """SELECT 'compression_separation' AS metric,
      |  CAST(COUNT(*) AS BIGINT) AS n_real,
      |  CAST(COUNT(*) AS BIGINT) AS n_planted,
      |  TRUE AS separable
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- E51
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): featurize every
    * document as hashed-token bucket counts, estimate the bucket
    * distribution of a TARGET domain (here: source = 'src0') and of
    * the raw corpus (Laplace-smoothed), and weight each document by
    * its log-likelihood ratio Σ_tok log(p_target(b)/p_raw(b)). Docs
    * with positive weight look more like the target than the average —
    * the resampling signal a mixture builder thresholds on.
    *
    * Determinism/oracle: buckets use the engine-portable polynomial
    * hash (same family as doc_fingerprint's DuckDB mirror); per-bucket
    * log-ratios are rounded to 9 decimals and carried as DECIMAL so
    * the per-doc sums are exact and order-free in both engines.
    *
    * Scale shape: token stream → m-bucket aggregate (m=64 rows), the
    * ratio table broadcasts back, one doc-keyed sum. The corpus text
    * itself is never shuffled. */
  def dsirWeights(s: SparkSession, dir: String, m: Int = 64,
                  targetSource: String = "src0"): DataFrame = {
    import graft.functions.RollingHash
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", pmod(RollingHash.rollingHash(col("tok")), lit(m.toLong)))
    val counts = toks.groupBy(col("b")).agg(
      count(lit(1)).as("r_cnt"),
      sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("t_cnt"))
    val totals = counts.agg(sum(col("r_cnt")).as("r_tot"),
      sum(col("t_cnt")).as("t_tot"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round(log((col("t_cnt") + 1.0) / (col("t_tot") + m.toDouble)) -
              log((col("r_cnt") + 1.0) / (col("r_tot") + m.toDouble)), 9)
          .cast("decimal(20,10)").as("logratio"))
    toks.join(broadcast(ratios), "b")
      .groupBy(col("doc_id"))
      .agg(round(sum(col("logratio")).cast("double"), 6).as("dsir_weight"))
      .select(col("doc_id"), col("dsir_weight"),
        (col("dsir_weight") > 0.0).as("target_like"))
  }

  val dsirWeightsSql: String =
    """WITH t AS (SELECT doc_id, source,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) % 64 AS b
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |c AS (SELECT b, COUNT(*) AS r_cnt,
      |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_cnt
      |  FROM t GROUP BY b),
      |tot AS (SELECT SUM(r_cnt) AS r_tot, SUM(t_cnt) AS t_tot FROM c),
      |ratio AS (SELECT b, CAST(ROUND(
      |    ln((t_cnt + 1.0) / (t_tot + 64.0)) - ln((r_cnt + 1.0) / (r_tot + 64.0)),
      |    9) AS DECIMAL(20,10)) AS logratio
      |  FROM c CROSS JOIN tot),
      |w AS (SELECT doc_id, CAST(ROUND(SUM(logratio), 6) AS DOUBLE) AS dsir_weight
      |  FROM t JOIN ratio USING (b) GROUP BY doc_id)
      |SELECT doc_id, dsir_weight, dsir_weight > 0.0 AS target_like FROM w""".stripMargin

  // --------------------------------------------------------------- E55
  /** Duplicate n-gram ratio — the repeated-passage signal behind
    * substring-level training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * every document, the fraction of its DISTINCT 5-grams that also
    * occur in at least one OTHER document. High-ratio documents are
    * built from corpus-recycled passages (boilerplate, mirrors,
    * templates) even when no whole paragraph matches E50.
    *
    * Scale shape: gram text never crosses the wire. Each (doc, gram)
    * pair is reduced to a 128-bit content key (two independent
    * xxhash64 seeds); the per-doc distinct, the corpus doc-frequency
    * aggregate, and the probe join all exchange 16-byte keys. The
    * DuckDB oracle resolves on the exact gram string, so a
    * hash-collision effect would fail the gate. At the default gram
    * width the (doc, h1, h2) relation is read from the shared
    * [[GramTable]] pass instead of re-shingling the corpus. */
  def dupNgramRatio(s: SparkSession, dir: String, n: Int = GramTable.N): DataFrame = {
    val grams =
      if (n == GramTable.N)
        GramTable.docGrams(s, dir).select(col("doc_id"), col("h1"), col("h2"))
      else Tables.documents(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          s"""CASE WHEN size(toks) >= $n
             |  THEN transform(sequence(0, size(toks) - $n),
             |    i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i+$j]").mkString(", ")}))
             |  ELSE array() END""".stripMargin)).as("gram"))
        .select(col("doc_id"),
          xxhash64(col("gram")).as("h1"),
          xxhash64(lit(7), col("gram")).as("h2"))
        .distinct() // per-doc distinct grams, as 16-byte keys
    val docFreq = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("n_docs"))
    grams.join(docFreq, Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_ratio"))
  }

  val dupNgramRatioSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |           FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(toks) - 3),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4])) AS gram
      |  FROM d WHERE len(toks) >= 5),
      |f AS (SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  ROUND(CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS dup_ratio
      |FROM g JOIN f USING (gram) GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- E56
  /** Weighted sampling without replacement via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup, JACM 2007): per language stratum, keep the
    * k documents with the largest priority w/u, where w is the
    * document's weight (its length — longer documents carry more
    * training tokens) and u ∈ (0,1) is a uniform hash of its id.
    * Inclusion probability is ∝ min(1, w/τ) for the threshold τ =
    * (k+1)-th priority — the length-biased sample a token-budgeted
    * corpus draw needs, with a deterministic, engine-portable draw.
    *
    * Determinism: u = (2b+1)/20000 for an integer hash bucket b, so
    * the priority is one IEEE-754 division of two exactly-representable
    * integers — correctly rounded by spec, hence bit-identical across
    * engines (no ln/pow, whose last-ulp wobble is implementation-
    * defined; this is why priority sampling is used here rather than
    * the u^(1/w) exponential-key scheme).
    *
    * Scale shape: the per-stratum top-k rides [[graft.functions.BoundedTopK]]
    * — map-side partials prune to ≤ k rows per stratum per partition
    * BEFORE the shuffle, so the exchange carries O(strata · k) and
    * nothing ever sorts a stratum (a row_number window would shuffle
    * the full corpus onto |strata| reducers). */
  def weightedSample(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val b = pmod((col("doc_id") % 999983L) * 2246822519L, lit(10000L))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        (col("n_chars").cast("double") * 20000.0 /
          (b.cast("double") * 2.0 + 1.0)).as("priority"))
      .groupBy(col("lang"))
      .agg(TopKAgg.boundedTopK(
        struct((-col("priority")).as("np"), col("doc_id")), k).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("t.doc_id").as("doc_id"),
        round(-col("t.np"), 4).as("priority"))
  }

  val weightedSampleSql: String =
    """WITH p AS (SELECT lang, doc_id,
      |    CAST(n_chars AS DOUBLE) * 20000.0 /
      |      (CAST(((doc_id % 999983) * 2246822519) % 10000 AS DOUBLE) * 2.0 + 1.0)
      |      AS priority
      |  FROM documents),
      |r AS (SELECT lang, doc_id, priority,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |                       ORDER BY priority DESC, doc_id ASC) AS rk
      |  FROM p)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, ROUND(priority, 4) AS priority
      |FROM r WHERE rk <= 10""".stripMargin

  // --------------------------------------------------------------- E58
  /** Zipf power-law fit over the term-frequency head — the standard
    * corpus-health diagnostic: natural text follows freq ∝ rank^s with
    * s ≈ −1; a slope far from −1 (or a broken-line shape) flags
    * synthetic, templated, or deduplication-damaged corpora before
    * training does. OLS of ln(freq) on ln(rank) over the top-k terms.
    *
    * Scale shape: the vocabulary aggregate is a hash groupBy with
    * map-side partials; the head selection is TakeOrdered (per-
    * partition bounded heaps, O(k) exchange — never a vocabulary
    * sort); the rank window runs AFTER the limit, so its single
    * partition is ≤ k rows by construction. Determinism rides the
    * D44 discipline: per-row log components are pinned to exact
    * decimals before the order-sensitive summation, and the OLS
    * arithmetic runs once on the final scalars with the oracle's
    * exact expression shape (ULP-level ln() differences between the
    * engines' libm are absorbed by round(6)). */
  def zipfFit(s: SparkSession, dir: String, k: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val head = TermTable.termCounts(s, dir) // shared tokenization pass
      .orderBy(col("n").desc, col("term").asc).limit(k)
    val w = Window.orderBy(col("n").desc, col("term").asc) // ≤ k rows
    val comps = head
      .withColumn("r", row_number().over(w))
      .select(log(col("r").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
      .select(
        col("x").cast(DecimalType(28, 12)).as("xd"),
        col("y").cast(DecimalType(28, 12)).as("yd"),
        (col("x") * col("y")).cast(DecimalType(28, 12)).as("xy"),
        (col("x") * col("x")).cast(DecimalType(28, 12)).as("x2"))
    comps
      .agg(count(lit(1)).as("n_terms"),
        sum(col("xd")).cast("double").as("sx"),
        sum(col("yd")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("x2")).cast("double").as("sx2"))
      .select(col("n_terms"),
        round((col("n_terms").cast("double") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms").cast("double") * col("sx2") - col("sx") * col("sx")), 6)
          .as("slope"),
        round((col("sy") -
          ((col("n_terms").cast("double") * col("sxy") - col("sx") * col("sy")) /
           (col("n_terms").cast("double") * col("sx2") - col("sx") * col("sx"))) *
          col("sx")) / col("n_terms").cast("double"), 6).as("intercept"))
  }

  val zipfFitSql: String =
    """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
      |c AS (SELECT term, COUNT(*) AS n FROM t WHERE len(term) > 0
      |      GROUP BY term ORDER BY n DESC, term ASC LIMIT 500),
      |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS r FROM c),
      |p AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM r),
      |s AS (SELECT COUNT(*) AS k,
      |        CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
      |        CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
      |        CAST(SUM(CAST(x*y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
      |        CAST(SUM(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) AS sx2
      |      FROM p)
      |SELECT CAST(k AS BIGINT) AS n_terms,
      |  ROUND((CAST(k AS DOUBLE)*sxy - sx*sy)/(CAST(k AS DOUBLE)*sx2 - sx*sx), 6) AS slope,
      |  ROUND((sy - ((CAST(k AS DOUBLE)*sxy - sx*sy)/(CAST(k AS DOUBLE)*sx2 - sx*sx))*sx)
      |    / CAST(k AS DOUBLE), 6) AS intercept
      |FROM s""".stripMargin

  // --------------------------------------------------------------- E61
  /** Temperature-scaled source mixture sampling (the UniMax/multilingual
    * rebalancing shape, τ = 2): each source's target share is
    * proportional to tokens^(1/τ) = √tokens — down-weighting the head
    * sources so the mixture is less dominated by the largest crawl —
    * and its keep-rate is min(1, budget·share / tokens) for a budget
    * of half the corpus. Per-document membership is the engine-portable
    * hash-bucket draw of E32.
    *
    * Determinism: √ and ÷ are IEEE-correctly-rounded single ops (this
    * is why τ = 2 and not an arbitrary pow(), whose last ulp is libm-
    * defined); the share denominator Σ√tokens is summed as an exact
    * decimal over per-SOURCE scalars (a handful of rows), so every
    * engine sees bit-identical rates. Scale shape: one groupBy of the
    * corpus into |sources| scalars, a broadcast of the rate table back
    * onto the scan, and one aggregation of the kept rows — the corpus
    * itself never shuffles. */
  def mixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = Tables.documents(s, dir).groupBy(col("source"))
      .agg(sum(col("n_chars")).as("n_chars_src"))
      .withColumn("w", sqrt(col("n_chars_src").cast("double")))
    val tot = per.agg(
      sum(col("w").cast(DecimalType(28, 8))).cast("double").as("sw"),
      sum(col("n_chars_src")).as("tot_chars"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        round(col("w") / col("sw") * col("tot_chars").cast("double") * 0.5 /
          col("n_chars_src").cast("double"), 6)))
      .select(col("source"), col("rate"))
    Tables.documents(s, dir).join(broadcast(rates), Seq("source"))
      .filter(pmod((col("doc_id") % 999983L) * 2246822519L, lit(10000L)) <
        col("rate") * 10000.0)
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
  }

  val mixtureTemperatureSql: String =
    """WITH per AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_chars_src
      |  FROM documents GROUP BY source),
      |w AS (SELECT source, n_chars_src,
      |    sqrt(CAST(n_chars_src AS DOUBLE)) AS w FROM per),
      |t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DOUBLE) AS sw,
      |    CAST(SUM(n_chars_src) AS BIGINT) AS tot_chars FROM w),
      |r AS (SELECT source, LEAST(1.0,
      |    ROUND(w / sw * CAST(tot_chars AS DOUBLE) * 0.5 /
      |          CAST(n_chars_src AS DOUBLE), 6)) AS rate FROM w, t),
      |kept AS (SELECT d.source, d.n_chars, r.rate
      |  FROM documents d JOIN r ON d.source = r.source
      |  WHERE ((d.doc_id % 999983) * 2246822519) % 10000 < rate * 10000.0)
      |SELECT source, rate, COUNT(*) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
      |FROM kept GROUP BY source, rate""".stripMargin

  // --------------------------------------------------------------- E62
  /** Token-budget curation: keep the highest-quality documents, in
    * corpus-wide quality order, until a token budget (half the corpus)
    * is spent — the "best data under a budget" selection a data-
    * constrained pretraining run makes. The global cumulative sum
    * rides the native [[graft.plans.GlobalRank]] operator's PREFIX-SCAN
    * extension ([[Relational.globalRunningSum]]): the counting pass
    * accumulates per-(partition) value sums alongside counts, so the
    * inclusive running total costs no extra job, no window, and no
    * second shuffle — an unpartitioned `SUM() OVER (ORDER BY …)` would
    * drag the whole corpus through one reducer. Budget and running sum
    * are exact longs; ties in score break on doc_id (total order). */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    // ONE documents pass for the scoring projection (r20): the range
    // exchange's boundary SAMPLING re-evaluates its child in full, so
    // the regex-heavy qualityScore projection previously ran twice
    // (sample + shuffle map side) — the localCheckpoint cut feeds the
    // sampler and the exchange from materialized narrow rows instead.
    // The budget (an exact integer sum over the same rows) rides the
    // checkpoint job as an observe metric, replacing a second full
    // documents scan + crossJoin.
    val obs = org.apache.spark.sql.Observation("token_budget_seed")
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextAnalysis.qualityScore(col("text")).as("score"))
      .withColumn("nscore", -col("score"))
      .observe(obs, expr("sum(n_chars) div 2").as("budget"))
      .localCheckpoint()
    val budget = obs.get("budget").asInstanceOf[Long]
    Relational.globalRunningSum(scored, Nil,
        Seq("nscore", "doc_id"), "n_chars")
      .filter(col("run_sum") <= lit(budget))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_kept"))
  }

  val tokenBudgetSql: String =
    """WITH sc AS (SELECT doc_id, source, n_chars,
      |  ROUND(
      |    0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text))
      |    + 0.3 * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
      |    + 0.2 * (CAST(len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','and','of','to','in','is'], x))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS score
      |  FROM documents),
      |w AS (SELECT source, n_chars,
      |    SUM(n_chars) OVER (ORDER BY score DESC, doc_id ASC
      |                       ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM sc)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
      |FROM w WHERE cum <= (SELECT SUM(n_chars) // 2 FROM documents)
      |GROUP BY source""".stripMargin

  // --------------------------------------------------------------- E63
  /** Per-source KL divergence from the corpus term distribution over
    * the shared top-`vocab` vocabulary — the drift diagnostic that
    * flags a source whose language no longer looks like the mixture
    * (templated spam, wrong-language crawl, synthetic injection).
    * KL(pₛ‖q) = Σ_t pₛ(t)·ln(pₛ(t)/q(t)); terms absent from a source
    * contribute 0 (they simply have no row). p and q are ratios of
    * exact integer counts; each term's component is one double chain
    * pinned to DECIMAL(28,12) before the order-sensitive summation
    * (the D44 discipline — engine libm ln() ULP wobble is absorbed by
    * the final round(6)). Scale shape: counts aggregate with map-side
    * partials; the vocabulary head is a bounded limit that BROADCASTS
    * to the (source, term) aggregate — the corpus never joins or
    * shuffles on raw term occurrences past the first count. */
  def sourceKl(s: SparkSession, dir: String, vocab: Int = 500): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cst = Tables.documents(s, dir)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c_st"))
    val top = cst.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
      .orderBy(col("c_t").desc, col("term").asc).limit(vocab)
    val inVocab = cst.join(broadcast(top), Seq("term"))
    val cs = inVocab.groupBy(col("source")).agg(sum(col("c_st")).as("c_s"))
    val ctot = top.agg(sum(col("c_t")).as("c_tot"))
    inVocab.join(broadcast(cs), Seq("source")).crossJoin(broadcast(ctot))
      .select(col("source"),
        ((col("c_st").cast("double") / col("c_s").cast("double")) *
          log((col("c_st").cast("double") / col("c_s").cast("double")) /
              (col("c_t").cast("double") / col("c_tot").cast("double"))))
          .cast(DecimalType(28, 12)).as("comp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("comp")).cast("double"), 6).as("kl"))
  }

  val sourceKlSql: String =
    """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term
      |           FROM documents),
      |cst AS (SELECT source, term, COUNT(*) AS c_st FROM t
      |  WHERE len(term) > 0 GROUP BY source, term),
      |top AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst
      |  GROUP BY term ORDER BY CAST(SUM(c_st) AS BIGINT) DESC, term ASC LIMIT 500),
      |iv AS (SELECT c.source, c.term, c.c_st, p.c_t
      |  FROM cst c JOIN top p ON c.term = p.term),
      |cs AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS c_s FROM iv GROUP BY source),
      |ct AS (SELECT CAST(SUM(c_t) AS BIGINT) AS c_tot FROM top),
      |comp AS (SELECT iv.source,
      |    CAST((CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) *
      |      ln((CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) /
      |         (CAST(c_t AS DOUBLE) / CAST(c_tot AS DOUBLE))) AS DECIMAL(28,12))
      |      AS comp
      |  FROM iv JOIN cs ON iv.source = cs.source, ct)
      |SELECT source, COUNT(*) AS n_terms,
      |  ROUND(CAST(SUM(comp) AS DOUBLE), 6) AS kl
      |FROM comp GROUP BY source""".stripMargin

  // --------------------------------------------------------------- E70
  /** PageRank over the shared-shingle document graph (the link-quality
    * signal corpus curation borrows from web ranking: a document hub
    * that shares rare passages with many others is boilerplate-central
    * and a dedup/down-weight candidate): nodes = documents, undirected
    * edges = pairs sharing a RARE 5-gram (document frequency 2..10 —
    * the df ceiling bounds the per-gram pair fan-out at 45, so edge
    * generation is O(grams·df²-capped), never all-pairs), three
    * power-iteration steps of r ← 0.15 + 0.85·Σ r(u)/deg(u), unrolled.
    *
    * Determinism: each neighbor contribution r(u)/deg(u) is one IEEE
    * division pinned to DECIMAL(28,12) BEFORE the order-sensitive
    * per-node sum (the D44 discipline), so every iteration is
    * bit-identical across engines, partitionings and both arms below.
    *
    * Scale shape: the edge build (gram explode, rare filter, self-join)
    * is materialized once (`localCheckpoint`). When it holds at most
    * [[PagerankDriverEdges]] edges of integral, non-null ids, the edges
    * are collected in one job and the `iters` rounds run on the driver
    * ([[pagerankOnDriver]]): a rare-gram graph is small next to its
    * corpus, and each distributed round costs a join, a partial
    * aggregate and a planning pass. Larger or other graphs keep the
    * classic distributed PageRank ([[pagerankDistributed]]). */
  def docPagerank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    // 128-bit gram identities from the shared [[GramTable]] pass
    // (per-doc distinct by construction, ≥5-token docs only — the
    // exact membership relation this operator shingled inline before).
    // The oracle builds gram STRINGS — only doc_id/deg/pagerank are
    // compared, so the hash path must merely be collision-free on the
    // corpus, which the string-resolving oracle verifies.
    val grams = GramTable.docGrams(s, dir)
      .select(col("doc_id"), col("h1"), col("h2"))
    val rare = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 10)
    val member = grams.join(rare, Seq("h1", "h2"))
      .select(col("h1"), col("h2"), col("doc_id"))
    // localCheckpoint: the gram-explode + rare-filter + self-join
    // pipeline above feeds the collect or, past the bound, deg AND
    // every unrolled iteration (iters+2 consumers) — without the cut
    // each consumer recomputes the whole edge build
    val edges = member.select(col("h1"), col("h2"), col("doc_id").as("a"))
      .join(member.select(col("h1"), col("h2"), col("doc_id").as("b")), Seq("h1", "h2"))
      .filter(col("a") =!= col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
      .distinct()
      .localCheckpoint()
    pagerank(edges, iters)
      .select(col("doc_id"), col("deg"), round(col("r"), 6).as("pagerank"))
  }

  /** Driver-arm bound of [[docPagerank]]: the edge count (16 MB of long
    * pairs). */
  private[graft] val PagerankDriverEdges: Int = 1 << 20

  /** Unrounded PageRank `(doc_id, deg, r)` over a materialized
    * `(src, dst)` edge frame: on the driver within
    * [[PagerankDriverEdges]] integral, non-null edges, else distributed.
    * Both arms return the same columns, types and nullability. */
  private[graft] def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val e = edges.select(col("src"), col("dst"))
    val integral = e.schema.forall(f => Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(f.dataType))
    val collected = if (!integral) None
      else Some(e.limit(PagerankDriverEdges + 1).collect())
        .filter(rs => rs.length <= PagerankDriverEdges && !rs.exists(_.anyNull))
    collected.map { rs =>
      val ranks = pagerankOnDriver(
        rs.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)), iters)
      // the distributed arm's doc_id is its dst column
      val schema = StructType(Seq(StructField("doc_id", LongType, e.schema("dst").nullable),
        StructField("deg", LongType, nullable = false), StructField("r", DoubleType)))
      edges.sparkSession.createDataFrame(
          java.util.Arrays.asList(ranks.map { case (n, d, r) => Row(n, d, r) }: _*), schema)
        .select(col("doc_id").cast(e.schema("dst").dataType).as("doc_id"), col("deg"), col("r"))
    }.getOrElse(pagerankDistributed(e, iters))
  }

  /** The driver arm of [[pagerank]]: `iters` rounds of
    * r ← 0.15 + 0.85·Σ r(u)/deg(u) over `edges` as a multiset, with the
    * distributed arm's inner-join semantics (round k ranks the `dst`s
    * of edges whose `src` has a rank from round k−1; round 0 ranks
    * every `src` at 1.0). Each contribution is pinned to
    * DECIMAL(28,12) HALF_UP with Spark's own `Decimal`, as `Cast` does,
    * and summed exactly, so every rank is bit-identical to the
    * distributed arm's. Returns (node, deg, r) for the ranked nodes that
    * have out-edges, by node. */
  private[graft] def pagerankOnDriver(edges: Array[(Long, Long)],
                                      iters: Int): Array[(Long, Long, Double)] = {
    import org.apache.spark.sql.types.Decimal
    val deg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var rank: collection.Map[Long, Double] = deg.map { case (n, _) => n -> 1.0 }
    (1 to iters).foreach { _ =>
      val sums = scala.collection.mutable.HashMap.empty[Long, Decimal]
      edges.foreach { case (src, dst) =>
        rank.get(src).foreach { r =>
          val c = Decimal(r / deg(src).toDouble)
          if (!c.changePrecision(28, 12)) throw new ArithmeticException(
            s"pagerank contribution $c overflows DECIMAL(28,12)")
          sums(dst) = sums.get(dst).fold(c)(_ + c)
        }
      }
      rank = sums.map { case (n, sum) => n -> (0.15 + 0.85 * sum.toDouble) }
    }
    rank.keys.filter(deg.contains).toArray.sorted.map(n => (n, deg(n), rank(n)))
  }

  /** The distributed arm of [[pagerank]]: each iteration is one join of
    * the rank vector against the edge list keyed by node plus one
    * partial-aggregated groupBy, unrolled; the edge list shuffles once
    * and is reused. */
  private[graft] def pagerankDistributed(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // deg is consumed iters+1 times, so it is cut too
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // deg rides each edge as an iteration-INVARIANT column (r19): the
    // per-iteration contrib join previously re-joined deg every round —
    // attaching it once removes one join (and deg's exchange) from each
    // of the `iters` unrolled rounds; r/deg is the identical division
    val edgesDeg = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    var rank = deg.select(col("src").as("node"), lit(1.0).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = edgesDeg
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("r") / col("deg").cast("double")).cast(DecimalType(28, 12)).as("c"))
      rank = contrib.groupBy(col("node"))
        .agg((lit(0.15) + lit(0.85) * sum(col("c")).cast("double")).as("r"))
    }
    rank.join(deg.withColumnRenamed("src", "node"), Seq("node"))
      .select(col("node").as("doc_id"), col("deg"), col("r"))
  }

  val docPagerankSql: String = {
    def iter(prev: String, t: String): String =
      s"""$t AS (SELECT dst AS node,
         |    0.15 + 0.85 * CAST(SUM(CAST(r / CAST(deg AS DOUBLE)
         |      AS DECIMAL(28,12))) AS DOUBLE) AS r
         |  FROM e JOIN $prev ON e.src = $prev.node
         |  JOIN deg ON e.src = deg.src
         |  GROUP BY dst)"""
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |           FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(toks) - 3),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
       |           toks[i+3] || ' ' || toks[i+4])) AS gram
       |  FROM d WHERE len(toks) >= 5),
       |rare AS (SELECT gram FROM g GROUP BY gram
       |         HAVING COUNT(*) BETWEEN 2 AND 10),
       |m AS (SELECT g.gram, g.doc_id FROM g JOIN rare USING (gram)),
       |e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM m a JOIN m b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT src AS node, 1.0::DOUBLE AS r FROM deg),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT r3.node AS doc_id, deg.deg AS deg, ROUND(r3.r, 6) AS pagerank
       |FROM r3 JOIN deg ON r3.node = deg.src""".stripMargin
  }

  // --------------------------------------------------------------- E69
  /** Cross-source duplication matrix (the mixture-curation signal
    * behind "crawl B is 40% re-crawl of A — dedup before weighting"):
    * directional 5-gram containment |grams(A)∩grams(B)| / |grams(A)|
    * for every ordered source pair. Gram sets travel as 16-byte
    * double-xxhash keys (dup_ngram_ratio's discipline — no text on the
    * wire; the oracle uses literal grams, pinning the hash path
    * collision-free on this corpus); the pair generator is a
    * gram-keyed self-join whose fan-out is bounded by |sources| per
    * gram, so the exchange is O(distinct grams · sources), never
    * all-pairs-of-documents. Zero-overlap pairs are absent rather than
    * zero rows. At the default gram width the per-source gram sets
    * derive from the shared [[GramTable]] pass (project source +
    * distinct) instead of re-shingling the corpus. */
  def crossSourceDup(s: SparkSession, dir: String, n: Int = GramTable.N): DataFrame = {
    val grams =
      if (n == GramTable.N)
        GramTable.docGrams(s, dir).select(col("source"), col("h1"), col("h2"))
          .distinct()
      else Tables.documents(s, dir)
        .select(col("source"), split(lower(col("text")), " ").as("toks"))
        .select(col("source"), explode(expr(
          s"""CASE WHEN size(toks) >= $n
             |  THEN transform(sequence(0, size(toks) - $n),
             |    i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i+$j]").mkString(", ")}))
             |  ELSE array() END""".stripMargin)).as("gram"))
        .select(col("source"),
          xxhash64(col("gram")).as("h1"), xxhash64(lit(7), col("gram")).as("h2"))
        .distinct()
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val overlap = grams.select(col("source").as("src_a"), col("h1"), col("h2"))
      .join(grams.select(col("source").as("src_b"), col("h1"), col("h2")),
        Seq("h1", "h2"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_overlap"))
    overlap.join(broadcast(sizes.withColumnRenamed("source", "src_a")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_grams").cast("double"), 6)
          .as("containment"))
  }

  val crossSourceDupSql: String =
    """WITH d AS (SELECT source, string_split(lower(text), ' ') AS toks
      |           FROM documents),
      |g AS (SELECT DISTINCT source,
      |    unnest(list_transform(range(1, len(toks) - 3),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4])) AS gram
      |  FROM d WHERE len(toks) >= 5),
      |sz AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
      |ov AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_overlap
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_overlap,
      |  ROUND(CAST(n_overlap AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS containment
      |FROM ov JOIN sz ON ov.src_a = sz.source""".stripMargin

  // --------------------------------------------------------------- E68
  /** Embedding-space cluster diagnostics per label (the health check
    * before trusting ANN/SemDeDup over a space: a collapsed or
    * entangled embedding space silently breaks every downstream
    * similarity operator): per label — member count, COHESION (mean
    * cosine of members to their label centroid) and SEPARATION (max
    * cosine between this centroid and any other, ≈1 = entangled).
    *
    * Determinism: centroid components are exact DECIMAL sums of the
    * members' (float-exact) doubles divided once; per-member cosines
    * are sequential-fold dot products of identical operands, rounded
    * to 6 BEFORE the decimal-pinned mean so the member-sum order
    * cannot move the result; centroid-pair cosines feed an order-free
    * max.
    *
    * Scale shape: the big exchange is (label, dim)-keyed component
    * sums with map-side partials — 10 labels × 64 dims of decimal
    * scalars out; centroids broadcast back onto the scan for the
    * cohesion pass; the separation cross join is |labels|². */
  def embeddingClusterStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def ddot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val comp = e.select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast(DecimalType(28, 12))).as("sv"), count(lit(1)).as("nv"))
      .select(col("label"), col("pos"),
        (col("sv").cast("double") / col("nv").cast("double")).as("c"))
    val centArr = cent.groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
        .as("centroid"))
    val coh = e.join(broadcast(centArr), Seq("label"))
      .select(col("label"),
        round(ddot(col("emb"), col("centroid")) /
          (sqrt(ddot(col("emb"), col("emb"))) *
            sqrt(ddot(col("centroid"), col("centroid")))), 6).as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("cos").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double"), 6).as("cohesion"))
    val a = centArr.select(col("label").as("la"), col("centroid").as("ca"))
    val b = centArr.select(col("label").as("lb"), col("centroid").as("cb"))
    val sep = a.crossJoin(broadcast(b)).filter(col("la") =!= col("lb"))
      .select(col("la").as("label"),
        round(ddot(col("ca"), col("cb")) /
          (sqrt(ddot(col("ca"), col("ca"))) * sqrt(ddot(col("cb"), col("cb")))), 6)
          .as("cc"))
      .groupBy(col("label")).agg(max(col("cc")).as("max_other_cos"))
    coh.join(sep, Seq("label"))
  }

  val embeddingClusterStatsSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |ex AS (SELECT label, unnest(list_transform(range(1, len(emb) + 1),
      |    i -> {'pos': i, 'v': emb[i]})) AS t FROM e),
      |comp AS (SELECT label, t.pos AS pos, t.v AS v FROM ex),
      |cent AS (SELECT label, pos,
      |    CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS c
      |  FROM comp GROUP BY label, pos),
      |ca AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
      |mc AS (SELECT e.label,
      |    ROUND(list_dot_product(e.emb, ca.centroid) /
      |      (sqrt(list_dot_product(e.emb, e.emb)) *
      |       sqrt(list_dot_product(ca.centroid, ca.centroid))), 6) AS cos
      |  FROM e JOIN ca ON e.label = ca.label),
      |coh AS (SELECT label, COUNT(*) AS n_vecs,
      |    ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE), 6) AS cohesion
      |  FROM mc GROUP BY label),
      |sep AS (SELECT a.label,
      |    MAX(ROUND(list_dot_product(a.centroid, b.centroid) /
      |      (sqrt(list_dot_product(a.centroid, a.centroid)) *
      |       sqrt(list_dot_product(b.centroid, b.centroid))), 6)) AS max_other_cos
      |  FROM ca a JOIN ca b ON a.label <> b.label GROUP BY a.label)
      |SELECT label, n_vecs, cohesion, max_other_cos
      |FROM coh JOIN sep USING (label)""".stripMargin

  // --------------------------------------------------------------- E67
  /** Heaps'-law vocabulary-growth curve (the companion diagnostic to
    * E58's Zipf fit: natural text grows vocabulary ≈ K·n^β with
    * β ≈ 0.4-0.6; a flat curve flags templated/duplicated corpora, a
    * near-linear one flags noise): V(n) = distinct terms among the
    * first n tokens of the doc_id-ordered corpus, sampled at 10 evenly
    * spaced checkpoints.
    *
    * The global token position is doc-offset + in-doc position, where
    * the doc offsets come from the native
    * [[Relational.globalRunningSum]] PREFIX SCAN over doc lengths — no
    * window, no single reducer; each term then reduces to its FIRST
    * global position (one vocabulary-keyed hash aggregate carrying an
    * 8-byte position), and the curve is a conditional count of
    * first-positions under each checkpoint. The corpus crosses the
    * wire exactly once (the prefix scan's range exchange); everything
    * downstream is vocabulary-sized. All positions and checkpoints
    * are exact integers. */
  def heapsFit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("l"))
    val off = Relational.globalRunningSum(docs, Nil, Seq("doc_id"), "l")
      .select(col("doc_id"), col("toks"), col("l"),
        (col("run_sum") - col("l")).as("offset"))
    val fp = off.select(col("offset"), posexplode(col("toks")).as(Seq("pos", "term")))
      .select(col("term"), (col("offset") + col("pos") + 1).as("gpos"))
      .groupBy(col("term")).agg(min(col("gpos")).as("first_pos"))
    val n = docs.agg(sum(col("l")).as("n_total"))
    val cps = s.range(1, 11).select(col("id").as("j"))
      .crossJoin(broadcast(n))
      .select(col("j"), expr("CAST((n_total * j) DIV 10 AS LONG)").as("n_at"))
    fp.crossJoin(broadcast(cps))
      .filter(col("first_pos") <= col("n_at"))
      .groupBy(col("j"), col("n_at")).agg(count(lit(1)).as("vocab"))
  }

  val heapsFitSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |o AS (SELECT doc_id, toks, len(toks) AS l,
      |    SUM(len(toks)) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(toks) AS off
      |  FROM d),
      |tk AS (SELECT off, unnest(list_transform(range(1, len(toks) + 1),
      |    i -> {'pos': i, 'term': toks[i]})) AS t FROM o),
      |tok AS (SELECT t.term AS term, off + t.pos AS gpos FROM tk),
      |fp AS (SELECT term, MIN(gpos) AS first_pos FROM tok GROUP BY term),
      |n AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_total FROM d),
      |cp AS (SELECT j, CAST(n_total * j // 10 AS BIGINT) AS n_at
      |  FROM generate_series(1, 10) AS g(j), n)
      |SELECT CAST(j AS BIGINT) AS j, n_at, COUNT(*) AS vocab
      |FROM fp, cp WHERE first_pos <= n_at GROUP BY j, n_at""".stripMargin

  // --------------------------------------------------------------- E64
  /** Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et al.
    * SIGIR'09 — the standard way RAG stacks merge a lexical and a
    * vector arm without score calibration): for each query document,
    * the lexical arm ranks the corpus by distinct-token overlap and
    * the vector arm by embedding cosine; fused score = Σ 1/(60+rank)
    * over the arms that retrieved the doc, top-10 per query reported.
    *
    * Determinism: ranks are integers (both arms tie-break on doc id),
    * so the fused score is one-or-two correctly-rounded IEEE divisions
    * plus one addition of identical operands in both engines.
    *
    * Scale shape: the query set broadcasts to BOTH arms — the corpus
    * never shuffles raw text or vectors; each arm's top-k rides
    * BoundedTopK (map-side pruned heaps, O(queries·k) on the wire) and
    * the fusion join is O(queries·k) × O(queries·k) on (q_id, doc_id).
    */
  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dtok = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("tk"))
    val qtok = dtok.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("tk").as("qtk"))
    val lexScored = dtok.crossJoin(broadcast(qtok))
      .select(col("q_id"), col("doc_id"),
        size(array_intersect(col("qtk"), col("tk"))).cast("long").as("ov"))
      .filter(col("ov") > 0)
    val lex = lexScored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.boundedTopK(
        struct((-col("ov")).as("neg_ov"), col("doc_id")), 20).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rl"))
    val emb = Tables.embeddings(s, dir)
    val vec = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 20)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rn").cast("long").as("rv"))
    val fused = lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("rl").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rv").cast("double")), lit(0.0))).as("rrf"),
        col("rl"), col("rv"))
    fused.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.boundedTopK(
        struct((-col("rrf")).as("neg_rrf"), col("doc_id"), col("rl"), col("rv")), 10).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.doc_id").as("doc_id"),
        round(-col("t.neg_rrf"), 6).as("rrf"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("t.rl").as("lex_rank"), col("t.rv").as("vec_rank"))
  }

  val hybridSearchSql: String =
    """WITH dt AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |q AS (SELECT doc_id AS q_id, tk AS qtk FROM dt WHERE doc_id < 5),
      |lexs AS (SELECT q_id, d.doc_id,
      |    CAST(len(list_intersect(qtk, d.tk)) AS BIGINT) AS ov
      |  FROM q, dt d),
      |lex AS (SELECT q_id, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ov DESC, doc_id ASC) AS rl
      |  FROM lexs WHERE ov > 0 QUALIFY rl <= 20),
      |qe AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 5),
      |ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |vs AS (SELECT q_id, vec_id AS doc_id,
      |    ROUND(list_dot_product(qe, e) /
      |      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6) AS cos
      |  FROM qe, ce),
      |vec AS (SELECT q_id, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id ASC) AS rv
      |  FROM vs QUALIFY rv <= 20),
      |fused AS (SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
      |    COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
      |    COALESCE(1.0 / (60.0 + CAST(rl AS DOUBLE)), 0.0) +
      |    COALESCE(1.0 / (60.0 + CAST(rv AS DOUBLE)), 0.0) AS rrf,
      |    rl, rv
      |  FROM lex FULL OUTER JOIN vec
      |    ON lex.q_id = vec.q_id AND lex.doc_id = vec.doc_id)
      |SELECT q_id, doc_id, ROUND(rrf, 6) AS rrf,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rnk,
      |  rl AS lex_rank, rv AS vec_rank
      |FROM fused QUALIFY rnk <= 10""".stripMargin

  // --------------------------------------------------------------- E65
  /** Adjacent-bigram pointwise mutual information (the collocation
    * detector tokenizer/vocab pipelines run to find multi-word units:
    * high PMI = "los angeles", low PMI = chance co-occurrence):
    * PMI(x,y) = ln(p(xy) / (p(x)·p(y))) with p over exact integer
    * counts. The whole ratio is assembled as ONE exact-integer-valued
    * double fraction — c_xy·N₁·N₁ and N₂·c_x·c_y both stay far below
    * 2^53, so the only inexact ops are the final division and ln, both
    * identical-operand across engines, wobble absorbed by round(6).
    *
    * Scale shape: token and bigram counts are hash aggregates with
    * map-side partials; unigram counts join the (already min-count
    * filtered, vocabulary-sized) bigram table, never the corpus. */
  def ngramPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(split(lower(col("text")), " ").as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n1 = uni.agg(sum(col("c")).as("n1"))
    val bi = toks.select(explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(0, size(toks) - 2),
          |                 i -> struct(toks[i] AS w1, toks[i+1] AS w2))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val n2 = bi.agg(count(lit(1)).as("n2"))
    val cxy = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 10)
    cxy
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y"), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c_xy"),
        round(log(
          (col("c_xy").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
            (col("n2").cast("double") * col("c_x").cast("double") * col("c_y").cast("double"))),
          6).as("pmi"))
  }

  val ngramPmiSql: String =
    """WITH t AS (SELECT string_split(lower(text), ' ') AS toks FROM documents),
      |u AS (SELECT unnest(toks) AS w FROM t),
      |uni AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
      |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n1 FROM uni),
      |b AS (SELECT unnest(list_transform(range(1, len(toks)),
      |        i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM t),
      |bi AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM b),
      |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM bi),
      |cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY w1, w2
      |        HAVING COUNT(*) >= 10)
      |SELECT cxy.w1, cxy.w2, cxy.c_xy,
      |  ROUND(ln((CAST(c_xy AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) /
      |           (CAST(n2 AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))),
      |        6) AS pmi
      |FROM cxy
      |JOIN uni ux ON cxy.w1 = ux.w
      |JOIN uni uy ON cxy.w2 = uy.w, n1, n2""".stripMargin

  // --------------------------------------------------------------- E73
  /** Distributed PCA over the embedding table (whitening / dimension
    * analysis — the preprocessing step under SemDeDup-style pipelines
    * and matryoshka truncation decisions): ONE pass accumulates the
    * (n, Σx, ΣxxT) moments via [[graft.functions.GramMatrixAgg]] — the
    * exchange carries a single ~17 KB moment buffer per partition, the
    * data never shuffles — then the d×d covariance eigenproblem runs
    * driver-side (Jacobi, microseconds at d=64). The heavy direction is
    * the only distributed one; the tiny direction is the only local one.
    *
    * The eigenstructure itself is not ANSI-SQL-recomputable, so the
    * gate reduces it to invariants asserted in-process against the
    * driver-side covariance: eigenvalues descending and ≥ −tol,
    * Σλ = trace(C) (both to relative 1e-9), every residual
    * ‖Cq − λq‖ ≤ 1e-8·‖C‖, rows of Q orthonormal to 1e-8, and the
    * top-k=8 variance share within (0, 1]. The oracle recomputes the
    * scalar facts (n, d, k) and the booleans must all arrive TRUE. */
  def embeddingPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.MatrixAgg
    val k = 8
    val blob = Tables.embeddings(s, dir)
      .agg(MatrixAgg.gramMatrix(col("embedding")).as("g"))
      .head().getAs[Array[Byte]]("g")
    val (n, _, cov) = MatrixAgg.decode(blob)
    val d = cov.length
    val (eig, q) = MatrixAgg.symmetricEigen(cov)
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val covNorm = math.sqrt(cov.map(r => r.map(x => x * x).sum).sum)
    val tol = 1e-8 * math.max(1.0, covNorm)
    val descending = eig.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
      eig.forall(_ >= -tol)
    val traceMatch =
      math.abs(eig.sum - trace) <= 1e-9 * math.max(1.0, math.abs(trace))
    val residualsOk = (0 until d).forall { j =>
      val v = q(j)
      val r = (0 until d).map { i =>
        (0 until d).map(c => cov(i)(c) * v(c)).sum - eig(j) * v(i)
      }
      math.sqrt(r.map(x => x * x).sum) <= tol
    }
    val orthonormal = (0 until d).forall { i =>
      (i until d).forall { j =>
        val dp = (0 until d).map(c => q(i)(c) * q(j)(c)).sum
        math.abs(dp - (if (i == j) 1.0 else 0.0)) <= 1e-8
      }
    }
    val topShare = eig.take(k).sum / eig.sum
    Seq(("embedding_pca", n, d.toLong, k.toLong,
        descending && traceMatch, residualsOk && orthonormal,
        topShare > 0.0 && topShare <= 1.0 + 1e-12))
      .toDF("metric", "n_vectors", "d", "k",
        "spectrum_valid", "eigen_verified", "topk_share_valid")
  }

  val embeddingPcaSql: String =
    """SELECT 'embedding_pca' AS metric,
      |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  CAST(MAX(len(embedding)) AS BIGINT) AS d,
      |  CAST(8 AS BIGINT) AS k,
      |  TRUE AS spectrum_valid, TRUE AS eigen_verified,
      |  TRUE AS topk_share_valid
      |FROM embeddings""".stripMargin

  // --------------------------------------------------------------- E75
  /** Distributed BPE merge-candidate counting — the inner statistic of
    * byte-pair-encoding tokenizer training (its first iteration):
    * adjacent-symbol-pair frequencies over the corpus, weighted by
    * word frequency, top-k candidates ranked (count desc, pair asc).
    *
    * Scale shape: the corpus collapses to the DISTINCT-word vocabulary
    * FIRST (hash aggregate with map-side partials; vocabulary grows
    * sublinearly in corpus size — Heaps' law, see E67), and pair
    * generation then runs over vocab rows only, each emitting
    * `len−1` pairs carrying the word's frequency as weight — exactly
    * how production BPE trainers stay tractable on 100 TB corpora:
    * pair statistics over the word-frequency table, never over raw
    * text. The top-k merges come out via `BoundedTopK` (map-side
    * pruning to ≤ k per partition, O(k) exchange) — no global sort of
    * the pair table. A word of length L contributes every occurrence
    * position ("aaa" counts "aa" twice), matching the BPE count. */
  def bpePairCounts(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val pairs = vocab
      .select(col("freq"), explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).cast("long").as("n"))
    pairs
      .agg(TopKAgg.boundedTopK(
        struct((-col("n")).as("negn"), col("pair")), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("int").as("rk"),
        col("t.pair").as("pair"), (-col("t.negn")).cast("long").as("n"))
  }

  val bpePairCountsSql: String =
    """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS w
      |           FROM documents),
      |v AS (SELECT w, COUNT(*) AS freq FROM t WHERE len(w) >= 2
      |      GROUP BY w),
      |p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
      |        i -> substr(w, i, 2))) AS pair, freq
      |      FROM v),
      |pc AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p
      |       GROUP BY pair),
      |r AS (SELECT pair, n,
      |        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS INTEGER)
      |          AS rk
      |      FROM pc)
      |SELECT rk, pair, n FROM r WHERE rk <= 20""".stripMargin

  // --------------------------------------------------------------- E78
  /** Kneser-Ney smoothed bigram LM training statistics — the classic
    * distributed language-model pipeline (the training half of E17's
    * scoring): interpolated KN with absolute discount D = 0.75,
    * P(w2|w1) = max(c−D,0)/c(w1·) + D·N₁₊(w1·)/c(w1·) · N₁₊(·w2)/N,
    * where the continuation counts N₁₊ are TYPE counts (in how many
    * distinct contexts a word appears), KN's defining idea.
    *
    * Scale shape: the corpus collapses once into the bigram TYPE
    * table (hash aggregate, map-side partials, vocab²-bounded — the
    * same sublinearity BPE training rides in E75); every KN statistic
    * is then an aggregate over TYPES: left counts c(w1·)/N₁₊(w1·) are
    * one w1-keyed rollup, right continuation counts one w2-keyed
    * rollup, N one scalar carried by a broadcast cross join. The
    * reported top-k bigrams exit via BoundedTopK (O(k) exchange) and
    * only k rows ever join the statistics. Counts are exact integers;
    * the one double expression evaluates an identical tree in both
    * engines under round(…,6). Ties rank (count desc, w1, w2). */
  def knBigramLm(s: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val bi = toks
      .select(explode(expr("transform(sequence(1, size(t) - 1)," +
        " i -> named_struct('w1', t[i-1], 'w2', t[i]))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
    val bt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val left = bt.groupBy("w1")
      .agg(sum("c").as("c1dot"), count(lit(1)).as("nfwd"))
    val right = bt.groupBy("w2").agg(count(lit(1)).as("nrev"))
    val nTypes = bt.agg(count(lit(1)).as("n_types"))
    val top = bt
      .agg(TopKAgg.boundedTopK(
        struct((-col("c")).as("negc"), col("w1"), col("w2")), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("int").as("rk"), col("t.w1").as("w1"),
        col("t.w2").as("w2"), (-col("t.negc")).as("c"))
    val d = 0.75
    top.join(left, "w1").join(right, "w2").crossJoin(broadcast(nTypes))
      .select(col("rk"), col("w1"), col("w2"), col("c").cast("long").as("c"),
        round(
          greatest(col("c").cast("double") - lit(d), lit(0.0))
            / col("c1dot").cast("double")
          + (lit(d) * col("nfwd").cast("double") / col("c1dot").cast("double"))
            * (col("nrev").cast("double") / col("n_types").cast("double")), 6)
          .as("p_kn"))
  }

  val knBigramLmSql: String =
    """WITH d AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
      |f AS (SELECT t FROM d WHERE len(t) >= 2),
      |b AS (SELECT
      |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
      |    unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
      |  FROM f),
      |p AS (SELECT w1, w2 FROM b WHERE len(w1) > 0 AND len(w2) > 0),
      |bt AS (SELECT w1, w2, COUNT(*) AS c FROM p GROUP BY w1, w2),
      |l AS (SELECT w1, SUM(c) AS c1dot, COUNT(*) AS nfwd FROM bt GROUP BY w1),
      |r AS (SELECT w2, COUNT(*) AS nrev FROM bt GROUP BY w2),
      |n AS (SELECT COUNT(*) AS n_types FROM bt),
      |tk AS (SELECT w1, w2, c,
      |    CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w1, w2) AS INTEGER) AS rk
      |  FROM bt)
      |SELECT tk.rk, tk.w1, tk.w2, CAST(tk.c AS BIGINT) AS c,
      |  ROUND(GREATEST(CAST(tk.c AS DOUBLE) - 0.75, 0.0)
      |      / CAST(l.c1dot AS DOUBLE)
      |    + (0.75 * CAST(l.nfwd AS DOUBLE) / CAST(l.c1dot AS DOUBLE))
      |      * (CAST(r.nrev AS DOUBLE) / CAST(n.n_types AS DOUBLE)), 6) AS p_kn
      |FROM tk JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
      |WHERE tk.rk <= 30""".stripMargin

  // --------------------------------------------------------------- E79
  /** Longest duplicated-span report — the SPAN-level criterion of
    * substring dedup (Lee et al. 2022 drop any ~50-token span that
    * appears elsewhere in the corpus; E55 reports the per-doc RATIO,
    * this reports the RUN STRUCTURE the span criterion actually
    * needs): per document, the longest run of CONSECUTIVE 5-gram
    * positions whose gram occurs in ≥ 2 distinct documents — a run of
    * R gram starts is a duplicated span of R+4 tokens. Planted: every
    * 10th document's middle third re-enters as its own document, so
    * those pairs must both carry a span ≥ their shared third.
    *
    * Scale shape: gram text never crosses the wire (the E55 16-byte
    * double-xxhash64 key trick; the oracle resolves on exact gram
    * strings so collisions would fail the gate); the doc-frequency
    * filter reduces to duplicated positions BEFORE the window, so the
    * per-doc run detection (gaps-and-islands: pos − row_number) sorts
    * only the duplicated subset, partitioned by doc — never a corpus
    * sort, never a single reducer. */
  def dupSpan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
    val planted = base.filter(col("doc_id") % 10 === 0 && size(col("t")) >= 15)
      .select((col("doc_id") + 20000L).as("doc_id"),
        expr("slice(t, size(t) div 3 + 1, size(t) div 3)").as("t"))
    // gram keys hash the 5 token slots DIRECTLY (r19): the previous
    // form built a concat_ws gram STRING per position only to hash it —
    // pure allocation+copy; tokens contain no spaces, so the multi-arg
    // hash defines the identical equivalence classes. The frame is cut
    // once: it feeds the doc-frequency pass, the duplicated-position
    // join AND the per-doc gram totals — three separately-planned jobs
    // that otherwise each re-run the positional explode.
    val grams = base.unionByName(planted).filter(size(col("t")) >= 5)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, size(t) - 5),
          |  i -> struct(
          |    xxhash64(t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS h1,
          |    xxhash64(7, t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS h2))"""
          .stripMargin)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        col("g.h1").as("h1"), col("g.h2").as("h2"))
      .localCheckpoint()
    val docFreq = grams.select(col("doc_id"), col("h1"), col("h2")).distinct()
      .groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("n_docs"))
    val dup = grams.join(docFreq.filter(col("n_docs") >= 2), Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = dup.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("max_dup_run"))
    grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(runs, Seq("doc_id"), "left")
      .na.fill(0L, Seq("max_dup_run"))
      .select(col("doc_id"), col("n_grams"), col("max_dup_run"),
        when(col("max_dup_run") > 0, col("max_dup_run") + lit(4L))
          .otherwise(lit(0L)).as("dup_token_span"))
      .withColumn("flag_50", col("dup_token_span") >= 50)
  }

  val dupSpanSql: String =
    """WITH d0 AS (SELECT doc_id, string_split(lower(text), ' ') AS t
      |            FROM documents),
      |p AS (SELECT doc_id + 20000 AS doc_id,
      |    t[len(t)//3 + 1 : len(t)//3 + len(t)//3] AS t
      |  FROM d0 WHERE doc_id % 10 = 0 AND len(t) >= 15),
      |c AS (SELECT * FROM d0 UNION ALL SELECT * FROM p),
      |g AS (SELECT doc_id,
      |    unnest(generate_series(0, len(t) - 5)) AS pos,
      |    unnest(list_transform(generate_series(1, len(t) - 4),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
      |           t[i+3] || ' ' || t[i+4])) AS gram
      |  FROM c WHERE len(t) >= 5),
      |dg AS (SELECT DISTINCT doc_id, gram FROM g),
      |f AS (SELECT gram FROM dg GROUP BY gram HAVING COUNT(*) >= 2),
      |dup AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)),
      |runs AS (SELECT doc_id, MAX(run) AS max_dup_run FROM (
      |    SELECT doc_id, grp, COUNT(*) AS run FROM (
      |      SELECT doc_id, pos,
      |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
      |          AS grp
      |      FROM dup) GROUP BY doc_id, grp) GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id)
      |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
      |  CAST(COALESCE(r.max_dup_run, 0) AS BIGINT) AS max_dup_run,
      |  CAST(CASE WHEN COALESCE(r.max_dup_run, 0) > 0
      |    THEN r.max_dup_run + 4 ELSE 0 END AS BIGINT) AS dup_token_span,
      |  (CASE WHEN COALESCE(r.max_dup_run, 0) > 0
      |    THEN r.max_dup_run + 4 ELSE 0 END) >= 50 AS flag_50
      |FROM tot t LEFT JOIN runs r USING (doc_id)""".stripMargin

  // --------------------------------------------------------------- E80
  /** Inverted-index build (the materialized-postings half of the
    * search stack E36's BM25 scores against on the fly): for every
    * term with document frequency in [dfMin, dfMax], the HEAD of its
    * posting list — the [[postingCap]] smallest doc_ids, each with the
    * term's first 1-based position — plus the TRUE df and total
    * occurrence count. dfMin drops hapax/noise terms; dfMax (when the
    * caller sets a finite one) excludes stopword-grade terms BEFORE
    * any per-term work, the E70 rare-gram discipline. The emitted head
    * is bounded WITHOUT an unbounded collect: a per-term rank window
    * runs only over band-surviving terms and keeps rank ≤ cap rows
    * before the posting aggregate ever forms an array — no operator
    * materializes a posting longer than the cap (at real scale the
    * FULL list pages into fixed-size posting BLOCKS keyed
    * (term, block_no): the same plan with rank div cap as the extra
    * group column).
    *
    * Scale shape: tokenize/posexplode is a pure projection; df/occ
    * stats and the capped posting heads are hash aggregates with
    * map-side partials keyed by term; the rank window partitions by
    * term AFTER the df band bounds the partition width; array_sort
    * touches ≤ cap structs per term. */
  val postingCap = 20

  def invertedIndex(s: SparkSession, dir: String,
                    dfMin: Int = 5, dfMax: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
    val perDoc = toks.groupBy(col("term"), col("doc_id"))
      .agg((min(col("pos")) + 1).as("first_pos"), count(lit(1)).as("occ"))
    val stats = perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("occ")).as("n_occ"))
      .filter(col("df") >= dfMin && col("df") <= dfMax)
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val heads = perDoc.join(stats.select(col("term")), Seq("term"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= postingCap)
      .groupBy(col("term"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"),
          col("first_pos")))),
          x => concat_ws(":", x("doc_id"), x("first_pos"))), ",")
        .as("postings"))
    stats.join(heads, Seq("term"))
      .select(col("term"), col("df"), col("n_occ"), col("postings"))
  }

  val invertedIndexSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |           FROM documents),
      |e AS (SELECT doc_id, u.pos AS pos, u.term AS term
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
      |      i -> {'pos': i, 'term': toks[i]})) AS u FROM d)
      |  WHERE len(u.term) > 0),
      |g1 AS (SELECT term, doc_id, MIN(pos) AS first_pos, COUNT(*) AS occ
      |  FROM e GROUP BY term, doc_id),
      |g2 AS (SELECT term, COUNT(*) AS df, CAST(SUM(occ) AS BIGINT) AS n_occ,
      |    array_to_string(
      |      list(CAST(doc_id AS VARCHAR) || ':' || CAST(first_pos AS VARCHAR)
      |           ORDER BY doc_id)[1:20], ',') AS postings
      |  FROM g1 GROUP BY term)
      |SELECT term, df, n_occ, postings FROM g2 WHERE df >= 5""".stripMargin

  // --------------------------------------------------------------- E83
  /** BPE merge-table LEARNING — the loop around E75's single pair
    * count (E75 reports step-0 candidates; this trains the actual
    * merge table byte-pair-encoding tokenizers ship). Classic Sennrich
    * et al. 2016 on the word-frequency table: start from characters,
    * repeatedly (a) count adjacent symbol pairs weighted by word
    * frequency, (b) merge the most frequent pair everywhere, greedy
    * left-to-right (ties broken deterministically: count desc, then
    * left/right lexicographic). Words are restricted to `^[a-z]+$` so
    * the symbol alphabet is closed under the SQL-literal embedding of
    * learned pairs, and Scala's string order is Spark's.
    *
    * Scale shape: the corpus collapses ONCE into the word-frequency
    * vocab (hash agg, map-side partials — the only corpus-sized pass),
    * which is materialized (`localCheckpoint`). The k merge steps then
    * touch the vocab only. Up to [[BpeDriverWords]] words it is
    * collected in one job and the steps run in plain Scala
    * ([[bpeMergesOnDriver]]): a distributed step costs two jobs and two
    * planning passes, far more than counting pairs over a few hundred
    * thousand words. Past the bound the steps stay on executors
    * ([[bpeMergesDistributed]]). */
  def bpeLearn(s: SparkSession, dir: String, steps: Int = 8): DataFrame = {
    import s.implicits._
    val vocab = bpeVocab(s, dir).localCheckpoint()
    val merges = collectVocab(vocab).map(bpeMergesOnDriver(_, steps))
      .getOrElse(bpeMergesDistributed(vocab, steps))
    merges.toDF("step", "merge_left", "merge_right", "pair_count")
  }

  /** Driver-arm bound of [[bpeLearn]]: the vocab's word count. */
  private[graft] val BpeDriverWords: Int = 200000

  /** `vocab`'s (syms, freq) rows when it holds at most
    * [[BpeDriverWords]] words, from one job. */
  private def collectVocab(vocab: DataFrame): Option[Seq[(Seq[String], Long)]] =
    Some(vocab.limit(BpeDriverWords + 1).collect()).filter(_.length <= BpeDriverWords)
      .map(_.toSeq.map(r => (r.getSeq[String](0), r.getLong(1))))

  /** The driver arm of [[bpeLearn]]: up to `steps` merges
    * (step, left, right, count) over a collected `(syms, freq)` vocab. */
  private[graft] def bpeMergesOnDriver(vocab: Seq[(Seq[String], Long)],
                                       steps: Int): Seq[(Int, String, String, Long)] = {
    var words = vocab.map { case (syms, f) => (syms.toList, f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        merges += ((step, l, r, n))
        def merge(syms: List[String]): List[String] = syms match {
          case a :: b :: rest if a == l && b == r => (l + r) :: merge(rest)
          case a :: rest => a :: merge(rest)
          case Nil => Nil
        }
        words = words.map { case (syms, f) => (merge(syms), f) }
        step += 1
      }
    }
    merges.result()
  }

  /** The distributed arm of [[bpeLearn]] over a `(syms, freq)` vocab
    * frame: per step one partial-aggregated pair count (the exchange
    * carries symbol pairs, ≤ vocab·avg_word_len rows), ONE driver row
    * for the argmax (bounded `limit(1)` collect), and a codegen
    * `aggregate()` fold that applies the merge per word — no UDFs, no
    * corpus re-scan, and each step is localCheckpoint-cut so lineage
    * stays flat (the E70 PageRank discipline). */
  private[graft] def bpeMergesDistributed(vocab0: DataFrame,
                                          steps: Int): Seq[(Int, String, String, Long)] = {
    def applyMergeExpr(l: String, r: String): String =
      s"""aggregate(syms,
         |  named_struct('out', cast(array() as array<string>),
         |               'carry', cast(null as string)),
         |  (acc, x) -> CASE
         |    WHEN acc.carry IS NULL
         |      THEN named_struct('out', acc.out, 'carry', x)
         |    WHEN acc.carry = '$l' AND x = '$r'
         |      THEN named_struct('out', array_append(acc.out, '$l$r'),
         |                        'carry', cast(null as string))
         |    ELSE named_struct('out', array_append(acc.out, acc.carry),
         |                      'carry', x) END,
         |  acc -> CASE WHEN acc.carry IS NULL THEN acc.out
         |              ELSE array_append(acc.out, acc.carry) END)""".stripMargin
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    // NOTE (r20, tried and REVERTED): fusing the top-1 job into the
    // merge-application job (broadcast limit(1) subframe + observe
    // metrics, halving the action count per step) measured SLOWER —
    // 1.11→1.58 s bpe_learn, 1.58→1.83 s bpe_learn_gate on same-box
    // subset pairs: the broadcast-built TakeOrdered stage plus the
    // cross join serialized worse than the two small jobs they
    // replaced. The r19 two-job per-step shape stays.
    while (step <= steps && !exhausted) {
      // a word of fewer than two symbols has no pair (and `syms[i + 1]`
      // would index past its end)
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).cast("long").as("n"))
        .orderBy(desc("n"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, l, r, n))
        vocab = vocab
          .select(expr(applyMergeExpr(l, r)).as("syms"), col("freq"))
          .localCheckpoint()
        step += 1
      }
    }
    merges.result()
  }

  /** Character-symbol word-frequency table the BPE loop iterates on. */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(filter(split(col("w"), ""), x => x =!= "").as("syms"),
        col("freq"))

  /** Gate for [[bpeLearn]]: the iterative merge table cannot be
    * expressed in one SQL pass, so (a) the oracle pins STEP 1 exactly
    * (a single argmax over character pairs — SQL-expressible), and
    * (b) the distributed arm's whole k-step table must match the driver
    * arm's step for step over the same vocab (the gate raises past
    * [[BpeDriverWords]] words, where the driver arm has no answer). */
  def bpeLearnGate(s: SparkSession, dir: String, steps: Int = 8): DataFrame = {
    import s.implicits._
    val vocab = bpeVocab(s, dir).localCheckpoint()
    val learned = bpeMergesDistributed(vocab, steps)
    val replayed = bpeMergesOnDriver(collectVocab(vocab).getOrElse(
      throw new IllegalStateException(s"bpe_learn_gate replay vocab > $BpeDriverWords words")),
      steps)
    val matches = learned == replayed
    val s1 = learned.headOption.getOrElse((0, "", "", 0L))
    Seq(("bpe_learn", learned.length.toLong, s1._2, s1._3, s1._4, matches))
      .toDF("metric", "n_steps", "step1_left", "step1_right",
        "step1_count", "replay_match")
  }

  val bpeLearnGateSql: String =
    """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS w
      |           FROM documents),
      |v AS (SELECT w, COUNT(*) AS freq FROM t
      |      WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
      |      GROUP BY w),
      |p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
      |        i -> [substr(w, i, 1), substr(w, i + 1, 1)])) AS pr, freq
      |      FROM v),
      |pc AS (SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS n
      |       FROM p GROUP BY 1, 2)
      |SELECT 'bpe_learn' AS metric, CAST(8 AS BIGINT) AS n_steps,
      |  l AS step1_left, r AS step1_right, n AS step1_count,
      |  TRUE AS replay_match
      |FROM pc ORDER BY n DESC, l ASC, r ASC LIMIT 1""".stripMargin
}
