package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashExprs, RunParam, VectorExprs}

/** Unit tests for the custom codegen expressions: each is checked
  * against an independent Scala (or declarative-SQL) reimplementation
  * of the same math. */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  test("RunParam returns the same rows compiled and interpreted, and a new value compiles nothing") {
    def query(ts: java.sql.Timestamp, d: java.sql.Date, n: Long, str: String) =
      spark.range(0, 5).select(col("id"),
        RunParam.of(ts).as("ts"), RunParam.of(d).as("d"),
        RunParam.of(n).as("n"), RunParam.of(str).as("s"),
        (RunParam.of(n) + col("id")).as("n_plus"),
        date_add(RunParam.of(d), col("id").cast("int")).as("d_plus"),
        concat(RunParam.of(str), col("id").cast("string")).as("s_plus"),
        (RunParam.of(ts) > lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).as("ts_gt"))
    def rows(mode: String, wholeStage: Boolean, ts: java.sql.Timestamp,
             d: java.sql.Date, n: Long, str: String) = {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), wholeStage.toString)
      try query(ts, d, n, str).collect().map(_.toSeq).toSeq
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val ts = java.sql.Timestamp.valueOf("2024-01-15 10:11:12.123456")
    val d = java.sql.Date.valueOf("2024-01-15")
    val compiled = rows("CODEGEN_ONLY", wholeStage = true, ts, d, 42L, "day-")
    val interpreted = rows("NO_CODEGEN", wholeStage = false, ts, d, 42L, "day-")
    assert(compiled == interpreted)
    assert(compiled.map(_.take(5)) == (0L until 5L).map(i => Seq(i, ts, d, 42L, "day-")))
    assert(compiled(4).slice(5, 9) == Seq(46L, java.sql.Date.valueOf("2024-01-19"), "day-4", true))
    // the values are not in the generated source: new ones reuse its classes
    val before = org.apache.spark.graftspec.SpecBridge.codegenClasses()
    val next = rows("CODEGEN_ONLY", wholeStage = true,
      java.sql.Timestamp.valueOf("2023-12-31 23:59:59"), java.sql.Date.valueOf("2024-02-29"),
      -7L, "other-")
    assert(org.apache.spark.graftspec.SpecBridge.codegenClasses() == before)
    assert(next(1).slice(5, 9) == Seq(-6L, java.sql.Date.valueOf("2024-03-01"), "other-1", false))
  }

  test("FloatVecDot matches order-preserving Scala accumulation") {
    val a = Array(1.5f, -2.25f, 3.125f, 0.001f)
    val b = Array(4.0f, 0.5f, -1.75f, 1000f)
    val expected = (a, b).zipped.map((x, y) => x.toDouble * y.toDouble).sum
    val got = Seq((a, b)).toDF("a", "b")
      .select(VectorExprs.floatDot(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(got == expected)
  }

  test("FloatVecDot is null on length mismatch and null element") {
    val df = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)),
    ).toDF("a", "b").select(VectorExprs.floatDot(col("a"), col("b")).as("d"))
    assert(df.head().isNullAt(0))
  }

  test("FloatVecDot agrees with declarative zip_with/aggregate form") {
    val vecs = Tables.embeddings(spark, sf).limit(50)
      .select(col("embedding").as("a"), col("embedding").as("b"))
    val both = vecs.select(
      VectorExprs.floatDot(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("HyperplaneBucket fails fast on dim mismatch") {
    val planes = operators.Similarity.hyperplanes(4, 8)
    val df = Seq(Tuple1(Array(1f, 2f))).toDF("v")
      .select(VectorExprs.hyperplaneBucket(col("v"), planes))
    val e = intercept[Exception](df.head())
    assert(e.getMessage.contains("dim") ||
      Option(e.getCause).exists(_.getMessage.contains("dim")))
  }

  test("HyperplaneBucket: identical vectors share a bucket, deterministic") {
    val planes = operators.Similarity.hyperplanes(16, 4)
    val df = Seq(
      (1L, Array(1f, 2f, 3f, 4f)),
      (2L, Array(1f, 2f, 3f, 4f)),
      (3L, Array(-1f, -2f, -3f, -4f))).toDF("id", "v")
      .select(col("id"), VectorExprs.hyperplaneBucket(col("v"), planes).as("b"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L)) // antipodal vector flips every nonzero bit
  }

  test("MinHashBandKeys: equal sets → equal keys; near sets share ≥1 band; disjoint share none") {
    val doc = (1 to 60).map(i => s"tok$i").toArray
    val near = doc.dropRight(1) :+ "zzz" // high overlap
    val far = (1 to 60).map(i => s"other$i").toArray
    val df = Seq((1L, doc), (2L, doc), (3L, near), (4L, far)).toDF("id", "sh")
      .select(col("id"), HashExprs.minhashBandKeys(col("sh"), 32, 4).as("keys"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L).zip(m(3L)).exists { case (x, y) => x == y })
    assert(!m(1L).zip(m(4L)).exists { case (x, y) => x == y })
  }

  test("SimHash64 matches the declarative per-bit voting form") {
    val docs = Tables.documents(spark, sf).limit(100)
    val both = docs.select(
      operators.Dedup.simhash("text").as("fast"),
      expr(
        """aggregate(
          |  transform(sequence(0, 63), j -> IF(
          |    aggregate(array_distinct(split(text, ' ')), 0L,
          |      (acc, t) -> acc + IF(((xxhash64(t) >> j) & 1) = 1, 1L, -1L)) > 0,
          |    shiftleft(1L, j), 0L)),
          |  0L, (acc, b) -> acc | b)""".stripMargin).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("each custom expression compiles when inlined twice in one scope") {
    // regression: fixed codegen locals made janino reject any stage
    // that inlined the same expression twice (filter + projection),
    // silently falling back to interpreted eval. GeneratePredicate
    // throws on compile failure instead of falling back.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
    import org.apache.spark.sql.types._
    val fvec = BoundReference(0, ArrayType(FloatType), nullable = true)
    val toks = BoundReference(1, ArrayType(StringType), nullable = true)
    val dot = graft.functions.FloatVecDot(fvec, fvec)
    GeneratePredicate.generate(And(
      GreaterThan(dot, Literal(0.0)), LessThan(dot, Literal(1.0))))
    val sh = graft.functions.SimHash64(toks)
    GeneratePredicate.generate(And(
      GreaterThan(sh, Literal(0L)), LessThan(sh, Literal(Long.MaxValue))))
    val planes = operators.Similarity.hyperplanes(4, 8)
    val hb = graft.functions.HyperplaneBucket(fvec, planes)
    GeneratePredicate.generate(And(
      GreaterThanOrEqual(hb, Literal(0L)), LessThan(hb, Literal(16L))))
    val mk = graft.functions.MinHashBandKeys(toks, 4, 2)
    GeneratePredicate.generate(And(
      GreaterThan(Size(mk), Literal(0)), LessThan(Size(mk), Literal(100))))
  }

  test("BoundedTopK keeps the k smallest under struct order, survives merge splits") {
    import graft.functions.TopKAgg
    // many partitions force real partial/merge/serialize round-trips
    val df = spark.range(0, 1000).repartition(13)
      .selectExpr("id % 7 AS key", "CAST((id * 37) % 1000 AS DOUBLE) AS v", "id")
    val got = df.groupBy(col("key"))
      .agg(TopKAgg.boundedTopK(struct(col("v"), col("id")), 5).as("top"))
      .select(col("key"), explode(col("top")).as("t"))
      .select(col("key"), col("t.v"), col("t.id"))
      .as[(Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toList).toMap
    val expected = (0L until 1000L).map(id => (id % 7, ((id * 37) % 1000).toDouble, id))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sorted.take(5).toList).toMap
    assert(got == expected)
  }

  test("RollingHash matches a direct Scala polynomial hash") {
    val s = "hello world"
    val expected = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val got = Seq(s).toDF("t")
      .select(graft.functions.RollingHash.rollingHash(col("t"))).head().getLong(0)
    assert(got == expected)
  }

  test("bounded_top_k is SQL-callable and matches the Column API") {
    graft.functions.GraftFunctions.register(spark)
    spark.range(0, 500).selectExpr("id % 5 AS k", "CAST((id * 13) % 97 AS DOUBLE) AS v")
      .createOrReplaceTempView("btk_t")
    val got = spark.sql(
      "SELECT k, bounded_top_k(v, 3) AS top FROM btk_t GROUP BY k")
      .select(col("k"), explode(col("top")).as("v"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toList).toMap
    val exp = (0L until 500L).map(id => (id % 5, ((id * 13) % 97).toDouble))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(3).toList).toMap
    assert(got == exp)
  }

  test("UnicodeNormalize canonicalizes forms; stripAccents drops marks; SQL form registered") {
    import graft.functions.UnicodeExprs.{normalizeUnicode, stripAccents}
    val decomposed = "cafe\u0301 Mu\u0308nchen" // e+ACUTE, u+DIAERESIS
    val composed = "caf\u00e9 M\u00fcnchen"
    val r = Seq(decomposed).toDF("t").select(
      normalizeUnicode(col("t"), "NFC").as("nfc"),
      normalizeUnicode(col("t"), "NFD").as("nfd"),
      stripAccents(col("t")).as("ascii")).head()
    assert(r.getString(0) == composed)
    assert(r.getString(1) == decomposed) // already fully decomposed
    assert(r.getString(2) == "cafe Munchen")
    // nulls pass through the generated null check
    val n = Seq(Option.empty[String]).toDF("t")
      .select(normalizeUnicode(col("t"), "NFC")).head()
    assert(n.isNullAt(0))
    // SQL registration
    graft.functions.GraftFunctions.register(spark)
    val viaSql = Seq(decomposed).toDF("t").createOrReplaceTempView("u_t")
    assert(spark.sql("SELECT unicode_normalize(t, 'NFC') FROM u_t")
      .head().getString(0) == composed)
    // invalid form fails fast at construction
    intercept[IllegalArgumentException](normalizeUnicode(col("t"), "NFX"))
  }

  test("deflate_ratio: repetitive text compresses far below varied text; deterministic") {
    import spark.implicits._
    import graft.functions.CompressExprs.deflateRatio
    val rep = ("spam " * 200).trim
    val varied = (0 until 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val r = Seq((rep, varied)).toDF("a", "b")
      .select(deflateRatio(col("a")).as("ra"), deflateRatio(col("b")).as("rb"))
      .head()
    assert(r.getDouble(0) < 0.1, s"repetitive ratio ${r.getDouble(0)}")
    assert(r.getDouble(1) > r.getDouble(0) * 3,
      s"no separation: ${r.getDouble(1)} vs ${r.getDouble(0)}")
    // deterministic across evaluations
    val again = Seq(rep).toDF("a").select(deflateRatio(col("a"))).head().getDouble(0)
    assert(again == r.getDouble(0))
    // empty → 1.0, null passes through
    val edge = Seq(("", Option.empty[String])).toDF("e", "n")
      .select(deflateRatio(col("e")), deflateRatio(col("n"))).head()
    assert(edge.getDouble(0) == 1.0)
    assert(edge.isNullAt(1))
    // SQL registration
    graft.functions.GraftFunctions.register(spark)
    Seq(rep).toDF("t").createOrReplaceTempView("dr_t")
    assert(spark.sql("SELECT deflate_ratio(t) FROM dr_t")
      .head().getDouble(0) == r.getDouble(0))
  }
}
