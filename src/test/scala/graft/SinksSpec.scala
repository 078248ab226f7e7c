package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.Readers

/** Sink-side data-management operators (SURVEY.md §2 C6 + A5c). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Array[File] =
    new File(dir).listFiles((_, n) => n.startsWith("part-") && n.endsWith(".parquet"))

  test("compact rewrites a fragmented dataset into few range-clustered files") {
    val frag = "/tmp/graft_sink/compact_in"
    val out = "/tmp/graft_sink/compact_out"
    val ev = Tables.events(spark, sf)
    // simulate a streaming/daily append mess: many tiny files
    ev.repartition(50).write.mode("overwrite").parquet(frag)
    assert(parquetFiles(frag).length == 50)

    Sinks.compact(spark.read.parquet(frag), out, sortCols = Seq("event_id"),
      targetFileBytes = 256L * 1024)
    val files = parquetFiles(out)
    assert(files.length < 50, s"expected fewer files, got ${files.length}")
    // nothing lost
    assert(spark.read.parquet(out).count() == ev.count())
    // range clustering: per-file event_id ranges don't overlap, so
    // footer min/max stats can eliminate whole files for id filters
    if (files.length > 1) {
      val ranges = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("event_id"), max("event_id")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: $hi > $lo")
      }
    }
  }

  test("zValue interleaves the two dimensions' bits (a even, b odd)") {
    val r = spark.range(1).select(
      Sinks.zValue(lit(3L), lit(0L)),
      Sinks.zValue(lit(0L), lit(3L)),
      Sinks.zValue(lit(0xFFFFL), lit(0L)),
      Sinks.zValue(lit(0xFFFFL), lit(0xFFFFL))).head()
    assert(r.getLong(0) == 0x5L)         // 0b101
    assert(r.getLong(1) == 0xAL)         // 0b1010
    assert(r.getLong(2) == 0x55555555L)
    assert(r.getLong(3) == 0xFFFFFFFFL)
  }

  test("z-ordered write makes BOTH dimensions file-prunable; linear sort only one") {
    val zOut = "/tmp/graft_sink/zorder_out"
    val linOut = "/tmp/graft_sink/zorder_linear"
    val ev = Tables.events(spark, sf).select(col("user_id"), col("value"), col("event_id"))
    Sinks.writeZOrdered(ev, zOut, "user_id", "value", targetFileBytes = 2048L)
    Sinks.compact(ev, linOut, sortCols = Seq("user_id"), targetFileBytes = 2048L)
    assert(spark.read.parquet(zOut).count() == ev.count())
    assert(parquetFiles(zOut).length >= 4, "need several files to show pruning")

    // a file is prunable for a predicate iff its [min,max] footer range
    // lies entirely outside the predicate band
    def prunable(dir: String, dim: String, lo: Double, hi: Double): Int =
      parquetFiles(dir).count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(dim).cast("double")), max(col(dim).cast("double"))).head()
        r.getDouble(1) < lo || r.getDouble(0) > hi
      }
    val vb = ev.agg(min(col("value")), max(col("value"))).head()
    val (vLo, vHi) = (vb.getDouble(0), vb.getDouble(1))
    val band = (vHi - vLo) / 8
    val (qLo, qHi) = (vLo + 3 * band, vLo + 4 * band) // narrow mid-range value band
    // linear user_id sort: every file spans value's full range → 0 prunable
    assert(prunable(linOut, "value", qLo, qHi) == 0)
    // z-layout: the same value predicate skips whole files, and
    // user_id stays prunable too
    assert(prunable(zOut, "value", qLo, qHi) > 0)
    val ub = ev.agg(min(col("user_id")).cast("double"),
      max(col("user_id")).cast("double")).head()
    val uBand = (ub.getDouble(1) - ub.getDouble(0)) / 8
    assert(prunable(zOut, "user_id",
      ub.getDouble(0) + 3 * uBand, ub.getDouble(0) + 4 * uBand) > 0)
  }

  test("quantile-bucketed z-order keeps a heavy-tailed dimension prunable") {
    // 95% of values in [0,1), a 5% tail up to ~1e6: linear min/max
    // bucketing maps the bulk to bucket 0, so z-locality on `value`
    // degenerates; equi-depth buckets keep it separable
    val skew = spark.range(0, 4000).select(
      col("id").as("k"),
      when(col("id") % 20 === 0, col("id") * lit(250.0))
        .otherwise((col("id") % 1000) / lit(1000.0)).as("value"))
    val linOut = "/tmp/graft_sink/zq_lin"
    val qOut = "/tmp/graft_sink/zq_q"
    Sinks.writeZOrdered(skew, linOut, "k", "value", targetFileBytes = 2048L)
    Sinks.writeZOrdered(skew, qOut, "k", "value", targetFileBytes = 2048L,
      quantileBuckets = true)
    assert(spark.read.parquet(qOut).count() == 4000)
    def prunable(dir: String, lo: Double, hi: Double): Int =
      parquetFiles(dir).count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("value")), max(col("value"))).head()
        r.getDouble(1) < lo || r.getDouble(0) > hi
      }
    // a narrow band inside the bulk: equi-depth layout must beat the
    // collapsed linear layout on this dimension
    val (lin, q) = (prunable(linOut, 0.4, 0.45), prunable(qOut, 0.4, 0.45))
    assert(q > lin, s"quantile=$q linear=$lin of ${parquetFiles(qOut).length} files")
  }

  test("jdbcUrl builds the three reference dialects and rejects others") {
    assert(Sinks.jdbcUrl("postgresql", "wh", 5432, "dw") ==
      "jdbc:postgresql://wh:5432/dw")
    assert(Sinks.jdbcUrl("MySQL", "wh", 3306, "dw") == "jdbc:mysql://wh:3306/dw")
    assert(Sinks.jdbcUrl("mssql", "wh", 1433, "dw") ==
      "jdbc:sqlserver://wh:1433;databaseName=dw")
    intercept[IllegalArgumentException](Sinks.jdbcUrl("oracle", "wh", 1521, "dw"))
  }

  test("incremental aggregate maintenance equals a full recompute") {
    val aggPath = "/tmp/graft_sink/agg_maintain"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(aggPath))
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), dayofmonth(col("ts")).as("dom"))
    // feed three "days" incrementally
    Seq(1 to 10, 11 to 20, 21 to 31).foreach { days =>
      val inc = ev.filter(col("dom").isin(days.map(Integer.valueOf): _*))
        .withColumn("n", lit(1L)).select(col("event_type"), col("n"), col("value"))
      Sinks.maintainAggregate(inc, aggPath,
        keyCols = Seq("event_type"), sumCols = Seq("n", "value"))
    }
    val got = spark.read.parquet(aggPath)
      .select(col("event_type"), col("n"), round(col("value"), 6).as("value"))
      .as[(String, Long, Double)].collect().map { case (k, n, v) => k -> ((n, v)) }.toMap
    val exp = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("value"))
      .as[(String, Long, Double)].collect().map { case (k, n, v) => k -> ((n, v)) }.toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, (n, v)) =>
      assert(n == exp(k)._1, s"$k count")
      assert(math.abs(v - exp(k)._2) < 1e-4, s"$k sum") // float fold order differs
    }
  }

  test("idempotent daily load: rerunning one day touches only that partition") {
    val path = "/tmp/graft_sink/idempotent"
    val day1 = Seq((1L, "2024-01-15"), (2L, "2024-01-15")).toDF("id", "day")
    val day2 = Seq((3L, "2024-01-16")).toDF("id", "day")
    Sinks.writeParquetIdempotent(day1.union(day2), path, Seq("day"))
    assert(spark.read.parquet(path).count() == 3)
    // reprocess day 2 with corrected data → day 1 untouched, no dupes
    val day2fix = Seq((30L, "2024-01-16"), (31L, "2024-01-16")).toDF("id", "day")
    Sinks.writeParquetIdempotent(day2fix, path, Seq("day"))
    val after = spark.read.parquet(path).select("id").as[Long].collect().sorted
    assert(after.toSeq == Seq(1L, 2L, 30L, 31L))
  }

  test("processDay audits the row count from the sink pass (observe, no extra scan)") {
    val drop = EtlStage.stageEventsCsv(spark, sf)
    val out = "/tmp/graft_sink/day_observed"
    // any staged date works; take one from the drop dir
    val date = new File(drop).list().filter(_.startsWith("events_"))
      .map(_.stripPrefix("events_").take(10)).sorted.head
    val entry = EtlPipeline.processDay(spark, drop, date,
      sink = df => df.write.mode("overwrite").parquet(out)).get
    val written = spark.read.parquet(out).count()
    val expected = Tables.events(spark, sf)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === date).count()
    assert(entry.total_row_count == written)
    assert(written == expected && expected > 0)
  }

  test("a second processDay on a new date compiles no codegen class") {
    val drop = EtlStage.stageEventsCsv(spark, sf)
    val dates = new File(drop).list().filter(_.startsWith("events_"))
      .map(_.stripPrefix("events_").take(10)).distinct.sorted
    assert(dates.length >= 2)
    val noop: org.apache.spark.sql.DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()
    assert(EtlPipeline.processDay(spark, drop, dates(0), noop).isDefined)
    val before = org.apache.spark.graftspec.SpecBridge.codegenClasses()
    assert(EtlPipeline.processDay(spark, drop, dates(1), noop).isDefined)
    val compiled = org.apache.spark.graftspec.SpecBridge.codegenClasses() - before
    assert(compiled == 0, s"day ${dates(1)} compiled $compiled classes after day ${dates(0)}")
  }

  test("writeJdbc coalesces a frame with more partitions than numPartitions and loads every row") {
    val url = "jdbc:derby:memory:graft_coalesce;create=true"
    val cfg = Sinks.JdbcConfig(url, "wide", "app", "app", numPartitions = 2, batchSize = 100)
    val df = spark.range(0, 500, 1, numPartitions = 7).toDF("id")
    assert(df.rdd.getNumPartitions > cfg.numPartitions)
    Sinks.writeJdbc(df, cfg, overwrite = true)
    val back = Readers.jdbc(spark, url, "wide", "app", "app")
    assert(back.count() == 500)
    assert(back.select("id").as[Long].collect().sorted.toSeq == (0L until 500L))
  }

  test("upsertParquet merges on key: updates win, new keys append, others survive") {
    val path = "/tmp/graft_sink/upsert"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "name", "v")
    Sinks.upsertParquet(base, path, Seq("k"))
    // update key 2, insert key 4
    val delta = Seq((2L, "b2", 21), (4L, "d", 40)).toDF("k", "name", "v")
    Sinks.upsertParquet(delta, path, Seq("k"))
    val rows = spark.read.parquet(path).orderBy("k")
      .as[(Long, String, Int)].collect().toSeq
    assert(rows == Seq((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (4L, "d", 40)))
  }

  test("data-quality gate counts violations in one pass") {
    import graft.operators.DataQuality
    val df = Seq(
      (1L, Some(5.0), "F"), (2L, Some(-1.0), "O"),
      (2L, None, "X"), (3L, Some(2.0), "F")
    ).toDF("k", "price", "status")
    val rep = DataQuality.report(df, Seq(
        DataQuality.expectNonNull("price"),
        DataQuality.expectBetween("price", 0.0, 100.0),
        DataQuality.expectIn("status", Seq("F", "O"))),
      uniqueKey = Some("k"))
      .as[(String, Long)].collect().toMap
    assert(rep == Map(
      "non_null_price" -> 1L,   // the None
      "range_price" -> 2L,      // -1.0 and the null
      "domain_status" -> 1L,    // X
      "unique_k" -> 1L))        // k=2 twice
  }

  test("exactly-once JDBC load publishes transactionally and ignores replays") {
    val url = "jdbc:derby:memory:graft_eo;create=true"
    val cfg = Sinks.JdbcConfig(url, "target", "app", "app",
      numPartitions = 1, batchSize = 100)
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Sinks.writeJdbc(d1.limit(0), cfg, overwrite = true) // create empty target
    assert(Sinks.writeJdbcExactlyOnce(d1, cfg, batchId = 1L))
    // a replay of the same batch is a no-op, not a duplicate load
    assert(!Sinks.writeJdbcExactlyOnce(d1, cfg, batchId = 1L))
    val d2 = Seq((3L, "c")).toDF("id", "name")
    assert(Sinks.writeJdbcExactlyOnce(d2, cfg, batchId = 2L))
    val rows = graft.sources.Readers.jdbc(spark, url, "target", "app", "app")
    assert(rows.count() == 3)
    assert(rows.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("exactly-once survives a crash between staging write and publish") {
    val url = "jdbc:derby:memory:graft_eo_crash;create=true"
    val cfg = Sinks.JdbcConfig(url, "target", "app", "app",
      numPartitions = 1, batchSize = 100)
    val d = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Sinks.writeJdbc(d.limit(0), cfg, overwrite = true) // create empty target

    // crash scenario 1: the run died AFTER the staging write but BEFORE
    // the publish transaction — staging exists, audit has no row
    Sinks.writeJdbc(d, cfg.copy(table = "target_stage_7"), overwrite = true)
    // the retry must publish exactly once (staging is rebuilt, then the
    // one transactional INSERT..SELECT runs)
    assert(Sinks.writeJdbcExactlyOnce(d, cfg, batchId = 7L))
    val afterRetry = graft.sources.Readers.jdbc(spark, url, "target", "app", "app")
    assert(afterRetry.count() == 2)

    // crash scenario 2: the run died AFTER the publish commit but
    // BEFORE the staging drop — audit row exists, stale staging around
    Sinks.writeJdbc(d, cfg.copy(table = "target_stage_7"), overwrite = true)
    // replay is audit-gated: returns false, loads nothing
    assert(!Sinks.writeJdbcExactlyOnce(d, cfg, batchId = 7L))
    val afterReplay = graft.sources.Readers.jdbc(spark, url, "target", "app", "app")
    assert(afterReplay.count() == 2)
    assert(afterReplay.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("write-audit-publish: atomic replace on success, untouched on audit failure") {
    val staging = "/tmp/graft_sink/wap/staging"
    val publish = "/tmp/graft_sink/wap/published"
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
    val m1 = Sinks.writeAuditPublish(v1, staging, publish, keyCol = "id").head()
    assert(m1.getAs[Long]("row_count") == 3L)
    assert(m1.getAs[Boolean]("published"))
    // staging renamed away, data readable at publish, manifest hidden from scans
    assert(!new File(staging).exists())
    assert(spark.read.parquet(publish).count() == 3L)
    assert(new File(publish, "_MANIFEST.json").exists())

    // failed audit: staging stays for inspection, v1 stays published
    val empty = v1.filter(col("id") < 0L)
    intercept[IllegalArgumentException] {
      Sinks.writeAuditPublish(empty, staging, publish, keyCol = "id")
    }
    assert(new File(staging).exists(), "staging must survive a failed audit")
    assert(spark.read.parquet(publish).count() == 3L,
      "published version must be untouched by a failed audit")

    // a second successful publish atomically replaces the first
    val v2 = v1.union(Seq((4L, "d")).toDF("id", "payload"))
    val m2 = Sinks.writeAuditPublish(v2, staging, publish, keyCol = "id").head()
    assert(m2.getAs[Long]("row_count") == 4L)
    assert(spark.read.parquet(publish).count() == 4L)
    assert(m2.getAs[Long]("checksum") != m1.getAs[Long]("checksum"))
  }

  test("mergeSchema read null-pads columns added over time") {
    val v1 = "/tmp/graft_sink/evolve/day=1"
    val v2 = "/tmp/graft_sink/evolve/day=2"
    Seq((1L, "a")).toDF("id", "payload").write.mode("overwrite").parquet(v1)
    Seq((2L, "b", 0.5)).toDF("id", "payload", "score").write.mode("overwrite").parquet(v2)
    val merged = Readers.parquetMergedSchema(spark, v1, v2)
    assert(merged.columns.toSet == Set("id", "payload", "score"))
    val rows = merged.orderBy("id")
      .select("id", "score").as[(Long, Option[Double])].collect()
    assert(rows.toSeq == Seq((1L, None), (2L, Some(0.5))))
  }

  test("purgeKeys: removes only the keys, rewrites only affected partitions") {
    val table = java.nio.file.Files.createTempDirectory("graft_purge").toString + "/t"
    val df = Seq(
      (1L, "a", 10), (2L, "a", 11), (3L, "a", 12),
      (1L, "b", 20), (4L, "b", 21),
      (5L, "c", 30), (6L, "c", 31)).toDF("k", "p", "v")
    Sinks.writeParquet(df, table, partitionBy = Seq("p"))
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(table + "/p=" + p))
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    val cBefore = files("c")
    val audit = Sinks.purgeKeys(spark, table, "k", Seq(1L), "p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(audit.map(t => t._1 -> t._3).toMap == Map("a" -> 1L, "b" -> 1L))
    assert(audit.map(t => t._1 -> t._2).toMap == Map("a" -> 3L, "b" -> 2L))
    assert(Sinks.purgeKeys(spark, table, "k", Seq(99L), "p").count() == 0) // no-op
    val back = spark.read.parquet(table)
    assert(back.filter(col("k") === 1L).count() == 0)
    assert(back.count() == 5)
    // partition c never held k=1 -> its files are byte-identical
    assert(files("c") == cBefore, "untouched partition was rewritten")
  }

  test("versionedPublish: pointer flips, old versions readable, retention GCs") {
    val table = java.nio.file.Files.createTempDirectory("graft_vtable").toString + "/t"
    assert(Sinks.latestVersion(spark, table).isEmpty)
    intercept[IllegalArgumentException](Sinks.readVersion(spark, table))
    (1 to 5).foreach { i =>
      val df = spark.range(i * 10).toDF("id")
      assert(Sinks.versionedPublish(df, table, retain = 3) == i)
    }
    assert(Sinks.latestVersion(spark, table).contains(5))
    assert(Sinks.readVersion(spark, table).count() == 50)
    // versions 3..5 retained and time-travel readable
    assert(Sinks.readVersion(spark, table, 3).count() == 30)
    assert(Sinks.readVersion(spark, table, 4).count() == 40)
    // versions 1..2 garbage-collected
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table + "/v_1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table + "/v_2")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(table + "/v_3")))
    // the pointer flip is delete-then-rename: a reader landing in the
    // no-pointer window must still resolve (max committed v_N on disk),
    // and a leftover staging dir must never be taken for a version
    fs.delete(new org.apache.hadoop.fs.Path(table + "/_LATEST"), false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(table + "/v_9._staging"))
    assert(Sinks.latestVersion(spark, table).contains(5))
    assert(Sinks.readVersion(spark, table).count() == 50)
  }
}
