package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** File + JDBC sinks (SURVEY.md §2 C1/C2).
  *
  * The reference loads pandas chunks into PostgreSQL with
  * `to_sql(chunksize=1000, method='multi')`
  * (reference: etl_pipeline.py:485-517). Spark's JDBC writer is the
  * distributed equivalent: each of `numPartitions` tasks streams its
  * partition as re-written batched INSERTs, so throughput scales with
  * executors instead of a single driver connection.
  */
object Sinks {

  final case class JdbcConfig(
      url: String,
      table: String,
      user: String,
      password: String,
      numPartitions: Int = 8,
      batchSize: Int = 10000)

  /** JDBC URL builder — the reference's `create_db_engine` dialect
    * dispatch (etl_pipeline.py:566-573: postgresql / mysql / mssql),
    * re-expressed as the matching JDBC URL shapes. The reader and sink
    * are URL-generic; this is the convenience the reference exposed
    * for assembling that URL from discrete parts. Unknown dialects
    * fail fast, like the reference's ValueError. */
  def jdbcUrl(dbType: String, host: String, port: Int, database: String): String =
    dbType.toLowerCase match {
      case "postgresql" | "postgres" => s"jdbc:postgresql://$host:$port/$database"
      case "mysql"                   => s"jdbc:mysql://$host:$port/$database"
      case "mssql" | "sqlserver"     => s"jdbc:sqlserver://$host:$port;databaseName=$database"
      case other => throw new IllegalArgumentException(
        s"Unsupported database type: $other")
    }

  /** Option map for the Spark JDBC writer (testable without a DB). */
  def jdbcWriteOptions(cfg: JdbcConfig): Map[String, String] = Map(
    "url" -> cfg.url,
    "dbtable" -> cfg.table,
    "user" -> cfg.user,
    "password" -> cfg.password,
    "batchsize" -> cfg.batchSize.toString,
    "isolationLevel" -> "READ_COMMITTED",
    // PostgreSQL driver flag: collapse row-by-row INSERTs into real
    // multi-row batches — the analogue of pandas method='multi'.
    "reWriteBatchedInserts" -> "true")

  /** Chunked create-or-append load (reference: etl_pipeline.py:500-515
    * `if_exists='append'|'replace'`). */
  def writeJdbc(df: DataFrame, cfg: JdbcConfig, overwrite: Boolean = false): Unit =
    // no partition-count guard: a coalesce without a shuffle never raises
    // the count, and reading it through `df.rdd` would, under AQE, run the
    // input's shuffle map stages as a job of their own before the write
    df.coalesce(cfg.numPartitions).write.format("jdbc")
      .options(jdbcWriteOptions(cfg))
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .save()

  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil,
                   overwrite: Boolean = true): Unit = {
    val w = df.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, overwrite: Boolean = true): Unit =
    df.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .options(graft.sources.Readers.csvOptions)
      .csv(path)

  /** Idempotent daily load (C7): dynamic partition overwrite — a rerun
    * of one day replaces ONLY that day's partition and leaves every
    * other day untouched, which is what the reference's
    * `if_exists='append'` could not give it (reprocessing a day
    * duplicated rows; reference: etl_pipeline.py:500-515). Static
    * overwrite mode would instead truncate the whole table. */
  def writeParquetIdempotent(df: DataFrame, path: String,
                             partitionBy: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionBy: _*).parquet(path)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  /** Exactly-once JDBC load (C11): Spark's JDBC writer commits per
    * task, so a mid-job failure leaves a partial table. Standard
    * warehouse fix: write the batch to a STAGING table (full job must
    * succeed), then publish with a single transactional
    * INSERT...SELECT + audit-mark in ONE driver-side transaction; a
    * rerun of the same batchId is a no-op. The data volume still
    * flows through the distributed writer — only the publish step
    * (metadata-sized) runs on the driver connection. */
  def writeJdbcExactlyOnce(df: DataFrame, cfg: JdbcConfig, batchId: Long,
                           auditTable: String = "load_audit"): Boolean = {
    import java.sql.DriverManager
    val staging = s"${cfg.table}_stage_$batchId"
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
      try f(c) finally c.close()
    }
    withConn { c =>
      val st = c.createStatement()
      try st.execute(
        s"CREATE TABLE $auditTable (batch_id BIGINT PRIMARY KEY, n_rows BIGINT)")
      catch { case _: java.sql.SQLException => () } // already exists
      finally st.close()
    }
    val already = withConn { c =>
      val ps = c.prepareStatement(s"SELECT 1 FROM $auditTable WHERE batch_id = ?")
      ps.setLong(1, batchId)
      try ps.executeQuery().next() finally ps.close()
    }
    if (already) return false // idempotent replay: batch was published

    writeJdbc(df, cfg.copy(table = staging), overwrite = true)
    val published = withConn { c =>
      c.setAutoCommit(false)
      try {
        val st = c.createStatement()
        val n = st.executeUpdate(s"INSERT INTO ${cfg.table} SELECT * FROM $staging")
        val ps = c.prepareStatement(s"INSERT INTO $auditTable VALUES (?, ?)")
        ps.setLong(1, batchId); ps.setLong(2, n.toLong)
        ps.executeUpdate()
        c.commit()
        st.close(); ps.close()
        true
      } catch { case e: Throwable => c.rollback(); throw e }
    }
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $staging") finally st.close()
    }
    published
  }

  /** Upsert / merge into a parquet dataset (C9): keep every existing
    * row whose key is absent from `updates` (one anti join), union the
    * updates, and atomically swap directories — SCD-1 semantics
    * without a table format. The anti join broadcasts `updates` when
    * it's small (the common case: a daily delta against a big base).
    * The rewrite cost is the whole dataset — on a real deployment
    * partition the base and merge only affected partitions (see
    * [[writeParquetIdempotent]]). */
  def upsertParquet(updates: DataFrame, path: String, keyCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = updates.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(new Path(path))) updates
      else spark.read.parquet(path)
        .join(updates.select(keyCols.map(org.apache.spark.sql.functions.col): _*),
          keyCols, "left_anti")
        .unionByName(updates)
    // the source is part of the write's lineage — stage to a sibling
    // dir, then swap (rename is atomic per directory on HDFS-likes)
    val tmp = new Path(path + "_graft_upsert_tmp")
    val dst = new Path(path)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"upsert swap failed: $tmp -> $dst")
  }

  /** Incremental aggregate maintenance (C13): fold ONE new increment
    * (e.g. a day's partition) into a stored aggregate table without
    * rescanning history — the materialized-view-maintenance pattern
    * that keeps a 100 TB fact table's rollup fresh at per-day cost.
    * Works for algebraic aggregates (counts/sums; avg = sum+count):
    * the increment is pre-aggregated to the same keys, unioned with
    * the stored state, re-aggregated by summing the partials (a
    * keys-sized job — the history never loads beyond its aggregate),
    * and atomically swapped in. */
  def maintainAggregate(increment: DataFrame, aggPath: String,
                        keyCols: Seq[String], sumCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val spark = increment.sparkSession
    val keys = keyCols.map(col)
    val sums = sumCols.map(c => sum(col(c)).as(c))
    val delta = increment.groupBy(keys: _*).agg(sums.head, sums.tail: _*)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(aggPath)
    val merged =
      if (fs.exists(dst))
        spark.read.parquet(aggPath).unionByName(delta)
          .groupBy(keys: _*).agg(sums.head, sums.tail: _*)
      else delta
    val tmp = new org.apache.hadoop.fs.Path(aggPath + ".tmp_maintain")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"aggregate swap failed: $tmp -> $dst")
  }

  /** Small-files compaction (C6): rewrite a parquet dataset into
    * ~`targetFileBytes` files, clustered and sorted by `sortCols` so
    * min/max footer stats make later range/equality filters skip whole
    * files (poor man's clustering — the layout optimization every
    * long-lived 100 TB table needs after streaming/daily appends).
    * `repartitionByRange` samples the sort keys for balanced output
    * files; `sortWithinPartitions` orders rows inside each file so
    * page-level stats stay tight. */
  def compact(df: DataFrame, outPath: String, sortCols: Seq[String],
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, (bytes / BigInt(targetFileBytes)).toInt +
      (if (bytes % BigInt(targetFileBytes) > 0) 1 else 0))
    val keys = sortCols.map(col)
    df.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Even-bit spread of a 16-bit value (morton half-interleave) via
    * the classic magic-mask cascade — pure bitwise column arithmetic,
    * whole-stage codegen, no UDF. */
  private def spreadBits16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-value (morton code) of two 16-bit bucket ids: bits of `a16` on
    * even positions, `b16` on odd. Locality in z-value order implies
    * locality in BOTH dimensions. */
  def zValue(a16: org.apache.spark.sql.Column, b16: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.shiftleft
    spreadBits16(a16).bitwiseOR(shiftleft(spreadBits16(b16), 1))
  }

  /** Z-order clustered write (C12): rewrite a dataset into
    * ~`targetFileBytes` parquet files clustered by the morton
    * interleave of TWO dimensions, so footer min/max stats prune files
    * for selective predicates on EITHER column — where a linear sort
    * by (a, b) leaves every file spanning b's full range. This is the
    * multi-dimensional layout optimization (Delta OPTIMIZE ZORDER's
    * shape) a long-lived 100 TB table wants when two filter columns
    * share the read path. Each dimension is linearly bucketized into
    * 16 bits from a one-row min/max prepass (bounded driver data —
    * heavy per-dim skew wants quantile buckets instead; the z-sort
    * itself is skew-immune because `repartitionByRange` samples the
    * z-values). */
  def writeZOrdered(df: DataFrame, outPath: String, colA: String, colB: String,
                    targetFileBytes: Long = 128L * 1024 * 1024,
                    quantileBuckets: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    // `quantileBuckets`: equi-DEPTH 8-bit buckets from a GK-sketch
    // prepass (255 boundary doubles on the driver) — the right mode
    // for heavy-tailed dimensions, where linear min/max scaling would
    // collapse most rows into one bucket and z-locality on that dim
    // degenerates. Bucket index = #boundaries ≤ value, computed by a
    // codegen'd fold over the boundary-array literal.
    def qBucket(c: String): org.apache.spark.sql.Column = {
      val bounds = df.stat.approxQuantile(c, (1 to 255).map(_ / 256.0).toArray, 0.01)
      aggregate(array(bounds.map(lit(_)): _*), lit(0L),
        (acc, bnd) => acc + when(col(c).cast("double") >= bnd, 1L).otherwise(0L))
    }
    def linBucket(c: org.apache.spark.sql.Column, lo: Double, hi: Double) = {
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(lit(65535L), greatest(lit(0L),
        ((c.cast("double") - lit(lo)) / lit(span) * 65535.0).cast("long")))
    }
    val z =
      if (quantileBuckets) zValue(qBucket(colA), qBucket(colB))
      else {
        val b = df.agg(
          min(col(colA).cast("double")), max(col(colA).cast("double")),
          min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
        zValue(linBucket(col(colA), b.getDouble(0), b.getDouble(1)),
               linBucket(col(colB), b.getDouble(2), b.getDouble(3)))
      }
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, (bytes / BigInt(targetFileBytes)).toInt +
      (if (bytes % BigInt(targetFileBytes) > 0) 1 else 0))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Write-audit-publish (C19): the warehouse publication protocol —
    * write to a STAGING directory, audit what actually landed on disk
    * (read the staged files back: this validates they parse, not just
    * that the job "succeeded"), and only then publish with one atomic
    * directory rename. Downstream readers either see the previous
    * version or the complete new one, never a half-written table; a
    * failed audit throws and LEAVES staging in place for inspection,
    * with the previous published version untouched.
    *
    * The audit is a single distributed pass producing a row count and
    * an order-insensitive arithmetic checksum over `keyCol`
    * (engine-portable: (key % 1000003) · 2654435761 mod 1000000007,
    * summed — the same hash family as the train/test splitter), both
    * recorded in a `_MANIFEST.json` that renames WITH the data, so
    * consumers can verify integrity without re-scanning. On a 100 TB
    * table the audit cost is one column scan; HDFS-style renames are
    * O(1) metadata ops, while object stores would swap step 3 for a
    * manifest-pointer flip (same protocol, different atom).
    *
    * Returns the manifest read back FROM THE PUBLISHED location —
    * proving the round-trip, not echoing in-memory state. */
  def writeAuditPublish(df: DataFrame, stagingPath: String, publishPath: String,
                        keyCol: String, minRows: Long = 1L): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    // 1. stage
    writeParquet(df, stagingPath)
    // 2. audit the staged files themselves
    val staged = spark.read.parquet(stagingPath)
    val audit = staged.agg(
      count(lit(1)).as("row_count"),
      sum(pmod((col(keyCol).cast("long") % 1000003L) * 2654435761L,
        lit(1000000007L))).as("checksum")).head()
    val n = audit.getAs[Long]("row_count")
    require(n >= minRows,
      s"audit failed: staged $stagingPath has $n rows < minRows=$minRows — " +
        "staging left in place, published version untouched")
    // 3. manifest travels inside the directory that gets renamed
    val fs = new Path(stagingPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(new Path(stagingPath))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val manifest =
      s"""{"row_count":$n,"checksum":${audit.getAs[Long]("checksum")},"n_files":$nFiles}"""
    val out = fs.create(new Path(stagingPath, "_MANIFEST.json"), true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // 4. atomic publish: replace the previous version in one rename
    val publish = new Path(publishPath)
    if (fs.exists(publish)) fs.delete(publish, true)
    if (publish.getParent != null) fs.mkdirs(publish.getParent)
    require(fs.rename(new Path(stagingPath), publish),
      s"rename $stagingPath -> $publishPath failed")
    // read back from the PUBLISHED location via the filesystem —
    // underscore-prefixed files are hidden from Spark/Hadoop data
    // readers by design (same convention as _SUCCESS: data scans of
    // the directory skip the manifest), so a DataFrame reader can't
    // see it; the manifest is one driver-sized JSON object
    val in = fs.open(new Path(publishPath, "_MANIFEST.json"))
    val back = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    import spark.implicits._
    spark.read.schema("row_count LONG, checksum LONG, n_files LONG")
      .json(Seq(back).toDS())
      .select(col("row_count"), col("checksum"),
        (col("n_files") >= 1L && col("row_count") >= minRows).as("published"))
  }

  // --------------------------------------------------------------- C28
  /** Versioned table publish (the minimal time-travel layout under
    * C19's write-audit-publish: Delta/Iceberg's core idea on plain
    * parquet): each publish lands a COMPLETE immutable snapshot under
    * `v_N/`, then flips a one-line `_LATEST` pointer file via
    * write-sibling-then-rename — readers resolve the pointer once and
    * scan an immutable directory, so a publish never races a read and
    * EVERY prior version stays readable until retention deletes it.
    * Returns the version just published. */
  def versionedPublish(df: DataFrame, tablePath: String,
                       retain: Int = 3, tag: Option[String] = None): Int = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = latestVersion(spark, tablePath).getOrElse(0) + 1
    val staging = new Path(tablePath, s"v_$next._staging")
    writeParquet(df, staging.toString)
    // the tag rides INSIDE the snapshot dir, so it becomes visible
    // atomically with the data via the rename — the hook idempotent
    // streaming publishers key on (see versionTag)
    tag.foreach { t =>
      val o = fs.create(new Path(staging, "_TAG"), true)
      try o.write(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally o.close()
    }
    require(fs.rename(staging, new Path(tablePath, s"v_$next")),
      s"versioned publish rename failed for v_$next")
    val tmp = new Path(tablePath, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(new Path(tablePath, "_LATEST"), false)
    require(fs.rename(tmp, new Path(tablePath, "_LATEST")),
      "latest-pointer flip failed")
    // retention: drop versions older than the newest `retain`
    (1 until next - retain + 1).foreach { v =>
      fs.delete(new Path(tablePath, s"v_$v"), true)
    }
    next
  }

  /** Latest published version of a [[versionedPublish]] /
    * [[publishTableSet]] table, from the pointer file; None for a
    * table that was never published.
    *
    * The pointer flip is delete-then-rename (HDFS rename does not
    * overwrite), so a reader can land in the brief no-pointer window.
    * Rather than throw — which would contradict the publish APIs'
    * "readers never observe an inconsistent state" contract — a
    * missing pointer falls back to the max committed `v_N` directory
    * on disk, which is exactly the version the in-flight flip is
    * about to point at (staging dirs are `v_N._staging` and never
    * match). */
  def latestVersion(spark: SparkSession, tablePath: String): Option[Int] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(tablePath, "_LATEST")
    if (fs.exists(p)) {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      Some(s.toInt)
    } else {
      val root = new Path(tablePath)
      if (!fs.exists(root)) None
      else {
        val vPat = "^v_(\\d+)$".r
        val vs = fs.listStatus(root).iterator.filter(_.isDirectory)
          .map(_.getPath.getName).collect { case vPat(n) => n.toInt }.toSeq
        if (vs.isEmpty) None
        else {
          // Fallback semantics are wider than the brief delete-then-
          // rename window the comment above describes: a crashed
          // publish (v_N renamed, _LATEST flip never ran) becomes
          // retroactively visible, and a genuinely deleted/corrupted
          // pointer is masked. Safe — renamed v_N dirs are complete
          // snapshots — but log so an unexpectedly missing pointer is
          // observable instead of silent.
          System.err.println(
            s"[graft] $tablePath/_LATEST missing; falling back to max " +
              s"committed v_${vs.max} (mid-flip, crashed publish, or " +
              "lost pointer)")
          Some(vs.max)
        }
      }
    }
  }

  // --------------------------------------------------------------- C29
  /** Targeted key purge (the GDPR / right-to-be-forgotten primitive):
    * delete every row whose key is in `keys` from a day-partitioned
    * parquet table by rewriting ONLY the partitions that contain the
    * keys — the key probe is a pushed-down `IN` scan, the surviving
    * rows of affected partitions stage to a sibling dir (the table is
    * in the write's lineage), and a DYNAMIC partition overwrite swaps
    * exactly those partitions in; untouched partitions keep their
    * files byte-for-byte. At 100 TB this is the difference between
    * rewriting a handful of day partitions and rewriting the table.
    * Returns a per-partition audit (rows before / removed). */
  def purgeKeys(spark: SparkSession, tablePath: String, keyCol: String,
                keys: Seq[Long], partCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = spark.read.parquet(tablePath)
    // materialize the audit BEFORE the rewrite — these frames read the
    // pre-purge files, which the dynamic overwrite is about to replace.
    // The partition key is collected as a STRING: partition-value
    // inference types day=... directories as DATE, and decoding a
    // DateType row on the driver needs JVM module opens
    // (sun.util.calendar.ZoneInfo) that a bare `java -cp` launch
    // doesn't grant — the engine-side cast keeps the audit portable
    // across launchers and engines
    val affectedRows = t.filter(col(keyCol).isin(keys: _*))
      .groupBy(col(partCol).cast("string").as(partCol))
      .agg(count(lit(1)).as("rows_removed"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val affectedVals = affectedRows.map(_._1)
    val staging = tablePath + "_graft_purge_tmp"
    // filter on the NATIVE column (literals coerce) so partition
    // pruning survives
    val survivors = t.filter(
      col(partCol).isin(affectedVals: _*) && !col(keyCol).isin(keys: _*))
    // rows_before = survivors + removed, both exact integers: the
    // per-partition survivor counts ride the staging WRITE as observe
    // metrics (one counter per affected partition — a bounded literal
    // set), replacing what was a separate full scan of the affected
    // partitions (r20)
    val beforeRows: Map[String, Long] =
      if (affectedRows.isEmpty) {
        survivors.write.mode(SaveMode.Overwrite).parquet(staging)
        Map.empty
      } else {
        val obs = org.apache.spark.sql.Observation()
        val counters = affectedRows.zipWithIndex.map { case ((v, _), i) =>
          count(when(col(partCol).cast("string") === v, lit(1))).as(s"__s$i")
        }
        survivors.observe(obs, counters.head, counters.tail.toIndexedSeq: _*)
          .write.mode(SaveMode.Overwrite).parquet(staging)
        val m = obs.get
        affectedRows.zipWithIndex.map { case ((v, removed), i) =>
          v -> (m(s"__s$i").asInstanceOf[Long] + removed)
        }.toMap
      }
    writeParquetIdempotent(spark.read.parquet(staging), tablePath, Seq(partCol))
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // the session's file-status cache still lists the replaced part
    // files of the rewritten partitions — drop it so the next read
    // sees the post-purge listing
    spark.catalog.refreshByPath(tablePath)
    import spark.implicits._
    affectedRows.toSeq
      .map { case (p, removed) => (p, beforeRows.getOrElse(p, 0L), removed) }
      .toDF(partCol, "rows_before", "rows_removed")
  }

  /** Tag of a published version (None when untagged or absent) — the
    * idempotence key for streaming publishers: a replayed micro-batch
    * whose id equals the latest version's tag already published. */
  def versionTag(spark: SparkSession, tablePath: String, version: Int): Option[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(tablePath, s"v_$version/_TAG")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Time-travel read: version -1 (default) resolves the `_LATEST`
    * pointer; any retained explicit version reads its immutable
    * snapshot directory. */
  def readVersion(spark: SparkSession, tablePath: String,
                  version: Int = -1): DataFrame = {
    val v =
      if (version > 0) version
      else latestVersion(spark, tablePath).getOrElse(
        throw new IllegalArgumentException(s"no published version at $tablePath"))
    spark.read.parquet(s"$tablePath/v_$v")
  }

  // --------------------------------------------------------------- C38
  /** Atomic MULTI-table publish (the cross-table consistency half of
    * C28's contract): N tables stage together under ONE version dir
    * (`v_N._staging/<name>/`), become visible through ONE directory
    * rename, and share ONE `_LATEST` pointer — so a reader can never
    * observe table A at version 2 beside table B still at version 1.
    * That pairing is what a star schema needs: a fact rollup and the
    * dimension it joins must flip together or a window of readers
    * joins across snapshots (the classic "dashboard shows yesterday's
    * dims against today's facts" bug). Same write-sibling-then-rename
    * pointer discipline and retention GC as [[versionedPublish]].
    *
    * Scale shape: each table's write is an ordinary distributed
    * parquet write; the atomicity cost is ONE rename + ONE pointer
    * flip regardless of table count or size. */
  def publishTableSet(tables: Seq[(String, DataFrame)], rootPath: String,
                      retain: Int = 3): Int = {
    import org.apache.hadoop.fs.Path
    require(tables.nonEmpty, "publishTableSet needs at least one table")
    val spark = tables.head._2.sparkSession
    val fs = new Path(rootPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = latestVersion(spark, rootPath).getOrElse(0) + 1
    val staging = new Path(rootPath, s"v_$next._staging")
    fs.delete(staging, true) // rerun-safe: a crashed prior attempt
    tables.foreach { case (name, df) =>
      writeParquet(df, new Path(staging, name).toString)
    }
    require(fs.rename(staging, new Path(rootPath, s"v_$next")),
      s"table-set publish rename failed for v_$next")
    val tmp = new Path(rootPath, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(new Path(rootPath, "_LATEST"), false)
    require(fs.rename(tmp, new Path(rootPath, "_LATEST")),
      "latest-pointer flip failed")
    (1 until next - retain + 1).foreach { v =>
      fs.delete(new Path(rootPath, s"v_$v"), true)
    }
    next
  }

  /** Read table `name` from a [[publishTableSet]] snapshot (latest
    * when `version` < 0) — every table resolved from the SAME pointer
    * read, which is the whole point. */
  def readTableSet(spark: SparkSession, rootPath: String, name: String,
                   version: Int = -1): DataFrame = {
    val v =
      if (version > 0) version
      else latestVersion(spark, rootPath).getOrElse(
        throw new IllegalArgumentException(s"no published set at $rootPath"))
    spark.read.parquet(s"$rootPath/v_$v/$name")
  }
}
