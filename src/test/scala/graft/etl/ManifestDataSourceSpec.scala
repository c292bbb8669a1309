package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-manifest` data source: the manifest lake consumed through
  * `spark.read.format(...)` / `DataFrameWriter` / pure-SQL temp views
  * instead of the Scala API. Pins that the format path (a) round-trips
  * content, (b) honors versionAsOf time travel and the txn ledger,
  * (c) maps save modes onto the commit kinds, and (d) plans the SAME
  * single pruned, skipping scan as ManifestLake.read — the whole point
  * of serving HadoopFsRelation over ManifestFileIndex rather than a
  * fresh DSv2 reader stack.
  */
class ManifestDataSourceSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  private def fmt = spark.read.format("graft-manifest")

  test("writer API: overwrite creates v1, append accretes v2; format read matches the Scala read") {
    import spark.implicits._
    val dir = freshDir("mds-roundtrip")
    val a = (0 until 40).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    a.write.format("graft-manifest").partitionBy("chrom").mode("overwrite").save(dir)
    assert(ManifestLake.currentVersion(spark, dir) === Some(1L))
    val b = (40 until 50).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    // append names no partitioning: it must inherit the recorded one
    b.write.format("graft-manifest").mode("append").save(dir)
    assert(ManifestLake.currentVersion(spark, dir) === Some(2L))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    assert(ManifestLake.readManifest(fs, root, 2L).partCols === Seq("chrom"))
    val got = fmt.load(dir)
    // relation column order is data-cols-then-partition-cols
    assert(got.columns.toSeq === Seq("pos", "payload", "chrom"))
    assert(got.count() === 50)
    assert(got.select("chrom", "pos", "payload").except(
      ManifestLake.read(spark, dir).select("chrom", "pos", "payload")).isEmpty)
    // partition values came back typed from the recorded schema
    assert(got.where(col("chrom") === "chr2").count() === 25)
  }

  test("versionAsOf time travel; absent versions and absent tables are typed errors") {
    import spark.implicits._
    val dir = freshDir("mds-asof")
    Seq(("a", 1L)).toDF("part", "v").write.format("graft-manifest")
      .partitionBy("part").mode("overwrite").save(dir)
    Seq(("a", 2L)).toDF("part", "v").write.format("graft-manifest")
      .mode("append").save(dir)
    assert(fmt.option("versionAsOf", "1").load(dir).select("v").as[Long].collect().toSeq === Seq(1L))
    assert(fmt.load(dir).count() === 2)
    val e = intercept[IllegalArgumentException] {
      fmt.option("versionAsOf", "9").load(dir)
    }
    assert(e.getMessage.contains("available: 1, 2"))
    intercept[IllegalArgumentException] {
      fmt.option("versionAsOf", "x").load(dir)
    }
    val none = intercept[IllegalArgumentException] {
      fmt.load(freshDir("mds-asof-none"))
    }
    assert(none.getMessage.contains("no manifest table"))
  }

  test("timestampAsOf time travel resolves by publish instant; too-early instants are typed errors") {
    import spark.implicits._
    val dir = freshDir("mds-tsasof")
    Seq(("a", 1L)).toDF("part", "v").write.format("graft-manifest")
      .partitionBy("part").mode("overwrite").save(dir)
    Thread.sleep(60) // local-fs mtime granularity
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(60)
    Seq(("a", 2L)).toDF("part", "v").write.format("graft-manifest")
      .mode("append").save(dir)
    // epoch-millis form: between the commits resolves v1
    assert(fmt.option("timestampAsOf", betweenCommits.toString).load(dir)
      .select("v").as[Long].collect().toSeq === Seq(1L))
    // now resolves the head (ISO instant form)
    assert(fmt.option("timestampAsOf",
      java.time.Instant.now().toString).load(dir).count() === 2)
    // the Scala API agrees
    assert(ManifestLake.readAsOf(spark, dir, betweenCommits)
      .select("v").as[Long].collect().toSeq === Seq(1L))
    assert(ManifestLake.versionAtTimestamp(spark, dir, System.currentTimeMillis()) === 2L)
    // an instant before the table existed is a typed error
    val e = intercept[IllegalArgumentException] {
      fmt.option("timestampAsOf", "2000-01-01T00:00:00Z").load(dir)
    }
    assert(e.getMessage.contains("no version") && e.getMessage.contains("earliest retained"))
    // garbage is typed, and the two as-of options are exclusive
    intercept[IllegalArgumentException] {
      fmt.option("timestampAsOf", "not-a-time").load(dir)
    }
    intercept[IllegalArgumentException] {
      fmt.option("timestampAsOf", betweenCommits.toString)
        .option("versionAsOf", "1").load(dir)
    }
  }

  test("timestampAsOf monotonizes non-monotonic manifest mtimes (restored/copied table, clock skew)") {
    import spark.implicits._
    val dir = freshDir("mds-tsasof-skew")
    Seq(("a", 1L)).toDF("part", "v").write.format("graft-manifest")
      .partitionBy("part").mode("overwrite").save(dir)                         // v1
    Seq(("a", 2L)).toDF("part", "v").write.format("graft-manifest")
      .mode("append").save(dir)                                                // v2
    Seq(("a", 3L)).toDF("part", "v").write.format("graft-manifest")
      .mode("append").save(dir)                                                // v3
    // simulate a restore/copy (or skewed writer clock) that left v2's
    // manifest stamped YEARS BEFORE v1's: without monotonization, an
    // instant in that gap resolves v2 — a version that provably did
    // not exist before v1 was published
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m2 = new org.apache.hadoop.fs.Path(root, "_manifest/v000002.list.gz")
    val ancient = 946684800000L // 2000-01-01
    fs.setTimes(m2, ancient, -1)
    // in the bogus gap the table did not exist yet: typed error, not v2
    val e = intercept[IllegalArgumentException] {
      ManifestLake.versionAtTimestamp(spark, dir, ancient + 1000L)
    }
    assert(e.getMessage.contains("no version"))
    // "now" still resolves the head
    assert(ManifestLake.versionAtTimestamp(spark, dir,
      System.currentTimeMillis()) === 3L)
  }

  test("change feed by wall clock: (versionAt(from), versionAt(to)] exactly; empty windows are empty, not errors") {
    import spark.implicits._
    val dir = freshDir("mds-cdf-time")
    ManifestLake.write(spark, Seq(("a", 1L)).toDF("part", "x"),
      dir, Seq("part"))                                                        // v1
    Thread.sleep(60)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(60)
    ManifestLake.write(spark, Seq(("a", 2L)).toDF("part", "x"),
      dir, Seq("part"), replace = false)                                       // v2
    Thread.sleep(60)
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(60)
    ManifestLake.write(spark, Seq(("a", 3L)).toDF("part", "x"),
      dir, Seq("part"), replace = false)                                       // v3
    val w = ManifestLake.readChangeFeedByTime(spark, dir, afterV1, afterV2)
    assert(w.select("x").collect().map(_.getLong(0)).toSeq === Seq(2L),
      "exactly the commits inside the instant window flow")
    assert(ManifestLake.readChangeFeedByTime(spark, dir, afterV1,
      System.currentTimeMillis()).count() === 2)
    // empty window: schema-correct empty frame
    val empty = ManifestLake.readChangeFeedByTime(spark, dir, afterV1, afterV1 + 1)
    assert(empty.count() === 0)
    assert(empty.schema.fieldNames.toSeq === Seq("part", "x", "_change_type", "_commit_version"))

    // the CDC STREAM accepts startingTimestamp as the startingVersion twin
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", afterV1.toString)
      .load(dir)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("x").collect().foreach(r => batches.add(r.getLong(0))); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = { val b = Seq.newBuilder[Long]; batches.forEach(x => b += x); b.result() }
    assert(got.sorted === Seq(2L, 3L),
      "changes strictly after the instant's version flow; v1 does not")
    // both options together refuse
    val e = intercept[Exception] {
      val qq = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("startingTimestamp", afterV1.toString)
        .load(dir)
        .writeStream.format("memory").queryName("mds_cdf_time_bad").start()
      try qq.processAllAvailable() finally if (qq.isActive) qq.stop()
    }
    assert(e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")))
  }

  test("pure SQL: CREATE TEMPORARY VIEW … USING graft-manifest reads the table, with time travel") {
    import spark.implicits._
    val dir = freshDir("mds-sql")
    (0 until 30).map(i => (s"g${i % 3}", i.toLong)).toDF("grp", "x")
      .write.format("graft-manifest").partitionBy("grp").mode("overwrite").save(dir)
    (30 until 36).map(i => (s"g${i % 3}", i.toLong)).toDF("grp", "x")
      .write.format("graft-manifest").mode("append").save(dir)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW mds_sql_head
         |USING `graft-manifest` OPTIONS (path '$dir')""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW mds_sql_v1
         |USING `graft-manifest` OPTIONS (path '$dir', versionAsOf '1')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM mds_sql_head").as[Long].head() === 36L)
    assert(spark.sql("SELECT count(*) FROM mds_sql_v1").as[Long].head() === 30L)
    assert(spark.sql(
      "SELECT grp, max(x) AS mx FROM mds_sql_head GROUP BY grp ORDER BY grp")
      .as[(String, Long)].collect().toSeq ===
      Seq(("g0", 33L), ("g1", 34L), ("g2", 35L)))
  }

  test("view 'history'/'detail': metadata views through SQL, re-derived per scan; unknown views and as-of combos refuse") {
    import spark.implicits._
    val dir = freshDir("mds-meta")
    (0 until 12).map(i => (s"g${i % 2}", i.toLong)).toDF("grp", "x")
      .write.format("graft-manifest").partitionBy("grp").mode("overwrite").save(dir)
    (12 until 18).map(i => (s"g${i % 2}", i.toLong)).toDF("grp", "x")
      .write.format("graft-manifest").mode("append").save(dir)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW mds_hist
         |USING `graft-manifest` OPTIONS (path '$dir', view 'history')""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW mds_det
         |USING `graft-manifest` OPTIONS (path '$dir', view 'detail')""".stripMargin)
    assert(spark.sql("SELECT version, op FROM mds_hist ORDER BY version")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "replace"), (2L, "append")))
    val det = spark.sql(
      "SELECT version, partition_cols, n_columns FROM mds_det")
      .as[(Long, String, Long)].head()
    assert(det === ((2L, "grp", 2L)))
    // the view tracks the LIVE table: a later commit shows up on the
    // next scan of the SAME temp view (rows re-derive at scan time)
    ManifestLake.delete(spark, dir, col("x") >= 15)
    assert(spark.sql("SELECT max(version) FROM mds_hist").as[Long].head() === 3L)
    assert(spark.sql("SELECT op FROM mds_hist WHERE version = 3")
      .as[String].head() === "delete")
    // refusals: unknown view name; as-of options on a metadata view
    val bad = intercept[IllegalArgumentException] {
      fmt.option("view", "versions").load(dir).collect()
    }
    assert(bad.getMessage.contains("unknown view"))
    val combo = intercept[IllegalArgumentException] {
      fmt.option("view", "history").option("versionAsOf", "1").load(dir).collect()
    }
    assert(combo.getMessage.contains("do not apply"))
  }

  test("format path plans one scan with partition pruning, parquet pushdown, and manifest file skipping") {
    import spark.implicits._
    val dir = freshDir("mds-plan")
    // 4 range-clustered files per partition → skippable pos ranges
    val df = (0 until 200).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
      .repartitionByRange(4, col("pos"))
    df.write.format("graft-manifest").partitionBy("chrom")
      .option("statsCols", "pos").mode("overwrite").save(dir)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 1L)
    assert(m.files.nonEmpty && m.files.forall(_.stats.contains("pos")))
    val filtered = fmt.load(dir)
      .where(col("chrom") === "chr2" && col("pos") >= 150L)
    val rows = filtered.collect()
    assert(rows.length === 25)
    val scans = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length === 1, "format read must stay a single scan node")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("chrom"), s"partition filter must prune at the scan:\n$plan")
    assert(plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("GreaterThanOrEqual(pos,150)"),
      s"data filter must push to parquet:\n$plan")
    // file-level skipping from manifest stats: strictly fewer files than
    // the chr2 partition holds
    val chr2Files = m.files.count(_.path.contains("chrom=chr2"))
    assert(scans.head.metrics("numFiles").value < chr2Files,
      s"manifest stats must skip files: read ${scans.head.metrics("numFiles").value} of $chr2Files")
  }

  test("save modes: ErrorIfExists is loud, Ignore is a no-op, Overwrite replaces") {
    import spark.implicits._
    val dir = freshDir("mds-modes")
    val df = Seq(("a", 1L)).toDF("part", "v")
    df.write.format("graft-manifest").partitionBy("part").save(dir) // default = ErrorIfExists, creates
    intercept[IllegalStateException] {
      df.write.format("graft-manifest").partitionBy("part").save(dir)
    }
    Seq(("a", 99L)).toDF("part", "v").write.format("graft-manifest")
      .partitionBy("part").mode("ignore").save(dir)
    assert(fmt.load(dir).select("v").as[Long].collect().toSeq === Seq(1L))
    Seq(("a", 7L)).toDF("part", "v").write.format("graft-manifest")
      .partitionBy("part").mode("overwrite").save(dir)
    assert(fmt.load(dir).select("v").as[Long].collect().toSeq === Seq(7L))
  }

  test("txn options ride the exactly-once ledger: a replayed batch publishes nothing") {
    import spark.implicits._
    val dir = freshDir("mds-txn")
    def appendBatch(vals: Seq[Long], batch: Long): Unit =
      vals.map(v => ("a", v)).toDF("part", "v")
        .write.format("graft-manifest").partitionBy("part")
        .option("txnAppId", "mds-app").option("txnBatchId", batch.toString)
        .mode("append").save(dir)
    appendBatch(Seq(1L), 0L)
    appendBatch(Seq(2L), 1L)
    appendBatch(Seq(99L), 1L) // replay: at-or-below the watermark
    assert(ManifestLake.currentVersion(spark, dir) === Some(2L))
    assert(fmt.load(dir).select("v").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      Seq(("a", 3L)).toDF("part", "v").write.format("graft-manifest")
        .option("txnAppId", "mds-app").mode("append").save(dir)
    }
  }

  test("a headerless legacy manifest is a typed error on the format path") {
    import spark.implicits._
    val dir = freshDir("mds-legacy")
    ManifestLake.write(spark, Seq(("a", 1L)).toDF("part", "v"), dir, Seq("part"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    // a foreign v2: v1's file lines with no header at all
    ForeignManifests.write(fs, root, 2L, ForeignManifests.dataLines(fs, root, 1L), gzip = true)
    val e = intercept[IllegalArgumentException] { fmt.load(dir) }
    assert(e.getMessage.contains("schema header"))
    // …but time travel to the headed version still works
    assert(fmt.option("versionAsOf", "1").load(dir).count() === 1)
  }
}
