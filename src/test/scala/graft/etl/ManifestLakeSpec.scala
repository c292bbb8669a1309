package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ManifestLake: immutable data files + atomic small-manifest commit —
  * a commit path that holds on object stores, where rename is a
  * copy+delete. Pins: versioned visibility (uncommitted and
  * superseded data is invisible), append vs replace, compaction under
  * manifest with old-version readability, crash-orphan invisibility,
  * and vacuum's referenced-files-survive guarantee.
  */
class ManifestLakeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  /** The per-commit grouped union the single-scan read replaced — the
    * spec's reference read: one DataFrame per commit dir so partition
    * discovery works, later groups aligned to the first group's
    * inferred schema.
    */
  private def readFilesGrouped(root: org.apache.hadoop.fs.Path,
                               files: Seq[String]): org.apache.spark.sql.DataFrame = {
    val groups = files.groupBy(_.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
    val frames = groups.map { case (commitDir, fls) =>
      spark.read
        .option("basePath", new org.apache.hadoop.fs.Path(root, commitDir).toString)
        .parquet(fls.map(f => new org.apache.hadoop.fs.Path(root, f).toString): _*)
    }
    frames.reduce { (a, b) =>
      val cols = a.schema.fields.map(f => col(f.name).cast(f.dataType))
      a.unionByName(b.select(cols: _*))
    }
  }

  test("write → read round-trip, partitioned; append accretes, replace supersedes") {
    import spark.implicits._
    val dir = freshDir("mlake")
    val v1 = (0 until 100).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    assert(ManifestLake.write(spark, v1, dir, Seq("chrom")) === 1L)
    val r1 = ManifestLake.read(spark, dir)
    assert(r1.count() === 100)
    // partition column survives the per-commit basePath read
    assert(r1.select("chrom").distinct().collect().map(_.getString(0)).sorted
      === Array("chr1", "chr2"))

    val more = (100 until 130).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    assert(ManifestLake.write(spark, more, dir, Seq("chrom"), replace = false) === 2L)
    assert(ManifestLake.read(spark, dir).count() === 130)
    // v1 stays readable as published (time travel / in-flight scans)
    assert(ManifestLake.readVersion(spark, dir, 1L).count() === 100)

    val fresh = Seq(("chr9", 1L, "only")).toDF("chrom", "pos", "payload")
    assert(ManifestLake.write(spark, fresh, dir, Seq("chrom")) === 3L)
    val r3 = ManifestLake.read(spark, dir).collect()
    assert(r3.length === 1 && r3.head.getAs[String]("payload") === "only")
  }

  test("unpublished data is invisible: a crash before manifest publish changes nothing") {
    import spark.implicits._
    val dir = freshDir("mlake-crash")
    val df = (0 until 50).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    val before = ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq

    // simulate a committer that crashed after writing its data files
    // but before publishing: drop files straight into a next-version
    // data dir with NO manifest
    val orphan = new org.apache.hadoop.fs.Path(dir, "data/v000099")
    (51 until 60).map(i => ("chr1", i.toLong, s"ghost$i")).toDF("chrom", "pos", "payload")
      .write.partitionBy("chrom").parquet(orphan.toString)

    assert(ManifestLake.currentVersion(spark, dir) === Some(1L))
    assert(ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq === before)

    // a FRESH above-head dir is indistinguishable from an in-flight
    // commit's stage — the default grace window refuses to touch it
    val kept = ManifestLake.vacuum(spark, dir, keepVersions = 1)
    assert(!kept.exists(_.contains("v000099")),
      s"a fresh above-head stage must survive vacuum: $kept")
    // past the grace window it is an aborted stage: reaped
    val removed = ManifestLake.vacuum(spark, dir, keepVersions = 1, stagedGraceMs = 0L)
    assert(removed.exists(_.contains("v000099")), s"orphans should be vacuumed: $removed")
    assert(ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq === before)
  }

  test("vacuum is mechanically safe against an in-flight commit: staged files survive, then publish") {
    import spark.implicits._
    val dir = freshDir("mlake-inflight")
    val v1 = (0 until 30).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, v1, dir, Seq("chrom"))
    // an in-flight committer has staged v2's data but not yet published
    // its manifest (exactly the window writePinned occupies during its
    // verification pass)
    val staged = new org.apache.hadoop.fs.Path(dir, "data/v000002")
    val batch = (30 until 40).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    batch.write.partitionBy("chrom").parquet(staged.toString)
    // maintenance runs concurrently: the staged files MUST survive
    ManifestLake.vacuum(spark, dir, keepVersions = 1)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    assert(fs.exists(staged), "in-flight staged files were vacuumed away")
    // the committer finishes: publish v2 over the surviving stage
    val files = {
      val rootQ = fs.makeQualified(root).toString
      val it = fs.listFiles(staged, true)
      val out = Seq.newBuilder[ManifestLake.LiveFile]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          out += ManifestLake.LiveFile(f.getLen,
            fs.makeQualified(f.getPath).toString.stripPrefix(rootQ).stripPrefix("/"))
      }
      out.result()
    }
    val m1 = ManifestLake.readManifest(fs, root, 1L)
    ManifestLake.publish(fs, root, 2L,
      ManifestLake.Manifest(m1.schema, m1.partCols, m1.files ++ files, m1.txns))
    assert(ManifestLake.read(spark, dir).count() === 40)
  }

  test("compact under manifest: fewer files, same rows, old version still readable, vacuum reclaims") {
    import spark.implicits._
    val dir = freshDir("mlake-compact")
    val df = (0 until 400).map(i => (s"chr${i % 2 + 1}", i.toLong, s"payload$i"))
      .toDF("chrom", "pos", "payload")
    // fragment: 6-way repartition before the partitioned write
    ManifestLake.write(spark, df.repartition(6), dir, Seq("chrom"))
    val expected = ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq

    val report = ManifestLake.compact(spark, dir, targetBytes = 1L << 30,
      clusterBy = Seq("pos"))
    assert(report.nonEmpty)
    assert(report.forall { case (_, b, a) => b > 1 && a === 1 })

    // content identical at v2, and v1 (the fragmented layout) still serves
    assert(ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq === expected)
    assert(ManifestLake.readVersion(spark, dir, 1L).orderBy(col("pos"))
      .collect().toSeq === expected)

    // idempotent: nothing left to compact
    assert(ManifestLake.compact(spark, dir, targetBytes = 1L << 30).isEmpty)

    // inventory agrees with compact's detection from the manifest alone
    val inv = ManifestLake.inventory(spark, dir, targetBytes = 1L << 30).collect()
    assert(inv.nonEmpty)
    assert(inv.forall(r => !r.getAs[Boolean]("needs_compaction")))
    assert(inv.forall(_.getAs[Long]("n_files") === 1L))
    assert(inv.forall(r => r.getAs[Long]("total_bytes") >= r.getAs[Long]("max_file_bytes")))
    // and an empty/missing table inventories as empty
    assert(ManifestLake.inventory(spark, dir + "-nope").isEmpty)

    // vacuum to the current version only: superseded v1 files go, the
    // compacted data still reads identically
    val removed = ManifestLake.vacuum(spark, dir, keepVersions = 1)
    assert(removed.nonEmpty)
    assert(ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq === expected)
  }

  test("upsert under manifest: updates win, new keys append, untouched partitions carry by reference") {
    import spark.implicits._
    val dir = freshDir("mlake-upsert")
    val base = (0 until 90).map(i => (s"chr${i % 3 + 1}", i.toLong, s"old$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, base, dir, Seq("chrom"))
    // compare the manifests' live sets by path
    def manifestPaths(v: Long): List[String] = {
      val (fsx, rootx) = ManifestLake.fsFor(spark, dir)
      ManifestLake.readManifest(fsx, rootx, v).files.map(_.path).toList
    }
    val v1Files = manifestPaths(1L)

    // touch chr1 only: rewrite pos 0, add pos 1000; chr2/chr3 untouched
    val updates = Seq(("chr1", 0L, "NEW"), ("chr1", 1000L, "ADDED"))
      .toDF("chrom", "pos", "payload")
    val v = ManifestLake.upsert(spark, dir, updates,
      partitionCols = Seq("chrom"), keyCols = Seq("chrom", "pos"))
    assert(v === 2L)

    val now = ManifestLake.read(spark, dir)
    assert(now.count() === 91) // 90 + 1 new key
    val byKey = now.collect()
      .map(r => (r.getAs[String]("chrom"), r.getAs[Long]("pos")) -> r.getAs[String]("payload"))
      .toMap
    assert(byKey(("chr1", 0L)) === "NEW")
    assert(byKey(("chr1", 1000L)) === "ADDED")
    assert(byKey(("chr1", 3L)) === "old3")   // untouched key in the touched partition
    assert(byKey(("chr2", 1L)) === "old1")   // untouched partition intact

    // untouched partitions carried BY REFERENCE: their v1 file paths
    // appear verbatim in v2's manifest (zero rewrite I/O)
    val v2Files = manifestPaths(2L)
    val untouchedV1 = v1Files.filterNot(_.contains("chrom=chr1"))
    assert(untouchedV1.nonEmpty && untouchedV1.forall(v2Files.contains))
    assert(!v2Files.exists(f => f.contains("chrom=chr1") && f.contains("v000001")))

    // the pre-merge version still serves
    assert(ManifestLake.readVersion(spark, dir, 1L).count() === 90)

    // non-key-unique batches refuse loudly
    intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir,
        Seq(("chr1", 7L, "a"), ("chr1", 7L, "b")).toDF("chrom", "pos", "payload"),
        Seq("chrom"), Seq("chrom", "pos"))
    }
    // …including on the TABLE-CREATING first batch: a duplicate key
    // that slipped into v1 would corrupt the first real merge with a
    // nondeterministic winner
    val fresh = freshDir("mlake-upsert-fresh")
    intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, fresh,
        Seq(("chr1", 7L, "a"), ("chr1", 7L, "b")).toDF("chrom", "pos", "payload"),
        Seq("chrom"), Seq("chrom", "pos"))
    }
    assert(ManifestLake.currentVersion(spark, fresh) === None)
  }

  test("manifest reads keep partition pruning: a partition filter reaches the scan") {
    import spark.implicits._
    val dir = freshDir("mlake-prune")
    val df = (0 until 60).map(i => (s"chr${i % 3 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    val filtered = ManifestLake.read(spark, dir).where(col("chrom") === "chr2")
    assert(filtered.count() === 20)
    // the partition filter must prune at the file index, not post-scan:
    // the manifest-fed FileIndex evaluates partition predicates against
    // its typed partition values inside listFiles
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("chrom"),
      s"partition filter should prune at the scan:\n$plan")
    // data filters reach the parquet reader (row-group stats pruning)…
    val dataFiltered = ManifestLake.read(spark, dir).where(col("pos") > 40L)
    val dfPlan = dataFiltered.queryExecution.executedPlan.toString
    assert(dfPlan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("GreaterThan(pos,40)"),
      s"data filter should push to parquet:\n$dfPlan")
    assert(dataFiltered.count() === 19)
    // …and a narrow projection prunes the read schema to the columns used
    val narrow = ManifestLake.read(spark, dir).select(col("pos"))
    val nPlan = narrow.queryExecution.executedPlan.toString
    assert(nPlan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1").contains("pos") &&
      !nPlan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1").contains("payload"),
      s"projection should prune the scan schema:\n$nPlan")
  }

  test("single-scan read: a 200-commit table plans ONE scan node and matches the grouped union read") {
    import spark.implicits._
    val dir = freshDir("mlake-manycommits")
    // minute-cadence ingest shape: one small append per commit — the
    // workload that used to accrete one union arm (and one listing/
    // inference pass) per commit into every read's plan
    (1 to 200).foreach { i =>
      val df = Seq((s"chr${i % 4 + 1}", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
      ManifestLake.write(spark, df, dir, Seq("chrom"), replace = i == 1)
    }
    assert(ManifestLake.currentVersion(spark, dir) === Some(200L))
    val r = ManifestLake.read(spark, dir)
    // O(1) in commit count: exactly one leaf (scan) in the plan
    assert(r.queryExecution.optimizedPlan.collectLeaves().size === 1,
      s"expected one scan node:\n${r.queryExecution.optimizedPlan}")
    assert(r.count() === 200)
    // row-for-row identical to the per-commit grouped union
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 200L)
    val grouped = readFilesGrouped(root, m.files.map(_.path))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("chrom"), col("pos"), col("payload"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(rows(r) === rows(grouped))
    // and partition pruning still prunes to the 50 matching commits' files
    assert(r.where(col("chrom") === "chr2").count() === 50)
  }

  test("publish is no-overwrite: the loser of a same-version commit race fails typed, nothing clobbered") {
    import spark.implicits._
    val dir = freshDir("mlake-race")
    val a = Seq(("chr1", 1L, "from-A")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, a, dir, Seq("chrom"))
    // two committers both resolve next-version = 2; B publishes first…
    val b = Seq(("chr1", 2L, "from-B")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, b, dir, Seq("chrom"))
    // …and A, arriving second with the same computed version, must fail
    // TYPED at publish — not silently replace B's commit
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val before = ManifestLake.read(spark, dir).collect().toSeq
    intercept[IllegalStateException] {
      ManifestLake.publish(fs, root, 2L, ManifestLake.Manifest(a.schema, Seq("chrom"),
        Seq(ManifestLake.LiveFile(0L, "data/v000099/chrom=chr1/ghost.parquet"))))
    }
    // winner intact at v2, v1 still time-travels
    assert(ManifestLake.read(spark, dir).collect().toSeq === before)
    assert(ManifestLake.readVersion(spark, dir, 1L)
      .select("payload").collect().map(_.getString(0)).toSeq === Seq("from-A"))
    // and no stray staging file left behind
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_manifest/.tmp-v000002.list")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir, "_manifest/.tmp-v000002.list.gz")))
  }

  test("an empty version reads with the TABLE schema, not zero columns") {
    import spark.implicits._
    val dir = freshDir("mlake-typed-empty")
    val df = Seq(("chr1", 1L, "a")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    ManifestLake.write(spark, df.where(lit(false)), dir, Seq("chrom"))
    val r = ManifestLake.read(spark, dir)
    assert(r.schema.fieldNames.toSeq === Seq("chrom", "pos", "payload"))
    // callers can keep querying the table's columns on the empty version
    assert(r.where(col("chrom") === "chr1").groupBy(col("chrom"))
      .agg(sum(col("pos"))).count() === 0)
  }

  test("append with a drifted shape fails loudly instead of null-casting") {
    import spark.implicits._
    val dir = freshDir("mlake-drift")
    // v1's partition values all look numeric — the inference trap
    val v1 = Seq((1, 10L, "a"), (2, 20L, "b")).toDF("lang", "pos", "payload")
    ManifestLake.write(spark, v1, dir, Seq("lang"))
    // appending an alphanumeric lang (string) must be a typed refusal,
    // not a silent cast-to-null of the partition column
    val drifted = Seq(("en", 30L, "c")).toDF("lang", "pos", "payload")
    intercept[IllegalArgumentException] {
      ManifestLake.write(spark, drifted, dir, Seq("lang"), replace = false)
    }
    // different partition columns are refused too
    intercept[IllegalArgumentException] {
      ManifestLake.write(spark, v1, dir, Seq("pos"), replace = false)
    }
    // the recorded schema is authoritative: lang reads back int
    assert(ManifestLake.read(spark, dir).schema("lang").dataType
      === org.apache.spark.sql.types.IntegerType)
    // upserts hold the same line
    intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir, drifted, Seq("lang"), Seq("lang", "pos"))
    }
  }

  test("txn ledger: replayed (appId, batchId) commits are skipped; the ledger survives compact and replace") {
    import spark.implicits._
    val dir = freshDir("mlake-txn")
    val b0 = (0 until 40).map(i => (s"chr${i % 2 + 1}", i.toLong, s"x$i"))
      .toDF("chrom", "pos", "payload")
    // batch 0 creates the table (fragmented, so the later compact has
    // real work) and records the watermark
    assert(ManifestLake.write(spark, b0.repartition(6), dir, Seq("chrom"),
      txn = Some(("ingest", 0L))) === 1L)
    assert(ManifestLake.lastCommitted(spark, dir, "ingest") === Some(0L))
    // a REPLAY of batch 0 (same appId+batchId) publishes NOTHING
    val upd = Seq(("chr1", 1L, "SHOULD-NOT-LAND")).toDF("chrom", "pos", "payload")
    assert(ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"),
      txn = Some(("ingest", 0L))) === 1L)
    assert(ManifestLake.currentVersion(spark, dir) === Some(1L))
    assert(ManifestLake.read(spark, dir).where(col("payload") === "SHOULD-NOT-LAND").count() === 0)
    // the NEXT batch commits normally
    assert(ManifestLake.upsert(spark, dir, upd.withColumn("payload", lit("b1")),
      Seq("chrom"), Seq("chrom", "pos"), txn = Some(("ingest", 1L))) === 2L)
    assert(ManifestLake.lastCommitted(spark, dir, "ingest") === Some(1L))
    // compaction must CARRY the ledger — otherwise maintenance would
    // reopen the door to replays
    val report = ManifestLake.compact(spark, dir, targetBytes = 1L << 30)
    assert(report.nonEmpty)
    assert(ManifestLake.lastCommitted(spark, dir, "ingest") === Some(1L))
    assert(ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"),
      txn = Some(("ingest", 1L))) === ManifestLake.currentVersion(spark, dir).get)
    // a wholesale batch replace must not reset a stream's ledger either
    ManifestLake.write(spark, b0, dir, Seq("chrom"))
    assert(ManifestLake.lastCommitted(spark, dir, "ingest") === Some(1L))
    // independent writers keep independent watermarks
    assert(ManifestLake.lastCommitted(spark, dir, "other-app") === None)
  }

  test("maintain: one call compacts fragmented partitions and vacuums superseded files") {
    import spark.implicits._
    val dir = freshDir("mlake-maintain")
    val df = (0 until 200).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df.repartition(6), dir, Seq("chrom"))
    val expected = ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq
    val (compacted, removed) = ManifestLake.maintain(spark, dir,
      targetBytes = 1L << 30, keepVersions = 1, clusterBy = Seq("pos"))
    assert(compacted === 2)     // both partitions were 6-way fragmented
    assert(removed > 0)         // superseded v1 files + manifest reclaimed
    assert(ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq === expected)
    // steady state: nothing left to do
    assert(ManifestLake.maintain(spark, dir, targetBytes = 1L << 30,
      keepVersions = 1) === ((0, 0)))
  }

  test("file-level data skipping: manifest [min,max] stats prune files at planning") {
    import spark.implicits._
    val dir = freshDir("mlake-skip")
    val df = (0 until 200).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    // range-cluster on pos so files carry DISJOINT pos ranges — the
    // layout stats skipping exists for
    ManifestLake.write(spark,
      df.repartitionByRange(4, col("pos")).sortWithinPartitions(col("pos")),
      dir, Seq("chrom"), statsCols = Seq("pos", "payload"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 1L)
    assert(m.files.nonEmpty && m.files.forall(_.stats.contains("pos")),
      "every staged file should carry pos stats")
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      // collect() executes THIS Dataset's physical plan (count() would
      // plan a separate aggregation whose scan metrics we can't see)
      val n = filtered.collect().length.toLong
      val scan = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (n, scan.metrics("numFiles").value)
    }
    val total = m.files.length
    // a high-pos filter must read a strict subset of files — skipped at
    // PLANNING from the manifest ranges, before any footer is opened
    val (nHigh, filesHigh) = filesRead(ManifestLake.read(spark, dir).where(col("pos") >= 150))
    assert(nHigh === 50)
    assert(filesHigh < total, s"expected file skipping: read $filesHigh of $total")
    // equality on a single value: at most one range file per chrom side
    val (nEq, filesEq) = filesRead(ManifestLake.read(spark, dir).where(col("pos") === 7))
    assert(nEq === 1)
    assert(filesEq <= 2)
    // a filter no file can satisfy plans an empty scan — and still
    // answers correctly
    val (nNone, filesNone) = filesRead(ManifestLake.read(spark, dir).where(col("pos") > 10000))
    assert(nNone === 0 && filesNone === 0)
    // string stats prune too, and unsupported shapes stay conservative
    val (nStr, _) = filesRead(ManifestLake.read(spark, dir).where(col("payload") === "p7"))
    assert(nStr === 1)
    // LIKE-prefix is a recognized skip shape (binary prefix-range
    // intersection); results stay exact while some files drop
    val (nLike, filesLike) = filesRead(
      ManifestLake.read(spark, dir).where(col("payload").startsWith("p1")))
    assert(nLike === 111)
    assert(filesLike < total, s"prefix skip should prune: read $filesLike of $total")
    // a genuinely unrecognized shape (contains) still keeps every file
    val (nContains, filesContains) = filesRead(
      ManifestLake.read(spark, dir).where(col("payload").contains("p1")))
    assert(nContains === 111 && filesContains === total.toLong,
      "unrecognized predicate shapes must keep every file")
    // a stats-free write (default) keeps every file — skipping is opt-in
    val dir2 = freshDir("mlake-noskip")
    ManifestLake.write(spark, df.repartitionByRange(4, col("pos")), dir2, Seq("chrom"))
    val (_, filesNoStats) = filesRead(ManifestLake.read(spark, dir2).where(col("pos") >= 150))
    val total2 = ManifestLake.readManifest(
      ManifestLake.fsFor(spark, dir2)._1,
      ManifestLake.fsFor(spark, dir2)._2, 1L).files.length
    assert(filesNoStats === total2.toLong)
  }

  test("value-set skipping: equality and IN on a categorical column prune files bounds cannot") {
    import spark.implicits._
    val dir = freshDir("mlake-setskip")
    // `src` is categorical: 'code' only in pos [100, 150); everywhere
    // else the file holds BOTH 'book' and 'web' — so its [min, max]
    // bounds straddle 'code' alphabetically and bounds alone keep every
    // file. The membership test is what skips. `payload` is unique per
    // row (set overflows, none recorded); `blob` is low-cardinality but
    // long-valued (length guard refuses); `tail` is all-null in the
    // high-pos files (empty set, skip-bearing for equality).
    val df = (0 until 300).map(i => (s"chr${i % 2 + 1}", i.toLong)).toDF("chrom", "pos")
      .withColumn("src",
        when(col("pos").between(100, 149), lit("code"))
          .otherwise(when(pmod(col("pos"), lit(2)) === 0, lit("book")).otherwise(lit("web"))))
      .withColumn("payload", concat(lit("p"), col("pos")))
      .withColumn("blob", concat(lit("x" * 100), pmod(col("pos"), lit(3)).cast("string")))
      .withColumn("tail", when(col("pos") < 250, col("pos") * 3))
    ManifestLake.write(spark,
      df.repartitionByRange(6, col("pos")).sortWithinPartitions(col("pos")),
      dir, Seq("chrom"), statsCols = Seq("src", "payload", "blob", "tail", "pos"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 1L)
    assert(m.files.forall(_.valueSets.contains("src")),
      "categorical column must record value sets on every file")
    assert(m.files.forall(f => !f.valueSets.contains("payload")),
      "a high-cardinality column must record NO set (overflow)")
    assert(m.files.forall(f => !f.valueSets.contains("blob")),
      "long values must record NO set (length guard)")
    assert(m.files.exists(f => f.valueSets.get("tail").exists(_.isEmpty)),
      "an all-null file records the EMPTY set")
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = filtered.collect().length.toLong
      val scan = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (n, scan.metrics("numFiles").value)
    }
    val total = m.files.length
    val withCode = m.files.count(_.valueSets("src").contains("code"))
    assert(withCode < total, "fixture must have code-free files")
    // equality: only the files whose set holds 'code' plan
    val (nEq, fEq) = filesRead(ManifestLake.read(spark, dir).where(col("src") === "code"))
    assert(nEq === 50)
    assert(fEq <= withCode, s"set membership must prune: read $fEq, only $withCode hold 'code'")
    // IN: union of member files
    val (nIn, fIn) = filesRead(
      ManifestLake.read(spark, dir).where(col("src").isin("code", "nothing")))
    assert(nIn === 50 && fIn <= withCode)
    // prefix: no member starts with 'co' outside the code files
    val (nPre, fPre) = filesRead(
      ManifestLake.read(spark, dir).where(col("src").startsWith("co")))
    assert(nPre === 50 && fPre <= withCode)
    // equality on the all-null column skips the empty-set files
    val (nTail, fTail) = filesRead(ManifestLake.read(spark, dir).where(col("tail") === 30))
    assert(nTail === 1 && fTail < total)
    // != against an all-null file: the empty set proves no match
    val allNullTail = m.files.count(f => f.valueSets.get("tail").exists(_.isEmpty))
    val (nNeq, fNeq) = filesRead(ManifestLake.read(spark, dir).where(col("tail") =!= -1))
    assert(nNeq === 250 && fNeq <= total - allNullTail)
    // compaction maintains the sets on rewritten files
    ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue)
    val m2 = ManifestLake.readManifest(fs, root, 2L)
    assert(m2.files.forall(_.valueSets.contains("src")),
      "compaction must re-collect value sets")
    val (nEq2, _) = filesRead(ManifestLake.read(spark, dir).where(col("src") === "code"))
    assert(nEq2 === 50)
  }

  test("skipping soundness sweep: randomized predicate shapes return identical rows with and without stats") {
    import spark.implicits._
    // the property the whole skipping stack must hold: stats change
    // COSTS, never RESULTS. A deterministic fuzz over predicate shapes
    // (=, !=, ranges, IN, prefix, null tests, conjunction/disjunction/
    // negation) compares a stats-tracked table against a stats-free
    // copy of the same rows — any divergence is an unsound skip.
    val statsDir = freshDir("mlake-sweep-stats")
    val bareDir = freshDir("mlake-sweep-bare")
    val df = (0 until 400).map { i =>
      (s"chr${i % 2 + 1}",
        i.toLong,
        if (i % 7 == 0) null else s"src${i % 5}",
        if (i % 11 == 0) null else s"pay-$i",
        if (i % 13 == 0) -0.0 else i / 10.0,
        i % 3 == 0)
    }.toDF("chrom", "pos", "src", "payload", "score", "flag")
    val clustered = df.repartitionByRange(6, col("pos")).sortWithinPartitions(col("pos"))
    ManifestLake.write(spark, clustered, statsDir, Seq("chrom"),
      statsCols = Seq("pos", "src", "payload", "score", "flag"))
    ManifestLake.write(spark, clustered, bareDir, Seq("chrom"))
    val rnd = new scala.util.Random(42)
    // type-matched literals — ANSI mode makes a cross-type equality a
    // runtime cast error, which is not the layer under test
    def litFor(c: String): Any = c match {
      case "chrom" => s"chr${rnd.nextInt(4)}"
      case "pos" => rnd.nextLong() % 500
      case "src" => s"src${rnd.nextInt(7)}"
      case "payload" => s"pay-${rnd.nextInt(500)}"
      case "score" => if (rnd.nextInt(5) == 0) 0.0 else rnd.nextInt(50) / 10.0
      case _ => rnd.nextBoolean()
    }
    val cols = Seq("chrom", "pos", "src", "payload", "score", "flag")
    def leaf(): org.apache.spark.sql.Column = {
      val name = cols(rnd.nextInt(cols.length))
      val c = col(name)
      rnd.nextInt(9) match {
        case 0 => c === lit(litFor(name))
        case 1 => c =!= lit(litFor(name))
        case 2 => c < lit(litFor(name))
        case 3 => c >= lit(litFor(name))
        case 4 => c.isin(litFor(name), litFor(name), litFor(name))
        case 5 => c.cast("string").startsWith(s"s${rnd.nextInt(3)}")
        case 6 => c.isNull
        case 7 => c.isNotNull
        case _ => !(c === lit(litFor(name)))
      }
    }
    def pred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextBoolean()) pred(depth - 1) && pred(depth - 1)
      else pred(depth - 1) || pred(depth - 1)
    def rowsOf(dir: String, p: org.apache.spark.sql.Column): Seq[String] =
      ManifestLake.read(spark, dir).where(p)
        .select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    (1 to 40).foreach { i =>
      val p = pred(2)
      val a = rowsOf(statsDir, p)
      val b = rowsOf(bareDir, p)
      assert(a === b, s"case $i diverged under predicate: ${p.toString}")
    }
  }

  test("post-widen skipping soundness: stats recorded under the narrow type never change results served wide") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, DecimalType}
    // The widen hazard: min/max, value sets, and blooms were rendered
    // under the NARROW type; after widenColumnType the reader serves
    // values under the WIDE type and probes compare against wide
    // literals. int->long and same-scale decimal growth render
    // identically (stats survive); float->double strips the column's
    // bounds/sets and untracks its bloom (rendering changes). Either
    // way the fuzz property is the same: a stats-tracked widened table
    // and a bare widened copy must agree on every predicate.
    val statsDir = freshDir("mlake-widen-sweep-stats")
    val bareDir = freshDir("mlake-widen-sweep-bare")
    val df = (0 until 300).map { i =>
      (s"chr${i % 2 + 1}", i,
        if (i % 9 == 0) null else java.lang.Float.valueOf((i % 40) / 3.0f),
        BigDecimal(i % 50).setScale(2),
        s"tag${i % 6}")
    }.toDF("chrom", "id", "ratio", "amount", "tag")
      .withColumn("amount", col("amount").cast(DecimalType(6, 2)))
    val clustered = df.repartitionByRange(5, col("id")).sortWithinPartitions(col("id"))
    ManifestLake.write(spark, clustered, statsDir, Seq("chrom"),
      statsCols = Seq("id", "ratio", "amount", "tag"), bloomCols = Seq("id", "tag"))
    ManifestLake.write(spark, clustered, bareDir, Seq("chrom"))
    Seq(statsDir, bareDir).foreach { d =>
      ManifestLake.widenColumnType(spark, d, "id", LongType)
      ManifestLake.widenColumnType(spark, d, "ratio", DoubleType)
      ManifestLake.widenColumnType(spark, d, "amount", DecimalType(12, 2))
    }
    // post-widen appends interleave wide-typed files with narrow ones
    val extra = Seq(
      ("chr1", 1000L, Some(13.25d), BigDecimal(999).setScale(2), "tag1"),
      ("chr2", 1001L, Option.empty[Double], BigDecimal(0).setScale(2), "tagX"))
      .toDF("chrom", "id", "ratio", "amount", "tag")
      .withColumn("amount", col("amount").cast(DecimalType(12, 2)))
    ManifestLake.write(spark, extra, statsDir, Seq("chrom"), replace = false,
      statsCols = Seq("id", "ratio", "amount", "tag"))
    ManifestLake.write(spark, extra, bareDir, Seq("chrom"), replace = false)
    val rnd = new scala.util.Random(7)
    def litFor(c: String): Any = c match {
      case "chrom" => s"chr${rnd.nextInt(3)}"
      case "id" => rnd.nextLong() % 1100
      // exact float-representable and non-representable doubles both
      case "ratio" => if (rnd.nextBoolean()) (rnd.nextInt(120) / 3.0f).toDouble
                      else rnd.nextInt(120) / 3.0
      case "amount" => BigDecimal(rnd.nextInt(1100)).setScale(2)
      case _ => s"tag${rnd.nextInt(8)}"
    }
    val cols = Seq("chrom", "id", "ratio", "amount", "tag")
    def leaf(): org.apache.spark.sql.Column = {
      val name = cols(rnd.nextInt(cols.length))
      val c = col(name)
      rnd.nextInt(8) match {
        case 0 => c === lit(litFor(name))
        case 1 => c =!= lit(litFor(name))
        case 2 => c < lit(litFor(name))
        case 3 => c >= lit(litFor(name))
        case 4 => c.isin(litFor(name), litFor(name), litFor(name))
        case 5 => c.isNull
        case 6 => c.isNotNull
        case _ => !(c === lit(litFor(name)))
      }
    }
    def pred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextBoolean()) pred(depth - 1) && pred(depth - 1)
      else pred(depth - 1) || pred(depth - 1)
    def rowsOf(dir: String, p: org.apache.spark.sql.Column): Seq[String] =
      ManifestLake.read(spark, dir).where(p)
        .select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    (1 to 40).foreach { i =>
      val p = pred(2)
      assert(rowsOf(statsDir, p) === rowsOf(bareDir, p),
        s"post-widen case $i diverged under predicate: ${p.toString}")
    }
  }

  test("null-count skipping: IS NULL / IS NOT NULL prune files from manifest null counts") {
    import spark.implicits._
    val dir = freshDir("mlake-nullskip")
    // `sparse` is non-null only for pos < 50; range-clustering on pos
    // concentrates the nulls so most files are ALL-null in sparse —
    // the sparse-annotation shape IS NOT NULL scans hit at scale.
    // `dense` is never null, so IS NULL on it matches nothing.
    val df = (0 until 200).map(i => (s"chr${i % 2 + 1}", i.toLong)).toDF("chrom", "pos")
      .withColumn("sparse", when(col("pos") < 50, col("pos") * 2))
      // nullable TYPE but never-null VALUES — a plain `pos + 1` would be
      // non-nullable and Catalyst would fold `IS NULL` to false before
      // the scan even plans, which is not the layer under test
      .withColumn("dense", when(col("pos") >= 0, col("pos") + 1))
    ManifestLake.write(spark,
      df.repartitionByRange(4, col("pos")).sortWithinPartitions(col("pos")),
      dir, Seq("chrom"), statsCols = Seq("sparse", "dense"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 1L)
    assert(m.files.nonEmpty && m.files.forall(f =>
      f.rows.nonEmpty && f.nullCounts.contains("sparse") && f.nullCounts.contains("dense")),
      "every staged file should carry row + null counts")
    // all-null files carry a null count (rows) but no bounds entry
    assert(m.files.exists(f => f.rows.exists(r => f.nullCounts("sparse") == r)
      && !f.stats.contains("sparse")),
      "expected at least one all-null-sparse file")
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = filtered.collect().length.toLong
      val scan = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (n, scan.metrics("numFiles").value)
    }
    val total = m.files.length
    // IS NOT NULL on the sparse column: all-null files provably cannot
    // match and drop at planning; results are exact
    val (nNotNull, fNotNull) = filesRead(
      ManifestLake.read(spark, dir).where(col("sparse").isNotNull))
    assert(nNotNull === 50)
    assert(fNotNull < total, s"IS NOT NULL should prune all-null files: $fNotNull of $total")
    // IS NULL on the never-null column plans an empty scan
    val (nNull, fNull) = filesRead(
      ManifestLake.read(spark, dir).where(col("dense").isNull))
    assert(nNull === 0 && fNull === 0)
    // IS NULL on the sparse column drops the fully-populated files
    val (nSparseNull, fSparseNull) = filesRead(
      ManifestLake.read(spark, dir).where(col("sparse").isNull))
    assert(nSparseNull === 150)
    assert(fSparseNull < total, s"IS NULL should prune no-null files: $fSparseNull of $total")
    // a stats-free table keeps every file for both predicate forms —
    // absent counts mean unknown, never skip
    val dir2 = freshDir("mlake-nullskip-bare")
    ManifestLake.write(spark, df.repartitionByRange(4, col("pos")), dir2, Seq("chrom"))
    val m2 = ManifestLake.readManifest(
      ManifestLake.fsFor(spark, dir2)._1, ManifestLake.fsFor(spark, dir2)._2, 1L)
    val (n2, f2) = filesRead(ManifestLake.read(spark, dir2).where(col("sparse").isNotNull))
    assert(n2 === 50 && f2 === m2.files.length.toLong,
      "files lacking null counts must all be kept")
  }

  test("data skipping is sound on signed zero: a file whose stats are -0.0 is kept for = 0.0") {
    import spark.implicits._
    val dir = freshDir("mlake-negzero")
    // v1's score column is ALL -0.0 — its recorded [min,max] is
    // [-0.0, -0.0]. Under the raw interpreted (total) ordering,
    // -0.0 < 0.0, so `score = 0.0` / `score >= 0.0` would wrongly
    // prove the file can't match and skip it — but SQL comparison
    // says -0.0 == 0.0, so every v1 row DOES match. Stats must be
    // correctness-neutral.
    val v1 = (0 until 10).map(i => ("a", i.toLong, -0.0d)).toDF("part", "id", "score")
    ManifestLake.write(spark, v1.coalesce(1), dir, Seq("part"), statsCols = Seq("score"))
    val v2 = (10 until 15).map(i => ("a", i.toLong, 5.0d)).toDF("part", "id", "score")
    ManifestLake.write(spark, v2.coalesce(1), dir, Seq("part"),
      replace = false, statsCols = Seq("score"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 2L)
    assert(m.files.forall(_.stats.contains("score")))
    // write-side normalization: the -0.0 file's recorded bounds are +0.0
    assert(m.files.flatMap(_.stats.get("score")).contains(("0.0", "0.0")))
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = filtered.collect().length.toLong
      val scan = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (n, scan.metrics("numFiles").value)
    }
    // Spark's own parquet ROW-GROUP pruning has the same total-order
    // wart (a row group whose footer stats are [-0.0,-0.0] is dropped
    // for `= 0.0` — upstream, below this engine's layer), so isolate
    // the manifest layer by disabling parquet pushdown for the row
    // counts; the numFiles metric pins that OUR planner kept the file.
    val pd = spark.conf.get("spark.sql.parquet.filterPushdown")
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try {
      val (nEq, fEq) = filesRead(ManifestLake.read(spark, dir).where(col("score") === 0.0d))
      assert(nEq === 10)
      // the -0.0 file survives the = 0.0 check; the [5.0, 5.0] file is
      // provably out of range and is the one file skipped
      assert(fEq === 1, "the -0.0 file must survive the = 0.0 skip check")
      val (nGe, fGe) = filesRead(ManifestLake.read(spark, dir).where(col("score") >= 0.0d))
      assert(nGe === 15)
      assert(fGe === 2)
      assert(ManifestLake.read(spark, dir).where(col("score") <= lit(-0.0d)).count() === 10)
      // and the skip still fires where it is provable
      val (nHi, fHi) = filesRead(ManifestLake.read(spark, dir).where(col("score") > 1.0d))
      assert(nHi === 5)
      assert(fHi === 1, "the all-zero file is provably out of range for > 1.0")
    } finally spark.conf.set("spark.sql.parquet.filterPushdown", pd)
  }

  test("additive schema evolution: a superset append widens the header; old files read typed nulls") {
    import spark.implicits._
    val dir = freshDir("mlake-evolve")
    val v1 = (0 until 20).map(i => (s"chr${i % 2 + 1}", i.toLong)).toDF("chrom", "pos")
    ManifestLake.write(spark, v1, dir, Seq("chrom"), statsCols = Seq("pos"))
    // v2 appends with a NEW column — a header change, not a rewrite
    val v2 = (20 until 30).map(i => (s"chr${i % 2 + 1}", i.toLong, i * 0.5))
      .toDF("chrom", "pos", "score")
    assert(ManifestLake.write(spark, v2.coalesce(1), dir, Seq("chrom"),
      replace = false, statsCols = Seq("pos", "score")) === 2L)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 2L)
    assert(m.schema.fieldNames.toSeq === Seq("chrom", "pos", "score"))
    val r = ManifestLake.read(spark, dir)
    // single scan node, widened schema, v1 rows serve score as null
    assert(r.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.length === 1)
    assert(r.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    assert(r.count() === 30)
    assert(r.where(col("score").isNull).count() === 20)
    assert(r.where(col("score").isNotNull).agg(min("score")).head.getDouble(0) === 10.0)
    // data skipping on the NEW column works for the files that have it
    // (v1 files carry no score stat — unknown never skips them for
    // score predicates, but their null rows don't match anyway)
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = filtered.collect().length.toLong
      val scan = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (n, scan.metrics("numFiles").value)
    }
    val total = m.files.length
    val (nHi, fHi) = filesRead(r.where(col("pos") >= 25))
    assert(nHi === 5)
    assert(fHi < total, "pos skipping must still prune after evolution")
    // an OLD-shape append (missing the new column) fails loudly now
    intercept[IllegalArgumentException] {
      ManifestLake.write(spark, v1, dir, Seq("chrom"), replace = false)
    }
    // a type-CHANGING append still fails loudly
    intercept[IllegalArgumentException] {
      ManifestLake.write(spark,
        Seq(("chr1", "oops", 1.0)).toDF("chrom", "pos", "score"),
        dir, Seq("chrom"), replace = false)
    }
    // and adding a PARTITION column is refused
    intercept[IllegalArgumentException] {
      ManifestLake.write(spark,
        Seq(("chr1", 99L, 1.0, "x")).toDF("chrom", "pos", "score", "extra"),
        dir, Seq("chrom", "extra"), replace = false)
    }
  }

  test("additive schema evolution through upsert: merge against old files' typed nulls") {
    import spark.implicits._
    val dir = freshDir("mlake-evolve-up")
    val v1 = (0 until 10).map(i => ("a", i.toLong, s"p$i")).toDF("part", "id", "payload")
    ManifestLake.write(spark, v1, dir, Seq("part"))
    // upsert with an extra column: existing key 3 gains a score, new
    // key 100 arrives with one; untouched rows read score as null
    val up = Seq(("a", 3L, "p3-new", 0.9), ("a", 100L, "p100", 0.1))
      .toDF("part", "id", "payload", "score")
    assert(ManifestLake.upsert(spark, dir, up, Seq("part"), Seq("part", "id")) === 2L)
    val r = ManifestLake.read(spark, dir)
    assert(r.schema.fieldNames.toSeq === Seq("part", "id", "payload", "score"))
    assert(r.count() === 11)
    assert(r.where(col("id") === 3L).head.getAs[String]("payload") === "p3-new")
    assert(r.where(col("id") === 3L).head.getAs[Double]("score") === 0.9)
    assert(r.where(col("score").isNull).count() === 9)
    // the widened header is recorded: a subsequent same-shape append works
    val more = Seq(("a", 200L, "p200", 0.2)).toDF("part", "id", "payload", "score")
    assert(ManifestLake.write(spark, more, dir, Seq("part"), replace = false) === 3L)
    assert(ManifestLake.read(spark, dir).count() === 12)
  }

  test("a headerless legacy manifest refuses an append whose shape disagrees with the files") {
    import spark.implicits._
    val dir = freshDir("mlake-legacy")
    val v1 = (0 until 20).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, v1, dir, Seq("chrom"))
    // strip the header directives AND the gzip encoding — the literal
    // artifact a pre-header, pre-compression writer left behind (plain
    // `.list`, files only, no recorded schema)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    ForeignManifests.replaceWithPlain(fs, root, 1L, ForeignManifests.dataLines(fs, root, 1L))

    // an append whose shape disagrees with what the legacy files hold
    // must be refused
    val drifted = Seq(("chr1", "not-a-long", "x", 1.5))
      .toDF("chrom", "pos", "payload", "extra")
    intercept[IllegalArgumentException] {
      ManifestLake.write(spark, drifted, dir, Seq("chrom"), replace = false)
    }
    intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir,
        Seq(("chr1", "s", "x", 1.5)).toDF("chrom", "pos", "payload", "extra"),
        Seq("chrom"), Seq("chrom", "pos"))
    }
    // …and so must one whose shape and partitioning match: a foreign
    // manifest is never adopted, whatever the batch
    val ok = Seq(("chr1", 100L, "new")).toDF("chrom", "pos", "payload")
    val eOk = intercept[IllegalArgumentException] {
      ManifestLake.write(spark, ok, dir, Seq("chrom"), replace = false)
    }
    assert(eOk.getMessage.contains("plain .list"))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "_manifest"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq === Seq("v000001.list"))
  }

  test("a foreign manifest (headerless, or plain .list) refuses read, append and currentVersion; no write publishes beside it") {
    import spark.implicits._
    def batch(lo: Int, hi: Int) = (lo until hi).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    Seq("headerless", "plain").foreach { kind =>
      val dir = freshDir(s"mlake-foreign-$kind")
      ManifestLake.write(spark, batch(0, 10), dir, Seq("chrom"))
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      // the headerless form keeps the gz encoding and loses the header;
      // the plain form keeps the header and loses the gz encoding
      if (kind == "headerless")
        ForeignManifests.write(fs, root, 1L, ForeignManifests.dataLines(fs, root, 1L), gzip = true)
      else ForeignManifests.replaceWithPlain(fs, root, 1L, ForeignManifests.lines(fs, root, 1L))
      val mdir = new org.apache.hadoop.fs.Path(root, "_manifest")
      def listing = fs.listStatus(mdir).map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq
      val before = listing
      val word = if (kind == "headerless") "schema header" else "plain .list"
      def refuses(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains(word), s"$kind $what: ${e.getMessage}")
      }
      refuses("read")(ManifestLake.read(spark, dir))
      refuses("readVersion")(ManifestLake.readVersion(spark, dir, 1L))
      refuses("append")(ManifestLake.write(spark, batch(10, 12), dir, Seq("chrom"), replace = false))
      refuses("replace")(ManifestLake.write(spark, batch(10, 12), dir, Seq("chrom")))
      refuses("upsert")(ManifestLake.upsert(spark, dir, batch(0, 2), Seq("chrom"), Seq("chrom", "pos")))
      refuses("delete")(ManifestLake.delete(spark, dir, col("pos") === 1L))
      // never "no table": that would let the next write publish a new v1
      if (kind == "plain") refuses("currentVersion")(ManifestLake.currentVersion(spark, dir))
      else assert(ManifestLake.currentVersion(spark, dir) === Some(1L))
      assert(listing === before, s"$kind: a write published beside the foreign manifest")
    }
  }

  test("maintenance preserves stats: compact and upsert re-collect for rewritten files") {
    import spark.implicits._
    val dir = freshDir("mlake-statmaint")
    val df = (0 until 120).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df.repartition(6), dir, Seq("chrom"),
      statsCols = Seq("pos"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    assert(ManifestLake.readManifest(fs, root, 1L).files.forall(_.stats.contains("pos")))
    // compact rewrites every fragmented partition — stats must survive
    assert(ManifestLake.compact(spark, dir, targetBytes = 1L << 30,
      clusterBy = Seq("pos")).nonEmpty)
    val afterCompact = ManifestLake.readManifest(fs, root, 2L).files
    assert(afterCompact.nonEmpty && afterCompact.forall(_.stats.contains("pos")),
      s"compacted files must keep pos stats: $afterCompact")
    // upsert rewrites one partition — its new files carry stats too
    val upd = Seq(("chr1", 0L, "NEW")).toDF("chrom", "pos", "payload")
    ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"))
    val afterUpsert = ManifestLake.readManifest(fs, root, 3L).files
    assert(afterUpsert.forall(_.stats.contains("pos")),
      s"upserted files must keep pos stats: $afterUpsert")
    // and the ranges are still usable: a planned scan skips files
    val filtered = ManifestLake.read(spark, dir).where(col("pos") >= 100)
    assert(filtered.collect().length === 20)
  }

  test("restore re-publishes an old version as the head with zero data IO; ledger survives") {
    import spark.implicits._
    val dir = freshDir("mlake-restore")
    val good = Seq(("chr1", 1L, "good")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, good, dir, Seq("chrom"), txn = Some(("app", 5L)))
    val bad = Seq(("chr1", 1L, "BAD"), ("chr1", 2L, "WORSE")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, bad, dir, Seq("chrom"))
    assert(ManifestLake.read(spark, dir).count() === 2)
    // roll back: v3 = v1's exact live set, no files rewritten
    assert(ManifestLake.restore(spark, dir, 1L) === 3L)
    val r = ManifestLake.read(spark, dir).collect()
    assert(r.length === 1 && r.head.getAs[String]("payload") === "good")
    // the restored head re-references v1's files verbatim
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    assert(ManifestLake.readManifest(fs, root, 3L).files
      === ManifestLake.readManifest(fs, root, 1L).files)
    // the bad version remains for forensics until vacuum; ledger kept
    assert(ManifestLake.readVersion(spark, dir, 2L).count() === 2)
    assert(ManifestLake.lastCommitted(spark, dir, "app") === Some(5L))
    intercept[IllegalArgumentException] { ManifestLake.restore(spark, dir, 99L) }
  }

  test("versions() lists the time-travel surface; a missing version reads as a typed error") {
    import spark.implicits._
    val dir = freshDir("mlake-versions")
    val df = Seq(("chr1", 1L, "a")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    ManifestLake.write(spark, df, dir, Seq("chrom"), replace = false)
    val vs = ManifestLake.versions(spark, dir)
    assert(vs.map(_._1) === Seq(1L, 2L))
    assert(vs.head._2 === 1 && vs(1)._2 === 2)       // live file counts accrete
    assert(vs.forall(_._3 > 0L))                     // bytes ride the manifest
    assert(ManifestLake.versions(spark, dir + "-nope").isEmpty)
    val ex = intercept[IllegalArgumentException] {
      ManifestLake.readVersion(spark, dir, 9L)
    }
    assert(ex.getMessage.contains("available: 1, 2"))
  }

  test("missing and empty tables read as empty; an empty manifest version is defined") {
    import spark.implicits._
    val dir = freshDir("mlake-empty")
    // no table at all
    assert(ManifestLake.currentVersion(spark, dir) === None)
    assert(ManifestLake.read(spark, dir).count() === 0)
    // a published version whose manifest lists nothing (a replace with
    // an empty frame) is a defined state: the table IS empty at v2 and
    // v1 remains readable underneath
    val df = Seq(("chr1", 1L, "a")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    ManifestLake.write(spark, df.where(lit(false)), dir, Seq("chrom"))
    assert(ManifestLake.currentVersion(spark, dir) === Some(2L))
    assert(ManifestLake.read(spark, dir).count() === 0)
    assert(ManifestLake.readVersion(spark, dir, 1L).count() === 1)
  }

  test("history() narrates the commit log: kinds, sizes, and the txn ledger") {
    import spark.implicits._
    val dir = freshDir("mlake-history")
    val df = (0 until 20).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    ManifestLake.write(spark, df.where(col("pos") < 5), dir, Seq("chrom"),
      replace = false, txn = Some(("ingest", 7L)))
    ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue)
    ManifestLake.restore(spark, dir, 2L)
    val h = ManifestLake.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(4)))
    assert(h.map(x => (x._1, x._2)).toSeq ===
      Seq((1L, "replace"), (2L, "append"), (3L, "compact"), (4L, "restore")))
    // the ledger rides every commit from the one that introduced it
    assert(h.drop(1).forall(_._3 == "ingest=7"))
    assert(h.head._3 === "")
  }

  test("LIKE-prefix predicates skip files on string stats") {
    import spark.implicits._
    val dir = freshDir("mlake-prefix")
    def keyed(prefix: String) =
      (0 until 10).map(i => (s"$prefix$i", i.toLong)).toDF("k", "v").coalesce(1)
    ManifestLake.write(spark, keyed("alpha"), dir, Seq.empty, statsCols = Seq("k"))
    ManifestLake.write(spark, keyed("mike"), dir, Seq.empty,
      replace = false, statsCols = Seq("k"))
    ManifestLake.write(spark, keyed("zulu"), dir, Seq.empty,
      replace = false, statsCols = Seq("k"))
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = filtered.collect().length.toLong
      val scans = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      (n, scans.headOption.map(_.metrics("numFiles").value).getOrElse(0L))
    }
    val (nMi, fMi) = filesRead(ManifestLake.read(spark, dir).where(col("k").startsWith("mi")))
    assert(nMi === 10)
    assert(fMi === 1, s"LIKE 'mi%' must plan only the mike file, read $fMi of 3")
    // a prefix EQUAL to a bound stays in ([alpha0, alpha9] matches 'alpha%')
    val (nAl, fAl) = filesRead(ManifestLake.read(spark, dir).where(col("k").startsWith("alpha")))
    assert(nAl === 10 && fAl === 1)
    // a prefix between files' ranges planning zero files is still correct
    val (nNone, _) = filesRead(ManifestLake.read(spark, dir).where(col("k").startsWith("beta")))
    assert(nNone === 0)
  }

  test("change feed: appended rows exactly; anything non-append in range is a typed refusal") {
    import spark.implicits._
    val dir = freshDir("mlake-cdf")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, batch(0, 20), dir, Seq("chrom"))                  // v1 replace
    ManifestLake.write(spark, batch(20, 30), dir, Seq("chrom"), replace = false) // v2 append
    ManifestLake.write(spark, batch(30, 45), dir, Seq("chrom"), replace = false) // v3 append
    // consumer checkpointed at v1 sees exactly v2+v3's rows
    val changes = ManifestLake.readChanges(spark, dir, 1L, 3L)
    assert(changes.count() === 25)
    assert(changes.select("chrom", "pos", "payload").except(batch(20, 45)).isEmpty)
    assert(batch(20, 45).except(changes.select("chrom", "pos", "payload")).isEmpty)
    // fromV = 0 = everything; a single-version window = that batch
    assert(ManifestLake.readChanges(spark, dir, 0L, 3L).count() === 45)
    assert(ManifestLake.readChanges(spark, dir, 2L, 3L).count() === 15)
    // a mid-table REPLACE is refused (rows rewritten); the table-
    // creating v1 replace is fine — it appended to nothing, which is
    // what made fromV = 0 above legal
    val dir2 = freshDir("mlake-cdf-replace")
    ManifestLake.write(spark, batch(0, 10), dir2, Seq("chrom"))
    ManifestLake.write(spark, batch(0, 5), dir2, Seq("chrom")) // v2 replace
    val eReplace = intercept[IllegalArgumentException] {
      ManifestLake.readChanges(spark, dir2, 1L, 2L)
    }
    assert(eReplace.getMessage.contains("replace"))
    // a compact in range is refused — its rewrite would read as adds
    ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue) // v4
    val eCompact = intercept[IllegalArgumentException] {
      ManifestLake.readChanges(spark, dir, 1L, 4L)
    }
    assert(eCompact.getMessage.contains("compact"))
    // …but a feed ENDING before it still serves, and one starting AT it too
    assert(ManifestLake.readChanges(spark, dir, 1L, 3L).count() === 25)
    ManifestLake.write(spark, batch(45, 50), dir, Seq("chrom"), replace = false) // v5
    assert(ManifestLake.readChanges(spark, dir, 4L, 5L).count() === 5)
    // an untagged legacy manifest cannot prove it was an append
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m5 = ManifestLake.readManifest(fs, root, 5L)
    ManifestLake.publish(fs, root, 6L,
      ManifestLake.Manifest(m5.schema, m5.partCols, m5.files, m5.txns))
    val eLegacy = intercept[IllegalArgumentException] {
      ManifestLake.readChanges(spark, dir, 4L, 6L)
    }
    assert(eLegacy.getMessage.contains("legacy"))
    // a vacuumed fromV names what is available instead of diffing air
    intercept[IllegalArgumentException] {
      ManifestLake.readChanges(spark, dir, 99L, 100L)
    }
  }

  test("row-level change feed: upserts serve exact pre/post images, appends are inserts, compact is zero changes") {
    import spark.implicits._
    val dir = freshDir("mlake-rowcdf")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"chr${i % 2 + 1}", i.toLong, s"old$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, batch(0, 20), dir, Seq("chrom"))                   // v1 replace (creates)
    ManifestLake.write(spark, batch(20, 30), dir, Seq("chrom"), replace = false) // v2 append
    val updates = Seq(
      ("chr1", 0L, "NEW0"), ("chr2", 1L, "NEW1"),   // rewrite existing keys
      ("chr1", 1000L, "ADDED"))                     // brand-new key
      .toDF("chrom", "pos", "payload")
    assert(ManifestLake.upsert(spark, dir, updates, Seq("chrom"), Seq("chrom", "pos")) === 3L)
    ManifestLake.write(spark, batch(30, 35), dir, Seq("chrom"), replace = false) // v4 append
    // the append fragmented every partition, so this compacts for real
    assert(ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue).nonEmpty) // v5 layout-only

    val feed = ManifestLake.readChangeFeed(spark, dir, 0L, 5L)
    assert(feed.columns.toSeq === Seq("chrom", "pos", "payload", "_change_type", "_commit_version"))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("insert" -> 36L, "update_preimage" -> 2L, "update_postimage" -> 2L),
      s"got $byType")
    // the upsert's deltas are EXACT rows, stamped with its version
    val v3 = feed.where(col("_commit_version") === 3L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(v3 === Set(
      ("chr1", 0L, "old0", "update_preimage"), ("chr2", 1L, "old1", "update_preimage"),
      ("chr1", 0L, "NEW0", "update_postimage"), ("chr2", 1L, "NEW1", "update_postimage"),
      ("chr1", 1000L, "ADDED", "insert")))
    // appends stamp their version; compaction contributes nothing
    assert(feed.where(col("_commit_version") === 2L).count() === 10)
    assert(feed.where(col("_commit_version") === 5L).count() === 0)
    // a compact-only window is an EMPTY frame with the feed schema
    val quiet = ManifestLake.readChangeFeed(spark, dir, 4L, 5L)
    assert(quiet.count() === 0 && quiet.columns.contains("_change_type"))
    // an upsert into a partition that does not exist yet is all inserts
    val fresh = Seq(("chr9", 1L, "solo")).toDF("chrom", "pos", "payload")
    assert(ManifestLake.upsert(spark, dir, fresh, Seq("chrom"), Seq("chrom", "pos")) === 6L)
    val v6 = ManifestLake.readChangeFeed(spark, dir, 5L, 6L).collect()
    assert(v6.length === 1 && v6.head.getAs[String]("_change_type") === "insert")
    // a reserved metadata column name refuses before any work
    val clash = Seq(("chr1", 1L, "x", "y")).toDF("chrom", "pos", "payload", "_change_type")
    val eClash = intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir, clash, Seq("chrom"), Seq("chrom", "pos"))
    }
    assert(eClash.getMessage.contains("reserved"))
    // an upsert whose change files are GONE (stamped before the feature,
    // or vacuumed) is a typed refusal, skippable explicitly
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir,
      ManifestLake.readManifest(fs, root, 3L).cdf.get), true)
    val eNoCdf = intercept[IllegalArgumentException] {
      ManifestLake.readChangeFeed(spark, dir, 2L, 3L)
    }
    assert(eNoCdf.getMessage.contains("change files"))
    assert(ManifestLake.readChangeFeed(spark, dir, 2L, 3L, skipUnresolved = true).count() === 0)
    // a mid-range replace refuses (rows rewritten, no recorded deltas)
    ManifestLake.write(spark, batch(0, 3), dir, Seq("chrom"))                    // v7 replace
    val eReplace = intercept[IllegalArgumentException] {
      ManifestLake.readChangeFeed(spark, dir, 5L, 7L)
    }
    assert(eReplace.getMessage.contains("replace"))
    assert(ManifestLake.readChangeFeed(spark, dir, 5L, 7L, skipUnresolved = true)
      .count() === 1) // v6's insert survives the skip; v7 contributes nothing
    ()
  }

  test("row-level change feed: widening upserts serve older versions' rows as typed nulls") {
    import spark.implicits._
    val dir = freshDir("mlake-rowcdf-widen")
    val base = Seq(("chr1", 1L, "a"), ("chr1", 2L, "b")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, base, dir, Seq("chrom"))                           // v1
    val widened = Seq(("chr1", 1L, "a2", 0.9), ("chr1", 3L, "c", 0.5))
      .toDF("chrom", "pos", "payload", "score")
    assert(ManifestLake.upsert(spark, dir, widened, Seq("chrom"), Seq("chrom", "pos")) === 2L)
    val feed = ManifestLake.readChangeFeed(spark, dir, 0L, 2L)
    // head-order columns, with the pre-widening rows null in the new one
    assert(feed.columns.toSeq === Seq("chrom", "pos", "payload", "score", "_change_type", "_commit_version"))
    val rows = feed.collect().map(r => (r.getLong(1), r.getString(2),
      Option(r.get(3)), r.getString(4), r.getLong(5))).toSet
    assert(rows === Set(
      (1L, "a", None, "insert", 1L),
      (2L, "b", None, "insert", 1L),
      (1L, "a", None, "update_preimage", 2L),
      (1L, "a2", Some(0.9), "update_postimage", 2L),
      (3L, "c", Some(0.5), "insert", 2L)))
  }

  test("vacuum retains change files exactly as long as their version: kept versions keep serving, reaped ones refuse") {
    import spark.implicits._
    // CheckpointInterval=1 → every commit is a full snapshot, so no
    // kept version chains through a below-horizon base: this test pins
    // the pure cdf-retention rule (ManifestDeltaSpec pins the chain
    // retention that otherwise keeps below-horizon versions alive)
    val prevCI = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 1
    try {
    val dir = freshDir("mlake-rowcdf-vacuum")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, batch(0, 10), dir, Seq("chrom"))                   // v1
    val upd = Seq(("chr1", 0L, "NEW")).toDF("chrom", "pos", "payload")
    ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"))      // v2 (stamps _cdf)
    ManifestLake.write(spark, batch(10, 12), dir, Seq("chrom"), replace = false) // v3
    ManifestLake.write(spark, batch(12, 14), dir, Seq("chrom"), replace = false) // v4
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    // the upsert stamped its change files inside its own staging dir
    // and the manifest names them — resolve the recorded path
    val cdf2 = new org.apache.hadoop.fs.Path(dir,
      ManifestLake.readManifest(fs, root, 2L).cdf.get)
    // a vacuum KEEPING v2 keeps its change files (they are in no
    // manifest's live set — the rule must be explicit, not accidental)
    ManifestLake.vacuum(spark, dir, keepVersions = 3)
    assert(fs.exists(cdf2), "kept version's change files were vacuumed away")
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 2L)
      .where(col("_change_type") =!= "insert").count() === 2)
    // below the horizon the change files reap WITH the version
    ManifestLake.vacuum(spark, dir, keepVersions = 2)
    assert(!fs.exists(cdf2), "reaped version's change files must go with it")
    } finally ManifestLake.CheckpointInterval = prevCI
  }

  test("row-level delete: only match-bearing files rewrite, NULL-predicate rows survive, feed serves delete rows") {
    import spark.implicits._
    val dir = freshDir("mlake-delete")
    def batch(ch: String, lo: Int, hi: Int) =
      (lo until hi).map(i => (ch, i.toLong, if (i % 10 == 0) null else s"p$i"))
        .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark,
      batch("chr1", 0, 50).unionByName(batch("chr2", 0, 50)), dir, Seq("chrom"),
      statsCols = Seq("pos"))                                                   // v1
    ManifestLake.write(spark,
      batch("chr1", 50, 100).unionByName(batch("chr2", 50, 100)), dir, Seq("chrom"),
      replace = false, statsCols = Seq("pos"))                                  // v2
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val v2Files = ManifestLake.readManifest(fs, root, 2L).files.map(_.path)

    // delete chr1's low range — only v1's chr1 files contain matches
    val v = ManifestLake.delete(spark, dir,
      col("chrom") === "chr1" && col("pos") < 50L)
    assert(v === 3L)
    assert(ManifestLake.read(spark, dir).count() === 150)
    assert(ManifestLake.read(spark, dir)
      .where(col("chrom") === "chr1" && col("pos") < 50L).count() === 0)
    val v3 = ManifestLake.readManifest(fs, root, 3L)
    assert(v3.op === Some("delete"))
    // every file WITHOUT matches carried by reference, verbatim
    val carried = v2Files.filterNot(p => p.contains("v000001/chrom=chr1"))
    assert(carried.forall(v3.files.map(_.path).contains),
      "match-free files must carry by reference")
    assert(!v3.files.exists(_.path.contains("v000001/chrom=chr1")),
      "match-bearing files must leave the live set")
    // rewritten files re-collect the tracked stats
    assert(v3.files.filter(_.path.contains("v000003")).forall(_.stats.contains("pos")))
    // the feed serves the EXACT deleted rows
    val feed = ManifestLake.readChangeFeed(spark, dir, 2L, 3L)
    assert(feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("delete" -> 50L))
    assert(feed.select("pos").collect().map(_.getLong(0)).sorted.toSeq === (0L until 50L))
    // the file-level append feed refuses across it, as every rewrite
    intercept[IllegalArgumentException] {
      ManifestLake.readChanges(spark, dir, 2L, 3L)
    }
    // NULL-predicate rows are KEPT (SQL DELETE semantics): payload is
    // null on every 10th row; equality there evaluates NULL, not true.
    // p55 lives in BOTH chroms (chr1 pos 55 survived the range delete)
    assert(ManifestLake.delete(spark, dir, col("payload") === "p55") === 4L)
    assert(ManifestLake.read(spark, dir).count() === 148)
    assert(ManifestLake.read(spark, dir).where(col("payload").isNull).count() === 15)
    // a no-match delete publishes NOTHING
    assert(ManifestLake.delete(spark, dir, col("pos") > 100000L) === 4L)
    assert(ManifestLake.currentVersion(spark, dir) === Some(4L))
    // replayed (appId, batchId) deletes are skipped via the ledger
    assert(ManifestLake.delete(spark, dir, col("pos") === 99L, txn = Some(("delapp", 7L))) === 5L)
    assert(ManifestLake.delete(spark, dir, col("pos") === 98L, txn = Some(("delapp", 7L))) === 5L)
    assert(ManifestLake.read(spark, dir).where(col("pos") === 98L).count() === 2)
  }

  test("row-level delete on a flat table; legacy headerless tables refuse typed") {
    import spark.implicits._
    val dir = freshDir("mlake-delete-flat")
    val df = (0 until 100).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    ManifestLake.write(spark, df, dir, Seq.empty)
    assert(ManifestLake.delete(spark, dir, col("id") % 2 === 0) === 2L)
    assert(ManifestLake.read(spark, dir).count() === 50)
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 2L)
      .where(col("_change_type") === "delete").count() === 50)
    // a headerless legacy manifest cannot delete (no recorded schema)
    val dir2 = freshDir("mlake-delete-legacy")
    ManifestLake.write(spark, df, dir2, Seq.empty)
    val (fs2, root2) = ManifestLake.fsFor(spark, dir2)
    ForeignManifests.write(fs2, root2, 2L, ForeignManifests.dataLines(fs2, root2, 1L),
      gzip = true)
    val e = intercept[IllegalArgumentException] {
      ManifestLake.delete(spark, dir2, col("id") === 1L)
    }
    assert(e.getMessage.contains("headerless"))
  }

  test("detail() summarizes the head: files, bytes, partitioning, stats coverage, change-feed flag") {
    import spark.implicits._
    val dir = freshDir("mlake-detail")
    val df = (0 until 100).map(i => (s"chr${i % 2 + 1}", i.toLong,
      if (i % 10 == 0) null else s"s${i % 3}")).toDF("chrom", "pos", "tag")
    ManifestLake.write(spark, df.repartitionByRange(4, col("pos")), dir, Seq("chrom"),
      statsCols = Seq("pos", "tag"))
    ManifestLake.upsert(spark, dir, Seq(("chr1", 0L, "NEW")).toDF("chrom", "pos", "tag"),
      Seq("chrom"), Seq("chrom", "pos"))
    val d = ManifestLake.detail(spark, dir).head()
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[String]("op") === "upsert")
    assert(d.getAs[Boolean]("change_feed"))
    assert(d.getAs[String]("partition_cols") === "chrom")
    assert(d.getAs[Long]("n_columns") === 3L)
    val nFiles = d.getAs[Long]("n_files")
    // every live file carries pos bounds and both null counts; tag is
    // low-cardinality and short, so value sets cover it everywhere too
    assert(d.getAs[String]("bounds_coverage").contains(s"pos=$nFiles/$nFiles"))
    assert(d.getAs[String]("null_count_coverage").contains(s"tag=$nFiles/$nFiles"))
    assert(d.getAs[String]("value_set_coverage").contains(s"tag=$nFiles/$nFiles"))
    intercept[IllegalArgumentException] {
      ManifestLake.detail(spark, freshDir("mlake-detail-none"))
    }
  }

  test("vacuum dryRun reports exactly what a real run would reap and touches nothing") {
    import spark.implicits._
    val dir = freshDir("mlake-vacuum-dry")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, batch(0, 10), dir, Seq("chrom"))   // v1
    ManifestLake.write(spark, batch(0, 5), dir, Seq("chrom"))    // v2 replace (supersedes v1)
    ManifestLake.write(spark, batch(0, 8), dir, Seq("chrom"))    // v3 replace
    val (fs, _) = ManifestLake.fsFor(spark, dir)
    val dry = ManifestLake.vacuum(spark, dir, keepVersions = 1, dryRun = true)
    assert(dry.nonEmpty, "superseded versions must be reported")
    dry.foreach(p => assert(fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"dryRun must not delete: $p"))
    assert(ManifestLake.versions(spark, dir).map(_._1) === Seq(1L, 2L, 3L))
    assert(ManifestLake.readVersion(spark, dir, 1L).count() === 10)
    // the real run reaps exactly the reported set
    val real = ManifestLake.vacuum(spark, dir, keepVersions = 1)
    assert(real.toSet === dry.toSet)
    real.foreach(p => assert(!fs.exists(new org.apache.hadoop.fs.Path(p))))
    assert(ManifestLake.read(spark, dir).count() === 8)
  }

  test("metadata-only delete: a partition-column predicate drops whole files by reference, zero rewrite") {
    import spark.implicits._
    val dir = freshDir("mlake-metadelete")
    def batch(ch: String) =
      (0 until 30).map(i => (ch, i.toLong, s"$ch-p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark,
      batch("chr1").unionByName(batch("chr2")).unionByName(batch("chr3")),
      dir, Seq("chrom"), statsCols = Seq("pos"))                                // v1
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val before = ManifestLake.readManifest(fs, root, 1L).files
    // changeFeed=false: the commit is ONE manifest write — no new data
    // dir of any kind appears on disk
    assert(ManifestLake.delete(spark, dir, col("chrom") === "chr2",
      changeFeed = false) === 2L)
    val m2 = ManifestLake.readManifest(fs, root, 2L)
    assert(m2.op === Some("delete") && m2.cdf.isEmpty)
    assert(m2.files.toSet === before.filterNot(_.path.contains("chrom=chr2")).toSet,
      "surviving files must carry by reference, untouched")
    assert(!fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .isFile)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    assert(dataDirs === Set("v000001"), s"no new data dir may appear: $dataDirs")
    assert(ManifestLake.read(spark, dir).count() === 60)
    assert(ManifestLake.read(spark, dir).where(col("chrom") === "chr2").count() === 0)
    // changeFeed=true: files still drop by reference, and the feed
    // serves the exact dropped rows
    assert(ManifestLake.delete(spark, dir, col("chrom").isin("chr3", "chr9")) === 3L)
    val m3 = ManifestLake.readManifest(fs, root, 3L)
    assert(m3.files.toSet === before.filterNot(f =>
      f.path.contains("chrom=chr2") || f.path.contains("chrom=chr3")).toSet)
    val feed = ManifestLake.readChangeFeed(spark, dir, 2L, 3L)
    assert(feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("delete" -> 30L))
    assert(feed.select("payload").collect().map(_.getString(0)).forall(_.startsWith("chr3-")))
    // a no-match partition predicate publishes nothing
    assert(ManifestLake.delete(spark, dir, col("chrom") === "chr9") === 3L)
    // a MIXED predicate (partition + data columns) takes the rewrite
    // path and still only removes matching ROWS
    assert(ManifestLake.delete(spark, dir, col("chrom") === "chr1" && col("pos") < 5L) === 4L)
    assert(ManifestLake.read(spark, dir).count() === 25)
    assert(ManifestLake.read(spark, dir).where(col("pos") < 5L).count() === 0)
  }

  test("delete on a DATA column literally named __dir evaluates row data, not partition dirs") {
    import spark.implicits._
    val dir = freshDir("mlake-dirname-collision")
    // __dir is the metadata-only helper frame's directory column; a
    // table whose DATA schema uses that name must still delete by ROW
    // values — the fast path has to bail to the rewrite path
    val df = (0 until 40).map(i => (s"chr${i % 2 + 1}", i.toLong, s"grp${i % 4}"))
      .toDF("chrom", "pos", "__dir")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    assert(ManifestLake.delete(spark, dir, col("__dir") === "grp1") === 2L)
    val got = ManifestLake.read(spark, dir)
    assert(got.count() === 30, "exactly the grp1 rows must go")
    assert(got.where(col("__dir") === "grp1").count() === 0)
    assert(got.select("chrom").distinct().count() === 2,
      "no whole partition may be dropped by the helper-column collision")
    // a PARTITION-column predicate on the same table also rewrites
    // (the guard is table-wide), and still deletes exactly its rows
    assert(ManifestLake.delete(spark, dir, col("chrom") === "chr2") === 3L)
    val after = ManifestLake.read(spark, dir)
    assert(after.count() === 20)
    assert(after.where(col("chrom") === "chr2").count() === 0)
  }

  test("delete racing a NON-matching append: both land; a matching append is a loud conflict") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-delete-race")
    val base = (0 until 2000).map(i => (s"chr${i % 4 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, base.repartition(16), dir, Seq("chrom"), statsCols = Seq("pos"))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        latch.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the appender lands while the delete is rewriting; its rows do
      // NOT match the predicate, so the delete retries and both land
      val extra = Seq(("chr1", 90000L, "late")).toDF("chrom", "pos", "payload")
      val fAppend = Future {
        latch.await(2, java.util.concurrent.TimeUnit.MINUTES)
        ManifestLake.write(spark, extra, dir, Seq("chrom"), replace = false)
      }
      val dv = ManifestLake.delete(spark, dir, col("pos") < 100L)
      Await.result(fAppend, 2.minutes)
      assert(ManifestLake.currentVersion(spark, dir) === Some(3L))
      assert(Set(2L, 3L).contains(dv))
      val got = ManifestLake.read(spark, dir)
      assert(got.count() === 1901)
      assert(got.where(col("pos") < 100L).count() === 0)
      assert(got.where(col("payload") === "late").count() === 1)

      // a concurrent append whose rows MATCH the predicate: whichever
      // order the commits land, no silent partial delete — either the
      // delete published first (the matching row legally arrives after
      // it) or the delete conflicts loudly
      val latch2 = new java.util.concurrent.CountDownLatch(1)
      val l2 = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          latch2.countDown()
      }
      spark.sparkContext.addSparkListener(l2)
      try {
        val clash = Seq(("chr2", 150L, "matching")).toDF("chrom", "pos", "payload")
        val fAppend2 = Future {
          latch2.await(2, java.util.concurrent.TimeUnit.MINUTES)
          ManifestLake.write(spark, clash, dir, Seq("chrom"), replace = false)
        }
        val deleted = scala.util.Try(ManifestLake.delete(spark, dir, col("pos") < 200L))
        Await.result(fAppend2, 2.minutes)
        deleted match {
          case scala.util.Failure(e) =>
            assert(e.getMessage.contains("matching the delete predicate"))
            // conflict: nothing was deleted, the matching row is live
            assert(ManifestLake.read(spark, dir)
              .where(col("pos") === 150L && col("payload") === "matching").count() === 1)
          case scala.util.Success(_) =>
            // delete won the race: only the late-arriving matching row
            // remains below the cutoff
            assert(ManifestLake.read(spark, dir).where(col("pos") < 200L)
              .collect().map(_.getString(2)).toSeq === Seq("matching"))
        }
      } finally spark.sparkContext.removeSparkListener(l2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("row-level delete resolves URL-encoded file names: partition values with spaces and hive-escaped chars") {
    import spark.implicits._
    val dir = freshDir("mlake-delete-escape")
    // 'a b' stays a literal space in the dir name (URL-encoded %20 by
    // input_file_name); 'c#d' is hive-escaped to c%23d on disk and then
    // double-encoded in the scan's URI — both must resolve
    val df = Seq(("a b", 1L, "x"), ("a b", 2L, "y"), ("c#d", 3L, "z"), ("c#d", 4L, "w"))
      .toDF("grp", "id", "payload")
    ManifestLake.write(spark, df, dir, Seq("grp"))
    assert(ManifestLake.delete(spark, dir, col("id") === 1L) === 2L)
    assert(ManifestLake.delete(spark, dir, col("id") === 3L) === 3L)
    val left = ManifestLake.read(spark, dir)
    assert(left.count() === 2)
    assert(left.select("grp", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("a b", 2L), ("c#d", 4L)))
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 3L)
      .where(col("_change_type") === "delete").count() === 2)
  }

  test("genomic lake through the manifest commit: pos-range scans skip whole files (E3 shape)") {
    import spark.implicits._
    val dir = freshDir("mlake-genomic")
    // 3 chroms × 2 pos buckets × 500 positions, pos-clustered by
    // Lake.writeManifested; the small per-file cap splits each partition
    // into ~5 files each covering a narrow pos range — the shape the
    // real lake has at MaxRecordsPerFile on real data
    val df = (0 until 3000).map { i =>
      val chrom = s"chr${i % 3 + 1}"
      val pos = (i / 3).toLong
      (chrom, pos / 500L, pos, s"e$i")
    }.toDF("chrom", "pos_bucket", "pos", "entries")
    Lake.writeManifested(spark, df, dir, maxRecordsPerFile = 100)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 1L)
    assert(m.files.length >= 12 && m.files.forall(_.stats.contains("pos")),
      s"expected a fragmented lake with pos stats, got ${m.files.length} files")
    // each (chrom, pos_bucket) partition is written by one task: 500
    // rows at 100 per file
    assert(m.files.groupBy(f => ManifestLake.partDirOf(f.path)).values.map(_.size).toSet ===
      Set(5))
    def filesRead(filtered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = filtered.collect().length.toLong
      val scan = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (n, scan.metrics("numFiles").value)
    }
    // the reference's E3 query shape: a (chrom, pos-range) lookup
    val (nRows, nFiles) = filesRead(ManifestLake.read(spark, dir)
      .where(col("chrom") === "chr2" && col("pos") >= 100L && col("pos") <= 180L))
    assert(nRows === 81)
    val chr2Files = m.files.count(_.path.contains("chrom=chr2"))
    assert(nFiles < chr2Files,
      s"pos stats must skip files at planning: read $nFiles of $chr2Files chr2 files")
    // equal results: skipping is a cost optimization, never a filter
    val expected = df.where(col("chrom") === "chr2" &&
      col("pos") >= 100L && col("pos") <= 180L)
    assert(ManifestLake.read(spark, dir)
      .where(col("chrom") === "chr2" && col("pos") >= 100L && col("pos") <= 180L)
      .select("chrom", "pos_bucket", "pos", "entries")
      .except(expected.select("chrom", "pos_bucket", "pos", "entries")).isEmpty)
    // an append accretes without disturbing the stats-fed skipping
    val extra = Seq(("chr2", 0L, 145L, "late")).toDF("chrom", "pos_bucket", "pos", "entries")
    Lake.writeManifested(spark, extra, dir, replace = false, maxRecordsPerFile = 100)
    assert(ManifestLake.read(spark, dir)
      .where(col("chrom") === "chr2" && col("pos") === 145L).count() === 2)
  }

  test("writeManifested runs its clustering shuffle at the width AQE coalesces to, not the session's") {
    import spark.implicits._
    val dir = freshDir("mlake-genomic-width")
    val df = (0 until 600).map(i => (s"chr${i % 3 + 1}", (i / 300).toLong, i.toLong, s"e$i"))
      .toDF("chrom", "pos_bucket", "pos", "entries")
    val sc = spark.sparkContext
    val group = s"writeManifested-width-${System.nanoTime}"
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    sc.setJobGroup(group, group)
    try Lake.writeManifested(spark, df, dir)
    finally {
      sc.clearJobGroup()
      saved match {
        case Some(w) => spark.conf.set("spark.sql.shuffle.partitions", w)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
    // the status store catches up with the listener bus asynchronously
    val tracker = sc.statusTracker
    def tasks: Option[Int] = {
      val jobs = tracker.getJobIdsForGroup(group).toSeq.flatMap(tracker.getJobInfo(_))
      if (jobs.isEmpty || jobs.exists(_.status != org.apache.spark.JobExecutionStatus.SUCCEEDED))
        None
      else Some(jobs.flatMap(_.stageIds).flatMap(tracker.getStageInfo(_))
        .map(_.numCompletedTasks).sum)
    }
    val deadline = System.currentTimeMillis + 30000
    while (tasks.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(50)
    // a persisted input would keep the repartition at 200 partitions
    // (cached plans keep their output partitioning) and run two
    // 200-task stages for 6 buckets
    assert(tasks.exists(_ < 50), s"tasks: $tasks")
    assert(ManifestLake.read(spark, dir).count() === 600)
  }

  test("optimistic concurrent appends: racing appenders all land, every row set present") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-cappend")
    val base = (0 until 30).map(i => (s"chr${i % 2 + 1}", i.toLong, s"base$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, base, dir, Seq("chrom"), statsCols = Seq("pos"))
    // four appenders race from the same observed head: each loser
    // re-reads the new head and re-publishes its already-staged files —
    // every append lands, in SOME serial order, without a shared
    // staging dir ever being clobbered
    val appends = (1 to 4).map { i =>
      Future {
        val batch = (0 until 10)
          .map(j => (s"chr${j % 2 + 1}", (100 * i + j).toLong, s"app$i-$j"))
          .toDF("chrom", "pos", "payload")
        ManifestLake.write(spark, batch, dir, Seq("chrom"),
          replace = false, txn = Some((s"writer-$i", 1L)), statsCols = Seq("pos"))
      }
    }
    val versions = Await.result(Future.sequence(appends), 5.minutes)
    assert(versions.toSet === Set(2L, 3L, 4L, 5L),
      s"each append must land at a distinct version: $versions")
    assert(ManifestLake.currentVersion(spark, dir) === Some(5L))
    val rows = ManifestLake.read(spark, dir)
    assert(rows.count() === 70)
    (1 to 4).foreach { i =>
      assert(rows.where(col("payload").startsWith(s"app$i-")).count() === 10,
        s"writer $i's rows must all be present")
      // every racer's ledger entry survives into the final head
      assert(ManifestLake.lastCommitted(spark, dir, s"writer-$i") === Some(1L))
    }
    // the head manifest carries every version's files and the stats kept
    // flowing through the retried publishes
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val head = ManifestLake.readManifest(fs, root, 5L)
    assert(head.files.forall(_.stats.contains("pos")))
    // a concurrent-append table still vacuums safely: nothing live is
    // touched, and the staged dirs that PUBLISHED are all referenced
    ManifestLake.vacuum(spark, dir, keepVersions = 1)
    assert(ManifestLake.read(spark, dir).count() === 70)
  }

  test("a lost append race against a SCHEMA-WIDENING winner still fails loudly when the batch misses the new column") {
    import spark.implicits._
    val dir = freshDir("mlake-cappend-conflict")
    val base = (0 until 10).map(i => ("chr1", i.toLong)).toDF("chrom", "pos")
    ManifestLake.write(spark, base, dir, Seq("chrom"))
    // simulate the winner: a widening append lands first
    val widening = (10 until 15).map(i => ("chr1", i.toLong, s"s$i"))
      .toDF("chrom", "pos", "note")
    ManifestLake.write(spark, widening, dir, Seq("chrom"), replace = false)
    // the loser staged against the PRE-widening head and now retries: its
    // batch lacks the recorded `note` column — a genuine conflict, loud
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m1 = ManifestLake.readManifest(fs, root, 1L)
    val stale = (20 until 25).map(i => ("chr1", i.toLong)).toDF("chrom", "pos")
    // drive writePinned's retry path directly: publish at v2 is taken, so
    // the loop re-validates against v2's widened schema and must refuse
    val e = intercept[IllegalArgumentException] {
      ManifestLake.write(spark, stale, dir, Seq("chrom"), replace = false)
    }
    // (the append above does NOT race — it simply validates against the
    // already-widened head, which is the same loud-failure shape the
    // retry path re-runs after a lost race)
    assert(e.getMessage.contains("missing recorded column"))
    assert(m1.files.nonEmpty)
  }

  test("compaction loses its race to a concurrent append gracefully: both commits land, content intact") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-compact-race")
    val df = (0 until 4000).map(i => (s"chr${i % 4 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df.repartition(24), dir, Seq("chrom"), statsCols = Seq("pos"))
    // the appender waits for the compaction's FIRST Spark job to start,
    // then lands while the rewrite is still running — so the compact's
    // publish nearly always loses and takes the retry path (and when
    // scheduling flips the order, the append's own optimistic retry
    // covers it: the asserts are interleaving-agnostic)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        latch.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val extra = Seq(("chr9", 99999L, "late")).toDF("chrom", "pos", "payload")
      val fAppend = Future {
        latch.await(2, java.util.concurrent.TimeUnit.MINUTES)
        ManifestLake.write(spark, extra, dir, Seq("chrom"), replace = false)
      }
      val report = ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue)
      Await.result(fAppend, 2.minutes)
      assert(report.nonEmpty, "the compaction must actually compact")
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      assert(ManifestLake.currentVersion(spark, dir) === Some(3L),
        "both the append and the compaction must land")
      val ops = Seq(2L, 3L).map(v => ManifestLake.readManifest(fs, root, v).op.get)
      assert(ops.toSet === Set("append", "compact"))
      // content invariant: exactly base ∪ appended, no loss, no dupes
      val got = ManifestLake.read(spark, dir)
      assert(got.count() === 4001)
      assert(got.where(col("payload") === "late").count() === 1)
      assert(got.select(sum(col("pos"))).head.getLong(0)
        === (0L until 4000L).sum + 99999L)
      // the compacted head still carries stats on rewritten files (the
      // stats-less append's own file legitimately has none)
      val vAppend = Seq(2L, 3L)
        .find(v => ManifestLake.readManifest(fs, root, v).op.contains("append")).get
      val appendFiles = ManifestLake.readManifest(fs, root, vAppend).files.map(_.path).toSet --
        ManifestLake.readManifest(fs, root, vAppend - 1).files.map(_.path).toSet
      val head = ManifestLake.readManifest(fs, root, 3L)
      assert(head.files.filterNot(f => appendFiles.contains(f.path))
        .forall(_.stats.contains("pos")))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compaction racing a commit that REWROTE its inputs fails loudly with the stage withdrawn — never silent corruption") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-compact-conflict")
    val df = (0 until 4000).map(i => (s"chr${i % 4 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df.repartition(24), dir, Seq("chrom"))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        latch.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the racing writer REWRITES chr1 (an upsert) — the compaction's
      // staged layout bakes in the superseded row, so a lost race must
      // be a loud conflict, not a retry
      val upd = Seq(("chr1", 0L, "REWRITTEN")).toDF("chrom", "pos", "payload")
      val fUpsert = Future {
        latch.await(2, java.util.concurrent.TimeUnit.MINUTES)
        ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"))
      }
      val compacted = scala.util.Try(
        ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue))
      val upserted = scala.util.Try(Await.result(fUpsert, 2.minutes))
      // in EVERY interleaving exactly one of them lost loudly (the
      // upsert is strict single-writer; the compact refuses superseded
      // inputs) — and the winner's state is intact
      assert(compacted.isFailure != upserted.isFailure,
        s"exactly one racer must lose loudly: compact=$compacted upsert=$upserted")
      compacted.failed.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException])
        assert(e.getMessage.contains("compacted input files"))
      }
      val got = ManifestLake.read(spark, dir)
      assert(got.count() === 4000)
      if (upserted.isSuccess)
        assert(got.where(col("payload") === "REWRITTEN").count() === 1)
      // the loser's stage is withdrawn or invisible: the live set never
      // references a superseded layout
      assert(ManifestLake.read(spark, dir)
        .where(col("chrom") === "chr1" && col("pos") === 0L).count() === 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("partition-disjoint concurrent upserts both land; overlapping upserts conflict loudly") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-cupsert")
    val base = (0 until 100).map(i => (s"chr${i % 2 + 1}", i.toLong, s"old$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, base, dir, Seq("chrom"))
    // the multi-stream ingest shape: each racer owns its partition
    val gate = new java.util.concurrent.CountDownLatch(1)
    val racers = Seq("chr1", "chr2").map { ch =>
      Future {
        gate.await()
        // rewrite a key that EXISTS in this racer's partition (chr1
        // holds even positions, chr2 odd) plus one brand-new key
        val exist = if (ch == "chr1") 0L else 1L
        val upd = Seq((ch, exist, s"NEW-$ch"), (ch, 5000L, s"ADD-$ch"))
          .toDF("chrom", "pos", "payload")
        ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"),
          txn = Some((s"stream-$ch", 1L)))
      }
    }
    gate.countDown()
    val landed = racers.map(Await.result(_, 5.minutes))
    assert(landed.toSet === Set(2L, 3L), s"both disjoint upserts must land: $landed")
    val got = ManifestLake.read(spark, dir)
    assert(got.count() === 102)
    assert(got.where(col("payload").startsWith("NEW-")).count() === 2)
    assert(got.where(col("payload").startsWith("ADD-")).count() === 2)
    // key-uniqueness survived the race
    assert(got.select("chrom", "pos").distinct().count() === 102)
    // the ledger carries BOTH writers' watermarks through the retry
    assert(ManifestLake.lastCommitted(spark, dir, "stream-chr1") === Some(1L))
    assert(ManifestLake.lastCommitted(spark, dir, "stream-chr2") === Some(1L))
    // the row-level feed serves both commits' exact deltas
    val feed = ManifestLake.readChangeFeed(spark, dir, 1L, 3L)
    assert(feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("update_preimage" -> 2L, "update_postimage" -> 2L, "insert" -> 2L))

    // OVERLAPPING upserts started from the same head: exactly one lands
    // per race round — the loser refuses loudly (superseded pre-images)
    val gate2 = new java.util.concurrent.CountDownLatch(1)
    val clash = (1 to 2).map { i =>
      Future {
        gate2.await()
        scala.util.Try(ManifestLake.upsert(spark, dir,
          Seq(("chr1", 0L, s"CLASH-$i")).toDF("chrom", "pos", "payload"),
          Seq("chrom"), Seq("chrom", "pos")))
      }
    }
    gate2.countDown()
    val outcomes = clash.map(Await.result(_, 5.minutes))
    // both reading the same head → one wins, one conflicts; if the OS
    // serialized them, both legally land — either way: no corruption
    assert(outcomes.count(_.isSuccess) >= 1)
    outcomes.filter(_.isFailure).foreach { f =>
      val e = f.failed.get
      assert(e.isInstanceOf[IllegalStateException], s"unexpected: $e")
      assert(e.getMessage.contains("affected partitions"))
    }
    val after = ManifestLake.read(spark, dir)
    assert(after.count() === 102)
    assert(after.select("chrom", "pos").distinct().count() === 102)
    assert(after.where(col("chrom") === "chr1" && col("pos") === 0L)
      .head().getString(2).startsWith("CLASH-"))
  }

  test("changeFeed=false skips stamping: no change files written, feed refuses typed, skipUnresolved skips") {
    import spark.implicits._
    val dir = freshDir("mlake-nocdf")
    val base = (0 until 20).map(i => ("chr1", i.toLong, s"old$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, base, dir, Seq("chrom"))
    val upd = Seq(("chr1", 0L, "NEW")).toDF("chrom", "pos", "payload")
    assert(ManifestLake.upsert(spark, dir, upd, Seq("chrom"), Seq("chrom", "pos"),
      changeFeed = false) === 2L)
    assert(ManifestLake.delete(spark, dir, col("pos") === 1L, changeFeed = false) === 3L)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    assert(ManifestLake.readManifest(fs, root, 2L).cdf.isEmpty)
    assert(ManifestLake.readManifest(fs, root, 3L).cdf.isEmpty)
    // nothing stamped anywhere on disk
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    while (it.hasNext) {
      val p = it.next().getPath.toString
      assert(!p.contains("_cdf"), s"no change files may exist: $p")
    }
    // the merge itself is intact
    assert(ManifestLake.read(spark, dir).count() === 19)
    val e = intercept[IllegalArgumentException] {
      ManifestLake.readChangeFeed(spark, dir, 1L, 3L)
    }
    assert(e.getMessage.contains("change files"))
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 3L, skipUnresolved = true).count() === 0)
  }

  test("vacuum reaps a stale _cdf parked at an append version, and a superseded upsert's change files reap with it") {
    import spark.implicits._
    // CheckpointInterval=1: pure cdf-retention semantics, no delta
    // chain keeping below-horizon versions alive (see the other vacuum
    // cdf test and ManifestDeltaSpec)
    val prevCI = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 1
    try {
    val dir = freshDir("mlake-stale-cdf")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, batch(0, 10), dir, Seq("chrom"))                   // v1
    ManifestLake.write(spark, batch(10, 12), dir, Seq("chrom"), replace = false) // v2 append
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    // a lost-race upsert aborted AFTER stamping: stale junk under the
    // legacy location of v2 — an APPEND version serves no change files,
    // so it must reap even though v2 itself is kept
    val stale = new org.apache.hadoop.fs.Path(dir, "data/v000002/_cdf")
    Seq(("chr1", 99L, "ghost", "insert"))
      .toDF("chrom", "pos", "payload", "_change_type")
      .write.parquet(stale.toString)
    ManifestLake.vacuum(spark, dir, keepVersions = 5)
    assert(!fs.exists(stale), "append versions never serve change files — stale _cdf must reap")
    assert(ManifestLake.read(spark, dir).count() === 12)
    // a real upsert's change files survive while kept, reap when below
    // the horizon — through the manifest-referenced path
    ManifestLake.upsert(spark, dir, Seq(("chr1", 0L, "NEW")).toDF("chrom", "pos", "payload"),
      Seq("chrom"), Seq("chrom", "pos"))                                         // v3
    ManifestLake.write(spark, batch(12, 13), dir, Seq("chrom"), replace = false) // v4
    ManifestLake.write(spark, batch(13, 14), dir, Seq("chrom"), replace = false) // v5
    val cdf3 = new org.apache.hadoop.fs.Path(dir,
      ManifestLake.readManifest(fs, root, 3L).cdf.get)
    ManifestLake.vacuum(spark, dir, keepVersions = 3)
    assert(fs.exists(cdf3), "kept upsert's change files must survive")
    ManifestLake.vacuum(spark, dir, keepVersions = 2)
    assert(!fs.exists(cdf3), "below the horizon the change files reap with their version")
    } finally ManifestLake.CheckpointInterval = prevCI
  }

  test("commit storm: partition-disjoint writers of every kind land concurrently with exact content") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-storm")
    def rows(ch: String, lo: Int, hi: Int) =
      (lo until hi).map(i => (ch, i.toLong, s"$ch-p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark,
      Seq("chr1", "chr2", "chr3", "chr4").map(rows(_, 0, 50)).reduce(_ unionByName _)
        .repartition(16),
      dir, Seq("chrom"), statsCols = Seq("pos"))
    // five disjoint writers released together: two appends into NEW
    // partitions, an upsert per existing partition, a metadata delete
    // of a third — all compose; a racing compaction may legally lose
    // loudly if its inputs vanish (the delete), but never corrupts
    val gate = new java.util.concurrent.CountDownLatch(1)
    val writers: Seq[() => Any] = Seq(
      () => ManifestLake.write(spark, rows("chr5", 0, 30), dir, Seq("chrom"), replace = false),
      () => ManifestLake.write(spark, rows("chr6", 0, 30), dir, Seq("chrom"), replace = false),
      () => ManifestLake.upsert(spark, dir,
        Seq(("chr1", 0L, "U1"), ("chr1", 9999L, "A1")).toDF("chrom", "pos", "payload"),
        Seq("chrom"), Seq("chrom", "pos")),
      () => ManifestLake.merge(spark, dir,
        Seq(("chr2", 1L, "U2"), ("chr2", 8888L, "M2")).toDF("chrom", "pos", "payload"),
        Seq("chrom"), Seq("chrom", "pos")),
      () => ManifestLake.delete(spark, dir, col("chrom") === "chr3"))
    val futs = writers.map(w => Future { gate.await(); w() })
    val fCompact = Future {
      gate.await()
      scala.util.Try(ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue))
    }
    gate.countDown()
    futs.foreach(Await.result(_, 5.minutes))
    val compacted = Await.result(fCompact, 5.minutes)
    compacted.failed.foreach(e => assert(e.isInstanceOf[IllegalStateException],
      s"a losing compaction must fail typed, got $e"))
    // exact final content, independent of interleaving
    val got = ManifestLake.read(spark, dir)
    assert(got.count() === 50 * 3 + 30 * 2 + 2) // chr3 gone, +A1 and +M2 inserts
    assert(got.where(col("chrom") === "chr3").count() === 0)
    assert(got.where(col("payload") === "U1").count() === 1)
    assert(got.where(col("payload") === "U2").count() === 1)
    assert(got.where(col("payload") === "M2").count() === 1)
    assert(got.where(col("pos") === 9999L).count() === 1)
    assert(got.where(col("chrom").isin("chr5", "chr6")).count() === 60)
    assert(got.select("chrom", "pos").distinct().count() === got.count())
    // the manifest remains internally consistent: every live file
    // exists on disk and the recorded rows sum to the table
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val head = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get)
    head.files.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(dir, f.path)), s"missing ${f.path}"))
    assert(ManifestLake.footerRowCount(fs, root, head.files) === got.count())
  }

  test("metadata-only delete losing a deterministic race to a DISJOINT upsert: both land, retry costs zero data jobs") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-det-del-ups")
    def rows(ch: String, lo: Int, hi: Int) =
      (lo until hi).map(i => (ch, i.toLong, s"$ch-p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark,
      rows("chr1", 0, 30).unionByName(rows("chr2", 0, 30)).unionByName(rows("chr3", 0, 30)),
      dir, Seq("chrom"))                                                        // v1
    // the hook publishes a DISJOINT upsert (chr1) between the delete's
    // snapshot and its publish — the delete MUST lose the version race,
    // then compose: the upsert's added files live in chrom=chr1, which
    // the partition predicate provably excludes with zero reads.
    // The hook runs in a separate thread so its jobs don't pollute the
    // delete thread's job group.
    ManifestLake.raceHook.set { op =>
      assert(op === "delete")
      Await.result(Future {
        // the pool thread may inherit the delete thread's job group
        // (Spark local properties are InheritableThreadLocal) — clear
        // so the interloper's jobs don't count against the delete
        spark.sparkContext.clearJobGroup()
        ManifestLake.upsert(spark, dir,
          Seq(("chr1", 0L, "UPS")).toDF("chrom", "pos", "payload"),
          Seq("chrom"), Seq("chrom", "pos"))
      }, 2.minutes): Unit
    }
    val sc = spark.sparkContext
    val group = s"det-del-${System.nanoTime()}"
    sc.setJobGroup(group, "metadata delete under race", interruptOnCancel = false)
    val dv = try ManifestLake.delete(spark, dir, col("chrom") === "chr3", changeFeed = false)
    finally {
      sc.clearJobGroup()
      ManifestLake.raceHook.set(null)
    }
    assert(dv === 3L, "the delete must land AFTER the interloping upsert")
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "a partition-predicate delete retry must decide added files from " +
        "their partition dirs — zero Spark jobs, zero data I/O")
    val got = ManifestLake.read(spark, dir)
    assert(got.count() === 60)
    assert(got.where(col("chrom") === "chr3").count() === 0)
    assert(got.where(col("payload") === "UPS").count() === 1)
  }

  test("delete losing a deterministic race to a commit touching the MATCHED partition stays a loud conflict") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-det-del-conflict")
    def rows(ch: String, lo: Int, hi: Int) =
      (lo until hi).map(i => (ch, i.toLong, s"$ch-p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark,
      rows("chr1", 0, 30).unionByName(rows("chr3", 0, 30)), dir, Seq("chrom"))
    // an upsert INTO chr3 rewrites the delete's match-bearing files:
    // the staged candidates are superseded — genuine conflict
    ManifestLake.raceHook.set { _ =>
      Await.result(Future {
        ManifestLake.upsert(spark, dir,
          Seq(("chr3", 0L, "REWRITTEN")).toDF("chrom", "pos", "payload"),
          Seq("chrom"), Seq("chrom", "pos"))
      }, 2.minutes): Unit
    }
    val e = try intercept[IllegalStateException] {
      ManifestLake.delete(spark, dir, col("chrom") === "chr3")
    } finally ManifestLake.raceHook.set(null)
    assert(e.getMessage.contains("lost its race"))
    assert(ManifestLake.read(spark, dir).where(col("chrom") === "chr3").count() === 30)

    // an APPEND into chr3 adds matching rows: also a conflict, decided
    // from the added file's partition dir WITHOUT reading it
    ManifestLake.raceHook.set { _ =>
      Await.result(Future {
        ManifestLake.write(spark, rows("chr3", 100, 105), dir, Seq("chrom"),
          replace = false)
      }, 2.minutes): Unit
    }
    val e2 = try intercept[IllegalStateException] {
      ManifestLake.delete(spark, dir, col("chrom") === "chr3", changeFeed = false)
    } finally ManifestLake.raceHook.set(null)
    assert(e2.getMessage.contains("appended rows matching"))
    assert(ManifestLake.read(spark, dir).where(col("chrom") === "chr3").count() === 35)
  }

  test("two partition-disjoint metadata deletes released against each other both land") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-det-del-del")
    def rows(ch: String) =
      (0 until 20).map(i => (ch, i.toLong, s"$ch-p$i")).toDF("chrom", "pos", "payload")
    ManifestLake.write(spark,
      Seq("chr1", "chr2", "chr3").map(rows).reduce(_ unionByName _), dir, Seq("chrom"))
    ManifestLake.raceHook.set { _ =>
      Await.result(Future {
        ManifestLake.delete(spark, dir, col("chrom") === "chr2", changeFeed = false)
      }, 2.minutes): Unit
    }
    val dv = try ManifestLake.delete(spark, dir, col("chrom") === "chr3", changeFeed = false)
    finally ManifestLake.raceHook.set(null)
    assert(dv === 3L)
    val got = ManifestLake.read(spark, dir)
    assert(got.select("chrom").distinct().collect().map(_.getString(0)).toSeq === Seq("chr1"))
    assert(got.count() === 20)
  }

  test("a stats-less append runs exactly ONE Spark job: input count observed on the write, staged count from footers") {
    import spark.implicits._
    val dir = freshDir("mlake-onejob")
    val df = (0 until 200).map(i => (s"chr${i % 2 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    val sc = spark.sparkContext
    val group = s"mlake-onejob-${System.nanoTime()}"
    sc.setJobGroup(group, "append job count", interruptOnCancel = false)
    try ManifestLake.write(spark, df, dir, Seq("chrom"))
    finally sc.clearJobGroup()
    // the status store updates async off the listener bus — poll briefly
    def jobs(): Int = sc.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.currentTimeMillis() + 10000
    while (jobs() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(jobs() === 1,
      s"a stats-less append must cost exactly the write job, saw ${jobs()}")
    assert(ManifestLake.read(spark, dir).count() === 200)
  }

  test("footer row counts equal the staged data; a vanished file undercounts (the short-write catch)") {
    import spark.implicits._
    val dir = freshDir("mlake-footer")
    val df = (0 until 300).map(i => (s"chr${i % 3 + 1}", i.toLong, s"p$i"))
      .toDF("chrom", "pos", "payload")
    ManifestLake.write(spark, df, dir, Seq("chrom"))
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m = ManifestLake.readManifest(fs, root, 1L)
    assert(m.files.length >= 3)
    assert(ManifestLake.footerRowCount(fs, root, m.files) === 300L)
    // a file lost between write and publish contributes zero rows, so
    // the writePinned require (footer sum != observed input) fires —
    // simulate the loss against the published set
    val short = m.files.drop(1)
    assert(ManifestLake.footerRowCount(fs, root, short) < 300L)
    // verification is observation-based: an input whose plan includes a
    // join still appends with the correct count recorded
    val joined = df.as("a").join(df.as("b").select(col("pos"), lit(1).as("w")), Seq("pos"))
      .select(col("chrom"), col("pos"), concat(col("payload"), col("w")).as("payload"))
    val dir2 = freshDir("mlake-footer2")
    ManifestLake.write(spark, joined, dir2, Seq("chrom"))
    assert(ManifestLake.read(spark, dir2).count() === 300)
  }
}
