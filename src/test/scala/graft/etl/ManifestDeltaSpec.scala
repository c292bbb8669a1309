package graft.etl

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Segmented manifests: commits record only their own adds/removes
  * (delta commits), full snapshots re-amortize every CheckpointInterval
  * commits, and readers resolve delta chains against the cache. Pins:
  * a commit under a many-file table writes O(changed) bytes, not
  * O(live); resolution correctness at every version (time travel
  * included); checkpoint cadence; metadata-only commits are header-only;
  * vacuum retains the base chains kept versions need.
  */
class ManifestDeltaSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  /** Raw text of version v's manifest (gunzipped). */
  private def rawManifest(dir: String, v: Long): String = {
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val p = new Path(new Path(root, "_manifest"), f"v$v%06d.list.gz")
    val in = new java.util.zip.GZIPInputStream(fs.open(p))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def manifestBytes(dir: String, v: Long): Long = {
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    fs.getFileStatus(new Path(new Path(root, "_manifest"), f"v$v%06d.list.gz")).getLen
  }

  test("a single-file append to a many-file table writes O(changed) manifest bytes, not O(live)") {
    import spark.implicits._
    val dir = freshDir("mlake-delta-bytes")
    // 200 files with per-file stats: the full listing is the dominant
    // manifest weight, exactly the 100 TB shape scaled down
    val df = (0 until 2000).map(i => ("chr1", i.toLong, s"payload-$i"))
      .toDF("chrom", "pos", "payload").repartition(200)
    ManifestLake.write(spark, df, dir, Seq("chrom"),
      statsCols = Seq("pos", "payload"))                                     // v1 (snapshot)
    val snapshotBytes = manifestBytes(dir, 1L)
    assert(!rawManifest(dir, 1L).contains("#delta"),
      "a fresh table's first commit is a full snapshot")
    // one-file append: the delta manifest must be a small constant,
    // nowhere near the live listing
    ManifestLake.write(spark,
      Seq(("chr1", 99999L, "tail")).toDF("chrom", "pos", "payload"),
      dir, Seq("chrom"), replace = false, statsCols = Seq("pos", "payload")) // v2 (delta)
    val raw2 = rawManifest(dir, 2L)
    assert(raw2.contains("#delta\t1\t1"), "v2 must be a delta against v1")
    val deltaBytes = manifestBytes(dir, 2L)
    assert(deltaBytes * 10 < snapshotBytes,
      s"append manifest must be O(changed): delta $deltaBytes B vs snapshot $snapshotBytes B")
    // resolution correctness: full read equals snapshot + append
    val got = ManifestLake.read(spark, dir)
    assert(got.count() === 2001)
    assert(got.where(col("pos") === 99999L).count() === 1)
    // the resolved manifest still knows every live file (stats ride)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m2 = ManifestLake.readManifest(fs, root, 2L)
    assert(m2.files.length === 201)
    assert(m2.chain === 1 && m2.baseVersions === Seq(1L))
    // metadata-only commit: header-only delta, no file lines at all
    ManifestLake.addConstraint(spark, dir, "pos_ok", "pos >= 0")             // v3
    val raw3 = rawManifest(dir, 3L)
    assert(raw3.contains("#delta\t2\t2"))
    assert(!raw3.split("\n").exists(l => l.nonEmpty && !l.startsWith("#")),
      "a metadata-only commit must carry no file lines")
    assert(ManifestLake.readManifest(fs, root, 3L).files.length === 201)
    // time travel across the chain serves each version's own state
    assert(ManifestLake.readVersion(spark, dir, 1L).count() === 2000)
    assert(ManifestLake.readVersion(spark, dir, 2L).count() === 2001)
  }

  test("checkpoint cadence bounds the chain; a replace naturally snapshots; DML composes across deltas") {
    import spark.implicits._
    val prev = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 3
    try {
      val dir = freshDir("mlake-delta-chain")
      ManifestLake.write(spark,
        (0 until 50).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload"),
        dir, Seq("chrom"), statsCols = Seq("pos"))                           // v1 snapshot
      (1 to 6).foreach { k =>
        ManifestLake.write(spark,
          Seq(("chr1", (1000 + k).toLong, s"a$k")).toDF("chrom", "pos", "payload"),
          dir, Seq("chrom"), replace = false, statsCols = Seq("pos"))        // v2..v7
      }
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      // chains: v2 d1, v3 d2, v4 snapshot, v5 d1, v6 d2, v7 snapshot
      assert(rawManifest(dir, 2L).contains("#delta\t1\t1"))
      assert(rawManifest(dir, 3L).contains("#delta\t2\t2"))
      assert(!rawManifest(dir, 4L).contains("#delta"),
        "the chain must re-checkpoint at the interval")
      assert(rawManifest(dir, 5L).contains("#delta\t4\t1"))
      assert((1L to 7L).forall(v =>
        ManifestLake.readManifest(fs, root, v).chain < 3))
      assert(ManifestLake.read(spark, dir).count() === 56)

      // DML across the chain: DV delete (in-place entry change), upsert
      // (rewrite+carry), compact — all resolve exactly
      ManifestLake.delete(spark, dir, col("pos") === 5L,
        deletionVectors = true)                                              // v8 d1
      assert(rawManifest(dir, 8L).contains("#delta\t7\t1"),
        "a DV delete is an in-place entry change — a natural delta")
      assert(ManifestLake.read(spark, dir).count() === 55)
      ManifestLake.upsert(spark, dir,
        Seq(("chr1", 10L, "UPD")).toDF("chrom", "pos", "payload"),
        Seq("chrom"), Seq("chrom", "pos"))                                   // v9
      val r9 = ManifestLake.read(spark, dir)
      assert(r9.count() === 55)
      assert(r9.where(col("payload") === "UPD").count() === 1)
      assert(r9.where(col("pos") === 5L).count() === 0,
        "the DV mask must survive the upsert rewrite across the chain")
      // the upsert rewrote EVERY file (one partition holds the whole
      // table): its delta would not be smaller, so it snapshots early —
      // and the next append chains off the fresh checkpoint
      assert(!rawManifest(dir, 9L).contains("#delta"),
        "a commit whose delta is not smaller than the listing must snapshot")
      ManifestLake.write(spark,
        Seq(("chr1", 2000L, "ck")).toDF("chrom", "pos", "payload"),
        dir, Seq("chrom"), replace = false, statsCols = Seq("pos"))          // v10 d1
      assert(rawManifest(dir, 10L).contains("#delta\t9\t1"))
      assert(ManifestLake.read(spark, dir).count() === 56)
      // a REPLACE changes every file: the delta would not be smaller,
      // so it snapshots regardless of chain room
      ManifestLake.write(spark,
        Seq(("chr1", 1L, "fresh")).toDF("chrom", "pos", "payload"),
        dir, Seq("chrom"))                                                   // v11
      assert(!rawManifest(dir, 11L).contains("#delta"))
      assert(ManifestLake.read(spark, dir).count() === 1)
    } finally ManifestLake.CheckpointInterval = prev
  }

  test("the publish-time cached manifest is indistinguishable from a cold re-parse — entries, weights, chain, ORDER") {
    import spark.implicits._
    val prev = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 4
    try {
      val dir = freshDir("mlake-delta-cachetwin")
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      // exercise every hinted commit kind: append (adds only), DV
      // delete (in-place replace), upsert (drop+add), metadata-only
      // (constraint), compact (drop many, add few)
      ManifestLake.write(spark,
        (0 until 40).map(i => (s"g${i % 2}", i.toLong, s"p$i"))
          .toDF("grp", "pos", "payload"),
        dir, Seq("grp"), statsCols = Seq("pos"))                             // v1
      ManifestLake.write(spark, Seq(("g0", 100L, "a")).toDF("grp", "pos", "payload"),
        dir, Seq("grp"), replace = false, statsCols = Seq("pos"))            // v2 delta
      ManifestLake.delete(spark, dir, col("pos") === 3L,
        deletionVectors = true)                                              // v3 delta
      ManifestLake.addConstraint(spark, dir, "pos_ok", "pos >= 0")           // v4: metadata
      ManifestLake.upsert(spark, dir,
        Seq(("g1", 1L, "UPD")).toDF("grp", "pos", "payload"),
        Seq("grp"), Seq("grp", "pos"))                                       // v5
      (1L to 5L).foreach { v =>
        // the warm read comes from the publish-time cache insert; the
        // cold one re-parses the actual written bytes through the
        // one-pass chain resolution — they must agree on EVERYTHING,
        // including file ORDER (scan order must not depend on whether
        // the reader is the committer)
        val warm = ManifestLake.readManifest(fs, root, v)
        ManifestLake.clearManifestCache()
        val cold = ManifestLake.readManifest(fs, root, v)
        assert(warm.files.map(_.path) === cold.files.map(_.path),
          s"v$v: cached file order diverges from a re-parse")
        assert(warm.files === cold.files, s"v$v: cached entries diverge")
        assert(warm.copy(files = Seq.empty) === cold.copy(files = Seq.empty),
          s"v$v: cached header state diverges")
        assert(warm.chain === cold.chain && warm.baseVersions === cold.baseVersions,
          s"v$v: chain bookkeeping diverges (warm ${warm.chain}/${warm.baseVersions} " +
            s"vs cold ${cold.chain}/${cold.baseVersions})")
      }
      assert(ManifestLake.read(spark, dir).count() === 40L) // 41 - 1 masked
    } finally ManifestLake.CheckpointInterval = prev
  }

  test("vacuum retains the base chain kept delta versions resolve through") {
    import spark.implicits._
    val prev = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 10
    try {
      val dir = freshDir("mlake-delta-vacuum")
      ManifestLake.write(spark,
        (0 until 40).map(i => ("chr1", i.toLong, s"p$i")).toDF("chrom", "pos", "payload"),
        dir, Seq("chrom"))                                                   // v1 snapshot
      (1 to 4).foreach { k =>
        ManifestLake.write(spark,
          Seq(("chr1", (100 + k).toLong, s"a$k")).toDF("chrom", "pos", "payload"),
          dir, Seq("chrom"), replace = false)                                // v2..v5 deltas
      }
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      assert(ManifestLake.readManifest(fs, root, 5L).baseVersions === Seq(1L, 2L, 3L, 4L))
      ManifestLake.vacuum(spark, dir, keepVersions = 2, stagedGraceMs = 0)
      // v4 and v5 are kept; v1..v3 are below the horizon but v5's chain
      // needs them — every retained version must stay fully readable
      (1L to 5L).foreach { v =>
        assert(fs.exists(new Path(new Path(root, "_manifest"), f"v$v%06d.list.gz")),
          s"v$v is in a kept version's base chain and must survive vacuum")
      }
      assert(ManifestLake.read(spark, dir).count() === 44)
      assert(ManifestLake.readVersion(spark, dir, 4L).count() === 43)
      // after a checkpoint commit the chain resets and vacuum can reap
      ManifestLake.compact(spark, dir, targetBytes = Long.MaxValue)          // v6 snapshot
      ManifestLake.write(spark,
        Seq(("chr1", 200L, "z")).toDF("chrom", "pos", "payload"),
        dir, Seq("chrom"), replace = false)                                  // v7 delta on v6
      ManifestLake.vacuum(spark, dir, keepVersions = 2, stagedGraceMs = 0)
      (1L to 5L).foreach { v =>
        assert(!fs.exists(new Path(new Path(root, "_manifest"), f"v$v%06d.list.gz")),
          s"v$v is no longer in any kept chain and must reap")
      }
      assert(ManifestLake.read(spark, dir).count() === 45)
      assert(ManifestLake.readVersion(spark, dir, 6L).count() === 44)
    } finally ManifestLake.CheckpointInterval = prev
  }

  test("sharded parquet checkpoints above the threshold: pointer manifest, exact round-trip, delta chains, DataFrame-readable, vacuum-reaped") {
    val prevT = ManifestLake.CheckpointShardThreshold
    ManifestLake.CheckpointShardThreshold = 1000
    try {
      val dir = freshDir("mlake-ckpt-shards")
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("grp", "string").add("id", "long")
      def file(i: Int, gen: Int) = ManifestLake.LiveFile(1000L + i,
        f"data/v${gen}%06d/grp=g${i % 8}/part-$i%06d.parquet",
        stats = Map("id" -> ((i * 10L).toString, (i * 10L + 9L).toString)),
        rows = Some(10L), nullCounts = Map("id" -> 0L))
      val files1 = (0 until 2500).map(file(_, 1))
      ManifestLake.publish(fs, root, 1L, ManifestLake.Manifest(schema, Seq("grp"), files1))
      // the manifest gz is a POINTER (tiny — no inline file lines) and
      // the shard dir is a legal parquet dataset
      assert(manifestBytes(dir, 1L) < 4096,
        s"sharded checkpoint manifest must be a pointer, got ${manifestBytes(dir, 1L)}B")
      val ckptDirs = fs.listStatus(new Path(root, "_manifest"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ckpt-"))
      assert(ckptDirs.length === 1)
      val asDf = spark.read.parquet(ckptDirs.head.getPath.toString)
      assert(asDf.count() === 2500L)
      assert(asDf.columns.sorted.toSeq === Seq("bytes", "meta", "path"))
      // cold parse round-trips EXACTLY — entries, stats, ORDER
      ManifestLake.clearManifestCache()
      val m1 = ManifestLake.readManifest(fs, root, 1L)
      assert(m1.files === ManifestLake.sortedByPath(files1))
      assert(m1.files.forall(f => f.stats.contains("id") && f.rows.contains(10L)))
      // deltas chain on the sharded base and resolve exactly
      val files2 = files1.drop(3) ++ Seq(file(9001, 2), file(9002, 2))
      ManifestLake.publish(fs, root, 2L, ManifestLake.Manifest(schema, Seq("grp"), files2),
        deltaHint = Some((Seq(file(9001, 2), file(9002, 2)), files1.take(3).map(_.path))))
      assert(manifestBytes(dir, 2L) < 2048, "the delta stays O(changed)")
      ManifestLake.clearManifestCache()
      val m2 = ManifestLake.readManifest(fs, root, 2L)
      assert(m2.files.length === 2499)
      assert(m2.chain === 1)
      assert(!m2.files.exists(f => files1.take(3).map(_.path).contains(f.path)))
      // a REPLACE-shaped snapshot at v3 writes a NEW ckpt dir; vacuum
      // keep-1 reaps v1's manifest AND its shard dir (grace 0)
      val files3 = (0 until 1500).map(file(_, 3))
      ManifestLake.publish(fs, root, 3L, ManifestLake.Manifest(schema, Seq("grp"), files3))
      ManifestLake.vacuum(spark, dir, keepVersions = 1, stagedGraceMs = 0)
      val after = fs.listStatus(new Path(root, "_manifest"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ckpt-"))
      assert(after.length === 1 && after.head.getPath.getName.startsWith("ckpt-v000003"),
        s"v1's shard dir must reap with its version, got " +
          after.map(_.getPath.getName).mkString(", "))
      ManifestLake.clearManifestCache()
      assert(ManifestLake.readManifest(fs, root, 3L).files.length === 1500)
    } finally ManifestLake.CheckpointShardThreshold = prevT
  }

  test("ckpt-dir vacuum grace reads FILE mtimes: an in-flight orphan with a synthetic (mtime-0) dir survives; a genuinely old orphan reaps") {
    val prevT = ManifestLake.CheckpointShardThreshold
    ManifestLake.CheckpointShardThreshold = 1000
    try {
      val dir = freshDir("mlake-ckpt-grace")
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("grp", "string").add("id", "long")
      def file(i: Int) = ManifestLake.LiveFile(1000L + i,
        f"data/v000001/grp=g${i % 8}/part-$i%06d.parquet", rows = Some(10L))
      ManifestLake.publish(fs, root, 1L,
        ManifestLake.Manifest(schema, Seq("grp"), (0 until 1500).map(file)))
      val mdir = new Path(root, "_manifest")
      // an ORPHAN ckpt dir simulating a commit in flight: shards landed,
      // manifest rename not yet published. Object stores list synthetic
      // dirs with mtime 0 — force that on the DIRECTORY while the file
      // inside keeps its fresh mtime. The grace check must read the
      // files, not the dir, or this in-flight commit's shards vanish
      // and its about-to-publish head dangles.
      val orphan = new Path(mdir, "ckpt-v000002-inflight")
      fs.mkdirs(orphan)
      val sh = new Path(orphan, "shard-000.parquet")
      val out = fs.create(sh); out.write(1); out.close()
      fs.setTimes(orphan, 0L, -1L)
      val reaped1 = ManifestLake.vacuum(spark, dir, keepVersions = 2,
        stagedGraceMs = 60000L)
      assert(!reaped1.exists(_.contains("inflight")),
        s"fresh-file orphan must survive the grace window, got $reaped1")
      assert(fs.exists(sh))
      // once the FILES are old too, the orphan is a losing racer's
      // leftover and reaps
      fs.setTimes(sh, 1000L, -1L)
      val reaped2 = ManifestLake.vacuum(spark, dir, keepVersions = 2,
        stagedGraceMs = 60000L)
      assert(reaped2.exists(_.contains("inflight")),
        s"old orphan must reap, got $reaped2")
      assert(!fs.exists(orphan))
      // the live table's own ckpt dir is untouched throughout
      assert(fs.listStatus(mdir).exists(st =>
        st.getPath.getName.startsWith("ckpt-v000001")))
      ManifestLake.clearManifestCache()
      assert(ManifestLake.readManifest(fs, root, 1L).files.length === 1500)
    } finally ManifestLake.CheckpointShardThreshold = prevT
  }

  test("a chunked ANALYZE never brings back files a commit removed between its chunks") {
    import spark.implicits._
    val dir = freshDir("mlake-analyze-race")
    // three stat-less writes into `a` and `b`; the first file in the
    // list is in `a`, so the first chunk publishes over the racing delete
    ManifestLake.write(spark, Seq((1L, "a")).toDF("id", "grp"), dir, Seq("grp"))
    (2 to 3).foreach { i =>
      ManifestLake.write(spark, Seq((i.toLong, "a"), (i.toLong, "b")).toDF("id", "grp"),
        dir, Seq("grp"), replace = false)
    }
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val v0 = ManifestLake.currentVersion(spark, dir).get
    assert(ManifestLake.partDirOf(ManifestLake.readManifest(fs, root, v0).files.head.path) ===
      "grp=a")
    ManifestLake.raceHook.set { fired =>
      assert(fired === "analyze")
      spark.sparkContext.clearJobGroup()
      ManifestLake.delete(spark, dir, col("grp") === "b"): Unit
    }
    spark.conf.set("spark.graft.analyze.chunkFiles", "1")
    try ManifestLake.analyzeStats(spark, dir, Seq("id"))
    finally {
      spark.conf.unset("spark.graft.analyze.chunkFiles")
      assert(ManifestLake.raceHook.getAndSet(null) == null, "ANALYZE never reached its publish")
    }
    assert(ManifestLake.read(spark, dir).select("grp").as[String].collect().sorted.toSeq ===
      Seq("a", "a", "a"))
    val head = ManifestLake.readManifest(fs, root, ManifestLake.currentVersion(spark, dir).get)
    assert(head.files.forall(f => ManifestLake.partDirOf(f.path) == "grp=a" && f.stats.contains("id")))
  }

  test("ANALYZE backfill chunks the stat-less file list: one bounded in-place commit per chunk, identical skipping") {
    import spark.implicits._
    val dir = freshDir("mlake-analyze-chunks")
    // 10 stat-less files; a chunk cap of 3 must produce 4 commits
    (0 until 10).foreach { i =>
      ManifestLake.write(spark,
        Seq((i.toLong, s"p$i")).toDF("id", "payload").coalesce(1),
        dir, Seq.empty, replace = i == 0)
    }
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val v0 = ManifestLake.currentVersion(spark, dir).get
    assert(ManifestLake.readManifest(fs, root, v0).files
      .forall(_.stats.isEmpty), "precondition: stat-less table")
    spark.conf.set("spark.graft.analyze.chunkFiles", "3")
    val vAfter =
      try ManifestLake.analyzeStats(spark, dir, Seq("id"))
      finally spark.conf.unset("spark.graft.analyze.chunkFiles")
    // ceil(10 / 3) = 4 bounded commits, each updating IN PLACE exactly
    // its own chunk's entries (whether the cadence renders a given
    // version as a delta or a snapshot, the per-commit work is the
    // chunk): stats coverage grows 3 → 6 → 9 → 10
    assert(vAfter === v0 + 4)
    ((v0 + 1) to vAfter).zip(Seq(3, 6, 9, 10)).foreach { case (v, expect) =>
      val withStats = ManifestLake.readManifest(fs, root, v).files
        .count(_.stats.contains("id"))
      assert(withStats === expect,
        s"v$v must carry exactly $expect backfilled entries (chunk cap 3)")
    }
    val head = ManifestLake.readManifest(fs, root, vAfter)
    assert(head.files.forall(_.stats.contains("id")),
      "every file carries the backfilled bounds")
    assert(head.statsColsDefault === Seq("id"))
    // skipping behavior identical to a single-pass backfill: a point
    // lookup scans exactly the one file whose bounds admit it
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = ManifestLake.read(spark, dir).where(col("id") === 7L)
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((7L, "p7")))
      val scans = df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }
      assert(scans.map(_.metrics("numFiles").value).sum === 1L,
        "bounds must skip the other nine files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
