package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SHALLOW CLONE: a metadata-only commit referencing the source's
  * files by absolute path. Covers the machinery the q141 gate can't
  * reach relationally: deletion-vector masks riding into the clone
  * (and clone-side re-masking staying local), column mapping /
  * defaults / constraints carried, clone-of-clone, time travel and
  * restore on the clone, the spellings, and the refusals.
  */
class CloneSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  private def batch(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (s"g${i % 2}", i.toLong, s"p$i")).toDF("grp", "x", "payload")
  }

  private def liveFiles(path: String): Seq[ManifestLake.LiveFile] = {
    val (fs, root) = ManifestLake.fsFor(spark, path)
    ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, path).get).files
  }

  test("deletion-vector masks ride into the clone; clone-side re-masking stays local") {
    import spark.implicits._
    val src = freshDir("clone-dv-src")
    val tgt = freshDir("clone-dv-tgt")
    ManifestLake.write(spark, batch(0, 20), src, Seq("grp"))
    ManifestLake.delete(spark, src, col("x") % 4 === 0, deletionVectors = true)
    ManifestLake.shallowClone(spark, src, tgt)
    assert(liveFiles(tgt).exists(_.dv.isDefined), "the mask must carry")
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === (0 until 20).map(_.toLong)
      .filterNot(_ % 4 == 0).toSet, "masked rows stay masked through the clone")
    // a clone-side DV delete writes its sidecar under the CLONE root
    ManifestLake.delete(spark, tgt, col("x") % 4 === 1, deletionVectors = true)
    val (tfs, troot) = ManifestLake.fsFor(spark, tgt)
    val cloneDvs = liveFiles(tgt).flatMap(_.dv).distinct
    assert(cloneDvs.exists(p => !new org.apache.hadoop.fs.Path(p).isAbsolute ||
      tfs.makeQualified(new org.apache.hadoop.fs.Path(troot, p)).toString
        .startsWith(tfs.makeQualified(troot).toString)),
      s"clone-side DV sidecars must land under the clone root, got $cloneDvs")
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === (0 until 20).map(_.toLong)
      .filterNot(x => x % 4 == 0 || x % 4 == 1).toSet)
    // ...and the SOURCE still serves only its own mask
    assert(ManifestLake.read(spark, src).count() === 15)
  }

  test("header facts carry: column mapping, defaults, constraints, generated") {
    import spark.implicits._
    val src = freshDir("clone-hdr-src")
    val tgt = freshDir("clone-hdr-tgt")
    val ts = s"`graft-manifest`.`$src`"
    spark.sql(s"CREATE TABLE $ts (grp STRING, id BIGINT, " +
      "state STRING DEFAULT 'new', doubled BIGINT GENERATED ALWAYS AS (id * 2)) " +
      "USING `graft-manifest` PARTITIONED BY (grp)")
    spark.sql(s"ALTER TABLE $ts ADD CONSTRAINT pos CHECK (id >= 0)")
    spark.sql(s"ALTER TABLE $ts SET TBLPROPERTIES ('graft.clusterCols' = 'id')")
    spark.sql(s"INSERT INTO $ts (grp, id) VALUES ('a', 1)")
    spark.sql(s"ALTER TABLE $ts RENAME COLUMN state TO phase")
    ManifestLake.shallowClone(spark, src, tgt)
    val tt = s"`graft-manifest`.`$tgt`"
    // mapping: the renamed logical name serves the old physical data
    assert(spark.sql(s"SELECT phase FROM $tt").as[String].head() === "new")
    // defaults + generated compute on clone-side inserts
    spark.sql(s"INSERT INTO $tt (grp, id) VALUES ('a', 3)")
    assert(spark.sql(s"SELECT phase, doubled FROM $tt WHERE id = 3")
      .as[(String, Long)].head() === (("new", 6L)))
    // constraints enforce on the clone
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $tt (grp, id) VALUES ('a', -1)"))
    assert(e.getMessage.contains("pos"))
    // declared clustering keys carry too — the clone's bare OPTIMIZE
    // inherits the layout contract
    assert(spark.sql(s"SHOW TBLPROPERTIES $tt").collect()
      .exists(r => r.getString(0) == "graft.clusterCols" &&
        r.getString(1) == "id"))
    // the source never saw any of it
    assert(ManifestLake.read(spark, src).count() === 1)
  }

  test("clone of a clone passes absolute entries through; time travel and restore work") {
    import spark.implicits._
    val a = freshDir("clone-chain-a")
    val b = freshDir("clone-chain-b")
    val c = freshDir("clone-chain-c")
    ManifestLake.write(spark, batch(0, 10), a, Seq("grp"))
    ManifestLake.shallowClone(spark, a, b)
    spark.sql(s"INSERT INTO `graft-manifest`.`$b` VALUES ('g0', 99, 'x')") // b v2
    ManifestLake.shallowClone(spark, b, c)                                 // c = b@v2
    assert(ManifestLake.read(spark, c).count() === 11)
    // c's entries reference files under a AND under b — both absolute
    val roots = liveFiles(c).map(_.path)
    assert(roots.forall(p => new org.apache.hadoop.fs.Path(p).isAbsolute))
    // DML on c, then restore c to its clone version
    spark.sql(s"DELETE FROM `graft-manifest`.`$c` WHERE x < 5")
    assert(ManifestLake.read(spark, c).count() === 6)
    spark.sql(s"RESTORE `graft-manifest`.`$c` TO VERSION AS OF 1")
    assert(ManifestLake.read(spark, c).count() === 11)
    // time travel on the middle clone still serves its v1
    assert(ManifestLake.readVersion(spark, b, 1L).count() === 10)
  }

  test("readChanges serves a clone's creating commit as the source's rows, like the streaming source") {
    val src = freshDir("clone-changes-src")
    val tgt = freshDir("clone-changes-tgt")
    ManifestLake.write(spark, batch(0, 10), src, Seq("grp"))
    ManifestLake.write(spark, batch(10, 14), src, Seq("grp"), replace = false)
    ManifestLake.shallowClone(spark, src, tgt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "x", "payload").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    // v1 of the target is the clone: the same files the streaming
    // source feeds for it (addedFilesAt), read as one batch
    assert(rows(ManifestLake.readChanges(spark, tgt, 0L, 1L)) === rows(ManifestLake.read(spark, src)))
    assert(ManifestLake.addedFilesAt(spark, tgt, 1L, skipNonAppend = false).map(_.path).toSet ===
      liveFiles(tgt).map(_.path).toSet)
  }

  test("spellings and refusals: OR REPLACE, IF NOT EXISTS, self-clone, bad version") {
    val src = freshDir("clone-spell-src")
    val t1 = freshDir("clone-spell-t1")
    ManifestLake.write(spark, batch(0, 6), src, Seq("grp"))
    ManifestLake.write(spark, batch(0, 9), src, Seq("grp"), replace = false)
    val ts = s"`graft-manifest`.`$src`"
    val tt = s"`graft-manifest`.`$t1`"
    spark.sql(s"CREATE TABLE $tt SHALLOW CLONE $ts VERSION AS OF 1")
    assert(ManifestLake.read(spark, t1).count() === 6)
    // plain CREATE onto an existing table refuses; IF NOT EXISTS skips
    val e1 = intercept[Exception](
      spark.sql(s"CREATE TABLE $tt SHALLOW CLONE $ts"))
    assert(e1.getMessage.contains("already exists"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS $tt SHALLOW CLONE $ts")
    assert(ManifestLake.read(spark, t1).count() === 6, "IF NOT EXISTS skips")
    // OR REPLACE publishes the clone as the next version (history kept)
    spark.sql(s"CREATE OR REPLACE TABLE $tt SHALLOW CLONE $ts")
    assert(ManifestLake.read(spark, t1).count() === 15)
    assert(ManifestLake.readVersion(spark, t1, 1L).count() === 6,
      "OR REPLACE keeps the clone's own history")
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $ts SHALLOW CLONE $ts"))
    assert(e2.getMessage.contains("onto itself"))
    val e3 = intercept[Exception](spark.sql(
      s"CREATE TABLE `graft-manifest`.`${freshDir("clone-spell-t2")}` " +
        s"SHALLOW CLONE $ts VERSION AS OF 99"))
    assert(e3.getMessage.contains("1..2"))
    // a vanilla CREATE TABLE with a column named shallow still parses
    // as vanilla SQL (the pre-parse gate excludes column lists)
    val vt = freshDir("clone-spell-vanilla")
    spark.sql(s"CREATE TABLE `graft-manifest`.`$vt` (shallow STRING, x BIGINT) " +
      "USING `graft-manifest`")
    assert(ManifestLake.currentVersion(spark, vt).contains(1L))
  }

  test("ANALYZE on a clone backfills stats for source-referenced absolute entries") {
    import spark.implicits._
    val src = freshDir("clone-analyze-src")
    val tgt = freshDir("clone-analyze-tgt")
    // stats-late source: no declared stat columns at write time
    ManifestLake.write(spark,
      (0 until 40).map(i => (s"g${i % 2}", i.toLong, s"p$i"))
        .toDF("grp", "x", "payload").repartition(8), src, Seq("grp"))
    ManifestLake.shallowClone(spark, src, tgt)
    assert(liveFiles(tgt).forall(_.stats.isEmpty), "precondition: stats-late")
    ManifestLake.analyzeStats(spark, tgt, Seq("x"))
    assert(liveFiles(tgt).forall(_.stats.contains("x")),
      "the backfill must key absolute (clone-referenced) entries too")
    // ...and the bounds actually skip
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = ManifestLake.read(spark, tgt).where(col("x") === 7L)
      assert(df.collect().length === 1)
      val scanned = df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.sum
      assert(scanned < liveFiles(tgt).size,
        s"bounds must skip files ($scanned scanned)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // the SOURCE manifest is untouched (the clone analyzed its own view)
    assert(liveFiles(src).forall(_.stats.isEmpty))
  }

  test("named-catalog spellings on both sides") {
    val wh = Files.createTempDirectory("clone-wh").toString
    spark.conf.set("spark.sql.catalog.gclone", "graft.etl.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclone.warehouse", wh)
    spark.sql("CREATE TABLE gclone.ns.src (grp STRING, x BIGINT) " +
      "PARTITIONED BY (grp)")
    spark.sql("INSERT INTO gclone.ns.src VALUES ('a', 1), ('b', 2)")
    spark.sql("CREATE TABLE gclone.ns.dst SHALLOW CLONE gclone.ns.src")
    assert(spark.sql("SELECT count(*) FROM gclone.ns.dst").head().getLong(0) === 2)
    assert(!new java.io.File(s"$wh/ns/dst/data").exists(),
      "named clone copies nothing")
  }

  test("FSCK on a clone probes absolute refs with their own filesystem and repairs") {
    val src = freshDir("clone-fsck-src")
    val tgt = freshDir("clone-fsck-tgt")
    ManifestLake.write(spark, batch(0, 40).repartition(4), src, Seq("grp"))
    ManifestLake.shallowClone(spark, src, tgt)
    // healthy clone: FSCK probes every absolute entry without throwing
    assert(ManifestLake.fsck(spark, tgt, dryRun = true).isEmpty)
    // vanish one SOURCE file out-of-band: the clone's FSCK must see it
    val victim = liveFiles(tgt).head.path
    val (fs, _) = ManifestLake.fsFor(spark, tgt)
    assert(fs.delete(new org.apache.hadoop.fs.Path(victim), false))
    assert(ManifestLake.fsck(spark, tgt, dryRun = true) === Seq(victim))
    assert(ManifestLake.fsck(spark, tgt) === Seq(victim))
    // repaired: the remaining rows scan clean
    assert(ManifestLake.read(spark, tgt).count() > 0)
    assert(ManifestLake.fsck(spark, tgt, dryRun = true).isEmpty)
  }

  test("ANALYZE backfills clone entries whose source path contains a space") {
    import spark.implicits._
    val src = Files.createTempDirectory("clone sp src").toString + "/ta ble"
    val tgt = freshDir("clone-sp-tgt")
    ManifestLake.write(spark,
      (0 until 20).map(i => (s"g${i % 2}", i.toLong)).toDF("grp", "x")
        .repartition(4), src, Seq("grp"))
    ManifestLake.shallowClone(spark, src, tgt)
    ManifestLake.analyzeStats(spark, tgt, Seq("x"))
    assert(liveFiles(tgt).forall(_.stats.contains("x")),
      "a space in the source path must not silently skip the backfill")
  }

  test("DEEP CLONE survives source vacuum AND source deletion; DV masks carry byte-unchanged") {
    import spark.implicits._
    val src = freshDir("dclone-src")
    val tgt = freshDir("dclone-tgt")
    ManifestLake.write(spark, batch(0, 40).repartition(4), src, Seq("grp"))
    ManifestLake.delete(spark, src, col("x") % 4 === 0, deletionVectors = true)
    spark.sql(s"ALTER TABLE `graft-manifest`.`$src` ADD CONSTRAINT pos CHECK (x >= 0)")
    val expect = (0 until 40).map(_.toLong).filterNot(_ % 4 == 0).toSet
    val res = spark.sql(
      s"CREATE TABLE `graft-manifest`.`$tgt` DEEP CLONE `graft-manifest`.`$src`")
      .head()
    assert(res.getLong(0) === 1L)
    // every reference is the clone's OWN: no absolute paths anywhere
    val (tfs, troot) = ManifestLake.fsFor(spark, tgt)
    val trootQ = tfs.makeQualified(troot).toString
    liveFiles(tgt).foreach { f =>
      (Seq(f.path) ++ f.dv ++ f.bloom).foreach(p =>
        assert(!new org.apache.hadoop.fs.Path(p).isAbsolute &&
          !p.contains(":/"), s"deep clone must own every reference, got $p"))
    }
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === expect, "masked rows stay masked")
    // destroy the source wholesale — the deep clone must not notice
    val (sfs, sroot) = ManifestLake.fsFor(spark, src)
    assert(sfs.delete(sroot, true))
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === expect)
    // header facts carried: the constraint still enforces
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO `graft-manifest`.`$tgt` VALUES ('g0', -1, 'bad')"))
    assert(e.getMessage.contains("pos"))
    // clone-side DV deletes keep working on the copied files
    ManifestLake.delete(spark, tgt, col("x") % 4 === 1, deletionVectors = true)
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === expect.filterNot(_ % 4 == 1))
  }

  test("DEEP CLONE of a SHALLOW clone copies the external refs in (ext- namespace)") {
    import spark.implicits._
    val src = freshDir("dclone2-src")
    val mid = freshDir("dclone2-mid")
    val tgt = freshDir("dclone2-tgt")
    ManifestLake.write(spark, batch(0, 20), src, Seq("grp"))
    ManifestLake.delete(spark, src, col("x") % 5 === 0, deletionVectors = true)
    ManifestLake.shallowClone(spark, src, mid)
    val expect = (0 until 20).map(_.toLong).filterNot(_ % 5 == 0).toSet
    ManifestLake.deepClone(spark, mid, tgt)
    assert(liveFiles(tgt).forall(f => !f.path.contains(":/")))
    // both upstream tables vanish; the deep clone serves unchanged
    Seq(src, mid).foreach { p =>
      val (fs0, r0) = ManifestLake.fsFor(spark, p)
      assert(fs0.delete(r0, true))
    }
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === expect,
      "deep clone of a shallow clone must survive both upstreams vanishing")
  }

  test("DEEP CLONE VERSION AS OF pins; refusals mirror shallow's") {
    import spark.implicits._
    val src = freshDir("dclone3-src")
    val tgt = freshDir("dclone3-tgt")
    ManifestLake.write(spark, batch(0, 10), src, Seq("grp"))          // v1
    ManifestLake.write(spark, batch(10, 30), src, Seq("grp"), replace = false) // v2
    spark.sql(s"CREATE TABLE `graft-manifest`.`$tgt` DEEP CLONE " +
      s"`graft-manifest`.`$src` VERSION AS OF 1")
    assert(ManifestLake.read(spark, tgt).count() === 10)
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE `graft-manifest`.`$tgt` DEEP CLONE `graft-manifest`.`$src`"))
    assert(e.getMessage.contains("already exists"))
    spark.sql(s"CREATE OR REPLACE TABLE `graft-manifest`.`$tgt` DEEP CLONE " +
      s"`graft-manifest`.`$src`")
    assert(ManifestLake.read(spark, tgt).count() === 30)
    // both target versions stay readable (time travel across replace)
    assert(spark.read.format("graft-manifest").option("versionAsOf", 1)
      .load(tgt).count() === 10)
    val e2 = intercept[Exception](
      ManifestLake.deepClone(spark, src, src))
    assert(e2.getMessage.contains("onto itself"))
  }

  test("ALTER TABLE … MATERIALIZE untethers a shallow clone in place; no-op when local") {
    import spark.implicits._
    val src = freshDir("mat-src")
    val tgt = freshDir("mat-tgt")
    ManifestLake.write(spark, batch(0, 20).repartition(2), src, Seq("grp"))
    ManifestLake.delete(spark, src, col("x") % 4 === 0, deletionVectors = true)
    ManifestLake.shallowClone(spark, src, tgt)
    // clone-side divergence BEFORE materializing: local append + DV
    spark.sql(s"INSERT INTO `graft-manifest`.`$tgt` VALUES ('g0', 100, 'new')")
    val expect = ((0 until 20).map(_.toLong).filterNot(_ % 4 == 0) :+ 100L).toSet
    val row = spark.sql(s"ALTER TABLE `graft-manifest`.`$tgt` MATERIALIZE").head()
    assert(row.getLong(1) > 0, "materialize must report copied files")
    liveFiles(tgt).foreach(f =>
      (Seq(f.path) ++ f.dv ++ f.bloom).foreach(p =>
        assert(!p.contains(":/") && !new org.apache.hadoop.fs.Path(p).isAbsolute,
          s"materialize must leave no external reference, got $p")))
    // source vanishes; the materialized clone is unbothered
    val (sfs, sroot) = ManifestLake.fsFor(spark, src)
    assert(sfs.delete(sroot, true))
    assert(spark.sql(s"SELECT x FROM `graft-manifest`.`$tgt`")
      .as[Long].collect().toSet === expect)
    // a second MATERIALIZE is a version-preserving no-op
    val head = ManifestLake.currentVersion(spark, tgt).get
    val again = spark.sql(s"ALTER TABLE `graft-manifest`.`$tgt` MATERIALIZE").head()
    assert(again.getLong(0) === head && again.getLong(1) === 0L,
      "materialize on a fully-local table must publish nothing")
    // the row-level change feed SPANS the materialize commit (rows are
    // identical — it serves nothing for it, never a refusal). v1's
    // entries still reference the now-deleted source (time travel to
    // pre-materialize versions dies with it — the documented hazard
    // materialize exists to stop accruing), so the window starts after
    // the clone snapshot.
    val feed = ManifestLake.readChangeFeed(spark, tgt, 1L, head)
    assert(feed.where(col("_change_type") === "insert").count() === 1,
      "the feed must serve the local append and nothing for materialize")
    // vanilla ALTER statements still pass through to Spark untouched
    val e = intercept[Exception](
      spark.sql("ALTER TABLE nonexistent_tbl ADD COLUMN c INT"))
    assert(!e.getMessage.contains("MATERIALIZE"))
  }
}
