package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition overwrite as ONE manifest commit: touched
  * partitions swap wholesale, untouched partitions carry BY REFERENCE
  * (same file entries), the change feed stamps exact delete+insert
  * rows, constraints enforce like an append, and the SQL
  * `INSERT OVERWRITE … PARTITION` surface dispatches here — including
  * the Hive empty-query-clears-partition idiom.
  */
class OverwritePartitionsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  test("touched partitions swap atomically; untouched carry by reference; feed + time travel exact") {
    import spark.implicits._
    val dir = freshDir("mlake-owp")
    ManifestLake.write(spark,
      Seq(("aa", 1L, "a1"), ("aa", 2L, "a2"), ("bb", 3L, "b3"))
        .toDF("part", "id", "payload"),
      dir, Seq("part"), statsCols = Seq("id"))                                 // v1
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val bbBefore = ManifestLake.readManifest(fs, root, 1L).files
      .filter(_.path.contains("part=bb")).map(_.path).toSet

    val v2 = ManifestLake.overwritePartitions(spark,
      dir, Seq(("aa", 9L, "a9")).toDF("part", "id", "payload"))
    assert(v2 === 2L)
    val r = ManifestLake.read(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getString(2))).toSet
    assert(r === Set(("aa", 9L, "a9"), ("bb", 3L, "b3")))
    assert(ManifestLake.readManifest(fs, root, 2L).files
      .filter(_.path.contains("part=bb")).map(_.path).toSet === bbBefore,
      "untouched partitions must carry by reference, not rewrite")
    // time travel serves the pre-swap content
    assert(ManifestLake.readVersion(spark, dir, 1L).count() === 3)
    // the change feed serves the exact swap
    val feed = ManifestLake.readChangeFeed(spark, dir, 1L, 2L)
      .select("_change_type", "part", "id").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(feed === Set(("delete", "aa", 1L), ("delete", "aa", 2L),
      ("insert", "aa", 9L)))
    // empty batch: no-op, no version
    assert(ManifestLake.overwritePartitions(spark, dir,
      Seq.empty[(String, Long, String)].toDF("part", "id", "payload")) === 2L)
    // txn ledger: a replayed (appId, batchId) publishes nothing
    assert(ManifestLake.overwritePartitions(spark, dir,
      Seq(("bb", 7L, "b7")).toDF("part", "id", "payload"),
      txn = Some(("owp-spec", 1L))) === 3L)
    assert(ManifestLake.overwritePartitions(spark, dir,
      Seq(("bb", 8L, "b8")).toDF("part", "id", "payload"),
      txn = Some(("owp-spec", 1L))) === 3L,
      "a ledger-known batch must replay as a no-op")
    assert(ManifestLake.read(spark, dir).where(col("id") === 8L).count() === 0)
  }

  test("a batch adding a column named like the change feed's metadata refuses, as upsert does; nothing publishes") {
    import spark.implicits._
    val dir = freshDir("mlake-owp-reserved")
    ManifestLake.write(spark, Seq(("aa", 1L, "a1"), ("bb", 2L, "b2"))
      .toDF("part", "id", "payload"), dir, Seq("part"))                        // v1
    val clash = Seq(("aa", 9L, "a9", "x")).toDF("part", "id", "payload", "_change_type")
    val eUpsert = intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir, clash, Seq("part"), Seq("part", "id"))
    }
    val eOverwrite = intercept[IllegalArgumentException] {
      ManifestLake.overwritePartitions(spark, dir, clash)
    }
    Seq(eUpsert, eOverwrite).foreach(e => assert(
      e.getMessage.contains("column name _change_type is reserved for the change feed's metadata"),
      e.getMessage))
    assert(ManifestLake.currentVersion(spark, dir) === Some(1L))
    // the table still serves its feed and takes a clean overwrite
    assert(ManifestLake.overwritePartitions(spark, dir,
      Seq(("aa", 9L, "a9")).toDF("part", "id", "payload")) === 2L)
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 2L).count() === 2)
  }

  test("constraints enforce on the swap; a violating batch is withdrawn whole") {
    import spark.implicits._
    val dir = freshDir("mlake-owp-cons")
    ManifestLake.write(spark,
      Seq(("aa", 1L, "a1")).toDF("part", "id", "payload"), dir, Seq("part"))
    ManifestLake.addConstraint(spark, dir, "pos_id", "id > 0")                 // v2
    val e = intercept[IllegalStateException] {
      ManifestLake.overwritePartitions(spark, dir,
        Seq(("aa", -5L, "bad")).toDF("part", "id", "payload"))
    }
    assert(e.getMessage.contains("pos_id"))
    assert(ManifestLake.currentVersion(spark, dir).contains(2L))
    assert(ManifestLake.read(spark, dir).where(col("id") === 1L).count() === 1,
      "the old partition content must survive a withdrawn swap")
  }

  test("SQL INSERT OVERWRITE … PARTITION replaces exactly that partition; dynamic mode by conf; empty static spec clears") {
    import spark.implicits._
    val dir = freshDir("mlake-owp-sql")
    ManifestLake.write(spark,
      Seq(("aa", 1L, "a1"), ("bb", 2L, "b2"), ("cc", 3L, "c3"))
        .toDF("part", "id", "payload"),
      dir, Seq("part"), statsCols = Seq("id"))                                 // v1
    // static spec: only aa swaps
    spark.sql(s"INSERT OVERWRITE `graft-manifest`.`$dir` PARTITION (part='aa') " +
      "VALUES (10, 'a10')")
    val r = ManifestLake.read(spark, dir)
    assert(r.count() === 3)
    assert(r.where(col("part") === "aa").select("id").head().getLong(0) === 10L)
    assert(r.where(col("part") === "bb").count() === 1)
    // dynamic names in the spec swap only the QUERY's partitions —
    // under DYNAMIC mode (in static mode, Spark's default, an
    // all-dynamic spec matches EVERY partition and the table replaces
    // wholesale; that branch is asserted below)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE `graft-manifest`.`$dir` PARTITION (part) " +
        "VALUES ('bb', 20, 'b20'), ('bb', 21, 'b21')")
      val r2 = ManifestLake.read(spark, dir)
      assert(r2.where(col("part") === "bb").count() === 2)
      assert(r2.where(col("part") === "cc").count() === 1, "unnamed partitions untouched")
      // dynamic mode makes a bare INSERT OVERWRITE dynamic too
      spark.sql(s"INSERT OVERWRITE `graft-manifest`.`$dir` " +
        "VALUES ('cc', 30, 'c30')")
      val r3 = ManifestLake.read(spark, dir)
      assert(r3.where(col("part") === "cc").select("id").head().getLong(0) === 30L)
      assert(r3.where(col("part") === "bb").count() === 2,
        "dynamic mode must not touch partitions absent from the batch")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // the Hive idiom: OVERWRITE a fully-named partition with an empty
    // query clears it
    spark.sql(s"INSERT OVERWRITE `graft-manifest`.`$dir` PARTITION (part='cc') " +
      "SELECT id, payload FROM (VALUES (1L, 'x')) AS t(id, payload) WHERE false")
    val r4 = ManifestLake.read(spark, dir)
    assert(r4.where(col("part") === "cc").count() === 0, "empty static overwrite clears")
    assert(r4.count() === 3)
    // STATIC mode: the all-dynamic spec matches every partition — the
    // table replaces wholesale (Spark's own static-mode semantics)
    spark.sql(s"INSERT OVERWRITE `graft-manifest`.`$dir` PARTITION (part) " +
      "VALUES ('yy', 50, 'y50')")
    assert(ManifestLake.read(spark, dir).count() === 1)
    assert(ManifestLake.read(spark, dir).select("id").head().getLong(0) === 50L)
    // a bare INSERT OVERWRITE (static mode, no spec) still replaces wholesale
    spark.sql(s"INSERT OVERWRITE `graft-manifest`.`$dir` VALUES ('zz', 99, 'z')")
    assert(ManifestLake.read(spark, dir).count() === 1)
  }

  test("static-prefix overwrite withdraws when a racer creates a NEW partition under the prefix") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshDir("mlake-owp-race")
    ManifestLake.write(spark,
      Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L))
        .toDF("p1", "p2", "id"), dir, Seq("p1", "p2"))                         // v1
    // the racer lands a NEW partition (a, z) between staging and
    // publish — it is NOT in affectedDirs (it did not exist at the
    // snapshot), so only the prefix-dir guard can see it; static
    // semantics would have cleared it in a serial execution, so the
    // overwrite must WITHDRAW loudly, never leave (a, z) half-alive
    ManifestLake.raceHook.set { _ =>
      Await.result(Future {
        spark.sparkContext.clearJobGroup()
        ManifestLake.write(spark,
          Seq(("a", "z", 99L)).toDF("p1", "p2", "id"),
          dir, Seq("p1", "p2"), replace = false)
      }, 2.minutes): Unit
    }
    val e = try intercept[IllegalStateException] {
      ManifestLake.overwritePartitions(spark, dir,
        Seq(("a", "x", 10L)).toDF("p1", "p2", "id"),
        staticPrefix = Seq("p1" -> "a"))
    } finally ManifestLake.raceHook.set(null)
    assert(e.getMessage.contains("lost its race"), e.getMessage)
    val r = ManifestLake.read(spark, dir).select("p1", "p2", "id").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(r === Set(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L),
      ("a", "z", 99L)),
      "the racer's append survives; the withdrawn overwrite changed nothing")
    // re-run against the new head: now (a, z) is in the snapshot and
    // the whole prefix — x, y, AND z — clears in the one commit
    val v = ManifestLake.overwritePartitions(spark, dir,
      Seq(("a", "x", 10L)).toDF("p1", "p2", "id"),
      staticPrefix = Seq("p1" -> "a"))
    assert(v === 3L)
    val r2 = ManifestLake.read(spark, dir).select("p1", "p2", "id").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(r2 === Set(("a", "x", 10L), ("b", "x", 3L)))
  }

  test("static-prefix spec values canonicalize through the column's type: p='01' names the dirs int rows render '1'") {
    import spark.implicits._
    val dir = freshDir("mlake-owp-canon")
    ManifestLake.write(spark,
      Seq((1, 10L, "one"), (2, 20L, "two"), (3, 30L, "three"))
        .toDF("p", "id", "payload"),
      dir, Seq("p"))                                                     // v1
    // non-canonical spelling '01' for an int partition column: rows
    // render '1', so without canonicalization the prefix would match
    // no live dir and the batch (p=1) would refuse as "outside the
    // static prefix"; canonicalized, partition 1 swaps exactly
    ManifestLake.overwritePartitions(spark, dir,
      Seq((1, 11L, "one-b")).toDF("p", "id", "payload"),
      staticPrefix = Seq("p" -> "01"))                                   // v2
    val r = ManifestLake.read(spark, dir).select("p", "id").collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSet
    assert(r === Set((1, 11L), (2, 20L), (3, 30L)))
    // an EMPTY batch under a non-canonical spec must CLEAR the named
    // partition, not silently no-op against zero matched dirs
    ManifestLake.overwritePartitions(spark, dir,
      Seq.empty[(Int, Long, String)].toDF("p", "id", "payload"),
      staticPrefix = Seq("p" -> "0002"))                                 // v3
    val r2 = ManifestLake.read(spark, dir).select("p", "id").collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSet
    assert(r2 === Set((1, 11L), (3, 30L)), "partition 2 must clear")
    // a value that cannot cast to the partition column's type refuses
    // loudly instead of matching nothing
    val e = intercept[IllegalArgumentException] {
      ManifestLake.overwritePartitions(spark, dir,
        Seq.empty[(Int, Long, String)].toDF("p", "id", "payload"),
        staticPrefix = Seq("p" -> "xx"))
    }
    assert(e.getMessage.contains("not a valid"), e.getMessage)
  }
}
