package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Trace

/** The queries each ManifestLake DML verb runs, pinned: the number of
  * executions a `graft.obs` span sees and the `ShuffleExchangeExec` nodes in
  * their final plans. `ManifestUpsertSpec` pins upsert and
  * `ManifestDeleteProbeSpec` the data-column delete; this spec pins the
  * other paths, so a refactor of the shared rewrite cannot add a query
  * or a shuffle to one verb unseen. Each test also checks the rows the
  * verb leaves.
  */
class ManifestDmlPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark

  /** 60 rows over 3 chroms × 2 buckets, `pos` stats recorded. */
  private def table(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(tag).toString + "/table"
    ManifestLake.write(spark,
      (0 until 60).map(i => (s"chr${i % 3 + 1}", (i % 2).toLong, i, s"p$i"))
        .toDF("chrom", "pos_bucket", "pos", "payload"),
      dir, Seq("chrom", "pos_bucket"), statsCols = Seq("pos"))
    dir
  }

  /** Runs `body` and returns (executions, exchanges) of the queries it
    * ran; fails if any query failed.
    */
  private def shape(body: => Any): (Int, Int) = {
    val (_, span) = Trace.capture(spark)(body)
    assert(span.failures === 0)
    val exchanges = span.plans.map(p => collect(p) { case s: ShuffleExchangeExec => s }.size).sum
    info(s"${span.plans.size} executions, $exchanges exchanges")
    (span.plans.size, exchanges)
  }

  private def rows(dir: String): Map[Int, String] =
    ManifestLake.read(spark, dir).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[String]("payload")).toMap

  private val seed: Map[Int, String] = (0 until 60).map(i => i -> s"p$i").toMap

  test("update runs 3 queries and 1 shuffle") {
    val dir = table("mlake-plan-update")
    assert(shape(ManifestLake.update(spark, dir, col("pos") >= 50,
      Map("payload" -> lit("u")))) === ((3, 1)))
    assert(rows(dir) === seed ++ (50 until 60).map(_ -> "u"))
  }

  test("a three-clause mergeClauses runs 4 queries and 6 shuffles") {
    import spark.implicits._
    val dir = table("mlake-plan-merge")
    // pos 0 (chr1, 0) deletes, pos 4 (chr2, 0) updates, pos 100 inserts
    val src = Seq(("chr1", 0L, 0, "", true), ("chr2", 0L, 4, "m", false),
      ("chr1", 0L, 100, "i", false)).toDF("chrom", "pos_bucket", "pos", "payload", "del")
    assert(shape(ManifestLake.mergeClauses(spark, dir, src, Seq("chrom", "pos_bucket"),
      Seq("chrom", "pos_bucket", "pos"),
      matched = Seq(ManifestLake.MergeDelete(Some(col("s.del"))),
        ManifestLake.MergeUpdate(None, Some(Seq("payload" -> col("s.payload"))))),
      notMatched = Seq(ManifestLake.MergeInsert(None, Some(Seq(
        "chrom" -> col("s.chrom"), "pos_bucket" -> col("s.pos_bucket"),
        "pos" -> col("s.pos"), "payload" -> col("s.payload"))))))) === ((4, 6)))
    assert(rows(dir) === seed - 0 + (4 -> "m") + (100 -> "i"))
  }

  test("overwritePartitions runs 3 queries and 3 shuffles") {
    import spark.implicits._
    val dir = table("mlake-plan-overwrite")
    val batch = Seq(("chr1", 1L, 200, "o"), ("chr1", 1L, 201, "o"))
      .toDF("chrom", "pos_bucket", "pos", "payload")
    assert(shape(ManifestLake.overwritePartitions(spark, dir, batch)) === ((3, 3)))
    val replaced = (0 until 60).filter(i => i % 3 == 0 && i % 2 == 1).toSet
    assert(rows(dir) === seed.filterNot(kv => replaced(kv._1)) ++ Seq(200 -> "o", 201 -> "o"))
  }

  test("a partition-only delete with the change feed runs 2 queries and no shuffle") {
    val dir = table("mlake-plan-delete-part")
    assert(shape(ManifestLake.delete(spark, dir,
      col("chrom") === "chr2" && col("pos_bucket") === 1L)) === ((2, 0)))
    assert(rows(dir) === seed.filterNot { case (i, _) => i % 3 == 1 && i % 2 == 1 })
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 2L).count() === 10)
  }

  test("a deletion-vector delete runs 4 queries and 2 shuffles") {
    val dir = table("mlake-plan-delete-dv")
    assert(shape(ManifestLake.delete(spark, dir, col("pos") < 10,
      deletionVectors = true)) === ((4, 2)))
    assert(rows(dir) === seed.filterNot(_._1 < 10))
    assert(ManifestLake.readChangeFeed(spark, dir, 1L, 2L).count() === 10)
  }
}
