package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** ManifestLake.compact and inventory on hive lakes adopted in place —
  * the lake's one maintenance path: fragmented partitions collapse,
  * every row is preserved, well-compacted partitions are left alone,
  * and a compaction that fails before publish changes nothing.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Write `df` as a plain hive tree under a fresh temp dir and adopt
    * it as manifest v1.
    */
  private def adoptedLake(prefix: String, df: DataFrame, partitionBy: Seq[String] = Seq.empty,
                          types: Map[String, DataType] = Map.empty): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/lake"
    if (partitionBy.isEmpty) df.write.parquet(dir)
    else df.write.partitionBy(partitionBy: _*).parquet(dir)
    assert(ManifestLake.adopt(spark, dir, partitionTypes = types) === 1L)
    dir
  }

  private def rows(dir: String): Seq[Row] =
    ManifestLake.read(spark, dir).orderBy(col("pos")).collect().toSeq

  /** partition dir → live file count, from the manifest. */
  private def fileCounts(dir: String): Map[String, Long] =
    ManifestLake.inventory(spark, dir).collect()
      .map(r => r.getAs[String]("partition_dir") -> r.getAs[Long]("n_files")).toMap

  private def liveFiles(dir: String): Seq[ManifestLake.LiveFile] =
    ManifestLake.liveFilesAt(spark, dir, ManifestLake.currentVersion(spark, dir).get)

  private val bucketTypes = Map("pos_bucket" -> LongType)

  test("compact merges fragmented partitions and preserves data") {
    import spark.implicits._
    val df = (0 until 400).map { i =>
      (s"chr${i % 2 + 1}", (i % 4).toLong, i, s"payload$i")
    }.toDF("chrom", "pos_bucket", "pos", "payload")
    // 6-way repartition before partitionBy → up to 6 files per directory
    val dir = adoptedLake("compact", df.repartition(6), Seq("chrom", "pos_bucket"), bucketTypes)

    val before = fileCounts(dir)
    assert(before.values.forall(_ > 1), s"fixture should be fragmented: $before")
    val expected = rows(dir)

    val report = ManifestLake.compact(spark, dir, targetBytes = 1L << 30, clusterBy = Seq("pos"))
    assert(report.size === before.size) // every partition was fragmented
    assert(report.forall { case (_, b, a) => b > 1 && a === 1 })
    assert(fileCounts(dir).values.forall(_ === 1))
    assert(rows(dir) === expected)

    // idempotent: a second pass finds nothing to do
    assert(ManifestLake.compact(spark, dir, targetBytes = 1L << 30).isEmpty)
  }

  test("compact hits the file-count target even when the scan bin-packs tiny files") {
    import spark.implicits._
    // one partition directory, 12 tiny files — Spark's scan bin-packs
    // these into far fewer splits than the byte-derived target, which a
    // coalesce-only rewrite silently undershoots
    val dir = adoptedLake("compact-target",
      (0 until 1200).map(i => ("chr1", 0L, i, s"payload$i" * 40))
        .toDF("chrom", "pos_bucket", "pos", "payload").repartition(12),
      Seq("chrom", "pos_bucket"), bucketTypes)

    val bytes = liveFiles(dir).map(_.bytes).sum
    // pick targetBytes so want is ~4 (strictly between 1 and filesBefore)
    val target = bytes / 4 + 1
    val want = math.ceil(bytes.toDouble / target).toInt
    assert(want > 1 && want < 12, s"fixture should target a middle count, got $want")

    val expected = rows(dir)
    val report = ManifestLake.compact(spark, dir, targetBytes = target, clusterBy = Seq("pos"))
    assert(report.size === 1)
    assert(report.head._3 === want, s"filesAfter should equal the target $want: $report")
    assert(liveFiles(dir).length === want)
    assert(rows(dir) === expected)
  }

  test("inventory reports fragmentation metadata-only and agrees with compact") {
    import spark.implicits._
    val dir = adoptedLake("inventory",
      (0 until 400).map(i => (s"chr${i % 2 + 1}", (i % 4).toLong, i, s"payload$i"))
        .toDF("chrom", "pos_bucket", "pos", "payload").repartition(6),
      Seq("chrom", "pos_bucket"), bucketTypes)

    val inv = ManifestLake.inventory(spark, dir, targetBytes = 1L << 30).collect()
    assert(inv.length === 4) // 2 chroms x 2 buckets
    assert(inv.forall(_.getAs[Long]("n_files") > 1))
    assert(inv.forall(_.getAs[Boolean]("needs_compaction")))
    assert(inv.forall(r => r.getAs[Long]("total_bytes") >= r.getAs[Long]("max_file_bytes")))

    // compact exactly the partitions inventory flagged; a fresh
    // inventory then reports nothing left to do
    val report = ManifestLake.compact(spark, dir, targetBytes = 1L << 30)
    assert(report.map(_._1).toSet ===
      inv.map(_.getAs[String]("partition_dir")).toSet)
    val after = ManifestLake.inventory(spark, dir, targetBytes = 1L << 30).collect()
    assert(after.forall(r => !r.getAs[Boolean]("needs_compaction")))
    assert(after.forall(_.getAs[Long]("n_files") === 1))
    // missing lake → empty inventory, not an error
    assert(ManifestLake.inventory(spark, dir + "-nope").isEmpty)
  }

  test("compact discovers partitions at any depth — 1-level, 3-level, and unpartitioned") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"chr${i % 2 + 1}", (i % 2).toLong, i, s"p$i"))
      .toDF("chrom", "pos_bucket", "pos", "payload")

    // 1-level layout
    val one = adoptedLake("compact-1l", df.repartition(5), Seq("chrom"))
    val expected1 = rows(one)
    val r1 = ManifestLake.compact(spark, one, targetBytes = 1L << 30)
    assert(r1.nonEmpty && r1.forall { case (_, b, a) => b > 1 && a === 1 })
    assert(rows(one) === expected1)

    // 3-level layout
    val three = adoptedLake("compact-3l",
      df.withColumn("third", col("pos") % 2).repartition(5),
      Seq("chrom", "pos_bucket", "third"), bucketTypes + ("third" -> IntegerType))
    val expected3 = rows(three)
    val r3 = ManifestLake.compact(spark, three, targetBytes = 1L << 30)
    assert(r3.nonEmpty && r3.forall { case (_, b, a) => b > 1 && a === 1 })
    assert(rows(three) === expected3)

    // unpartitioned table — the root itself is the single partition
    val flat = adoptedLake("compact-0l", df.repartition(5))
    assert(liveFiles(flat).length === 5)
    val expected0 = rows(flat)
    val r0 = ManifestLake.compact(spark, flat, targetBytes = 1L << 30, clusterBy = Seq("pos"))
    assert(r0.size === 1 && r0.head._2 === 5 && r0.head._3 === 1)
    assert(liveFiles(flat).length === 1)
    assert(rows(flat) === expected0)
  }

  test("a failure after write but before swap leaves the originals fully intact") {
    import spark.implicits._
    val dir = adoptedLake("compact-crash",
      (0 until 300).map(i => ("chr1", 0L, i, s"payload$i"))
        .toDF("chrom", "pos_bucket", "pos", "payload").repartition(5),
      Seq("chrom", "pos_bucket"), bucketTypes)
    val originals = liveFiles(dir)
    val expected = rows(dir)

    // simulated crash after the rewrite is staged and verified, before
    // its manifest publishes
    ManifestLake.raceHook.set(_ => throw new RuntimeException("simulated crash"))
    val boom =
      try intercept[RuntimeException] { ManifestLake.compact(spark, dir, targetBytes = 1L << 30) }
      finally ManifestLake.raceHook.set(null)
    assert(boom.getMessage === "simulated crash")
    assert(ManifestLake.currentVersion(spark, dir) === Some(1L))
    assert(liveFiles(dir) === originals, "every original file must stay live")
    assert(rows(dir) === expected,
      "the table must still read back exactly (the abandoned stage is invisible)")

    // a later clean pass publishes
    val report = ManifestLake.compact(spark, dir, targetBytes = 1L << 30)
    assert(report.size === 1 && report.head._3 === 1)
    assert(rows(dir) === expected)
  }
}
