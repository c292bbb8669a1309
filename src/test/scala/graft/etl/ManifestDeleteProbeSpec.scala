package graft.etl

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** How `ManifestLake.delete` decides between its metadata-only path
  * (a predicate over partition columns alone) and its rewrite path:
  * from the predicate's references, with no query that fails on
  * purpose.
  */
class ManifestDeleteProbeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def table(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(tag).toString + "/table"
    ManifestLake.write(spark,
      (0 until 60).map(i => (s"chr${i % 3 + 1}", (i % 2).toLong, i, s"p$i"))
        .toDF("chrom", "pos_bucket", "pos", "payload"),
      dir, Seq("chrom", "pos_bucket"), statsCols = Seq("pos"))
    dir
  }

  private def parquetFiles(dir: String): Set[String] = {
    val (fs, _) = ManifestLake.fsFor(spark, dir)
    val it = fs.listFiles(new Path(dir, "data"), true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath.toString
      if (p.endsWith(".parquet")) out += p
    }
    out.result()
  }

  test("a data-column delete reports no failed query to listeners") {
    val dir = table("mlake-delete-probe")
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.put(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
        failures.add(s"$funcName: ${e.getMessage}"); ()
      }
    }
    spark.listenerManager.register(listener)
    try {
      assert(ManifestLake.delete(spark, dir, col("chrom") === "chr1" && col("pos") >= 30) === 2L)
      ListenerDrain.drain(spark, plans)
    } finally spark.listenerManager.unregister(listener)
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    val left = ManifestLake.read(spark, dir)
    assert(left.count() === 50)
    assert(left.where(col("chrom") === "chr1" && col("pos") >= 30).count() === 0)
  }

  test("a partition-only delete without the change feed publishes by reference and writes no file") {
    val dir = table("mlake-delete-meta")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val before = ManifestLake.readManifest(fs, root, 1L).files
    val filesBefore = parquetFiles(dir)
    assert(ManifestLake.delete(spark, dir, col("chrom") === "chr2" && col("pos_bucket") === 1L,
      changeFeed = false) === 2L)
    assert(parquetFiles(dir) === filesBefore)
    val after = ManifestLake.readManifest(fs, root, 2L).files
    assert(after.toSet ===
      before.filterNot(f => ManifestLake.partDirOf(f.path) == "chrom=chr2/pos_bucket=1").toSet)
    assert(after.size < before.size)
    val left = ManifestLake.read(spark, dir)
    assert(left.count() === 50)
    assert(left.where(col("chrom") === "chr2" && col("pos_bucket") === 1L).count() === 0)
  }
}
