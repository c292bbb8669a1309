package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** ManifestLake.upsert on a hive lake in `Lake.write`'s layout, adopted
  * in place — the lake's one maintenance path: update-wins merge,
  * partition isolation, a commit that fails before publish, and the
  * key-uniqueness precondition.
  */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val partCols = Seq("chrom", "pos_bucket")
  private val keyCols = Seq("chrom", "pos_bucket", "pos")

  /** A plain hive lake, adopted as manifest v1 (no data moves). */
  private def freshLake(): String = {
    val dir = Files.createTempDirectory("upsert").toString + "/lake"
    Seq(
      ("chr1", 0L, 100, "v1-a"),
      ("chr1", 0L, 200, "v1-b"),
      ("chr2", 0L, 100, "v1-c"),
      ("chr2", 1L, 999999, "v1-d"))
      .toDF("chrom", "pos_bucket", "pos", "payload")
      .write.partitionBy("chrom", "pos_bucket").parquet(dir)
    assert(ManifestLake.adopt(spark, dir, partitionTypes = Map("pos_bucket" -> LongType)) === 1L)
    dir
  }

  private def batch(rows: (String, Long, Int, String)*): DataFrame =
    rows.toDF("chrom", "pos_bucket", "pos", "payload")

  private def upsert(dir: String, updates: DataFrame): Long =
    ManifestLake.upsert(spark, dir, updates, partCols, keyCols)

  private def readBack(dir: String): Map[(String, Long, Int), String] =
    ManifestLake.read(spark, dir).collect()
      .map(r => (r.getAs[String]("chrom"), r.getAs[Long]("pos_bucket"),
        r.getAs[Int]("pos")) -> r.getAs[String]("payload")).toMap

  private def version(dir: String): Option[Long] = ManifestLake.currentVersion(spark, dir)

  /** The live file entries the head manifest lists. */
  private def entries(dir: String): Set[ManifestLake.LiveFile] =
    ManifestLake.liveFilesAt(spark, dir, version(dir).get).toSet

  test("upsert: updates win, new keys append, new partitions appear, others untouched") {
    val dir = freshLake()
    val before = entries(dir)
    val updates = batch(
      ("chr1", 0L, 100, "v2-a"),      // overwrite existing key
      ("chr1", 0L, 300, "v2-new"),    // new key, existing partition
      ("chr3", 5L, 42, "v2-part"))    // entirely new partition

    assert(upsert(dir, updates) === 2L)
    val added = (entries(dir) -- before).map(_.path)
    assert(added.exists(_.contains("chrom=chr1/pos_bucket=0")))
    assert(added.exists(_.contains("chrom=chr3/pos_bucket=5")))

    val r = readBack(dir)
    assert(r(("chr1", 0L, 100)) === "v2-a")        // replaced
    assert(r(("chr1", 0L, 200)) === "v1-b")        // survived the merge
    assert(r(("chr1", 0L, 300)) === "v2-new")      // appended
    assert(r(("chr3", 5L, 42)) === "v2-part")      // new partition
    assert(r(("chr2", 0L, 100)) === "v1-c")
    assert(r.size === 6)
    // unaffected partitions keep their exact file entries — never rewritten
    assert(entries(dir).filter(_.path.contains("chrom=chr2")) ===
      before.filter(_.path.contains("chrom=chr2")))
  }

  test("upsert is idempotent: re-applying the same batch changes nothing") {
    val dir = freshLake()
    val updates = batch(("chr1", 0L, 100, "v2-a"))
    upsert(dir, updates)
    val first = readBack(dir)
    upsert(dir, updates)
    assert(readBack(dir) === first)
  }

  test("a crash between verification and swap leaves the lake fully intact") {
    val dir = freshLake()
    val before = (version(dir), readBack(dir), entries(dir))
    // the commit is staged and verified; it dies before its manifest publishes
    ManifestLake.raceHook.set(_ => throw new RuntimeException("simulated crash"))
    val boom =
      try intercept[RuntimeException] { upsert(dir, batch(("chr1", 0L, 100, "v2-a"))) }
      finally ManifestLake.raceHook.set(null)
    assert(boom.getMessage === "simulated crash")
    assert((version(dir), readBack(dir), entries(dir)) === before)
    // a later clean upsert publishes past the abandoned stage
    assert(upsert(dir, batch(("chr1", 0L, 100, "v2-a"))) === 2L)
    assert(readBack(dir)(("chr1", 0L, 100)) === "v2-a")
  }

  test("a non-key-unique batch is rejected before anything is written") {
    val dir = freshLake()
    val before = readBack(dir)
    val dup = batch(
      ("chr1", 0L, 100, "first"),
      ("chr1", 0L, 100, "second"))
    val err = intercept[IllegalArgumentException] { upsert(dir, dup) }
    assert(err.getMessage.contains("not key-unique"))
    assert(version(dir) === Some(1L))
    assert(readBack(dir) === before)
  }

  test("upsert into a missing lake path is a plain partitioned write") {
    val dir = Files.createTempDirectory("upsert-fresh").toString + "/lake"
    assert(upsert(dir, batch(("chr1", 0L, 100, "v1"))) === 1L)
    assert(readBack(dir) === Map(("chr1", 0L, 100) -> "v1"))
  }

  test("upsert works at single-level (non-genomic) partitioning: fresh write then merge") {
    val dir = Files.createTempDirectory("upsert-1lvl").toString + "/lake"
    def df(rows: Seq[(String, Long, String)]) =
      rows.toDF("lang", "doc_id", "payload")
    def up(rows: (String, Long, String)*): Long =
      ManifestLake.upsert(spark, dir, df(rows),
        partitionCols = Seq("lang"), keyCols = Seq("lang", "doc_id"))
    assert(up(("en", 1L, "v1"), ("fr", 2L, "v1")) === 1L)
    val fr = entries(dir).filter(_.path.contains("lang=fr"))
    assert(up(("en", 1L, "v2"), ("en", 3L, "v1")) === 2L)   // rewrite + new key
    val rows = ManifestLake.read(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")) ->
        r.getAs[String]("payload")).toMap
    assert(rows === Map(
      ("en", 1L) -> "v2",   // update won the collision
      ("en", 3L) -> "v1",   // new key appended
      ("fr", 2L) -> "v1"))  // untouched partition intact
    assert(entries(dir).filter(_.path.contains("lang=fr")) === fr)
  }
}
