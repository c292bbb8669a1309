package graft.etl

import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Trace

/** `ManifestLake.upsert` against an in-memory model of the table:
  * seeded random batches of updates, inserts, new partitions and
  * untouched partitions, each commit checked for its rows, its change
  * feed and its rewritten files' recorded stats; the loud failures;
  * and the queries and shuffles one small commit plans.
  */
class ManifestUpsertSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark

  private val Parts = Seq("chrom", "pos_bucket")
  private val Keys = Seq("chrom", "pos_bucket", "pos")
  private val Bucket = 1000
  private val schema = StructType(Seq(
    StructField("chrom", StringType), StructField("pos_bucket", LongType),
    StructField("pos", IntegerType), StructField("payload", StringType)))

  private type Key = (String, Long, Int)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  private def frame(rows: Iterable[(Key, String)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case ((c, b, p), v) => Row(c, b, p, v) }.toSeq.asJava, schema)
  }

  private def key(c: String, p: Int): Key = (c, (p / Bucket).toLong, p)

  private def tableRows(dir: String): Map[Key, String] =
    ManifestLake.read(spark, dir).collect().map(r =>
      (r.getAs[String]("chrom"), r.getAs[Long]("pos_bucket"), r.getAs[Int]("pos")) ->
        r.getAs[String]("payload")).toMap

  private def stagedDirs(dir: String): Set[String] = {
    val (fs, _) = ManifestLake.fsFor(spark, dir)
    fs.listStatus(new Path(dir, "data")).map(_.getPath.getName).toSet
  }

  private def manifestAt(dir: String, v: Long) = {
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    ManifestLake.readManifest(fs, root, v)
  }

  /** A table of 6 chroms × 4 buckets, 40 positions per bucket, `pos`
    * stats recorded.
    */
  private def seedTable(dir: String, rnd: SplittableRandom): mutable.Map[Key, String] = {
    val model = mutable.Map.empty[Key, String]
    for (c <- 1 to 6; b <- 0 until 4; _ <- 0 until 40)
      model(key(s"chr$c", b * Bucket + rnd.nextInt(Bucket))) = "v0"
    ManifestLake.write(spark, frame(model), dir, Parts, statsCols = Seq("pos"))
    model
  }

  private def exchanges(ps: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    ps.flatMap(p => collect(p) { case s: ShuffleExchangeExec => s })

  /** Six seeded rounds, each commit checked against the model; `plans`
    * sees the queries each upsert ran.
    */
  private def modelRounds(seed: Long, plans: Seq[SparkPlan] => Unit): Unit = {
    val rnd = new SplittableRandom(seed)
    val dir = freshDir("mlake-upsert-model")
    val model = seedTable(dir, rnd)
    for (round <- 1 to 6) {
      val v = ManifestLake.currentVersion(spark, dir).get
      val buckets = model.keys.map(k => (k._1, k._2)).toVector.distinct.sorted
      // two to four existing partitions get updates and inserts; one
      // brand-new partition gets inserts only; the rest stay untouched
      val touched = (0 until 2 + rnd.nextInt(3)).map(_ => buckets(rnd.nextInt(buckets.size))).distinct
      val fresh = (s"chr${7 + rnd.nextInt(3)}", (4 + rnd.nextInt(4)).toLong)
      val batch = mutable.Map.empty[Key, String]
      touched.foreach { case (c, b) =>
        val live = model.keys.filter(k => k._1 == c && k._2 == b).toVector.sorted
        (0 until 1 + rnd.nextInt(8)).foreach(_ => batch(live(rnd.nextInt(live.size))) = s"u$round")
        (0 until rnd.nextInt(4)).foreach(_ =>
          batch(key(c, (b * Bucket + rnd.nextInt(Bucket)).toInt)) = s"i$round")
      }
      (0 until 1 + rnd.nextInt(5)).foreach(_ =>
        batch(key(fresh._1, (fresh._2 * Bucket + rnd.nextInt(Bucket)).toInt)) = s"n$round")
      val before = model.toMap
      val filesBefore = manifestAt(dir, v).files.map(_.path).toSet

      val (newV, ps) = Trace.capture(spark)(ManifestLake.upsert(spark, dir, frame(batch), Parts, Keys))
      assert(newV === v + 1)
      plans(ps.plans.toSeq)
      model ++= batch
      assert(tableRows(dir) === model.toMap, s"round $round rows")

      val feed = ManifestLake.readChangeFeed(spark, dir, v, v + 1).collect().map(r =>
        ((r.getAs[String]("chrom"), r.getAs[Long]("pos_bucket"), r.getAs[Int]("pos")),
          r.getAs[String]("payload"), r.getAs[String]("_change_type"))).toSet
      val want = batch.toSeq.flatMap { case (k, p) =>
        before.get(k) match {
          case Some(old) => Seq((k, old, "update_preimage"), (k, p, "update_postimage"))
          case None => Seq((k, p, "insert"))
        }
      }.toSet
      assert(feed === want, s"round $round change feed")

      val after = manifestAt(dir, v + 1)
      val added = after.files.filterNot(f => filesBefore.contains(f.path))
      // untouched partitions carry by reference; every touched one is rewritten
      val touchedDirs = batch.keys.map { case (c, b, _) => s"chrom=$c/pos_bucket=$b" }.toSet
      assert(added.map(f => ManifestLake.partDirOf(f.path)).toSet === touchedDirs)
      assert(after.files.filter(f => filesBefore.contains(f.path))
        .forall(f => !touchedDirs.contains(ManifestLake.partDirOf(f.path))))
      val (_, root) = ManifestLake.fsFor(spark, dir)
      val actual = spark.read.parquet(added.map(f => new Path(root, f.path).toString): _*)
        .select(input_file_name().as("f"), col("pos")).collect()
        .groupBy(r => new java.net.URI(r.getString(0)).getPath)
        .map { case (f, rs) => f -> (rs.map(_.getInt(1)).min, rs.map(_.getInt(1)).max) }
      added.foreach { f =>
        val path = new Path(root, f.path).toUri.getPath
        val (lo, hi) = actual(path)
        assert(f.stats.get("pos") === Some((lo.toString, hi.toString)), s"round $round ${f.path}")
      }
    }
  }

  test("seeded upserts match an in-memory model: rows, change feed, and rewritten files' pos bounds") {
    // sub-MB commits: one-partition shuffles, never an AQE-sized one
    modelRounds(11L, { ps =>
      val origins = exchanges(ps).map(_.shuffleOrigin)
      assert(origins.contains(REPARTITION_BY_NUM), origins)
      assert(!origins.contains(REPARTITION_BY_COL), origins)
    })
  }

  test("an upsert above the one-partition size keeps AQE-sized repartitions and matches the model") {
    // every commit here moves more than one advisory partition, so each
    // shuffle the upsert plans is `repartition(cols)`, never a fixed count
    val saved = spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    try modelRounds(13L, { ps =>
      val origins = exchanges(ps).map(_.shuffleOrigin)
      assert(origins.contains(REPARTITION_BY_COL), origins)
      assert(!origins.contains(REPARTITION_BY_NUM), origins)
    })
    finally saved match {
      case Some(w) => spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", w)
      case None => spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("loud failures publish nothing and leave no staged dir") {
    import spark.implicits._
    val dir = freshDir("mlake-upsert-loud")
    val model = seedTable(dir, new SplittableRandom(5L))
    val k = model.keys.min
    def unchanged(v: Long, dirs: Set[String]): Unit = {
      assert(ManifestLake.currentVersion(spark, dir) === Some(v))
      assert(stagedDirs(dir) === dirs)
      assert(tableRows(dir) === model.toMap)
    }

    val v1 = ManifestLake.currentVersion(spark, dir).get
    val dirs1 = stagedDirs(dir)
    val dup = intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir, frame(Seq(k -> "a", k -> "b")), Parts, Keys)
    }
    assert(dup.getMessage.contains("not key-unique"))
    unchanged(v1, dirs1)

    val nullPart = Seq((null.asInstanceOf[String], 0L, 1, "x")).toDF("chrom", "pos_bucket", "pos", "payload")
    val np = intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir, nullPart, Parts, Keys)
    }
    assert(np.getMessage.contains("null partition values"))
    unchanged(v1, dirs1)

    val v2 = ManifestLake.addConstraint(spark, dir, "no_bad", "payload <> 'bad'")
    val dirs2 = stagedDirs(dir)
    val viol = intercept[IllegalStateException] {
      ManifestLake.upsert(spark, dir, frame(Seq(k -> "bad", key("chr9", 9000) -> "ok")), Parts, Keys)
    }
    assert(viol.getMessage.contains("no_bad") && viol.getMessage.contains("violated"))
    unchanged(v2, dirs2)
  }

  test("a sub-MB upsert runs at most 5 queries and 7 shuffles, its own no wider than its derived width") {
    val dir = freshDir("mlake-upsert-plan")
    val model = seedTable(dir, new SplittableRandom(3L))
    val (c, b) = (model.keys.min._1, model.keys.min._2)
    val batch = model.keys.filter(k => k._1 == c && k._2 == b).map(_ -> "u").toMap ++
      Map(key(c, (b * Bucket + 999).toInt) -> "i", key("chr9", 9000) -> "n")
    // a commit under AQE's minimum partition size per core (at most one
    // advisory partition) shuffles into one partition; this one is far
    // below 1 MB
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert(manifestAt(dir, 1L).files.map(_.bytes).sum < (1L << 20) && advisory >= (1L << 20))
    val derivedWidth = 1

    // Spark's own default width, so a shuffle that ignores the bytes shows
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    val updates = frame(batch)
    val span = try Trace.capture(spark)(ManifestLake.upsert(spark, dir, updates, Parts, Keys))._2
    finally {
      saved match {
        case Some(w) => spark.conf.set("spark.sql.shuffle.partitions", w)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
    val execs = span.plans.toSeq
    val widths = exchanges(execs).map(_.outputPartitioning.numPartitions)
    val shape = s"${execs.size} executions, ${widths.size} exchanges, widths $widths"
    info(shape)
    assert(span.failures === 0, shape)
    // the write tasks record the per-file stats: no stats pass (the
    // aggregate yielding per-file `__rows`) runs, so no exchange keeps
    // the session's width
    assert(execs.size <= 4, shape)
    assert(widths.size <= 7, shape)
    assert(!execs.exists(_.output.exists(_.name == "__rows")), shape)
    assert(widths.forall(_ <= derivedWidth), shape)
    assert(tableRows(dir) === (model ++ batch).toMap)
  }
}
