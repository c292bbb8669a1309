package graft.etl

import java.nio.file.Files
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Trace

/** The per-file stats a commit's write tasks record must equal what the
  * per-file aggregate (`ManifestLake.collectStatsOver`, ANALYZE's path)
  * computes over the same file: bounds, row count, null counts, value
  * sets and bloom bits, on seeded random tables that hit every hazard
  * the aggregate's semantics carry — NaN and ±0.0, UTF-8 byte order
  * with supplementary characters, set caps, all-null columns — through
  * every committing path.
  */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val schema = StructType(Seq(
    StructField("grp", StringType), StructField("k", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("small", IntegerType),
    StructField("dt", DateType), StructField("dec", DecimalType(12, 3)),
    StructField("b", BooleanType), StructField("sparse", IntegerType),
    StructField("ts", TimestampType)))
  private val Stats = Seq("k", "f", "d", "s", "small", "dt", "dec", "b", "sparse", "ts")
  // `d` is a double: asked for a bloom, it must record none
  private val Blooms = Seq("s", "small", "dt", "dec", "b", "d")
  // partition values with a space and a '#'
  private val Groups = Seq("plain", "a b", "x#y", "void")
  // "ｚ" (U+FF5A) sorts above "😀" in UTF-16 but below it in UTF-8
  private val Pieces = Seq("a", "Z", "é", "ß", "ｚ", "😀", "𝔸", " ", "~", "0")

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  private def pick[A](rnd: SplittableRandom, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  private def text(rnd: SplittableRandom, len: Int): String =
    (0 until len).map(_ => pick(rnd, Pieces)).mkString

  /** `n` rows per group, keys from `k0`. Per group: "plain" has many
    * distinct strings (some longer than 64 characters) and small ints,
    * and an all-null `sparse`; "a b" draws strings from six values;
    * "x#y" from three, one 70 characters long; "void" has every `s`
    * and `sparse` null.
    */
  private def batch(rnd: SplittableRandom, k0: Long, n: Int): DataFrame = {
    val floats = Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
      1.5f, -2.25f)
    val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      1e300, -3.5)
    // 40 emoji are 40 characters but 80 UTF-16 units: within the set cap
    val sixPool = Seq("😀", "ｚ", "é", "Z", "𝔸b", "😀" * 40)
    val longPool = Seq("x" * 70, "y", "😀" * 20)
    var k = k0
    val rows = Groups.flatMap { g =>
      (0 until n).map { _ =>
        k += 1
        def orNull[A](p: Int, a: => A): Any = if (rnd.nextInt(p) == 0) null else a
        val s = g match {
          case "plain" => orNull(8, text(rnd, if (rnd.nextInt(6) == 0) 65 + rnd.nextInt(10) else rnd.nextInt(6)))
          case "a b" => orNull(8, pick(rnd, sixPool))
          case "x#y" => pick(rnd, longPool)
          case _ => null
        }
        Row(g, k,
          orNull(6, if (rnd.nextBoolean()) pick(rnd, floats) else rnd.nextInt(2000) / 8.0f - 100f),
          orNull(6, if (rnd.nextBoolean()) pick(rnd, doubles) else rnd.nextLong().toDouble / 7),
          s,
          orNull(10, if (g == "plain") rnd.nextInt(60) else rnd.nextInt(4)),
          orNull(10, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 20000L))),
          orNull(10, new java.math.BigDecimal(java.math.BigInteger.valueOf(rnd.nextLong() % 1000000000L), 3)),
          orNull(4, rnd.nextBoolean()),
          if (g == "plain" || g == "void") null else orNull(3, rnd.nextInt(100)),
          orNull(3, new java.sql.Timestamp(rnd.nextLong() % 4000000000000L)))
      }
    }
    spark.createDataFrame(rows.asJava, schema).repartition(3)
  }

  /** Every live file's recorded stats against the aggregate over that
    * file, for the table's stats columns (its identity column included)
    * and bloom columns; files in `skip` are left out. Returns how many
    * files carried stats.
    */
  private def checkAgainstAggregate(dir: String, what: String,
                                    skip: Set[String] = Set.empty): Int = {
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val m0 = ManifestLake.readManifest(fs, root, ManifestLake.currentVersion(spark, dir).get)
    val m = m0.copy(files = m0.files.filterNot(f => skip.contains(f.path)))
    val phys = m.schema
    val statsCols = (m.statsColsDefault ++ m.identity.map(_._1)).distinct
    val scan = spark.read.schema(StructType(phys.fields.filterNot(f => m.partCols.contains(f.name))))
      .parquet(m.files.map(f => new Path(root, f.path).toString): _*)
    val expected = ManifestLake.collectStatsOver(spark, scan, phys, statsCols, m.partCols,
      m.bloomCols, fs.makeQualified(root).toString)
    // a file with no rows has no group in the aggregate and records
    // nothing in-write either
    val (measured, empty) = m.files.partition(f => expected.contains(f.path))
    empty.foreach { f =>
      assert(ManifestLake.footerRowCount(fs, root, Seq(f)) === 0L, s"$what: ${f.path}")
      assert(f.rows.isEmpty && f.stats.isEmpty && f.nullCounts.isEmpty, s"$what: ${f.path}")
    }
    measured.foreach { f =>
      val e = expected(f.path)
      val at = s"$what: ${f.path}"
      assert(f.stats === e.bounds, at)
      assert(f.rows === Some(e.rows), at)
      assert(f.nullCounts === e.nullCounts, at)
      assert(f.valueSets === e.sets, at)
      assert(f.bloom.isDefined === e.blooms.nonEmpty, at)
      val sidecar = f.bloom.map(ManifestLake.bloomsAt(fs, root, _)).getOrElse(Map.empty)
      assert(sidecar.keySet.filter(_._1 == f.path).map(_._2) === e.blooms.keySet, at)
      e.blooms.foreach { case (c, bits) =>
        assert(sidecar((f.path, c)).sameElements(bits), s"$at: bloom of $c")
      }
    }
    measured.size
  }

  private def withMaxRecordsPerFile[A](n: Int)(body: => A): A = {
    val key = "spark.sql.files.maxRecordsPerFile"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally saved match {
      case Some(w) => spark.conf.set(key, w)
      case None => spark.conf.unset(key)
    }
  }

  test("in-write stats equal the per-file aggregate through every committing path") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val rnd = new SplittableRandom(seed)
      val dir = freshDir(s"fstats-$seed")
      // files of 40-59 rows: "plain" files overflow the set cap
      withMaxRecordsPerFile(40 + rnd.nextInt(20)) {
        ManifestLake.write(spark, batch(rnd, 0L, 200), dir, Seq("grp"),
          statsCols = Stats, bloomCols = Blooms)
        // several files from one task per partition dir
        val files = checkAgainstAggregate(dir, s"seed $seed write")
        assert(files > 3 * Groups.size, s"seed $seed: $files files")
        // the data reaches both sides of the set caps and all-null files
        val (fs, root) = ManifestLake.fsFor(spark, dir)
        val written = ManifestLake.readManifest(fs, root, 1L).files
        assert(written.exists(_.valueSets.contains("small")) &&
          written.exists(f => !f.valueSets.contains("small")), s"seed $seed")
        assert(written.exists(_.valueSets.get("s").exists(_.contains("😀" * 40))) &&
          written.exists(f => !f.valueSets.contains("s")), s"seed $seed")
        assert(written.exists(f => f.nullCounts.get("sparse") == f.rows &&
          !f.stats.contains("sparse")), s"seed $seed")
        ManifestLake.write(spark, batch(rnd, 1000L, 30), dir, Seq("grp"), replace = false)
        checkAgainstAggregate(dir, s"seed $seed append")
        ManifestLake.delete(spark, dir, col("k") % 5 === 0 && col("grp") =!= "void")
        checkAgainstAggregate(dir, s"seed $seed delete")
        ManifestLake.update(spark, dir, col("small") < 2,
          Map("s" -> concat(coalesce(col("s"), lit("")), lit("😀")), "f" -> lit(-0.0f)))
        checkAgainstAggregate(dir, s"seed $seed update")
        ManifestLake.upsert(spark, dir, batch(rnd, 0L, 10).where(col("k") % 2 === 0),
          Seq("grp"), Seq("grp", "k"))
        checkAgainstAggregate(dir, s"seed $seed upsert")
        ManifestLake.merge(spark, dir, batch(rnd, 50L, 15), Seq("grp"), Seq("grp", "k"),
          deleteWhen = Some(col("s.small") === 3))
        checkAgainstAggregate(dir, s"seed $seed merge")
        ManifestLake.overwritePartitions(spark, dir, batch(rnd, 5000L, 20).where(col("grp") === "x#y"))
        checkAgainstAggregate(dir, s"seed $seed overwritePartitions")
        ManifestLake.compact(spark, dir, full = true)
        checkAgainstAggregate(dir, s"seed $seed compact")
        ManifestLake.addGeneratedColumn(spark, dir, "k2", LongType, "k * 2", backfill = true)
        checkAgainstAggregate(dir, s"seed $seed addGeneratedColumn")
      }
    }
  }

  test("in-write stats key column-mapped physical names and record the identity column's bounds") {
    import spark.implicits._
    val rnd = new SplittableRandom(21L)
    val dir = freshDir("fstats-mapped")
    ManifestLake.write(spark, batch(rnd, 0L, 30), dir, Seq("grp"),
      statsCols = Stats, bloomCols = Blooms)
    ManifestLake.renameColumn(spark, dir, "s", "label")
    ManifestLake.dropColumn(spark, dir, "small")
    ManifestLake.addColumn(spark, dir, "small", IntegerType)
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    def head = ManifestLake.readManifest(fs, root, ManifestLake.currentVersion(spark, dir).get)
    val physSmall = head.colMap.get.toMap.apply("small")
    assert(physSmall != "small", "a re-added column gets a fresh physical name")
    ManifestLake.analyzeStats(spark, dir, Seq("small"))
    // the first write's entries keep stats of the dropped column, which
    // the table no longer asks for: check the append's own files
    val before = head.files.map(_.path).toSet
    ManifestLake.write(spark, batch(rnd, 500L, 30).withColumnRenamed("s", "label"), dir,
      Seq("grp"), replace = false)
    assert(head.files.exists(f => !before(f.path) && f.valueSets.contains(physSmall)))
    assert(checkAgainstAggregate(dir, "column-mapped append", skip = before) > 0)

    val idDir = freshDir("fstats-identity")
    val t = s"`graft-manifest`.`$idDir`"
    spark.sql(s"CREATE TABLE $t (grp STRING, " +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 7 INCREMENT BY 5), " +
      "payload STRING) USING `graft-manifest` PARTITIONED BY (grp)")
    ManifestLake.write(spark, (0 until 40).map(i => (s"g${i % 3}", s"p$i")).toDF("grp", "payload")
      .repartition(4), idDir, Seq("grp"), replace = false)
    checkAgainstAggregate(idDir, "identity append")
    val (ifs, iroot) = ManifestLake.fsFor(spark, idDir)
    val im = ManifestLake.readManifest(ifs, iroot, ManifestLake.currentVersion(spark, idDir).get)
    val maxId = ManifestLake.read(spark, idDir).agg(max("id")).head().getLong(0)
    assert(im.files.map(_.stats("id")._2.toLong).max === maxId)
  }

  test("a ManifestLake.write with stats and bloom columns runs one query") {
    val rnd = new SplittableRandom(31L)
    val dir = freshDir("fstats-one-query")
    val df = batch(rnd, 0L, 20)
    val (_, span) = Trace.capture(spark)(
      ManifestLake.write(spark, df, dir, Seq("grp"), statsCols = Stats, bloomCols = Blooms))
    assert(span.plans.size === 1, span.plans.map(_.nodeName).mkString(", "))
    assert(checkAgainstAggregate(dir, "one-query write") > 0)
  }
}
