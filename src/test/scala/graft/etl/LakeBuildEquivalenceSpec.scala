package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Lake.build` folds per variant before it joins the annotations; the
  * reference joins every per-sample row first. This spec checks the fast
  * path against that declarative form on seeded random cohorts
  * ([[RandomCohorts]]: shared variants, multi-allelic ALTs, contig
  * collapse, join fan-out, a ref-base mismatch, an unparsable POS): the
  * built frames, and the lakes written from them and read back, must
  * hold the same rows under the same schema. Needs no reference snapshot.
  */
class LakeBuildEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** The join-then-fold `Lake.build` body that the fold-first one
    * replaced, kept verbatim as the oracle.
    */
  private def joinThenFold(spark: SparkSession, inputPath: String, impactPath: String,
                           dbSnpPath: String, t2t: Boolean, gnomadPath: String,
                           alphaPath: String,
                           partitionSize: Int = Lake.PartitionSize): DataFrame = {
    val variants = Vcf.mutations(spark, inputPath)
    val annotated = variants
      .join(Annotations.impact(spark, impactPath), Seq("chrom", "pos", "ref", "alt"), "left")
      .join(Annotations.dbSnp(spark, dbSnpPath, t2t), Seq("chrom", "pos", "ref", "alt"), "left")
      .join(Annotations.gnomad(spark, gnomadPath), Seq("chrom", "pos", "ref", "alt"), "left")
    val withAlpha = Annotations.attachAlpha(annotated, alphaPath)

    // Per-variant: fold per-sample rows into hom/het evidence arrays.
    // collect_set also drops the nulls produced by the when-gating in
    // Vcf.mutations (reference M:64-66 relies on the same property).
    val annKeys = Seq("chrom", "pos", "ref", "alt", "impact", "dbSNP",
      "gnomad_an", "gnomad_ac", "gnomad_nhomalt", "hg38_coordinate", "alphamissense")
    val perVariant = withAlpha
      .groupBy(annKeys.map(col): _*)
      .agg(
        sort_array(collect_set(col("hom_ev"))).as("hom"),
        sort_array(collect_set(col("het_ev"))).as("het"))

    // Per-position: fold alleles into the `entries` array and derive the
    // range-partitioning bucket (the "ByRanges" scheme, M:74-76).
    perVariant
      .withColumn("resp", struct(
        col("ref"), col("alt"), col("impact"), col("dbSNP"),
        col("gnomad_an"), col("gnomad_ac"), col("gnomad_nhomalt"),
        col("hg38_coordinate"), col("alphamissense"), col("hom"), col("het")))
      .withColumn("pos_bucket", floor(col("pos") / lit(partitionSize)))
      .groupBy(col("chrom"), col("pos_bucket"), col("pos"))
      .agg(sort_array(collect_set(col("resp"))).as("entries"))
  }

  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema, s"$what: schema")
    val extra = got.exceptAll(want).take(3)
    val missing = want.exceptAll(got).take(3)
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: extra ${extra.mkString("; ")} | missing ${missing.mkString("; ")}")
  }

  test("fold-first build equals join-then-fold on 24 random cohorts, built and written") {
    var checkedFanOut, checkedMismatch, checkedBadPos = false
    (1L to 24L).foreach { seed =>
      val dir = Files.createTempDirectory(s"cohort$seed")
      val c = RandomCohorts.write(spark, seed, dir)
      val got = Lake.build(spark, c.vcfs, c.impact, c.dbSnp, t2t = false, c.gnomad, c.alpha)
      val want = joinThenFold(spark, c.vcfs, c.impact, c.dbSnp, t2t = false, c.gnomad, c.alpha)
      assertSameRows(s"seed $seed built", got, want)

      val gotDir = dir.resolve("lake-got").toString
      val wantDir = dir.resolve("lake-want").toString
      Lake.write(got, gotDir)
      Lake.write(want, wantDir)
      assertSameRows(s"seed $seed written", spark.read.parquet(gotDir), spark.read.parquet(wantDir))

      // the quirks the cohort plants must actually reach the lake
      val entries = got.select(col("pos"), explode(col("entries")).as("e"))
      checkedFanOut ||= entries.groupBy(col("pos"), col("e.ref"), col("e.alt"))
        .agg(countDistinct(col("e.dbSNP")).as("n")).where(col("n") > 1).count() > 0
      checkedMismatch ||= entries.where(col("e.alphamissense").isNull &&
        length(col("e.alt")) === 1).count() > 0
      checkedBadPos ||= got.where(col("pos").isNull).count() === 1
    }
    assert(checkedFanOut, "no cohort had a variant with two rsIDs")
    assert(checkedMismatch, "no cohort had an SNV without an alpha score")
    assert(checkedBadPos, "no cohort kept the unparsable POS row")
  }
}
