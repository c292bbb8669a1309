package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** VCF ingestion: a glob of (optionally gzipped) single-sample VCF files
  * → normalized per-variant evidence rows.
  *
  * Behavior reference: ImportVcfToDataLakeByRanges.java:81-125 (normalize
  * + zygosity + evidence structs) and :110-125 (raw text → TSV parse).
  *
  * Spark-4-first re-derivation notes:
  *  - The reference parses via `csv(Dataset[String])` and relies on
  *    `input_file_name()` surviving a second DataFrameReader (M:87). Here
  *    file provenance is captured as a real column on the text scan and
  *    rows are parsed with `from_csv` — one scan, one codegen stage, and
  *    provenance is guaranteed by construction.
  *  - Numeric casts use try_cast: VCF permits `.` for QUAL; Spark 4 ANSI
  *    mode would throw where Spark 2.4 yielded null.
  *  - gzip VCFs are non-splittable (one task per file). That is fine for
  *    per-sample files of ~100 MB; at 100 TB the landing stage should
  *    re-compress to a splittable codec or split by sample count, not by
  *    file size (see ARCHITECTURE.md).
  */
object Vcf {

  /** All-string tolerant parse of the 10 fixed single-sample VCF columns,
    * mirroring the reference's schema-free CSV read (M:114).
    */
  private val vcfColumns = StructType(
    (0 to 9).map(i => StructField(s"_c$i", StringType, nullable = true)))

  private val renames = Map(
    "_c0" -> "chrom", "_c1" -> "pos", "_c3" -> "ref",
    "_c4" -> "alt", "_c5" -> "qual", "_c9" -> "last")

  /** Tokenize + rename (src_file, value) rows — shared by the direct
    * glob path and the splittable landing path, so both parse
    * identically by construction.
    */
  private def parseLines(lines: DataFrame): DataFrame = {
    val parsed = lines
      .select(
        col("src_file"),
        from_csv(col("value"), vcfColumns, Map("sep" -> "\t")).as("r"))
      .select(col("src_file") +: vcfColumns.fieldNames.toSeq.map(n => col(s"r.$n")): _*)
    renames.foldLeft(parsed) { case (df, (from, to)) => df.withColumnRenamed(from, to) }
  }

  /** Raw parsed VCF rows with provenance. Header lines (`#...`) are
    * dropped before tokenizing (M:112 — a hand-rolled pushdown worth
    * keeping: the string filter is far cheaper than the parse).
    */
  def raw(spark: SparkSession, inputPath: String): DataFrame =
    parseLines(
      spark.read.text(inputPath)
        .where(!col("value").like("#%"))
        .select(input_file_name().as("src_file"), col("value")))

  /** Landing stage for 100 TB ingest: gzip VCFs are NON-splittable (one
    * task per file, however large), so production ingest first lands
    * raw data lines + provenance into splittable snappy parquet. The
    * landing write parallelizes per input file; everything downstream
    * of the landing table parallelizes per parquet split.
    */
  def land(spark: SparkSession, inputPath: String, landingPath: String): Unit =
    spark.read.text(inputPath)
      .where(!col("value").like("#%"))
      .select(input_file_name().as("src_file"), col("value"))
      .write.mode("overwrite").parquet(landingPath)

  /** Same rows as raw(), read from a landed table instead of the VCF
    * glob — identical parse by construction (shared parseLines).
    */
  def rawFromLanding(spark: SparkSession, landingPath: String): DataFrame =
    parseLines(spark.read.parquet(landingPath))

  /** Sample accession = file basename up to the first `.` (M:87 —
    * file-provenance-as-data).
    */
  private def sampleId(srcFile: Column): Column =
    substring_index(element_at(split(srcFile, "/"), -1), ".", 1)

  /** Normalized variant evidence rows: one row per (variant, sample) with
    * null-gated hom/het evidence structs, so the downstream collect_set
    * needs no pre-filter (M:96-104).
    *
    * Domain normalizations (the data model, per SURVEY §1):
    *  - alt/patch contigs collapse to the token before `_` (M:88);
    *  - hom ⇔ genotype starts with "1/1" — `1/2`, `2/2` count as het
    *    (M:86, quirk preserved);
    *  - multi-allelic ALT strings ride through unsplit.
    */
  def mutations(spark: SparkSession, inputPath: String): DataFrame =
    normalize(raw(spark, inputPath))

  /** mutations() over a landed table (see land()). */
  def mutationsFromLanding(spark: SparkSession, landingPath: String): DataFrame =
    normalize(rawFromLanding(spark, landingPath))

  private def normalize(rawRows: DataFrame): DataFrame = {
    val isHom = col("last").startsWith("1/1")
    val evidence = struct(
      sampleId(col("src_file")).as("id"),
      expr("try_cast(qual AS FLOAT)").as("qual"),
      // get() not getItem(): a bare "0/1" genotype has no AD token and
      // ANSI getItem throws on out-of-bounds where 2.4 returned null
      get(split(col("last"), ":"), lit(1)).as("ad"))
    rawRows
      .select(
        split(col("chrom"), "_").getItem(0).as("chrom"),
        expr("try_cast(pos AS INT)").as("pos"),
        col("ref"),
        col("alt"),
        when(isHom, evidence).as("hom_ev"),
        when(!isHom, evidence).as("het_ev"))
  }

  /** One-row ingest status: distinct coordinate/mutation/sample counts +
    * timestamp (M:140-153). Counts are exact (Expand-based countDistinct):
    * the status row is part of the reference output contract.
    */
  def status(spark: SparkSession, inputPath: String): DataFrame =
    raw(spark, inputPath)
      .agg(
        countDistinct(col("chrom"), col("pos")).as("coordinates_num"),
        countDistinct(col("chrom"), col("pos"), col("ref"), col("alt")).as("mutations_num"),
        countDistinct(col("src_file")).as("samples_num"))
      .withColumn("update_date", current_timestamp().cast("string"))
}
