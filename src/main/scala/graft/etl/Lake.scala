package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Assembly + sinks for the position-bucketed variant data lake.
  *
  * Behavior reference: ImportVcfToDataLakeByRanges.java:43-79 (assembly),
  * :127-138 (lake write), :155-157 (status write).
  */
object Lake {

  /** Lake partition granularity in genome positions (reference M:18). */
  val PartitionSize = 100000

  /** Output file size governance (reference M:19). */
  val MaxRecordsPerFile = 25000

  /** Full pipeline: VCF glob → annotated, per-position `entries` rows.
    *
    * The per-sample rows are shuffled ONCE, on the lake's own key
    * (chrom, pos_bucket) — the "ByRanges" scheme, M:74-76 — then folded
    * per variant, annotated and folded per position. Both fold keys
    * contain (chrom, pos_bucket), so with broadcast joins the folds,
    * joins and [[write]] run in one stage after that shuffle, and Spark
    * drops [[write]]'s repartition. Joining after the variant fold (the
    * reference joins first, M:52-70) gives the same rows: every join key
    * is a subset of the variant key, so k annotation matches still yield
    * k entries, each with the full hom/het sets.
    *
    * The annotation tables are *not* hinted broadcast — dbSNP/gnomAD are
    * billion-row datasets in production. AQE broadcasts a side that is
    * actually small; otherwise the joins sort-merge and each shuffles the
    * folded variants on its own key (ARCHITECTURE.md, both plans).
    *
    * Determinism deviation (SURVEY §7): both collect_set results are
    * wrapped in sort_array (same set, fixed order), so output is stable.
    */
  def build(spark: SparkSession, inputPath: String, impactPath: String,
            dbSnpPath: String, t2t: Boolean, gnomadPath: String,
            alphaPath: String): DataFrame = {
    val bucketed = Vcf.mutations(spark, inputPath)
      .withColumn("pos_bucket", floor(col("pos") / lit(PartitionSize)))
      .repartition(col("chrom"), col("pos_bucket"))

    // Per-variant: fold per-sample rows into hom/het evidence arrays;
    // collect_set drops Vcf.mutations' when-gated nulls (as M:64-66 does).
    val perVariant = bucketed
      .groupBy(col("chrom"), col("pos_bucket"), col("pos"), col("ref"), col("alt"))
      .agg(
        sort_array(collect_set(col("hom_ev"))).as("hom"),
        sort_array(collect_set(col("het_ev"))).as("het"))
    val annotated = perVariant
      .join(Annotations.impact(spark, impactPath), Seq("chrom", "pos", "ref", "alt"), "left")
      .join(Annotations.dbSnp(spark, dbSnpPath, t2t), Seq("chrom", "pos", "ref", "alt"), "left")
      .join(Annotations.gnomad(spark, gnomadPath), Seq("chrom", "pos", "ref", "alt"), "left")

    // Per-position: fold alleles into the `entries` array.
    Annotations.attachAlpha(annotated, alphaPath)
      .groupBy(col("chrom"), col("pos_bucket"), col("pos"))
      .agg(sort_array(collect_set(struct(
        col("ref"), col("alt"), col("impact"), col("dbSNP"),
        col("gnomad_an"), col("gnomad_ac"), col("gnomad_nhomalt"),
        col("hg38_coordinate"), col("alphamissense"), col("hom"), col("het")))).as("entries"))
  }

  /** Hive-partitioned lake write: one shuffle (elided on [[build]]'s
    * output, already so partitioned) co-locates each (chrom, pos_bucket)
    * directory's rows in one task, rows clustered by pos within files
    * (an addition over the reference — parquet min/max
    * stats then prune row groups for downstream point queries, the E3
    * contract in SURVEY §3), capped file sizes.
    *
    * `dynamicOverwrite = false` reproduces the reference contract
    * (M:133: the whole output path is replaced). At 100 TB a per-batch
    * ingest must NOT wipe the lake — `dynamicOverwrite = true` switches
    * to partition-level overwrite: only the (chrom, pos_bucket)
    * directories present in this batch are replaced (SURVEY §7).
    */
  def write(df: DataFrame, outputPath: String,
            dynamicOverwrite: Boolean = false): Unit = {
    val writer = df.repartition(col("chrom"), col("pos_bucket"))
      .sortWithinPartitions(col("chrom"), col("pos_bucket"), col("pos"))
      .write
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .option("partitionOverwriteMode", if (dynamicOverwrite) "dynamic" else "static")
      .mode(SaveMode.Overwrite)
      .partitionBy("chrom", "pos_bucket")
    writer.parquet(outputPath)
  }

  /** Manifest-committed variant of [[write]] — the genomic lake through
    * the object-store commit path, composing the two features the E3
    * range-scan workload wants (SURVEY §3: point/range queries on
    * (chrom, pos)): the same pos clustering as [[write]] (parquet
    * row-group pruning inside each file), PLUS per-file [min, max] pos
    * stats in the manifest, so a `pos BETWEEN …` scan drops whole files
    * at planning — before any footer is opened — and only then row-group
    * prunes the survivors. Ingest becomes an atomic manifest publish
    * (append or replace) instead of a directory overwrite, so a crashed
    * import can never leave a half-replaced lake.
    *
    * `maxRecordsPerFile` bounds file size through the session conf (the
    * ManifestLake writer owns the DataFrameWriter, so the option rides
    * the conf rather than the writer); restored after the call.
    */
  def writeManifested(spark: SparkSession, df: DataFrame, outputPath: String,
                      replace: Boolean = true,
                      maxRecordsPerFile: Int = MaxRecordsPerFile): Long = {
    val clustered = df.repartition(col("chrom"), col("pos_bucket"))
      .sortWithinPartitions(col("chrom"), col("pos_bucket"), col("pos"))
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", maxRecordsPerFile.toString)
    try ManifestLake.write(spark, clustered, outputPath,
      Seq("chrom", "pos_bucket"), replace = replace, statsCols = Seq("pos"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
  }

  /** Single-file JSON append — an accumulating ingest log (M:155-157).
    * coalesce(1) is fine: the status DataFrame is one row.
    */
  def writeStatus(df: DataFrame, statusPath: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Append).json(statusPath)
}
