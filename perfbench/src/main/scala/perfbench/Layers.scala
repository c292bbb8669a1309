package perfbench

import java.io.File

import scala.collection.mutable

/** The per-layer metrics a traced run reports. Every traced run prints
  * all of them; a layer the workload never calls reports 0.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "vcf.mutations_s" -> "s", "vcf.status_s" -> "s", "vcf.tasks" -> "count",
    "vcf.cpu_s" -> "s", "vcf.rows" -> "count",
    "ann.impact_s" -> "s", "ann.dbsnp_s" -> "s", "ann.gnomad_s" -> "s",
    "ann.alpha_s" -> "s", "ann.rows" -> "count",
    "lake.build_s" -> "s", "lake.build_cpu_s" -> "s", "lake.build_shuffle_mb" -> "MB",
    "lake.build_spill_mb" -> "MB", "lake.build_peak_mem_mb" -> "MB",
    "lake.build_exchanges" -> "count", "lake.build_smj" -> "count", "lake.build_bhj" -> "count",
    "lake.variants" -> "count", "lake.positions" -> "count",
    "lake.write_s" -> "s", "lake.write_cpu_s" -> "s", "lake.files" -> "count",
    "lake.partitions" -> "count", "lake.mb" -> "MB",
    "read.open_s" -> "s", "read.open_jobs" -> "count", "read.files_per_point" -> "count",
    "read.kb_per_point" -> "KB", "read.rows_per_result" -> "ratio",
    "manifest.write_s" -> "s", "manifest.upsert_s" -> "s", "manifest.delete_s" -> "s",
    "manifest.files_rewritten" -> "count", "manifest.mb_rewritten" -> "MB",
    "manifest.point_ms" -> "ms", "manifest.files_per_point" -> "count",
    "trace.overhead_frac" -> "frac")

  /** Row counts observed inside spans, by span name. */
  val rows: mutable.Map[String, Long] = mutable.Map.empty

  private val MB = 1024.0 * 1024.0

  def emit(result: Result, values: Map[String, Double]): Unit =
    Units.foreach { case (name, unit) => result.metric(name, values.getOrElse(name, 0.0), unit) }

  def medianSeconds(tracer: Tracer, name: String): Double = {
    val s = tracer.named(name).map(_.seconds)
    if (s.isEmpty) 0.0 else Stats.median(s)
  }

  /** The ETL layers' metrics from the spans named after them. */
  def etl(tracer: Tracer, lakeDir: Option[File]): Map[String, Double] = {
    def last(n: String) = tracer.last(n)
    val build = last("lake.build")
    val files = lakeDir.toSeq.flatMap(parquetFiles)
    Map(
      "vcf.mutations_s" -> medianSeconds(tracer, "vcf.mutations"),
      "vcf.status_s" -> medianSeconds(tracer, "vcf.status"),
      "vcf.tasks" -> last("vcf.mutations").tasks.toDouble,
      "vcf.cpu_s" -> (last("vcf.mutations").cpuNs + last("vcf.status").cpuNs) / 1e9,
      "vcf.rows" -> rows.getOrElse("vcf.mutations", 0L).toDouble,
      "ann.impact_s" -> medianSeconds(tracer, "ann.impact"),
      "ann.dbsnp_s" -> medianSeconds(tracer, "ann.dbsnp"),
      "ann.gnomad_s" -> medianSeconds(tracer, "ann.gnomad"),
      "ann.alpha_s" -> medianSeconds(tracer, "ann.alpha"),
      "ann.rows" -> (Seq("ann.impact", "ann.dbsnp", "ann.gnomad").map(rows.getOrElse(_, 0L)).sum +
        last("ann.alpha").scanRows).toDouble,
      "lake.build_s" -> medianSeconds(tracer, "lake.build"),
      "lake.build_cpu_s" -> build.cpuNs / 1e9,
      "lake.build_shuffle_mb" -> build.shuffleWriteBytes / MB,
      "lake.build_spill_mb" -> build.spillBytes / MB,
      "lake.build_peak_mem_mb" -> build.peakExecMem / MB,
      "lake.build_exchanges" -> build.exchanges.toDouble,
      "lake.build_smj" -> build.smj.toDouble,
      "lake.build_bhj" -> build.bhj.toDouble,
      "lake.variants" -> rows.getOrElse("lake.variants", 0L).toDouble,
      "lake.positions" -> rows.getOrElse("lake.positions", 0L).toDouble,
      "lake.write_s" -> medianSeconds(tracer, "lake.write"),
      "lake.write_cpu_s" -> last("lake.write").cpuNs / 1e9,
      "lake.files" -> files.size.toDouble,
      "lake.partitions" -> files.map(_.getParentFile.getPath).distinct.size.toDouble,
      "lake.mb" -> files.map(_.length).sum / MB)
  }

  /** Visible parquet data files under `dir` (hidden and `_` paths skipped). */
  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(f => if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
}
