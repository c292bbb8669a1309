package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Annotations, Lake, Vcf}

/** `ingest_cohort`: repeated full ingests in the order `graft.etl.Main`
  * runs them (Lake.build → Lake.write → Vcf.status → Lake.writeStatus),
  * each checked against the generator.
  */
object Ingest {

  /** Many small single-sample VCFs from a shared, skewed pool over a
    * narrow span; annotation tables small enough for AQE to broadcast.
    */
  val Cohort = Shape(samples = 24, linesPerSample = 6000, chroms = Seq("chr1", "chr2"),
    bucketsPerChrom = 20, pool = 60000, skew = 2.5)

  /** One ingest exactly as `graft.etl.Main` runs it, with dbSNP in its
    * T2T parquet form.
    */
  def ingest(spark: SparkSession, in: Inputs, lake: String, status: String, tracer: Tracer): Unit = {
    tracer.span("ingest.lake") {
      Lake.write(Lake.build(spark, in.vcfs, in.impact, in.dbSnp, t2t = true, in.gnomad, in.alpha), lake)
    }
    tracer.span("ingest.status")(Lake.writeStatus(Vcf.status(spark, in.vcfs), status))
  }

  /** Timed ingests per run, whatever `--seconds` allows. */
  private val Units = 2

  def run(spark: SparkSession, o: Main.Opts, shape: Shape, tracer: Tracer, result: Result): Unit = {
    val lake = new File(o.runDir, "lake").getAbsolutePath
    var n = 0
    def checkedIngest(g: Genome, what: String): Sample = {
      n += 1
      val status = new File(o.runDir, s"status/$n").getAbsolutePath
      val t = Stats.measured(tracer.span("ingest")(ingest(spark, g.inputs, lake, status, tracer)))
      Main.log(f"$what $n: ${t.wall}%.2f s, cpu ${t.cpu}%.2f s")
      result.check(s"$what $n lake")(Checks.lake(spark, lake, g.totals))
      result.check(s"$what $n status")(Checks.status(status, g.status))
      t
    }

    // set-up: generate the inputs, check that both dbSNP forms read the
    // same, then one warm-up ingest
    val (genome, setup) = Stats.timed {
      val g = Genomic.generate(shape, o.seed, new File(o.runDir, "inputs").getAbsolutePath)
      result.check("set-up dbSNP forms")(Checks.dbSnpForms(spark, g.inputs))
      checkedIngest(g, "warm-up ingest")
      g
    }

    // timed closed loop of at least Units ingests. A traced run times
    // Units untraced and Units traced ingests in the order U T T U,
    // so JIT warm-up still under way favours neither side.
    val (untraced, samples) =
      if (!o.trace) {
        val s = Stats.loop(o.seconds, Units)(checkedIngest(genome, "ingest"))
        (s, s)
      } else {
        val runs = (0 until 2 * Units).map { i =>
          val traced = i % 4 == 1 || i % 4 == 2
          if (traced) tracer.enable() else tracer.disable()
          traced -> checkedIngest(genome, if (traced) "traced ingest" else "ingest")
        }
        tracer.enable()
        (runs.collect { case (false, s) => s }, runs.collect { case (true, s) => s })
      }
    val times = samples.map(_.wall)

    val lakeBytes = Layers.parquetFiles(new File(lake)).map(_.length).sum
    result.reported("setup_s", setup, "s")
    result.reported("ingest_s", Stats.median(times), "s")
    result.reported("ingest_count", times.size, "count")
    result.reported("ingest_cpu_s", Stats.median(samples.map(_.cpu)), "s")
    result.reported("lake_bytes_per_vcf_byte", lakeBytes.toDouble / genome.inputs.vcfBytes, "ratio")
    result.reported("input_vcf_lines", genome.inputs.vcfLines, "count")
    result.reported("input_buckets", genome.totals.buckets, "count")
    if (!o.trace) {
      result.metric("setup_s", setup, "s")
      result.metric("unit_s", Stats.median(times), "s")
      result.metric("lake_bytes_per_vcf_byte", lakeBytes.toDouble / genome.inputs.vcfBytes, "ratio")
    } else {
      breakdown(spark, genome.inputs, o, tracer)
      Layers.emit(result, Layers.etl(tracer, Some(new File(lake))) +
        ("trace.overhead_frac" -> (Stats.median(times) / Stats.median(untraced.map(_.wall)) - 1)))
    }
  }

  /** Each ETL layer's public calls timed on their own, into the noop
    * sink, twice; [[Layers.emit]] takes the medians.
    */
  private def breakdown(spark: SparkSession, in: Inputs, o: Main.Opts, tracer: Tracer): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def rows(span: String, df: DataFrame): Unit = {
      val obs = Observation(span)
      tracer.span(span)(noop(df.observe(obs, count(lit(1)).as("rows"))))
      Layers.rows(span) = obs.get("rows").asInstanceOf[Long]
    }
    for (_ <- 1 to 2) {
      rows("vcf.mutations", Vcf.mutations(spark, in.vcfs))
      tracer.span("vcf.status")(noop(Vcf.status(spark, in.vcfs)))
      rows("ann.impact", Annotations.impact(spark, in.impact))
      rows("ann.dbsnp", Annotations.dbSnp(spark, in.dbSnp, t2t = true))
      rows("ann.gnomad", Annotations.gnomad(spark, in.gnomad))
      // checkpointed, not cached: the readers' input_file_name() makes
      // the plans nondeterministic, so a cached frame would be rebuilt
      // from the VCFs inside the span
      val variants = Vcf.mutations(spark, in.vcfs).localCheckpoint()
      tracer.span("ann.alpha")(noop(Annotations.attachAlpha(variants, in.alpha)))

      val built = Lake.build(spark, in.vcfs, in.impact, in.dbSnp, t2t = true, in.gnomad, in.alpha)
      val obs = Observation("lake.build")
      tracer.span("lake.build")(noop(built.observe(obs,
        count(lit(1)).as("positions"), sum(size(col("entries"))).as("variants"))))
      Layers.rows("lake.positions") = obs.get("positions").asInstanceOf[Long]
      Layers.rows("lake.variants") = obs.get("variants").asInstanceOf[Long]
      val lakeRows = built.localCheckpoint()
      tracer.span("lake.write")(Lake.write(lakeRows, new File(o.runDir, "lake").getAbsolutePath))
    }
  }
}
