package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --cpus C --run-dir DIR
  *
  * Writes `result.json` (and, traced, `spans.jsonl`) into the run
  * directory; `run.py` turns it into the benchmark's result line.
  */
object Main {
  private val t0 = System.nanoTime()

  /** Progress line in the run's log, with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1f s] $msg")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, runDir: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cpus").toInt, kv("run-dir"))
    val spark = session(o)
    val tracer = new Tracer(spark)
    val result = new Result
    o.workload match {
      case "ingest_cohort" => Ingest.run(spark, o, Ingest.Cohort, tracer, result)
      case "lake_serve" => Serve.run(spark, o, tracer, result)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.disable()
    result.reported("peak_rss_mb", peakRssMb(), "MB")
    if (o.trace) Files.writeString(Paths.get(o.runDir, "spans.jsonl"), tracer.spansJson)
    Files.writeString(Paths.get(o.runDir, "result.json"), result.json)
    spark.stop()
  }

  /** `graft.etl.Main`'s session (its defaults), plus the settings the
    * repo's own runs pass as JVM options; every file Spark writes stays
    * inside the run directory.
    */
  private def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.runDir, "warehouse").getAbsolutePath)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JVM's resident-set high-water mark; local mode runs the
    * executors in this process, so it covers all of Spark's memory.
    */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
