package graft

import org.apache.spark.sql.functions._

/** Measurement tool (not driver-run, not a query path): the dedup
  * family's core-count scaling evidence at a corpus LARGER than the toy
  * bench SF — VERDICT r21's open item #2: at sf0.1 every query is
  * sub-second and per-query overhead dominates, so the 8-core bench leg
  * often beats 32 cores and "parallelises at scale" claims rested on
  * plan shape alone. This probe amplifies the sf0.1 documents table
  * ×`SPARK_GRAFT_AMPLIFY` (default 16; one explode branch, per-replica
  * perturbed text — dense near-dup clusters, the banded-LSH worst
  * case), MATERIALIZES the amplified corpus to parquet so every
  * invocation reads identical bytes with identical splits, and times
  * the reshaped operators end to end with a count() action.
  *
  * Invoke once per core count (`SPARK_GRAFT_CPUS` drives the master and
  * shuffle partitions, exactly like the bench):
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScalingProbe"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.ScalingProbe"
  *
  * and compare the per-operator seconds across the two JSON lines.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val amplify = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "16").toInt
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    // amplified corpus on disk, built once and shared by every core
    // count (deterministic content; REBUILT if absent, so a cleaned /tmp
    // only costs the build, never skews the timed reads). The key names
    // the source SF dir and a short hash of its full path, so a run
    // against another SF dir builds its own corpus instead of reusing
    // a stale one
    val sfAbs = new java.io.File(sfDir).getAbsolutePath
    val sfKey = new java.io.File(sfAbs).getName.replaceAll("[^A-Za-z0-9._-]", "_") +
      f"-${sfAbs.hashCode}%08x"
    val corpusPath = s"/tmp/graft_scaling_probe_${sfKey}_x$amplify"
    if (!new java.io.File(corpusPath, "_SUCCESS").exists()) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(amplify - 1))).as("__i"))
        .select((col("doc_id") * amplify + col("__i")).as("doc_id"),
          concat(col("text"), lit(" rep"), col("__i")).as("text"))
        .repartition(64) // fixed file count → identical splits at any cpus
        .write.mode("overwrite").parquet(corpusPath)
    }
    val docs = spark.read.parquet(corpusPath)
    val nDocs = docs.count()

    def timed(label: String)(f: => Long): (String, Double, Long) = {
      spark.sparkContext.setJobDescription(s"scaling-probe: $label")
      val t0 = System.nanoTime()
      val rows = f
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      (label, math.round(t * 1000) / 1000.0, rows)
    }

    import graft.ops.Dedup
    val cap = Some(32)
    // warm codegen/JIT on the un-amplified table first (bench parity)
    Dedup.deduplicate(Tables.documents(spark, sfDir), "doc_id", "text",
      minJaccard = 0.5, maxBucket = cap).count()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // SPARK_GRAFT_PROBE_OPS=q21,q36 restricts the probe (q62's loop is
    // rounds × fixed job latency by design — its wall measures round
    // count, not stage parallelism — so big-amplify runs usually skip it)
    val opsFilter = sys.env.get("SPARK_GRAFT_PROBE_OPS")
      .map(_.split(",").map(_.trim).toSet)
    def op(label: String)(f: => Long): Option[(String, Double, Long)] =
      if (opsFilter.forall(_.exists(label.startsWith))) Some(timed(label)(f))
      else None
    val results = Seq(
      op("q21_pairs") {
        val sig = Dedup.minhashSignatureDirect(docs, "doc_id", "text", 8, 8).persist()
        val n = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id", cap).count()
        sig.unpersist(); n
      },
      op("q22_verify") {
        val hsets = Dedup.shingleHashArrays(docs, "doc_id", "text", 8).persist()
        val sig = Dedup.minhashSignatureDirect(docs, "doc_id", "text", 8, 8).persist()
        val cand = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id", cap)
        val n = Dedup.jaccardVerifyHashed(cand, hsets, "doc_id", 0.2).count()
        sig.unpersist(); hsets.unpersist(); n
      },
      op("q36_dedup") {
        Dedup.deduplicate(docs, "doc_id", "text", minJaccard = 0.5, maxBucket = cap).count()
      },
      op("q62_clusters") {
        val hsets = Dedup.shingleHashArrays(docs, "doc_id", "text", 8).persist()
        val sig = Dedup.minhashSignatureDirect(docs, "doc_id", "text", 8, 8).persist()
        val cand = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id", cap)
        val verified = Dedup.jaccardVerifyHashed(cand, hsets, "doc_id", 0.2)
        val n = Dedup.duplicateClusters(verified).count()
        sig.unpersist(); hsets.unpersist(); n
      },
      op("q77_incremental") {
        // prefix-trimmed near-dups (q77's shape): they survive the exact
        // fingerprint pass and exercise the cross-side LSH + verify
        val batch = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            expr("substring(text, 6)").as("text"))
        Dedup.dedupAgainstCorpus(batch, docs, "doc_id", "text",
          minJaccard = 0.5, maxBucket = cap).count()
      })

    val qs = results.flatten
      .map { case (l, t, r) =>
        "\"" + l + "\":{\"sec\":" + t + ",\"rows\":" + r + "}"
      }.mkString("{", ",", "}")
    println(s"""{"probe":"dedup_scaling","cpus":$cpus,"amplify":$amplify,"n_docs":$nDocs,"ops":$qs}""")
    spark.stop()
  }
}
