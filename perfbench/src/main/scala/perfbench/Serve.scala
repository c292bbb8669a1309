package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.etl.{Lake, ManifestLake, model}
import graft.etl.model.PositionEntries

/** `lake_serve`: one client in a closed loop reads a hive-layout lake
  * while it commits to the manifest-layout copy of the same lake.
  *
  * One round is: open a fresh reader and answer its first lookup; five
  * reads on the hive lake through `model.readLake` (four point lookups,
  * half of them misses, and a ~1 Mb range scan across buckets); an
  * upsert that re-annotates a ~1 Mb region of the manifest lake; five
  * more reads; a delete of a 20 kb range. Each commit is followed by a
  * `ManifestLake.read` point lookup that must see it.
  */
object Serve {

  /** Genome-shaped: fewer samples than cores, spread evenly (no skew)
    * over two chroms of 12 buckets each. Set-up writes the lake rows
    * these records make straight through Lake.write and
    * Lake.writeManifested; ingest_cohort measures Lake.build.
    */
  val Shape = perfbench.Shape(samples = 3, linesPerSample = 8000,
    chroms = Seq("chr1", "chr2"), bucketsPerChrom = 12, pool = 16000, skew = 1.0)

  private val RegionBuckets = 10
  private val DeleteSpan = 20000
  private val RangeSpan = 1000000
  private val Partitions = Seq("chrom", "pos_bucket")
  private val Keys = Seq("chrom", "pos_bucket", "pos")

  def run(spark: SparkSession, o: Main.Opts, tracer: Tracer, result: Result): Unit = {
    val hive = new File(o.runDir, "hive").getAbsolutePath
    val manifest = new File(o.runDir, "manifest").getAbsolutePath
    if (o.trace) tracer.enable()

    // set-up, part one: draw the lake's records, write both layouts,
    // check both (traced runs trace these writes)
    val (genome, writeSetup) = Stats.timed {
      import spark.implicits._
      val g = Genomic.generate(Shape, o.seed, new File(o.runDir, "inputs").getAbsolutePath, writeFiles = false)
      val rows = spark.createDataset(g.lakeRows).persist(StorageLevel.MEMORY_ONLY)
      rows.count()
      tracer.span("lake.write")(Lake.write(rows.toDF(), hive))
      Main.log("set-up: hive lake written")
      tracer.span("manifest.write")(Lake.writeManifested(spark, rows.toDF(), manifest))
      Main.log("set-up: manifest lake written")
      rows.unpersist(blocking = true)
      result.check("set-up hive lake")(Checks.lake(spark, hive, g.totals))
      result.check("set-up manifest lake")(
        Checks.sameTotals(Checks.totals(ManifestLake.read(spark, manifest)), g.totals))
      g
    }
    if (o.trace) tracer.disable()

    val rnd = new SplittableRandom(o.seed ^ 0x5eed)
    val positions = genome.byPosition.keys.toVector.sorted
    val present = genome.byPosition.keySet
    val byChrom = positions.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
    val live = mutable.Map(genome.byPosition.toSeq: _*)
    val points, ranges, opens, commits, manifestPoints = mutable.ArrayBuffer.empty[Double]
    var resultRows = 0L
    var round = 0

    def pointHit(): (String, Int) = positions(rnd.nextInt(positions.size))
    def pointMiss(): (String, Int) = {
      var p = (Shape.chroms(rnd.nextInt(Shape.chroms.size)), 1 + rnd.nextInt(Shape.bucketsPerChrom * Genomic.Bucket))
      while (present.contains(p)) p = (p._1, p._2 + 1)
      p
    }

    def lookup(ds: Dataset[PositionEntries], at: (String, Int), span: String): Boolean = {
      val (c, p) = at
      val (rows, t) = Stats.timed(tracer.span(span)(
        ds.where(col("chrom") === c && col("pos_bucket") === p / Genomic.Bucket && col("pos") === p).collect()))
      if (span == "read.point") { points += t; resultRows += rows.length }
      genome.byPosition.get(at) match {
        case Some((entries, evidence)) => rows.length == 1 && rows.head.entries.size == entries &&
          rows.head.entries.map(e => e.hom.size + e.het.size).sum == evidence
        case None => rows.isEmpty
      }
    }

    def range(ds: Dataset[PositionEntries]): Boolean = {
      val c = Shape.chroms(rnd.nextInt(Shape.chroms.size))
      val from = rnd.nextInt(Shape.bucketsPerChrom * Genomic.Bucket - RangeSpan)
      val to = from + RangeSpan
      val (rows, t) = Stats.timed(tracer.span("read.range")(
        ds.where(col("chrom") === c &&
          col("pos_bucket").between(from / Genomic.Bucket, (to - 1) / Genomic.Bucket) &&
          col("pos") >= from && col("pos") < to).collect()))
      ranges += t
      resultRows += rows.length
      val want = byChrom.getOrElse(c, Vector.empty).filter(p => p >= from && p < to)
      rows.length == want.size &&
        rows.map(_.entries.size).sum == want.map(p => genome.byPosition((c, p))._1).sum
    }

    def reads(ds: Dataset[PositionEntries]): Unit =
      Seq("hit", "miss", "range", "miss", "hit").foreach {
        case "hit" => result.check("point hit")(lookup(ds, pointHit(), "read.point"))
        case "miss" => result.check("point miss")(lookup(ds, pointMiss(), "read.point"))
        case _ => result.check("range")(range(ds))
      }

    def manifestFiles(): Map[String, Long] =
      Layers.parquetFiles(new File(manifest)).map(f => f.getPath -> f.length).toMap
    val rewritten = mutable.ArrayBuffer.empty[(Int, Long)]
    def commit(span: String)(body: => Unit): Unit = {
      val before = if (o.trace) manifestFiles() else Map.empty[String, Long]
      commits += Stats.timed(tracer.span(span)(body))._2
      if (o.trace) {
        val added = manifestFiles() -- before.keys
        rewritten += ((added.size, added.values.sum))
      }
    }
    def manifestLookup(c: String, p: Int)(ok: Seq[PositionEntries] => Boolean): Boolean = {
      import spark.implicits._
      val (rows, t) = Stats.timed(tracer.span("manifest.point")(
        ManifestLake.read(spark, manifest)
          .where(col("chrom") === c && col("pos_bucket") === p / Genomic.Bucket && col("pos") === p)
          .select("chrom", "pos_bucket", "pos", "entries").as[PositionEntries].collect().toSeq))
      manifestPoints += t
      ok(rows)
    }

    def upsert(): Unit = {
      val marker = s"reannotated-$round"
      val c = Shape.chroms(rnd.nextInt(Shape.chroms.size))
      val b = rnd.nextInt(Shape.bucketsPerChrom - RegionBuckets + 1)
      commit("manifest.upsert") {
        val batch = ManifestLake.read(spark, manifest)
          .where(col("chrom") === c && col("pos_bucket").between(b, b + RegionBuckets - 1))
          .withColumn("entries", transform(col("entries"), e => e.withField("impact", lit(marker))))
        ManifestLake.upsert(spark, manifest, batch, Partitions, Keys)
      }
      val inRegion = live.keys.filter { case (ch, p) => ch == c && p / Genomic.Bucket - b < RegionBuckets &&
        p / Genomic.Bucket >= b }.toVector.sorted
      result.check("read after upsert") {
        inRegion.isEmpty || {
          val at = inRegion(rnd.nextInt(inRegion.size))
          manifestLookup(at._1, at._2)(rows =>
            rows.size == 1 && rows.head.entries.size == live(at)._1 &&
              rows.head.entries.forall(_.impact.contains(marker)))
        }
      }
    }

    def delete(): Unit = {
      val c = Shape.chroms(rnd.nextInt(Shape.chroms.size))
      val b = rnd.nextInt(Shape.bucketsPerChrom)
      val from = b * Genomic.Bucket + rnd.nextInt(Genomic.Bucket - DeleteSpan)
      val gone = live.keys.filter { case (ch, p) => ch == c && p >= from && p < from + DeleteSpan }.toVector.sorted
      commit("manifest.delete") {
        ManifestLake.delete(spark, manifest, col("chrom") === c && col("pos_bucket") === b &&
          col("pos") >= from && col("pos") < from + DeleteSpan)
      }
      gone.foreach(live.remove)
      result.check("read after delete") {
        if (gone.nonEmpty) manifestLookup(c, gone(rnd.nextInt(gone.size))._2)(_.isEmpty)
        else manifestLookup(c, from)(_.isEmpty)
      }
    }

    def serveRound(): Sample = Stats.measured {
      round += 1
      Main.log(s"round $round")
      val (ds, t) = Stats.timed(tracer.span("read.open") {
        val ds = model.readLake(spark, hive)
        result.check("first lookup")(lookup(ds, pointHit(), "read.first"))
        ds
      })
      opens += t
      reads(ds)
      upsert()
      reads(ds)
      delete()
    }

    // set-up, part two: one warm-up round, whose samples are dropped
    val setup = writeSetup + serveRound().wall
    Seq(points, ranges, opens, commits, manifestPoints).foreach(_.clear())
    rewritten.clear()

    // timed closed loop of at least one round; a traced run times one
    // round untraced, then one traced
    val untraced = Stats.loop(if (o.trace) 0 else o.seconds, 1)(serveRound())
    val untracedPoint = Stats.median(points.toSeq)
    val samples = if (!o.trace) untraced else {
      points.clear(); resultRows = 0
      tracer.enable()
      Stats.loop(0, 1)(serveRound())
    }
    val rounds = samples.map(_.wall)

    def ms(xs: Seq[Double], q: Double) = Stats.quantile(xs, q) * 1000
    result.reported("setup_s", setup, "s")
    result.reported("serve_round_s", Stats.median(rounds), "s")
    result.reported("serve_round_cpu_s", Stats.median(samples.map(_.cpu)), "s")
    result.reported("lake_open_s", Stats.median(opens.toSeq), "s")
    result.reported("point_p50_ms", ms(points.toSeq, 0.5), "ms")
    result.reported("point_p90_ms", ms(points.toSeq, 0.9), "ms")
    result.reported("point_count", points.size, "count")
    result.reported("range_p50_ms", ms(ranges.toSeq, 0.5), "ms")
    result.reported("range_p90_ms", ms(ranges.toSeq, 0.9), "ms")
    result.reported("range_count", ranges.size, "count")
    result.reported("commit_p50_s", Stats.median(commits.toSeq), "s")
    result.reported("commit_count", commits.size, "count")
    result.reported("input_buckets", genome.totals.buckets, "count")
    val lakeBytes = Layers.parquetFiles(new File(hive)).map(_.length).sum.toDouble / genome.inputs.vcfBytes
    result.reported("lake_bytes_per_vcf_byte", lakeBytes, "ratio")
    if (!o.trace) {
      result.metric("setup_s", setup, "s")
      result.metric("unit_s", Stats.median(rounds), "s")
      result.metric("lake_bytes_per_vcf_byte", lakeBytes, "ratio")
    } else {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val pointSpans = tracer.named("read.point")
      val readSpans = pointSpans ++ tracer.named("read.range")
      val mPoints = tracer.named("manifest.point")
      Layers.emit(result, Layers.etl(tracer, Some(new File(hive))) ++ Map(
        "read.open_s" -> Layers.medianSeconds(tracer, "read.open"),
        "read.open_jobs" -> mean(tracer.named("read.open").map(_.stats.jobs.toDouble)),
        "read.files_per_point" -> mean(pointSpans.map(_.stats.scanFiles.toDouble)),
        "read.kb_per_point" -> mean(pointSpans.map(_.stats.scanBytes / 1024.0)),
        "read.rows_per_result" -> readSpans.map(_.stats.scanRows).sum.toDouble / math.max(1L, resultRows),
        "manifest.write_s" -> Layers.medianSeconds(tracer, "manifest.write"),
        "manifest.upsert_s" -> Layers.medianSeconds(tracer, "manifest.upsert"),
        "manifest.delete_s" -> Layers.medianSeconds(tracer, "manifest.delete"),
        "manifest.files_rewritten" -> mean(rewritten.map(_._1.toDouble).toSeq),
        "manifest.mb_rewritten" -> mean(rewritten.map(_._2 / 1048576.0).toSeq),
        "manifest.point_ms" -> Layers.medianSeconds(tracer, "manifest.point") * 1000,
        "manifest.files_per_point" -> mean(mPoints.map(_.stats.scanFiles.toDouble)),
        "trace.overhead_frac" -> (Stats.median(points.toSeq) / untracedPoint - 1)))
    }
  }
}
