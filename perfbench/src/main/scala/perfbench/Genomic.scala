package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.etl.model.{Entry, Evidence, PositionEntries}

/** Input shape of one genomic workload. `chroms` are the standard
  * chromosomes the variant pool is spread over; each spans
  * `bucketsPerChrom` lake buckets of 100 kb. Sample files draw
  * `linesPerSample` distinct variants from a pool of `pool` variants,
  * skewed towards the head of the pool by `skew` (1 = uniform), so
  * common variants carry many samples.
  */
final case class Shape(
    samples: Int,
    linesPerSample: Int,
    chroms: Seq[String],
    bucketsPerChrom: Int,
    pool: Int,
    skew: Double)

/** A VCF variant as written: `rawChrom` may be an alt or patch contig. */
final case class Variant(rawChrom: String, pos: Int, ref: String, alt: String) {
  /** The lake's chrom: the token before the first `_`. */
  def chrom: String = rawChrom.split("_")(0)
  def key: Key = Key(chrom, pos, ref, alt)
}

/** A lake variant key (chrom already collapsed). */
final case class Key(chrom: String, pos: Int, ref: String, alt: String)

/** Per-sample genotype evidence as the lake stores it. */
final case class Ev(id: String, qual: Option[Float], ad: Option[String])

final case class Gnomad(an: Long, ac: Long, nhomalt: Long)

/** Everything the lake should hold for one variant. */
final case class ExpectedVariant(
    impact: Option[String],
    dbSnp: Option[String],
    gnomad: Option[Gnomad],
    alpha: Option[Double],
    hom: Set[Ev],
    het: Set[Ev])

/** Lake-wide aggregates that one Spark query over a written lake can
  * reproduce; [[Checks.lake]] compares the two.
  */
final case class LakeTotals(
    positions: Long, variants: Long, buckets: Long, hom: Long, het: Long,
    qualNull: Long, adNull: Long, impactN: Long, impactLen: Long,
    dbSnpN: Long, gnomadN: Long, gnomadAc: Long, alphaN: Long, alphaSum: Double)

final case class StatusRow(coordinates: Long, mutations: Long, samples: Long)

/** Paths of one generated input set. `dbSnp` is the T2T parquet form
  * the ingests read; `dbSnpTsv` holds the same rows as a TSV.
  */
final case class Inputs(vcfs: String, impact: String, dbSnp: String,
                        dbSnpTsv: String, gnomad: String, alpha: String,
                        vcfLines: Long, vcfBytes: Long)

/** The generated input set plus the outputs the pipeline must produce,
  * computed here from the generator's own records without calling graft.
  * The expectations mirror the reference pipeline's quirks:
  *  - the lake keys on the chrom split at `_`, while the status row
  *    counts raw chroms;
  *  - `samples_num` counts files;
  *  - only genotypes starting `1/1` are hom (`1/2` is het);
  *  - AlphaMissense joins on (chrom, pos) only, so a row whose reference
  *    base differs from the variant's yields no score;
  *  - impact chroms are `chr` + upper(CHROM), so an `Un` row never
  *    matches the `chrUn` contig;
  *  - ranged annotation file stems lose every `c`.
  */
final case class Genome(inputs: Inputs, variants: Map[Key, ExpectedVariant], status: StatusRow) {

  lazy val totals: LakeTotals = {
    val evs = variants.values.toSeq
    val all = evs.flatMap(v => v.hom.toSeq ++ v.het.toSeq)
    LakeTotals(
      positions = variants.keys.map(k => (k.chrom, k.pos)).toSet.size.toLong,
      variants = variants.size.toLong,
      buckets = variants.keys.map(k => (k.chrom, k.pos / Genomic.Bucket)).toSet.size.toLong,
      hom = evs.map(_.hom.size.toLong).sum,
      het = evs.map(_.het.size.toLong).sum,
      qualNull = all.count(_.qual.isEmpty).toLong,
      adNull = all.count(_.ad.isEmpty).toLong,
      impactN = evs.count(_.impact.nonEmpty).toLong,
      impactLen = evs.flatMap(_.impact).map(_.length.toLong).sum,
      dbSnpN = evs.count(_.dbSnp.nonEmpty).toLong,
      gnomadN = evs.count(_.gnomad.nonEmpty).toLong,
      gnomadAc = evs.flatMap(_.gnomad).map(_.ac).sum,
      alphaN = evs.count(_.alpha.nonEmpty).toLong,
      alphaSum = evs.flatMap(_.alpha).sum)
  }

  /** The lake rows these records make, for writing a lake without
    * running the pipeline.
    */
  def lakeRows: Seq[PositionEntries] = {
    def evidence(evs: Set[Ev]) =
      evs.toSeq.sortBy(e => (e.id, e.qual.fold(Float.MinValue)(identity), e.ad.getOrElse("")))
        .map(e => Evidence(e.id, e.qual, e.ad))
    variants.toSeq.groupBy { case (k, _) => (k.chrom, k.pos) }.toSeq.sortBy(_._1).map { case ((c, p), vs) =>
      PositionEntries(c, (p / Genomic.Bucket).toLong, p, vs.sortBy { case (k, _) => (k.ref, k.alt) }.map {
        case (k, v) => Entry(k.ref, k.alt, v.impact, v.dbSnp, v.gnomad.map(_.an), v.gnomad.map(_.ac),
          v.gnomad.map(_.nhomalt), None, v.alpha, evidence(v.hom), evidence(v.het))
      })
    }
  }

  /** (chrom, pos) → (entries, evidence structs) at that position. */
  lazy val byPosition: Map[(String, Int), (Int, Int)] =
    variants.toSeq.groupBy { case (k, _) => (k.chrom, k.pos) }.map { case (p, vs) =>
      p -> (vs.size, vs.map { case (_, v) => v.hom.size + v.het.size }.sum)
    }
}

object Genomic {
  val Bucket = 100000
  private val Bases = Vector("A", "C", "G", "T")
  private val Impacts = Vector("missense", "synonymous", "stop_gained", "impact XX test")
  private val UnContig = "chrUn_KI270442v1"
  /** Annotation rows per table at positions no sample carries. */
  private val AnnotationFill = 4000
  private lazy val HadoopConf = new Configuration()

  /** Draws the inputs for `shape` from `seed` and computes what the
    * pipeline must make of them. With `writeFiles = false` only the
    * records are drawn (the same ones) and no input file is written.
    */
  def generate(shape: Shape, seed: Long, dir: String, writeFiles: Boolean = true): Genome = {
    def text(f: File, s: String): Unit = if (writeFiles) writeText(f, s)
    def parquet[T](f: File, schema: MessageType, rows: Seq[T])(
        fill: (org.apache.parquet.example.data.Group, T) => Unit): Unit =
      if (writeFiles) writeParquet(f, schema, rows)(fill)
    val rnd = new SplittableRandom(seed)
    val root = new File(dir)
    deleteRecursively(root)
    root.mkdirs()

    // ---- variant pool: SNVs, indels, multi-allelic ALTs, extra alleles
    // at an existing position, and contig lines that collapse onto a
    // standard chrom or into chrUn ----
    val seen = mutable.HashSet.empty[Variant]
    val pool = mutable.ArrayBuffer.empty[Variant]
    def other(b: String): String = { var o = b; while (o == b) o = Bases(rnd.nextInt(4)); o }
    while (pool.size < shape.pool) {
      val r = rnd.nextDouble()
      val v =
        if (r < 0.01) Variant(UnContig, 1 + rnd.nextInt(180000), Bases(rnd.nextInt(4)), Bases(rnd.nextInt(4)))
        else if (r < 0.02 && pool.nonEmpty) {
          val p = pool(rnd.nextInt(pool.size))
          if (p.rawChrom.contains("_")) p else p.copy(rawChrom = p.rawChrom + "_KI270706v1_random")
        } else if (r < 0.07 && pool.nonEmpty) {
          val p = pool(rnd.nextInt(pool.size))
          p.copy(alt = other(p.ref.take(1)))
        } else {
          val c = shape.chroms(rnd.nextInt(shape.chroms.size))
          val pos = 1 + rnd.nextInt(shape.bucketsPerChrom * Bucket - 1)
          val ref = Bases(rnd.nextInt(4))
          val k = rnd.nextDouble()
          if (k < 0.03) {
            val a1 = other(ref); var a2 = other(ref); while (a2 == a1) a2 = other(ref)
            Variant(c, pos, ref, s"$a1,$a2")
          } else if (k < 0.08) Variant(c, pos, ref + Bases(rnd.nextInt(4)) + Bases(rnd.nextInt(4)), ref)
          else Variant(c, pos, ref, other(ref))
        }
      if (v.ref != v.alt && seen.add(v)) pool += v
    }

    Main.log("generator: pool drawn")
    // ---- single-sample VCFs ----
    val vcfDir = new File(root, "vcf"); vcfDir.mkdirs()
    val chromOrder = (shape.chroms :+ UnContig).zipWithIndex.toMap
    val evidence = mutable.HashMap.empty[Key, (mutable.Set[Ev], mutable.Set[Ev])]
    val rawCoords = mutable.HashSet.empty[(String, Int)]
    val rawMuts = mutable.HashSet.empty[Variant]
    var vcfBytes = 0L
    var vcfLines = 0L
    for (s <- 0 until shape.samples) {
      val id = f"S$s%04d"
      val picked = mutable.LinkedHashSet.empty[Int]
      var tries = 0
      while (picked.size < shape.linesPerSample && tries < shape.linesPerSample * 50) {
        picked += math.min(shape.pool - 1, (math.pow(rnd.nextDouble(), shape.skew) * shape.pool).toInt)
        tries += 1
      }
      val lines = picked.toSeq.map(pool).sortBy(v =>
        (chromOrder.getOrElse(v.rawChrom, chromOrder.getOrElse(v.chrom, 0)), v.rawChrom, v.pos, v.ref, v.alt))
      val sb = new StringBuilder
      sb ++= "##fileformat=VCFv4.2\n##source=perfbench\n"
      sb ++= s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$id\n"
      for (v <- lines) {
        val qual = if (rnd.nextDouble() < 0.03) "." else "%.2f".formatLocal(java.util.Locale.ROOT, 10 + rnd.nextDouble() * 990)
        val (gt, ad) =
          if (v.alt.contains(",")) {
            val ad = s"0,${1 + rnd.nextInt(20)},${1 + rnd.nextInt(20)}"
            (s"1/2:$ad:${10 + rnd.nextInt(30)}:99:300,200,100,50,0,40", Some(ad))
          } else if (rnd.nextDouble() < 0.35) {
            val ad = s"0,${2 + rnd.nextInt(30)}"
            (s"1/1:$ad:${2 + rnd.nextInt(30)}:36:400,36,0", Some(ad))
          } else if (rnd.nextDouble() < 0.06) ("0/1", None)
          else {
            val ad = s"${1 + rnd.nextInt(20)},${1 + rnd.nextInt(20)}"
            (s"0/1:$ad:${2 + rnd.nextInt(40)}:99:120,0,180", Some(ad))
          }
        sb ++= s"${v.rawChrom}\t${v.pos}\t.\t${v.ref}\t${v.alt}\t$qual\tPASS\tAC=1;AF=0.50;AN=2\tGT:AD:DP:GQ:PL\t$gt\n"
        val ev = Ev(id, if (qual == ".") None else Some(qual.toFloat), ad)
        val (hom, het) = evidence.getOrElseUpdate(v.key, (mutable.Set.empty[Ev], mutable.Set.empty[Ev]))
        if (gt.startsWith("1/1")) hom += ev else het += ev
        rawCoords += ((v.rawChrom, v.pos))
        rawMuts += v
      }
      vcfLines += lines.size
      val bytes = sb.toString.getBytes("UTF-8")
      vcfBytes += bytes.length
      if (writeFiles) {
        val out = new GZIPOutputStream(new FileOutputStream(new File(vcfDir, s"$id.vcf.gz")))
        try out.write(bytes) finally out.close()
      }
    }

    Main.log("generator: VCFs written")
    // ---- annotations, keyed on the collapsed chrom ----
    val keys = pool.map(_.key).distinct.filter(k => shape.chroms.contains(k.chrom)).toVector
    val keySet = keys.toSet
    val posSet = keys.map(k => (k.chrom, k.pos)).toSet
    def bare(c: String): String = c.stripPrefix("chr")
    def fill(n: Int): Seq[Key] = {
      val out = mutable.ArrayBuffer.empty[Key]
      while (out.size < n) {
        val c = shape.chroms(rnd.nextInt(shape.chroms.size))
        val k = Key(c, 1 + rnd.nextInt(shape.bucketsPerChrom * Bucket - 1), Bases(rnd.nextInt(4)), "")
        val full = k.copy(alt = other(k.ref))
        if (!keySet.contains(full)) out += full
      }
      out.toSeq
    }

    val impact = mutable.HashMap.empty[Key, String]
    val impactDir = new File(root, "impact"); impactDir.mkdirs()
    val impactRows = keys.filter(_ => rnd.nextDouble() < 0.3).map { k =>
      val v = Impacts(rnd.nextInt(Impacts.size))
      impact(k) = v
      val padded = if (rnd.nextDouble() < 0.3) s"  $v " else v
      s"${bare(k.chrom)}\t${k.pos}\t${k.ref}\t${k.alt}\t$padded"
    }
    // a chrUn row never matches: upper("Un") makes the key chrUN
    val unRows = pool.filter(_.rawChrom == UnContig).take(3)
      .map(v => s"Un\t${v.pos}\t${v.ref}\t${v.alt}\tmissense")
    val header = "CHROM\tPOS\tREF\tALT\tIMPACT"
    val (batchA, batchB) = impactRows.splitAt(impactRows.size / 2)
    // rows repeated across the two batch files agree, as re-delivered batches do
    text(new File(impactDir, "impacts.a.csv"), (header +: (batchA ++ unRows)).mkString("", "\n", "\n"))
    text(new File(impactDir, "impacts.b.csv"),
      (header +: (batchB ++ batchA.take(batchA.size / 5))).mkString("", "\n", "\n"))

    val dbSnp = mutable.HashMap.empty[Key, String]
    var rs = 1000L
    val dbSnpRows = (keys.filter(_ => rnd.nextDouble() < 0.5) ++ fill(AnnotationFill)).map { k =>
      rs += 1 + rnd.nextInt(50)
      if (keySet.contains(k)) dbSnp(k) = s"rs$rs"
      (k, s"rs$rs")
    }.distinctBy(_._1)
    // the same rows twice: as a TSV, and as T2T parquet
    val dbSnpTsv = new File(root, "dbsnp.tsv")
    text(dbSnpTsv, dbSnpRows.map { case (k, id) => s"${bare(k.chrom)}\t${k.pos}\t${k.ref}\t${k.alt}\t$id" }
      .mkString("#CHROM\tPOS\tREF\tALT\tID\n", "\n", "\n"))
    val dbSnpDir = new File(root, "dbsnp"); dbSnpDir.mkdirs()
    for ((c, rows) <- dbSnpRows.groupBy(_._1.chrom)) {
      // CHROM is int64 in some files and a string in others; the reader
      // must ignore it and derive chrom from the file name
      val numeric = bare(c).forall(_.isDigit) && bare(c).toInt % 2 == 1
      val schema = MessageTypeParser.parseMessageType(
        s"message dbsnp { required ${if (numeric) "int64" else "binary"} CHROM${if (numeric) "" else " (STRING)"}; " +
          "required int64 POS; required binary REF (STRING); required binary ALT (STRING); required binary SNP (STRING); }")
      // `cc2_m0` → chr2: every `c` of the stem is stripped
      val stem = (if (bare(c) == "2") "cc" else "c") + bare(c) + "_m0"
      parquet(new File(dbSnpDir, s"$stem.parquet"), schema, rows.sortBy(_._1.pos)) { case (g, (k, id)) =>
        if (numeric) g.add("CHROM", bare(c).toLong) else g.add("CHROM", bare(c))
        g.add("POS", k.pos.toLong); g.add("REF", k.ref); g.add("ALT", k.alt); g.add("SNP", id)
      }
    }

    Main.log("generator: impact and dbSNP written")
    val gnomad = mutable.HashMap.empty[Key, Gnomad]
    val gnomadDir = new File(root, "gnomad"); gnomadDir.mkdirs()
    val gnomadRows = (keys.filter(_ => rnd.nextDouble() < 0.4) ++ fill(AnnotationFill)).map { k =>
      val an = 100000L + rnd.nextInt(700000)
      val ac = rnd.nextInt((an / 10).toInt).toLong
      val g = Gnomad(an, ac, ac / (2 + rnd.nextInt(5)))
      if (keySet.contains(k)) gnomad(k) = g
      (k, g)
    }.distinctBy(_._1)
    val gnomadSchema = MessageTypeParser.parseMessageType(
      "message gnomad { required int64 POS; required binary REF (STRING); required binary ALT (STRING); " +
        "required int64 gnomad_an; required int64 gnomad_ac; required int64 gnomad_nhomalt; }")
    for ((c, rows) <- gnomadRows.groupBy(_._1.chrom)) {
      val mb = shape.bucketsPerChrom / 10
      parquet(new File(gnomadDir, s"c${bare(c)}_0m_${mb}m.parquet"), gnomadSchema, rows.sortBy(_._1.pos)) {
        case (gr, (k, g)) =>
          gr.add("POS", k.pos.toLong); gr.add("REF", k.ref); gr.add("ALT", k.alt)
          gr.add("gnomad_an", g.an); gr.add("gnomad_ac", g.ac); gr.add("gnomad_nhomalt", g.nhomalt)
      }
    }

    // AlphaMissense: one row per (chrom, pos); the reference base's own
    // column is 0. Most rows describe the variant's reference base; the
    // rest describe another base and must yield no score.
    val alphaRows = mutable.LinkedHashMap.empty[(String, Int), Map[String, Double]]
    val refAt = keys.groupBy(k => (k.chrom, k.pos)).map { case (p, ks) => p -> ks.head.ref.take(1) }
    for (at <- posSet.toSeq.sortBy(identity) if rnd.nextDouble() < 0.5) {
      val base = if (rnd.nextDouble() < 0.85) refAt(at) else other(refAt(at))
      alphaRows(at) = Bases.map(b => b -> (if (b == base) 0.0 else math.round((0.01 + rnd.nextDouble() * 0.98) * 1e4) / 1e4)).toMap
    }
    for (k <- fill(AnnotationFill) if !posSet.contains((k.chrom, k.pos)))
      alphaRows.getOrElseUpdate((k.chrom, k.pos), Bases.map(b => b -> (if (b == k.ref) 0.0 else 0.5)).toMap)
    val alphaDir = new File(root, "alpha"); alphaDir.mkdirs()
    val alphaSchema = MessageTypeParser.parseMessageType(
      "message alpha { required int64 POS; required double A; required double C; required double G; required double T; }")
    for ((c, rows) <- alphaRows.toSeq.groupBy(_._1._1))
      parquet(new File(alphaDir, s"${bare(c)}.parquet"), alphaSchema, rows.sortBy(_._1._2)) {
        case (g, ((_, p), scores)) => g.add("POS", p.toLong); Bases.foreach(b => g.add(b, scores(b)))
      }
    Main.log("generator: gnomAD and AlphaMissense written")
    def alphaScore(k: Key): Option[Double] =
      if (!Bases.contains(k.ref) || !Bases.contains(k.alt)) None
      else alphaRows.get((k.chrom, k.pos)).filter(_(k.ref) == 0.0).map(_(k.alt))

    val expected = evidence.map { case (k, (hom, het)) =>
      k -> ExpectedVariant(impact.get(k), dbSnp.get(k), gnomad.get(k), alphaScore(k), hom.toSet, het.toSet)
    }.toMap
    Genome(
      Inputs(vcfDir.getPath, impactDir.getPath, dbSnpDir.getPath, dbSnpTsv.getPath,
        gnomadDir.getPath, alphaDir.getPath, vcfLines, vcfBytes),
      expected,
      StatusRow(rawCoords.size.toLong, rawMuts.size.toLong, shape.samples.toLong))
  }

  private def writeText(f: File, s: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), "UTF-8"))
    try w.write(s) finally w.close()
  }

  private def writeParquet[T](f: File, schema: MessageType, rows: Seq[T])(
      fill: (org.apache.parquet.example.data.Group, T) => Unit): Unit = {
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(f.getAbsolutePath))
      .withConf(HadoopConf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r => val g = factory.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
}
