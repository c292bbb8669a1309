package graft.etl

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded, self-contained ingest cohorts for specs that must run without
  * the reference snapshot. Each cohort carries the input quirks of
  * FIXTURES.md that reach `Lake.build`:
  *  - gzipped single-sample VCFs drawn from one shared variant pool, with
  *    multi-allelic `A,G` ALTs, `chrUn_*` and `_random` contigs, `.` QUAL,
  *    bare `0/1` without AD, several alleles at one position, and one
  *    line whose POS does not parse;
  *  - an impact TSV in two batch files with padded IMPACT and one row
  *    repeated across the batches;
  *  - a dbSNP TSV with two rsIDs for one variant (a join fan-out);
  *  - gnomAD parquet without `hg38_coordinates`, stems `c1_m0`/`cc2_m0`;
  *  - AlphaMissense parquet per chromosome, with one row whose ref-base
  *    column is not 0 and one position that has two rows.
  */
object RandomCohorts {

  final case class Cohort(vcfs: String, impact: String, dbSnp: String,
                          gnomad: String, alpha: String)

  private final case class Variant(contig: String, pos: Int, ref: String, alt: String) {
    /** The chrom the pipeline derives: the contig token before `_`. */
    def chrom: String = contig.takeWhile(_ != '_')
    def bare: String = chrom.stripPrefix("chr")
  }

  private val Bases = Vector("A", "C", "G", "T")
  private val Contigs = Vector("chr1", "chr2", "chr1_KI270706v1_random", "chrUn_KI270302v1")

  def write(spark: SparkSession, seed: Long, dir: Path): Cohort = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

    // ~4 buckets per chrom; every third variant reuses an earlier
    // position with another allele, so positions carry several entries
    val pool = (0 until 30 + rnd.nextInt(30)).foldLeft(Vector.empty[Variant]) { (acc, i) =>
      val ref = pick(Bases)
      val alt = rnd.nextInt(8) match {
        case 0 => "A,G"
        case 1 => ref + "T"
        case _ => pick(Bases.filter(_ != ref))
      }
      val v =
        if (i % 3 == 2) { val at = pick(acc); at.copy(ref = ref, alt = alt) }
        else Variant(if (rnd.nextInt(10) < 8) pick(Contigs.take(2)) else pick(Contigs.drop(2)),
          1 + rnd.nextInt(350000), ref, alt)
      acc :+ v
    }.distinct
    val snvs = pool.filter(v => v.alt.length == 1 && v.chrom != "chrUn")
    require(snvs.size >= 2, s"seed $seed drew fewer than two SNVs")

    // VCFs: common variants carry many samples; the first sample carries
    // the two SNVs the annotation quirks below are planted on
    val vcfDir = Files.createDirectories(dir.resolve("vcf"))
    val share = pool.map(_ => 0.15 + 0.8 * rnd.nextDouble())
    val nSamples = 3 + rnd.nextInt(4)
    (0 until nSamples).foreach { s =>
      val lines = pool.zip(share).filter { case (v, p) =>
        (s == 0 && snvs.take(2).contains(v)) || rnd.nextDouble() < p
      }.map { case (v, _) =>
        val qual = if (rnd.nextInt(6) == 0) "." else f"${rnd.nextInt(9000) / 10.0}%.1f"
        val gt = pick(Seq("0/1", "1/1", "1/2", "0/1", "1/1"))
        val call =
          if (rnd.nextInt(8) == 0) "0/1"
          else s"$gt:${rnd.nextInt(30)},${rnd.nextInt(30)}:${rnd.nextInt(60)}:99:0,0,0"
        Seq(v.contig, v.pos, ".", v.ref, v.alt, qual, "PASS", ".", "GT:AD:DP:GQ:PL", call).mkString("\t")
      }
      val bad = if (s == 0) Seq(Seq("chr1", "12o45", ".", "A", "C", "50", "PASS", ".", "GT", "0/1").mkString("\t"))
        else Nil
      gzip(vcfDir.resolve(s"S${seed}x$s.vcf.gz"), Seq(
        "##fileformat=VCFv4.2",
        s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS${seed}x$s") ++ lines ++ bad)
    }

    // impact: two batches, one row repeated across them
    val impactDir = Files.createDirectories(dir.resolve("impact"))
    val impactRows = pool.filter(_ => rnd.nextInt(3) > 0).map(v =>
      Seq(v.bare, v.pos, v.ref, v.alt, pick(Seq(" missense ", "synonymous", "  stop_gained"))).mkString("\t"))
    val (b1, b2) = impactRows.splitAt(impactRows.size / 2)
    val header = "CHROM\tPOS\tREF\tALT\tIMPACT"
    Files.write(impactDir.resolve("batch1.tsv"), text(header +: b1))
    Files.write(impactDir.resolve("batch2.tsv"), text(header +: (b2 ++ b1.take(1))))

    // dbSNP: the first SNV has two rsIDs
    val dbSnpDir = Files.createDirectories(dir.resolve("dbsnp"))
    val rs = pool.filter(v => v != snvs.head && rnd.nextInt(2) == 0) ++ Seq(snvs.head, snvs.head)
    Files.write(dbSnpDir.resolve("dbsnp.tsv"), text("#CHROM\tPOS\tREF\tALT\tRS" +: rs.zipWithIndex.map {
      case (v, i) => Seq(v.bare, v.pos, v.ref, v.alt, s"rs${seed * 1000 + i}").mkString("\t")
    }))

    import spark.implicits._
    val gnomadDir = dir.resolve("gnomad")
    Seq("chr1" -> "c1_m0.parquet", "chr2" -> "cc2_m0.parquet").foreach { case (chrom, file) =>
      val rows = pool.filter(v => v.chrom == chrom && rnd.nextInt(3) > 0).map { v =>
        val an = 1000L + rnd.nextInt(1000)
        (v.pos.toLong, v.ref, v.alt, an, an / 3, an / 9)
      }
      GenomicFixtures.writeSingleParquet(spark,
        rows.toDF("POS", "REF", "ALT", "gnomad_an", "gnomad_ac", "gnomad_nhomalt"), gnomadDir, file)
    }

    // alpha: the ref base's own column is 0, except for the first SNV
    // (a ref-base mismatch); the second SNV's position has two rows
    val alphaDir = dir.resolve("alpha")
    def scores(zero: String): (Double, Double, Double, Double) = {
      val s = Bases.map(b => if (b == zero) 0.0 else rnd.nextInt(1000) / 1000.0)
      (s(0), s(1), s(2), s(3))
    }
    val alphaRows = snvs.zipWithIndex.flatMap { case (v, i) =>
      val own = if (i == 0) Bases.filter(_ != v.ref).head else v.ref
      val extra = if (i == 1) Seq(v -> scores(pick(Bases))) else Nil
      (v -> scores(own)) +: extra
    }
    Seq("chr1", "chr2").foreach { chrom =>
      val rows = alphaRows.filter(_._1.chrom == chrom).map { case (v, (a, c, g, t)) =>
        (v.pos.toLong, a, c, g, t)
      }
      GenomicFixtures.writeSingleParquet(spark, rows.toDF("POS", "A", "C", "G", "T"),
        alphaDir, s"${chrom.stripPrefix("chr")}.parquet")
    }

    Cohort(vcfDir.resolve("*.vcf.gz").toString, impactDir.toString, dbSnpDir.toString,
      gnomadDir.toString, alphaDir.toString)
  }

  private def text(lines: Seq[String]): Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  private def gzip(path: Path, lines: Seq[String]): Unit = {
    val out = new GZIPOutputStream(new FileOutputStream(path.toFile))
    try out.write(text(lines))
    finally out.close()
  }
}
