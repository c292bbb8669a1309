package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Annotations

/** Output checks against the generator's expectations. */
object Checks {

  /** Aggregates over a lake frame with the written schema
    * (chrom, pos_bucket, pos, entries), in [[LakeTotals]] order.
    */
  def totals(lake: DataFrame): LakeTotals = {
    val e = lake.select(col("chrom"), col("pos_bucket"), col("pos"), explode(col("entries")).as("e"))
    def nulls(side: String, field: String) =
      size(filter(col(s"e.$side"), x => x.getField(field).isNull))
    val r = e.agg(
      countDistinct(col("chrom"), col("pos")),
      count(lit(1)),
      countDistinct(col("chrom"), col("pos_bucket")),
      sum(size(col("e.hom"))),
      sum(size(col("e.het"))),
      sum(nulls("hom", "qual") + nulls("het", "qual")),
      sum(nulls("hom", "ad") + nulls("het", "ad")),
      count(col("e.impact")),
      sum(length(col("e.impact"))),
      count(col("e.dbSNP")),
      count(col("e.gnomad_ac")),
      sum(col("e.gnomad_ac")),
      count(col("e.alphamissense")),
      sum(col("e.alphamissense")),
      // every row's bucket must be floor(pos / 100 kb); hg38 stays null
      sum(when(col("pos_bucket") =!= floor(col("pos") / Genomic.Bucket), 1).otherwise(0)),
      count(col("e.hg38_coordinate"))).head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue
    if (l(14) != 0 || l(15) != 0) LakeTotals(-1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, 0)
    else LakeTotals(l(0), l(1), l(2), l(3), l(4), l(5), l(6), l(7), l(8), l(9), l(10), l(11), l(12),
      if (r.isNullAt(13)) 0.0 else r.getDouble(13))
  }

  def sameTotals(got: LakeTotals, want: LakeTotals): Boolean =
    got.copy(alphaSum = 0) == want.copy(alphaSum = 0) &&
      math.abs(got.alphaSum - want.alphaSum) <= 1e-6 * math.max(1.0, math.abs(want.alphaSum))

  def lake(spark: SparkSession, path: String, want: LakeTotals): Boolean =
    sameTotals(totals(spark.read.parquet(path)), want)

  /** dbSNP's TSV and T2T parquet forms read to the same non-empty rows.
    * The lake totals check the T2T reader's joined result; this checks
    * the TSV reader against it.
    */
  def dbSnpForms(spark: SparkSession, in: Inputs): Boolean = {
    val t2t = Annotations.dbSnp(spark, in.dbSnp, t2t = true).collect()
    val tsv = Annotations.dbSnp(spark, in.dbSnpTsv, t2t = false).collect()
    t2t.nonEmpty && t2t.length == tsv.length && t2t.toSet == tsv.toSet
  }

  /** The status JSON under `path` holds exactly the expected row. Read
    * as text: the status is one small JSON line, and a Spark read would
    * cost more than the write it checks.
    */
  def status(path: String, want: StatusRow): Boolean = {
    val lines = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().filter(_.trim.nonEmpty).toSeq)
    def field(line: String, name: String): Option[String] =
      ("\"" + name + "\":\"?([^,\"}]*)").r.findFirstMatchIn(line).map(_.group(1))
    lines.size == 1 && {
      val l = lines.head
      field(l, "coordinates_num").contains(want.coordinates.toString) &&
        field(l, "mutations_num").contains(want.mutations.toString) &&
        field(l, "samples_num").contains(want.samples.toString) &&
        field(l, "update_date").exists(_.nonEmpty)
    }
  }
}
