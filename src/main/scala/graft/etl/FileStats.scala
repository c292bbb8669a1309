package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BloomBits

/** Collected per-file stats for one staged file: [min, max] bounds,
  * the file's row count, per-column null counts, value sets and bloom
  * bits.
  */
private[etl] final case class FileStats(bounds: Map[String, (String, String)],
                                        rows: Long,
                                        nullCounts: Map[String, Long],
                                        sets: Map[String, Seq[String]],
                                        blooms: Map[String, Array[Byte]] = Map.empty)

private[etl] object FileStats {

  /** Value-set stats bounds: a file's DISTINCT values for a tracked
    * column are recorded only when there are at most [[SetCap]] of them
    * and every one renders at most [[MaxSetValueLen]] characters — the
    * categorical shape (status codes, source tags, enum-ish columns)
    * where min/max bounds are wide but membership is tiny. Both caps
    * are soundness caps, not tuning: an overflowing or long-valued
    * column records NO set (unknown = never skip), and tracking stops
    * at `SetCap + 1` distinct values even while a high-cardinality
    * column is being measured.
    */
  val SetCap = 24
  val MaxSetValueLen = 64

  /** Only atomic orderable types carry BOUNDS: binary/nested are
    * excluded (their string casts don't round-trip), and so are
    * timestamps — their string form renders in the WRITER's session
    * timezone and would re-parse in the READER's, shifting the bounds
    * and wrongly skipping files. Dates are zone-free and stay eligible.
    */
  def boundEligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | BooleanType => true
    case _ => false
  }

  def floaty(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _ => false
  }

  /** Value sets and blooms exclude float/double: their string forms
    * carry ±0.0 / shortest-repr hazards that equality-on-render cannot
    * survive; bounds (with read-side zero normalization) cover them.
    */
  def setEligible(dt: DataType): Boolean = boundEligible(dt) && !floaty(dt)

  /** ±0.0 collapses to "0.0" in recorded float/double bounds: SQL
    * comparison treats -0.0 == 0.0 while the read path's interpreted
    * ordering is total (-0.0 < 0.0), so a recorded "-0.0" bound could
    * wrongly prove `col = 0.0` impossible. Delta normalizes collected
    * stats the same way; the reader also normalizes, which covers
    * manifests written before this rule.
    */
  def normZero(dt: DataType, s: String): String =
    if (floaty(dt) && s == "-0.0") "0.0" else s

  /** The columns a commit collects stats for: the requested stats and
    * bloom columns the schema has, minus partition columns (constant
    * per file, pruned by directory).
    */
  def requested(schema: StructType, statsCols: Seq[String], bloomCols: Seq[String],
                partitionCols: Seq[String]): Seq[String] = {
    val cols = (statsCols ++ bloomCols).distinct
      .filter(c => schema.fieldNames.contains(c) && !partitionCols.contains(c))
    cols.foreach(c => require(!c.startsWith("#"),
      s"stats column name must not start with '#' (reserved in the stats blob): $c"))
    cols
  }

  /** Footer key-value metadata keys: the stats blob (the manifest's own
    * stats JSON), and one base64 bloom per bloom column.
    */
  val FooterKey = "graft.stats"
  val FooterBloomPrefix = "graft.stats.bloom:"

  /** The stats a file's footer carries, if its writing task recorded
    * any (a file written without requested columns, or with no rows,
    * carries none).
    */
  def fromFooter(kv: java.util.Map[String, String]): Option[FileStats] =
    Option(kv.get(FooterKey)).map { json =>
      val (bounds, rows, nulls, sets, _, _, _) = ManifestLake.parseStats(json)
      val blooms = kv.asScala.collect {
        case (k, b) if k.startsWith(FooterBloomPrefix) =>
          k.stripPrefix(FooterBloomPrefix) -> BloomBits.fromBase64(b)
      }.toMap
      FileStats(bounds, rows.getOrElse(0L), nulls, sets, blooms)
    }
}

/** Parquet, with each file's [[FileStats]] computed by the task that
  * writes it and stored in that file's footer — the commit reads them
  * back in the footer pass it already makes for its row count, so
  * per-file stats cost no Spark job (Delta's job-statistics-tracker
  * idea, carried in the footer so a retried or speculative task can
  * never count twice). The columns come from the [[StatsCols]] and
  * [[BloomCols]] write options; without them the files are plain
  * parquet.
  */
private[etl] class StatsParquetFileFormat extends ParquetFileFormat {
  import StatsParquetFileFormat._

  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = job.getConfiguration
    ParquetOutputFormat.setWriteSupportClass(job, classOf[StatsWriteSupport])
    Seq(StatsCols, BloomCols).foreach(k => conf.set(k, options.getOrElse(k, "")))
    factory
  }
}

private[etl] object StatsParquetFileFormat {
  val StatsCols = "graft.stats.cols"
  val BloomCols = "graft.stats.bloomCols"

  /** Column names survive any character as comma-joined base64. */
  def encodeCols(cols: Seq[String]): String =
    cols.map(c => java.util.Base64.getEncoder.encodeToString(c.getBytes("UTF-8")))
      .mkString(",")

  def decodeCols(s: String): Seq[String] =
    if (s == null || s.isEmpty) Seq.empty
    else s.split(",").toSeq.map(c => new String(java.util.Base64.getDecoder.decode(c), "UTF-8"))
}

/** Spark's parquet write support plus one file's stats accumulator:
  * every row is measured on its way to the writer, and `finalizeWrite`
  * hands the stats to the footer.
  */
private[etl] class StatsWriteSupport extends ParquetWriteSupport {
  private var columns: Array[ColumnStats] = Array.empty
  private var rows = 0L

  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    val schema = DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
      .asInstanceOf[StructType]
    val blooms = StatsParquetFileFormat.decodeCols(conf.get(StatsParquetFileFormat.BloomCols)).toSet
    columns = StatsParquetFileFormat.decodeCols(conf.get(StatsParquetFileFormat.StatsCols))
      .flatMap { c =>
        val i = schema.fieldNames.indexOf(c)
        if (i < 0) None else Some(new ColumnStats(c, i, schema(i).dataType, blooms.contains(c)))
      }
      .toArray
    ctx
  }

  override def write(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < columns.length) { columns(i).update(row); i += 1 }
    super.write(row)
  }

  override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
    val kv = new java.util.HashMap[String, String]()
    if (columns.nonEmpty && rows > 0) {
      val st = FileStats(
        columns.flatMap(c => c.bounds.map(c.name -> _)).toMap, rows,
        columns.map(c => c.name -> (rows - c.nonNull)).toMap,
        columns.flatMap(c => c.set.map(c.name -> _)).toMap)
      kv.put(FileStats.FooterKey,
        ManifestLake.renderStats(st.bounds, Some(st.rows), st.nullCounts, st.sets))
      columns.foreach(c => c.bloom.foreach(b =>
        kv.put(FileStats.FooterBloomPrefix + c.name, BloomBits.toBase64(b))))
    }
    new WriteSupport.FinalizedWriteContext(kv)
  }
}

/** One column's running stats over one file, with the semantics of the
  * per-file aggregate ANALYZE runs (`ManifestLake.collectStatsOver`):
  * bounds in Spark's ordering (NaN highest, strings in UTF-8 byte
  * order), rendered by Spark's cast to string; a null count; the
  * distinct values up to [[FileStats.SetCap]]; and the bloom bits of
  * each non-null value's rendering.
  */
private final class ColumnStats(val name: String, ordinal: Int, dt: DataType,
                                withBloom: Boolean) {
  private val bounded = FileStats.boundEligible(dt)
  private val ordering = if (bounded) PhysicalDataType.ordering(dt) else null
  private var lo: Any = null
  private var hi: Any = null
  // null once more than SetCap distinct values were seen
  private var distinct =
    if (FileStats.setEligible(dt)) new java.util.HashSet[Any]() else null
  private val bits =
    if (withBloom && FileStats.setEligible(dt)) new Array[Byte](BloomBits.DefaultBytes)
    else null
  private val castRow = new GenericInternalRow(1)
  private val cast = Cast(BoundReference(0, dt, nullable = false), StringType)
  var nonNull = 0L

  private def render(v: Any): String = v match {
    case s: UTF8String => s.toString
    case _ =>
      castRow.update(0, v)
      cast.eval(castRow).toString
  }

  // values read off a reused row buffer must be copied before they are kept
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case _ => v
  }

  def update(row: InternalRow): Unit =
    if (!row.isNullAt(ordinal)) {
      nonNull += 1
      if (bounded) {
        val v = row.get(ordinal, dt)
        if (lo == null || ordering.lt(v, lo)) lo = own(v)
        if (hi == null || ordering.gt(v, hi)) hi = own(v)
        if (distinct != null && !distinct.contains(v)) {
          if (distinct.size == FileStats.SetCap) distinct = null
          else distinct.add(own(v))
        }
        if (bits != null) BloomBits.add(bits, render(v))
      }
    }

  /** No bounds when every value was null. */
  def bounds: Option[(String, String)] =
    if (lo == null) None
    else Some((FileStats.normZero(dt, render(lo)), FileStats.normZero(dt, render(hi))))

  /** The sorted rendered values, when there are at most SetCap of them
    * and none is longer than MaxSetValueLen characters (an all-null
    * file records the empty set).
    */
  def set: Option[Seq[String]] =
    if (distinct == null) None
    else {
      val vs = distinct.asScala.toSeq.map(render).distinct.sorted
      if (vs.forall(s => s.codePointCount(0, s.length) <= FileStats.MaxSetValueLen)) Some(vs)
      else None
    }

  def bloom: Option[Array[Byte]] = Option(bits)
}
