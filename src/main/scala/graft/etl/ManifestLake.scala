package graft.etl

import java.io.IOException

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Manifest-committed lake — the OBJECT-STORE-NATIVE commit path that
  * [[Lake.compact]]/[[Lake.upsert]] deliberately do not provide (their
  * rename-swap contract holds on HDFS/ABFS-HNS/GCS; see the storage
  * contract at Lake.compact). On S3-class stores rename is copy+delete,
  * so this layout never moves a data file at all:
  *
  *   - data files are written ONCE, under a per-commit directory
  *     `data/v<N>/…` (hive-partitioned inside it), and stay there for
  *     their whole life;
  *   - a commit is the publication of ONE SMALL manifest file
  *     `_manifest/v<N>.list`: header lines carrying the TABLE SCHEMA
  *     and partition columns, then one `<bytes>\t<relpath>` line per
  *     live data file (sizes ride along so maintenance decisions never
  *     stat a file). Readers resolve the highest published version
  *     and read exactly those files: data written by a crashed or
  *     in-flight commit is INVISIBLE because no manifest names it;
  *   - the manifest itself is staged hidden and committed with a
  *     NO-OVERWRITE rename (`FileContext.rename` without
  *     `Options.Rename.OVERWRITE`). On HDFS the NameNode checks the
  *     destination server-side, so two committers racing to the same
  *     version produce exactly one winner and one typed
  *     `IllegalStateException` — a lost race is an explicit error,
  *     never a silent clobber. The renamed object is a KILOBYTE, so
  *     on S3-class stores it is an atomic per-object copy+delete:
  *     readers see either no v<N> manifest or a complete one, never a
  *     torn file. (Contrast: renaming DATA files copies gigabytes and
  *     has a real crash window — the exact asymmetry this layout
  *     exists to exploit.)
  *
  * Because the manifest records the schema, reads are ONE parquet scan
  * over the live file list — explicit schema, partition values derived
  * from the path and typed by the RECORDED schema, `basePath` at the
  * table root — regardless of how many commits produced those files. A
  * table fed by minute-cadence upserts accretes a commit dir per batch;
  * a per-commit union would grow the analyzer's plan (and the listing
  * job count) linearly with table age, a driver-side bottleneck no
  * executor count fixes. The single scan keeps plan size O(1) in commit
  * count, and typing partition values from the recorded schema (not
  * per-commit directory inference) means a v1 whose `lang=` dirs look
  * numeric and a v2 that adds an alphanumeric value read back
  * IDENTICALLY typed instead of one version's values silently casting
  * to null. Schema evolution is ADDITIVE-ONLY in place: an append or
  * upsert whose schema is a superset of the recorded one widens the
  * table header (old files read the new columns as typed nulls — a
  * manifest-header change, never a data rewrite); anything destructive
  * — a dropped or re-typed column, different partition columns — fails
  * loudly and requires a `replace`, never a silent cast.
  *
  * Failure contract: a crash ANYWHERE before manifest publication
  * leaves the table exactly at the previous version plus some
  * unreferenced files that [[vacuum]] later deletes. There is no
  * window where a reader can observe partial, duplicate, or missing
  * rows. Concurrency contract: SINGLE WRITER (same as Lake's
  * maintenance ops) — but the contract is CHECKED at the only point
  * two writers can collide: both compute the same next version, and
  * the no-overwrite publish makes the loser fail loudly with the
  * table still readable at every version. Vacuum shares the writer
  * lock (see [[vacuum]]).
  *
  * Scale notes: the manifest lists every live file — fine into the
  * low millions of files as a flat list (a 100-byte line per file);
  * beyond that, production formats shard manifests per partition and
  * commit a root pointer (Iceberg's manifest list). This
  * implementation keeps the single-level list and says so — the
  * COMMIT mechanics (immutable data + tiny atomic pointer) are the
  * deliverable, and they do not change under sharding. Old versions
  * stay readable until vacuumed (readVersion), which is what makes
  * concurrent long scans safe during compaction: a scan planned on
  * v(N) keeps reading v(N)'s files while v(N+1) publishes.
  */
/** A manifest declares `#requires <feature>` facts this reader does not
  * implement — reading would serve WRONG ROWS silently (required
  * features are visibility-bearing by contract), so every read path
  * refuses with this typed error instead. The fix is a library upgrade,
  * never a retry.
  */
final class UnsupportedTableFeatureException(
    val manifestPath: String, val features: Seq[String])
  extends UnsupportedOperationException(
    s"manifest $manifestPath requires table feature(s) " +
      s"${features.mkString(", ")} this reader does not implement " +
      s"(implemented: ${ManifestLake.SupportedReaderFeatures.toSeq.sorted.mkString(", ")}) — " +
      "reading would silently serve wrong rows; upgrade the library to a " +
      "version that implements the feature(s)")

object ManifestLake {

  private val ManifestDir = "_manifest"
  private val DataDir = "data"

  /** Header-fact keys of the opt-in write-time bin-packing knobs
    * (`graft.autoCompact.targetFileBytes` / `.minNumFiles` as
    * TBLPROPERTIES). */
  private val AcBytesKey = "autocompact.targetFileBytes"
  private val AcFilesKey = "autocompact.minNumFiles"
  private val DefaultAutoCompactMinFiles = 4

  /** Required table features THIS reader implements — the set
    * [[UnsupportedTableFeatureException]] gates `#requires` facts
    * against. Grows with the engine; never shrinks (a shipped feature
    * name is a format contract). Advisory directives never appear
    * here: unknown NON-required directives stay ignorable for forward
    * compatibility ([[readManifest]]).
    */
  private[graft] val SupportedReaderFeatures: Set[String] =
    Set("deletion-vectors")

  /** Hidden per-commit dir (`data/v<N>/_cdf/`) holding the row-level
    * change files an upsert stamps — pre/post images + inserts, the
    * Delta-CDC-shaped feed [[readChangeFeed]] serves. Underscore prefix
    * keeps the files invisible to the data scan, [[stagedFiles]], and
    * every generic parquet reader.
    */
  private val CdfDir = "_cdf"
  private val DvDir = "_dv"
  private def cdfDir(root: Path, v: Long): Path =
    new Path(root, f"$DataDir/v$v%06d/$CdfDir")

  /** Where commit `v` stamped its row-level change files: the
    * manifest-recorded `#cdf` path when present (stamped inside the
    * committer's own unique staging dir, so racing writers never share
    * a change-file location), else the legacy version-keyed
    * `data/v<N>/_cdf` of manifests written before the directive.
    */
  private def cdfPathOf(root: Path, v: Long, m: Manifest): Path =
    m.cdf.map(new Path(root, _)).getOrElse(cdfDir(root, v))

  /** Reserved change-feed metadata column names — a table column with
    * one of these names would collide with the feed's own output.
    */
  private val ChangeTypeCol = "_change_type"
  private val CommitVersionCol = "_commit_version"

  private[graft] def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Manifests publish GZIPPED (`v<N>.list.gz`) — the body is highly
    * compressible (repeated path prefixes, JSON stats keys), so a
    * million-file manifest shrinks ~10× and the head-read every query
    * plans against moves that much less over the wire. Still ONE object
    * and one atomic rename, so nothing about the commit protocol
    * changes. Readers accept BOTH extensions: tables written before
    * compression keep their plain `.list` manifests readable forever
    * (the version number is the identity; the extension is encoding).
    */
  private def manifestPath(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"v$v%06d.list.gz")

  private def legacyManifestPath(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"v$v%06d.list")

  /** The on-disk manifest for `v` under either encoding, or None. The
    * gz form wins when both exist (it is the one the current writer
    * publishes; a both-present state only arises from a mixed-version
    * writer history and the newer artifact is the newer truth).
    */
  private def existingManifestPath(fs: FileSystem, root: Path, v: Long): Option[Path] =
    Seq(manifestPath(root, v), legacyManifestPath(root, v)).find(fs.exists)

  /** Version number of a manifest file name under either encoding. */
  private def versionOf(name: String): Option[Long] =
    if (!name.startsWith("v")) None
    else if (name.endsWith(".list.gz"))
      name.stripPrefix("v").stripSuffix(".list.gz").toLongOption
    else if (name.endsWith(".list"))
      name.stripPrefix("v").stripSuffix(".list").toLongOption
    else None

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath.getName))
      .distinct.sorted
  }

  /** Highest published version, or None for a not-yet-created table. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val (fs, root) = fsFor(spark, path)
    listVersions(fs, root).maxOption
  }

  /** One live data file: root-relative path, size, and (optionally)
    * per-column [min, max] value stats. Sizes live IN the manifest so
    * maintenance decisions (compaction detection) read zero file
    * metadata — "the manifest IS the listing" has to include the one
    * attribute the decisions need, or every poll degenerates into a
    * per-file getFileStatus walk. Stats serve FILE-LEVEL DATA SKIPPING
    * at scan planning (see [[ManifestFileIndex]]): a filter on a
    * stats-carrying column prunes files whose range provably cannot
    * match, before any parquet footer is opened. Values are stored as
    * strings and cast back through the recorded schema; an absent
    * entry means "unknown — never skip", so stats are always
    * correctness-neutral.
    *
    * `rows` and `nullCounts` serve the NULL-predicate skips min/max
    * cannot answer: `IS NULL` prunes a file whose recorded null count
    * is 0, `IS NOT NULL` prunes one whose null count equals its row
    * count (an all-null file — exactly what PII-scrubbed or sparse
    * annotation columns produce at scale, and where `IS NOT NULL`
    * scans concentrate). Absent (pre-null-stats manifests) means
    * "unknown — never skip", same conservative stance as the bounds.
    */
  /** `dv`/`dvRows`: DELETION VECTOR — rows of this file marked deleted
    * WITHOUT rewriting it (the Delta deletion-vector analog, opted into
    * per delete call). `dv` names the commit-relative parquet dir whose
    * `(file_path, row_index)` rows mask this file; `dvRows` is this
    * file's masked-row count (logical rows = rows - dvRows). Absent on
    * files with no masked rows — the common case reads exactly as
    * before.
    */
  final case class LiveFile(bytes: Long, path: String,
                            stats: Map[String, (String, String)] = Map.empty,
                            rows: Option[Long] = None,
                            nullCounts: Map[String, Long] = Map.empty,
                            valueSets: Map[String, Seq[String]] = Map.empty,
                            dv: Option[String] = None,
                            dvRows: Option[Long] = None,
                            bloom: Option[String] = None)

  /** A parsed manifest: the table shape, the live file set, and the
    * per-writer transaction watermarks (`txns`: appId → highest
    * committed batchId, carried forward by every commit — the
    * exactly-once ledger for streaming sinks). The schema is absent
    * only for manifests written before the header existed — those read
    * through the legacy per-commit grouped path.
    */
  /** `colMap`: COLUMN MAPPING — the rename/drop-without-rewrite
    * indirection (Delta's column-mapping analog). `schema` always
    * records the PHYSICAL shape (the column names as written in the
    * parquet files — every internal path: scans, stats, skipping,
    * rewrites, operates on it unchanged). When `colMap` is present the
    * table's LOGICAL view is the ordered (logicalName → physicalName)
    * list: reads alias physical→logical at the public boundary, writes
    * rename batches logical→physical on entry, and a physical column
    * with no entry is DROPPED (invisible, still in the files).
    * `droppedPhys` records every physical name ever dropped so a
    * re-added logical column of the same name gets a FRESH physical
    * name instead of resurrecting old file data.
    */
  /** `chain`/`baseVersions`: DELTA-COMMIT bookkeeping on the RESOLVED
    * manifest. A full-snapshot (checkpoint) manifest has chain 0 and no
    * bases; a delta commit records only its own adds/removes and
    * resolves against version-(base) at read time — `chain` is its hop
    * count to the nearest full snapshot (bounded by
    * [[CheckpointInterval]]), `baseVersions` the exact manifest
    * versions its resolution consumed (what vacuum must retain for the
    * version to stay readable).
    */
  private[etl] final case class Manifest(schema: Option[StructType],
                                         partCols: Seq[String],
                                         files: Seq[LiveFile],
                                         txns: Map[String, Long] = Map.empty,
                                         op: Option[String] = None,
                                         cdf: Option[String] = None,
                                         constraints: Map[String, String] = Map.empty,
                                         colMap: Option[Seq[(String, String)]] = None,
                                         droppedPhys: Seq[String] = Seq.empty,
                                         bloomCols: Seq[String] = Seq.empty,
                                         generated: Seq[(String, String)] = Seq.empty,
                                         fieldMap: Seq[(String, String, String)] = Seq.empty,
                                         statsColsDefault: Seq[String] = Seq.empty,
                                         fieldDropped: Seq[(String, String)] = Seq.empty,
                                         ckptRef: Option[String] = None,
                                         chain: Int = 0,
                                         baseVersions: Seq[Long] = Seq.empty,
                                         defaults: Seq[(String, String)] = Seq.empty,
                                         identity: Option[(String, Long, Long, Long, Boolean)] = None,
                                         clusterCols: Seq[String] = Seq.empty,
                                         extras: Seq[(String, String)] = Seq.empty,
                                         requires: Seq[String] = Seq.empty)

  /** Published manifests are IMMUTABLE (a version is never rewritten —
    * restore publishes a NEW version), so parsed manifests cache across
    * reads: every query against a manifested table re-reads the head
    * manifest at planning, and at the flat-list ceiling (~1M lines,
    * ~10 MB gz) a cold parse costs seconds — paying it once per
    * (manifest, content) instead of once per query is the difference
    * between "big table plans like a small one" and a per-query tax.
    * The key carries the file's (mtime, length) so the one way content
    * CAN legitimately differ under the same path+version — a table
    * deleted and re-created from scratch — misses instead of serving
    * stale state (one getFileStatus RPC, vs re-reading megabytes). A
    * recreate that lands within the filesystem's mtime granularity
    * with a byte-identical length is the residual blind spot; local FS
    * checksums are unavailable to close it cheaply, and both versions
    * of such a manifest were published within the same clock tick —
    * documented, accepted. The cache is weighted by APPROXIMATE HEAP
    * BYTES, not line count: per-line footprint scales with how many
    * stats columns each file carries (a stats-heavy manifest line can
    * be 10x a bare one), so a line cap could pin multi-GB of LiveFile
    * objects while looking modest. Evicts oldest-access first;
    * [[Manifest]] is immutable, so sharing entries across threads is
    * sound.
    */
  private val manifestCacheMaxBytes = 256L << 20
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long, Long), (Manifest, Long)](16, 0.75f, true)
  private var manifestCacheBytes = 0L

  /** Drop every cached parsed manifest — measurement/spec hook only
    * (the DELTACHAIN fresh-reader cold-parse number needs a cache that
    * has never seen the chain); production never calls it.
    */
  private[graft] def clearManifestCache(): Unit = manifestCache.synchronized {
    manifestCache.clear(); manifestCacheBytes = 0L
  }

  /** Approximate retained-heap cost of a parsed manifest: string chars
    * at 2 bytes plus fixed per-object overheads for LiveFile, the path
    * String, and each stats map entry (key + 2-string tuple + map node
    * ≈ 96 bytes of headers/refs). Order-of-magnitude is all eviction
    * needs.
    */
  private def fileWeight(f: LiveFile): Long =
    64L + 2L * f.path.length + f.stats.foldLeft(0L) {
      case (a, (c, (lo, hi))) => a + 96L + 2L * (c.length + lo.length + hi.length)
    } + f.nullCounts.foldLeft(0L) { case (a, (c, _)) => a + 64L + 2L * c.length } +
      f.valueSets.foldLeft(0L) { case (a, (c, vs)) =>
        a + 96L + 2L * c.length + vs.foldLeft(0L)((b, v) => b + 48L + 2L * v.length)
      }

  private def manifestWeight(m: Manifest): Long =
    64L + weightOf(m.files)

  /** Sum of [[fileWeight]] over `fls`, in parallel above the same size
    * floor the render/parse paths use — a multi-million-entry fold is
    * seconds of single-thread map-walking at the envelope scale.
    */
  private def weightOf(fls: Seq[LiveFile]): Long = {
    if (fls.length < 100000) fls.foldLeft(0L)((a, f) => a + fileWeight(f))
    else {
      val arr = fls.toArray
      java.util.stream.IntStream.range(0, arr.length).parallel()
        .mapToLong(i => fileWeight(arr(i))).sum()
    }
  }

  /** `fls` path-sorted — parallel above the size floor (a 10M-entry
    * single-threaded `sortBy` was tens of seconds of the snapshot
    * publish wall). Paths are unique within a manifest, so stability
    * is moot; ordering matches `sortBy(_.path)` (String natural order).
    */
  private[etl] def sortedByPath(fls: Seq[LiveFile]): Seq[LiveFile] = {
    val arr = fls.toArray
    val cmp = new java.util.Comparator[LiveFile] {
      def compare(a: LiveFile, b: LiveFile): Int = a.path.compareTo(b.path)
    }
    if (arr.length < 100000) java.util.Arrays.sort(arr, cmp)
    else java.util.Arrays.parallelSort(arr, cmp)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  /** How many DELTA commits may chain before a publish writes a FULL
    * snapshot again (the checkpoint cadence — Delta Lake's default
    * checkpoint interval is the same number). Between checkpoints a
    * commit writes O(changed) bytes: its own adds, removes, and header
    * — not the live-file listing, whose rewrite-per-commit is what
    * turns an 800k-file table's manifest into tens of MB of driver I/O
    * on EVERY commit. `private[graft] var` only so specs can tighten
    * the cadence; production never reassigns it.
    */
  @volatile private[graft] var CheckpointInterval: Int = 10

  /** Above this live-file count a SNAPSHOT commit writes its file list
    * as SHARDED PARQUET under `_manifest/ckpt-v<N>-<tok>/` instead of
    * inline gz text lines: 16 shards write AND parse with driver-side
    * parallelism (gzip text is inherently serial both ways), bounding
    * the multi-million-file cold read, and the checkpoint doubles as a
    * DataFrame-readable file inventory (`spark.read.parquet(ckptDir)`)
    * for distributed maintenance tooling. The manifest gz keeps the
    * whole header plus ONE `#ckpt` directive — commit atomicity is
    * still the single no-overwrite manifest rename (shards land first;
    * a losing racer's orphaned shard dir is vacuum-reaped). Below the
    * threshold inline text wins (no extra files, no open overhead).
    * `private[graft] var` only so specs can lower it; production never
    * reassigns.
    */
  @volatile private[graft] var CheckpointShardThreshold: Int = 1000000
  private val CheckpointShards = 16

  private lazy val ckptSchema: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message ckpt {
        |  required int64 bytes;
        |  required binary path (UTF8);
        |  optional binary meta (UTF8);
        |}""".stripMargin)

  /** Write `filesSorted` as [[CheckpointShards]] parquet shards under
    * `_manifest/<rel>/`; returns (rel, shard count). `meta` carries the
    * SAME rendered stats blob the inline text format uses — one
    * serialization contract, two containers.
    */
  private def writeCheckpointShards(fs: FileSystem, root: Path, v: Long,
                                    filesSorted: Seq[LiveFile]): (String, Int) = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.example.data.simple.SimpleGroup
    val rel = f"ckpt-v$v%06d-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new Path(root, s"$ManifestDir/$rel")
    fs.mkdirs(dir)
    val arr = filesSorted.toArray
    val n = arr.length
    val nSh = math.min(CheckpointShards, math.max(1, n / 65536))
    val per = (n + nSh - 1) / nSh
    val conf = new org.apache.hadoop.conf.Configuration(fs.getConf)
    java.util.stream.IntStream.range(0, nSh).parallel().forEach { k =>
      val lo = k * per
      val hi = math.min(n, lo + per)
      val w = ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new Path(dir, f"shard-$k%03d.parquet"), conf))
        .withType(ckptSchema)
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
        .build()
      try {
        var i = lo
        while (i < hi) {
          val f = arr(i)
          val g = new SimpleGroup(ckptSchema)
          g.add("bytes", f.bytes)
          g.add("path", f.path)
          val meta =
            if (f.stats.isEmpty && f.rows.isEmpty && f.nullCounts.isEmpty &&
              f.valueSets.isEmpty && f.dv.isEmpty && f.bloom.isEmpty) null
            else renderStats(f.stats, f.rows, f.nullCounts, f.valueSets,
              f.dv, f.dvRows, f.bloom)
          if (meta != null) g.add("meta", meta)
          w.write(g)
          i += 1
        }
      } finally w.close()
    }
    (rel, nSh)
  }

  /** Load a sharded checkpoint's file list, shards in parallel, order
    * preserved (shards are contiguous slices of the path-sorted list).
    */
  private def readCheckpointShards(fs: FileSystem, manifestDir: Path,
                                   rel: String, nShards: Int): Seq[LiveFile] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val dir = new Path(manifestDir, rel)
    val conf = new org.apache.hadoop.conf.Configuration(fs.getConf)
    val out = new Array[Seq[LiveFile]](nShards)
    java.util.stream.IntStream.range(0, nShards).parallel().forEach { k =>
      val b = scala.collection.immutable.ArraySeq.newBuilder[LiveFile]
      val r = ParquetReader
        .builder(new GroupReadSupport(),
          new Path(dir, f"shard-$k%03d.parquet"))
        .withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          val bytes = g.getLong("bytes", 0)
          val path = g.getString("path", 0)
          val meta =
            if (g.getFieldRepetitionCount("meta") > 0) g.getString("meta", 0)
            else null
          b += (if (meta == null) LiveFile(bytes, path)
          else {
            val (bounds, rows, nulls, sets, dv, dvRows, bloom) = parseStats(meta)
            LiveFile(bytes, path, bounds, rows, nulls, sets, dv, dvRows, bloom)
          })
          g = r.read()
        }
      } finally r.close()
      out(k) = b.result()
    }
    out.toSeq.flatten
  }

  /** Parse version `v`'s manifest and RESOLVE it to the full live set.
    * Lines starting with `#` are directives (`#schema\t<StructType
    * json>`, `#partcols\tc1,c2`, `#txn\t<appId>\t<batchId>`); unknown
    * directives are ignored for forward compatibility. Data lines are
    * `<bytes>\t<relpath>`. A manifest carrying `#delta\t<base>\t<hops>`
    * is a DELTA COMMIT: its data lines are the files the commit ADDED
    * (or changed in place — a re-stats'd or newly-masked entry), its
    * `#remove\t<relpath>` lines the files it dropped, and the rest of
    * the live set comes from resolving version `base` — recursion
    * bounded by [[CheckpointInterval]] and served from the cache, so a
    * chain resolves each underlying manifest once per content, not
    * once per query. Headers are NOT deltas: every commit writes its
    * full (small) header, and resolution uses the delta's own header
    * verbatim.
    */
  private[graft] def readManifest(fs: FileSystem, root: Path, v: Long): Manifest =
    readManifestWeighted(fs, root, v)._1

  /** [[readManifest]] plus the manifest's cache weight — weights are
    * INCREMENTAL along a delta chain (base weight minus removed entries
    * plus adds), so only a checkpoint parse ever pays the O(live) fold;
    * every delta resolution and every [[publish]]-time cache insert
    * adjusts in O(changed).
    */
  private def readManifestWeighted(fs: FileSystem, root: Path,
                                   v: Long): (Manifest, Long) = {
    def keyOf(p: Path): (String, Long, Long) = {
      val st = fs.getFileStatus(p)
      (fs.makeQualified(p).toString, st.getModificationTime, st.getLen)
    }
    val p = existingManifestPath(fs, root, v).getOrElse(
      throw new java.io.FileNotFoundException(manifestPath(root, v).toString))
    val key = keyOf(p)
    manifestCache.synchronized(Option(manifestCache.get(key))) match {
      case Some(hit) => hit
      case None =>
        val (part, deltaRef, removes) = parseManifest(fs, p)
        val (m, w) = deltaRef match {
          case None => (part, manifestWeight(part))
          case Some((base0, hops)) =>
            // Resolve the WHOLE chain in one descent + one fused pass:
            // walk bases down to the first cached version or the
            // checkpoint, collecting each delta layer (adds, removes,
            // base) WITHOUT materializing intermediate versions — a
            // cold head read of a 5M-file table costs the checkpoint
            // parse plus ONE live-set copy, not one copy per hop.
            // An added entry REPLACES any base entry at the same path
            // (that is how an in-place change — new stats, a new DV
            // mask — rides a delta).
            var layers = List((part, removes, base0)) // top (v) first
            var baseVer = base0
            var resolvedBase: Option[(Manifest, Long)] = None
            var guard = 0
            while (resolvedBase.isEmpty) {
              guard += 1
              if (guard > CheckpointInterval + 2)
                throw new IllegalStateException(
                  s"delta chain under v$v exceeds the checkpoint cadence " +
                    s"($CheckpointInterval) — corrupt or foreign chain")
              val bp = existingManifestPath(fs, root, baseVer).getOrElse(
                throw new IllegalStateException(
                  s"delta manifest v$v references base manifest v$baseVer which " +
                    "is missing — the base was vacuumed or the manifest dir " +
                    "was partially copied; the version is unreadable"))
              val bkey = keyOf(bp)
              manifestCache.synchronized(Option(manifestCache.get(bkey))) match {
                case Some(hit) => resolvedBase = Some(hit)
                case None =>
                  val (bpart, bref, bremoves) = parseManifest(fs, bp)
                  bref match {
                    case None =>
                      val hit = (bpart, manifestWeight(bpart))
                      // cache the checkpoint too: it anchors every
                      // other version of this chain
                      cacheManifest(bkey, hit._1, hit._2)
                      resolvedBase = Some(hit)
                    case Some((bb, _)) =>
                      // deeper layers go at the END: `layers` stays
                      // top(v)-first, which the gone-above sweep needs
                      layers = layers :+ ((bpart, bremoves, bb))
                      baseVer = bb
                  }
              }
            }
            val (baseM, baseW) = resolvedBase.get
            // top-first sweep: a layer's adds survive unless a layer
            // ABOVE removed or replaced that path; then everything a
            // layer touched is gone for the layers below it
            var goneAbove = Set.empty[String]
            val surviving = layers.map { case (lp, lrm, _) =>
              val surv = lp.files.filterNot(f => goneAbove(f.path))
              goneAbove = goneAbove ++ lrm ++ lp.files.map(_.path)
              surv
            }
            val (kept, keptW) = keepExcept(baseM.files, goneAbove, baseW)
            // bottom-up concatenation reproduces the sequential
            // resolution order exactly: base survivors, then each
            // layer's surviving adds, oldest layer first
            val files = kept ++ surviving.reverse.flatten
            val addW = surviving.foldLeft(0L)((a, s) =>
              a + s.foldLeft(0L)((b, f) => b + fileWeight(f)))
            (part.copy(files = files, chain = hops,
              baseVersions = baseM.baseVersions ++ layers.map(_._3).reverse),
              keptW + addW)
        }
        cacheManifest(key, m, w)
        (m, w)
    }
  }

  /** `files` minus the entries whose path is in `gone`, adjusting
    * `baseWeight` down by the removed entries, with `adds` appended —
    * the O(live) leg of every per-delta-commit resolution, so it is
    * built as ONE parallel index scan (the per-path hash probe is the
    * whole cost at 10M entries; spreading it across cores cut the
    * measured per-commit cacheInsert ~2.5 s materially) plus arraycopy
    * splices — never a second whole-list copy for the append.
    */
  private def keepExcept(files: Seq[LiveFile], gone: Set[String],
                         baseWeight: Long,
                         adds: Seq[LiveFile] = Seq.empty): (Seq[LiveFile], Long) =
    if (gone.isEmpty && adds.isEmpty) (files, baseWeight)
    else {
      val arr: Array[LiveFile] = files match {
        case a: scala.collection.immutable.ArraySeq.ofRef[_]
          if a.unsafeArray.isInstanceOf[Array[LiveFile]] =>
          a.unsafeArray.asInstanceOf[Array[LiveFile]]
        case other => other.toArray
      }
      // IntStream keeps encounter order through parallel filter+toArray,
      // so the splice indices arrive ascending
      val idx: Array[Int] =
        if (gone.isEmpty) Array.empty
        else if (arr.length < 100000)
          (0 until arr.length).filter(i => gone(arr(i).path)).toArray
        else java.util.stream.IntStream.range(0, arr.length).parallel()
          .filter(i => gone(arr(i).path)).toArray
      var w = baseWeight
      idx.foreach(i => w -= fileWeight(arr(i)))
      val out = new Array[LiveFile](arr.length - idx.length + adds.length)
      var src = 0
      var dst = 0
      idx.foreach { i =>
        System.arraycopy(arr, src, out, dst, i - src)
        dst += i - src
        src = i + 1
      }
      System.arraycopy(arr, src, out, dst, arr.length - src)
      dst += arr.length - src
      adds.foreach { a => out(dst) = a; dst += 1 }
      (scala.collection.immutable.ArraySeq.unsafeWrapArray(out),
        w + weightOf(adds))
    }

  private def cacheManifest(key: (String, Long, Long), m: Manifest,
                            w: Long): Unit =
    manifestCache.synchronized {
      if (manifestCache.put(key, (m, w)) == null) manifestCacheBytes += w
      val it = manifestCache.entrySet().iterator()
      while (manifestCacheBytes > manifestCacheMaxBytes && manifestCache.size() > 1) {
        manifestCacheBytes -= it.next().getValue._2
        it.remove()
      }
    }

  /** One manifest FILE's content: the manifest with data lines as
    * `files` (for a delta: just the adds), the `#delta` (base, hops)
    * directive if present, and the `#remove` paths.
    */
  private def parseManifest(fs: FileSystem,
                            p: Path): (Manifest, Option[(Long, Int)], Seq[String]) = {
    val raw = fs.open(p)
    val in: java.io.InputStream =
      if (p.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw, 1 << 16)
      else raw
    // `bytes\tpath` or `bytes\tpath\t<stats json>` — JSON string
    // escaping keeps tabs/newlines inside values off the line.
    // (Batching all stat blobs into one JSON-array parse was tried
    // and measured SLOWER at the 1M-line ceiling: the concatenated
    // string + whole-file AST thrash the heap, while per-line parse
    // stays in the nursery. The cache above is what removes the
    // per-query cost; the cold parse is a once-per-content price —
    // and above a size floor the independent lines parse in PARALLEL,
    // which is what keeps a multi-million-line checkpoint's cold read
    // in single seconds instead of a minute of single-threaded JSON.)
    def parseLine(line: String): LiveFile =
      line.split("\t", 3) match {
        case Array(b, p) => LiveFile(b.toLong, p)
        case Array(b, p, statsJson) =>
          val (bounds, rows, nulls, sets, dv, dvRows, bloom) = parseStats(statsJson)
          LiveFile(b.toLong, p, bounds, rows, nulls, sets, dv, dvRows, bloom)
      }
    // BufferedReader.readLine, not scala.io.Source: Source's per-char
    // iterator costs multiple seconds extra on a 5M-line checkpoint.
    // Data lines parse in CHUNKS (parallel above the floor) so the raw
    // line strings of a 10M-line checkpoint — gigabytes of transient
    // String — never all coexist with the parsed entries; peak heap is
    // the live set plus one chunk.
    val (directives, files) = {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8),
        1 << 20)
      try {
        val dirs = List.newBuilder[String]
        val filesB = scala.collection.immutable.ArraySeq.newBuilder[LiveFile]
        val chunkCap = 1 << 19
        val buf = new Array[String](chunkCap)
        var n = 0
        def flush(): Unit = if (n > 0) {
          val out = new Array[LiveFile](n)
          if (n < 100000) {
            var i = 0
            while (i < n) { out(i) = parseLine(buf(i)); i += 1 }
          } else {
            val bound = n
            java.util.stream.IntStream.range(0, bound).parallel()
              .forEach(i => out(i) = parseLine(buf(i)))
          }
          filesB ++= scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
          n = 0
        }
        var line = br.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            if (line.charAt(0) == '#') dirs += line
            else { buf(n) = line; n += 1; if (n == chunkCap) flush() }
          }
          line = br.readLine()
        }
        flush()
        (dirs.result(), filesB.result(): Seq[LiveFile])
      } finally br.close()
    }
    val dmap = directives.map { d =>
      val i = d.indexOf('\t')
      if (i < 0) (d, "") else (d.substring(0, i), d.substring(i + 1))
    }.toMap
    val schema = dmap.get("#schema")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val partCols = dmap.get("#partcols")
      .map(s => if (s.isEmpty) Seq.empty[String] else s.split(",").toSeq)
      .getOrElse(Seq.empty)
    val txns = directives.filter(_.startsWith("#txn\t")).map { d =>
      val parts = d.split("\t")
      parts(1) -> parts(2).toLong
    }.toMap
    val op = dmap.get("#op").filter(_.nonEmpty)
    val cdf = dmap.get("#cdf").filter(_.nonEmpty)
    val constraints = directives.filter(_.startsWith("#constraint\t")).map { d =>
      val rest = d.substring("#constraint\t".length)
      val i = rest.indexOf('\t')
      rest.substring(0, i) -> rest.substring(i + 1)
    }.toMap
    // directive ORDER is the logical column order
    val colMapEntries = directives.filter(_.startsWith("#colmap\t")).map { d =>
      val parts = d.split("\t")
      parts(1) -> parts(2)
    }
    val dropped = directives.filter(_.startsWith("#coldropped\t"))
      .map(_.substring("#coldropped\t".length))
    val bloomCols = dmap.get("#bloomcols")
      .map(v => if (v.isEmpty) Seq.empty[String] else v.split(",").toSeq)
      .getOrElse(Seq.empty)
    // the table's DECLARED min/max stat columns (physical names) —
    // sticky across writes, like bloom tracking
    val statsColsDefault = dmap.get("#statscols")
      .map(v => if (v.isEmpty) Seq.empty[String] else v.split(",").toSeq)
      .getOrElse(Seq.empty)
    // declared CLUSTERING keys (physical names): bare OPTIMIZE lays
    // rewritten files out by these — Delta's liquid-clustering idiom
    val clusterCols = dmap.get("#clustercols")
      .map(v => if (v.isEmpty) Seq.empty[String] else v.split(",").toSeq)
      .getOrElse(Seq.empty)
    // open-ended key-value header facts (table/column comments today;
    // anything fact-shaped tomorrow rides the same carry-forward)
    val extras = directives.filter(_.startsWith("#extra\t")).map { d =>
      val rest = d.substring("#extra\t".length)
      val i = rest.indexOf('\t')
      rest.substring(0, i) -> rest.substring(i + 1)
    }
    val generated = directives.filter(_.startsWith("#gencol\t")).map { d =>
      val rest = d.substring("#gencol\t".length)
      val i = rest.indexOf('\t')
      rest.substring(0, i) -> rest.substring(i + 1)
    }
    // column DEFAULT values: (physical column, canonical literal SQL) —
    // materialized when an INSERT/MERGE column list omits the column
    val defaults = directives.filter(_.startsWith("#coldefault\t")).map { d =>
      val rest = d.substring("#coldefault\t".length)
      val i = rest.indexOf('\t')
      rest.substring(0, i) -> rest.substring(i + 1)
    }
    // GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY: (column, start,
    // step, watermark, byDefault) — watermark is the NEXT base value an
    // assigning write generates from; the optional 5th token marks
    // BY DEFAULT (absent on pre-existing manifests = ALWAYS)
    val identity = dmap.get("#identity").map { v =>
      val ps = v.split("\t")
      (ps(0), ps(1).toLong, ps(2).toLong, ps(3).toLong,
        ps.length > 4 && ps(4) == "bydefault")
    }
    // one-level nested-field renames: (physical root column,
    // logical field name, physical field name)
    val fieldMap = directives.filter(_.startsWith("#fieldmap\t")).map { d =>
      val parts = d.split("\t")
      (parts(1), parts(2), parts(3))
    }
    val fieldDropped = directives.filter(_.startsWith("#fielddropped\t")).map { d =>
      val parts = d.split("\t")
      (parts(1), parts(2))
    }
    val ckptRef = dmap.get("#ckpt").map(_.split("\t")(0))
    val filesAll: Seq[LiveFile] = dmap.get("#ckpt") match {
      case None => files
      case Some(spec) =>
        val sp = spec.split("\t")
        val loaded = readCheckpointShards(fs, p.getParent, sp(0), sp(1).toInt)
        require(loaded.length == sp(2).toInt,
          s"sharded checkpoint ${sp(0)} of $p is incomplete: expected " +
            s"${sp(2)} entries, loaded ${loaded.length}")
        require(files.isEmpty,
          s"manifest $p carries BOTH inline file lines and a #ckpt " +
            "directive — corrupt")
        loaded
    }
    val deltaRef = dmap.get("#delta").map { s =>
      val parts = s.split("\t")
      (parts(0).toLong, parts(1).toInt)
    }
    // READER FEATURE GATING: `#requires\t<feature>` marks a fact this
    // manifest depends on for CORRECT ROW VISIBILITY (deletion vectors
    // today; anything load-bearing tomorrow). Unlike advisory
    // directives — which unknown readers rightly ignore for forward
    // compatibility — an unrecognized REQUIRED feature must refuse
    // typed: an older reader silently ignoring a visibility-bearing
    // fact would serve wrong rows with no error anywhere. The gate
    // rides THIS chokepoint because every read path (batch scan,
    // streaming source, SQL, CDC, maintenance, and even writers
    // reading the previous version) resolves manifests here.
    val requiresSeq = directives.filter(_.startsWith("#requires\t"))
      .map(_.substring("#requires\t".length)).distinct
    val unknownReq = requiresSeq.filterNot(SupportedReaderFeatures.contains)
    if (unknownReq.nonEmpty)
      throw new UnsupportedTableFeatureException(p.toString, unknownReq)
    val removes = directives.filter(_.startsWith("#remove\t"))
      .map(_.substring("#remove\t".length))
    (Manifest(schema, partCols, filesAll, txns, op, cdf, constraints,
      if (colMapEntries.isEmpty) None else Some(colMapEntries), dropped,
      bloomCols, generated, fieldMap, statsColsDefault,
      fieldDropped, ckptRef, defaults = defaults, identity = identity,
      clusterCols = clusterCols, extras = extras, requires = requiresSeq),
      deltaRef, removes)
  }

  /** Stats blob: `{"col": ["lo","hi"], …, "#rows": n, "#nulls":
    * {"col": k, …}}`. The `#`-prefixed keys are reserved (a `#` column
    * name is rejected at collection); readers predating them ignored
    * unknown shapes via the collect, and this reader treats their
    * absence as unknown — both directions stay compatible.
    */
  private val statsJsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** Intern pool for stats-map KEYS (column names): every manifest line
    * re-parses the same handful of names, so a 10M-line checkpoint
    * would otherwise retain tens of millions of duplicate short
    * strings (~GB of heap and the GC wall that comes with it). Bounded
    * — names are schema columns, but a hostile file must not grow an
    * unbounded global — and values are NEVER interned (bounds/paths
    * are mostly unique; interning them would only bloat the pool).
    */
  private val statsNameIntern =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def internName(s: String): String =
    if (statsNameIntern.size() >= 10000) s
    else {
      val prev = statsNameIntern.putIfAbsent(s, s)
      if (prev == null) s else prev
    }

  /** Jackson STREAMING parse, not a json4s AST: the stats blob parses
    * once per manifest line, and at the 10M-line checkpoint envelope
    * the AST path (tree nodes + BigInt per integer) was the majority of
    * the cold-read wall. Unknown keys and unexpected shapes are skipped
    * — the same forward-compatibility the old collect-based reader had.
    */
  private def parseStats(json: String): (Map[String, (String, String)], Option[Long],
      Map[String, Long], Map[String, Seq[String]], Option[String], Option[Long],
      Option[String]) = {
    import com.fasterxml.jackson.core.JsonToken._
    val p = statsJsonFactory.createParser(json)
    try {
      if (p.nextToken() != START_OBJECT)
        return (Map.empty, None, Map.empty, Map.empty, None, None, None)
      var bounds = Map.empty[String, (String, String)]
      var rows: Option[Long] = None
      var nulls = Map.empty[String, Long]
      var sets = Map.empty[String, Seq[String]]
      var dv: Option[String] = None
      var dvRows: Option[Long] = None
      var bloom: Option[String] = None
      def skipValue(): Unit = {
        val t = p.currentToken()
        if (t == START_OBJECT || t == START_ARRAY) { p.skipChildren(); () }
      }
      var t = p.nextToken()
      while (t == FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        name match {
          case "#rows" =>
            if (p.currentToken() == VALUE_NUMBER_INT) rows = Some(p.getLongValue)
            else skipValue()
          case "#dv" =>
            if (p.currentToken() == VALUE_STRING) dv = Some(p.getText)
            else skipValue()
          case "#dvrows" =>
            if (p.currentToken() == VALUE_NUMBER_INT) dvRows = Some(p.getLongValue)
            else skipValue()
          case "#bloom" =>
            if (p.currentToken() == VALUE_STRING) bloom = Some(p.getText)
            else skipValue()
          case "#nulls" =>
            if (p.currentToken() == START_OBJECT) {
              var t2 = p.nextToken()
              while (t2 == FIELD_NAME) {
                val c = p.currentName()
                p.nextToken()
                if (p.currentToken() == VALUE_NUMBER_INT)
                  nulls = nulls.updated(internName(c), p.getLongValue)
                else skipValue()
                t2 = p.nextToken()
              }
            } else skipValue()
          case "#sets" =>
            if (p.currentToken() == START_OBJECT) {
              var t2 = p.nextToken()
              while (t2 == FIELD_NAME) {
                val c = p.currentName()
                p.nextToken()
                if (p.currentToken() == START_ARRAY) {
                  val vs = Seq.newBuilder[String]
                  var ok = true
                  var t3 = p.nextToken()
                  while (t3 != END_ARRAY) {
                    if (t3 == VALUE_STRING) vs += p.getText
                    else { ok = false; skipValue() }
                    t3 = p.nextToken()
                  }
                  if (ok) sets = sets.updated(internName(c), vs.result())
                } else skipValue()
                t2 = p.nextToken()
              }
            } else skipValue()
          case c =>
            // a column bounds entry: exactly ["lo","hi"]; anything else
            // (a future shape, a '#'-reserved key) is skipped unread
            if (!c.startsWith("#") && p.currentToken() == START_ARRAY) {
              var lo: String = null
              var hi: String = null
              var extra = false
              var t3 = p.nextToken()
              while (t3 != END_ARRAY) {
                if (t3 == VALUE_STRING) {
                  if (lo == null) lo = p.getText
                  else if (hi == null) hi = p.getText
                  else extra = true
                } else { extra = true; skipValue() }
                t3 = p.nextToken()
              }
              if (lo != null && hi != null && !extra)
                bounds = bounds.updated(internName(c), (lo, hi))
            } else skipValue()
        }
        t = p.nextToken()
      }
      (bounds, rows, nulls, sets, dv, dvRows, bloom)
      // malformed JSON throws (JacksonException) — deliberately: a
      // corrupt stats blob must be LOUD, because silently dropping a
      // #dv reference would resurrect deleted rows
    } finally p.close()
  }

  /** JSON-escape `s` into `sb` per RFC 8259 (quote, backslash, and
    * control chars — all a stats value can legally force).
    */
  private def appendJsonString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"') sb.append("\\\"")
      else if (c == '\\') sb.append("\\\\")
      else if (c == '\b') sb.append("\\b")
      else if (c == '\f') sb.append("\\f")
      else if (c == '\n') sb.append("\\n")
      else if (c == '\r') sb.append("\\r")
      else if (c == '\t') sb.append("\\t")
      else if (c < 0x20) sb.append(f"\\u${c.toInt}%04x")
      else sb.append(c)
      i += 1
    }
    sb.append('"'): Unit
  }

  /** Direct StringBuilder render, not a json4s AST: this runs once per
    * manifest line, and at the 10M-line checkpoint envelope the
    * AST-build + mapper-render path WAS the snapshot-write wall
    * (measured 54s of 60s). Same compact wire format, keys sorted.
    */
  private def renderStats(stats: Map[String, (String, String)],
                          rows: Option[Long],
                          nullCounts: Map[String, Long],
                          valueSets: Map[String, Seq[String]],
                          dv: Option[String] = None,
                          dvRows: Option[Long] = None,
                          bloom: Option[String] = None): String = {
    val sb = new java.lang.StringBuilder(96)
    sb.append('{')
    var first = true
    def key(k: String): Unit = {
      if (first) first = false else sb.append(',')
      appendJsonString(sb, k)
      sb.append(':'): Unit
    }
    stats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
      key(c)
      sb.append('[')
      appendJsonString(sb, lo)
      sb.append(',')
      appendJsonString(sb, hi)
      sb.append(']')
    }
    rows.foreach { n => key("#rows"); sb.append(n) }
    if (nullCounts.nonEmpty) {
      key("#nulls")
      sb.append('{')
      var f2 = true
      nullCounts.toSeq.sortBy(_._1).foreach { case (c, n) =>
        if (f2) f2 = false else sb.append(',')
        appendJsonString(sb, c)
        sb.append(':')
        sb.append(n)
      }
      sb.append('}')
    }
    if (valueSets.nonEmpty) {
      key("#sets")
      sb.append('{')
      var f2 = true
      valueSets.toSeq.sortBy(_._1).foreach { case (c, vs) =>
        if (f2) f2 = false else sb.append(',')
        appendJsonString(sb, c)
        sb.append(":[")
        var f3 = true
        vs.foreach { s =>
          if (f3) f3 = false else sb.append(',')
          appendJsonString(sb, s)
        }
        sb.append(']')
      }
      sb.append('}')
    }
    dv.foreach { s => key("#dv"); appendJsonString(sb, s) }
    dvRows.foreach { n => key("#dvrows"); sb.append(n) }
    bloom.foreach { s => key("#bloom"); appendJsonString(sb, s) }
    sb.append('}')
    sb.toString
  }

  /** Hive-style partition columns derived from manifest file PATHS: the
    * `name=value` directory segments between the per-commit dir
    * (`data/vNNNNNN`) and the file name. The one ground truth a
    * headerless legacy manifest has about its partitioning — directory
    * layout IS the partitioning for hive-laid tables. Files must agree
    * (a table whose files disagree on partition columns was never
    * readable under one schema); disagreement is a loud failure, not a
    * guess.
    */
  private[etl] def hivePartColsOf(relPaths: Seq[String]): Seq[String] = {
    val perFile = relPaths.map { rel =>
      rel.split("/").dropRight(1)
        .dropWhile(!_.contains("=")).takeWhile(_.contains("="))
        .map(seg => seg.substring(0, seg.indexOf('='))).toSeq
    }.distinct
    require(perFile.size <= 1,
      s"manifest files disagree on hive partition layout: " +
        perFile.map(_.mkString("/")).mkString(" vs ") +
        " — the table cannot be read under one partitioning")
    perFile.headOption.getOrElse(Seq.empty)
  }

  /** The head manifest's recorded partition columns — or, for a legacy
    * HEADERLESS manifest, the partitioning derived from its files' hive
    * directory layout ([[hivePartColsOf]]). Lets an unadorned
    * `mode("append")` through the data source inherit the table's
    * partitioning instead of restating it — including on legacy tables,
    * where inheriting Seq.empty would stamp an unpartitioned header
    * over hive-partitioned carried files and silently null their
    * partition column on read. None only when the table doesn't exist.
    */
  private[graft] def recordedPartitionCols(spark: SparkSession,
                                           path: String): Option[Seq[String]] = {
    val (fs, root) = fsFor(spark, path)
    currentVersion(spark, path).map { v =>
      val m = readManifest(fs, root, v)
      if (m.schema.isDefined) m.partCols
      else hivePartColsOf(m.files.map(_.path))
    }
  }

  /** The highest batchId `appId` has committed to the table, or None.
    * The exactly-once contract for idempotent writers: check before
    * committing, or pass `txn` to [[write]]/[[upsert]] and let them
    * skip replays atomically.
    */
  def lastCommitted(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val (fs, root) = fsFor(spark, path)
    currentVersion(spark, path)
      .flatMap(v => readManifest(fs, root, v).txns.get(appId))
  }

  /** Publish `files` (+ the table shape) as version `v`: stage hidden,
    * then commit with an ATOMIC fail-if-exists install — on HDFS-class
    * stores a `FileContext.rename` without `Options.Rename.OVERWRITE`
    * (the NameNode checks the destination server-side), on local FS a
    * hard link (`link(2)` fails EEXIST atomically in the kernel; the
    * local AbstractFileSystem's "no-overwrite" rename is only
    * check-then-rename and POSIX rename replaces). Either way the
    * committer that loses a same-version race gets a typed
    * `IllegalStateException` instead of silently clobbering the winner
    * — this is what turns the single-writer contract from prose into a
    * checked invariant.
    */
  private[graft] def publish(fs: FileSystem, root: Path, v: Long, files: Seq[LiveFile],
                           schema: Option[StructType], partCols: Seq[String],
                           txns: Map[String, Long] = Map.empty,
                           op: Option[String] = None,
                           cdf: Option[String] = None,
                           constraints: Map[String, String] = Map.empty,
                           colMap: Option[Seq[(String, String)]] = None,
                           droppedPhys: Seq[String] = Seq.empty,
                           bloomCols: Seq[String] = Seq.empty,
                           generated: Seq[(String, String)] = Seq.empty,
                           fieldMap: Seq[(String, String, String)] = Seq.empty,
                           statsColsDefault: Seq[String] = Seq.empty,
                           fieldDropped: Seq[(String, String)] = Seq.empty,
                           deltaHint: Option[(Seq[LiveFile], Seq[String])] = None,
                           defaults: Seq[(String, String)] = Seq.empty,
                           identity: Option[(String, Long, Long, Long, Boolean)] = None,
                           clusterCols: Seq[String] = Seq.empty,
                           extras: Seq[(String, String)] = Seq.empty,
                           requires: Seq[String] = Seq.empty,
                           dropRequires: Seq[String] = Seq.empty,
                           forceSnapshot: Boolean = false): Unit = {
    // the header is a tab/newline/comma-delimited text format — reject
    // values that would corrupt it at COMMIT time, not at the next read
    txns.keys.foreach(app => require(!app.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"txn appId must not contain tabs or newlines: ${app.replaceAll("\\s", "·")}"))
    constraints.foreach { case (n, e) =>
      require(n.nonEmpty && !n.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"constraint name must be non-empty with no tabs or newlines: $n")
      require(!e.exists(c => c == '\n' || c == '\r'),
        s"constraint expression must not contain newlines: $n")
    }
    extras.foreach { case (k, value) =>
      require(k.nonEmpty && !k.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"header fact key must be non-empty with no tabs or newlines: $k")
      require(!value.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"header fact $k must not contain tabs or newlines")
    }
    colMap.foreach(_.foreach { case (l, p) =>
      require(l.nonEmpty && p.nonEmpty &&
        !(l + p).exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"column-mapping names must be non-empty with no tabs or newlines: $l -> $p")
    })
    defaults.foreach { case (n, e) =>
      require(n.nonEmpty && !n.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"default-column name must be non-empty with no tabs or newlines: $n")
      require(!e.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"default expression must not contain tabs or newlines: $n")
    }
    partCols.foreach(c => require(!c.exists(ch => ch == ',' || ch == '\t' || ch == '\n' || ch == '\r'),
      s"partition column name must not contain ',' or whitespace control chars: $c"))
    val dir = new Path(root, ManifestDir)
    fs.mkdirs(dir)
    // the hidden stage is unique PER PUBLISHER: two optimistic
    // committers racing to the same version must collide at the
    // no-overwrite rename (the arbitration point), not while both are
    // writing one shared tmp file
    val tmp = new Path(dir,
      f".tmp-v$v%06d-${java.util.UUID.randomUUID().toString.take(8)}.list.gz")
    def mkHeader(reqEff: Seq[String]): Seq[String] = schema.toSeq.flatMap(s =>
      Seq(s"#schema\t${s.json}", s"#partcols\t${partCols.mkString(",")}")) ++
      reqEff.sorted.map(f => s"#requires\t$f") ++
      op.map(o => s"#op\t$o").toSeq ++
      cdf.map(c => s"#cdf\t$c").toSeq ++
      constraints.toSeq.sortBy(_._1).map { case (n, e) => s"#constraint\t$n\t$e" } ++
      colMap.toSeq.flatten.map { case (l, p) => s"#colmap\t$l\t$p" } ++
      droppedPhys.map(p => s"#coldropped\t$p") ++
      (if (bloomCols.isEmpty) Nil else Seq(s"#bloomcols\t${bloomCols.mkString(",")}")) ++
      (if (statsColsDefault.isEmpty) Nil
       else Seq(s"#statscols\t${statsColsDefault.mkString(",")}")) ++
      (if (clusterCols.isEmpty) Nil
       else Seq(s"#clustercols\t${clusterCols.mkString(",")}")) ++
      extras.map { case (k, value) => s"#extra\t$k\t$value" } ++
      generated.map { case (n, e) => s"#gencol\t$n\t$e" } ++
      defaults.map { case (n, e) => s"#coldefault\t$n\t$e" } ++
      identity.map { case (n, st, sp, wm, bd) =>
        s"#identity\t$n\t$st\t$sp\t$wm" + (if (bd) "\tbydefault" else "") }.toSeq ++
      fieldMap.map { case (c, l, ph) => s"#fieldmap\t$c\t$l\t$ph" } ++
      fieldDropped.map { case (c, pp) => s"#fielddropped\t$c\t$pp" } ++
      txns.toSeq.sortBy(_._1).map { case (app, b) => s"#txn\t$app\t$b" }
    def fileLine(f: LiveFile): String =
      if (f.stats.isEmpty && f.rows.isEmpty && f.nullCounts.isEmpty &&
        f.valueSets.isEmpty && f.dv.isEmpty && f.bloom.isEmpty)
        s"${f.bytes}\t${f.path}"
      else s"${f.bytes}\t${f.path}\t${renderStats(f.stats, f.rows, f.nullCounts, f.valueSets, f.dv, f.dvRows, f.bloom)}"
    // DELTA COMMIT: when the previous version resolves and the chain
    // has room before the next checkpoint, record only this commit's
    // adds (including in-place entry changes — new stats, a new DV
    // mask) and removes. An 800k-file table's append then writes KB,
    // not the tens-of-MB live listing; the full snapshot re-amortizes
    // every CheckpointInterval commits (and whenever the delta would
    // not actually be smaller — a replace naturally snapshots). The
    // header is always written in full: it is small and keeping it
    // whole means resolution never merges table-shape state.
    val timing = sys.env.contains("GRAFT_PUBLISH_TIMING")
    var tMark = System.nanoTime()
    def mark(label: String): Unit = if (timing) {
      val now = System.nanoTime()
      println(f"PUBLISH_TIMING v$v $label ${(now - tMark) / 1e9}%.3fs")
      tMark = now
    }
    val prevMW: Option[(Manifest, Long)] =
      if (v <= 1) None
      else try Some(readManifestWeighted(fs, root, v - 1))
      catch {
        case _: java.io.FileNotFoundException => None
        case _: IllegalStateException => None // broken base chain: snapshot
      }
    val prevM: Option[Manifest] = prevMW.map(_._1)
    // required features are STICKY (monotone per table path): inherited
    // from the previous version, unioned with the caller's and with
    // facts this commit itself introduces — no commit path can silently
    // drop one (a publish that forgot to carry it would re-expose the
    // silent-wrong-rows hazard the gate exists for). Deletion vectors
    // auto-stamp: the one current fact whose silent ignorance changes
    // row visibility.
    // dropRequires (the DROP FEATURE verb) subtracts AFTER the
    // inherited union but BEFORE the auto-stamp: a drop can never
    // outrun the evidence — files still carrying DV masks re-stamp the
    // fact no matter what the caller asked
    val reqEff = ((prevM.toSeq.flatMap(_.requires) ++ requires)
      .filterNot(dropRequires.contains) ++
      (if (files.exists(_.dv.nonEmpty)) Seq("deletion-vectors") else Nil))
      .distinct
    reqEff.foreach(f => require(f.nonEmpty &&
      !f.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"required-feature name must be non-empty with no tabs or newlines: $f"))
    val header = mkHeader(reqEff)
    mark("readPrev")
    val delta: Option[(Seq[LiveFile], Seq[String], Int)] = prevM.flatMap { pm =>
      // forceSnapshot: a DELTA would keep resolving through chain BASES
      // whose own headers this commit exists to retire (DROP FEATURE:
      // an old reader walking the chain would refuse on the stamped
      // base and never see the drop) — write self-contained instead
      if (forceSnapshot || pm.chain + 1 >= CheckpointInterval) None
      else deltaHint match {
        // EXPLICIT HINT: the committer states its own adds/removes —
        // every committing path constructs `files` as
        // `carried.filterNot(removed) ++ staged`, so the delta is known
        // EXACTLY at the source and the O(live) diff below (two
        // live-set-sized hash structures per commit — the whole
        // per-commit wall at the 5M-file shape) is skipped. The hint is
        // an internal contract (publish is private[graft]); the delta
        // spec pins hint-resolution equality against the no-hint diff.
        case Some((adds, removes)) =>
          if (adds.length + removes.length < files.length)
            Some((adds, removes, pm.chain + 1))
          else None
        // metadata-only commits (constraints, column mapping, widen
        // without stats change, gencol on an empty table) pass the read
        // manifest's files Seq ITSELF — whole-collection reference
        // equality proves an empty delta without touching an entry
        case None if pm.files eq files =>
          Some((Seq.empty, Seq.empty, pm.chain + 1))
        case None =>
          // reference-equality fast path: carried-by-reference entries
          // are the SAME objects the caller took from the read manifest,
          // so the common unchanged case never pays the full case-class
          // compare (whose stats-map equality dominated an 800k-file
          // delta diff at ~3s; with the fast path the diff is sub-second)
          val prevByPath = new java.util.HashMap[String, LiveFile](pm.files.length * 2)
          pm.files.foreach(f => prevByPath.put(f.path, f))
          val newPaths = new java.util.HashSet[String](files.length * 2)
          files.foreach(f => newPaths.add(f.path))
          val adds = files.filterNot { f =>
            val p = prevByPath.get(f.path)
            (p ne null) && ((p eq f) || p == f)
          }
          val removes = pm.files.collect {
            case f if !newPaths.contains(f.path) => f.path
          }
          if (adds.length + removes.length < files.length)
            Some((adds, removes, pm.chain + 1))
          else None
      }
    }
    mark("diff")
    // Render entry lines IN PARALLEL above a size floor (per-entry
    // stats-JSON rendering dominates a multi-million-line checkpoint;
    // the lines are independent), then STREAM them through the gzip
    // sink — a 5M-file snapshot must not materialize a 50MB+ body
    // string on top of its line array. gzip itself is inherently
    // serial; the render is what parallelism can reclaim.
    def renderLines(fls: Seq[LiveFile]): Array[String] = {
      val arr = fls.toArray
      val out = new Array[String](arr.length)
      if (arr.length < 100000) {
        var i = 0
        while (i < arr.length) { out(i) = fileLine(arr(i)); i += 1 }
      } else
        java.util.stream.IntStream.range(0, arr.length).parallel()
          .forEach(i => out(i) = fileLine(arr(i)))
      out
    }
    // path-sorted ONCE (parallel above the floor) — the render AND the
    // publish-time cache insert below both need the sorted view; a
    // second multi-million-entry sort was measurable at the 10M envelope
    lazy val filesSorted = sortedByPath(files)
    var ckptRefOut: Option[String] = None
    val bodyLines: Iterator[String] = delta match {
      case Some((adds, removes, hops)) =>
        header.iterator ++ Iterator(s"#delta\t${v - 1}\t$hops") ++
          removes.sorted.iterator.map(r => s"#remove\t$r") ++
          renderLines(sortedByPath(adds)).iterator
      case None if files.length >= CheckpointShardThreshold =>
        // PB-shape snapshot: the file list goes to sharded parquet
        // (parallel write now, parallel parse on every cold read, and
        // a distributed-readable inventory); the manifest gz carries
        // the header + the pointer. Shards land BEFORE the atomic
        // manifest rename — a losing racer leaves an orphan dir that
        // vacuum reaps after the grace window.
        val sorted = filesSorted
        mark("sort")
        val (rel, nSh) = writeCheckpointShards(fs, root, v, sorted)
        ckptRefOut = Some(rel)
        mark("shards")
        header.iterator ++ Iterator(s"#ckpt\t$rel\t$nSh\t${sorted.length}")
      case None =>
        val sorted = filesSorted
        mark("sort")
        val lines = renderLines(sorted)
        header.iterator ++ lines.iterator
    }
    mark("render")
    // BEST_SPEED deflate: the manifest is read hot and written on every
    // commit — a multi-MB checkpoint deflates ~3x faster at level 1 for
    // ~15% more bytes, the right trade for a once-per-cadence artifact
    // (deltas are sub-KB either way)
    val out = new java.io.BufferedOutputStream(
      new java.util.zip.GZIPOutputStream(fs.create(tmp, true), 1 << 16) {
        `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
      }, 1 << 20)
    try {
      bodyLines.foreach { l =>
        out.write(l.getBytes("UTF-8")); out.write('\n')
      }
    } finally out.close()
    mark("write")
    // a PLAIN-extension manifest for this version (older library
    // version racing, or a partially-migrated table) means the version
    // is taken — the no-overwrite rename only guards the gz name, so
    // check the legacy name explicitly before committing
    if (fs.exists(legacyManifestPath(root, v))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest version $v already published at ${legacyManifestPath(root, v)} — " +
          "lost a commit race (this layout is single-writer; serialize " +
          "committers). The table is intact at the winner's version.")
    }
    val target = manifestPath(root, v)
    try {
      if ("file" == fs.getScheme) {
        // LOCAL FS: AbstractFileSystem's no-overwrite rename is
        // check-then-rename over POSIX rename(2) — which silently
        // REPLACES an existing destination — and the crc sidecar
        // renames in a separate step, so two same-version racers in
        // the check window can interleave a mismatched (manifest, crc)
        // pair at the target: observed as a flaky ChecksumException
        // under racing appenders. link(2) fails with EEXIST atomically
        // in the kernel, so hard-link the stage into place and unlink
        // it: exactly one racer's link lands, cross-process included.
        // The target carries no crc sidecar (the stage's dies with the
        // stage), which ChecksumFileSystem reads as verification-skipped.
        val src = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
        val dst = java.nio.file.Paths.get(fs.makeQualified(target).toUri)
        try java.nio.file.Files.createLink(dst, src)
        catch {
          // 'file'-scheme mounts WITHOUT hard-link support (network/
          // FUSE/FAT) surface UnsupportedOperationException or an
          // EPERM-style FileSystemException — neither is the IOException
          // the race handler below maps, so they would abort publish and
          // leak the stage; fall back to the FileContext no-overwrite
          // rename (FileAlreadyExistsException — a real lost race — is
          // excluded and still reaches the race handler)
          case e @ (_: UnsupportedOperationException |
                    _: java.nio.file.FileSystemException)
              if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
            val fc = FileContext.getFileContext(fs.getUri, fs.getConf)
            fc.rename(fs.makeQualified(tmp), fs.makeQualified(target))
        }
        fs.delete(tmp, false)
      } else try {
        val fc = FileContext.getFileContext(fs.getUri, fs.getConf)
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(target))
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // stores that register only a FileSystem impl (no
          // AbstractFileSystem binding — some object-store connectors)
          // can't do the server-checked no-overwrite rename; fall back
          // to check-then-rename. The race window is the check-to-
          // rename gap instead of zero — still a loud failure in every
          // observable interleaving, and strictly no worse than the
          // pre-FileContext behavior on those stores.
          if (fs.exists(target))
            throw new java.nio.file.FileAlreadyExistsException(target.toString)
          if (!fs.rename(tmp, target)) {
            if (fs.exists(target))
              throw new java.nio.file.FileAlreadyExistsException(target.toString)
            throw new IOException(s"manifest rename failed: $tmp -> $target")
          }
      }
    } catch {
      case e: IOException =>
        fs.delete(tmp, false)
        if (fs.exists(target))
          throw new IllegalStateException(
            s"manifest version $v already published at $target — lost a " +
              "commit race (this layout is single-writer; serialize " +
              "committers). The table is intact at the winner's version.", e)
        else throw e
    }
    // the pre-rename legacy check is check-then-rename: a mixed-version
    // writer publishing the PLAIN extension in the gap leaves BOTH
    // encodings on disk, and readers prefer the gz even though the
    // plain manifest committed first — the commit-order winner would
    // silently lose. Re-check after the rename and withdraw the gz
    // loudly, so a both-present state never survives the race.
    if (fs.exists(legacyManifestPath(root, v))) {
      fs.delete(target, false)
      throw new IllegalStateException(
        s"manifest version $v was concurrently published at " +
          s"${legacyManifestPath(root, v)} (plain extension) — lost a commit " +
          "race with a mixed-version writer (this layout is single-writer; " +
          "serialize committers). The gz manifest was withdrawn; the table " +
          "is intact at the winner's version.")
    }
    // CACHE WHAT WAS JUST PUBLISHED: the next commit's readManifest(v)
    // — and every query planned before another commit lands — would
    // otherwise re-parse (for a checkpoint, re-parse 10s of MB; the
    // first delta after a 5M-file snapshot measured a 160s cliff). The
    // resolved live set is in hand; construct it in EXACTLY the order a
    // re-parse would produce (snapshot: path-sorted; delta: base minus
    // gone, adds path-sorted appended) so cached and re-parsed views
    // are indistinguishable. Manifests are immutable and the rename
    // just won this version, so the entry can never be stale.
    // Best-effort: the publish has LANDED — a cache hiccup must not
    // unland it.
    try {
      val (resolvedFiles, w) = delta match {
        case Some((adds, removes, _)) =>
          val addsSorted = sortedByPath(adds)
          val gone = removes.toSet ++ adds.map(_.path)
          keepExcept(prevM.get.files, gone, prevMW.get._2, addsSorted)
        case None =>
          (filesSorted, 64L + weightOf(filesSorted))
      }
      val resolved = Manifest(schema, partCols, resolvedFiles, txns, op, cdf,
        constraints, colMap.filter(_.nonEmpty), droppedPhys, bloomCols, generated,
        fieldMap, statsColsDefault, fieldDropped, ckptRefOut,
        defaults = defaults, identity = identity, clusterCols = clusterCols,
        extras = extras, requires = reqEff,
        chain = delta.map(_._3).getOrElse(0),
        baseVersions =
          delta.map(_ => prevM.get.baseVersions :+ (v - 1)).getOrElse(Seq.empty))
      val st = fs.getFileStatus(target)
      val key = (fs.makeQualified(target).toString, st.getModificationTime, st.getLen)
      cacheManifest(key, resolved, w)
      mark("cacheInsert")
    } catch { case _: Throwable => () }
  }

  /** Terminal arm of every optimistic-retry loop: after the bounded
    * retries each re-validated conflict-free yet still lost the version
    * race, the failure is CONTENTION, not a single-writer violation —
    * name it as such (the raw publish error's "serialize committers"
    * message would mislead) and withdraw the staged dirs the way the
    * genuine-conflict branches already do.
    */
  private def retriesExhausted(fs: FileSystem, op: String, path: String,
                               stages: Seq[Path], e: Throwable): Nothing = {
    stages.foreach(fs.delete(_, true))
    throw new IllegalStateException(
      s"$op on $path exhausted its optimistic commit retries under sustained " +
        "contention — every retry re-validated as conflict-free but lost the " +
        "version race; the staged commit was withdrawn and the table is " +
        "intact at the winner's version. Back off and re-run.", e)
  }

  private def withFileStats(f: LiveFile, s: Option[FileStats],
                            bloomRef: Option[String] = None): LiveFile =
    s match {
      case Some(st) => f.copy(stats = st.bounds, rows = Some(st.rows),
        nullCounts = st.nullCounts, valueSets = st.sets,
        bloom = bloomRef.filter(_ => st.blooms.nonEmpty))
      case None => f
    }

  /** The stats+bloom staging step every committing path shares: one
    * aggregation pass over the staged commit, the bloom sidecar written
    * from its results, every staged entry annotated.
    */
  private def stageStats(spark: SparkSession, fs: FileSystem, root: Path,
                         commitDir: Path, schema: StructType,
                         statsCols: Seq[String], bloomCols: Seq[String],
                         partitionCols: Seq[String],
                         staged: Seq[LiveFile]): Seq[LiveFile] =
    if ((statsCols.isEmpty && bloomCols.isEmpty) || staged.isEmpty) staged
    else {
      val byRel = collectStats(spark, fs, root, commitDir, schema,
        statsCols, partitionCols, bloomCols)
      val sidecar = writeBloomSidecar(fs, root, commitDir, byRel)
      staged.map(f => withFileStats(f, byRel.get(f.path), sidecar))
    }

  /** All parquet files under a per-commit data dir, root-relative, with
    * sizes straight off the listing (no extra RPCs). Files under
    * `_`/`.`-prefixed subdirectories (e.g. the `_cdf` change files an
    * upsert stamps) are NOT data files and never enter the live set —
    * the same hidden-path convention Spark's own listing applies.
    */
  private def stagedFiles(fs: FileSystem, root: Path, commitDir: Path): Seq[LiveFile] = {
    val rootQ = fs.makeQualified(root).toString
    val it = fs.listFiles(commitDir, true)
    val out = Seq.newBuilder[LiveFile]
    while (it.hasNext) {
      val f = it.next()
      val rel = fs.makeQualified(f.getPath).toString.stripPrefix(rootQ).stripPrefix("/")
      val hidden = rel.split("/").exists(s => s.startsWith("_") || s.startsWith("."))
      if (f.isFile && f.getPath.getName.endsWith(".parquet") && !hidden)
        out += LiveFile(f.getLen, rel)
    }
    out.result()
  }

  /** Sum of parquet FOOTER record counts over freshly staged files —
    * the write-verification row count at metadata cost: each footer is
    * a few KB read driver-side (bounded concurrency), no Spark job, no
    * re-scan of the staged data. The footer count is what the parquet
    * WRITER committed per row group, so comparing it against the
    * observed input count still catches a short write (lost task
    * output, a file dropped between write and listing): a missing or
    * truncated file simply contributes fewer rows.
    */
  private[etl] def footerRowCount(fs: FileSystem, root: Path, files: Seq[LiveFile]): Long = {
    if (files.isEmpty) return 0L
    val conf = fs.getConf
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, files.size))
    try {
      files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(fs.makeQualified(new Path(root, f.path)), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        })
      }.map(_.get()).sum
    } finally {
      pool.shutdown()
      ()
    }
  }

  /** Name → type comparison, order-insensitive, nullability-blind —
    * the shape an append/upsert must preserve for the recorded-schema
    * read to be exact.
    */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType.catalogString)).sortBy(_._1).toSeq ==
      b.fields.map(f => (f.name, f.dataType.catalogString)).sortBy(_._1).toSeq

  /** ADDITIVE schema evolution: the widened table schema for an append
    * or upsert batch against the recorded schema. Every recorded column
    * must appear in the batch with the SAME type (a missing or re-typed
    * column is still a loud failure — destructive evolution stays a
    * replace); batch-only columns are ADDED, nullable, after the
    * recorded ones. Old files simply lack the new columns on disk and
    * the single-scan read serves them as typed nulls — the same
    * declared-but-absent→null tolerance the explicit-schema parquet
    * read has always had (see Annotations' gnomAD handling) — so adding
    * a column to a 100 TB table is a manifest-header change, not a
    * full-table rewrite. New columns cannot be partition columns (that
    * WOULD relocate every file).
    */
  private def widen(recorded: StructType, batch: StructType,
                    partitionCols: Seq[String], op: String): StructType = {
    val batchTypes = batch.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val missing = recorded.fields.filterNot(f => batchTypes.contains(f.name))
    require(missing.isEmpty,
      s"$op batch is missing recorded column(s) " +
        s"${missing.map(_.name).mkString(", ")} — every recorded column must be " +
        "present (schema evolution is additive; dropping or renaming is a replace)")
    val retyped = recorded.fields
      .filter(f => batchTypes(f.name) != f.dataType.catalogString)
    require(retyped.isEmpty,
      s"$op batch re-types recorded column(s) " +
        retyped.map(f => s"${f.name}: ${f.dataType.catalogString} -> ${batchTypes(f.name)}")
          .mkString(", ") +
        " — type changes are a replace, not evolution")
    val recordedNames = recorded.fieldNames.toSet
    val added = batch.fields.filterNot(f => recordedNames.contains(f.name))
    require(added.forall(f => !partitionCols.contains(f.name)),
      s"$op cannot add partition column(s) " +
        s"${added.map(_.name).filter(partitionCols.contains).mkString(", ")} — " +
        "repartitioning relocates every file; use a replace write")
    StructType(recorded.fields ++ added.map(_.copy(nullable = true)))
  }

  /** Write `df` as the NEXT version of the manifested table at `path`
    * (creating it at v1): data lands under `data/v<N>/` hive-partitioned
    * by `partitionCols`, is count-verified against the plan, and becomes
    * visible only when the manifest publishes. `replace = true`
    * publishes ONLY the new files (full-table replacement, and the one
    * way to make a DESTRUCTIVE schema change); `replace = false`
    * appends them to the previous version's live set: the incoming
    * shape must contain every recorded column at its recorded type — a
    * type that drifted (say a partition column going
    * numeric→alphanumeric) fails loudly here instead of reading back
    * as nulls later — while extra columns WIDEN the table additively
    * (old files serve them as typed nulls; see [[widen]]).
    */
  /** IN-PLACE adoption of an existing parquet directory (Delta's
    * `CONVERT TO DELTA` idiom): build the v1 manifest OVER the files
    * already there — listing + schema from footers, ZERO data movement,
    * zero rewrite — after which the full engine surface (DML, time
    * travel, SQL, streaming) runs on the directory. The common
    * migration: a plain hive-partitioned lake (including this
    * library's own [[Lake.write]] output layout) becomes a manifest
    * table in one metadata commit, however many terabytes it holds.
    *
    *   - Partition columns are DISCOVERED from the hive `k=v` layout
    *     (files disagreeing on layout refuse — [[hivePartColsOf]]).
    *   - Partition value TYPES default to STRING (the only type that
    *     round-trips every dir spelling exactly); `partitionTypes`
    *     declares real types, and each distinct dir value is verified
    *     to round-trip CANONICALLY through the declared type
    *     (`p=01` under INT refuses — the engine would render '1' and
    *     partition-targeted commits would miss the live dir).
    *   - The data schema is the parquet footers' union (absent-in-
    *     some-file columns read as typed nulls — the engine's normal
    *     absent-column semantics).
    *   - A SECOND adopt refuses (the path already has a manifest), as
    *     does adopting an empty tree.
    *   - Per-file min/max stats are NOT read here (footer stats are
    *     row-group-grained and the tree can be huge) — declare
    *     `statsCols` to make them sticky and run ANALYZE TABLE to
    *     backfill, the same flow as any stats-late table.
    *
    * Adopted files live OUTSIDE the engine's `data/v<N>` layout and are
    * NEVER deleted by [[vacuum]] — reclaiming the original files after
    * rewrites supersede them is deliberately left to their owner (the
    * engine refuses to delete what it did not write).
    */
  def adopt(spark: SparkSession, path: String,
            partitionTypes: Map[String, DataType] = Map.empty,
            statsCols: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal => CatLiteral}
    val (fs, root) = fsFor(spark, path)
    require(currentVersion(spark, path).isEmpty,
      s"$path is already a manifest table — adopt converts PLAIN parquet " +
        "directories only (a second adopt would orphan the existing history)")
    require(fs.exists(root), s"no directory to adopt at $path")
    val rootQ = fs.makeQualified(root).toString
    val found = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = fs.makeQualified(st.getPath).toString
        .stripPrefix(rootQ).stripPrefix("/")
      val hidden = rel.split("/").exists(s =>
        s.startsWith("_") || s.startsWith("."))
      if (!hidden && rel.endsWith(".parquet")) found += ((rel, st.getLen))
    }
    val files = found.result().sortBy(_._1)
    require(files.nonEmpty,
      s"nothing to adopt at $path — no parquet files found")
    val partCols = hivePartColsOf(files.map(_._1))
    val unknownTypes = partitionTypes.keys.filterNot(k =>
      partCols.exists(_.equalsIgnoreCase(k)))
    require(unknownTypes.isEmpty,
      s"partitionTypes name column(s) ${unknownTypes.mkString(", ")} the " +
        s"layout does not have (discovered: ${partCols.mkString(", ")})")
    val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val partFields = partCols.map { c =>
      val dt = partitionTypes.collectFirst {
        case (k, t) if k.equalsIgnoreCase(c) => t }.getOrElse(StringType)
      // canonicality: every distinct dir value must round-trip through
      // the declared type EXACTLY, or partition-targeted commits would
      // render a spelling the live dirs don't carry
      if (dt != StringType) {
        val values = files.map(f => partDirOf(f._1)).distinct.flatMap(d =>
          d.split("/").toSeq.collectFirst {
            case seg if seg.startsWith(s"${ExternalCatalogUtils.escapePathName(c)}=") =>
              ExternalCatalogUtils.unescapePathName(
                seg.substring(seg.indexOf('=') + 1))
          })
        values.distinct.foreach { v0 =>
          val typed = Cast(CatLiteral(v0), dt, zone, EvalMode.LEGACY).eval(null)
          val back = if (typed == null) null
            else String.valueOf(Cast(CatLiteral(typed, dt), StringType, zone,
              EvalMode.LEGACY).eval(null))
          require(back == v0,
            s"partition value '$v0' of column $c does not round-trip " +
              s"through ${dt.catalogString} (renders back as '$back') — " +
              "declare the column as STRING or canonicalize the directory names")
        }
      }
      StructField(c, dt, nullable = true)
    }
    // footer-union data schema: one schema-inference pass, no row reads
    val data = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => new Path(root, f._1).toString): _*).schema
    val clash = data.fieldNames.filter(n => partCols.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} appear both IN the parquet files " +
        "and as partition directories — the layout is ambiguous; repair it first")
    statsCols.foreach { c =>
      require(data.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"statsCols column $c is not in the adopted files' schema")
      require(!partCols.exists(_.equalsIgnoreCase(c)),
        s"statsCols column $c is a partition column — partitions prune by " +
          "directory, not file stats")
    }
    val schema = StructType(data.fields ++ partFields)
    publish(fs, root, 1L, files.map { case (rel, bytes) => LiveFile(bytes, rel) },
      Some(schema), partCols, op = Some("adopt"),
      statsColsDefault = statsCols.map(c =>
        data.fieldNames.find(_.equalsIgnoreCase(c)).get))
    1L
  }

  /** What one COPY INTO invocation did: the published head (unchanged
    * when everything was already loaded), how many source files this
    * invocation ingested, and how many rows they contributed.
    */
  final case class CopyIntoResult(version: Long, filesLoaded: Long,
                                  rowsLoaded: Long)

  /** The ledger key one source file's exactly-once fact is recorded
    * under, and the identity value that detects out-of-band mutation.
    * Keyed by QUALIFIED path — re-running a COPY skips every path the
    * ledger already carries; mtime+length fold into the value so a
    * file REPLACED under the same name refuses loudly instead of
    * silently staying stale (or silently double-loading).
    */
  private def copyKey(qualified: String): String = s"copy:$qualified"
  private def copyIdentity(mtime: Long, len: Long): Long =
    mtime * 1000003L + len

  /** COPY INTO — idempotent batch file ingestion, the third Delta
    * ingestion idiom after streaming and MERGE: "load whatever new
    * files landed in this directory, exactly once, re-runnable."
    * Each invocation lists `source`, subtracts the files the table's
    * ledger already records (by qualified path; see [[copyKey]]), reads
    * the remainder with `format`, conforms them to the table's LOGICAL
    * schema (by-name, ANSI store-assignment casts; absent columns
    * materialize their declared DEFAULT or typed null; GENERATED and
    * IDENTITY columns stay engine-owned), and appends them in ONE
    * commit that also records the consumed file identities — the
    * ledger rides the same `#txn` header facts streaming exactly-once
    * uses, so it survives every commit kind including replace and
    * restore-from-head. A re-run with nothing new publishes NO new
    * version. A file whose mtime/length changed under an already-
    * loaded path refuses (ambiguous — reload would duplicate its old
    * rows) unless `force`, which re-ingests every matched file
    * (Databricks COPY_OPTIONS('force'='true') parity: duplicates are
    * the caller's explicit choice). Two racing COPYs of overlapping
    * files publish exactly one: the loser's rebase sees its ledger
    * keys at the head and withdraws (see the writePinned retry).
    *
    * Scale: the listing is one recursive enumeration of the source
    * tree; the ledger lookup is an in-memory map from the head
    * manifest; the data path is an ordinary distributed append — no
    * driver-side row movement anywhere.
    */
  def copyInto(spark: SparkSession, path: String, source: String,
               format: String, pattern: Option[String] = None,
               formatOptions: Map[String, String] = Map.empty,
               force: Boolean = false,
               validate: Boolean = false): CopyIntoResult = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $path (COPY INTO needs an existing table — " +
          "create it first)"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — COPY INTO needs " +
        "the recorded schema (run one append or upsert to adopt a header first)")
    val fmt = format.toLowerCase
    require(Set("parquet", "csv", "json").contains(fmt),
      s"COPY INTO FILEFORMAT must be PARQUET, CSV, or JSON; got $format")
    // FORMAT_OPTIONS ('schema' = '<DDL>') — an EXPLICIT read schema for
    // the self-describing-less formats. At 100 TB of CSV the default
    // inferSchema is a full second pass over the source before the real
    // read; a declared schema makes ingestion one pass (and pins types
    // the sample-based inference could get wrong). Parquet refuses the
    // option: its footer IS the schema.
    val schemaHint = formatOptions.collectFirst {
      case (k, v) if k.equalsIgnoreCase("schema") => v }
    require(schemaHint.isEmpty || fmt != "parquet",
      "FORMAT_OPTIONS ('schema') applies to CSV/JSON only — parquet " +
        "files carry their own schema")
    val hinted = schemaHint.map { ddl =>
      try org.apache.spark.sql.types.StructType.fromDDL(ddl)
      catch { case e: Throwable => throw new IllegalArgumentException(
        s"COPY INTO FORMAT_OPTIONS schema does not parse as DDL: $ddl " +
          s"(${e.getMessage})") }
    }
    val (srcFs, srcRoot) = fsFor(spark, source)
    require(srcFs.exists(srcRoot),
      s"COPY INTO source does not exist: $source")
    val srcRootQ = srcFs.makeQualified(srcRoot).toString
    val matcher = pattern.map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$p"))
    val found = Seq.newBuilder[(String, Long, Long)] // (qualified, mtime, len)
    val it = srcFs.listFiles(srcRoot, true)
    while (it.hasNext) {
      val st = it.next()
      val q = srcFs.makeQualified(st.getPath).toString
      val rel = q.stripPrefix(srcRootQ).stripPrefix("/")
      val hidden = rel.split("/").exists(s =>
        s.startsWith("_") || s.startsWith("."))
      if (!hidden && matcher.forall(_.matches(java.nio.file.Paths.get(rel))))
        found += ((q, st.getModificationTime, st.getLen))
    }
    val matched = found.result().sortBy(_._1)
    val mutated = matched.filter { case (q, mt, len) =>
      m.txns.get(copyKey(q)).exists(_ != copyIdentity(mt, len)) }
    require(force || mutated.isEmpty,
      s"COPY INTO $path: ${mutated.length} already-loaded source file(s) " +
        "changed under the same path (mtime/length differ from the loaded " +
        "identity) — reloading would duplicate their old rows. Repair the " +
        "source, or pass COPY_OPTIONS ('force' = 'true') to re-ingest " +
        s"every matched file. Changed: ${mutated.take(5).map(_._1).mkString(", ")}")
    val candidates =
      if (force) matched
      else matched.filterNot { case (q, _, _) => m.txns.contains(copyKey(q)) }
    if (candidates.isEmpty) return CopyIntoResult(v, 0L, 0L)
    val ledger = candidates.map { case (q, mt, len) =>
      copyKey(q) -> copyIdentity(mt, len) }.toMap
    val paths = candidates.map(_._1)
    val readOpts = formatOptions.filterNot(_._1.equalsIgnoreCase("schema"))
    // VALIDATE without a declared schema: CSV/JSON schema INFERENCE is
    // a full scan of the source, the exact cost the 100 TB pre-flight
    // exists to avoid — the dry run infers from the FIRST matched file
    // only (parquet merges footers, which is metadata-only either
    // way). A column that first appears in a later file is caught by
    // the real load's drift refusal, not the dry run; the schema hint
    // makes VALIDATE exhaustive AND scan-free.
    val firstFileOnlyValidate =
      validate && hinted.isEmpty && fmt != "parquet" && paths.length > 1
    if (firstFileOnlyValidate)
      // operators must know the pre-flight verdict is NOT exhaustive on
      // this path: drift or an incompatible inferred type appearing only
      // in a later file is caught by the real load, not this dry run —
      // declare a schema hint to make VALIDATE exhaustive and scan-free
      System.err.println(
        s"COPY INTO $path VALIDATE: no declared schema — dry-run drift/" +
          s"type checks inferred from the FIRST matched file only (of " +
          s"${paths.length}); the real load still drift-checks every file. " +
          "Pass a schema hint for an exhaustive, scan-free pre-flight.")
    val schemaPaths =
      if (validate && hinted.isEmpty && fmt != "parquet") paths.take(1)
      else paths
    val raw = fmt match {
      case "parquet" => spark.read
        .options(Map("mergeSchema" -> "true") ++ readOpts)
        .parquet(schemaPaths: _*)
      case "csv" =>
        val r = spark.read.options(Map("header" -> "true") ++
          (if (hinted.isEmpty) Map("inferSchema" -> "true")
           else Map.empty[String, String]) ++ readOpts)
        hinted.fold(r)(r.schema).csv(schemaPaths: _*)
      case "json" =>
        val r = spark.read.options(readOpts)
        hinted.fold(r)(r.schema).json(schemaPaths: _*)
    }
    val logical = logicalSchemaOf(m)
    val engineOwned = (m.generated.map(_._1) ++ m.identity.map(_._1).toSeq)
      .map(_.toLowerCase).toSet
    val drift = raw.columns.filterNot(c =>
      logical.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(drift.isEmpty,
      s"COPY INTO $path: source carries column(s) ${drift.mkString(", ")} " +
        s"the table does not have (table columns: " +
        s"${logical.fieldNames.mkString(", ")}) — schema drift refuses; " +
        "ALTER TABLE ... ADD COLUMNS first, then re-run")
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.graftshim.SparkShims
    val defaultsByName = m.defaults.map { case (n, e) => n.toLowerCase -> e }.toMap
    val projected = logical.fields.toSeq.flatMap { f =>
      raw.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(src) =>
          val ref = UnresolvedAttribute.quoted(src.name)
          if (src.dataType == f.dataType) Some(SparkShims.column(ref).as(f.name))
          else {
            require(Cast.canANSIStoreAssign(src.dataType, f.dataType),
              s"COPY INTO $path: source column ${src.name} is " +
                s"${src.dataType.sql}, which cannot store into the table's " +
                s"${f.dataType.sql}")
            Some(SparkShims.column(
              Cast(ref, f.dataType, None, EvalMode.ANSI)).as(f.name))
          }
        case None if engineOwned.contains(f.name.toLowerCase) =>
          None // the engine computes/assigns these on the append
        case None =>
          Some(defaultsByName.get(f.name.toLowerCase)
            .map(d => expr(d).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name))
      }
    }
    val batch = raw.select(projected: _*)
    // VALIDATE: the dry run ran every METADATA refusal the real load
    // would — listing + pattern match, mutated-file check, schema
    // drift, store-assignability — and reports what WOULD load without
    // reading data rows or publishing a commit. Deliberately NOT
    // covered: data-dependent refusals (CHECK constraints, NOT NULL)
    // — evaluating them means reading the source, the exact cost a
    // 100 TB pre-flight exists to avoid; they surface on the real load.
    if (validate) return CopyIntoResult(v, candidates.length.toLong, 0L)
    batch.persist()
    val newV =
      try writePinned(spark, batch, path, m.partCols, replace = false,
        txn = None, statsCols = Seq.empty, copyLedger = ledger)
      finally { batch.unpersist(); () }
    val prevPaths = m.files.map(_.path).toSet
    val added = readManifest(fs, root, newV).files
      .filterNot(f => prevPaths.contains(f.path))
    val rows =
      if (added.forall(_.rows.isDefined)) added.flatMap(_.rows).sum
      else footerRowCount(fs, root, added)
    maybeAutoCompact(spark, path, newV)
    CopyIntoResult(newV, candidates.length.toLong, rows)
  }

  /** SHALLOW CLONE — a NEW table whose v1 is ONE metadata commit whose
    * entries REFERENCE the source's data files (and DV/bloom sidecars)
    * by absolute qualified path: zero data movement, Delta's
    * `CREATE TABLE … SHALLOW CLONE src [VERSION AS OF n]`. Cheap
    * test/dev branching on a 100 TB table — the clone costs one
    * manifest write regardless of source size.
    *
    * The whole header state at the cloned version carries: schema,
    * partitioning, constraints, column mapping + retirements (dropped
    * data never resurrects through a clone), generated columns,
    * defaults, declared stats/bloom columns, per-file stats. The txn
    * LEDGER does not — the clone is a new stream target with its own
    * exactly-once watermarks.
    *
    * Divergence is free in both directions: clone-side DML stages its
    * new files under the CLONE root and only unreferences source
    * files (never touches them — same stance as adopted files: the
    * engine never deletes what it did not write, and the clone's
    * vacuum walks only its own data dir, where source files can never
    * appear). Source-side DML is invisible to the clone (its entries
    * pin the exact files of the cloned version). The one cross-table
    * hazard is Delta's too: VACUUM on the SOURCE cannot see clones
    * and may reap files a clone still references — retain
    * accordingly, or deep-copy (CTAS) when the source's retention is
    * not under your control.
    *
    * Relative paths absolutize against the SOURCE root (a clone of a
    * clone passes absolute entries through unchanged); DV join keys
    * stay valid because both sides of the mask anti-join derive the
    * root-independent `data/v…` suffix (the relocatability contract,
    * see [[relPathExpr]]).
    */
  def shallowClone(spark: SparkSession, sourcePath: String, targetPath: String,
                   versionAsOf: Option[Long] = None,
                   orReplace: Boolean = false,
                   ifNotExists: Boolean = false): Long = {
    val (srcFs, srcRoot) = fsFor(spark, sourcePath)
    val (fs, root) = fsFor(spark, targetPath)
    require(srcFs.makeQualified(srcRoot) != fs.makeQualified(root),
      s"cannot clone $sourcePath onto itself")
    val srcHead = currentVersion(spark, sourcePath).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $sourcePath to clone"))
    versionAsOf.foreach(v => require(v >= 1 && v <= srcHead,
      s"SHALLOW CLONE VERSION AS OF $v: source versions are 1..$srcHead"))
    val srcM = readManifest(srcFs, srcRoot, versionAsOf.getOrElse(srcHead))
    def abs(p: String): String =
      srcFs.makeQualified(new Path(srcRoot, p)).toString
    val entries = srcM.files.map(f => f.copy(path = abs(f.path),
      dv = f.dv.map(abs), bloom = f.bloom.map(abs)))
    val existing = currentVersion(spark, targetPath)
    if (existing.isDefined && ifNotExists) return existing.get
    require(existing.isEmpty || orReplace,
      s"manifest table already exists at $targetPath — use CREATE OR " +
        "REPLACE TABLE ... SHALLOW CLONE (or IF NOT EXISTS to skip)")
    val v = existing.map(_ + 1).getOrElse(1L)
    publish(fs, root, v, entries, srcM.schema, srcM.partCols,
      op = Some("clone"), constraints = srcM.constraints,
      colMap = srcM.colMap, droppedPhys = srcM.droppedPhys,
      bloomCols = srcM.bloomCols, statsColsDefault = srcM.statsColsDefault,
      generated = srcM.generated, defaults = srcM.defaults, identity = srcM.identity, clusterCols = srcM.clusterCols, extras = srcM.extras, requires = srcM.requires,
      fieldMap = srcM.fieldMap, fieldDropped = srcM.fieldDropped)
    v
  }

  /** DEEP CLONE — [[shallowClone]]'s complement: the clone COPIES every
    * referenced data file (and DV/bloom sidecar) into its OWN tree, so
    * it shares no storage with the source — backup, region migration,
    * or a clone that must outlive the source's retention (the one
    * cross-table hazard shallow clones carry). Same header carry as
    * shallow (schema, partitioning, constraints, mapping, generated,
    * defaults, identity, stats/bloom declarations, per-file stats);
    * same fresh-ledger stance (a clone is a new stream target).
    *
    * Layout: copies land under ONE fresh unique-suffixed commit dir
    * (`data/v<N>-<tok>/…` — the exact staging shape optimistic appends
    * use, so a concurrent vacuum's in-flight grace protects the copy
    * until the manifest publishes). Each entry NESTS its original path
    * under that dir, preserving its `data/v…` run: deletion-vector
    * masks join on the suffix from the LAST `/data/v` marker (the
    * relocatability contract, [[relPathExpr]]), so the nested copy
    * derives the same key and copied masks keep applying byte-
    * unchanged. External (absolute) entries gain an `ext-<hash>/`
    * segment (hash of the absolute path) so two sources' identical
    * suffixes cannot collide; the segment carries no '=' so hive
    * partition parsing ([[partDirOf]]) is undisturbed.
    *
    * The copy is DISTRIBUTED — one Spark job over the file list, each
    * task copying with the session's Hadoop configuration; a 100 TB
    * clone moves bytes at cluster width, never through the driver.
    */
  def deepClone(spark: SparkSession, sourcePath: String, targetPath: String,
                versionAsOf: Option[Long] = None,
                orReplace: Boolean = false,
                ifNotExists: Boolean = false): Long = {
    val (srcFs, srcRoot) = fsFor(spark, sourcePath)
    val (fs, root) = fsFor(spark, targetPath)
    require(srcFs.makeQualified(srcRoot) != fs.makeQualified(root),
      s"cannot clone $sourcePath onto itself — ALTER TABLE … MATERIALIZE " +
        "untethers a shallow clone in place")
    val srcHead = currentVersion(spark, sourcePath).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $sourcePath to clone"))
    versionAsOf.foreach(v => require(v >= 1 && v <= srcHead,
      s"DEEP CLONE VERSION AS OF $v: source versions are 1..$srcHead"))
    val srcM = readManifest(srcFs, srcRoot, versionAsOf.getOrElse(srcHead))
    val existing = currentVersion(spark, targetPath)
    if (existing.isDefined && ifNotExists) return existing.get
    require(existing.isEmpty || orReplace,
      s"manifest table already exists at $targetPath — use CREATE OR " +
        "REPLACE TABLE ... DEEP CLONE (or IF NOT EXISTS to skip)")
    val v = existing.map(_ + 1).getOrElse(1L)
    // already-qualified URIs pass through (a clone-of-a-clone's source
    // may live on another scheme — makeQualified would refuse Wrong FS)
    def abs(p: String): String =
      if (p.contains(":/")) p
      else srcFs.makeQualified(new Path(srcRoot, p)).toString
    val (entries, copies) =
      repathForCopy(srcM.files, abs, v, all = true, "DEEP CLONE")
    distributedCopy(spark, fs, root, copies)
    publish(fs, root, v, entries, srcM.schema, srcM.partCols,
      op = Some("clone"), constraints = srcM.constraints,
      colMap = srcM.colMap, droppedPhys = srcM.droppedPhys,
      bloomCols = srcM.bloomCols, statsColsDefault = srcM.statsColsDefault,
      generated = srcM.generated, defaults = srcM.defaults, identity = srcM.identity, clusterCols = srcM.clusterCols, extras = srcM.extras, requires = srcM.requires,
      fieldMap = srcM.fieldMap, fieldDropped = srcM.fieldDropped)
    v
  }

  /** `ALTER TABLE … MATERIALIZE` — untether a shallow clone (or a
    * table with adopted external files) IN PLACE: copy every external
    * (absolute) reference — data, DV, bloom — into the table's own
    * tree and publish one commit re-referencing the copies. Rows are
    * untouched; entries that already live under the root stay where
    * they are (no copy). After this, source-side VACUUM/deletion can
    * no longer hurt the table, and the copies are engine-owned (the
    * table's own vacuum manages them). A table with no external
    * references is a NO-OP — the head version returns unchanged, no
    * commit publishes.
    */
  def materialize(spark: SparkSession, path: String): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifested table at $path (MATERIALIZE needs an existing table)"))
    val m = readManifest(fs, root, v)
    val anyExternal = m.files.exists(f => isExternalRef(f.path) ||
      f.dv.exists(isExternalRef) || f.bloom.exists(isExternalRef))
    if (!anyExternal) return v
    val (entries, copies) =
      repathForCopy(m.files, p => p, v + 1, all = false, "MATERIALIZE")
    distributedCopy(spark, fs, root, copies)
    val oldPaths = m.files.map(_.path).toSet
    val newPaths = entries.map(_.path).toSet
    publish(fs, root, v + 1, entries, m.schema, m.partCols, m.txns,
      op = Some("materialize"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys,
      bloomCols = m.bloomCols, statsColsDefault = m.statsColsDefault,
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras,
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((entries.filterNot(e => oldPaths(e.path)),
        (oldPaths -- newPaths).toSeq)))
    v + 1
  }

  /** Is this manifest reference external — an absolute path or URI
    * (clone-referenced or adopted-in-place), as opposed to a
    * root-relative engine-written file?
    */
  private def isExternalRef(p: String): Boolean =
    new Path(p).isAbsolute || p.contains(":/")

  /** Re-path a manifest's entries (data + DV + bloom references) into
    * ONE fresh unique-suffixed commit dir for a physical copy. `abs`
    * resolves an entry to its absolute source location; `all` copies
    * every entry (deep clone) vs only the external ones (materialize,
    * where `abs` is identity because external refs are already
    * absolute). Returns the rewritten entries and the deduplicated
    * (absoluteSource, targetRelative) copy list — DV dirs are shared
    * across entries, so the mapping must be per-path deterministic.
    *
    * The DV contract gate: a DV-masked data file must keep a
    * `/data/v` run in its post-copy path at the same suffix, or the
    * mask's derived join key ([[relPathExpr]]: suffix from the LAST
    * marker) would change and deleted rows would resurrect. Engine-
    * written files always qualify; a hand-adopted masked file without
    * the marker refuses loudly.
    */
  private def repathForCopy(files: Seq[LiveFile], abs: String => String,
                            v: Long, all: Boolean, what: String)
      : (Seq[LiveFile], Seq[(String, String)]) = {
    val stage = f"$DataDir/v$v%06d-${java.util.UUID.randomUUID().toString.take(8)}"
    val marker = "/" + DataDir + "/v"
    def sha8(s: String): String =
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    val copies = collection.mutable.LinkedHashMap.empty[String, String]
    def mapOne(p: String, masked: Boolean): String = {
      val ext = isExternalRef(p)
      if (!ext && !all) return p // materialize: local refs stay in place
      val a = abs(p)
      val rel =
        if (!ext) s"$stage/$p"
        else {
          val i = a.lastIndexOf(marker)
          if (i >= 0) s"$stage/ext-${sha8(a)}${a.substring(i)}"
          else {
            val name = a.substring(a.lastIndexOf('/') + 1)
            val pd = partDirOf(p)
            s"$stage/ext-${sha8(a)}/" + (if (pd.isEmpty) name else s"$pd/$name")
          }
        }
      // masked files must keep their derived join key: the pre-copy
      // path must carry the marker (the copy then nests it, and the
      // LAST-marker extraction lands on the preserved inner run)
      require(!masked ||
          (if (ext) a.lastIndexOf(marker) >= 0 else ("/" + p).contains(marker)),
        s"$what: entry $p carries a deletion vector but its path has no " +
          s"`$marker` run — the mask joins on that suffix and cannot " +
          "survive a re-path; compact or rewrite the source first")
      val prev = copies.getOrElseUpdate(rel, a)
      require(prev == a,
        s"$what: two distinct sources map to the same target path $rel " +
          s"($prev vs $a) — clone into a fresh path instead")
      rel
    }
    val entries = files.map { f =>
      val masked = f.dv.isDefined
      f.copy(path = mapOne(f.path, masked),
        dv = f.dv.map(mapOne(_, masked = false)),
        bloom = f.bloom.map(mapOne(_, masked = false)))
    }
    (entries, copies.toSeq.map { case (rel, a) => (a, rel) })
  }

  /** Copy `(absoluteSource, targetRelative)` pairs into the table tree
    * as ONE distributed Spark job — a task per slice of the list, each
    * copying (recursively, for DV dirs) through the session's Hadoop
    * configuration. Overwrite is on so task RETRIES are idempotent;
    * the target paths live under a fresh unique-suffixed stage dir, so
    * nothing readable can be overwritten.
    */
  private def distributedCopy(spark: SparkSession, fs: FileSystem, root: Path,
                              copies: Seq[(String, String)]): Unit = {
    if (copies.isEmpty) return
    val serConf = new org.apache.spark.sql.graftshim.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val rootQ = fs.makeQualified(root).toString
    val slices = math.max(1,
      math.min(copies.size, spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(copies, slices).foreach {
      case (srcAbs, dstRel) =>
        val conf = serConf.value
        val src = new Path(srcAbs)
        val sfs = src.getFileSystem(conf)
        val dst = new Path(rootQ + "/" + dstRel)
        val dfs = dst.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst,
          false, true, conf): Unit
    }
  }

  def write(spark: SparkSession, df: DataFrame, path: String,
            partitionCols: Seq[String], replace: Boolean = true,
            txn: Option[(String, Long)] = None,
            statsCols: Seq[String] = Seq.empty,
            bloomCols: Seq[String] = Seq.empty): Long = {
    // the plan feeds the staged write AND the verification count — pin
    // it so both observe one evaluation (a non-deterministic or
    // concurrently-changing source must not write one row set and
    // verify another); same stance as upsert's pinning
    df.persist()
    val v =
      try writePinned(spark, df, path, partitionCols, replace, txn, statsCols, bloomCols)
      finally { df.unpersist(); () }
    maybeAutoCompact(spark, path, v)
    v
  }

  /** Collected per-file stats for one staged file: [min, max] bounds,
    * the file's row count, and per-column null counts.
    */
  private final case class FileStats(bounds: Map[String, (String, String)],
                                     rows: Long,
                                     nullCounts: Map[String, Long],
                                     sets: Map[String, Seq[String]],
                                     blooms: Map[String, Array[Byte]] = Map.empty)

  /** Value-set stats bounds: a file's DISTINCT values for a tracked
    * column are recorded only when there are at most [[SetCap]] of them
    * and every one renders at most [[MaxSetValueLen]] characters — the
    * categorical shape (status codes, source tags, enum-ish columns)
    * where min/max bounds are wide but membership is tiny. Both caps
    * are soundness caps, not tuning: an overflowing or long-valued
    * column records NO set (unknown = never skip), and the bounded
    * aggregation ([[graft.functions.BoundedSortedSetAgg]]) keeps
    * executor state at `SetCap + 1` entries even while a high-cardinality
    * column is being measured.
    */
  private val SetCap = 24
  private val MaxSetValueLen = 64

  /** Per-file [min, max] + row count + null counts of `statsCols` over
    * a freshly staged commit dir, keyed by root-relative path — one
    * aggregation job over the BATCH (not the table), which is the
    * write-time price of file-level data skipping at read time. Only
    * atomic orderable types carry BOUNDS (binary/nested are excluded —
    * their string casts don't round-trip; timestamps are zone-hazardous,
    * see below); columns that are all-null in a file get no bounds
    * entry (unknown = never skip) but DO get a null count, which is
    * what lets `IS NOT NULL` prune them. Null counts are collected for
    * every requested non-partition column regardless of type — a null
    * count has no ordering or rendering hazard.
    */
  private def collectStats(spark: SparkSession, fs: FileSystem, root: Path,
                           commitDir: Path, schema: StructType,
                           statsCols: Seq[String],
                           partitionCols: Seq[String],
                           bloomCols: Seq[String] = Seq.empty): Map[String, FileStats] =
    collectStatsOver(spark, spark.read.parquet(commitDir.toString), schema,
      statsCols, partitionCols, bloomCols)

  /** [[collectStats]] over an arbitrary scan (a staged commit dir, or —
    * for the ANALYZE backfill — an explicit list of live files read
    * under the physical schema).
    */
  private def collectStatsOver(spark: SparkSession,
                           scan: => org.apache.spark.sql.DataFrame,
                           schema: StructType,
                           statsCols: Seq[String],
                           partitionCols: Seq[String],
                           bloomCols: Seq[String] = Seq.empty,
                           tableRoot: Option[String] = None): Map[String, FileStats] = {
    import org.apache.spark.sql.types._
    // timestamps are excluded: their string form renders in the
    // WRITER's session timezone and would re-parse in the READER's —
    // a zone mismatch would shift the bounds and wrongly skip files,
    // violating the stats-never-change-results contract. (Dates are
    // zone-free and stay eligible.)
    val requested = (statsCols ++ bloomCols).distinct
      .filter(c => schema.fieldNames.contains(c) && !partitionCols.contains(c))
    requested.foreach(c => require(!c.startsWith("#"),
      s"stats column name must not start with '#' (reserved in the stats blob): $c"))
    val eligible = requested.filter(c => schema(c).dataType match {
      case _: NumericType | StringType | DateType | BooleanType => true
      case _ => false
    })
    // value sets exclude float/double: their string forms carry ±0.0 /
    // shortest-repr hazards that equality-on-render cannot survive;
    // bounds (with read-side zero normalization) cover them instead
    val setEligible = eligible.filter(c => schema(c).dataType match {
      case FloatType | DoubleType => false
      case _ => true
    })
    if (requested.isEmpty) return Map.empty
    // blooms share value sets' float/double exclusion: equality-on-
    // string-render cannot survive ±0.0 / shortest-repr drift
    val bloomEligible = bloomCols.distinct
      .filter(c => requested.contains(c))
      .filter(c => schema(c).dataType match {
        case FloatType | DoubleType => false
        case _: NumericType | StringType | DateType | BooleanType => true
        case _ => false
      })
    val bloomAgg = udaf(graft.functions.BloomAgg())
    val setAgg = udaf(graft.functions.BoundedSortedSetAgg(SetCap + 1))
    val aggs = eligible.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__lo_$c"),
      max(col(c)).cast("string").as(s"__hi_$c"))) ++
      Seq(count(lit(1)).as("__rows")) ++
      requested.map(c => count(col(c)).as(s"__nn_$c")) ++
      setEligible.flatMap(c => Seq(
        setAgg(col(c).cast("string")).as(s"__set_$c"),
        max(length(col(c).cast("string"))).as(s"__len_$c"))) ++
      bloomEligible.map(c => bloomAgg(col(c).cast("string")).as(s"__bloom_$c"))
    val rows = scan
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val marker = "/" + DataDir + "/v"
    // input_file_name() is URL-encoded while manifest paths come from
    // FileStatus unencoded — decode first or a table path / partition
    // value with a space (or hive-escaped char) mismatches every key
    // and silently drops all stats
    def decoded(abs: String): String =
      try new java.net.URI(abs).getPath catch { case _: Exception => abs }
    // manifest-RELATIVE key: with the table root in hand strip it
    // directly — this covers ADOPTED files, which live outside the
    // data/v<N> layout the marker below locates; the marker remains for
    // callers keying a staged commit dir without the root
    val rootPrefix: Option[String] = tableRoot.map(r =>
      (try new java.net.URI(r).getPath catch { case _: Exception => r })
        .stripSuffix("/") + "/")
    def relKey(abs: String): Option[String] = rootPrefix match {
      case Some(pre) if abs.startsWith(pre) => Some(abs.stripPrefix(pre))
      // OUTSIDE the root = a clone-referenced absolute entry: key by the
      // decoded absolute path — the ANALYZE caller matches it against
      // its entries scheme-insensitively (the manifest stores the
      // qualified URI, the reader renders the plain path)
      case Some(_) => Some(abs)
      case None =>
        val i = abs.lastIndexOf(marker)
        if (i < 0) None else Some(abs.substring(i + 1))
    }
    // ±0.0 collapses to "0.0" in recorded float/double bounds: SQL
    // comparison treats -0.0 == 0.0 while the read path's interpreted
    // ordering is total (-0.0 < 0.0), so a recorded "-0.0" bound could
    // wrongly prove `col = 0.0` impossible. Delta normalizes collected
    // stats the same way; the reader also normalizes, which covers
    // manifests written before this fix.
    val floaty = eligible.filter(c => schema(c).dataType match {
      case FloatType | DoubleType => true
      case _ => false
    }).toSet
    def normZero(c: String, s: String): String =
      if (floaty.contains(c) && s == "-0.0") "0.0" else s
    rows.flatMap { r =>
      val abs = decoded(r.getString(0))
      relKey(abs) match {
        case None => None
        case Some(key) =>
        {
        val bounds = eligible.flatMap { c =>
          val lo = r.getAs[String](s"__lo_$c")
          val hi = r.getAs[String](s"__hi_$c")
          if (lo == null || hi == null) None
          else Some(c -> ((normZero(c, lo), normZero(c, hi))))
        }.toMap
        val nRows = r.getAs[Long]("__rows")
        val nulls = requested.map(c => c -> (nRows - r.getAs[Long](s"__nn_$c"))).toMap
        val sets = setEligible.flatMap { c =>
          val arr = r.getAs[scala.collection.Seq[String]](s"__set_$c")
          val lenMax = r.getAs[Any](s"__len_$c")
          val short = lenMax == null ||
            lenMax.asInstanceOf[Number].intValue() <= MaxSetValueLen
          // an all-null file records the EMPTY set — complete and
          // skip-bearing (equality never matches a value that is not
          // there); an overflowing or long-valued column records none
          if (arr != null && arr.size <= SetCap && short) Some(c -> arr.toSeq)
          else None
        }.toMap
        val blooms = bloomEligible.flatMap { c =>
          Option(r.getAs[Array[Byte]](s"__bloom_$c")).map(c -> _)
        }.toMap
        Some(key -> FileStats(bounds, nRows, nulls, sets, blooms))
        }
      }
    }.toMap
  }

  private val BloomDir = "_bloom"

  /** Stage the commit's bloom SIDECAR — one gz text file
    * (`relFilePath\tcol\tbase64(bits)` lines) under the commit dir,
    * referenced per masked file via the stats blob's `#bloom` pointer.
    * Inline blooms would grow the KB-scale manifest by ~8 KiB per
    * (file, column) — the sidecar keeps planning metadata small and
    * loads once per (table, commit) through [[bloomsAt]]'s cache.
    */
  private def writeBloomSidecar(fs: FileSystem, root: Path, commitDir: Path,
                                byRel: Map[String, FileStats]): Option[String] = {
    val entries = byRel.toSeq.sortBy(_._1).flatMap { case (rel, st) =>
      st.blooms.toSeq.sortBy(_._1).map { case (c, bits) =>
        s"$rel\t$c\t${graft.functions.BloomBits.toBase64(bits)}"
      }
    }
    if (entries.isEmpty) None
    else {
      val p = new Path(new Path(commitDir, BloomDir), "blooms.gz")
      val out = new java.util.zip.GZIPOutputStream(fs.create(p, true))
      try out.write((entries.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      val rootQ = fs.makeQualified(root).toString
      Some(fs.makeQualified(p).toString.stripPrefix(rootQ).stripPrefix("/"))
    }
  }

  /** Parsed bloom sidecar, cached like manifests (immutable once
    * published): (relFilePath, col) → bits. A missing/corrupt sidecar
    * yields the empty map — every lookup degrades to keep.
    */
  private val bloomCache =
    new java.util.LinkedHashMap[(String, Long, Long), (Map[(String, String), Array[Byte]], Long)](16, 0.75f, true)
  private var bloomCacheBytes = 0L
  private val bloomCacheMaxBytes = 256L << 20

  private[etl] def bloomsAt(fs: FileSystem, root: Path,
                            rel: String): Map[(String, String), Array[Byte]] = {
    val p = new Path(root, rel)
    val st = try fs.getFileStatus(p) catch { case _: java.io.IOException => return Map.empty }
    val key = (fs.makeQualified(p).toString, st.getModificationTime, st.getLen)
    bloomCache.synchronized(Option(bloomCache.get(key))) match {
      case Some((m, _)) => m
      case None =>
        val m =
          try {
            val in = new java.util.zip.GZIPInputStream(fs.open(p))
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .flatMap { line =>
                line.split("\t", 3) match {
                  case Array(f, c, b) =>
                    try Some((f, c) -> graft.functions.BloomBits.fromBase64(b))
                    catch { case _: IllegalArgumentException => None }
                  case _ => None
                }
              }.toMap
            finally in.close()
          } catch { case _: java.io.IOException => Map.empty[(String, String), Array[Byte]] }
        val w = 64L + m.valuesIterator.map(_.length.toLong + 96L).sum
        bloomCache.synchronized {
          if (bloomCache.put(key, (m, w)) == null) bloomCacheBytes += w
          val it = bloomCache.entrySet().iterator()
          while (bloomCacheBytes > bloomCacheMaxBytes && bloomCache.size() > 1) {
            bloomCacheBytes -= it.next().getValue._2
            it.remove()
          }
        }
        m
    }
  }

  private def writePinned(spark: SparkSession, df: DataFrame, path: String,
                          partitionCols: Seq[String], replace: Boolean,
                          txn: Option[(String, Long)],
                          statsCols: Seq[String],
                          bloomCols: Seq[String] = Seq.empty,
                          identityRestage: Int = 0,
                          copyLedger: Map[String, Long] = Map.empty): Long = {
    val (fs, root) = fsFor(spark, path)
    val prevV = currentVersion(spark, path)
    val prev = prevV.map(readManifest(fs, root, _))
    // exactly-once: a (appId, batchId) at or below the recorded
    // watermark is a REPLAY — the table already contains this batch's
    // effect; return the current version untouched
    if (txn.exists { case (app, b) => prev.exists(_.txns.get(app).exists(_ >= b)) })
      return prevV.get
    val v = prevV.getOrElse(0L) + 1
    // GENERATED COLUMNS: a batch that omits one gets it COMPUTED from
    // its expression (in logical names, before physical mapping); a
    // batch that supplies it is VALIDATED row-by-row via the synthetic
    // `name <=> (expr)` constraint below — supplied-but-wrong values
    // fail pre-publish instead of silently diverging from the contract
    // generated columns SURVIVE a replace, like constraints and the txn
    // ledger — the declared contract outlives any one batch
    val genCols = prev.map(_.generated).getOrElse(Seq.empty)
    // TZ-PINNED GENERATION enforcement: a timezone-sensitive generated
    // column (TIMESTAMP base — see addGeneratedColumn) computes
    // differently in every session zone, so a write under a zone other
    // than the declared one would fork the partition layout silently.
    // Refuse typed with the remedy named.
    prev.foreach { pm =>
      val physOf = pm.colMap.getOrElse(Seq.empty).toMap
      pm.generated.foreach { case (n, _) =>
        val key = "gentz:" + physOf.getOrElse(n, n)
        pm.extras.collectFirst { case (`key`, tz) => tz }.foreach { tz =>
          val cur = spark.sessionState.conf.sessionLocalTimeZone
          require(cur == tz,
            s"generated column $n on $path was declared under session " +
              s"timezone $tz and its expression is timezone-sensitive — " +
              s"writing under $cur would place rows in different " +
              s"partitions than the declared layout; set " +
              s"spark.sql.session.timeZone=$tz")
        }
      }
    }
    val dfG0 = genCols.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n, expr(e))
    }
    // IDENTITY: the engine assigns the declared column (ALWAYS — a
    // batch carrying it refuses). The distributed assignment gives each
    // partition its own lane: value = watermark + step * (p + r * P),
    // decomposed from monotonically_increasing_id (p = mid >> 33,
    // r = mid & mask) — unique by construction, codegen'd, zero extra
    // jobs; gaps are expected and documented. The fact survives a
    // replace (the watermark never resets — values never reuse across
    // history).
    val identityPrev = prev.flatMap(_.identity)
    // BY DEFAULT admits a batch that SUPPLIES the column (values pass
    // through unchanged — uniqueness of supplied values is the
    // caller's, Delta's documented stance); ALWAYS refuses it. Either
    // way an omitted column is engine-assigned below.
    val identitySupplied = identityPrev.exists { case (n, _, _, _, byDefault) =>
      val has = dfG0.columns.exists(_.equalsIgnoreCase(n))
      require(!has || byDefault,
        s"column $n is GENERATED ALWAYS AS IDENTITY on $path — the " +
          "engine assigns it; the batch must omit the column")
      has
    }
    val dfG = identityPrev match {
      case Some(_) if identitySupplied => dfG0
      case Some((n, _, step, wm, _)) =>
        // PIN the batch to the exact RDD whose partition count the lane
        // formula uses: uniqueness needs p < P, and measuring one plan
        // while the write re-plans another (AQE finalizes per
        // execution) could let an executed p exceed the measured P.
        // The RDD hop costs a local Row conversion, no shuffle — and
        // the caller has already persisted the batch, so finalizing
        // the plan here does not re-run its upstream at write time.
        val pinned = spark.createDataFrame(dfG0.rdd, dfG0.schema)
        val parts = math.max(pinned.rdd.getNumPartitions, 1).toLong
        val mid = monotonically_increasing_id()
        pinned.withColumn(n, lit(wm) + lit(step) *
          (shiftright(mid, 33) + mid.bitwiseAND(lit((1L << 33) - 1)) * lit(parts)))
      case None => dfG0
    }
    // COLUMN MAPPING: the batch arrives in LOGICAL names; everything
    // below (widen, stats, skipping, the staged files) is PHYSICAL —
    // rename on entry, extending the mapping for genuinely-new columns.
    // A replace resets the mapping: the table becomes exactly this
    // batch, physical = logical again.
    val mapping = if (replace) None else prev.flatMap(_.colMap)
    val (dfP0, colMapOut, droppedOut) = mapping match {
      case None =>
        (dfG, None, if (replace) Seq.empty[String]
                    else prev.map(_.droppedPhys).getOrElse(Seq.empty))
      case Some(cm) =>
        val dropped = prev.get.droppedPhys
        val (p, extended) = batchToPhysical(dfG, cm, dropped)
        (p, Some(extended), dropped)
    }
    // nested-renamed columns arrive with LOGICAL field names; cast to
    // the recorded physical names so every staged file stores one
    // uniform nested layout (and the additive-widen shape check below
    // compares physical-to-physical)
    val dfP =
      if (replace) dfP0
      else prev.map(nestedToPhysical(dfP0, _)).getOrElse(dfP0)
    val statsColsP = mapping match {
      case None => statsCols
      case Some(cm) =>
        val byLogical = cm.toMap ++ colMapOut.toSeq.flatten.toMap
        statsCols.map(c => byLogical.getOrElse(c, c))
    }
    // BLOOM TRACKING is sticky per table: once declared, every later
    // commit maintains it (a replace resets, like every other header
    // fact); names record physical
    val bloomColsP = mapping match {
      case None => bloomCols
      case Some(cm) =>
        val byLogical = cm.toMap ++ colMapOut.toSeq.flatten.toMap
        bloomCols.map(c => byLogical.getOrElse(c, c))
    }
    val bloomColsOut =
      (if (replace) bloomColsP
       else (prev.map(_.bloomCols).getOrElse(Seq.empty) ++ bloomColsP).distinct)
    // MIN/MAX STAT TRACKING is sticky too: once declared (at CREATE or
    // on any write), every later commit keeps collecting the columns
    // for its new files — without this, one plain append silently stops
    // collecting and the skipping ladder degrades file by file.
    // An IDENTITY column is always in the set: its per-file max is what
    // advances the watermark (and skips point lookups for free).
    val identityPhys = identityPrev.map { case (n, _, _, _, _) =>
      mapping match {
        case Some(cm) => (cm.toMap ++ colMapOut.toSeq.flatten.toMap).getOrElse(n, n)
        case None => n
      }
    }
    val statsColsOut =
      ((if (replace) statsColsP
        else (prev.map(_.statsColsDefault).getOrElse(Seq.empty) ++ statsColsP).distinct)
        ++ identityPhys.toSeq).distinct
    // an append joins an existing table, so its shape must match what
    // the manifest records. A legacy HEADERLESS manifest has no recorded
    // shape to check against, and stamping this batch's schema over the
    // carried legacy files unverified would make them read back as
    // silent nulls under the new explicit single-scan schema — exactly
    // the failure the header exists to prevent — so the append verifies
    // the batch against the legacy grouped read's inferred schema first
    // and only then adopts the header for the whole table.
    val tableSchema = prev match {
      case Some(m) if !replace && m.schema.isDefined =>
        require(m.partCols == partitionCols,
          s"append partitioned by ${partitionCols.mkString(",")} but the table " +
            s"is partitioned by ${m.partCols.mkString(",")} — schema evolution is a replace")
        // additive evolution: a superset batch WIDENS the recorded
        // schema (new nullable columns; old files read them as null);
        // a missing or re-typed column still fails loudly inside widen
        widen(m.schema.get, dfP.schema, partitionCols, "append")
      case Some(m) if !replace && m.files.nonEmpty =>
        val inferred = readFilesGrouped(spark, root, m.files.map(_.path)).schema
        require(sameShape(inferred, dfP.schema),
          s"append schema ${dfP.schema.catalogString} does not match the legacy " +
            s"table's inferred schema ${inferred.catalogString} — a headerless " +
            "manifest adopts this batch's schema as the table header, so the " +
            "shapes must agree (use a replace write to change the schema)")
        // the adopted header also records PARTITIONING — and the legacy
        // files' hive layout is the ground truth. Stamping different
        // partCols (e.g. empty, from a caller that had no header to
        // inherit from) would make the explicit single scan read the
        // carried files' partition column back as silent nulls.
        val legacyPartCols = hivePartColsOf(m.files.map(_.path))
        require(legacyPartCols == partitionCols,
          s"append partitioned by [${partitionCols.mkString(",")}] but the " +
            s"legacy table's directory layout is partitioned by " +
            s"[${legacyPartCols.mkString(",")}] — the adopted header must " +
            "record the carried files' real partitioning (use a replace " +
            "write to change it)")
        dfP.schema
      case _ => dfP.schema
    }
    // appends stage under a UNIQUE dir (`v<N>-<token>`): two optimistic
    // appenders computing the same next version must never share a
    // staging dir — SaveMode.Overwrite on a common path would clobber
    // the other's staged files BEFORE either publish could arbitrate.
    // The version prefix is kept for operator legibility and vacuum's
    // in-flight heuristics; nothing parses it back out of data paths
    // (files are referenced by full relative path in the manifest).
    // Replace keeps the plain deterministic dir — it stays
    // single-writer, and the plain name is what lets vacuum reap its
    // superseded files immediately rather than after a grace window.
    val commitDir =
      if (replace) new Path(root, f"$DataDir/v$v%06d")
      else new Path(root,
        f"$DataDir/v$v%06d-${java.util.UUID.randomUUID().toString.take(8)}")
    // the input row count rides the WRITE job itself as an observed
    // metric — re-executing `df` for a count would run the entire input
    // plan (joins, aggregations, a 100 TB scan) a second time per
    // append; observe() collects it during the one pass the write
    // already makes. CHECK-constraint violation counts ride the SAME
    // observation (SQL CHECK semantics: TRUE or NULL passes, FALSE
    // violates), so enforcement costs zero extra jobs — the batch is
    // judged during the one pass, and a violation withdraws the staged
    // commit before anything publishes.
    val consLogical =
      prev.map(effectiveConstraints).getOrElse(Map.empty).toSeq.sortBy(_._1)
    // constraints are stored in LOGICAL names — translate to physical
    // for enforcement against the renamed batch
    val prevFieldMap =
      if (replace) Seq.empty else prev.map(_.fieldMap).getOrElse(Seq.empty)
    val consSeq =
      if (mapping.isEmpty && prevFieldMap.isEmpty) consLogical
      else {
        val cm = mapping.getOrElse(
          prev.flatMap(_.schema).map(_.fieldNames.toSeq).getOrElse(Seq.empty)
            .map(n => n -> n))
        val full = cm ++ colMapOut.toSeq.flatten.filterNot(cm.contains)
        consLogical.map { case (n, e) =>
          n -> exprToPhysical(spark, e, full, prevFieldMap)
        }
      }
    consSeq.foreach { case (n, e) =>
      try { dfP.select(expr(e)); () } catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CHECK constraint $n (`$e`) on $path cannot be evaluated " +
              s"against this batch: ${ex.getMessage}", ex)
      }
    }
    val obs = org.apache.spark.sql.Observation()
    val aggs = count(lit(1)).as("rows") +: consSeq.map { case (n, e) =>
      count(when(not(coalesce(expr(e), lit(true))), lit(1))).as(s"viol_$n")
    }
    val w = dfP.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(commitDir.toString)
    // verify the staged copy while it is still invisible — same
    // verify-before-commit stance as Lake.compact, minus any window:
    // a failure here aborts with the table untouched at v-1. The staged
    // side is summed from parquet FOOTERS (metadata-only, no job), so a
    // stats-less append costs exactly ONE Spark job end to end.
    val staged = stagedFiles(fs, root, commitDir)
    requireNoViolations(fs, commitDir, obs, consSeq, path, "batch", v - 1)
    val rowsIn = obsLong(obs, "rows")
    // empty input stages no parquet files — nothing to re-read (an empty
    // replace is a defined state: the manifest lists nothing)
    val rowsOut = footerRowCount(fs, root, staged)
    if (rowsOut != rowsIn || (rowsIn > 0 && staged.isEmpty)) {
      fs.delete(commitDir, true)
      throw new IllegalStateException(
        s"manifest write verification failed for $path v$v: $rowsIn rows in, " +
          s"$rowsOut staged — table still at v${v - 1}")
    }
    val withStats = stageStats(spark, fs, root, commitDir, tableSchema,
      statsColsOut, bloomColsOut, partitionCols, staged)
    // the watermark advances to one past the largest value this write
    // assigned — read off the staged files' OWN stats, zero extra jobs
    val newIdentity = identityPrev.map { case (n, st, sp, wm, bd) =>
      val assigned = for {
        phys <- identityPhys.toSeq
        f <- withStats
        (_, hi) <- f.stats.get(phys)
      } yield hi.toLong
      // an ENGINE-ASSIGNED batch that staged rows but recorded NO
      // identity max must not publish: defaulting to the old watermark
      // would silently REUSE identity values on the next append (any
      // future stats-pipeline change dropping the identity hi bound, or
      // a keying miss, turns into id collisions instead of this loud
      // withdrawal). A SUPPLIED batch (BY DEFAULT) legitimately records
      // nothing when the column is all-null — those rows keep null and
      // the watermark keeps.
      if (assigned.isEmpty && rowsIn > 0 && !identitySupplied) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"IDENTITY watermark for $n on $path cannot advance: the batch " +
            s"staged $rowsIn row(s) but the stats pass recorded no max for " +
            s"the identity column — publishing would reuse ids; nothing " +
            s"published, table still at v${v - 1}")
      }
      // advance to the smallest LATTICE point strictly above the
      // batch's max — engine-assigned values are already on the
      // lattice (this reduces to max + step); supplied values (BY
      // DEFAULT) may sit anywhere, and future assignments must clear
      // them while staying on the start/step lattice
      val hiOpt = assigned.maxOption
      (n, st, sp, hiOpt match {
        case Some(hi) if hi >= wm => wm + ((hi - wm) / sp + 1L) * sp
        case _ => wm
      }, bd)
    }
    // OPTIMISTIC CONCURRENT APPENDS: the checked no-overwrite publish
    // turns a same-version race into a loud loss — and for an APPEND
    // the loss is retryable, because appends never conflict logically:
    // the staged files are already written under their unique dir, so
    // the loser just re-reads the new head, re-validates the batch
    // shape against it (the winner may have widened the schema — a
    // batch now missing a recorded column is a REAL conflict and still
    // fails loudly), and re-publishes carried-from-new-head ∪ staged at
    // head+1. Bounded retries; replace keeps the strict single-writer
    // contract (its semantics — "the table becomes exactly this" — are
    // not commutative), as do upsert/compact/restore.
    fireRaceHook(if (replace) "replace" else "append")
    var attempt = 0
    var curPrev = prev
    var curV = v
    var curSchema = tableSchema
    while (true) {
      val carried =
        if (replace) Seq.empty
        else curPrev.map(_.files).getOrElse(Seq.empty)
      // the txn ledger survives every commit kind — even a replace: a
      // stream's replay detection must not reset because a batch job
      // rewrote the table underneath it (COPY INTO's per-file entries
      // ride the same ledger — exactly-once by file identity)
      val txns = curPrev.map(_.txns).getOrElse(Map.empty) ++ txn.toMap ++ copyLedger
      try {
        publish(fs, root, curV, carried ++ withStats, Some(curSchema), partitionCols,
          txns, op = Some(if (replace) "replace" else "append"),
          constraints = prev.map(_.constraints).getOrElse(Map.empty),
          colMap = colMapOut,
          droppedPhys = droppedOut, bloomCols = bloomColsOut,
          statsColsDefault = statsColsOut,
          generated = genCols,
          defaults = curPrev.map(_.defaults).getOrElse(Seq.empty),
          identity = newIdentity.orElse(curPrev.flatMap(_.identity)),
          clusterCols = curPrev.map(_.clusterCols).getOrElse(Seq.empty),
          extras = curPrev.map(_.extras).getOrElse(Seq.empty),
          fieldMap = curPrev.map(_.fieldMap).getOrElse(Seq.empty),
          fieldDropped = curPrev.map(_.fieldDropped).getOrElse(Seq.empty),
          // an append drops nothing: the delta is exactly the staged
          // files (a replace rewrites wholesale and snapshots)
          deltaHint = if (replace) None else Some((withStats, Seq.empty)))
        return curV
      } catch {
        case e: IllegalStateException if !replace && attempt >= 5 =>
          retriesExhausted(fs, "append", path, Seq(commitDir), e)
        case e: IllegalStateException if !replace && attempt < 5 =>
          attempt += 1
          val headV = currentVersion(spark, path).getOrElse(throw e)
          val headM = readManifest(fs, root, headV)
          // the winner may have BEEN this batch (an at-least-once
          // redelivery racing itself): the ledger decides, same as the
          // entry check — withdraw the duplicate stage entirely
          if (txn.exists { case (app, b) => headM.txns.get(app).exists(_ >= b) }) {
            fs.delete(commitDir, true)
            return headV
          }
          // a racing COPY INTO already recorded some of THIS
          // invocation's source files: rebasing would load them twice —
          // withdraw instead; a re-run recomputes its candidate set
          // from the new head and skips what the winner loaded
          if (copyLedger.keys.exists(headM.txns.contains)) {
            fs.delete(commitDir, true)
            throw new IllegalStateException(
              s"COPY INTO $path lost its race to a concurrent COPY that " +
                "loaded overlapping source files — nothing published by " +
                s"this invocation; the table is intact at v$headV. Re-run " +
                "the COPY (already-loaded files are skipped).", e)
          }
          // the winner moved the IDENTITY watermark: the values this
          // batch staged were generated from the OLD one and may
          // overlap the winner's — withdraw the stage and RE-STAGE from
          // the new head (bounded; disjoint ranges are the contract,
          // never an overlapping publish)
          if (identityPrev.exists(pi => headM.identity.exists(_._4 != pi._4))) {
            fs.delete(commitDir, true)
            if (identityRestage >= 5)
              retriesExhausted(fs, "append", path, Seq.empty,
                new IllegalStateException(
                  "identity watermark moved on every restage attempt"))
            return writePinned(spark, df, path, partitionCols, replace, txn,
              statsCols, bloomCols, identityRestage + 1, copyLedger)
          }
          // a constraint added by the winner was never checked against
          // this batch — adopting it unvalidated would publish unjudged
          // rows under a declared contract: genuine conflict
          require(effectiveConstraints(headM) == consLogical.toMap,
            s"append to $path lost its race to a commit that changed the " +
              "table's CHECK constraints — the batch was not validated " +
              "against them; re-run the append")
          require(headM.colMap == mapping,
            s"append to $path lost its race to a commit that changed the " +
              "table's column mapping — the batch was renamed under the old " +
              "mapping; re-run the append")
          require(headM.fieldMap == prevFieldMap,
            s"append to $path lost its race to a commit that changed the " +
              "table's nested-field mapping — the batch's struct columns were " +
              "cast under the old mapping; re-run the append")
          curSchema = headM.schema match {
            case Some(recorded) =>
              require(headM.partCols == partitionCols,
                s"append partitioned by ${partitionCols.mkString(",")} but the " +
                  s"table (after a concurrent commit) is partitioned by " +
                  s"${headM.partCols.mkString(",")} — genuine conflict, not retryable")
              widen(recorded, df.schema, partitionCols, "append")
            case None =>
              // a concurrent writer replaced the table with a headerless
              // manifest mid-race — pre-header writers are single-writer
              // by contract; surface the race rather than guess
              throw e
          }
          curPrev = Some(headM)
          curV = headV + 1
      }
    }
    curV // unreachable; the loop exits via return
  }

  /** Read a manifest's live files as ONE scan via [[ManifestFileIndex]]:
    * the file list, sizes, and partition values all come from the
    * manifest, so planning costs ZERO filesystem listing calls, the
    * plan holds one scan node no matter how many commits produced the
    * files, and partition values are typed by the RECORDED schema —
    * not per-commit directory inference, which both grew the plan
    * linearly with commit count and could silently null-cast a
    * partition column whose directory values inferred differently
    * across commits. Partition pruning still happens at the scan (the
    * index evaluates partition predicates against the typed values).
    * Headerless legacy manifests fall back to the per-commit grouped
    * union.
    */
  private def readFiles(spark: SparkSession, fs: FileSystem, root: Path,
                        m: Manifest): DataFrame = m.schema match {
    case Some(schema) =>
      val (masked, plain) = m.files.partition(_.dv.isDefined)
      // HadoopFsRelation appends partition columns after data columns;
      // present the table in its recorded column order
      def scanOf(files: Seq[LiveFile]) = spark.baseRelationToDataFrame(
        hadoopFsRelation(spark, fs, root, m.copy(files = files)))
      if (masked.isEmpty)
        scanOf(m.files).select(schema.fieldNames.map(col): _*)
      else {
        // DELETION-VECTOR masked files: scan with the parquet reader's
        // (file_path, row_index) metadata and anti-join the referenced
        // DV rows — the masked rows vanish without the files having
        // moved. DV row volume is bounded by masked-row count, and only
        // the files CARRYING a mask pay the join; unmasked files keep
        // the plain single scan.
        val dvDirs = masked.flatMap(_.dv).distinct
          .map(p => fs.makeQualified(new Path(root, p)).toString)
        val dvDf = spark.read.parquet(dvDirs: _*)
          .select(dvRelExpr(col("file_path")).as("__dv_fp"),
            col("row_index").as("__dv_ri"))
        val maskedDf = scanOf(masked)
          .select(relPathExpr(col("_metadata.file_path")).as("__dv_fp") +:
            col("_metadata.row_index").as("__dv_ri") +:
            schema.fieldNames.map(col): _*)
          .join(dvDf, Seq("__dv_fp", "__dv_ri"), "left_anti")
          .select(schema.fieldNames.map(col): _*)
        if (plain.isEmpty) maskedDf
        else scanOf(plain).select(schema.fieldNames.map(col): _*)
          .unionByName(maskedDf)
      }
    case None => readFilesGrouped(spark, root, m.files.map(_.path))
  }

  /** The manifest's live set as a [[HadoopFsRelation]] over a
    * [[ManifestFileIndex]] — the relation object behind both the
    * programmatic read AND the `graft-manifest` data source
    * ([[ManifestDataSource]]). Column order is the relation's native
    * data-columns-then-partition-columns (the data source contract);
    * [[readFiles]] re-orders to the recorded schema on top.
    */
  private def hadoopFsRelation(
      spark: SparkSession, fs: FileSystem, root: Path,
      m: Manifest): org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val schema = m.schema.get
    val partSchema = StructType(m.partCols.map(c => schema(c)).toArray)
    val dataSchema =
      StructType(schema.fields.filterNot(f => m.partCols.contains(f.name)))
    val statuses = m.files.map { f =>
      (f, new org.apache.hadoop.fs.FileStatus(
        f.bytes, false, 1, 1, 0L, fs.makeQualified(new Path(root, f.path))))
    }
    // generated PARTITION columns, translated to PHYSICAL names — the
    // filter-inference seam: an equality filter on the (single) base
    // column lets the optimizer derive the partition predicate
    val cm = m.colMap.getOrElse(schema.fieldNames.toSeq.map(n => n -> n))
    val physOf = cm.toMap
    val genPart = m.generated.flatMap { case (n, e) =>
      val phys = physOf.getOrElse(n, n)
      if (!m.partCols.exists(_.equalsIgnoreCase(phys))) None
      else {
        val physExpr =
          try exprToPhysical(spark, e, cm, m.fieldMap)
          catch { case scala.util.control.NonFatal(_) => e }
        val bases =
          try spark.sessionState.sqlParser.parseExpression(physExpr).collect {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              u.nameParts.mkString(".")
          }.distinct
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        // single-base expressions only: f(lit) is well-defined from one
        // equality; multi-base inference would need a cross product
        bases match {
          case Seq(one) if dataSchema.fieldNames.contains(one) =>
            // TZ gate: a TIMESTAMP-based generation is only well-defined
            // relative to its declared session zone — inference (which
            // derives ROW predicates, not just prunes) engages only when
            // this reader's zone matches the recorded pin; unpinned
            // legacy declarations and mismatched readers scan unpruned,
            // which is always sound
            val tzSensitive =
              dataSchema(one).dataType ==
                org.apache.spark.sql.types.TimestampType
            val tzOk = !tzSensitive || m.extras.contains(
              ("gentz:" + phys,
                spark.sessionState.conf.sessionLocalTimeZone))
            if (tzOk) Some((phys, physExpr, one)) else None
          case _ => None
        }
      }
    }
    val index = new ManifestFileIndex(spark, fs.makeQualified(root), partSchema,
      dataSchema, statuses, ref => bloomsAt(fs, root, ref), m.bloomCols.toSet,
      genPart)
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty[String, String])(spark)
  }

  /** [[org.apache.spark.sql.sources.BaseRelation]] for the table at
    * `path` (at `version`, or the head) — the entry point
    * [[ManifestDataSource]] serves `spark.read.format("graft-manifest")`
    * and `CREATE TEMPORARY VIEW … USING graft-manifest` from. Requires a
    * schema-headed manifest: the relation's explicit schema IS the
    * recorded one, and a headerless legacy manifest has nothing to
    * record — those read only through [[read]]'s grouped fallback (one
    * replace-write adopts a header and unlocks the SQL surface).
    */
  private[etl] def relation(spark: SparkSession, path: String,
                            version: Option[Long]): org.apache.spark.sql.sources.BaseRelation = {
    val (fs, root) = fsFor(spark, path)
    val head = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest table at $path (no _manifest/v*.list published)"))
    val v = version.getOrElse(head)
    if (existingManifestPath(fs, root, v).isEmpty)
      throw new IllegalArgumentException(
        s"version $v of $path does not exist (never published, or vacuumed); " +
          s"available: ${versions(spark, path).map(_._1).mkString(", ")}")
    val m = readManifest(fs, root, v)
    if (m.schema.isEmpty)
      throw new IllegalArgumentException(
        s"manifest v$v of $path predates the schema header — the " +
          "graft-manifest data source needs the recorded schema; read it " +
          "with ManifestLake.read, or replace-write once to adopt a header")
    if (m.colMap.isDefined)
      throw new IllegalArgumentException(
        s"$path uses column mapping (renamed/dropped columns) — the raw " +
          "graft-manifest relation would serve PHYSICAL column names; read " +
          "it with ManifestLake.read (and register a temp view for SQL)")
    if (m.fieldMap.nonEmpty)
      throw new IllegalArgumentException(
        s"$path uses nested-field mapping (renamed struct fields) — the raw " +
          "graft-manifest relation would serve PHYSICAL field names; read " +
          "it with ManifestLake.read (and register a temp view for SQL)")
    if (m.files.exists(_.dv.isDefined))
      throw new IllegalArgumentException(
        s"$path carries deletion vectors — the raw graft-manifest relation " +
          "would serve masked rows; read it with ManifestLake.read (and " +
          "register a temp view for SQL), or compact to materialize the masks")
    hadoopFsRelation(spark, fs, root, m)
  }

  /** The legacy (pre-schema-header) read: one DataFrame per per-commit
    * dir so partition-column discovery works, later groups aligned to
    * the first group's inferred schema. Kept for headerless manifests
    * and as the oracle the single-scan path is spec-checked against —
    * its plan grows with commit count, which is exactly why it is no
    * longer the default.
    */
  private[etl] def readFilesGrouped(spark: SparkSession, root: Path,
                                    files: Seq[String]): DataFrame = {
    val groups = files.groupBy(_.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
    val frames = groups.map { case (commitDir, fls) =>
      spark.read
        .option("basePath", new Path(root, commitDir).toString)
        .parquet(fls.map(f => new Path(root, f).toString): _*)
    }
    frames.reduce { (a, b) =>
      val cols = a.schema.fields.map(f => col(f.name).cast(f.dataType))
      a.unionByName(b.select(cols: _*))
    }
  }

  /** The table's commit history as a DataFrame — the DESCRIBE HISTORY
    * analog: one row per published (not-yet-vacuumed) version, oldest
    * first, with the commit kind (`#op`; null for pre-directive legacy
    * commits), live file count, live bytes, and the txn ledger
    * rendered `appId=batchId` sorted — the operational at-a-glance
    * surface for "what happened to this table and where is every
    * writer's watermark". Costs one directory listing plus one
    * KB-manifest read per version (cached after the first).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, path)
    listVersions(fs, root).map { v =>
      val m = readManifest(fs, root, v)
      (v, m.op.orNull, m.files.length.toLong, m.files.map(_.bytes).sum,
        m.txns.toSeq.sorted.map { case (a, b) => s"$a=$b" }.mkString(","))
    }.toDF("version", "op", "n_files", "total_bytes", "txns")
  }

  /** One-row table summary — the DESCRIBE DETAIL analog: head version,
    * live file count and bytes, partition columns, per-column stats
    * coverage (how many live files carry [min,max] bounds, null
    * counts, and value sets — the number that says whether a skipping
    * predicate on that column can actually skip), and whether the head
    * commit stamped row-level change files. Costs one manifest read;
    * the operational "is this table healthy and skippable" glance the
    * maintenance cadence keys off.
    */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    def coverage(keysOf: LiveFile => Iterable[String]): String = {
      val byCol = m.files.flatMap(f => keysOf(f).map(_ -> 1))
        .groupBy(_._1).map { case (c, xs) => c -> xs.size }
      byCol.toSeq.sorted.map { case (c, n) => s"$c=$n/${m.files.length}" }.mkString(",")
    }
    Seq((
      v,
      m.op.orNull,
      m.files.length.toLong,
      m.files.map(_.bytes).sum,
      m.partCols.mkString(","),
      m.schema.map(_.fieldNames.length.toLong).getOrElse(-1L),
      coverage(_.stats.keys),
      coverage(_.nullCounts.keys),
      coverage(_.valueSets.keys),
      m.cdf.isDefined,
      m.txns.size.toLong,
      m.constraints.toSeq.sortBy(_._1)
        .map { case (n, e) => s"$n: $e" }.mkString("; "),
      m.colMap.map(_.filter { case (l, p) => l != p }
        .map { case (l, p) => s"$l->$p" }.mkString(",")).getOrElse(""),
      m.clusterCols.mkString(",")))
      .toDF("version", "op", "n_files", "total_bytes", "partition_cols",
        "n_columns", "bounds_coverage", "null_count_coverage",
        "value_set_coverage", "change_feed", "n_writers", "constraints",
        "column_mapping", "clustering_cols")
  }

  /** Every published (not-yet-vacuumed) version of the table, oldest
    * first, with its live file count and total bytes — the time-travel
    * discovery surface ([[readVersion]] takes one of these). Costs one
    * directory listing plus one KB-manifest read per version.
    */
  def versions(spark: SparkSession, path: String): Seq[(Long, Int, Long)] = {
    val (fs, root) = fsFor(spark, path)
    listVersions(fs, root)
      .map { v =>
        val files = readManifest(fs, root, v).files
        (v, files.length, files.map(_.bytes).sum)
      }
  }

  /** The latest version published at or before `tsMillis`, where a
    * version's publish instant is its manifest file's modification
    * time — the rename/link that commits it stamps the clock, the same
    * commit-file-mtime definition Delta resolves timestamps by. Typed
    * error when nothing retained is that old (the table is younger, or
    * vacuum reaped past it) — naming the earliest retained instant so
    * the caller can re-aim.
    */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val (fs, root) = fsFor(spark, path)
    val vs = listVersions(fs, root)
    if (vs.isEmpty)
      throw new IllegalArgumentException(s"no manifested table at $path")
    val raw = vs.map { v =>
      v -> fs.getFileStatus(existingManifestPath(fs, root, v).get).getModificationTime
    }
    // a restored/copied table or writer clock skew can leave mtimes
    // NON-monotonic in version number, making "latest at instant"
    // ambiguous — monotonize (mtime(v) >= mtime(v-1)) before filtering,
    // the same commit-timestamp adjustment Delta applies
    val stamped = raw.tail.scanLeft(raw.head) { case ((_, prev), (v, t)) =>
      v -> math.max(prev, t)
    }
    stamped.filter(_._2 <= tsMillis).map(_._1).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no version of $path existed at ${java.time.Instant.ofEpochMilli(tsMillis)} — " +
          s"earliest retained version v${stamped.head._1} was published at " +
          s"${java.time.Instant.ofEpochMilli(stamped.head._2)} (older versions may " +
          "have been vacuumed)"))
  }

  /** EARLIEST version committed at-or-after `tsMillis` — the change-feed
    * START-timestamp convention (Delta's CDF: a start timestamp includes
    * every commit made at or after that instant, including one landing
    * exactly at it), the mirror of [[versionAtTimestamp]]'s latest-at-or-
    * before used by time travel and END bounds. Commit times are
    * monotonized the same way. Throws when the timestamp is after the
    * last commit (no changes could ever satisfy the bound).
    */
  def earliestVersionAtOrAfter(spark: SparkSession, path: String,
                               tsMillis: Long): Long = {
    val (fs, root) = fsFor(spark, path)
    val vs = listVersions(fs, root)
    if (vs.isEmpty)
      throw new IllegalArgumentException(s"no manifested table at $path")
    val raw = vs.map { v =>
      v -> fs.getFileStatus(existingManifestPath(fs, root, v).get).getModificationTime
    }
    val stamped = raw.tail.scanLeft(raw.head) { case ((_, prev), (v, t)) =>
      v -> math.max(prev, t)
    }
    stamped.find(_._2 >= tsMillis).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no commit of $path at or after ${java.time.Instant.ofEpochMilli(tsMillis)} — " +
          s"the last commit v${stamped.last._1} was published at " +
          s"${java.time.Instant.ofEpochMilli(stamped.last._2)}"))
  }

  /** Time travel by wall clock: [[readVersion]] at
    * [[versionAtTimestamp]]'s resolution.
    */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readVersion(spark, path, versionAtTimestamp(spark, path, tsMillis))

  /** The row-level change feed by WALL CLOCK: every change published
    * strictly after `fromTsMillis`, up to and including the last
    * version published at or before `toTsMillis` — both bounds resolve
    * through [[versionAtTimestamp]]'s monotonized commit clock, so the
    * window is exactly `(versionAt(from), versionAt(to)]`. An empty
    * window (nothing committed between the instants) is the empty frame
    * with the feed's schema, not an error.
    */
  def readChangeFeedByTime(spark: SparkSession, path: String,
                           fromTsMillis: Long, toTsMillis: Long,
                           skipUnresolved: Boolean = false): DataFrame = {
    require(toTsMillis >= fromTsMillis,
      s"need fromTs <= toTs, got $fromTsMillis > $toTsMillis")
    val fromV = versionAtTimestamp(spark, path, fromTsMillis)
    val toV = versionAtTimestamp(spark, path, toTsMillis)
    if (toV <= fromV) emptyChangeFeed(spark, path, toV)
    else readChangeFeed(spark, path, fromV, toV, skipUnresolved)
  }

  /** The change feed's EMPTY frame — `v`'s recorded logical schema
    * plus the feed's metadata columns, zero rows. What a legitimately
    * empty change window serves (instead of an error), so feed
    * consumers can select/filter/aggregate unconditionally.
    */
  def emptyChangeFeed(spark: SparkSession, path: String, v: Long): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    val head = readManifest(fs, root, v)
    val s = StructType(
      (if (head.schema.isDefined) logicalSchemaOf(head).fields.toSeq
       else Seq.empty) ++ Seq(StructField(ChangeTypeCol, StringType),
        StructField(CommitVersionCol, LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
  }

  /** Read a specific published version (time travel / in-flight scans).
    * An empty version returns an empty frame WITH the recorded table
    * schema — callers can select/filter/aggregate the table's columns
    * on a legitimately-empty version (the spec-blessed empty-replace
    * state) and get empty results, not an AnalysisException. A version
    * that was never published or has been vacuumed is a typed error
    * naming what IS available, not a raw FileNotFoundException.
    */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    if (existingManifestPath(fs, root, v).isEmpty)
      throw new IllegalArgumentException(
        s"version $v of $path does not exist (never published, or vacuumed); " +
          s"available: ${versions(spark, path).map(_._1).mkString(", ")}")
    val m = readManifest(fs, root, v)
    if (m.files.isEmpty)
      m.schema match {
        case Some(_) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logicalSchemaOf(m))
        case None => spark.emptyDataFrame
      }
    else toLogical(readFiles(spark, fs, root, m), m)
  }

  /** The rows ADDED to the table after version `fromV`, up to and
    * including `toV` — the append-only CHANGE FEED an incremental
    * consumer (a downstream training-data job, an index builder) reads
    * instead of re-scanning the whole table per poll. Pair with
    * [[versions]]/[[currentVersion]] to discover `toV` and with the
    * consumer's own checkpoint of the last `toV` it processed; costs
    * one manifest read per version in the range plus a scan of ONLY
    * the added files.
    *
    * Defined ONLY over ranges where every commit is a recorded append
    * (`#op append`, stamped by every commit since the directive
    * existed): appends only ever ACCRETE files, so the added rows are
    * exactly the head's files minus `fromV`'s — and anything else in
    * the range (compaction, upsert, replace, restore — ops that move
    * or rewrite rows; or a legacy manifest that cannot prove what it
    * was) is a typed refusal, never a silently-wrong feed — unless
    * `skipNonAppend = true`, which SKIPS those versions entirely:
    * their files never surface as adds, and later appends diff against
    * the post-rewrite live set. That is the Delta-`ignoreChanges`-style
    * escape hatch the streaming source offers for tables under
    * periodic compaction, with the same caveat: rows rewritten by a
    * skipped upsert/replace are silently not fed. `fromV` itself may
    * be any commit kind — the feed starts after it. `fromV = 0` means
    * "since before the table existed" (every live file at `toV` is a
    * change).
    */
  def readChanges(spark: SparkSession, path: String, fromV: Long, toV: Long,
                  skipNonAppend: Boolean = false): DataFrame = {
    require(fromV >= 0 && toV > fromV, s"need 0 <= fromV < toV, got fromV=$fromV toV=$toV")
    val (fs, root) = fsFor(spark, path)
    def manifestAt(v: Long): Manifest = {
      if (existingManifestPath(fs, root, v).isEmpty)
        throw new IllegalArgumentException(
          s"version $v of $path does not exist (never published, or vacuumed); " +
            s"available: ${versions(spark, path).map(_._1).mkString(", ")}")
      readManifest(fs, root, v)
    }
    // the table-CREATING commit (v1) is an append from empty whatever
    // its flag says — a replace there had nothing to rewrite
    def isAppend(v: Long, m: Manifest): Boolean =
      m.op.contains("append") ||
        (v == 1 && (m.op.contains("replace") || m.op.contains("adopt")))
    var prevPaths: Set[String] =
      if (fromV == 0) Set.empty
      else manifestAt(fromV).files.map(_.path).toSet
    val added = Seq.newBuilder[LiveFile]
    var head: Manifest = Manifest(None, Seq.empty, Seq.empty)
    ((fromV + 1) to toV).foreach { v =>
      val m = manifestAt(v)
      if (isAppend(v, m))
        added ++= m.files.filterNot(f => prevPaths.contains(f.path))
      // metadata-shaped commit with the path set unchanged: provably no
      // new/moved rows — an empty diff, never a feed-killer (see
      // [[isEmptyMetadataDiff]])
      else if (m.op.exists(MetadataOps) &&
        m.files.map(_.path).toSet == prevPaths) ()
      else if (!skipNonAppend)
        throw new IllegalArgumentException(
          s"version $v of $path is ${m.op.map("a " + _).getOrElse("an untagged legacy commit")}, " +
            "not an append — the change feed is defined only over append-only " +
            "ranges (compaction/upsert/replace/restore move or rewrite rows; " +
            "use readChangeFeed for row-level deltas across upserts, read a " +
            "full version instead, or opt into skipNonAppend)")
      prevPaths = m.files.map(_.path).toSet
      head = m
    }
    val files = added.result()
    if (files.isEmpty)
      head.schema match {
        case Some(_) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logicalSchemaOf(head))
        case None => spark.emptyDataFrame
      }
    else toLogical(
      readFiles(spark, fs, root, Manifest(head.schema, head.partCols, files)), head)
  }

  /** The ROW-LEVEL change feed over `(fromV, toV]` — table columns plus
    * `_change_type` (insert / update_preimage / update_postimage) and
    * `_commit_version`, the Delta-CDF-shaped answer for consumers
    * downstream of a table under periodic upserts, where the
    * append-only [[readChanges]] must refuse or silently skip rewrites:
    *
    *  - an APPEND commit contributes its added files as `insert` rows
    *    (no change files needed — the manifest diff IS the delta);
    *  - an UPSERT / MERGE / UPDATE commit serves the exact
    *    pre/post-image/insert rows it stamped under its hidden `_cdf`
    *    dir at commit time, and a DELETE commit its `delete` rows —
    *    deletion-vector deletes included (a rewrite committed before
    *    stamping existed has no provable row deltas — typed refusal,
    *    or skipped under `skipUnresolved`);
    *  - a COMPACT commit contributes NOTHING: compaction (and z-order)
    *    is layout-only with content verified invariant, so unlike
    *    Delta — which cannot prove row identity across a rewrite and
    *    forces `ignoreChanges` — it is exactly zero row changes here;
    *  - REPLACE / RESTORE / legacy-untagged commits rewrite rows
    *    wholesale with no recorded deltas: typed refusal, or skipped
    *    under `skipUnresolved` (the table-creating v1 counts as an
    *    append, as everywhere).
    *
    * Costs one manifest read per version plus a scan of ONLY each
    * version's added/changed files. Change files live until [[vacuum]]
    * drops their version below the retention horizon — the feed's
    * lookback window is the same `keepVersions` window time travel has.
    * Widening in the range is served as typed nulls on the older
    * versions' rows, column order following `toV`'s recorded schema.
    */
  def readChangeFeed(spark: SparkSession, path: String, fromV: Long, toV: Long,
                     skipUnresolved: Boolean = false): DataFrame = {
    require(fromV >= 0 && toV > fromV, s"need 0 <= fromV < toV, got fromV=$fromV toV=$toV")
    val (fs, root) = fsFor(spark, path)
    val head = manifestAtOrFail(spark, path, toV)
    // a table that HAS a column named like the feed's metadata (written
    // by appends, which legally accept any name) cannot be served — the
    // stamped columns would shadow the user's data
    head.schema.foreach(s => Seq(ChangeTypeCol, CommitVersionCol).foreach(r =>
      require(!s.fieldNames.contains(r) &&
        !logicalSchemaOf(head).fieldNames.contains(r),
        s"table column $r collides with the change feed's reserved metadata column")))
    def refuse(v: Long, what: String): Nothing =
      throw new IllegalArgumentException(
        s"version $v of $path is $what — its row-level deltas are not " +
          "derivable (read a full version instead, or opt into skipUnresolved)")
    val frames = ((fromV + 1) to toV).flatMap { v =>
      val m = manifestAtOrFail(spark, path, v)
      if (isAppendCommit(v, m)) {
        val prevPaths =
          if (v <= 1) Set.empty[String]
          else manifestAtOrFail(spark, path, v - 1).files.map(_.path).toSet
        val added = m.files.filterNot(f => prevPaths.contains(f.path))
        if (added.isEmpty) None
        else Some(readFiles(spark, fs, root, Manifest(m.schema, m.partCols, added))
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitVersionCol, lit(v)))
      } else if (m.op.exists(o => o == "compact" || o == "constraint" ||
        o == "schema" || o == "analyze" || o == "properties" ||
        o == "materialize")) None // layout/metadata-only: rows identical
      // bloom-only FSCK keeps every entry (path set unchanged) — no row
      // moved; an entry-DROPPING fsck falls through to the refusal (rows
      // vanished out-of-band, unrepresentable as change rows)
      else if (m.op.contains("fsck") && m.files.map(_.path).toSet ==
        manifestAtOrFail(spark, path, v - 1).files.map(_.path).toSet) None
      else if (m.op.exists(o =>
        o == "upsert" || o == "delete" || o == "merge" || o == "update" ||
        o == "replacepart")) {
        val dir = cdfPathOf(root, v, m)
        m.schema match {
          case Some(s) if fs.exists(dir) =>
            Some(spark.read
              .schema(StructType(s.fields :+ StructField(ChangeTypeCol, StringType)))
              .parquet(dir.toString)
              .withColumn(CommitVersionCol, lit(v)))
          case _ if skipUnresolved => None
          case _ => refuse(v, s"${m.op.map("a " + _).get} with no stamped change files " +
            "(stamping disabled via changeFeed=false, committed before change " +
            "stamping existed, or its _cdf dir was vacuumed)")
        }
      } else if (skipUnresolved) None
      else refuse(v, m.op.map("a " + _).getOrElse("an untagged legacy commit"))
    }
    // one STABLE schema for every window: the metadata columns read
    // back nullable from stamped parquet but non-null from lit()-built
    // insert frames, so without normalization an append-only window, a
    // mixed window, and an empty window would each declare different
    // nullability — downstream schema checks would flap. Values are
    // never null; the declared type is uniformly nullable.
    val metaFields = Seq(StructField(ChangeTypeCol, StringType),
      StructField(CommitVersionCol, LongType))
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true)) match {
      case Some(df) =>
        // column order follows the head's recorded schema; versions
        // before a widening lack the new columns and carry typed nulls
        val norm = metaFields.foldLeft(df)((d, f) =>
          d.withColumn(f.name, when(lit(true), col(f.name))))
        val physOrdered = head.schema match {
          case Some(s) =>
            norm.select((s.fieldNames.toSeq ++ metaFields.map(_.name)).map(col): _*)
          case None => norm
        }
        // logical names at the boundary — toV's mapping names the whole
        // window, the same rule widening applies to column ORDER
        toLogical(physOrdered, head, extraCols = metaFields.map(_.name))
      case None =>
        val s = StructType(
          (if (head.schema.isDefined) logicalSchemaOf(head).fields.toSeq
           else Seq.empty) ++ metaFields)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    }
  }

  // ---- building blocks for the rate-limited streaming source ----
  // The source slices version file-lists into bounded micro-batches, so
  // it needs the per-version pieces readChanges composes internally:
  // a typed-error manifest fetch, the append test, the per-version
  // added-file diff, and "read exactly THESE live files".

  /** Manifest at `v`, or the same typed vacuumed/never-published error
    * the batch readers raise.
    */
  private[graft] def manifestAtOrFail(spark: SparkSession, path: String,
                                      v: Long): Manifest = {
    val (fs, root) = fsFor(spark, path)
    if (existingManifestPath(fs, root, v).isEmpty)
      throw new IllegalArgumentException(
        s"version $v of $path does not exist (never published, or vacuumed); " +
          s"available: ${versions(spark, path).map(_._1).mkString(", ")}")
    readManifest(fs, root, v)
  }

  /** Whether commit `v` is an append (the table-creating v1 counts even
    * when flagged replace — it had nothing to rewrite). Same rule
    * [[readChanges]] applies.
    */
  private[graft] def isAppendCommit(v: Long, m: Manifest): Boolean =
    m.op.contains("append") ||
      (v == 1 && (m.op.contains("replace") || m.op.contains("adopt") ||
        m.op.contains("clone")))

  /** Commit kinds that are metadata-shaped: when one of these ALSO
    * left the live PATH SET unchanged, it provably added/moved no rows
    * and the append feed serves it as an EMPTY diff instead of failing
    * the stream — a routine ADD CONSTRAINT / ANALYZE / SET
    * TBLPROPERTIES / metadata-only ALTER must not kill every consumer
    * (Delta tolerates metadata-only commits the same way). The path-set
    * check is load-bearing, not belt-and-braces: a generated-column
    * BACKFILL rewrites every file under op=schema — rows moved, and the
    * feed still refuses it.
    */
  private val MetadataOps = Set("constraint", "properties", "analyze", "schema")

  private[graft] def isEmptyMetadataDiff(spark: SparkSession, path: String,
                                         v: Long, m: Manifest): Boolean =
    v > 1 && m.op.exists(MetadataOps) && {
      val prev = manifestAtOrFail(spark, path, v - 1)
      m.files.map(_.path).toSet == prev.files.map(_.path).toSet
    }

  /** The files version `v` ADDED over `v - 1`, path-sorted (chunk
    * boundaries must be deterministic across restarts). A non-append
    * commit yields nothing under `skipNonAppend`, else the same typed
    * refusal as [[readChanges]].
    */
  private[graft] def addedFilesAt(spark: SparkSession, path: String, v: Long,
                                  skipNonAppend: Boolean): Seq[LiveFile] = {
    val m = manifestAtOrFail(spark, path, v)
    if (isAppendCommit(v, m)) {
      val prevPaths =
        if (v <= 1) Set.empty[String]
        else manifestAtOrFail(spark, path, v - 1).files.map(_.path).toSet
      m.files.filterNot(f => prevPaths.contains(f.path)).sortBy(_.path)
    } else if (isEmptyMetadataDiff(spark, path, v, m)) Seq.empty
    else if (skipNonAppend) Seq.empty
    else throw new IllegalArgumentException(
      s"version $v of $path is ${m.op.map("a " + _).getOrElse("an untagged legacy commit")}, " +
        "not an append — the change feed is defined only over append-only " +
        "ranges (compaction/upsert/replace/restore move or rewrite rows; " +
        "read a full version instead, or opt into skipNonAppend)")
  }

  /** Version `v`'s full live set, path-sorted — the snapshot list the
    * streaming source chunks.
    */
  private[graft] def liveFilesAt(spark: SparkSession, path: String,
                                 v: Long): Seq[LiveFile] =
    manifestAtOrFail(spark, path, v).files.sortBy(_.path)

  /** Read exactly `files` (already known live at some version) under
    * `head`'s recorded shape — the single-scan manifest read over an
    * arbitrary file slice. Empty slice = empty frame WITH the recorded
    * schema.
    */
  private[graft] def readFileSliceLogical(spark: SparkSession, path: String,
                                          head: Manifest,
                                          files: Seq[LiveFile]): DataFrame =
    toLogical(readFileSlice(spark, path, head, files), head)

  private[graft] def readFileSlice(spark: SparkSession, path: String,
                                   head: Manifest,
                                   files: Seq[LiveFile]): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    if (files.isEmpty)
      head.schema match {
        case Some(s) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
        case None => spark.emptyDataFrame
      }
    else readFiles(spark, fs, root, Manifest(head.schema, head.partCols, files))
  }

  /** Read the table at its highest published version. A table that was
    * never created reads as the schema-less empty frame (there is no
    * schema anywhere to give it).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    currentVersion(spark, path) match {
      case Some(v) => readVersion(spark, path, v)
      case None => spark.emptyDataFrame
    }

  /** Read the table with STABLE ROW IDENTITY — every row carries
    * `_row_file` (the manifest-relative path of the data file holding
    * it) and `_row_index` (its position within that file): the Delta
    * row-tracking shape, free here because rows never move without a
    * commit. The pair is stable across every commit that doesn't
    * rewrite the row's file (appends, metadata ops, deletes elsewhere,
    * deletion-vector masks — masked rows simply vanish) and changes
    * exactly when a rewrite (compact/upsert/update/merge) re-homes the
    * row — the honest contract, stated instead of hidden. Incremental
    * consumers join on the pair to detect moved/changed rows without
    * content hashing.
    */
  def readWithRowIds(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — row ids need the " +
        "recorded schema (run one append or upsert to adopt a header first)")
    val logical = logicalSchemaOf(m)
    Seq("_row_file", "_row_index").foreach(r =>
      require(!logical.fieldNames.contains(r),
        s"column name $r is reserved for row identity"))
    if (m.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(logical.fields ++ Seq(StructField("_row_file", StringType),
          StructField("_row_index", LongType))))
    // manifest-relative path from the reader's file_path: decode, then
    // take everything from the LAST '/data/v' marker — the same
    // resolution collectStats applies, in codegen'd string ops (no UDF)
    toLogical(scanWithRowMeta(spark, fs, root, m, m.files), m,
      extraCols = Seq("__dv_fp", "__dv_ri"))
      .withColumn("_row_file",
        concat(lit(DataDir + "/v"),
          element_at(split(uriDecode(col("__dv_fp")), "/" + DataDir + "/v"), -1)))
      .withColumn("_row_index", col("__dv_ri").cast("long"))
      .drop("__dv_fp", "__dv_ri")
  }

  /** Metadata-only fragmentation inventory — [[Lake.inventory]]'s twin
    * for manifested tables, except it costs ONE manifest read and an
    * in-memory fold: no filesystem listing, no per-file stats. One row
    * per live partition with file count, bytes, largest file, and
    * whether [[compact]] would rewrite it at `targetBytes`.
    */
  def inventory(spark: SparkSession, path: String,
                targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, path)
    val rows = currentVersion(spark, path) match {
      case None => Seq.empty
      case Some(v) =>
        readManifest(fs, root, v).files
          .groupBy(f => partDirOf(f.path))
          .toSeq.sortBy(_._1)
          .map { case (part, fls) =>
            val bytes = fls.map(_.bytes).sum
            val want = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
            (part, fls.length.toLong, bytes,
              if (fls.isEmpty) 0L else fls.map(_.bytes).max,
              fls.length > want)
          }
    }
    rows.toDF("partition_dir", "n_files", "total_bytes", "max_file_bytes",
      "needs_compaction")
  }

  /** Small-file compaction under manifest commit: partitions whose live
    * file count exceeds ceil(bytes/targetBytes) are rewritten into
    * `data/v<N>/` and the new manifest carries (untouched ∪ rewritten);
    * the OLD files are not touched — still serving v(N-1) scans until
    * [[vacuum]]. Detection reads ZERO file metadata: sizes live in the
    * manifest, so deciding what to compact is a pure in-memory fold
    * over it — the manifest IS the listing, which is the other thing
    * this layout buys at 720k-leaf scale (the rename-swap lake's
    * detection pass lists every partition per poll).
    *
    * `clusterBy` range-clusters rewritten files on ONE sort key
    * (perfect skipping on that key); `zOrderBy` instead lays rows along
    * the z-curve of TWO-plus numeric/date/timestamp columns
    * ([[graft.ops.ZOrder]]) so file-level stats prune on ANY of them —
    * the multi-dimension trade (≈sqrt-ranges per dimension instead of
    * one perfect + rest useless). Mutually exclusive; both are layout
    * hints only, content invariant.
    *
    * Returns (partitionRelDir, filesBefore, filesAfter) per rewritten
    * partition.
    */
  /** Write-time bin packing (Delta's optimizeWrite/autoCompact idiom),
    * fired AFTER a successful append/upsert/COPY commit when the table
    * opted in via `graft.autoCompact.targetFileBytes`: any partition
    * holding at least `graft.autoCompact.minNumFiles` (default 4)
    * files below the target size gets its SMALL files packed by the
    * ordinary partition-scoped [[compact]] as a follow-on commit —
    * streaming sinks and frequent small appends stop accumulating
    * fragments nobody ever OPTIMIZEs away. Small files ONLY: absorbing
    * fresh KBs into an already-right-sized file every commit would be
    * unbounded write amplification. Best-effort by design: the data
    * commit already succeeded, so a failed or raced follow-on pack
    * logs and defers to the next write. Driver cost when enabled is
    * one in-memory group-by over the live set (the manifest is already
    * parsed and cached) — and self-limiting, because the pack it
    * triggers is what keeps that set small.
    */
  private def maybeAutoCompact(spark: SparkSession, path: String,
                               v: Long): Unit =
    try {
      val (fs, root) = fsFor(spark, path)
      val m = readManifest(fs, root, v)
      val target = m.extras.collectFirst { case (AcBytesKey, t) => t.toLong }
        .getOrElse(return)
      val minN = m.extras.collectFirst { case (AcFilesKey, t) => t.toInt }
        .getOrElse(DefaultAutoCompactMinFiles)
      // only the partitions the TRIGGERING commit touched are pack
      // candidates: write-time compaction bounds each commit's
      // follow-on work by that commit's own fan-out, so the first
      // append after SET TBLPROPERTIES can never synchronously pack an
      // entire fragmented table inside the write call. Partitions
      // fragmented by history pack when next written — or via an
      // explicit OPTIMIZE, which remains the whole-table verb. The
      // previous version is a cached read (the commit path itself just
      // parsed it); v == 1 has no previous, so everything is "touched".
      val touched: Set[String] =
        if (v <= 1L) m.files.map(f => partDirOf(f.path)).toSet
        else {
          val prevPaths = readManifest(fs, root, v - 1).files.map(_.path).toSet
          m.files.collect {
            case f if !prevPaths.contains(f.path) => partDirOf(f.path)
          }.toSet
        }
      val hot = m.files.groupBy(f => partDirOf(f.path)).collect {
        case (d, fls) if touched(d) && fls.count(_.bytes < target) >= minN => d
      }.toSet
      if (hot.nonEmpty)
        compact(spark, path, targetBytes = target,
          onlyPartDirs = Some(hot), smallOnly = true): Unit
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft auto-compact on $path deferred to the next write: " +
            s"${e.getMessage}")
    }

  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Seq.empty,
              zOrderBy: Seq[String] = Seq.empty,
              maxMaskedFraction: Double = 1.0,
              where: Option[Column] = None,
              full: Boolean = false,
              purgeOnly: Boolean = false,
              onlyPartDirs: Option[Set[String]] = None,
              smallOnly: Boolean = false): Seq[(String, Int, Int)] = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are mutually exclusive layout choices")
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      return Seq.empty)
    val manifest = readManifest(fs, root, v)
    // DECLARED CLUSTERING (the CLUSTER BY header fact, Delta's liquid-
    // clustering idiom): a bare compact / OPTIMIZE lays rewritten files
    // out by the declared keys without re-spelling them — z-order when
    // 2+ keys are all curve-encodable (numeric/date/timestamp), else
    // lexicographic range-clustering. Explicit arguments override the
    // declaration for this one run.
    val (clusterEff, zOrderEff) =
      if (clusterBy.nonEmpty || zOrderBy.nonEmpty) (clusterBy, zOrderBy)
      else if (manifest.clusterCols.isEmpty) (Seq.empty[String], Seq.empty[String])
      else {
        val cc = manifest.clusterCols
        val zable = manifest.schema.exists(s => cc.forall(c =>
          s.fields.find(_.name == c).map(_.dataType).exists {
            case _: org.apache.spark.sql.types.NumericType => true
            case org.apache.spark.sql.types.DateType => true
            case org.apache.spark.sql.types.TimestampType => true
            case _ => false
          }))
        if (cc.size >= 2 && zable) (Seq.empty[String], cc) else (cc, Seq.empty[String])
      }
    manifest.schema.foreach { s =>
      val missing = zOrderEff.filterNot(s.fieldNames.contains)
      require(missing.isEmpty,
        s"zOrderBy column(s) ${missing.mkString(", ")} not in the recorded " +
          s"schema ${s.fieldNames.mkString(", ")}")
    }
    // a partition column is constant within each rewritten partition —
    // z-ordering on it wastes curve bits at best, and the per-partition
    // file read doesn't even carry it as a data column
    require(!zOrderEff.exists(manifest.partCols.contains),
      s"zOrderBy cannot include partition column(s) " +
        s"${zOrderEff.filter(manifest.partCols.contains).mkString(", ")} — " +
        "they are constant within every rewritten partition")
    val live = manifest.files
    val byPartAll = live.groupBy(f => partDirOf(f.path))
    // OPTIMIZE … WHERE: scope the rewrite to the partitions a
    // PARTITION-COLUMN predicate selects — on a 100 TB table the
    // steady-state compaction cadence is per-partition (the day that
    // just closed), never a full-table sweep. The predicate must
    // decide from partition values alone; anything else refuses loudly
    // (a data-column predicate would silently compact everything or
    // nothing — Delta refuses the same way).
    val byPartScoped = where match {
      case None => byPartAll
      case Some(pred) =>
        val schema = logicalSchemaOf(manifest)
        require(manifest.partCols.nonEmpty,
          "OPTIMIZE ... WHERE needs a partitioned table — the predicate " +
            "selects partitions (compact the whole table without WHERE)")
        matchedPartitionDirs(spark, schema, manifest.partCols, pred,
          byPartAll.keys.toSeq) match {
          case Some(keep) => byPartAll.filter { case (d, _) => keep.contains(d) }
          case None => throw new IllegalArgumentException(
            "OPTIMIZE ... WHERE must be a deterministic predicate over " +
              s"partition columns only (${manifest.partCols.mkString(", ")})")
        }
    }
    // internal scoping (auto-compact): restrict to the partitions the
    // triggering commit touched — by RESOLVED partition dir, no
    // predicate machinery needed
    val byPart = onlyPartDirs match {
      case None => byPartScoped
      case Some(keep) => byPartScoped.filter { case (d, _) => keep.contains(d) }
    }
    val plans = byPart.toSeq.sortBy(_._1).flatMap { case (part, fls) =>
      val bytes = fls.map(_.bytes).sum
      val want = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong).toInt
      // AUTO-COMPACT (write-time bin packing): merge ONLY the files
      // below the target size — rewriting an already-right-sized file
      // to absorb a few KB of fresh appends would be unbounded write
      // amplification on a partition that grows forever. Two small
      // files are the minimum merge; one alone is a rewrite, not a
      // merge.
      if (smallOnly) {
        val small = fls.filter(_.bytes < targetBytes)
        val sb = small.map(_.bytes).sum
        val w = math.max(1L,
          math.ceil(sb.toDouble / targetBytes).toLong).toInt
        if (small.length >= 2 && small.length > w) Some((part, small, w))
        else None
      }
      // REORG … APPLY (PURGE): rewrite exactly the DV-masked files
      // (materializing their masks) and NOTHING else — clean files and
      // fragmentation are explicitly not this verb's business
      else if (purgeOnly) {
        val masky = fls.filter(_.dvRows.exists(_ > 0))
        if (masky.isEmpty) None
        else {
          val mb = masky.map(_.bytes).sum
          Some((part, masky, math.max(1L, math.min(masky.length.toLong,
            math.ceil(mb.toDouble / targetBytes).toLong)).toInt))
        }
      }
      // OPTIMIZE … FULL (Delta's liquid re-cluster verb): rewrite every
      // selected partition regardless of fragmentation — the verb for
      // applying a NEWLY-declared clustering to already-compacted data
      else if (full && fls.nonEmpty) Some((part, fls, want))
      else if (fls.length > want) Some((part, fls, want))
      else {
        // DV-AWARE MAINTENANCE (Delta's `REORG … APPLY (PURGE)` analog):
        // a long-lived table under steady deletion-vector deletes never
        // fragments, so plain compaction never fires — yet every scan of
        // a masked file pays the anti-join forever. Files whose masked
        // fraction crossed the threshold rewrite (materializing the
        // mask) even in an otherwise-compacted partition, and ONLY those
        // files — the partition's clean files carry by reference, so the
        // write amplification is bounded by the masked files themselves.
        // Files without a recorded row count can't prove their fraction
        // and stay (conservative; every stats-collecting write records
        // rows).
        val masky = fls.filter(f => f.dvRows.exists(d =>
          f.rows.exists(r => r > 0 && d.toDouble / r > maxMaskedFraction)))
        if (masky.isEmpty) None
        else {
          val mb = masky.map(_.bytes).sum
          val w = math.max(1L, math.min(masky.length.toLong,
            math.ceil(mb.toDouble / targetBytes).toLong)).toInt
          Some((part, masky, w))
        }
      }
    }
    if (plans.isEmpty) return Seq.empty
    val newV = v + 1
    // unique staging dir, same stance as appends: a compaction racing
    // another writer to this version must never share its staging path
    // (the dir name is operator legibility only — manifests reference
    // files by full relative path; an abandoned stage vacuums as an
    // in-flight orphan after the grace window)
    val commitDir = new Path(root,
      f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
    val report = plans.map { case (part, fls, want) =>
      // deletion-vector-masked inputs compact through the masked-aware
      // slice read (the rewrite MATERIALIZES the masks: rewritten files
      // carry no vectors) — compaction doubles as DV garbage collection
      val src =
        if (fls.forall(_.dv.isEmpty))
          spark.read.parquet(fls.map(f => new Path(root, f.path).toString): _*)
        else readFileSlice(spark, path, manifest, fls)
          .drop(manifest.partCols: _*)
      val cluster = clusterEff.filter(src.columns.contains).map(col)
      // same file-count-target stance as Lake.compact: when the scan
      // bin-packs below the target, coalesce can only undershoot — range-
      // repartition on the cluster key (free row-group clustering) or
      // round-robin when the table has no sort key. zOrderBy always
      // range-repartitions on the z-value (curve-contiguous files are
      // the entire point; a coalesce would interleave curve segments)
      val sorted =
        if (zOrderEff.nonEmpty) graft.ops.ZOrder.cluster(src, zOrderEff, want)
        else {
          val shaped =
            if (src.rdd.getNumPartitions < want) {
              if (cluster.nonEmpty) src.repartitionByRange(want, cluster: _*)
              else src.repartition(want)
            } else src.coalesce(want)
          if (cluster.nonEmpty) shaped.sortWithinPartitions(cluster: _*) else shaped
        }
      val dest = if (part.isEmpty) commitDir else new Path(commitDir, part)
      sorted.write.mode(SaveMode.Overwrite).parquet(dest.toString)
      // row conservation from METADATA on both sides: source rows come
      // from the manifest's recorded counts (or the source footers when
      // a file predates stats), staged rows from the fresh footers — no
      // second and third scan of the data being compacted
      val rowsIn = (
        if (fls.forall(_.rows.isDefined)) fls.flatMap(_.rows).sum
        else footerRowCount(fs, root, fls)) -
        fls.flatMap(_.dvRows).sum // masked rows are not content
      val destStaged = stagedFiles(fs, root, dest)
      val rowsOut = footerRowCount(fs, root, destStaged)
      if (rowsOut != rowsIn)
        throw new IllegalStateException(
          s"manifest compact verification failed for $path $part: " +
            s"$rowsIn rows in, $rowsOut staged — table still at v$v")
      (part, fls.length, destStaged.length)
    }
    // stats, once collected, are MAINTAINED: rewritten files re-collect
    // [min,max] for whatever columns the live manifest already tracks,
    // so compaction never silently degrades file skipping
    val staged = stagedFiles(fs, root, commitDir)
    val statKeys =
      (live.flatMap(_.stats.keys) ++ live.flatMap(_.nullCounts.keys) ++
        live.flatMap(_.valueSets.keys)).distinct
    val withStats = manifest.schema match {
      case Some(sch) =>
        stageStats(spark, fs, root, commitDir, sch, statKeys,
          manifest.bloomCols, manifest.partCols, staged)
      case _ => staged
    }
    // OPTIMISTIC PUBLISH: a compaction is LAYOUT-ONLY, so losing the
    // version race to a concurrent append does not invalidate hours of
    // rewrite I/O — the rewrite stays exactly equivalent as long as
    // every INPUT file is still live at the new head (appends only add
    // files). The loser re-reads the head, re-validates that invariant,
    // and re-publishes (head's files minus the compacted inputs) ∪
    // staged at head+1. An upsert/delete/another compact that removed
    // an input file is a GENUINE conflict: the staged rewrite bakes in
    // superseded rows, so the stage is withdrawn and the failure loud.
    val inputPaths: Set[String] = plans.flatMap(_._2).map(_.path).toSet
    fireRaceHook("compact")
    var attempt = 0
    var curM = manifest
    var curV = newV
    while (true) {
      val untouched = curM.files.filterNot(f => inputPaths.contains(f.path))
      try {
        publish(fs, root, curV, untouched ++ withStats,
          curM.schema, curM.partCols, curM.txns, op = Some("compact"),
          constraints = curM.constraints, colMap = curM.colMap,
          droppedPhys = curM.droppedPhys, bloomCols = curM.bloomCols,
          statsColsDefault = curM.statsColsDefault,
          generated = curM.generated, defaults = curM.defaults, identity = curM.identity, clusterCols = curM.clusterCols, extras = curM.extras, fieldMap = curM.fieldMap, fieldDropped = curM.fieldDropped,
          deltaHint = Some((withStats, inputPaths.toSeq)))
        return report
      } catch {
        case e: IllegalStateException if attempt >= 5 =>
          retriesExhausted(fs, "compact", path, Seq(commitDir), e)
        case e: IllegalStateException if attempt < 5 =>
          attempt += 1
          val headV = currentVersion(spark, path).getOrElse(throw e)
          val headM = readManifest(fs, root, headV)
          val headPaths = headM.files.map(_.path).toSet
          // the rewrite is equivalent ONLY if every input is live at
          // the head with the SAME deletion-vector state the rewrite
          // read: a concurrent DV-delete leaves the file live but masks
          // rows the staged rewrite has already materialized — carrying
          // the stage forward would silently resurrect them
          val headDv = headM.files.map(f => f.path -> ((f.dv, f.dvRows))).toMap
          val snapDv = manifest.files.map(f => f.path -> ((f.dv, f.dvRows))).toMap
          val dvDrift = inputPaths.exists(p =>
            headDv.get(p) != snapDv.get(p))
          if (!inputPaths.forall(headPaths.contains) || dvDrift) {
            fs.delete(commitDir, true)
            throw new IllegalStateException(
              s"compact of $path lost its race to a commit that rewrote, " +
                "removed, or re-masked compacted input files — the staged " +
                "layout bakes in superseded rows and was withdrawn; the " +
                s"table is intact at v$headV. Re-run compact against the " +
                "new head.", e)
          }
          curM = headM
          curV = headV + 1
      }
    }
    report // unreachable; the loop exits via return
  }

  /** Key-level upsert (merge-into) under manifest commit — the
    * object-store twin of [[Lake.upsert]]: rows in `updates` replace
    * live rows with the same key, new keys append, and only the
    * AFFECTED partitions' data is rewritten — untouched partitions'
    * files carry into the new manifest by reference, zero I/O. The
    * merge becomes visible atomically when the manifest publishes; a
    * crash at any earlier point leaves the table at the previous
    * version (plus invisible orphans for [[vacuum]]).
    *
    * Affected partitions resolve from the UPDATE BATCH's partition
    * values rendered through Spark's own partition-path escaping, so
    * the dir names match what partitioned writes produced. `updates`
    * must be key-unique, its partition values non-null, and its shape
    * must match the recorded table schema (all checked — same
    * loud-failure stance as Lake.upsert).
    *
    * PARTITION-DISJOINT upserts may run CONCURRENTLY: an upsert that
    * loses the version race re-reads the head and, when the winner(s)
    * touched none of its affected partitions and the recorded shape is
    * unchanged, re-publishes its staged merge at head+1 (bounded
    * retries) — the common multi-stream ingest pattern where each
    * stream owns its partitions. Any genuine overlap — a winner that
    * added, rewrote, or removed files in an affected partition, or
    * changed the recorded schema — stays a loud conflict with the
    * stage withdrawn, because the staged merge would bake in
    * superseded pre-images.
    *
    * `changeFeed = false` skips stamping the row-level change files
    * (~the batch's row volume in extra write I/O) for tables nothing
    * ever reads through [[readChangeFeed]]; the commit then refuses
    * row-level feed reads across it, same as a pre-stamping commit.
    *
    * Returns the published version.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             partitionCols: Seq[String], keyCols: Seq[String],
             txn: Option[(String, Long)] = None,
             changeFeed: Boolean = true): Long = {
    require(partitionCols.nonEmpty,
      "manifest upsert needs a partitioned table (affected-partition " +
        "pruning keys on the partition columns); replace flat tables wholesale")
    require(partitionCols.forall(keyCols.contains),
      "partition columns must be part of the key")
    val (fs, root) = fsFor(spark, path)
    // the batch feeds four queries (the batch aggregate, the merge
    // write, the key-coverage check, the change files) — pin it for the
    // call's lifetime so each reuses one evaluation instead of replaying
    // the caller's upstream plan
    updates.persist()
    val v =
      try upsertPinned(spark, fs, root, path, updates, partitionCols, keyCols, txn, changeFeed)
      finally { updates.unpersist(); () }
    maybeAutoCompact(spark, path, v)
    v
  }

  private def upsertPinned(spark: SparkSession, fs: FileSystem, root: Path,
                           path: String, updates: DataFrame,
                           partitionCols: Seq[String], keyCols: Seq[String],
                           txn: Option[(String, Long)],
                           changeFeed: Boolean): Long = {
    currentVersion(spark, path).map(readManifest(fs, root, _))
      .flatMap(_.identity).foreach { case (n, _, _, _, _) =>
        throw new IllegalArgumentException(
          s"table at $path has IDENTITY column $n — upsert cannot assign " +
            "identity values for inserted keys; append/INSERT new rows " +
            "(the engine assigns) and UPDATE/DELETE existing ones")
      }
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val v = currentVersion(spark, path).getOrElse(0L)
    val manifest0 = if (v == 0L) None else Some(readManifest(fs, root, v))
    // exactly-once: skip a replayed (appId, batchId) before any work —
    // the table already contains this batch's effect
    if (txn.exists { case (app, b) =>
      manifest0.exists(_.txns.get(app).exists(_ >= b)) })
      return v
    // ONE aggregate over the batch (it also materializes the pin): row
    // count, distinct-key count, distinct partition values (a small
    // batch's one partition serves both groupings; a larger one hashes
    // on the key). Key-uniqueness holds on EVERY path, including the
    // table-creating first batch — a duplicate key in v1 would give the
    // first real merge a nondeterministic winner.
    val batchBytes = updates.queryExecution.optimizedPlan.stats.sizeInBytes
    val partRows = commitRepartition(spark, updates.select(keyCols.map(col): _*), batchBytes, keyCols)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .groupBy(partitionCols.map(col): _*)
      .agg(sum(col("__n")).as("__n"), count(lit(1)).as("__k"))
      .select(partitionCols.map(c => col(c).cast("string").as(c)) ++
        Seq(col("__n"), col("__k")): _*)
      .collect()
    val nUpd = partRows.map(_.getLong(partitionCols.size)).sum
    val nUpdKeys = partRows.map(_.getLong(partitionCols.size + 1)).sum
    if (nUpd != nUpdKeys)
      throw new IllegalArgumentException(
        s"updates are not key-unique on ${keyCols.mkString(",")}: $nUpd rows, $nUpdKeys keys")
    if (v == 0L) return write(spark, updates, path, partitionCols, replace = true, txn)
    val manifest = manifest0.get
    // COLUMN MAPPING: the batch and the key columns arrive in LOGICAL
    // names — rename to physical on entry (partition columns are
    // mapping-identity by renameColumn's refusal, so affected-dir
    // rendering is untouched); the extended mapping publishes with the
    // commit
    val mappingU = manifest.colMap
    val (updatesP0, colMapOutU) = mappingU match {
      case None => (updates, None)
      case Some(cm) =>
        val (pp, ext) = batchToPhysical(updates, cm, manifest.droppedPhys)
        (pp, Some(ext))
    }
    // nested-renamed columns: logical field names -> recorded physical
    val updatesP = nestedToPhysical(updatesP0, manifest)
    val keyColsP = mappingU match {
      case None => keyCols
      case Some(_) =>
        val by = colMapOutU.toSeq.flatten.toMap
        keyCols.map(c => by.getOrElse(c, c))
    }
    // additive evolution, same contract as the append path: a superset
    // batch widens the recorded schema; untouched partitions' old files
    // serve the new columns as typed nulls through the single scan
    val widened: Option[StructType] = manifest.schema.map { recorded =>
      require(manifest.partCols == partitionCols,
        s"upsert partitioned by ${partitionCols.mkString(",")} but the table " +
          s"is partitioned by ${manifest.partCols.mkString(",")}")
      widen(recorded, updatesP.schema, partitionCols, "upsert")
    }
    // a legacy headerless table adopts THIS batch's schema as its header
    // when the merge publishes — verify the shapes agree first (same
    // silent-null hazard as the append path; see writePinned)
    if (manifest.schema.isEmpty && manifest.files.nonEmpty) {
      val inferred = readFilesGrouped(spark, root, manifest.files.map(_.path)).schema
      require(sameShape(inferred, updatesP.schema),
        s"upsert batch schema ${updatesP.schema.catalogString} does not match the " +
          s"legacy table's inferred schema ${inferred.catalogString} — a headerless " +
          "manifest adopts the batch's schema as the table header, so the shapes " +
          "must agree (use a replace write to change the schema)")
    }

    // affected partition dirs, rendered exactly as partitioned writes
    // render them (the batch aggregate's rows — bounded by the batch's
    // partition spread, which is small against the lake by definition)
    require(partRows.forall(r => partitionCols.indices.forall(i => !r.isNullAt(i))),
      "null partition values are not supported by the manifest upsert")
    val affectedDirs = partRows.map(r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        s"${escapePathName(c)}=${escapePathName(r.getString(i))}"
      }.mkString("/")).toSet

    val live = manifest.files
    val (affectedFiles, untouched) =
      live.partition(f => affectedDirs.contains(partDirOf(f.path)))

    // merge: updates win key collisions outright (the batch is the
    // newer truth) — same shape as Lake.upsert's merge
    val updSchema = updatesP.schema
    // the post-merge table schema: widened when the manifest records
    // one, the batch's own otherwise (legacy adoption, verified above)
    val tableSchema = widened.getOrElse(updSchema)
    // the feed's metadata columns are reserved — a table column named
    // _change_type would collide with the change files this commit
    // stamps (rename the column, or use a replace write)
    Seq(ChangeTypeCol, CommitVersionCol).foreach(r =>
      require(!tableSchema.fieldNames.contains(r),
        s"column name $r is reserved for the change feed's metadata"))
    // the pre-merge rows of the affected partitions, read through the
    // WIDENED schema so a batch that adds columns merges against typed
    // nulls, not an unresolved-column failure — reused by the merge AND
    // by the change-file stamping below
    val affected: Option[DataFrame] =
      if (affectedFiles.isEmpty) None
      else Some(readFiles(spark, fs, root,
        Manifest(widened.orElse(manifest.schema), manifest.partCols, affectedFiles))
        .select(tableSchema.fieldNames.map(n =>
          col(n).cast(tableSchema(n).dataType)): _*))
    val commitBytes = affectedFiles.map(_.bytes).sum + batchBytes
    // ONE merge shuffle: the repartition on the partition columns
    // clusters every key, so the row_number window and the write both
    // run on it
    val merged = affected match {
      case None => commitRepartition(spark, updatesP, commitBytes, partitionCols)
      case Some(aff) =>
        val byKey = org.apache.spark.sql.expressions.Window
          .partitionBy(keyColsP.map(col): _*).orderBy(col("__src").desc)
        commitRepartition(spark, aff.withColumn("__src", lit(0))
          .unionByName(updatesP.withColumn("__src", lit(1))), commitBytes, partitionCols)
          .withColumn("__rn", row_number().over(byKey))
          .where(col("__rn") === 1)
          .drop("__src", "__rn")
    }

    val newV = v + 1
    // unique staging dir (see writePinned): partition-disjoint upserts
    // race optimistically, so two committers computing the same next
    // version must never share a staging path — and the change files
    // stamp INSIDE it (manifest-referenced via #cdf), so they can never
    // collide either
    val commitDir = new Path(root,
      f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
    // CHECK constraints ride the merge write as observed metrics (zero
    // extra jobs): carried rows already satisfy them (write/addConstraint
    // invariant), so any violation is the update batch's — judged
    // before publish, stage withdrawn on failure
    val consSeqU = {
      val logical = effectiveConstraints(manifest).toSeq.sortBy(_._1)
      if (mappingU.isEmpty && manifest.fieldMap.isEmpty) logical
      else {
        val cm = mappingU.getOrElse(
          manifest.schema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
            .map(n => n -> n))
        val full = cm ++ colMapOutU.toSeq.flatten.filterNot(cm.contains)
        logical.map { case (n, e) =>
          n -> exprToPhysical(spark, e, full, manifest.fieldMap)
        }
      }
    }
    consSeqU.foreach { case (n, e) =>
      try { merged.select(expr(e)); () } catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CHECK constraint $n (`$e`) on $path cannot be evaluated " +
              s"against this upsert batch: ${ex.getMessage}", ex)
      }
    }
    // count(*) always rides the write: violation counts (absent keys
    // default to 0) are trusted once it matches the staged footer count
    val obsU = org.apache.spark.sql.Observation()
    val aggsU = count(lit(1)).as("n_obs_rows") +:
      consSeqU.map { case (n, e) =>
        count(when(not(coalesce(expr(e), lit(true))), lit(1))).as(s"viol_$n")
      }
    merged.observe(obsU, aggsU.head, aggsU.tail: _*)
      .sortWithinPartitions(keyColsP.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(commitDir.toString)
    // verify the staged merge while it is invisible: the footer row
    // count against the observed one, the constraints, then key
    // uniqueness and update-key coverage in one read-back aggregate
    val staged = stagedFiles(fs, root, commitDir)
    val rowsOut = footerRowCount(fs, root, staged)
    requireObservedStaged(fs, commitDir, obsLong(obsU, "n_obs_rows"), rowsOut,
      s"manifest upsert observation lost for $path", "constraint", s"table still at v$v")
    requireNoViolations(fs, commitDir, obsU, consSeqU, path, "merged", v)
    val updKeys = updatesP.select(keyColsP.map(col): _*).withColumn("__upd", lit(true))
    val keyCheck = commitRepartition(spark, spark.read.parquet(commitDir.toString)
        .select(keyColsP.map(col): _*)
        .join(broadcast(updKeys), keyColsP.toSeq, "left"), commitBytes, keyColsP)
      .groupBy(keyColsP.map(col): _*).agg(max(col("__upd")).as("__upd"))
      .agg(count(lit(1)), count(when(col("__upd"), lit(1))))
      .head()
    val keysOut = keyCheck.getLong(0)
    val updKeysOut = keyCheck.getLong(1)
    if (rowsOut != keysOut || updKeysOut != nUpdKeys) {
      fs.delete(commitDir, true)
      throw new IllegalStateException(
        s"manifest upsert verification failed for $path: $rowsOut rows / " +
          s"$keysOut keys, $updKeysOut of $nUpdKeys update keys staged — " +
          s"table still at v$v")
    }
    // rewritten partitions re-collect whatever stats columns the live
    // manifest tracks — same stats-are-maintained stance as compact
    val statKeys =
      (live.flatMap(_.stats.keys) ++ live.flatMap(_.nullCounts.keys) ++
        live.flatMap(_.valueSets.keys)).distinct
    val stagedWithStats = stageStats(spark, fs, root, commitDir, tableSchema,
      statKeys, manifest.bloomCols, partitionCols, staged)
    // ---- row-level change files (the Delta-CDC analog) ----
    // Stamp this commit's EXACT row deltas under the hidden
    // data/v<N>/_cdf dir while the commit is still invisible, so
    // readChangeFeed can serve an upsert instead of refusing it:
    // pre-images are the affected partitions' pre-merge rows whose key
    // the batch touches; post-images and inserts are the batch itself,
    // split by whether the key already existed. Every join is bounded
    // by the BATCH (pre-images ≤ |updates| rows), so the broadcasts
    // never scale with the table. Stamped last — after verification and
    // stats — so nothing else ever observes the hidden dir mid-write;
    // the merge's Overwrite wipes any stale _cdf from an aborted
    // earlier attempt at this version before we get here.
    val relCdf: Option[String] =
      if (!changeFeed) None
      else {
        val tableCols = tableSchema.fieldNames.map(col).toSeq
        val updNorm = updatesP.select(tableCols: _*)
        val changes = affected match {
          case None =>
            // no affected partition existed — every batch row is an insert
            updNorm.withColumn(ChangeTypeCol, lit("insert"))
          case Some(aff) =>
            val keySeq = keyColsP.toSeq
            val pre = aff.select(tableCols: _*)
              .join(broadcast(updKeys), keySeq, "left_semi")
            val preKeys = pre.select(keyColsP.map(col): _*)
            pre.withColumn(ChangeTypeCol, lit("update_preimage"))
              .unionByName(updNorm.join(broadcast(preKeys), keySeq, "left_semi")
                .withColumn(ChangeTypeCol, lit("update_postimage")))
              .unionByName(updNorm.join(broadcast(preKeys), keySeq, "left_anti")
                .withColumn(ChangeTypeCol, lit("insert")))
        }
        val cdfP = new Path(commitDir, CdfDir)
        commitRepartition(spark, changes, commitBytes, partitionCols)
          .write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
        val rootQ = fs.makeQualified(root).toString
        Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/"))
      }
    // OPTIMISTIC PUBLISH for partition-disjoint racers: the staged
    // merge (and its stamped pre-images) stays exact as long as the
    // new head's affected partitions hold EXACTLY the files the merge
    // read and the recorded shape is unchanged. Anything else — files
    // added/rewritten/removed in an affected partition, a widened
    // schema — invalidates the pre-images: loud conflict, stage
    // withdrawn.
    val inputPaths = affectedFiles.map(_.path).toSet
    fireRaceHook("upsert")
    var attempt = 0
    var curM = manifest
    var curV = newV
    while (true) {
      try {
        publish(fs, root, curV, curM.files.filterNot(f => inputPaths.contains(f.path))
          ++ stagedWithStats,
          Some(tableSchema), partitionCols,
          curM.txns ++ txn.toMap, op = Some("upsert"), cdf = relCdf,
          constraints = manifest.constraints, colMap = colMapOutU,
          droppedPhys = manifest.droppedPhys, bloomCols = manifest.bloomCols,
          statsColsDefault = manifest.statsColsDefault,
          generated = manifest.generated, defaults = manifest.defaults, identity = manifest.identity, clusterCols = manifest.clusterCols, extras = manifest.extras, fieldMap = manifest.fieldMap, fieldDropped = manifest.fieldDropped,
          deltaHint = Some((stagedWithStats, inputPaths.toSeq)))
        return curV
      } catch {
        case e: IllegalStateException if attempt >= 5 =>
          retriesExhausted(fs, "upsert", path, Seq(commitDir), e)
        case e: IllegalStateException if attempt < 5 =>
          attempt += 1
          val headV = currentVersion(spark, path).getOrElse(throw e)
          val headM = readManifest(fs, root, headV)
          // an at-least-once redelivery racing itself: the ledger wins
          if (txn.exists { case (app, b) => headM.txns.get(app).exists(_ >= b) }) {
            fs.delete(commitDir, true)
            return headV
          }
          val headAffected = headM.files
            .filter(f => affectedDirs.contains(partDirOf(f.path))).toSet
          // effectiveConstraints: see the merge guard — a concurrently
          // added generated column's validation must not be bypassed
          if (headAffected != affectedFiles.toSet ||
            headM.schema != manifest.schema || headM.partCols != partitionCols ||
            effectiveConstraints(headM) != effectiveConstraints(manifest) ||
            headM.colMap != manifest.colMap ||
              headM.fieldMap != manifest.fieldMap) {
            fs.delete(commitDir, true)
            throw new IllegalStateException(
              s"upsert of $path lost its race to a commit that touched its " +
                s"affected partitions (or changed the recorded shape) — the " +
                "staged merge bakes in superseded pre-images and was " +
                s"withdrawn; the table is intact at v$headV. Re-run the " +
                "upsert against the new head.", e)
          }
          curM = headM
          curV = headV + 1
      }
    }
    curV // unreachable; the loop exits via return
  }

  /** DYNAMIC PARTITION OVERWRITE as ONE manifest commit — Spark's
    * `partitionOverwriteMode=dynamic` / Hive `INSERT OVERWRITE …
    * PARTITION` semantics, Delta's replaceWhere-by-partition analog:
    * every partition the batch TOUCHES is replaced wholesale by the
    * batch's rows for it, every other partition carries by reference,
    * and the swap becomes visible atomically at publish (never the
    * two-commit delete-then-append shape, whose window serves an
    * empty partition). The staged batch is count-verified from
    * parquet footers against the observed input, CHECK constraints
    * and generated columns enforce exactly like an append, and with
    * `changeFeed` on the commit stamps exact `delete` (the replaced
    * partitions' previous rows) + `insert` (the batch) change files,
    * so [[readChangeFeed]] serves it incrementally. An empty batch
    * replaces nothing and publishes nothing. Carries the txn ledger;
    * publishes optimistically with upsert's partition-disjoint retry
    * rules.
    *
    * `staticPrefix` serves Hive/Spark STATIC-mode `INSERT OVERWRITE …
    * PARTITION (p1='x', p2)` semantics: EVERY live partition matching
    * the static columns clears in the same commit — including ones
    * the batch writes no rows for (dynamic mode only replaces touched
    * partitions; static mode clears the whole static prefix). The
    * prefix columns must be the LEADING partition columns in table
    * order, and every batch row must carry the prefix values (the SQL
    * layer injects them as literals). With a prefix, an EMPTY batch
    * still publishes — it is the clear-the-prefix commit.
    */
  def overwritePartitions(spark: SparkSession, path: String, df: DataFrame,
                          txn: Option[(String, Long)] = None,
                          changeFeed: Boolean = true,
                          staticPrefix: Seq[(String, String)] = Seq.empty): Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val manifest = readManifest(fs, root, v)
    if (txn.exists { case (app, b) => manifest.txns.get(app).exists(_ >= b) })
      return v
    require(manifest.partCols.nonEmpty,
      "overwritePartitions needs a partitioned table — overwriting a flat " +
        "table is a replace write")
    manifest.identity.foreach { case (n, _, _, _, _) =>
      throw new IllegalArgumentException(
        s"table at $path has IDENTITY column $n — partition overwrite " +
          "cannot assign identity values for its batch; append/INSERT " +
          "new rows (the engine assigns) and DELETE what they supersede")
    }
    val recorded = manifest.schema.getOrElse(throw new IllegalArgumentException(
      s"table at $path has a headerless legacy manifest — partition " +
        "overwrite needs the recorded schema (run one append or upsert to " +
        "adopt a header first)"))
    val partitionCols = manifest.partCols
    Seq(ChangeTypeCol, CommitVersionCol).foreach(r =>
      require(!logicalSchemaOf(manifest).fieldNames.contains(r),
        s"column name $r is reserved for the change feed's metadata"))
    // generated columns compute-if-absent / validate-if-supplied, and
    // the batch renames to physical on entry — the append path's rules
    val dfG = manifest.generated.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, expr(e))
    }
    val (dfP0, colMapOut) = manifest.colMap match {
      case None => (dfG, None)
      case Some(cm) =>
        val (pp, ext) = batchToPhysical(dfG, cm, manifest.droppedPhys)
        (pp, Some(ext))
    }
    val dfP = nestedToPhysical(dfP0, manifest)
    val tableSchema = widen(recorded, dfP.schema, partitionCols,
      "overwritePartitions")
    // PIN the batch: partition discovery and the staged write must see
    // one evaluation (a nondeterministic source must not land rows in
    // partitions discovery never saw)
    dfP.persist()
    try {
      val partRows = dfP
        .select(partitionCols.map(c => col(c).cast("string").as(c)): _*)
        .distinct().collect()
      require(partRows.forall(r =>
        partitionCols.indices.forall(i => !r.isNullAt(i))),
        "null partition values are not supported by the manifest partition overwrite")
      // static-mode prefix: validate it is the leading partition
      // columns in order, render its path segments, and collect every
      // LIVE partition dir under it — those clear even if the batch
      // writes nothing into them. The spec VALUE canonicalizes through
      // the SAME cast-to-column-type-then-render path the batch rows
      // take (cast("string") on the typed column): a non-canonical
      // spelling — PARTITION (p=01) where int rows render '1', a
      // trailing-zeros decimal — must match the live dirs it names,
      // not silently miss them (an empty batch would then no-op
      // instead of clearing, a non-empty one would refuse misleadingly).
      val prefixSegs: Seq[String] = staticPrefix.zipWithIndex.map {
        case ((c, value), i) =>
          require(i < partitionCols.length &&
            partitionCols(i).equalsIgnoreCase(c),
            s"staticPrefix columns (${staticPrefix.map(_._1).mkString(",")}) " +
              s"must be the leading partition columns in table order " +
              s"(partitioned by: ${partitionCols.mkString(",")})")
          val dt = tableSchema(partitionCols(i)).dataType
          val canonical = {
            import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => CatLiteral}
            val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
            val typed = Cast(CatLiteral(value), dt, tz,
              org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY).eval(null)
            require(typed != null,
              s"static PARTITION value '$value' is not a valid " +
                s"${dt.catalogString} for partition column ${partitionCols(i)}")
            String.valueOf(Cast(CatLiteral(typed, dt), StringType, tz,
              org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY).eval(null))
          }
          s"${escapePathName(partitionCols(i))}=${escapePathName(canonical)}"
      }
      val batchDirs = partRows.map(r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          s"${escapePathName(c)}=${escapePathName(r.getString(i))}"
        }.mkString("/")).toSet
      require(batchDirs.forall(d =>
        prefixSegs.zip(d.split("/").toSeq).forall { case (a, b) => a == b }),
        s"every batch row must carry the static PARTITION values " +
          s"(${staticPrefix.map { case (k, v0) => s"$k=$v0" }.mkString(", ")}); " +
          "the batch writes outside the static prefix")
      val staticDirs: Set[String] =
        if (prefixSegs.isEmpty) Set.empty
        else manifest.files.map(f => partDirOf(f.path)).filter { d =>
          val segs = d.split("/").toSeq
          prefixSegs.zip(segs).forall { case (a, b) => a == b } &&
            segs.lengthCompare(prefixSegs.length) >= 0
        }.toSet
      if (partRows.isEmpty && staticDirs.isEmpty)
        return v // nothing touched: the table is the result
      val affectedDirs = batchDirs ++ staticDirs
      val affectedFiles =
        manifest.files.filter(f => affectedDirs.contains(partDirOf(f.path)))
      val consLogical = effectiveConstraints(manifest).toSeq.sortBy(_._1)
      val consSeq =
        if (manifest.colMap.isEmpty && manifest.fieldMap.isEmpty) consLogical
        else {
          val cm = manifest.colMap.getOrElse(
            recorded.fieldNames.toSeq.map(n => n -> n))
          val full = cm ++ colMapOut.toSeq.flatten.filterNot(cm.contains)
          consLogical.map { case (n, e) =>
            n -> exprToPhysical(spark, e, full, manifest.fieldMap)
          }
        }
      consSeq.foreach { case (n, e) =>
        try { dfP.select(expr(e)); () } catch {
          case ex: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"CHECK constraint $n (`$e`) on $path cannot be evaluated " +
                s"against this batch: ${ex.getMessage}", ex)
        }
      }
      val obs = org.apache.spark.sql.Observation()
      val aggs = count(lit(1)).as("rows") +: consSeq.map { case (n, e) =>
        count(when(not(coalesce(expr(e), lit(true))), lit(1))).as(s"viol_$n")
      }
      val newV = v + 1
      val commitDir = new Path(root,
        f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
      dfP.observe(obs, aggs.head, aggs.tail: _*)
        .repartition(partitionCols.map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
        .parquet(commitDir.toString)
      requireNoViolations(fs, commitDir, obs, consSeq, path, "batch", v)
      val rowsIn = obsLong(obs, "rows")
      val staged = stagedFiles(fs, root, commitDir)
      val rowsOut = footerRowCount(fs, root, staged)
      if (rowsOut != rowsIn || (rowsIn > 0 && staged.isEmpty)) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"manifest partition overwrite verification failed for $path v$newV: " +
            s"$rowsIn rows in, $rowsOut staged — table still at v$v")
      }
      val statKeys =
        (manifest.files.flatMap(_.stats.keys) ++
          manifest.files.flatMap(_.nullCounts.keys) ++
          manifest.files.flatMap(_.valueSets.keys)).distinct
          .filter(k => tableSchema.fieldNames.contains(k))
      val stagedWithStats = stageStats(spark, fs, root, commitDir, tableSchema,
        statKeys, manifest.bloomCols, partitionCols, staged)
      val relCdf: Option[String] =
        if (!changeFeed) None
        else {
          // exact row deltas: the replaced partitions' previous rows as
          // deletes (DV masks already applied by the slice read), the
          // batch as inserts — physical names, like every stamp
          val pre = readFileSlice(spark, path, manifest, affectedFiles)
            .withColumn(ChangeTypeCol, lit("delete"))
          val changes = pre.unionByName(
            dfP.withColumn(ChangeTypeCol, lit("insert")),
            allowMissingColumns = true)
          val cdfP = new Path(commitDir, CdfDir)
          changes.repartition(partitionCols.map(col): _*)
            .write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
          val rootQ = fs.makeQualified(root).toString
          Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/"))
        }
      val inputPaths = affectedFiles.map(_.path).toSet
      fireRaceHook("replacepart")
      var attempt = 0
      var curM = manifest
      var curV = newV
      while (true) {
        try {
          publish(fs, root, curV,
            curM.files.filterNot(f => inputPaths.contains(f.path)) ++ stagedWithStats,
            Some(tableSchema), partitionCols,
            curM.txns ++ txn.toMap, op = Some("replacepart"), cdf = relCdf,
            constraints = manifest.constraints, colMap = colMapOut,
            droppedPhys = manifest.droppedPhys, bloomCols = manifest.bloomCols,
          statsColsDefault = manifest.statsColsDefault,
            generated = manifest.generated, defaults = manifest.defaults, identity = manifest.identity, clusterCols = manifest.clusterCols, extras = manifest.extras, fieldMap = manifest.fieldMap, fieldDropped = manifest.fieldDropped,
            deltaHint = Some((stagedWithStats, inputPaths.toSeq)))
          return curV
        } catch {
          case e: IllegalStateException if attempt >= 5 =>
            retriesExhausted(fs, "overwritePartitions", path, Seq(commitDir), e)
          case e: IllegalStateException if attempt < 5 =>
            attempt += 1
            val headV = currentVersion(spark, path).getOrElse(throw e)
            val headM = readManifest(fs, root, headV)
            if (txn.exists { case (app, b) => headM.txns.get(app).exists(_ >= b) }) {
              fs.delete(commitDir, true)
              return headV
            }
            val headAffected = headM.files
              .filter(f => affectedDirs.contains(partDirOf(f.path))).toSet
            // a racer may have created a NEW partition under the
            // static prefix (not in affectedDirs, so the file check
            // alone would miss it) — static semantics clear EVERYTHING
            // matching the prefix at commit time, so a changed
            // prefix-dir set must withdraw, never silently survive
            val headPrefixDirs: Set[String] =
              if (prefixSegs.isEmpty) Set.empty
              else headM.files.map(f => partDirOf(f.path)).filter { d =>
                prefixSegs.zip(d.split("/").toSeq).forall { case (a, b) => a == b }
              }.toSet
            if (headAffected != affectedFiles.toSet ||
              headPrefixDirs != staticDirs ||
              headM.schema != manifest.schema || headM.partCols != partitionCols ||
              effectiveConstraints(headM) != effectiveConstraints(manifest) ||
              headM.colMap != manifest.colMap ||
              headM.fieldMap != manifest.fieldMap) {
              fs.delete(commitDir, true)
              throw new IllegalStateException(
                s"partition overwrite of $path lost its race to a commit that " +
                  "touched its affected partitions (or changed the recorded " +
                  "shape) — the staged swap bakes in superseded pre-images and " +
                  s"was withdrawn; the table is intact at v$headV. Re-run " +
                  "against the new head.", e)
            }
            curM = headM
            curV = headV + 1
        }
      }
      curV // unreachable
    } finally {
      dfP.unpersist()
      ()
    }
  }

  /** What a [[merge]] did: the published version plus exact per-clause
    * row counts (observed on the merge's own write job).
    */
  final case class MergeStats(version: Long, updated: Long, deleted: Long,
                              inserted: Long)

  /** One WHEN clause of a [[mergeClauses]] statement. `condition = None`
    * means unconditional; conditions reference the two sides as
    * `col("t.<name>")` / `col("s.<name>")` and evaluate with SQL
    * null-as-false semantics. Clause precedence is LIST ORDER — the
    * first clause whose condition holds acts, exactly the standard SQL
    * MERGE contract.
    */
  sealed trait MergeClause { def condition: Option[Column] }

  /** UPDATE clause. `set = None` is `UPDATE SET *` (replace the whole
    * row with the source row); `set = Some(assignments)` updates only
    * the named columns (expressions over t./s.), keeping every other
    * column's target value. Partition columns cannot be assigned —
    * rows would have to move between partitions.
    */
  final case class MergeUpdate(condition: Option[Column] = None,
                               set: Option[Seq[(String, Column)]] = None)
    extends MergeClause

  /** DELETE clause — drops the row. */
  final case class MergeDelete(condition: Option[Column] = None)
    extends MergeClause

  /** INSERT clause (NOT MATCHED only). `values = None` is `INSERT *`
    * (the source row wholesale); `values = Some(assignments)` builds
    * the row from the named expressions over s., NULL for unlisted
    * columns — except partition columns, which MUST be assigned.
    */
  final case class MergeInsert(condition: Option[Column] = None,
                               values: Option[Seq[(String, Column)]] = None)
    extends MergeClause

  /** Conditional MERGE INTO under manifest commit — the Delta
    * `whenMatched update / whenMatched delete / whenNotMatched insert`
    * statement over the same partition-rewrite machinery as [[upsert]]:
    * only the partitions the source's keys touch are rewritten,
    * untouched partitions carry by reference, and the merge becomes
    * visible atomically at publish.
    *
    * Clause semantics per key (source must be key-unique; conditions
    * reference the two sides as `col("t.<name>")` / `col("s.<name>")`,
    * evaluated with SQL CHECK-style null-as-false):
    *   - MATCHED: `deleteWhen` first — a true condition drops the row;
    *     else `updateWhen` — true replaces the target row with the
    *     source row; else the target row is kept unchanged.
    *   - NOT MATCHED (source only): `insertWhen` true inserts the
    *     source row; else the source row is ignored.
    *   - Target rows with no source match always survive.
    *
    * The defaults (update always, insert always, no delete) make
    * `merge(...) == upsert(...)`. This is the fixed-precedence
    * convenience form; the full SQL clause surface (clause order,
    * partial `SET`, explicit `INSERT` lists, `NOT MATCHED BY SOURCE`)
    * is [[mergeClauses]], which this delegates to.
    */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            partitionCols: Seq[String], keyCols: Seq[String],
            updateWhen: Option[Column] = Some(lit(true)),
            deleteWhen: Option[Column] = None,
            insertWhen: Option[Column] = Some(lit(true)),
            txn: Option[(String, Long)] = None,
            changeFeed: Boolean = true): MergeStats =
    mergeClauses(spark, path, source, partitionCols, keyCols,
      matched = deleteWhen.map(c => MergeDelete(Some(c))).toSeq ++
        updateWhen.map(c => MergeUpdate(Some(c), set = None)).toSeq,
      notMatched = insertWhen.map(c => MergeInsert(Some(c), values = None)).toSeq,
      notMatchedBySource = Seq.empty,
      txn = txn, changeFeed = changeFeed)

  /** Full-surface MERGE: ordered WHEN clauses in each of the three
    * row categories, the exact SQL statement shape —
    *
    * {{{
    *   MERGE INTO target t USING source s ON <t.k = s.k ...>
    *   WHEN MATCHED [AND c] THEN UPDATE SET * | SET x = e, ...
    *   WHEN MATCHED [AND c] THEN DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (...)
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
    * }}}
    *
    * Within a category the FIRST clause whose condition holds acts
    * (SQL clause precedence); a row matching no clause is kept
    * (matched / not-matched-by-source) or ignored (not-matched).
    *
    * Scale shape: identical to [[merge]] — one classification join,
    * one write job with observed metrics, affected-partition rewrites
    * only — EXCEPT when `notMatchedBySource` is non-empty: those
    * clauses act on target rows the source does NOT name, so every
    * live partition is affected and the whole table rewrites (the
    * semantics demand it; same cost in any lake format).
    *
    * The source must carry every KEY column at its exact type. It must
    * carry every TABLE column (at exact type) only when some clause
    * uses full-row semantics (`UPDATE SET *` / `INSERT *` — i.e.
    * `set`/`values` = None); an all-explicit clause list needs only
    * the columns its expressions reference. Extra source-only columns
    * are always allowed and visible to conditions as `s.<col>`.
    * Explicit INSERT values must assign every partition column;
    * UPDATE assignments cannot target partition columns.
    *
    * Key NULL semantics: by default every key matches null-safely
    * (NULL pairs with NULL — the upsert's groupBy semantics, and what
    * a Scala caller passing bare key names gets). Keys listed in
    * `plainEqKeys` instead carry standard SQL `=` semantics: a NULL
    * value on either side matches NOTHING, so a NULL-keyed target row
    * classifies as not-matched-by-source and a NULL-keyed source row
    * as not-matched — exactly how `MERGE … ON t.k = s.k` behaves in
    * ANSI SQL/Delta. The SQL layer routes `=` spellings here and
    * reserves null-safe matching for an explicit `<=>`. Source
    * key-uniqueness is still required, except that NULL-keyed source
    * rows under a plain-eq key are each independent (they can match
    * no common target row) and do not count as duplicates of each
    * other.
    */
  def mergeClauses(spark: SparkSession, path: String, source: DataFrame,
                   partitionCols: Seq[String], keyCols: Seq[String],
                   matched: Seq[MergeClause] = Seq.empty,
                   notMatched: Seq[MergeClause] = Seq.empty,
                   notMatchedBySource: Seq[MergeClause] = Seq.empty,
                   txn: Option[(String, Long)] = None,
                   changeFeed: Boolean = true,
                   plainEqKeys: Set[String] = Set.empty,
                   evolveWith: Option[StructType] = None): MergeStats = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    require(partitionCols.nonEmpty,
      "manifest merge needs a partitioned table; replace flat tables wholesale")
    require(partitionCols.forall(keyCols.contains),
      s"merge keys ${keyCols.mkString(",")} must include every partition " +
        s"column (${partitionCols.mkString(",")}) so matched rows stay in " +
        "the partitions the source names")
    require(plainEqKeys.forall(keyCols.contains),
      s"plainEqKeys ${plainEqKeys.mkString(",")} must be a subset of the " +
        s"merge keys (${keyCols.mkString(",")})")
    currentVersion(spark, path).map(v0 =>
      readManifest(fsFor(spark, path)._1, fsFor(spark, path)._2, v0))
      .flatMap(_.identity).foreach { case (n, _, _, _, _) =>
        throw new IllegalArgumentException(
          s"table at $path has IDENTITY column $n — MERGE cannot assign " +
            "identity values for inserted rows; append/INSERT new rows " +
            "(the engine assigns) and UPDATE/DELETE existing ones")
      }
    matched.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN MATCHED supports UPDATE and DELETE clauses, not INSERT")
      case _ => ()
    }
    notMatched.foreach {
      case _: MergeInsert => ()
      case other => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED supports INSERT clauses only, got $other")
    }
    notMatchedBySource.foreach {
      case MergeUpdate(_, None) => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE UPDATE needs explicit SET assignments " +
          "(there is no source row to SET * from)")
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports UPDATE and DELETE, not INSERT")
      case _ => ()
    }
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    // WITH SCHEMA EVOLUTION is folded into THIS merge's single commit:
    // the manifest is extended IN MEMORY with the source's new columns
    // (nullable, metadata-only — old files serve NULL via the
    // absent-column read path) and the extension publishes together
    // with the merged files. A merge that then fails (duplicate keys,
    // constraint violation, lost race) leaves NO schema residue, and a
    // concurrent reader can never observe an evolved-but-unmerged
    // intermediate state.
    val manifest = evolveWith match {
      case None => readManifest(fs, root, v)
      case Some(srcSchema) =>
        evolveSchemaFor(readManifest(fs, root, v), srcSchema, path)
    }
    if (txn.exists { case (app, b) => manifest.txns.get(app).exists(_ >= b) })
      return MergeStats(v, 0L, 0L, 0L)
    val logical = manifest.schema.map(_ => logicalSchemaOf(manifest)).getOrElse(
      throw new IllegalArgumentException(
        s"table at $path has a headerless legacy manifest — merge needs the " +
          "recorded schema (run one append or upsert to adopt a header first)"))
    // The source must carry the key columns always, and every table
    // column at exact type only when some clause takes the source row
    // wholesale (SET * / INSERT *) — the CDC-apply shape ships an op
    // marker the clause conditions read (`deleteWhen = col("s.op") ===
    // "d"`) that the table never stores. Extra columns ride into the
    // classify join for the conditions and vanish at the result
    // projection; merge still does not widen — a new TABLE column
    // arrives via append/upsert.
    val needFullRow =
      matched.exists { case MergeUpdate(_, None) => true; case _ => false } ||
      notMatched.exists { case MergeInsert(_, None) => true; case _ => false }
    locally {
      val srcTypes = source.schema.fields
        .map(f => f.name -> f.dataType.catalogString).toMap
      val required =
        if (needFullRow) logical.fields.toSeq
        else logical.fields.toSeq.filter(f => keyCols.contains(f.name))
      val bad = required.filterNot(f =>
        srcTypes.get(f.name).contains(f.dataType.catalogString))
      require(bad.isEmpty,
        s"merge source schema ${source.schema.catalogString} must contain " +
          (if (needFullRow) "every table column" else "every key column") +
          s" at its exact type; missing or re-typed: " +
          s"${bad.map(f => s"${f.name} ${f.dataType.catalogString}").mkString(", ")} " +
          "(cast/select first; merge does not widen — extra source-only " +
          "columns are allowed and visible to clause conditions as s.<col>)")
    }
    Seq(ChangeTypeCol, CommitVersionCol).foreach(r =>
      require(!logical.fieldNames.contains(r),
        s"column name $r is reserved for the change feed's metadata"))
    // resolve clause assignment names against the logical schema (case-
    // insensitive, like the rest of Spark SQL), refusing unknown and
    // doubly-assigned columns up front
    val byLower = logical.fieldNames.map(f => f.toLowerCase -> f).toMap
    def resolveSet(set: Seq[(String, Column)], clause: String,
                   allowPartition: Boolean): Map[String, Column] = {
      val resolved = set.map { case (nm, value) =>
        val actual = byLower.getOrElse(nm.toLowerCase,
          throw new IllegalArgumentException(
            s"$clause assigns unknown column $nm " +
              s"(table columns: ${logical.fieldNames.mkString(", ")})"))
        require(allowPartition || !partitionCols.contains(actual),
          s"$clause cannot assign partition column $actual — rows would " +
            "have to move between partitions; use delete + insert instead")
        actual -> value
      }
      require(resolved.map(_._1).distinct.size == resolved.size,
        s"$clause assigns a column more than once")
      resolved.toMap
    }
    // per-clause action codes: U<i>/D<i> matched, I<i> not-matched,
    // BU<i>/BD<i> not-matched-by-source — the code string routes both
    // the per-column value projection and the metric counts
    val matchedCodes: Seq[(String, MergeClause)] = matched.zipWithIndex.map {
      case (cl: MergeUpdate, i) => (s"U$i", cl)
      case (cl, i) => (s"D$i", cl)
    }
    val insertCodes: Seq[(String, MergeClause)] = notMatched.zipWithIndex.map {
      case (cl, i) => (s"I$i", cl)
    }
    val bySourceCodes: Seq[(String, MergeClause)] =
      notMatchedBySource.zipWithIndex.map {
        case (cl: MergeUpdate, i) => (s"BU$i", cl)
        case (cl, i) => (s"BD$i", cl)
      }
    val updSets: Seq[(String, Option[Map[String, Column]])] =
      matchedCodes.collect { case (code, MergeUpdate(_, setOpt)) =>
        code -> setOpt.map(resolveSet(_, "WHEN MATCHED UPDATE", allowPartition = false))
      }
    val insVals: Seq[(String, Option[Map[String, Column]])] =
      insertCodes.collect { case (code, MergeInsert(_, valsOpt)) =>
        code -> valsOpt.map(resolveSet(_, "WHEN NOT MATCHED INSERT", allowPartition = true))
      }
    val bySrcSets: Seq[(String, Map[String, Column])] =
      bySourceCodes.collect { case (code, MergeUpdate(_, Some(s))) =>
        code -> resolveSet(s, "WHEN NOT MATCHED BY SOURCE UPDATE", allowPartition = false)
      }
    insVals.foreach { case (_, vo) => vo.foreach(m =>
      partitionCols.foreach(p => require(m.contains(p),
        s"explicit INSERT must assign every partition column (missing $p) — " +
          "an unassigned partition value would be NULL, which manifest " +
          "tables refuse"))) }
    // PIN the source: it feeds partition discovery AND the classify
    // join, and a non-deterministic source evaluating differently
    // between the two could land rows outside the affected-partition
    // set — same pinning stance as write/upsert. Key-uniqueness is NOT
    // pre-validated here: it is counted inside the classification
    // (each source row carries a unique id; a key grouping >1 distinct
    // ids is a duplicate), so the merge makes ONE pass over the source
    // instead of three.
    source.persist()
    // a throw BEFORE the classification exists (the null-partition
    // require, a clause-condition analysis error while the join plan
    // resolves) must still unpersist the source — the main try/finally
    // below only engages once `cls` is built
    val (affectedDirs, affectedFiles, cls) = try {
      val partRows = source
        .select(partitionCols.map(c => col(c).cast("string").as(c)): _*)
        .distinct().collect()
      require(partRows.forall(r => partitionCols.indices.forall(i => !r.isNullAt(i))),
        "null partition values are not supported by the manifest merge")
      val srcDirs = partRows.map(r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          s"${escapePathName(c)}=${escapePathName(r.getString(i))}"
        }.mkString("/")).toSet
      // NOT MATCHED BY SOURCE clauses act on target rows the source
      // does not name — every live partition is affected, the whole
      // table is the rewrite set (the SQL semantics demand it)
      val dirs =
        if (notMatchedBySource.nonEmpty)
          manifest.files.map(f => partDirOf(f.path)).toSet
        else srcDirs
      val files = manifest.files.filter(f => dirs.contains(partDirOf(f.path)))

      // classify every (target ∪ source) row of the affected partitions
      // by clause, over the LOGICAL view (conditions and constraints are
      // written in logical names); null-safe key equality matches the
      // upsert's groupBy semantics for null-able non-partition keys
      val tgt = toLogical(readFileSlice(spark, path, manifest, files), manifest)
        .withColumn("__t_present", lit(true)).alias("t")
      // __sid: unique per source row in any one evaluation (partition id
      // rides in the high bits), so a key grouping >1 DISTINCT sids after
      // the join is a genuine source duplicate — a source key matching
      // several target rows fans out one sid and stays legal
      val src = source.withColumn("__s_present", lit(true))
        .withColumn("__sid", monotonically_increasing_id()).alias("s")
      val keyCond = keyCols.map(k =>
        if (plainEqKeys.contains(k)) col(s"t.$k") === col(s"s.$k")
        else col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
      // clause condition: None = unconditional; null evaluates false
      def condOf(b: Option[Column]): Column =
        coalesce(b.getOrElse(lit(true)), lit(false))
      def firstTrue(cs: Seq[(String, MergeClause)], default: String): Column =
        cs.foldRight(lit(default): Column) { case ((code, cl), acc) =>
          when(condOf(cl.condition), lit(code)).otherwise(acc)
        }
      val tP = coalesce(col("t.__t_present"), lit(false))
      val sP = coalesce(col("s.__s_present"), lit(false))
      val action =
        when(tP && sP, firstTrue(matchedCodes, "K"))
          .when(!tP && sP, firstTrue(insertCodes, "X"))
          .otherwise(firstTrue(bySourceCodes, "K"))
      (dirs, files, tgt.join(src, keyCond, "full_outer")
        .withColumn("__action", action)
        .persist())
    } catch {
      case t: Throwable => source.unpersist(); throw t
    }
    val isDel = col("__action").startsWith("D") || col("__action").startsWith("BD")
    val isUpd = col("__action").startsWith("U") || col("__action").startsWith("BU")
    val isIns = col("__action").startsWith("I")
    val isKept = !isDel && col("__action") =!= "X"
    try {
      // ONE validation job over the (now materializing) classification:
      // per-key distinct-sid counts roll up into the duplicate-key
      // check, and the delete count rides the same pass — the two
      // pre-classify source scans this used to cost are gone, and the
      // write job below reads the already-cached join
      // NULL-valued plain-eq keys exempt a group from the duplicate
      // check: under `=` semantics those source rows can match no
      // common target row, so N of them are N independent inserts,
      // not a duplicate key (groupBy would otherwise pool them —
      // groupBy treats NULLs as equal, the join does not)
      val dupEligible = plainEqKeys.toSeq.sorted
        .map(k => col(s"s.$k").isNotNull)
        .foldLeft(lit(true))(_ && _)
      val chk = cls
        .groupBy(keyCols.map(k => col(s"s.$k")): _*)
        .agg(countDistinct(col("s.__sid")).as("__src_c"),
          count(when(isDel, lit(1))).as("__del_c"),
          first(dupEligible).as("__dup_elig"))
        .agg(sum("__del_c").as("dels"),
          count(when(col("__src_c") > 1 && col("__dup_elig"), lit(1)))
            .as("dup_keys"))
        .collect().head
      val nDel = Option(chk.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (chk.getLong(1) > 0)
        throw new IllegalArgumentException(
          s"merge source is not key-unique on ${keyCols.mkString(",")}: " +
            s"${chk.getLong(1)} key(s) carry multiple source rows — " +
            s"nothing written, table still at v$v")
      // constraints enforce on the merged LOGICAL rows, riding the write
      val consSeqM = effectiveConstraints(manifest).toSeq.sortBy(_._1)
      val obsM = org.apache.spark.sql.Observation()
      val aggsM = count(lit(1)).as("n_obs_rows") +:
        count(when(isUpd, lit(1))).as("n_upd") +:
        count(when(isIns, lit(1))).as("n_ins") +:
        consSeqM.map { case (n, e) =>
          count(when(not(coalesce(expr(e), lit(true))), lit(1))).as(s"viol_$n")
        }
      // the merged value of column n for every action code: K keeps the
      // target value; full-row U/I take the source row; explicit SETs
      // update the named columns (others keep target for updates; for
      // inserts, the column's declared DEFAULT if any, else NULL),
      // cast to the column's type (SQL store-assignment)
      def mergedValue(n: String): Column = {
        val dt = logical(n).dataType
        def insertAbsent: Column = manifest.defaults
          .find(_._1.equalsIgnoreCase(n))
          .map { case (_, d) => expr(d).cast(dt) }
          .getOrElse(lit(null).cast(dt))
        val cases: Seq[(String, Column)] =
          updSets.map { case (code, so) =>
            code -> so.map(m => m.get(n).map(_.cast(dt))
              .getOrElse(col(s"t.$n"))).getOrElse(col(s"s.$n"))
          } ++
          insVals.map { case (code, vo) =>
            code -> vo.map(m => m.get(n).map(_.cast(dt))
              .getOrElse(insertAbsent)).getOrElse(col(s"s.$n"))
          } ++
          bySrcSets.map { case (code, m) =>
            code -> m.get(n).map(_.cast(dt)).getOrElse(col(s"t.$n"))
          }
        cases.foldRight(col(s"t.$n"): Column) { case ((code, vc), acc) =>
          when(col("__action") === code, vc).otherwise(acc)
        }
      }
      // __action survives into the observed node and is dropped after
      val observed = cls.where(isKept)
        .select(col("__action") +:
          logical.fieldNames.map(n => mergedValue(n).as(n)).toSeq: _*)
        .observe(obsM, aggsM.head, aggsM.tail: _*)
        .drop("__action")
      val newV = v + 1
      val commitDir = new Path(root,
        f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
      val w = fromLogical(observed, manifest)
        .repartition(partitionCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*)
      // partition columns are mapping-identity, so partitionBy holds
      w.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
        .parquet(commitDir.toString)
      // a merge whose every classified row is a DELETE leaves nothing
      // to write: AQE's empty-relation propagation then elides the
      // CollectMetrics node and the observation reports NO keys at all.
      // Absent metrics default to 0 — sound ONLY while absence implies
      // an empty observed subtree, so that implication is itself
      // verified before any defaulted-to-0 count is trusted: the
      // observed count(*) must equal the staged footer row count (both
      // zero in the genuinely-empty case). A lost-metrics non-empty
      // write — where n_ins=0 would make the row-conservation check
      // below pass even with real constraint violations — fails HERE.
      val staged = stagedFiles(fs, root, commitDir)
      val rowsOut = footerRowCount(fs, root, staged)
      requireObservedStaged(fs, commitDir, obsLong(obsM, "n_obs_rows"), rowsOut,
        s"manifest merge observation lost for $path", "constraint/row",
        s"nothing published, table still at v$v")
      requireNoViolations(fs, commitDir, obsM, consSeqM, path, "merged", v)
      val nUpd = obsLong(obsM, "n_upd")
      val nIns = obsLong(obsM, "n_ins")
      // nDel came from the validation pass above
      // row conservation from footers vs the observed classification
      val rowsIn = (
        if (affectedFiles.forall(_.rows.isDefined)) affectedFiles.flatMap(_.rows).sum
        else footerRowCount(fs, root, affectedFiles)) -
        affectedFiles.flatMap(_.dvRows).sum // masked rows never entered the merge
      if (rowsOut != rowsIn - nDel + nIns) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"manifest merge verification failed for $path: $rowsIn rows in, " +
            s"$nDel deleted + $nIns inserted, but $rowsOut staged — table still at v$v")
      }
      val statKeys =
        (manifest.files.flatMap(_.stats.keys) ++
          manifest.files.flatMap(_.nullCounts.keys) ++
          manifest.files.flatMap(_.valueSets.keys)).distinct
          .filter(k => manifest.schema.get.fieldNames.contains(k))
      val stagedWithStats = stageStats(spark, fs, root, commitDir,
        manifest.schema.get, statKeys, manifest.bloomCols, partitionCols, staged)
      val relCdf: Option[String] =
        if (!changeFeed) None
        else {
          val lcols = logical.fieldNames.toSeq
          // post-images and inserted rows come from the SAME merged
          // projection the write used (a partial SET's post-image is
          // the merged row, not the source row); pre-images and
          // deletes are the target side
          def tSide(cond: Column, tag: String) =
            cls.where(cond)
              .select(lcols.map(n => col(s"t.$n").as(n)): _*)
              .withColumn(ChangeTypeCol, lit(tag))
          def postSide(cond: Column, tag: String) =
            cls.where(cond)
              .select(lcols.map(n => mergedValue(n).as(n)): _*)
              .withColumn(ChangeTypeCol, lit(tag))
          val changes =
            tSide(isUpd, "update_preimage")
              .unionByName(postSide(isUpd, "update_postimage"))
              .unionByName(tSide(isDel, "delete"))
              .unionByName(postSide(isIns, "insert"))
          val cdfP = new Path(commitDir, CdfDir)
          // change files store PHYSICAL names (the feed aliases to
          // logical at its boundary); keep the metadata column through
          // the mapping select
          val physChanges =
            if (manifest.colMap.isEmpty && manifest.fieldMap.isEmpty) changes
            else changes.select(
              physicalProjection(manifest) :+ col(ChangeTypeCol): _*)
          physChanges.repartition(partitionCols.map(col): _*)
            .write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
          val rootQ = fs.makeQualified(root).toString
          Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/"))
        }
      // optimistic publish — upsert's partition-disjoint rules exactly
      val inputPaths = affectedFiles.map(_.path).toSet
      fireRaceHook("merge")
      var attempt = 0
      var curM = manifest
      var curV = newV
      while (true) {
        try {
          publish(fs, root, curV,
            curM.files.filterNot(f => inputPaths.contains(f.path)) ++ stagedWithStats,
            manifest.schema, partitionCols,
            curM.txns ++ txn.toMap, op = Some("merge"), cdf = relCdf,
            constraints = manifest.constraints, colMap = manifest.colMap,
            droppedPhys = manifest.droppedPhys, bloomCols = manifest.bloomCols,
          statsColsDefault = manifest.statsColsDefault,
            generated = manifest.generated, defaults = manifest.defaults, identity = manifest.identity, clusterCols = manifest.clusterCols, extras = manifest.extras, fieldMap = manifest.fieldMap, fieldDropped = manifest.fieldDropped,
            deltaHint = Some((stagedWithStats, inputPaths.toSeq)))
          return MergeStats(curV, nUpd, nDel, nIns)
        } catch {
          case e: IllegalStateException if attempt >= 5 =>
            retriesExhausted(fs, "merge", path, Seq(commitDir), e)
          case e: IllegalStateException if attempt < 5 =>
            attempt += 1
            val headV = currentVersion(spark, path).getOrElse(throw e)
            val headM0 = readManifest(fs, root, headV)
            // WITH SCHEMA EVOLUTION, `manifest` is the in-memory
            // EVOLVED manifest — comparing the raw head against it
            // would declare every benign race lost (the head is always
            // un-evolved). Re-apply the same evolution to the head: an
            // identical result means the racing commit did not touch
            // the shape this merge staged against, so the retry path
            // stays open. A head whose shape makes the re-evolution
            // diverge (or throw) fails the comparison below with the
            // clean race error.
            val headM = evolveWith match {
              case None => headM0
              case Some(srcSchema) =>
                try evolveSchemaFor(headM0, srcSchema, path)
                catch { case _: Exception => headM0 }
            }
            if (txn.exists { case (app, b) => headM.txns.get(app).exists(_ >= b) }) {
              fs.delete(commitDir, true)
              return MergeStats(headV, 0L, 0L, 0L)
            }
            val headAffected = headM.files
              .filter(f => affectedDirs.contains(partDirOf(f.path))).toSet
            // effectiveConstraints (not raw constraints): a concurrently
            // ADDED generated column's synthetic validation was never run
            // against this stage — publishing it unjudged would let the
            // column silently diverge (append's guard has the same shape)
            if (headAffected != affectedFiles.toSet ||
              headM.schema != manifest.schema || headM.partCols != partitionCols ||
              effectiveConstraints(headM) != effectiveConstraints(manifest) ||
              headM.colMap != manifest.colMap ||
              headM.fieldMap != manifest.fieldMap) {
              fs.delete(commitDir, true)
              throw new IllegalStateException(
                s"merge of $path lost its race to a commit that touched its " +
                  "affected partitions (or changed the recorded shape) — the " +
                  "staged merge bakes in superseded pre-images and was " +
                  s"withdrawn; the table is intact at v$headV. Re-run the " +
                  "merge against the new head.", e)
            }
            curM = headM
            curV = headV + 1
        }
      }
      MergeStats(curV, nUpd, nDel, nIns) // unreachable
    } finally {
      cls.unpersist()
      source.unpersist()
      ()
    }
  }

  /** Row-level DELETE under manifest commit: remove every live row
    * matching `predicate`, rewriting ONLY the files that actually
    * contain matches — all other files carry into the new version by
    * reference, zero I/O. Standard SQL DELETE semantics: rows where the
    * predicate evaluates NULL are KEPT (only provably-true matches
    * go), and the rewrite is verified row-conserving (kept + deleted =
    * rewritten files' rows) before anything publishes.
    *
    * The rewrite set is discovered by ONE filtered scan over the
    * single-scan manifest read, so predicate pushdown, partition
    * pruning, AND manifest min/max/null-count file skipping all shrink
    * it before any file is opened — a delete keyed on a z-ordered or
    * stats-tracked column touches only the files whose range overlaps,
    * which is the property that makes targeted deletes (GDPR erasure,
    * bad-batch excision) tractable on a 100 TB table. The one driver
    * collect is the matched-file PATH list — bounded by file count,
    * never rows.
    *
    * The deleted rows are stamped as `_change_type = 'delete'` change
    * files under the commit's hidden `_cdf` dir, so [[readChangeFeed]]
    * serves exact row-level deltas across deletes just as it does for
    * upserts (`changeFeed = false` skips the stamping, same opt-out as
    * upsert). A no-match delete publishes NOTHING and returns the
    * current version (the table is already the result). Carries the
    * txn ledger; `txn` gives delete the same exactly-once replay guard
    * as append/upsert.
    *
    * A predicate over PARTITION COLUMNS alone takes a metadata-only
    * fast path: matched partitions' files drop by reference, zero
    * rewrite (see the fast-path comment in the body). Deletes publish
    * OPTIMISTICALLY: losing the version race to a commit that neither
    * touched the match-bearing files nor appended predicate-matching
    * rows retries at the new head; anything else is a loud conflict
    * ([[publishDeleteOptimistic]]). Returns the (possibly unchanged)
    * head version.
    */
  // ---- column mapping (rename/drop without rewrite) ----

  /** Present a PHYSICAL frame (recorded-schema column names) through
    * the manifest's logical view: aliased to logical names, in logical
    * order, unmapped physical columns dropped. Identity when no
    * mapping is active. `extraCols` (e.g. the change feed's metadata
    * columns) pass through after the mapped ones.
    */
  /** LOGICAL data type of physical column `p` (type `physType`):
    * identical unless the column carries one-level nested-field
    * renames, which rewrite the struct's (or array<struct>'s) field
    * NAMES — never types or order, which is what makes the boundary
    * conversion a pure positional struct cast.
    */
  /** Render a physical type under `p`'s nested-field renames, at ANY
    * depth: fieldMap entries carry DOTTED paths — (physRoot,
    * logicalPath, physPath), both in their own namespace, arrays
    * transparent (an array<struct>'s fields are addressed without an
    * index segment) — and the walk renames each struct field whose
    * physical path has an entry, recursing through struct and array
    * layers. Depth-1 legacy entries are single-segment paths and
    * render exactly as before. Types and field ORDER never change, so
    * the logical/physical boundary stays a positional struct cast.
    */
  private def logicalTypeOf(m: Manifest, p: String,
                            physType: DataType): DataType = {
    val fm = m.fieldMap.filter(_._1 == p)
    if (fm.isEmpty) physType
    else {
      val leafByPhysPath = fm.map { case (_, l, pp) =>
        pp -> l.split("\\.").last }.toMap
      def walk(dt: DataType, prefix: Seq[String]): DataType = dt match {
        case st: StructType => StructType(st.fields.map { f =>
          val pth = prefix :+ f.name
          f.copy(
            name = leafByPhysPath.getOrElse(pth.mkString("."), f.name),
            dataType = walk(f.dataType, pth))
        })
        case at: org.apache.spark.sql.types.ArrayType =>
          at.copy(elementType = walk(at.elementType, prefix))
        case other => other
      }
      walk(physType, Nil)
    }
  }

  /** Resolve a LOGICAL dotted path under `physRoot` to its PHYSICAL
    * path by greedy prefix matching over `entries` (the root's
    * fieldMap rows): a prefix with an entry swaps to its recorded
    * physical path; unmapped segments pass through by name.
    */
  private def resolvePhysPath(entries: Seq[(String, String, String)],
                              logicalSegs: Seq[String]): Seq[String] = {
    var phys = List.empty[String]
    var log = List.empty[String]
    logicalSegs.foreach { seg =>
      log = log :+ seg
      entries.find(_._2 == log.mkString(".")) match {
        case Some((_, _, pp)) => phys = pp.split("\\.").toList
        case None => phys = phys :+ seg
      }
    }
    phys
  }

  /** The type at a PHYSICAL dotted path, arrays transparent; None when
    * the path walks off the recorded shape.
    */
  private def typeAtPhysPath(dt: DataType,
                             physPath: Seq[String]): Option[DataType] =
    if (physPath.isEmpty) Some(dt)
    else dt match {
      case st: StructType => st.fields.find(_.name == physPath.head)
        .flatMap(f => typeAtPhysPath(f.dataType, physPath.tail))
      case at: org.apache.spark.sql.types.ArrayType =>
        typeAtPhysPath(at.elementType, physPath)
      case _ => None
    }

  /** Rebuild `dt` with the leaf at `physPath` carrying `newLeaf`
    * (arrays transparent; everything else untouched).
    */
  private def rebuildAtPhysPath(dt: DataType, physPath: Seq[String],
                                newLeaf: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      if (f.name == physPath.head)
        f.copy(dataType =
          if (physPath.tail.isEmpty) newLeaf
          else rebuildAtPhysPath(f.dataType, physPath.tail, newLeaf))
      else f))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = rebuildAtPhysPath(at.elementType, physPath, newLeaf))
    case other => other
  }

  /** The boundary conversion for one mapped column: a positional
    * struct cast when nested-field renames apply (field names differ,
    * types and order are identical by construction), a bare alias
    * otherwise.
    */
  private def boundaryCol(m: Manifest, from: String, to: String,
                          targetType: Option[DataType]): Column =
    targetType match {
      case Some(t) => col(from).cast(t).as(to)
      case None => col(from).as(to)
    }

  private def toLogical(df: DataFrame, m: Manifest,
                        extraCols: Seq[String] = Seq.empty): DataFrame =
    if (m.colMap.isEmpty && m.fieldMap.isEmpty) df
    else {
      val cm = m.colMap.getOrElse(
        m.schema.map(_.fieldNames.toSeq).getOrElse(Seq.empty).map(n => n -> n))
      df.select(cm.map { case (l, p) =>
        val physType = m.schema.get(p).dataType
        val logType = logicalTypeOf(m, p, physType)
        boundaryCol(m, p, l,
          if (logType == physType) None else Some(logType))
      } ++ extraCols.map(col): _*)
    }

  /** Invert [[toLogical]]: a LOGICAL frame back to physical names for
    * writing (nested-field renames cast back to the recorded physical
    * field names). Dropped physical columns are absent from the result —
    * they are invisible logically, and a rewritten file serves them as
    * typed nulls through the recorded physical schema if ever scanned.
    */
  private def fromLogical(df: DataFrame, m: Manifest): DataFrame =
    if (m.colMap.isEmpty && m.fieldMap.isEmpty) df
    else df.select(physicalProjection(m): _*)

  /** The logical→physical write projection every physical sink
    * (rewrites, change-file stamps) shares.
    */
  private def physicalProjection(m: Manifest,
                                 mapping: Option[Seq[(String, String)]] = None)
      : Seq[Column] = {
    val cm = mapping.orElse(m.colMap).getOrElse(
      m.schema.map(_.fieldNames.toSeq).getOrElse(Seq.empty).map(n => n -> n))
    cm.map { case (l, p) =>
      // columns not yet in the recorded schema (an extended mapping —
      // additive widening, a generated-column backfill) have no
      // physical type to cast to; they alias through
      m.schema.flatMap(_.fields.find(_.name == p)) match {
        case None => col(l).as(p)
        case Some(f) =>
          val logType = logicalTypeOf(m, p, f.dataType)
          boundaryCol(m, l, p,
            if (logType == f.dataType) None else Some(f.dataType))
      }
    }
  }

  /** Cast each nested-renamed column of a physical-TOP-named batch to
    * its recorded PHYSICAL type: the batch arrives with logical nested
    * field names, and every staged file must store the physical ones
    * (positional struct cast — types and order identical, names swap).
    */
  private def nestedToPhysical(df: DataFrame, m: Manifest): DataFrame =
    if (m.fieldMap.isEmpty) df
    else m.fieldMap.map(_._1).distinct.foldLeft(df) { (d, pcol) =>
      m.schema.flatMap(_.fields.find(_.name == pcol)) match {
        case Some(f) if d.columns.contains(pcol) =>
          d.withColumn(pcol, col(pcol).cast(f.dataType))
        case _ => d
      }
    }

  /** The table's LOGICAL schema — what the public read surface serves.
    * Physical when no mapping is active.
    */
  private[etl] def logicalSchemaOf(m: Manifest): StructType =
    if (m.colMap.isEmpty && m.fieldMap.isEmpty)
      m.schema.getOrElse(StructType(Seq.empty))
    else {
      val cm = m.colMap.getOrElse(
        m.schema.map(_.fieldNames.toSeq).getOrElse(Seq.empty).map(n => n -> n))
      val phys = m.schema.get
      StructType(cm.map { case (l, p) =>
        val f = phys(p)
        f.copy(name = l, dataType = logicalTypeOf(m, p, f.dataType))
      }.toArray)
    }

  /** Rename a LOGICAL batch to physical names for writing. Known
    * logical columns take their mapped physical name; NEW columns
    * (additive widening) get a collision-free physical name — the
    * logical name itself unless some file ever carried it (a dropped
    * column must never resurrect), else `<name>__<k>`. Returns the
    * physical frame plus the extended mapping to record.
    */
  private def batchToPhysical(df: DataFrame, cm: Seq[(String, String)],
                              dropped: Seq[String]): (DataFrame, Seq[(String, String)]) = {
    val byLogical = cm.toMap
    val used = scala.collection.mutable.Set[String]((cm.map(_._2) ++ dropped): _*)
    val outMap = Seq.newBuilder[(String, String)]
    outMap ++= cm
    val cols = df.schema.fieldNames.toSeq.map { n =>
      byLogical.get(n) match {
        case Some(p) => col(n).as(p)
        case None =>
          val fresh =
            if (!used.contains(n)) n
            else Iterator.from(1).map(k => s"${n}__$k").find(!used.contains(_)).get
          used += fresh
          outMap += (n -> fresh)
          col(n).as(fresh)
      }
    }
    (df.select(cols: _*), outMap.result())
  }

  /** Rewrite a LOGICAL-name SQL expression (constraint text) to
    * physical names through the mapping — single-part column
    * references only, which is all the flat recorded schema can hold.
    */
  private def exprToPhysical(spark: SparkSession, sqlText: String,
                             cm: Seq[(String, String)],
                             fieldMap: Seq[(String, String, String)] = Seq.empty)
      : String = {
    val byLogical = cm.toMap
    val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
    parsed.transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 && byLogical.contains(a.nameParts.head) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(byLogical(a.nameParts.head)))
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length >= 2 =>
        // a constraint written against renamed nested fields — at any
        // depth — still resolves on the PHYSICAL frame the append-path
        // enforcement runs over: the logical tail translates through
        // the same greedy prefix walk the schema ops use
        val physRoot = byLogical.getOrElse(a.nameParts.head, a.nameParts.head)
        val physTail = resolvePhysPath(
          fieldMap.filter(_._1 == physRoot), a.nameParts.tail)
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          physRoot +: physTail)
    }.sql
  }

  /** The hive `k=v` partition-dir string of a manifest-relative data
    * path (`data/v<N>/k1=v1/.../file.parquet` → `k1=v1/...`).
    */
  /** The hive `k=v/…` partition-dir part of a manifest-relative data
    * path. Engine-written files sit under a `data/v<N>…/` prefix;
    * ADOPTED files (in-place conversion of an existing parquet tree)
    * sit directly under the root — so the partition run is located by
    * SHAPE (the contiguous `k=v` segments before the file name), not by
    * position. Commit-dir segments can never contain '=' (version +
    * uuid-hex), so the shapes are unambiguous.
    */
  private[etl] def partDirOf(rel: String): String =
    rel.split("/").dropRight(1)
      .dropWhile(!_.contains('=')).takeWhile(_.contains('='))
      .mkString("/")

  /** PHYSICAL scan of `files` carrying the parquet reader's per-row
    * provenance — `__dv_fp` (file path string) and `__dv_ri` (row index
    * within the file) — with any EXISTING deletion-vector masks already
    * applied. The building block of DV writes: the pair is exactly what
    * a deletion vector records, rendered by the same reader that will
    * later re-render it at mask-apply time, so the two sides match by
    * construction.
    */
  private def scanWithRowMeta(spark: SparkSession, fs: FileSystem, root: Path,
                              m: Manifest, files: Seq[LiveFile]): DataFrame = {
    val schema = m.schema.get
    val scan = spark.baseRelationToDataFrame(
      hadoopFsRelation(spark, fs, root, m.copy(files = files)))
      .select(col("_metadata.file_path").as("__dv_fp") +:
        col("_metadata.row_index").as("__dv_ri") +:
        schema.fieldNames.map(col): _*)
    val dvDirs = files.flatMap(_.dv).distinct
    if (dvDirs.isEmpty) scan
    else {
      // join on the manifest-RELATIVE path, keeping the absolute
      // __dv_fp for downstream driver-side resolution — see relPathExpr
      val dvDf = spark.read.parquet(dvDirs.map(p =>
        fs.makeQualified(new Path(root, p)).toString): _*)
        .select(dvRelExpr(col("file_path")).as("__dv_rel"),
          col("row_index").as("__dv_ri"))
      scan.withColumn("__dv_rel", relPathExpr(col("__dv_fp")))
        .join(dvDf, Seq("__dv_rel", "__dv_ri"), "left_anti")
        .drop("__dv_rel")
    }
  }

  /** Manifest-relative `data/v…` path from a parquet reader
    * `_metadata.file_path` value (a URL-ENCODED absolute URI whose
    * textual rendering differs from `makeQualified`'s): decode, then
    * take everything from the LAST `/data/v` marker — partition dir
    * segments cannot contain '/', so the marker is unambiguous. Pure
    * codegen'd string ops (no UDF), the same resolution
    * [[readWithRowIds]] applies. Deletion-vector files store THIS form
    * (root-relative, matching every other manifest reference), so the
    * table stays relocatable: move/copy the table directory and the
    * masks still apply — absolute URIs would silently resurrect
    * deleted rows under a new mount point. Decoding is URI-style, not
    * form-style: `url_decode` alone maps a literal '+' in a partition
    * dir name to a space, so the derived relative path would never
    * equal the manifest entry and a later DV carry-forward would drop
    * the file's existing mask rows — '+' is pre-escaped to %2B so it
    * round-trips.
    */
  private def relPathExpr(c: Column): Column =
    concat(lit(DataDir + "/v"),
      element_at(split(uriDecode(c), "/" + DataDir + "/v"), -1))

  /** URI-style percent-decoding of a reader path. Spark's `url_decode`
    * is FORM decoding ('+' → space); a literal '+' in a partition
    * value reaches `_metadata.file_path` unencoded, so it must be
    * escaped to %2B before decoding or the decoded path diverges from
    * the manifest's stored entry path.
    */
  private def uriDecode(c: Column): Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  /** A deletion-vector file's stored `file_path` → manifest-relative:
    * new-format rows are already relative (pass through — decoding
    * again would corrupt a path whose raw dir names contain '%'),
    * legacy rows stored the reader's absolute URL-encoded URI and
    * resolve through the same extraction the writer now applies (which
    * matches only while the table has not moved — exactly the old
    * format's contract, no worse).
    */
  private def dvRelExpr(c: Column): Column =
    when(c.startsWith(DataDir + "/v"), c).otherwise(relPathExpr(c))

  /** The subset of `dirs` (hive partition-dir strings) whose TYPED
    * partition values satisfy `predicate`, or None when the predicate
    * cannot be decided from partition values alone: it references data
    * columns (its references, resolved against the table's `schema`,
    * are not all partition columns), is nondeterministic (would
    * evaluate per-partition instead of per-row), or any table column is
    * named `__dir` (collides with the helper column). Deciding from the
    * references runs no query that fails analysis on purpose — Spark
    * reports every failed analysis to the session's listeners. NULL
    * partition values keep SQL semantics — the predicate evaluates NULL
    * there, which is not a match.
    */
  private def matchedPartitionDirs(spark: SparkSession, schema: StructType,
                                   partCols: Seq[String], predicate: Column,
                                   dirs: Seq[String]): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def conditionOf(df: DataFrame) =
      df.queryExecution.analyzed.collectFirst { case f: Filter => f.condition }
    // a predicate that does not resolve against the table at all fails
    // the rewrite path's scan with the same analysis error
    lazy val refs = try
      conditionOf(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .where(predicate)).map(_.references.map(_.name).toSet)
    catch { case _: org.apache.spark.sql.AnalysisException => None }
    if (partCols.isEmpty || partCols.contains("__dir") ||
        schema.fieldNames.contains("__dir") || !refs.exists(_.subsetOf(partCols.toSet))) None
    else {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val rows = dirs.map { d =>
        val vals = d.split("/").map { seg =>
          val s = ExternalCatalogUtils.unescapePathName(seg.substring(seg.indexOf('=') + 1))
          if (s == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else s
        }
        Row.fromSeq(d +: vals.toSeq)
      }
      val strSchema = StructType(StructField("__dir", StringType) +:
        partCols.map(c => StructField(c, StringType)).toArray)
      import scala.jdk.CollectionConverters._
      val filtered = spark.createDataFrame(rows.asJava, strSchema)
        .select(col("__dir") +: partCols.map(c =>
          col(c).cast(schema(c).dataType).as(c)): _*)
        .where(predicate)
      if (!conditionOf(filtered).forall(_.deterministic)) None
      else Some(filtered.select("__dir").collect().map(_.getString(0)).toSet)
    }
  }

  /** Test seam for the optimistic-commit specs: when set, fired ONCE
    * (one-shot, self-clearing) with the op kind right before a
    * committer's first publish attempt — a spec injects a racing
    * commit here to exercise a DETERMINISTIC loss of the version race.
    * Production never sets it.
    */
  private[etl] val raceHook =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](null)

  private def fireRaceHook(op: String): Unit = {
    val h = raceHook.getAndSet(null)
    if (h != null) h(op)
  }

  /** Publish a delete commit OPTIMISTICALLY: on a lost version race the
    * loser re-reads the head and retries iff (a) every file the delete
    * resolved as match-bearing is still live (no racer rewrote or
    * removed them), (b) the recorded shape is unchanged, and (c) the
    * files added since the delete's snapshot PROVABLY contain no
    * predicate matches — decided exactly, by reading ONLY those files
    * (bounded by the winners' batches, never the table). That last
    * check is Delta's ConcurrentAppendException rule with data instead
    * of stats: a matching row that appeared concurrently is a genuine
    * conflict, because the delete promised its snapshot and silently
    * leaving lookalike rows behind would read as a partial delete. A
    * conflict withdraws `cleanup` (the staged dirs) and fails loudly;
    * file-disjoint deletes and appends of non-matching data compose
    * without coordination.
    */
  private def publishDeleteOptimistic(spark: SparkSession, fs: FileSystem,
                                      root: Path, path: String, predicate: Column,
                                      snapshot: Manifest, v: Long,
                                      candidates: Seq[LiveFile],
                                      staged: Seq[LiveFile],
                                      schema: StructType,
                                      txn: Option[(String, Long)],
                                      relCdf: Option[String],
                                      cleanup: Seq[Path],
                                      partitionOnly: Boolean): Long = {
    fireRaceHook("delete")
    val candidatePaths = candidates.map(_.path).toSet
    var attempt = 0
    var curM = snapshot
    var curV = v + 1
    while (true) {
      try {
        publish(fs, root, curV,
          curM.files.filterNot(f => candidatePaths.contains(f.path)) ++ staged,
          Some(schema), snapshot.partCols,
          // deletes remove rows only, so they can never violate a
          // constraint — carry the HEAD's (a concurrently-added one
          // survives the retry instead of being clobbered)
          curM.txns ++ txn.toMap, op = Some("delete"), cdf = relCdf,
          constraints = curM.constraints, colMap = curM.colMap,
          droppedPhys = curM.droppedPhys, bloomCols = curM.bloomCols,
          statsColsDefault = curM.statsColsDefault,
          generated = curM.generated, defaults = curM.defaults, identity = curM.identity, clusterCols = curM.clusterCols, extras = curM.extras, fieldMap = curM.fieldMap, fieldDropped = curM.fieldDropped,
          deltaHint = Some((staged, candidatePaths.toSeq)))
        return curV
      } catch {
        case e: IllegalStateException if attempt >= 5 =>
          retriesExhausted(fs, "delete", path, cleanup, e)
        case e: IllegalStateException if attempt < 5 =>
          attempt += 1
          val headV = currentVersion(spark, path).getOrElse(throw e)
          val headM = readManifest(fs, root, headV)
          if (txn.exists { case (app, b) => headM.txns.get(app).exists(_ >= b) }) {
            cleanup.foreach(fs.delete(_, true))
            return headV
          }
          def conflict(reason: String): Nothing = {
            cleanup.foreach(fs.delete(_, true))
            throw new IllegalStateException(
              s"delete of $path lost its race to a commit that $reason — " +
                s"the staged result was withdrawn; the table is intact at " +
                s"v$headV. Re-run the delete against the new head.", e)
          }
          // ENTRY equality, not path presence: a racer that re-MASKED a
          // candidate (deletion-vector delete) keeps its path but
          // changes its entry — re-publishing our stale entry would
          // silently undo the winner's mask
          val headSet = headM.files.toSet
          if (!candidates.forall(headSet.contains))
            conflict("rewrote, removed, or re-masked its match-bearing files")
          if (headM.schema != snapshot.schema || headM.partCols != snapshot.partCols ||
            headM.colMap != snapshot.colMap ||
            headM.fieldMap != snapshot.fieldMap)
            conflict("changed the recorded shape")
          val snapshotPaths = snapshot.files.map(_.path).toSet
          val added = headM.files.filterNot(f => snapshotPaths.contains(f.path))
          if (added.nonEmpty) {
            // PARTITION-ONLY deletes decide this from the added files'
            // partition dirs alone — a dir the predicate matches means
            // every row in the file matches (conflict), any other dir
            // provably contains none: the retry costs ZERO data I/O,
            // so a metadata-only delete composes with disjoint
            // appends/upserts/deletes at manifest speed. The rewrite
            // path (data-column predicate) still reads only the added
            // files — bounded by the winners' batches, never the table.
            val matchingAdded =
              if (partitionOnly)
                matchedPartitionDirs(spark, schema, snapshot.partCols, predicate,
                  added.map(f => partDirOf(f.path)).distinct)
                  .map(m => added.exists(f => m.contains(partDirOf(f.path))))
              else None
            val hit = matchingAdded.getOrElse(
              toLogical(readFileSlice(spark, path, headM, added), headM)
                .where(predicate).limit(1).count() > 0)
            if (hit) conflict("appended rows matching the delete predicate")
          }
          curM = headM
          curV = headV + 1
      }
    }
    curV // unreachable; the loop exits via return
  }

  def delete(spark: SparkSession, path: String, predicate: Column,
             txn: Option[(String, Long)] = None,
             changeFeed: Boolean = true,
             deletionVectors: Boolean = false): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val manifest = readManifest(fs, root, v)
    if (txn.exists { case (app, b) => manifest.txns.get(app).exists(_ >= b) })
      return v
    val schema = manifest.schema.getOrElse(throw new IllegalArgumentException(
      s"table at $path has a headerless legacy manifest — delete needs the " +
        "recorded schema (run one append or upsert to adopt a header first)"))
    Seq(ChangeTypeCol, CommitVersionCol).foreach(r =>
      require(!schema.fieldNames.contains(r) &&
        !logicalSchemaOf(manifest).fieldNames.contains(r),
        s"column name $r is reserved for the change feed's metadata"))
    if (manifest.files.isEmpty) return v
    // ---- METADATA-ONLY FAST PATH: a predicate over partition columns
    // alone is CONSTANT within every file, so the matched partitions'
    // files leave the live set BY REFERENCE — zero rewrite I/O, and
    // with the change feed disabled zero data I/O at all: "drop the
    // bad source/day/shard" on a 100 TB table is one manifest write.
    // Detection is by the predicate's references, resolved against
    // the table's logical columns: all partition columns → the
    // predicate is applied to a tiny local frame holding only the
    // typed partition values; any data column → the rewrite path below.
    // NULL partition values keep their SQL DELETE semantics — the
    // predicate evaluates NULL there, which is not a match.
    matchedPartitionDirs(spark, logicalSchemaOf(manifest), manifest.partCols, predicate,
      manifest.files.map(f => partDirOf(f.path)).distinct) match {
      case Some(matched) =>
        val candidates =
          manifest.files.filter(f => matched.contains(partDirOf(f.path)))
        if (candidates.isEmpty) return v // no partition matches: table is the result
        val newV = v + 1
        val (relCdf, cdfCleanup) =
          if (!changeFeed) (None, Seq.empty[Path])
          else {
            // the feed still serves the EXACT dropped rows — one read
            // of the dropped files, staged under a unique commit dir
            // that holds nothing but the change files
            val commitDir = new Path(root,
              f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
            val cdfP = new Path(commitDir, CdfDir)
            readFileSlice(spark, path, manifest, candidates)
              .withColumn(ChangeTypeCol, lit("delete"))
              .write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
            val rootQ = fs.makeQualified(root).toString
            (Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/")),
              Seq(commitDir))
          }
        return publishDeleteOptimistic(spark, fs, root, path, predicate,
          manifest, v, candidates, Seq.empty, schema,
          txn, relCdf, cdfCleanup, partitionOnly = true)
      case None => () // references data columns: the rewrite path below
    }
    // which files actually CONTAIN matches — the filtered single scan
    // prunes via pushdown + manifest stats before opening anything.
    // input_file_name() returns URL-ENCODED URIs whose textual form
    // (file:/// vs file:/, %20 escapes in partition values) differs
    // from makeQualified's rendering, so both sides resolve to one
    // canonical decoded (scheme, authority, path) form before matching.
    def canon(p: Path): String = {
      val u = fs.makeQualified(p).toUri
      Option(u.getScheme).getOrElse("") + "://" +
        Option(u.getAuthority).getOrElse("") + u.getPath
    }
    def canonStr(sv: String): String =
      canon(try new Path(new java.net.URI(sv))
            catch { case _: Exception => new Path(sv) })
    // per-row _metadata.file_path, not input_file_name(): the metadata
    // column survives the deletion-vector anti-join and the
    // masked/plain union, where input_file_name() goes blank
    val matchedUris = toLogical(
      scanWithRowMeta(spark, fs, root, manifest, manifest.files),
      manifest, extraCols = Seq("__dv_fp"))
      .where(predicate)
      .select(col("__dv_fp")).distinct()
      .collect().map(r => canonStr(r.getString(0))).toSet
    if (matchedUris.isEmpty) return v
    val candidates =
      manifest.files.filter(f => matchedUris.contains(canon(new Path(root, f.path))))
    require(candidates.size == matchedUris.size,
      s"matched file paths did not resolve against the live set: " +
        s"${matchedUris.size} matched, ${candidates.size} resolved")
    // ---- DELETION-VECTOR PATH: mark the matched rows instead of
    // rewriting the match-bearing files — the write amplification of a
    // needle-in-a-1GB-file delete drops from the file size to a KB-scale
    // sidecar of (file_path, row_index) pairs. The mask applies at scan
    // time (see readFiles); compaction rewrites masked files and clears
    // their vectors. Fully-masked files leave the live set by reference.
    if (deletionVectors) {
      val metaL = toLogical(scanWithRowMeta(spark, fs, root, manifest, candidates),
        manifest, extraCols = Seq("__dv_fp", "__dv_ri"))
      val matched = metaL.where(predicate)
      matched.persist()
      try {
        val newV = v + 1
        val commitDir = new Path(root,
          f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
        val dvP = new Path(commitDir, DvDir)
        val perFp = matched.groupBy(col("__dv_fp")).count().collect()
          .map(r => canonStr(r.getString(0)) -> r.getLong(1)).toMap
        // DV files store the manifest-RELATIVE path (the table's
        // relocatability contract — see relPathExpr), derived from the
        // reader metadata by the same codegen'd extraction the probes
        // apply, so the two sides match by construction
        val newRows = matched.select(relPathExpr(col("__dv_fp")).as("file_path"),
          col("__dv_ri").cast("long").as("row_index"))
        val oldDvDirs = candidates.flatMap(_.dv).distinct
        val dvAll =
          if (oldDvDirs.isEmpty) newRows
          else {
            // the candidates' EXISTING masked rows carry into the new
            // dir (each entry references exactly one dv dir); other
            // files' rows stay behind, still referenced by their own
            // entries. Legacy absolute rows normalize to relative on
            // the way through (dvRelExpr), so a pre-relative table
            // upgrades its vectors the first time they are touched.
            spark.read.parquet(oldDvDirs.map(pp =>
              fs.makeQualified(new Path(root, pp)).toString): _*)
              .select(dvRelExpr(col("file_path")).as("file_path"), col("row_index"))
              .where(col("file_path").isInCollection(candidates.map(_.path)))
              .unionByName(newRows)
          }
        dvAll.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dvP.toString)
        val rootQ = fs.makeQualified(root).toString
        val relDv = fs.makeQualified(dvP).toString.stripPrefix(rootQ).stripPrefix("/")
        val updated = candidates.flatMap { f =>
          val newCount = perFp.getOrElse(canon(new Path(root, f.path)), 0L) +
            f.dvRows.getOrElse(0L)
          f.rows.foreach(r => require(newCount <= r,
            s"deletion-vector overflow for ${f.path}: $newCount masked of $r rows"))
          // every row masked: the file leaves the live set by reference
          if (f.rows.contains(newCount)) None
          else Some(f.copy(dv = Some(relDv), dvRows = Some(newCount)))
        }
        val relCdf =
          if (!changeFeed) None
          else {
            val cdfP = new Path(commitDir, CdfDir)
            val goneL = matched.drop("__dv_fp", "__dv_ri")
            val phys =
              if (manifest.colMap.isEmpty && manifest.fieldMap.isEmpty) goneL
              else goneL.select(physicalProjection(manifest): _*)
            phys.withColumn(ChangeTypeCol, lit("delete"))
              .write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
            Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/"))
          }
        return publishDeleteOptimistic(spark, fs, root, path, predicate,
          manifest, v, candidates, updated, schema,
          txn, relCdf, Seq(commitDir), partitionOnly = false)
      } finally {
        matched.unpersist()
        ()
      }
    }
    val src = toLogical(readFileSlice(spark, path, manifest, candidates), manifest)
    src.persist()
    try {
      // predicate evaluates on the LOGICAL view; the kept/deleted rows
      // convert back to physical names for the rewritten files and the
      // stamped change files (the feed aliases to logical at its own
      // boundary)
      val keep = fromLogical(src.where(!coalesce(predicate, lit(false))), manifest)
      val gone = fromLogical(src.where(predicate), manifest)
      val newV = v + 1
      // unique staging dir: deletes publish optimistically (see
      // publishDeleteOptimistic), so racers must never share one
      val commitDir = new Path(root,
        f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
      val w = keep.write.mode(SaveMode.Overwrite)
      (if (manifest.partCols.nonEmpty) w.partitionBy(manifest.partCols: _*) else w)
        .parquet(commitDir.toString)
      // row conservation, verified while the commit is invisible — the
      // input side comes from the matched files' recorded counts (or
      // their footers), the staged side from the fresh footers; only
      // the deleted-row count runs as a job, over the cached slice
      val rowsIn = (
        if (candidates.forall(_.rows.isDefined)) candidates.flatMap(_.rows).sum
        else footerRowCount(fs, root, candidates)) -
        candidates.flatMap(_.dvRows).sum // masked rows never entered the slice
      val rowsGone = gone.count()
      val staged = stagedFiles(fs, root, commitDir)
      val rowsOut = footerRowCount(fs, root, staged)
      if (rowsOut + rowsGone != rowsIn) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"manifest delete verification failed for $path: $rowsIn rows in " +
            s"rewritten files, $rowsOut kept + $rowsGone deleted — table still at v$v")
      }
      val stagedCols = keep.schema.fieldNames.toSet
      val statKeys =
        (manifest.files.flatMap(_.stats.keys) ++
          manifest.files.flatMap(_.nullCounts.keys) ++
          manifest.files.flatMap(_.valueSets.keys)).distinct
          .filter(stagedCols.contains)
      val withStats = stageStats(spark, fs, root, commitDir, schema,
        statKeys, manifest.bloomCols, manifest.partCols, staged)
      val relCdf =
        if (!changeFeed) None
        else {
          val cdfP = new Path(commitDir, CdfDir)
          gone.withColumn(ChangeTypeCol, lit("delete"))
            .write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
          val rootQ = fs.makeQualified(root).toString
          Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/"))
        }
      publishDeleteOptimistic(spark, fs, root, path, predicate,
        manifest, v, candidates, withStats, schema,
        txn, relCdf, Seq(commitDir), partitionOnly = false)
    } finally {
      src.unpersist()
      ()
    }
  }

  /** Row-level UPDATE under manifest commit — `UPDATE t SET c = expr
    * WHERE cond`: rewrite ONLY the files containing condition matches,
    * applying `set` to the matched rows; every other file carries by
    * reference, and unmatched rows in rewritten files pass through
    * byte-equal. SQL semantics: rows where the condition is NULL do NOT
    * update. Set expressions may reference any (logical) table column
    * (the pre-update row values, as in SQL). Partition columns cannot
    * be updated (that is a delete + insert — use [[merge]]); column
    * types must be preserved (cast in the expression). Change files
    * stamp exact `update_preimage`/`update_postimage` rows; row
    * conservation is verified pre-publish; publishes with the same
    * optimistic rules as delete. Returns the published (or unchanged)
    * version.
    */
  def update(spark: SparkSession, path: String, condition: Column,
             set: Map[String, Column],
             txn: Option[(String, Long)] = None,
             changeFeed: Boolean = true): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val manifest = readManifest(fs, root, v)
    if (txn.exists { case (app, b) => manifest.txns.get(app).exists(_ >= b) })
      return v
    val schema = manifest.schema.getOrElse(throw new IllegalArgumentException(
      s"table at $path has a headerless legacy manifest — update needs the " +
        "recorded schema (run one append or upsert to adopt a header first)"))
    val logical = logicalSchemaOf(manifest)
    // assignments may target a top-level column or a field ONE level
    // inside a struct column (`meta.qual = …` — the Delta nested-SET
    // shape); deeper nesting and array<struct> elements refuse
    val (nestedSet, flatSet) = set.partition(_._1.contains('.'))
    manifest.identity.foreach { case (n, _, _, _, _) =>
      require(!set.keys.exists(_.equalsIgnoreCase(n)),
        s"column $n is GENERATED ALWAYS AS IDENTITY on $path — UPDATE " +
          "cannot assign it")
    }
    flatSet.keys.foreach { c =>
      require(logical.fieldNames.contains(c),
        s"SET column $c is not a table column (${logical.fieldNames.mkString(", ")})")
      require(!manifest.partCols.contains(c),
        s"cannot UPDATE partition column $c — rows would have to move " +
          "between partitions; use merge (delete + insert) instead")
    }
    val nestedByRoot: Map[String, Seq[(String, Column)]] = nestedSet.toSeq
      .map { case (k, e) =>
        val parts = k.split("\\.")
        require(parts.length == 2,
          s"SET $k: nested assignments reach ONE level inside a struct " +
            "column; rewrite the column for deeper surgery")
        val (rootL, fieldL) = (parts(0), parts(1))
        require(logical.fieldNames.contains(rootL),
          s"SET column $k: no column named $rootL " +
            s"(columns: ${logical.fieldNames.mkString(", ")})")
        require(!flatSet.contains(rootL),
          s"SET assigns both $rootL and $k — assign one or the other")
        logical(rootL).dataType match {
          case st: StructType =>
            require(st.fieldNames.contains(fieldL),
              s"SET $k: no field named $fieldL inside $rootL " +
                s"(fields: ${st.fieldNames.mkString(", ")})")
          case other => throw new IllegalArgumentException(
            s"SET $k: $rootL is ${other.catalogString} — nested SET applies " +
              "to struct columns (array<struct> elements need a rewrite)")
        }
        (rootL, (fieldL, e))
      }
      .groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2) }
    Seq(ChangeTypeCol, CommitVersionCol).foreach(r =>
      require(!schema.fieldNames.contains(r) && !logical.fieldNames.contains(r),
        s"column name $r is reserved for the change feed's metadata"))
    if (manifest.files.isEmpty) return v
    def canon(p: Path): String = {
      val u = fs.makeQualified(p).toUri
      Option(u.getScheme).getOrElse("") + "://" +
        Option(u.getAuthority).getOrElse("") + u.getPath
    }
    def canonStr(sv: String): String =
      canon(try new Path(new java.net.URI(sv))
            catch { case _: Exception => new Path(sv) })
    val matchedUris = toLogical(
      scanWithRowMeta(spark, fs, root, manifest, manifest.files),
      manifest, extraCols = Seq("__dv_fp"))
      .where(condition)
      .select(col("__dv_fp")).distinct()
      .collect().map(r => canonStr(r.getString(0))).toSet
    if (matchedUris.isEmpty) return v
    val candidates =
      manifest.files.filter(f => matchedUris.contains(canon(new Path(root, f.path))))
    require(candidates.size == matchedUris.size,
      s"matched file paths did not resolve against the live set: " +
        s"${matchedUris.size} matched, ${candidates.size} resolved")
    val src = toLogical(readFileSlice(spark, path, manifest, candidates), manifest)
    src.persist()
    try {
      val hit = coalesce(condition, lit(false))
      // SET expressions see the PRE-update row (SQL semantics): compute
      // every assignment from the original columns in one projection,
      // keeping each column's declared type
      val outCols = logical.fields.toSeq.map { f =>
        flatSet.get(f.name) match {
          case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => nestedByRoot.get(f.name) match {
            case Some(fields) =>
              // withField keeps every other field and stays NULL on a
              // NULL struct — the SQL nested-SET contract
              val st = f.dataType.asInstanceOf[StructType]
              val updated = fields.foldLeft(col(f.name)) { case (c, (fn, e)) =>
                c.withField(fn, e.cast(st(fn).dataType))
              }
              when(hit, updated).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }
      }
      val rewritten = src.select(outCols: _*)
      // two observation points on the ONE write job: the row/match
      // counts see the PRE-update frame (the condition references
      // pre-update values), the CHECK constraints judge the POST-update
      // projection — evaluating them pre-update would wave through a
      // SET that writes violating values
      val consSeq = effectiveConstraints(manifest).toSeq.sortBy(_._1)
      val obs = org.apache.spark.sql.Observation()
      val obsPost = org.apache.spark.sql.Observation()
      val preObserved = src.observe(obs,
        count(lit(1)).as("rows"), count(when(hit, lit(1))).as("n_upd"))
      val projected = preObserved.select(outCols: _*)
      val observed =
        if (consSeq.isEmpty) projected
        else {
          // count(*) rides along — see the merge path: defaulted-to-0
          // violation counts are only trusted when the observed count
          // matches the staged footer count
          val aggs = count(lit(1)).as("n_obs_rows") +:
            consSeq.map { case (n, e) =>
              count(when(not(coalesce(expr(e), lit(true))), lit(1))).as(s"viol_$n")
            }
          projected.observe(obsPost, aggs.head, aggs.tail: _*)
        }
      val newV = v + 1
      val commitDir = new Path(root,
        f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
      val w = fromLogical(observed, manifest).write.mode(SaveMode.Overwrite)
      (if (manifest.partCols.nonEmpty) w.partitionBy(manifest.partCols: _*) else w)
        .parquet(commitDir.toString)
      val rowsIn = obsLong(obs, "rows")
      val nUpd = obsLong(obs, "n_upd")
      val staged = stagedFiles(fs, root, commitDir)
      val rowsOut = footerRowCount(fs, root, staged)
      if (consSeq.nonEmpty)
        requireObservedStaged(fs, commitDir, obsLong(obsPost, "n_obs_rows"), rowsOut,
          s"manifest update observation lost for $path", "constraint", s"table still at v$v")
      requireNoViolations(fs, commitDir, obsPost, consSeq, path, "updated", v)
      if (rowsOut != rowsIn) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"manifest update verification failed for $path: $rowsIn rows in, " +
            s"$rowsOut staged — table still at v$v")
      }
      require(nUpd > 0, "internal: matched files held no matching rows")
      val stagedCols = rewritten.schema.fieldNames.toSet
      val statKeys =
        (manifest.files.flatMap(_.stats.keys) ++
          manifest.files.flatMap(_.nullCounts.keys) ++
          manifest.files.flatMap(_.valueSets.keys)).distinct
          .filter(k => schema.fieldNames.contains(k))
      val withStats = stageStats(spark, fs, root, commitDir, schema,
        statKeys, manifest.bloomCols, manifest.partCols, staged)
      val relCdf =
        if (!changeFeed) None
        else {
          val pre = src.where(hit).withColumn(ChangeTypeCol, lit("update_preimage"))
          val postM = src.where(hit).select(outCols: _*)
            .withColumn(ChangeTypeCol, lit("update_postimage"))
          val changes = pre.unionByName(postM)
          val physChanges =
            if (manifest.colMap.isEmpty && manifest.fieldMap.isEmpty) changes
            else changes.select(
              physicalProjection(manifest) :+ col(ChangeTypeCol): _*)
          val cdfP = new Path(commitDir, CdfDir)
          physChanges.write.mode(SaveMode.Overwrite).parquet(cdfP.toString)
          val rootQ = fs.makeQualified(root).toString
          Some(fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/"))
        }
      // the feed dispatches CDF reads by op — "update" serves like
      // upsert/delete/merge (see readChangeFeed)
      publishUpdateOptimistic(spark, fs, root, path, manifest, v,
        candidates, withStats, schema, txn, relCdf, Seq(commitDir))
    } finally {
      src.unpersist()
      ()
    }
  }

  /** Optimistic publish for [[update]]: a lost race retries iff every
    * match-bearing file ENTRY is unchanged at the head and the recorded
    * shape is identical — updates never conflict with added files (an
    * UPDATE has no promise about rows that arrived after its snapshot,
    * unlike a delete), so disjoint appends compose freely.
    */
  private def publishUpdateOptimistic(spark: SparkSession, fs: FileSystem,
                                      root: Path, path: String,
                                      snapshot: Manifest, v: Long,
                                      candidates: Seq[LiveFile],
                                      staged: Seq[LiveFile],
                                      schema: StructType,
                                      txn: Option[(String, Long)],
                                      relCdf: Option[String],
                                      cleanup: Seq[Path]): Long = {
    fireRaceHook("update")
    val candidatePaths = candidates.map(_.path).toSet
    var attempt = 0
    var curM = snapshot
    var curV = v + 1
    while (true) {
      try {
        publish(fs, root, curV,
          curM.files.filterNot(f => candidatePaths.contains(f.path)) ++ staged,
          Some(schema), snapshot.partCols,
          curM.txns ++ txn.toMap, op = Some("update"), cdf = relCdf,
          constraints = curM.constraints, colMap = curM.colMap,
          droppedPhys = curM.droppedPhys, bloomCols = curM.bloomCols,
          statsColsDefault = curM.statsColsDefault,
          generated = curM.generated, defaults = curM.defaults, identity = curM.identity, clusterCols = curM.clusterCols, extras = curM.extras, fieldMap = curM.fieldMap, fieldDropped = curM.fieldDropped,
          deltaHint = Some((staged, candidatePaths.toSeq)))
        return curV
      } catch {
        case e: IllegalStateException if attempt >= 5 =>
          retriesExhausted(fs, "update", path, cleanup, e)
        case e: IllegalStateException if attempt < 5 =>
          attempt += 1
          val headV = currentVersion(spark, path).getOrElse(throw e)
          val headM = readManifest(fs, root, headV)
          if (txn.exists { case (app, b) => headM.txns.get(app).exists(_ >= b) }) {
            cleanup.foreach(fs.delete(_, true))
            return headV
          }
          val headSet = headM.files.toSet
          // effectiveConstraints: see the merge guard — a concurrently
          // added generated column's validation must not be bypassed
          if (!candidates.forall(headSet.contains) ||
            headM.schema != snapshot.schema ||
            headM.partCols != snapshot.partCols ||
            headM.colMap != snapshot.colMap ||
            headM.fieldMap != snapshot.fieldMap ||
            effectiveConstraints(headM) != effectiveConstraints(snapshot)) {
            cleanup.foreach(fs.delete(_, true))
            throw new IllegalStateException(
              s"update of $path lost its race to a commit that touched its " +
                "match-bearing files or changed the recorded shape — the " +
                s"staged rewrite was withdrawn; the table is intact at v$headV. " +
                "Re-run the update against the new head.", e)
          }
          curM = headM
          curV = headV + 1
      }
    }
    curV // unreachable
  }

  /** Roll the table back to version `v` by RE-PUBLISHING v's live set
    * as the new head — zero data I/O (the old files never moved; the
    * new manifest just names them again), and the bad versions stay
    * readable for forensics until [[vacuum]]. The txn ledger carries
    * from the CURRENT head, not the restored version: a restore is an
    * operational correction, and resetting writers' watermarks would
    * invite exactly the replayed batches that likely caused the
    * rollback. Returns the new head version.
    */
  def restore(spark: SparkSession, path: String, v: Long): Long = {
    val (fs, root) = fsFor(spark, path)
    if (existingManifestPath(fs, root, v).isEmpty)
      throw new IllegalArgumentException(
        s"cannot restore $path to v$v: version does not exist (never " +
          s"published, or vacuumed); available: ${versions(spark, path).map(_._1).mkString(", ")}")
    val head = currentVersion(spark, path).get
    val target = readManifest(fs, root, v)
    val headM = readManifest(fs, root, head)
    val headTxns = headM.txns
    val newV = head + 1
    // the IDENTITY watermark never rolls back: a restore restores the
    // rows, but re-handing-out ids that live in still-readable history
    // would break never-reuse (the same id could name two different
    // rows across time travel) — the watermark carries forward as the
    // MAX of target and head, like the txn ledger carries from head
    val identityOut = (target.identity, headM.identity) match {
      case (Some((n, st, sp, twm, tbd)), Some((hn, _, _, hwm, _)))
          if n.equalsIgnoreCase(hn) =>
        Some((n, st, sp, math.max(twm, hwm), tbd))
      // the target PREDATES the declaration: dropping the fact would
      // let a later re-declare hand out ids that still name DIFFERENT
      // rows in time-travel-readable history — carry the head's fact
      // (with its watermark) forward like the txn ledger, as long as
      // the restored schema still has the column; bump past any values
      // the restored files themselves carry (per-file stats, if any)
      case (None, Some((hn, hst, hsp, hwm, hbd)))
          if logicalSchemaOf(target).fieldNames.exists(_.equalsIgnoreCase(hn)) =>
        val phys = target.colMap.getOrElse(Seq.empty)
          .collectFirst { case (l, p) if l.equalsIgnoreCase(hn) => p }
          .getOrElse(hn)
        val carried = target.files.flatMap(_.stats.get(phys))
          .flatMap { case (_, hi) => hi.toLongOption }
        Some((hn, hst, hsp,
          if (carried.isEmpty) hwm else math.max(hwm, carried.max + hsp), hbd))
      case (t, _) => t
    }
    // constraints RESTORE with the version (the contract travels with
    // the data that satisfied it) — unlike txns, which carry from head
    publish(fs, root, newV, target.files, target.schema, target.partCols, headTxns,
      op = Some("restore"), constraints = target.constraints,
      colMap = target.colMap, droppedPhys = target.droppedPhys,
      bloomCols = target.bloomCols,
      statsColsDefault = target.statsColsDefault, generated = target.generated,
      defaults = target.defaults, identity = identityOut,
      clusterCols = target.clusterCols, extras = target.extras,
      fieldMap = target.fieldMap, fieldDropped = target.fieldDropped)
    newV
  }

  /** Declare a CHECK constraint on the table — the Delta
    * `delta.constraints` analog: `expression` is ANSI SQL boolean text
    * over the table's columns, recorded in the manifest header by a
    * METADATA-ONLY commit and enforced on every subsequent
    * append/replace/upsert pre-publish (a violating batch fails with
    * the table untouched; see [[writePinned]]/[[upsert]]). SQL CHECK
    * semantics: a row passes when the expression is TRUE or NULL,
    * violates only on FALSE.
    *
    * EXISTING rows are validated first — one scan with pushdown +
    * manifest skipping and a `limit 1` early exit — so a recorded
    * constraint is always an invariant of the live data, never an
    * aspiration. Deletes and compactions cannot violate constraints
    * and carry them forward; restore restores the target version's
    * constraint set along with its data.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    expression: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"constraint name must be non-empty with no tabs or newlines: $name")
    require(!expression.exists(c => c == '\n' || c == '\r'),
      "constraint expression must not contain newlines")
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — constraints need " +
        "the recorded schema (run one append or upsert to adopt a header first)")
    require(!m.constraints.contains(name),
      s"constraint $name already exists on $path (drop it first to change it)")
    // Column nodes parse LAZILY (at analysis), so validate the SQL text
    // eagerly — a typo must be a typed refusal here, not a deferred
    // ParseException out of the validation scan
    try { spark.sessionState.sqlParser.parseExpression(expression); () }
    catch {
      case ex: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"constraint $name is not parseable SQL: ${ex.getMessage}", ex)
    }
    val cond = not(coalesce(expr(expression), lit(true)))
    // resolvability against the RECORDED schema (works on empty tables
    // too): an unresolvable or ill-typed expression is a typed refusal
    try {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logicalSchemaOf(m))
        .where(cond).queryExecution.analyzed
      ()
    } catch {
      case ex: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"constraint $name (`$expression`) cannot be evaluated against " +
            s"the table's schema: ${ex.getMessage}", ex)
    }
    if (m.files.nonEmpty) {
      val bad = toLogical(readFiles(spark, fs, root, m), m).where(cond).limit(1).count()
      if (bad > 0)
        throw new IllegalStateException(
          s"cannot add CHECK constraint $name (`$expression`) to $path: " +
            "existing rows violate it — clean the data first (the table is unchanged)")
    }
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("constraint"), constraints = m.constraints + (name -> expression),
      colMap = m.colMap, droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
          statsColsDefault = m.statsColsDefault,
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras, fieldMap = m.fieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** Remove a declared CHECK constraint — metadata-only commit. */
  def dropConstraint(spark: SparkSession, path: String, name: String): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.constraints.contains(name),
      s"no constraint named $name on $path (declared: " +
        s"${m.constraints.keys.toSeq.sorted.mkString(", ")})")
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("constraint"), constraints = m.constraints - name,
      colMap = m.colMap, droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
          statsColsDefault = m.statsColsDefault,
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras, fieldMap = m.fieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }


  /** `ALTER TABLE … DROP FEATURE '<name>'` — remove a `#requires`
    * header fact once the table provably no longer depends on it, so
    * older readers regain access (the fact is otherwise sticky by
    * design: [[publish]] carries it forward on every commit). The drop
    * must be PROVABLE: only features this writer implements can be
    * verified unused (for `deletion-vectors`, no live entry may carry
    * a mask — run `REORG TABLE … APPLY (PURGE)` or OPTIMIZE first),
    * and the publish-time auto-stamp wins over the drop if evidence
    * remains. Metadata-only commit (op=properties — streams span it as
    * an empty diff). HISTORICAL versions keep their own stamps: a
    * time-travel read of a version written while the feature was live
    * still refuses on an old reader, which is exactly right — those
    * manifests really do depend on it.
    */
  def dropFeature(spark: SparkSession, path: String, feature: String): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.requires.contains(feature),
      s"table at $path does not require feature $feature" +
        (if (m.requires.isEmpty) " (no required features)"
         else s" (required: ${m.requires.sorted.mkString(", ")})"))
    require(SupportedReaderFeatures.contains(feature),
      s"feature $feature is not one this writer implements — it cannot " +
        "verify the table no longer depends on it; upgrade the library")
    feature match {
      case "deletion-vectors" =>
        val masked = m.files.count(_.dv.nonEmpty)
        require(masked == 0,
          s"$masked live file(s) still carry deletion-vector masks — run " +
            "REORG TABLE ... APPLY (PURGE) (or OPTIMIZE) to materialize " +
            "them, then drop the feature")
      case _ => ()
    }
    fireRaceHook("properties")
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("properties"), constraints = m.constraints, colMap = m.colMap,
      droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
      statsColsDefault = m.statsColsDefault, generated = m.generated,
      defaults = m.defaults, identity = m.identity,
      clusterCols = m.clusterCols, extras = m.extras, fieldMap = m.fieldMap,
      fieldDropped = m.fieldDropped, dropRequires = Seq(feature),
      forceSnapshot = true)
    v + 1
  }

  /** SET / UNSET the table's mutable property-shaped header facts —
    * Delta's `ALTER TABLE … SET TBLPROPERTIES` idiom, metadata-only
    * commit. Recognized keys (the same two CREATE TBLPROPERTIES
    * accepts): `graft.statsCols` (sticky min/max/null-count/value-set
    * stat columns — future writes collect them; [[analyzeStats]]
    * backfills existing files) and `graft.bloomCols` (bloom sidecar
    * tracking on future writes/rewrites). SET REPLACES the declared
    * set wholesale (SQL property-value semantics — shrinking is as
    * legal as growing), UNSET clears it; per-file stats ALREADY
    * recorded stay in the manifest, so skipping on old files remains
    * exactly as sound — only future collection changes. Unknown keys
    * refuse loudly: a property the engine cannot honor must never be
    * silently recorded and silently lost. Column names are LOGICAL
    * (resolved case-insensitively, stored physical like every header
    * fact); partition columns refuse — they prune by directory.
    */
  def setTableProperties(spark: SparkSession, path: String,
                         set: Map[String, String] = Map.empty,
                         unset: Seq[String] = Seq.empty,
                         unsetIfExists: Boolean = false): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — table properties " +
        "need the recorded schema (run one append or upsert to adopt a header first)")
    // graft.* keys are ENGINE facts (validated, column-resolved);
    // anything else is a USER property, stored verbatim as an `#extra`
    // fact (`prop:<key>`) — Delta's arbitrary-TBLPROPERTIES contract.
    // Unknown graft.* keys still refuse: a key in the engine namespace
    // the engine cannot honor must never be silently recorded.
    def keyOf(k: String): String = k.toLowerCase(java.util.Locale.ROOT) match {
      case "graft.statscols" => "stats"
      case "graft.bloomcols" => "bloom"
      case "graft.clustercols" => "cluster"
      case "graft.autocompact.targetfilebytes" => "acbytes"
      case "graft.autocompact.minnumfiles" => "acfiles"
      case lk if lk.startsWith("graft.") => throw new IllegalArgumentException(
        s"table property $k is not supported on manifest tables " +
          "(recognized engine facts: graft.statsCols, graft.bloomCols, " +
          "graft.clusterCols, graft.autoCompact.targetFileBytes, " +
          "graft.autoCompact.minNumFiles; non-graft keys store as user " +
          "properties)")
      case lk if lk == "comment" => throw new IllegalArgumentException(
        "set the table comment with COMMENT ON TABLE t IS 'text' (or the " +
          "CREATE ... COMMENT clause), not TBLPROPERTIES")
      case _ => "user"
    }
    val logical = logicalSchemaOf(m)
    val cm = m.colMap.getOrElse(logical.fieldNames.toSeq.map(n => n -> n)).toMap
    def resolvePhys(k: String, value: String): Seq[String] =
      value.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { c =>
        val actual = logical.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"$k column $c is not a table column " +
              s"(columns: ${logical.fieldNames.mkString(", ")})"))
        require(!m.partCols.exists(_.equalsIgnoreCase(cm.getOrElse(actual, actual))),
          s"$k column $actual is a partition column — partitions prune " +
            "by directory, not file stats")
        cm.getOrElse(actual, actual)
      }
    var stats = m.statsColsDefault
    var bloom = m.bloomCols
    var cluster = m.clusterCols
    var ex = m.extras
    set.foreach { case (k, value) => keyOf(k) match {
      case "stats" => stats = resolvePhys(k, value).distinct
      case "bloom" => bloom = resolvePhys(k, value).distinct
      case "cluster" => cluster = resolvePhys(k, value).distinct
      case "acbytes" =>
        val n = try value.trim.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$k must be a positive byte count, got: $value") }
        require(n > 0, s"$k must be a positive byte count, got: $value")
        ex = ex.filterNot(_._1 == AcBytesKey) :+ (AcBytesKey -> n.toString)
      case "acfiles" =>
        val n = try value.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$k must be an integer >= 2, got: $value") }
        require(n >= 2, s"$k must be >= 2 (compacting one file is a " +
          s"rewrite, not a merge), got: $value")
        ex = ex.filterNot(_._1 == AcFilesKey) :+ (AcFilesKey -> n.toString)
      case "user" =>
        require(!k.exists(c => c == '\t' || c == '\n' || c == '\r') &&
          !value.exists(c => c == '\t' || c == '\n' || c == '\r'),
          s"table property $k must not contain tabs or newlines")
        ex = ex.filterNot(_._1 == "prop:" + k) :+ ("prop:" + k -> value)
    } }
    unset.foreach { k =>
      val recognized = try Some(keyOf(k)) catch {
        case e: IllegalArgumentException =>
          if (unsetIfExists) None else throw e
      }
      recognized match {
        case Some("stats") =>
          require(stats.nonEmpty || unsetIfExists,
            s"property $k is not set on $path (UNSET ... IF EXISTS skips silently)")
          stats = Seq.empty
        case Some("bloom") =>
          require(bloom.nonEmpty || unsetIfExists,
            s"property $k is not set on $path (UNSET ... IF EXISTS skips silently)")
          bloom = Seq.empty
        case Some("cluster") =>
          require(cluster.nonEmpty || unsetIfExists,
            s"property $k is not set on $path (UNSET ... IF EXISTS skips silently)")
          cluster = Seq.empty
        case Some("acbytes") =>
          require(ex.exists(_._1 == AcBytesKey) || unsetIfExists,
            s"property $k is not set on $path (UNSET ... IF EXISTS skips silently)")
          ex = ex.filterNot(_._1 == AcBytesKey)
        case Some("acfiles") =>
          require(ex.exists(_._1 == AcFilesKey) || unsetIfExists,
            s"property $k is not set on $path (UNSET ... IF EXISTS skips silently)")
          ex = ex.filterNot(_._1 == AcFilesKey)
        case Some("user") =>
          require(ex.exists(_._1 == "prop:" + k) || unsetIfExists,
            s"property $k is not set on $path (UNSET ... IF EXISTS skips silently)")
          ex = ex.filterNot(_._1 == "prop:" + k)
        case _ => ()
      }
    }
    if (stats == m.statsColsDefault && bloom == m.bloomCols &&
      cluster == m.clusterCols && ex == m.extras) return v
    fireRaceHook("properties")
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("properties"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys, bloomCols = bloom,
      statsColsDefault = stats, generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = cluster,
      extras = ex,
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped, deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** SET (Some(text)) or DROP (None) the table comment and/or column
    * comments — the COMMENT idiom as `#extra` header facts (`comment`
    * for the table, `col:<name>` per column, LOGICAL names: renames
    * carry them, drops remove them, clones copy them). Metadata-only
    * commit (op=properties — streams span it as an empty diff); text
    * must be tab/newline-free, the header being line-delimited. A
    * no-change call publishes nothing. Returns the head version.
    */
  def setComments(spark: SparkSession, path: String,
                  table: Option[Option[String]] = None,
                  cols: Map[String, Option[String]] = Map.empty): Long = {
    (table.flatten.toSeq ++ cols.values.flatten).foreach(t =>
      require(!t.exists(c => c == '\t' || c == '\n' || c == '\r'),
        "a COMMENT must not contain tabs or newlines (the manifest " +
          "header is line-delimited)"))
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — comments need " +
        "the recorded schema (run one append or upsert to adopt a header first)")
    val logical = logicalSchemaOf(m)
    var ex = m.extras
    def put(k: String, value: Option[String]): Unit = value match {
      case Some(t) => ex = ex.filterNot(_._1 == k) :+ (k -> t)
      case None => ex = ex.filterNot(_._1 == k)
    }
    table.foreach(put("comment", _))
    cols.foreach { case (c, value) =>
      val actual = logical.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"no column $c on the table at $path to comment " +
            s"(columns: ${logical.fieldNames.mkString(", ")})"))
      put("col:" + actual, value)
    }
    if (ex == m.extras) return v
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("properties"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
      statsColsDefault = m.statsColsDefault, generated = m.generated,
      defaults = m.defaults, identity = m.identity,
      clusterCols = m.clusterCols, extras = ex,
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** The table comment and per-column comments recorded on the head
    * manifest: (table comment, logical column -> comment).
    */
  def comments(spark: SparkSession, path: String)
      : (Option[String], Map[String, String]) = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    (m.extras.collectFirst { case ("comment", t) => t },
      m.extras.collect { case (k, t) if k.startsWith("col:") =>
        k.stripPrefix("col:") -> t }.toMap)
  }

  /** SET (Some) or DROP (None) a column's DEFAULT value — the
    * `ALTER TABLE … ALTER COLUMN … SET/DROP DEFAULT` surface,
    * metadata-only commit. A default materializes when an
    * INSERT/MERGE column list OMITS the column (standard SQL: an
    * explicit NULL stays NULL); existing rows are untouched — only
    * statements AFTER the SET see it, exactly Delta's contract.
    * LITERALS ONLY, validated here: the expression must fold to a
    * constant with no column references or function calls, and must
    * store-assign to the column's type — a non-literal or
    * incompatible default refuses loudly with the table unchanged.
    * The canonical literal rendering is stored (`DATE '2024-01-01'`,
    * not the spelling the user typed), so fill-time parsing and
    * SHOW CREATE are deterministic. Generated columns refuse (their
    * value is always computed — a default could never apply).
    */
  def setColumnDefault(spark: SparkSession, path: String, column: String,
                       defaultSql: Option[String]): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    val logical = logicalSchemaOf(m)
    val f = logical.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $column on $path (columns: " +
          s"${logical.fieldNames.mkString(", ")})"))
    require(!m.generated.exists(_._1.equalsIgnoreCase(f.name)),
      s"column ${f.name} is GENERATED — its value is always computed, " +
        "a DEFAULT could never apply")
    require(!m.identity.exists(_._1.equalsIgnoreCase(f.name)),
      s"column ${f.name} is GENERATED ALWAYS AS IDENTITY — the engine " +
        "assigns it; a DEFAULT could never apply")
    val newDefaults = defaultSql match {
      case Some(sql) =>
        val canonical = canonicalDefaultLiteral(spark, sql, f.dataType, f.name)
        m.defaults.filterNot(_._1.equalsIgnoreCase(f.name)) :+
          (f.name -> canonical)
      case None =>
        require(m.defaults.exists(_._1.equalsIgnoreCase(f.name)),
          s"column ${f.name} has no DEFAULT to drop (declared: " +
            s"${m.defaults.map(_._1).mkString(", ")})")
        m.defaults.filterNot(_._1.equalsIgnoreCase(f.name))
    }
    if (newDefaults == m.defaults) return v
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("properties"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
      statsColsDefault = m.statsColsDefault, generated = m.generated,
      defaults = newDefaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras,
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** FSCK — drop manifest references to data files that vanished
    * OUT-OF-BAND (Delta's `FSCK REPAIR TABLE`): an external deletion
    * otherwise fails every scan forever, because the manifest is the
    * source of truth and nothing inside the engine ever deletes a live
    * file. Returns the missing entries' paths; `dryRun` reports
    * without publishing. The repair is one metadata commit (op
    * `fsck`) removing exactly the dangling entries — losing those
    * rows is the repair's explicit, named cost (they are already
    * unreadable).
    *
    * Existence is checked with ONE recursive listing of the table's
    * own tree plus a per-file probe for external (clone-referenced)
    * absolute entries — O(listing + external refs), never a per-file
    * RPC storm over the whole table. A live entry whose DELETION
    * VECTOR sidecar is missing REFUSES repair instead: both repairs
    * are lossy in different directions (dropping the mask resurrects
    * deleted rows; dropping the entry loses live rows) — the operator
    * must restore the sidecar or delete the data file first.
    */
  def fsck(spark: SparkSession, path: String,
           dryRun: Boolean = false): Seq[String] = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    val rootQ = fs.makeQualified(root).toString
    val present = scala.collection.mutable.HashSet.empty[String]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        present += fs.makeQualified(st.getPath).toString
          .stripPrefix(rootQ).stripPrefix("/")
      }
    }
    def missing(rel: String): Boolean =
      if (new Path(rel).isAbsolute || rel.contains(":/")) {
        // external (clone) refs: probe with the REF's OWN filesystem —
        // shallowClone explicitly supports a source on a different
        // scheme/authority, where the table's fs would throw "Wrong FS"
        val p = new Path(root, rel)
        !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      } else !present.contains(rel)
    val gone = m.files.filter(f => missing(f.path))
    val dvGone = m.files.filter(f =>
      !gone.contains(f) && f.dv.exists(missing))
    require(dvGone.isEmpty,
      s"FSCK of $path found ${dvGone.length} live file(s) whose deletion-" +
        "vector sidecar is missing — repairing is ambiguous (dropping the " +
        "mask would resurrect deleted rows; dropping the entry would lose " +
        "live rows). Restore the sidecar or delete the data file, then " +
        s"re-run. Affected: ${dvGone.take(5).map(_.path).mkString(", ")}")
    // a vanished BLOOM sidecar is unambiguous the way a DV is not:
    // blooms are ancillary skip hints (scans already degrade to no-skip
    // when one is unreadable) — FSCK un-references it so the dangling
    // ref doesn't live forever
    val bloomGone = m.files.filter(f =>
      !gone.contains(f) && f.bloom.exists(missing))
    // one bloom sidecar serves every file of its commit — report it once
    val report = gone.map(_.path) ++ bloomGone.flatMap(_.bloom).distinct
    if ((gone.isEmpty && bloomGone.isEmpty) || dryRun) return report
    val repaired = bloomGone.map(_.copy(bloom = None))
    val bloomGonePaths = bloomGone.map(_.path).toSet
    publish(fs, root, v + 1,
      m.files.filterNot(f => gone.contains(f) || bloomGonePaths(f.path)) ++
        repaired, m.schema,
      m.partCols, m.txns, op = Some("fsck"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
      statsColsDefault = m.statsColsDefault, generated = m.generated,
      defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras,
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((repaired, gone.map(_.path))))
    report
  }

  /** Declare `column` GENERATED ALWAYS (or, with `byDefault`, BY
    * DEFAULT) AS IDENTITY — Delta's identity idiom as a manifest
    * header fact `(column, start, step, watermark, byDefault)`. Under
    * ALWAYS the ENGINE assigns the column on every append/insert (a
    * batch carrying it refuses); under BY DEFAULT a batch MAY supply
    * the column (values pass through — their uniqueness is the
    * caller's, Delta's documented stance) and an omitted column is
    * engine-assigned. Engine values are unique, sit on the start/step
    * lattice, and GAPS ARE EXPECTED (the distributed assignment
    * reserves per-partition lanes; Delta documents the same). The
    * watermark only ever advances — past the max of everything
    * assigned OR supplied (one stats pass, zero extra jobs) — so
    * values never reuse across the table's history and time travel
    * stays unambiguous.
    *
    * Declaration on a NON-EMPTY table is served (the migration shape:
    * a table with existing keys adopts the contract): the watermark
    * seeds from the existing column's max via the stats machinery —
    * per-file stats when present, an [[analyzeStats]] backfill pass
    * otherwise — aligned up to the start/step lattice, so future
    * assignments clear every existing value. Existing NULLs stay NULL
    * (there is no backfill; UPDATE on an identity column refuses).
    * Concurrent appends get DISJOINT ranges: an append that loses its
    * commit race to a writer that moved the watermark withdraws its
    * staged files and RE-STAGES from the new head (bounded retries) —
    * never publishes overlapping values.
    */
  def declareIdentity(spark: SparkSession, path: String, column: String,
                      start: Long = 1L, step: Long = 1L,
                      byDefault: Boolean = false): Long = {
    require(step > 0,
      s"IDENTITY step must be positive, got $step (descending identity " +
        "is not supported on manifest tables)")
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    val logical = logicalSchemaOf(m)
    val f = logical.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $column on $path (columns: " +
          s"${logical.fieldNames.mkString(", ")})"))
    require(f.dataType == org.apache.spark.sql.types.LongType,
      s"IDENTITY column ${f.name} must be BIGINT, got ${f.dataType.sql}")
    require(m.identity.isEmpty,
      s"table at $path already has an IDENTITY column " +
        s"(${m.identity.get._1}) — one per table")
    require(!m.partCols.exists(_.equalsIgnoreCase(f.name)),
      s"IDENTITY column ${f.name} cannot be a partition column")
    require(!m.generated.exists(_._1.equalsIgnoreCase(f.name)) &&
      !m.defaults.exists(_._1.equalsIgnoreCase(f.name)),
      s"column ${f.name} already carries a GENERATED/DEFAULT contract")
    val cm = m.colMap.getOrElse(logical.fieldNames.toSeq.map(n => n -> n)).toMap
    val phys = cm.getOrElse(f.name, f.name)
    // seed the watermark ABOVE every existing value: per-file stats
    // when present; otherwise one ANALYZE backfill pass (which also
    // makes the column sticky in statsColsDefault). An all-null or
    // empty table seeds at start. (A 0-row part file from an empty
    // CREATE carries no bounds, so the create path costs nothing.)
    val needStats = m.files.exists(f0 => !f0.stats.contains(phys) &&
      !f0.nullCounts.contains(phys))
    val (mSeed, vSeed) =
      if (!needStats) (m, v)
      else {
        val v2 = analyzeStats(spark, path, Seq(f.name))
        (readManifest(fs, root, v2), v2)
      }
    val existingHi = mSeed.files.flatMap(_.stats.get(phys))
      .flatMap { case (_, hi) => hi.toLongOption }.maxOption
    val wm = existingHi match {
      case Some(hi) if hi >= start => start + ((hi - start) / step + 1L) * step
      case _ => start
    }
    publish(fs, root, vSeed + 1, mSeed.files, mSeed.schema, mSeed.partCols,
      mSeed.txns, op = Some("properties"), constraints = mSeed.constraints,
      colMap = mSeed.colMap, droppedPhys = mSeed.droppedPhys,
      bloomCols = mSeed.bloomCols,
      statsColsDefault = (mSeed.statsColsDefault :+ phys).distinct,
      generated = mSeed.generated, defaults = mSeed.defaults,
      identity = Some((f.name, start, step, wm, byDefault)),
      clusterCols = mSeed.clusterCols, extras = mSeed.extras,
      fieldMap = mSeed.fieldMap, fieldDropped = mSeed.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    vSeed + 1
  }

  /** Pre-flight a DEFAULT declaration against a column type WITHOUT a
    * table — CREATE validates its defaults before any file lands.
    * Returns the canonical literal that would be stored.
    */
  private[etl] def validateColumnDefault(spark: SparkSession, sql: String,
                                         to: DataType, col: String): String =
    canonicalDefaultLiteral(spark, sql, to, col)

  /** The canonical literal a DEFAULT declaration stores: parse, refuse
    * anything non-constant (column references, function calls,
    * subqueries — `current_date()` is deliberately out: a default that
    * silently drifts per-statement is a correctness trap the engine
    * does not serve), then evaluate through an ANSI store-assignment
    * cast so overflow/malformed values fail at DECLARE time, not at
    * the first INSERT.
    */
  private def canonicalDefaultLiteral(spark: SparkSession, sql: String,
                                      to: DataType, col: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    val parsed = try spark.sessionState.sqlParser.parseExpression(sql)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"DEFAULT for $col does not parse: $sql (${e.getMessage})")
    }
    val nonConstant = parsed.collectFirst {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.sql
      case fn: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        fn.nameParts.mkString(".") + "(…)"
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        s.getClass.getSimpleName
    }
    require(nonConstant.isEmpty,
      s"DEFAULT for $col must be a literal — found ${nonConstant.getOrElse("")} " +
        s"in: $sql (column references, functions, and subqueries cannot " +
        "be a manifest default)")
    require(parsed.resolved && parsed.foldable,
      s"DEFAULT for $col must be a literal constant, got: $sql")
    require(Cast.canANSIStoreAssign(parsed.dataType, to) ||
      parsed.dataType == org.apache.spark.sql.types.NullType,
      s"DEFAULT for $col cannot store ${parsed.dataType.sql} into ${to.sql}")
    val value = try Cast(parsed, to, None, EvalMode.ANSI).eval(null)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"DEFAULT for $col does not fit ${to.sql}: $sql (${e.getMessage})")
    }
    val rendered = Literal(value, to).sql
    // the manifest header is line/tab-delimited: a canonical literal
    // carrying a control character would corrupt it at PUBLISH time —
    // refuse at declare time instead (CREATE's pre-validation runs
    // through here too, so no half-created table can result)
    require(!rendered.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"DEFAULT for $col renders with a tab/newline in its canonical " +
        s"literal ($sql) — the manifest header cannot store it")
    rendered
  }

  /** METADATA-ONLY stats backfill — the `ANALYZE TABLE` surface:
    * compute per-file [min,max] bounds, null counts, and value sets of
    * `cols` for every live file MISSING any of them, update those
    * manifest entries in place (one delta-friendly commit — data files
    * are never rewritten or moved), and add `cols` to the sticky
    * statsColsDefault so every future write keeps collecting. With no
    * `cols`, backfills the already-declared set. Stats compute over the
    * RAW files (DV masks not applied) — the same all-physical-rows
    * semantics write-time collection has; bounds may only be loose,
    * never tight. Bloom sidecars are NOT backfilled (they are
    * commit-dir artifacts; compact/maintain materialize them on
    * rewrite).
    */
  def analyzeStats(spark: SparkSession, path: String,
                   cols: Seq[String] = Seq.empty): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — ANALYZE needs " +
        "the recorded schema (run one append or upsert to adopt a header first)")
    val logical = logicalSchemaOf(m)
    val cm = m.colMap.getOrElse(logical.fieldNames.toSeq.map(n => n -> n)).toMap
    val requestedLogical =
      if (cols.nonEmpty) cols
      else {
        require(m.statsColsDefault.nonEmpty,
          "ANALYZE ... COMPUTE STATISTICS has no declared stat columns to " +
            "backfill — use FOR COLUMNS c1, c2 (or declare " +
            "graft.statsCols / pass statsCols on a write first)")
        val physToLogical = cm.map(_.swap)
        m.statsColsDefault.map(p => physToLogical.getOrElse(p, p))
      }
    val resolved = requestedLogical.map { c =>
      logical.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ANALYZE column $c is not a table column " +
            s"(columns: ${logical.fieldNames.mkString(", ")})"))
    }
    resolved.foreach(c =>
      require(!m.partCols.exists(_.equalsIgnoreCase(c)),
        s"ANALYZE column $c is a partition column — partitions prune by " +
          "directory, not file stats"))
    val phys = resolved.map(c => cm.getOrElse(c, c))
    val physSchema = m.schema.get
    val newDefault = (m.statsColsDefault ++ phys).distinct
    val candidates = m.files.filter(f =>
      phys.exists(c => !f.stats.contains(c) || !f.nullCounts.contains(c)))
    def metadataOnly(): Long =
      if (newDefault == m.statsColsDefault) v
      else {
        publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
          op = Some("analyze"), constraints = m.constraints, colMap = m.colMap,
          droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
          statsColsDefault = newDefault, generated = m.generated,
          defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras,
          fieldMap = m.fieldMap, fieldDropped = m.fieldDropped, deltaHint = Some((Seq.empty, Seq.empty)))
        v + 1
      }
    if (candidates.isEmpty) return metadataOnly()
    // CHUNKED backfill: the stats pass collects one ~KB row per file
    // through the driver, so a stats-late 800k-file table with bloom
    // columns would otherwise pull GBs in one collect. Bounded groups
    // cap the pull at chunk × row-size, and each chunk publishes its
    // own IN-PLACE entry commit — the delta chain makes a multi-commit
    // backfill cost O(chunk) manifest bytes per step, and a failure
    // mid-backfill keeps everything already committed (re-running
    // ANALYZE resumes: committed files are no longer candidates).
    val chunkSize = spark.conf.getOption("spark.graft.analyze.chunkFiles")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(16384)
    var curM = m
    var curV = v
    fireRaceHook("analyze")
    candidates.grouped(chunkSize).foreach { chunk =>
      // explicit PHYSICAL schema: a column added after a file was
      // written reads as null there (its null count = the file's row
      // count — correct), and no partition-dir inference happens
      // (partition columns are excluded from file stats anyway)
      val scan = spark.read
        .schema(StructType(physSchema.fields.filterNot(f =>
          m.partCols.contains(f.name))))
        .parquet(chunk.map(f => new Path(root, f.path).toString): _*)
      val computed = collectStatsOver(spark, scan, physSchema, phys, m.partCols,
        tableRoot = Some(fs.makeQualified(root).toString))
      // clone-referenced absolute entries store the QUALIFIED URI while
      // the stats pass keys the reader's plain path — match either form
      def statsFor(f: LiveFile): Option[FileStats] =
        computed.get(f.path).orElse(
          // Path handles percent-encoding; raw `new URI(...)` throws on
          // unencoded characters (a space in the source table's path)
          // and would silently skip those clone-referenced files' stats
          try computed.get(new Path(f.path).toUri.getPath)
          catch { case _: Exception => None })
      val updated = chunk.flatMap(f => statsFor(f).map(st =>
        f.copy(stats = f.stats ++ st.bounds,
          rows = f.rows.orElse(Some(st.rows)),
          nullCounts = f.nullCounts ++ st.nullCounts,
          valueSets = f.valueSets ++ st.sets)))
      if (updated.nonEmpty) {
        val updatedByPath = updated.map(f => f.path -> f).toMap
        // OPTIMISTIC publish per chunk: the backfill scan is long, so
        // a racing commit is realistic on a busy table. A retry is
        // sound iff every entry THIS chunk analyzed is still at the
        // head byte-identical (a rewrite/re-mask/re-stats under the
        // same path means the file we measured is not the file that
        // lives there — stale stats must not publish); the rest of the
        // live set and every header fact rebase onto the head.
        var attempt = 0
        var published = false
        while (!published) {
          try {
            publish(fs, root, curV + 1,
              curM.files.map(f => updatedByPath.getOrElse(f.path, f)),
              curM.schema, curM.partCols, curM.txns, op = Some("analyze"),
              constraints = curM.constraints, colMap = curM.colMap,
              droppedPhys = curM.droppedPhys, bloomCols = curM.bloomCols,
              statsColsDefault = (curM.statsColsDefault ++ phys).distinct,
              generated = curM.generated, defaults = curM.defaults, identity = curM.identity, clusterCols = curM.clusterCols, extras = curM.extras,
              fieldMap = curM.fieldMap, fieldDropped = curM.fieldDropped,
              deltaHint = Some((updated, updated.map(_.path))))
            curV += 1
            curM = readManifest(fs, root, curV)
            published = true
          } catch {
            case e: IllegalStateException if attempt >= 5 =>
              retriesExhausted(fs, "analyze", path, Seq.empty, e)
            case e: IllegalStateException =>
              attempt += 1
              val headV = currentVersion(spark, path).getOrElse(throw e)
              val headM = readManifest(fs, root, headV)
              val headByPath = headM.files.map(f => f.path -> f).toMap
              val conflicted = chunk.filterNot(c =>
                headByPath.get(c.path).contains(c))
              if (conflicted.nonEmpty) throw new IllegalStateException(
                s"ANALYZE of $path lost its race to a commit that rewrote " +
                  s"or re-masked ${conflicted.length} of the files it " +
                  s"measured — the computed stats would be stale; the table " +
                  s"is intact at v$headV (chunks already published stand). " +
                  "Re-run the ANALYZE.", e)
              curM = headM
              curV = headV
          }
        }
      }
    }
    if (curV == v) metadataOnly() else curV
  }

  /** TOP-LEVEL logical column names a constraint's SQL text anchors
    * at. A nested reference (`meta.x`, `entries[0].pos`) anchors at its
    * ROOT column — rename/drop of that root must refuse while the
    * expression exists, or the next append dies unresolvable with the
    * table wedged. Higher-order-function lambda variables (`exists(
    * entries, e -> e.pos > 0)`) are NOT column refs: their names are
    * subtracted so a lambda arg shadowing nothing doesn't block an
    * unrelated rename. Over-approximation (a multi-part head that is
    * not actually a column) can only produce a spurious REFUSAL, never
    * a silent wrong answer — the sound direction.
    */
  private def constraintRefs(spark: SparkSession, sqlText: String): Set[String] = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
    val lambdaArgs = parsed.collect {
      case lf: org.apache.spark.sql.catalyst.expressions.LambdaFunction =>
        lf.arguments.collect {
          case v: org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable =>
            v.nameParts.head
        }
    }.flatten.toSet
    parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSet -- lambdaArgs
  }

  private val ReservedLogicalNames = Set(ChangeTypeCol, CommitVersionCol, "__dir")

  /** Loud, typed refusal when a schema-evolution op targets a field
    * INSIDE a struct (`meta.x`, `entries.element.pos`): the metadata-only
    * machinery (colMap indirection, widen's serve-as contract, bloom
    * tracking) operates on top-level parquet columns, and a dotted
    * target whose root IS a column would otherwise fall through to a
    * generic "no column named" — correct but misleading. Whole
    * struct-typed columns are ordinary top-level columns and pass.
    */
  private def refuseNestedTarget(op: String, name: String,
                                 logicalNames: Seq[String]): Unit = {
    val root = name.takeWhile(_ != '.')
    require(!name.contains('.') || !logicalNames.contains(root),
      s"$op cannot target $name: it names a field inside struct column " +
        s"$root, and metadata-only schema evolution operates on top-level " +
        "columns — rewrite the struct column to change its interior " +
        "(constraints and generated columns MAY reference nested fields " +
        "by expression)")
  }

  /** An observed metric, defaulting ABSENT keys to 0: when the observed
    * subtree is empty (an all-delete merge, an empty append), AQE's
    * empty-relation propagation elides the CollectMetrics node and the
    * observation completes with NO keys. Zero is exactly right there —
    * 0 rows means 0 updates/inserts/violations. The soundness of the
    * default is VERIFIED, not assumed: every constraint-bearing
    * observation also carries `n_obs_rows` = count(*) which the caller
    * requires to equal the staged footer row count (both zero in the
    * empty case) before trusting any defaulted-to-0 violation count —
    * a non-empty write that lost its CollectMetrics fails loudly
    * instead of silently disabling enforcement.
    */
  private def obsLong(obs: org.apache.spark.sql.Observation, key: String): Long =
    obs.get.get(key).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** The guard before any defaulted-to-0 observed count is trusted
    * (see [[obsLong]]): the observed count(*) must equal the staged
    * footer row count, or the stage is withdrawn and the commit fails.
    */
  private def requireObservedStaged(fs: FileSystem, commitDir: Path, observed: Long,
                                    staged: Long, lost: String, metrics: String,
                                    state: String): Unit =
    if (observed != staged) {
      fs.delete(commitDir, true)
      throw new IllegalStateException(
        s"$lost: observed $observed row(s) but $staged staged — $metrics metrics " +
          s"are untrustworthy, $state")
    }

  /** Withdraws the stage and fails the commit when an observed CHECK
    * violation count (`viol_<name>`) is positive.
    */
  private def requireNoViolations(fs: FileSystem, commitDir: Path,
                                  obs: org.apache.spark.sql.Observation,
                                  constraints: Seq[(String, String)], path: String,
                                  rows: String, v: Long): Unit =
    constraints.foreach { case (n, e) =>
      val bad = obsLong(obs, s"viol_$n")
      if (bad > 0) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"CHECK constraint $n (`$e`) on $path violated by $bad $rows row(s) — " +
            s"nothing published, table still at v$v")
      }
    }

  /** A commit shuffle on `cols` moving about `bytes`. Under AQE's
    * minimum partition size per core (at most one advisory partition) it
    * is ONE partition, which satisfies every later grouping and writes
    * no empty map-side blocks; larger commits keep `repartition(cols)`,
    * which AQE coalesces to the data at run time.
    */
  private def commitRepartition(spark: SparkSession, df: DataFrame, bytes: BigInt,
                                cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.internal.SQLConf.{ADVISORY_PARTITION_SIZE_IN_BYTES => Advisory,
      COALESCE_PARTITIONS_MIN_PARTITION_SIZE => MinPart}
    val conf = spark.sessionState.conf
    if (bytes <= (conf.getConf(MinPart) * spark.sparkContext.defaultParallelism).min(conf.getConf(Advisory)))
      df.repartition(1, cols.map(col): _*)
    else df.repartition(cols.map(col): _*)
  }

  /** The constraint set every row-adding commit actually enforces: the
    * declared CHECK constraints plus one synthetic equality per
    * GENERATED column — `name <=> (expr)`, null-safe so a NULL source
    * generating NULL passes. One mechanism, every integrity rule.
    */
  private def effectiveConstraints(m: Manifest): Map[String, String] =
    m.constraints ++ m.generated.map { case (n, e) =>
      s"__gen_$n" -> s"$n <=> ($e)"
    }

  /** RENAME a column WITHOUT rewriting any data file — a metadata-only
    * commit that records (logical → physical) column mapping in the
    * manifest header, Delta's column-mapping analog. The files keep
    * their physical names forever; reads alias at the boundary, writes
    * rename batches on entry, and old versions time-travel-read under
    * the names their own manifest records. Partition columns cannot be
    * renamed (their name IS the directory layout), and a column any
    * CHECK constraint references cannot be renamed (the recorded SQL
    * text would silently dangle — drop the constraint first).
    */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
                   newName: String): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — column mapping " +
        "needs the recorded schema (run one append or upsert to adopt a header first)")
    val cm = m.colMap.getOrElse(
      m.schema.get.fieldNames.toSeq.map(n => n -> n))
    val logicalNames = cm.map(_._1)
    if (oldName.contains('.') && logicalNames.contains(oldName.takeWhile(_ != '.')))
      return renameNestedField(spark, fs, root, path, v, m, cm, oldName, newName)
    refuseNestedTarget("renameColumn", oldName, logicalNames)
    require(logicalNames.contains(oldName),
      s"no column named $oldName on $path (columns: ${logicalNames.mkString(", ")})")
    require(!logicalNames.contains(newName),
      s"column $newName already exists on $path")
    require(!m.partCols.contains(oldName),
      s"cannot rename partition column $oldName — its name is the " +
        "directory layout; repartition via a replace write instead")
    require(!ReservedLogicalNames.contains(newName),
      s"column name $newName is reserved")
    require(!newName.contains('.'),
      s"column name $newName contains '.' — dotted names are " +
        "indistinguishable from nested-field references in constraint " +
        "and generation expressions; renaming a field INSIDE a struct " +
        "is not supported (rewrite the struct column instead)")
    m.constraints.foreach { case (n, e) =>
      require(!constraintRefs(spark, e).contains(oldName),
        s"cannot rename $oldName: CHECK constraint $n (`$e`) references it — " +
          "drop the constraint first and re-add it under the new name")
    }
    m.generated.foreach { case (n, e) =>
      require(n == oldName || !constraintRefs(spark, e).contains(oldName),
        s"cannot rename $oldName: generated column $n (`$e`) derives from it")
    }
    val renamed = cm.map { case (l, p) => (if (l == oldName) newName else l) -> p }
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = Some(renamed), droppedPhys = m.droppedPhys,
      bloomCols = m.bloomCols,
          statsColsDefault = m.statsColsDefault,
      generated = m.generated.map { case (n, e) =>
        (if (n == oldName) newName else n) -> e
      },
      defaults = m.defaults.map { case (n, e) =>
        (if (n == oldName) newName else n) -> e
      },
      identity = m.identity.map { case (n, st, sp, wm, bd) =>
        (if (n == oldName) newName else n, st, sp, wm, bd)
      }, clusterCols = m.clusterCols,
      extras = m.extras.map { case (k, e) =>
        (if (k == "col:" + oldName) "col:" + newName else k) -> e
      },
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped)
    v + 1
  }

  /** RENAME a field ONE LEVEL inside a struct (or array<struct>)
    * column WITHOUT rewriting any data file — the nested analog of
    * [[renameColumn]]: a `#fieldmap` entry records
    * (physical root, logical field, physical field); reads rename at
    * the boundary with a positional struct cast (types and order are
    * untouched, so the cast is exactly a name swap), writes cast back
    * to the physical names, and old versions time-travel under the
    * names their own manifest records. Refuses when any CHECK
    * constraint or generated column references the ROOT column (the
    * recorded SQL text would dangle), mirroring the top-level rule.
    */
  private def renameNestedField(spark: SparkSession, fs: FileSystem, root: Path,
                                path: String, v: Long, m: Manifest,
                                cm: Seq[(String, String)],
                                oldName: String, newName: String): Long = {
    val parts = oldName.split("\\.").toSeq
    require(parts.length >= 2, s"not a nested field reference: $oldName")
    val rootL = parts.head
    val segs = parts.tail                 // logical path under the root
    require(!newName.contains('.') && newName.nonEmpty &&
      !newName.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"new nested-field name must be a plain field name, got $newName")
    val physRoot = cm.find(_._1 == rootL).map(_._2).get
    val rootType = m.schema.get(physRoot).dataType
    val entries = m.fieldMap.filter(_._1 == physRoot)
    // resolve the PARENT level: its physical path (arrays transparent)
    // and its struct, which must exist for the target to be a field
    val parentPhys = resolvePhysPath(entries, segs.dropRight(1))
    val parentType = typeAtPhysPath(rootType, parentPhys).getOrElse(
      throw new IllegalArgumentException(
        s"renameColumn $oldName: no such nested path on $path " +
          s"(root $rootL is ${rootType.catalogString})"))
    val parentStruct: StructType = (parentType match {
      case st: StructType => Some(st)
      case at: org.apache.spark.sql.types.ArrayType =>
        at.elementType match { case st: StructType => Some(st); case _ => None }
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"renameColumn $oldName: ${(rootL +: segs.dropRight(1)).mkString(".")} " +
        s"is ${parentType.catalogString}, not a struct or array<struct> — " +
        "nested-field rename applies to fields inside those shapes"))
    // the parent's fields under their CURRENT logical names
    val leafByPhysPath = entries.map { case (_, l, pp) =>
      pp -> l.split("\\.").last }.toMap
    val logicalFields = parentStruct.fieldNames.toSeq.map(pf =>
      leafByPhysPath.getOrElse((parentPhys :+ pf).mkString("."), pf))
    val fieldL = segs.last
    require(logicalFields.contains(fieldL),
      s"no field named $fieldL inside ${(rootL +: segs.dropRight(1)).mkString(".")} " +
        s"on $path (fields: ${logicalFields.mkString(", ")})")
    require(!logicalFields.contains(newName),
      s"field $newName already exists inside " +
        s"${(rootL +: segs.dropRight(1)).mkString(".")} on $path")
    // lock only what actually dangles: an expression referencing into
    // this level-1 branch (or the WHOLE root — its logical type
    // changes under it). Sibling branches stay free.
    (m.constraints.toSeq ++ m.generated).foreach { case (n, e) =>
      val refsThis = spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.head == rootL &&
            (a.nameParts.length == 1 || a.nameParts(1) == segs.head) => a
      }.nonEmpty
      require(!refsThis,
        s"cannot rename $oldName: CHECK constraint or generated column $n " +
          s"(`$e`) references it — drop it first and re-add it under " +
          "the new field name")
    }
    // the PHYSICAL path under the logical one (chained renames keep
    // pointing at the original file field)
    val curPhys = resolvePhysPath(entries, segs)
    val oldLogical = segs.mkString(".")
    val newLogicalSegs = segs.dropRight(1) :+ newName
    val newLogical = newLogicalSegs.mkString(".")
    // drop the target's own entry, REWRITE descendant entries' logical
    // prefixes (their paths must stay current-logical), then re-add
    // unless the new spelling resolves to the physical identity anyway
    val cleaned = m.fieldMap
      .filterNot(e => e._1 == physRoot && e._2 == oldLogical)
      .map {
        case (c, l, pp) if c == physRoot && l.startsWith(oldLogical + ".") =>
          (c, newLogical + l.stripPrefix(oldLogical), pp)
        case other => other
      }
    val identity = newName == curPhys.last &&
      resolvePhysPath(cleaned.filter(_._1 == physRoot), newLogicalSegs) == curPhys
    val newFieldMap =
      if (identity) cleaned // renamed back: identity again
      else cleaned :+ ((physRoot, newLogical, curPhys.mkString(".")))
    publish(fs, root, v + 1, m.files, m.schema, m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys,
      bloomCols = m.bloomCols,
      statsColsDefault = m.statsColsDefault, generated = m.generated,
      defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras,
      fieldMap = newFieldMap, fieldDropped = m.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** One parent level as a struct, arrays transparent (the shape both
    * nested-evolution ops operate inside).
    */
  private def structAt(parentType: DataType): Option[StructType] =
    parentType match {
      case st: StructType => Some(st)
      case at: org.apache.spark.sql.types.ArrayType => at.elementType match {
        case st: StructType => Some(st)
        case _ => None
      }
      case _ => None
    }

  /** Rebuild `dt` with the struct AT `physPath` replaced wholesale by
    * `ns` (arrays transparent). The shared rebuild of nested ADD
    * (parent gains a trailing field) and nested DROP (parent loses
    * one).
    */
  private def replaceStructAt(dt: DataType, physPath: Seq[String],
                              ns: StructType): DataType = dt match {
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = replaceStructAt(at.elementType, physPath, ns))
    case _: StructType if physPath.isEmpty => ns
    case st: StructType => StructType(st.fields.map(f =>
      if (f.name == physPath.head)
        f.copy(dataType = replaceStructAt(f.dataType, physPath.tail, ns))
      else f))
    case other => other
  }

  /** DROP a field at ANY depth inside a struct / array<struct> column,
    * metadata-only — the nested analog of [[dropColumn]]: the field
    * leaves the RECORDED schema (a parquet scan simply doesn't request
    * struct fields the schema doesn't name, so old files need no
    * rewrite and serve the remaining fields positionally), its
    * PHYSICAL path is retired in `#fielddropped`, and a later re-ADD
    * of the same logical name maps to a FRESH physical field — old
    * data can never resurrect. Descendant fieldMap entries retire with
    * it. Refuses: the last field of its struct (the parent would
    * become an empty struct), and any field whose level-1 branch a
    * CHECK constraint or generated column references (same lock as
    * nested rename).
    */
  private def dropNestedField(spark: SparkSession, fs: FileSystem, root: Path,
                              path: String, v: Long, m: Manifest,
                              cm: Seq[(String, String)], name: String,
                              validateOnly: Boolean = false): Long = {
    val parts = name.split("\\.").toSeq
    val rootL = parts.head
    val segs = parts.tail
    val physRoot = cm.find(_._1 == rootL).map(_._2).get
    val rootType = m.schema.get(physRoot).dataType
    val entries = m.fieldMap.filter(_._1 == physRoot)
    val parentPhys = resolvePhysPath(entries, segs.dropRight(1))
    val parentType = typeAtPhysPath(rootType, parentPhys).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn $name: no such nested path on $path " +
          s"(root $rootL is ${rootType.catalogString})"))
    val parentStruct = structAt(parentType).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn $name: ${(rootL +: segs.dropRight(1)).mkString(".")} " +
          s"is ${parentType.catalogString}, not a struct or array<struct>"))
    val leafByPhysPath = entries.map { case (_, l, pp) =>
      pp -> l.split("\\.").last }.toMap
    val logicalFields = parentStruct.fieldNames.toSeq.map(pf =>
      leafByPhysPath.getOrElse((parentPhys :+ pf).mkString("."), pf))
    val fieldL = segs.last
    require(logicalFields.contains(fieldL),
      s"no field named $fieldL inside ${(rootL +: segs.dropRight(1)).mkString(".")} " +
        s"on $path (fields: ${logicalFields.mkString(", ")})")
    require(parentStruct.fields.length > 1,
      s"cannot drop the last field of " +
        s"${(rootL +: segs.dropRight(1)).mkString(".")} — drop or rewrite " +
        "the struct column itself instead")
    (m.constraints.toSeq ++ m.generated).foreach { case (n, e) =>
      val refsThis = spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.head == rootL &&
            (a.nameParts.length == 1 || a.nameParts(1) == segs.head) => a
      }.nonEmpty
      require(!refsThis,
        s"cannot drop $name: CHECK constraint or generated column $n " +
          s"(`$e`) references it — drop the expression first")
    }
    val curPhys = resolvePhysPath(entries, segs)
    val physLeaf = curPhys.last
    val oldLogical = segs.mkString(".")
    val curPhysDotted = curPhys.mkString(".")
    val newParent = StructType(parentStruct.fields.filterNot(_.name == physLeaf))
    val newRootType = replaceStructAt(rootType, parentPhys, newParent)
    val newSchema = StructType(m.schema.get.fields.map(f =>
      if (f.name == physRoot) f.copy(dataType = newRootType) else f))
    val newFieldMap = m.fieldMap.filterNot(e => e._1 == physRoot &&
      (e._2 == oldLogical || e._2.startsWith(oldLogical + ".") ||
        e._3 == curPhysDotted || e._3.startsWith(curPhysDotted + ".")))
    if (validateOnly) return v
    publish(fs, root, v + 1, m.files, Some(newSchema), m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys,
      bloomCols = m.bloomCols, statsColsDefault = m.statsColsDefault,
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras, fieldMap = newFieldMap,
      fieldDropped = m.fieldDropped :+ ((physRoot, curPhysDotted)),
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** ADD a nullable field at ANY depth inside a struct / array<struct>
    * column, metadata-only — the nested analog of [[addColumn]]: the
    * field joins the END of its parent struct in the RECORDED schema;
    * old files simply lack it and the parquet reader serves typed
    * nulls (by-name nested resolution). If the leaf name was ever
    * retired at this level ([[dropNestedField]]'s `#fielddropped`), a
    * FRESH physical name is minted and a `#fieldmap` entry records the
    * indirection — dropped data never resurrects. Appends after the
    * add must carry the full evolved struct (the boundary is a
    * positional cast; a batch missing the new field refuses loudly —
    * nested fields have no absent-column backfill).
    */
  private def addNestedField(spark: SparkSession, fs: FileSystem, root: Path,
                             path: String, v: Long, m: Manifest,
                             cm: Seq[(String, String)], name: String,
                             dataType: DataType,
                             validateOnly: Boolean = false): Long = {
    val parts = name.split("\\.").toSeq
    val rootL = parts.head
    val segs = parts.tail
    val fieldL = segs.last
    require(fieldL.nonEmpty && !fieldL.exists(c =>
      c == '\t' || c == '\n' || c == '\r'),
      s"nested field name must be non-empty with no tabs or newlines: $fieldL")
    val physRoot = cm.find(_._1 == rootL).map(_._2).get
    val rootType = m.schema.get(physRoot).dataType
    val entries = m.fieldMap.filter(_._1 == physRoot)
    val parentPhys = resolvePhysPath(entries, segs.dropRight(1))
    val parentType = typeAtPhysPath(rootType, parentPhys).getOrElse(
      throw new IllegalArgumentException(
        s"addColumn $name: no such nested path on $path " +
          s"(root $rootL is ${rootType.catalogString})"))
    val parentStruct = structAt(parentType).getOrElse(
      throw new IllegalArgumentException(
        s"addColumn $name: ${(rootL +: segs.dropRight(1)).mkString(".")} " +
          s"is ${parentType.catalogString}, not a struct or array<struct>"))
    val leafByPhysPath = entries.map { case (_, l, pp) =>
      pp -> l.split("\\.").last }.toMap
    val logicalFields = parentStruct.fieldNames.toSeq.map(pf =>
      leafByPhysPath.getOrElse((parentPhys :+ pf).mkString("."), pf))
    require(!logicalFields.contains(fieldL),
      s"field $fieldL already exists inside " +
        s"${(rootL +: segs.dropRight(1)).mkString(".")} on $path")
    // fresh physical leaf: never a CURRENT sibling, never a RETIRED
    // leaf at this level (resurrection guard), never a leaf some OTHER
    // logical path already maps to here
    val retiredHere = m.fieldDropped.collect {
      case (c, pp) if c == physRoot =>
        val ps = pp.split("\\.").toSeq
        if (ps.length == parentPhys.length + 1 && ps.init == parentPhys)
          Some(ps.last) else None
    }.flatten
    val mappedHere = entries.map(_._3.split("\\.").toSeq).collect {
      case ps if ps.length == parentPhys.length + 1 && ps.init == parentPhys =>
        ps.last
    }
    val used = parentStruct.fieldNames.toSet ++ retiredHere ++ mappedHere
    val freshLeaf =
      if (!used.contains(fieldL)) fieldL
      else Iterator.from(1).map(k => s"${fieldL}__$k").find(!used.contains(_)).get
    val newParent = StructType(parentStruct.fields :+
      StructField(freshLeaf, dataType, nullable = true))
    val newRootType = replaceStructAt(rootType, parentPhys, newParent)
    val newSchema = StructType(m.schema.get.fields.map(f =>
      if (f.name == physRoot) f.copy(dataType = newRootType) else f))
    val newFieldMap =
      if (freshLeaf == fieldL) m.fieldMap
      else m.fieldMap :+ ((physRoot, segs.mkString("."),
        (parentPhys :+ freshLeaf).mkString(".")))
    if (validateOnly) return v
    publish(fs, root, v + 1, m.files, Some(newSchema), m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys,
      bloomCols = m.bloomCols, statsColsDefault = m.statsColsDefault,
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras, fieldMap = newFieldMap,
      fieldDropped = m.fieldDropped,
      deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  /** DROP a column WITHOUT rewriting any data file — metadata-only:
    * the column leaves the logical view; its physical data stays in
    * the existing files (old versions still serve it) and its physical
    * name is retired for good, so a later re-add of the same logical
    * name maps to a FRESH physical column instead of resurrecting old
    * data. Partition and constraint-referenced columns refuse, as does
    * dropping the last column.
    */
  def dropColumn(spark: SparkSession, path: String, name: String,
                 validateOnly: Boolean = false): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — column mapping " +
        "needs the recorded schema (run one append or upsert to adopt a header first)")
    val cm = m.colMap.getOrElse(
      m.schema.get.fieldNames.toSeq.map(n => n -> n))
    if (name.contains('.') && cm.map(_._1).contains(name.takeWhile(_ != '.')))
      return dropNestedField(spark, fs, root, path, v, m, cm, name,
        validateOnly)
    require(cm.exists(_._1 == name),
      s"no column named $name on $path (columns: ${cm.map(_._1).mkString(", ")})")
    require(!m.partCols.contains(name),
      s"cannot drop partition column $name — its name is the directory layout")
    require(cm.length > 1, s"cannot drop the last column of $path")
    m.constraints.foreach { case (n, e) =>
      require(!constraintRefs(spark, e).contains(name),
        s"cannot drop $name: CHECK constraint $n (`$e`) references it — " +
          "drop the constraint first")
    }
    m.generated.foreach { case (n, e) =>
      require(n == name || !constraintRefs(spark, e).contains(name),
        s"cannot drop $name: generated column $n (`$e`) derives from it")
    }
    if (validateOnly) return v
    val phys = cm.find(_._1 == name).get._2
    // the physical column leaves the RECORDED schema too — a parquet
    // scan simply doesn't read columns the file has but the schema
    // doesn't name, so old files need no rewrite, and widen's
    // "batch carries every recorded column" contract keeps holding
    // for future appends. droppedPhys is what keeps a re-added
    // logical name off this physical column forever.
    val newSchema = StructType(m.schema.get.fields.filterNot(_.name == phys))
    publish(fs, root, v + 1, m.files, Some(newSchema), m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = Some(cm.filterNot(_._1 == name)),
      droppedPhys = m.droppedPhys :+ phys,
      bloomCols = m.bloomCols.filterNot(_ == phys),
      statsColsDefault = m.statsColsDefault.filterNot(_ == phys),
      generated = m.generated.filterNot(_._1 == name),
      defaults = m.defaults.filterNot(_._1 == name),
      identity = m.identity.filterNot(_._1 == name),
      clusterCols = m.clusterCols.filterNot(_ == phys),
      extras = m.extras.filterNot(e =>
        e._1 == "col:" + name || e._1 == "gentz:" + phys),
      fieldMap = m.fieldMap.filterNot(_._1 == phys),
      fieldDropped = m.fieldDropped.filterNot(_._1 == phys))
    v + 1
  }

  /** Whether a parquet column written as `from` can be SERVED as `to`
    * by Spark's reader with no rewrite — the Delta type-widening
    * whitelist: integral up-casts, float→double, int→double, and
    * value-preserving decimal growth. Long→double is NOT here (loses
    * integers past 2^53), nor is anything narrowing.
    */
  /** WIDEN a field ONE LEVEL inside a struct (or array<struct>)
    * column without rewriting data — the nested analog of
    * [[widenColumnType]]: the recorded schema's nested field re-types
    * to the wider one and the parquet reader up-casts old files at
    * scan. Nested fields carry no skipping stats or blooms, so the
    * top-level widen's stats-degradation ceremony has nothing to do
    * here. Same admissibility matrix ([[widensTo]]).
    */
  private def widenNestedField(spark: SparkSession, fs: FileSystem, root: Path,
                               path: String, v: Long, m: Manifest,
                               cm: Seq[(String, String)], name: String,
                               newType: org.apache.spark.sql.types.DataType,
                               validateOnly: Boolean = false): Long = {
    val parts = name.split("\\.").toSeq
    require(parts.length >= 2, s"not a nested field reference: $name")
    val rootL = parts.head
    val segs = parts.tail
    val physRoot = cm.find(_._1 == rootL).map(_._2).get
    val physType = m.schema.get(physRoot).dataType
    val entries = m.fieldMap.filter(_._1 == physRoot)
    // the field arrives under its LOGICAL path; the schema stores the
    // physical one (arrays transparent at every level)
    val physPath = resolvePhysPath(entries, segs)
    val cur = typeAtPhysPath(physType, physPath).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumnType $name: no such field on $path — the path must " +
          "name an existing field reached through struct or array<struct> " +
          s"layers only, and this one is not available under $rootL " +
          s"(${physType.catalogString})"))
    require(widensTo(cur, newType),
      s"cannot change $name from ${cur.catalogString} to " +
        s"${newType.catalogString} — only value-preserving widenings are " +
        "metadata-only (integral up-casts, float->double, int->double, " +
        "decimal growth); anything else is a replace write")
    if (validateOnly) return v
    val newRootType = rebuildAtPhysPath(physType, physPath, newType)
    val newSchema = StructType(m.schema.get.fields.map(f =>
      if (f.name == physRoot) f.copy(dataType = newRootType) else f))
    publish(fs, root, v + 1, m.files, Some(newSchema), m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys,
      bloomCols = m.bloomCols,
      statsColsDefault = m.statsColsDefault, generated = m.generated,
      defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras,
      fieldMap = m.fieldMap, fieldDropped = m.fieldDropped, deltaHint = Some((Seq.empty, Seq.empty)))
    v + 1
  }

  private def widensTo(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false // not a change
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10 && d.scale >= 0
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20 && d.scale >= 0
      case (a: DecimalType, b: DecimalType) =>
        b.precision >= a.precision && b.scale >= a.scale &&
          (b.precision - b.scale) >= (a.precision - a.scale)
      case _ => false
    }
  }

  /** WIDEN a column's type WITHOUT rewriting any data file — a
    * metadata-only commit that records the wider type in the manifest
    * header; Spark's parquet reader serves the old files' narrower
    * physical values through it natively (verified for every pair
    * [[widensTo]] admits). Subsequent appends must arrive at the
    * widened type (the batch-shape check stays loud — cast narrower
    * batches explicitly). Old versions time-travel-read under their
    * own recorded type. Narrowing and lossy changes refuse typed.
    *
    * `validateOnly` runs every admissibility check against the
    * current head and returns its version WITHOUT committing — a
    * multi-column ALTER COLUMN statement pre-validates its whole list
    * this way before the first commit, so an inadmissible second
    * widen can never leave the statement half-applied.
    */
  def widenColumnType(spark: SparkSession, path: String, name: String,
                      newType: org.apache.spark.sql.types.DataType,
                      validateOnly: Boolean = false): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — type widening " +
        "needs the recorded schema (run one append or upsert to adopt a header first)")
    val cm = m.colMap.getOrElse(m.schema.get.fieldNames.toSeq.map(n => n -> n))
    if (name.contains('.') && cm.map(_._1).contains(name.takeWhile(_ != '.')))
      return widenNestedField(spark, fs, root, path, v, m, cm, name, newType,
        validateOnly)
    refuseNestedTarget("widenColumnType", name, cm.map(_._1))
    require(!m.identity.exists(_._1.equalsIgnoreCase(name)),
      s"column $name is GENERATED ALWAYS AS IDENTITY on $path — the " +
        "assigner writes BIGINT values; widening it is not supported")
    val phys = cm.find(_._1 == name).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"no column named $name on $path (columns: ${cm.map(_._1).mkString(", ")})"))
    val field = m.schema.get(phys)
    require(widensTo(field.dataType, newType),
      s"cannot change $name from ${field.dataType.catalogString} to " +
        s"${newType.catalogString} — only value-preserving widenings are " +
        "metadata-only (integral up-casts, float->double, int->double, " +
        "decimal growth); anything else is a replace write")
    if (validateOnly) return v
    val newSchema = StructType(m.schema.get.fields.map(f =>
      if (f.name == phys) f.copy(dataType = newType) else f))
    // What survives the widen, per skipping-stats family (the rule:
    // stats may only ever degrade toward KEEP, never toward a false
    // skip):
    //   - min/max + value sets compare by CASTING the stored string to
    //     the CURRENT type, so they stay sound exactly when that cast
    //     reproduces the value the reader now serves. True for every
    //     admitted widening EXCEPT float->double: a float's shortest
    //     decimal rendering ("1.1") casts to a double that differs
    //     from the float's exact binary value served through the
    //     widened reader, so a recorded max could undershoot and
    //     silently skip a file holding a match — strip them.
    //   - blooms compare by STRING-RENDERING equality, so they stay
    //     sound only when the widened type renders identically
    //     (integral up-casts, decimal growth at the same scale);
    //     int->double renders "5" as "5.0", decimal scale growth pads
    //     zeros — untrack the column so stale per-file bloom refs stop
    //     being probed (the reader consults the tracked set).
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType,
      ByteType, ShortType, IntegerType}
    val floatToDouble = field.dataType == FloatType && newType == DoubleType
    val renderingStable = (field.dataType, newType) match {
      case (ByteType | ShortType | IntegerType,
            ShortType | IntegerType | LongType) => true
      case (IntegerType | LongType, d: DecimalType) => d.scale == 0
      case (a: DecimalType, b: DecimalType) => a.scale == b.scale
      case _ => false
    }
    val newFiles =
      if (!floatToDouble) m.files
      else m.files.map(f =>
        f.copy(stats = f.stats - phys, valueSets = f.valueSets - phys))
    publish(fs, root, v + 1, newFiles, Some(newSchema), m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = m.colMap, droppedPhys = m.droppedPhys,
      bloomCols =
        if (renderingStable) m.bloomCols else m.bloomCols.filterNot(_ == phys),
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras, fieldMap = m.fieldMap, fieldDropped = m.fieldDropped)
    v + 1
  }

  /** ADD a column — metadata-only (the ALTER TABLE ADD COLUMN analog):
    * the recorded schema gains a nullable field that every existing
    * file serves as typed nulls; the next append may populate it. With
    * column mapping active the new logical name maps to a fresh
    * physical column (never a retired one). Equivalent to the additive
    * widening an appending batch triggers, minus the need to have data
    * in hand.
    */
  /** Extend `m` IN MEMORY with every `srcSchema` field absent from the
    * logical view (case-insensitive), nullable, mirroring [[addColumn]]'s
    * name rules and fresh-physical-name discipline — the MERGE WITH
    * SCHEMA EVOLUTION shape. Returns the evolved manifest; the caller's
    * publish carries the extension and the data change in ONE atomic
    * commit (no per-column schema commits precede the merge). Existing
    * columns re-typed by the source are NOT touched here — the merge's
    * own exact-type source check still refuses them downstream.
    */
  private[etl] def evolveSchemaFor(m: Manifest, srcSchema: StructType,
                                   path: String): Manifest = {
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — schema evolution " +
        "needs the recorded schema (run one append or upsert to adopt a header first)")
    val existing = logicalSchemaOf(m).fieldNames.map(_.toLowerCase).toSet
    val news = srcSchema.fields.filterNot(f =>
      existing.contains(f.name.toLowerCase)).toSeq
    news.foldLeft(m) { (cur, f) =>
      val name = f.name
      require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"evolved column name must be non-empty with no tabs or newlines: $name")
      require(!ReservedLogicalNames.contains(name),
        s"column name $name is reserved")
      val cm = cur.colMap.getOrElse(
        cur.schema.get.fieldNames.toSeq.map(n => n -> n))
      val (newColMap, phys) = cur.colMap match {
        case None => (None, name)
        case Some(_) =>
          val used = cm.map(_._2).toSet ++ cur.droppedPhys
          val fresh =
            if (!used.contains(name)) name
            else Iterator.from(1).map(k => s"${name}__$k").find(!used.contains(_)).get
          (Some(cm :+ (name -> fresh)), fresh)
      }
      cur.copy(
        schema = Some(StructType(cur.schema.get.fields :+
          StructField(phys, f.dataType, nullable = true))),
        colMap = newColMap)
    }
  }

  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: org.apache.spark.sql.types.DataType,
                validateOnly: Boolean = false): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — schema surgery " +
        "needs the recorded schema (run one append or upsert to adopt a header first)")
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"column name must be non-empty with no tabs or newlines: $name")
    require(!ReservedLogicalNames.contains(name), s"column name $name is reserved")
    val cm = m.colMap.getOrElse(m.schema.get.fieldNames.toSeq.map(n => n -> n))
    if (name.contains('.') && cm.map(_._1).contains(name.takeWhile(_ != '.')))
      return addNestedField(spark, fs, root, path, v, m, cm, name, dataType,
        validateOnly)
    require(!cm.exists(_._1 == name), s"column $name already exists on $path")
    if (validateOnly) return v
    val (newColMap, phys) = m.colMap match {
      case None => (None, name)
      case Some(_) =>
        val used = cm.map(_._2).toSet ++ m.droppedPhys
        val fresh =
          if (!used.contains(name)) name
          else Iterator.from(1).map(k => s"${name}__$k").find(!used.contains(_)).get
        (Some(cm :+ (name -> fresh)), fresh)
    }
    val newSchema = StructType(m.schema.get.fields :+
      StructField(phys, dataType, nullable = true))
    publish(fs, root, v + 1, m.files, Some(newSchema), m.partCols, m.txns,
      op = Some("schema"), constraints = m.constraints,
      colMap = newColMap, droppedPhys = m.droppedPhys, bloomCols = m.bloomCols,
          statsColsDefault = m.statsColsDefault,
      generated = m.generated, defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = m.extras, fieldMap = m.fieldMap, fieldDropped = m.fieldDropped)
    v + 1
  }

  /** Declare a GENERATED column — Delta's `GENERATED ALWAYS AS (expr)`:
    * `expression` (SQL over the other logical columns) defines the
    * column's value forever after. Appends that OMIT the column get it
    * COMPUTED during the write; appends/upserts/merges/updates that
    * supply it are VALIDATED row-by-row via a synthetic null-safe
    * `name <=> (expr)` constraint riding the same observed-metrics
    * enforcement as CHECK constraints — a supplied-but-wrong value
    * fails pre-publish, so the column can never silently diverge.
    * Partitioning by a generated column composes naturally (declare,
    * then append batches without it — the computed value partitions
    * the write), which is the generated-partition-column pattern.
    *
    * On a table that already holds rows the declaration must either be
    * refused (existing rows never had the column) or BACKFILLED —
    * `backfill = true` opts into the one-time full rewrite computing
    * the column for every existing row. The backfill is the only
    * non-metadata cost; an empty table declares metadata-only.
    */
  def addGeneratedColumn(spark: SparkSession, path: String, name: String,
                         dataType: org.apache.spark.sql.types.DataType,
                         expression: String,
                         backfill: Boolean = false): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"column name must be non-empty with no tabs or newlines: $name")
    require(!expression.exists(c => c == '\n' || c == '\r'),
      "generation expression must not contain newlines")
    require(!ReservedLogicalNames.contains(name), s"column name $name is reserved")
    require(!name.contains('.'),
      s"generated column name $name contains '.' — dotted names are " +
        "indistinguishable from nested-field references in the synthetic " +
        "validation expression; generating a field INSIDE a struct is not " +
        "supported (the generation EXPRESSION may read nested fields)")
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifested table at $path"))
    val m = readManifest(fs, root, v)
    require(m.schema.isDefined,
      s"table at $path has a headerless legacy manifest — generated columns " +
        "need the recorded schema (run one append or upsert to adopt a header first)")
    val cm = m.colMap.getOrElse(m.schema.get.fieldNames.toSeq.map(n => n -> n))
    // declaring over an EXISTING column is allowed only while the table
    // is EMPTY (the create-partitioned-then-declare flow for generated
    // PARTITION columns) — existing data under the name could disagree
    // with the expression
    val adopting = cm.exists(_._1 == name)
    require(!adopting || m.files.isEmpty,
      s"column $name already exists on $path with data — generated " +
        "columns adopt an existing column only while the table is empty")
    if (adopting) {
      val phys0 = cm.find(_._1 == name).get._2
      require(m.schema.get(phys0).dataType == dataType,
        s"declared type ${dataType.catalogString} must match the existing " +
          s"column's ${m.schema.get(phys0).dataType.catalogString}")
    }
    require(!m.generated.exists(_._1 == name),
      s"column $name is already generated on $path")
    try { spark.sessionState.sqlParser.parseExpression(expression); () }
    catch {
      case ex: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"generated column $name is not parseable SQL: ${ex.getMessage}", ex)
    }
    // resolvability + determinism against the CURRENT logical schema
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      logicalSchemaOf(m))
    val analyzed =
      try probe.select(expr(expression).cast(dataType).as(name))
        .queryExecution.analyzed
      catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"generated column $name (`$expression`) cannot be evaluated " +
              s"against the table's schema: ${ex.getMessage}", ex)
      }
    require(analyzed.expressions.forall(_.deterministic),
      s"generated column $name must be deterministic (`$expression` is not) — " +
        "a nondeterministic generation could never be validated or replayed")
    val (newColMap, phys) =
      if (adopting) (m.colMap, cm.find(_._1 == name).get._2)
      else m.colMap match {
        case None => (None, name)
        case Some(_) =>
          val used = cm.map(_._2).toSet ++ m.droppedPhys
          val fresh =
            if (!used.contains(name)) name
            else Iterator.from(1).map(k => s"${name}__$k").find(!used.contains(_)).get
          (Some(cm :+ (name -> fresh)), fresh)
      }
    val newSchema =
      if (adopting) m.schema.get
      else StructType(m.schema.get.fields :+
        StructField(phys, dataType, nullable = true))
    // TZ-PINNED GENERATION: an expression over a TIMESTAMP base
    // renders/converts through the SESSION timezone (CAST(ts AS DATE)
    // is a different function in every zone), so the layout contract
    // is only well-defined relative to ONE zone. Record the declaring
    // session's zone as a header fact: writes under another zone
    // refuse typed (two writers in different zones would silently fork
    // the partition layout), and partition-filter inference engages
    // only when the READER's zone matches — a mismatched reader would
    // derive WRONG row predicates, not merely miss a prune.
    // TIMESTAMP_NTZ and DATE bases are zone-free and need no pin.
    val tzSensitive = analyzed.expressions.exists(_.exists {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.dataType == org.apache.spark.sql.types.TimestampType
      case _ => false
    })
    val extrasOut =
      if (!tzSensitive) m.extras
      else m.extras.filterNot(_._1 == "gentz:" + phys) :+
        ("gentz:" + phys -> spark.sessionState.conf.sessionLocalTimeZone)
    // a table with NO rows adopts metadata-only — files may exist (an
    // empty CREATE stages one zero-row part file) but nothing needs a
    // backfill; parquet footers are the cheap ground truth
    if (m.files.isEmpty || footerRowCount(fs, root, m.files) == 0L) {
      publish(fs, root, v + 1, m.files, Some(newSchema), m.partCols, m.txns,
        op = Some("schema"), constraints = m.constraints,
        colMap = newColMap, droppedPhys = m.droppedPhys,
        bloomCols = m.bloomCols, statsColsDefault = m.statsColsDefault,
        generated = m.generated :+ (name -> expression),
        defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = extrasOut,
        fieldMap = m.fieldMap, fieldDropped = m.fieldDropped)
      v + 1
    } else {
      require(backfill,
        s"table at $path already holds rows that never had $name — pass " +
          "backfill = true to opt into the one-time rewrite computing it " +
          "for every existing row (or declare generated columns before loading)")
      val src = toLogical(readFileSlice(spark, path, m, m.files), m)
        .withColumn(name, expr(expression).cast(dataType))
      val newV = v + 1
      val commitDir = new Path(root,
        f"$DataDir/v$newV%06d-${java.util.UUID.randomUUID().toString.take(8)}")
      val outPhys = newColMap match {
        case None => src
        case Some(ncm) => src.select(physicalProjection(m, Some(ncm)): _*)
      }
      val w = outPhys.write.mode(SaveMode.Overwrite)
      (if (m.partCols.nonEmpty) w.partitionBy(m.partCols: _*) else w)
        .parquet(commitDir.toString)
      val staged = stagedFiles(fs, root, commitDir)
      val rowsIn = (
        if (m.files.forall(_.rows.isDefined)) m.files.flatMap(_.rows).sum
        else footerRowCount(fs, root, m.files)) - m.files.flatMap(_.dvRows).sum
      val rowsOut = footerRowCount(fs, root, staged)
      if (rowsOut != rowsIn) {
        fs.delete(commitDir, true)
        throw new IllegalStateException(
          s"generated-column backfill verification failed for $path: " +
            s"$rowsIn rows in, $rowsOut staged — table still at v$v")
      }
      val statKeys =
        (m.files.flatMap(_.stats.keys) ++ m.files.flatMap(_.nullCounts.keys) ++
          m.files.flatMap(_.valueSets.keys)).distinct
          .filter(k => m.schema.get.fieldNames.contains(k))
      val withStats = stageStats(spark, fs, root, commitDir, newSchema,
        statKeys, m.bloomCols, m.partCols, staged)
      publish(fs, root, newV, withStats, Some(newSchema), m.partCols, m.txns,
        op = Some("schema"), constraints = m.constraints,
        colMap = newColMap, droppedPhys = m.droppedPhys,
        bloomCols = m.bloomCols, statsColsDefault = m.statsColsDefault,
        generated = m.generated :+ (name -> expression),
        defaults = m.defaults, identity = m.identity, clusterCols = m.clusterCols, extras = extrasOut,
        fieldMap = m.fieldMap, fieldDropped = m.fieldDropped)
      newV
    }
  }

  /** The table's declared CHECK constraints (name → SQL text). */
  def constraintsOf(spark: SparkSession, path: String): Map[String, String] = {
    val (fs, root) = fsFor(spark, path)
    currentVersion(spark, path) match {
      case Some(v) => readManifest(fs, root, v).constraints
      case None => Map.empty
    }
  }

  /** One maintenance pass — compact fragmented partitions, rewrite
    * files whose deletion-vector masked fraction exceeded
    * `maxMaskedFraction` (mask-materialization, so a table under
    * steady DV deletes converges back to mask-free files instead of
    * paying the anti-join forever), then vacuum what nothing kept
    * references. The convenience wrapper for the maintenance cadence a
    * continuously-fed table needs (the streaming sink can invoke it
    * every N batches); runs under the SAME writer as commits per the
    * checked single-writer contract. Returns (partitionsCompacted,
    * pathsVacuumed).
    */
  def maintain(spark: SparkSession, path: String,
               targetBytes: Long = 128L * 1024 * 1024,
               keepVersions: Int = 2,
               clusterBy: Seq[String] = Seq.empty,
               zOrderBy: Seq[String] = Seq.empty,
               maxMaskedFraction: Double = 0.2): (Int, Int) = {
    val compacted = compact(spark, path, targetBytes, clusterBy, zOrderBy,
      maxMaskedFraction)
    val removed = vacuum(spark, path, keepVersions)
    (compacted.length, removed.length)
  }

  /** Delete everything no published-and-kept manifest references:
    * data files orphaned by crashes or superseded by compaction, and
    * manifests older than the `keepVersions` most recent. Run AFTER
    * the longest plausible scan on an old version could have finished
    * — the retention window is the deployment's scan-length SLA.
    *
    * In-flight commits are MECHANICALLY safe, not safe-by-contract: a
    * committer stages its files under `data/v<N>` with N ABOVE the
    * current head before its manifest publishes, so vacuum never
    * touches above-head commit dirs younger than `stagedGraceMs`. An
    * above-head dir OLDER than the grace window is an aborted stage by
    * then (no commit takes hours to go from staged to published) and
    * is reaped. Below-head unreferenced files — superseded data,
    * crash leftovers whose version was later reused and replaced — have
    * no in-flight interpretation and are reaped regardless of age.
    * (The single-writer contract still serializes vacuum against
    * compaction/upsert for the MANIFEST race; this grace window removes
    * the one way vacuum could destroy data.)
    *
    * `dryRun = true` reports exactly what a real run would delete and
    * touches NOTHING — the operational safety check before a
    * retention-window change.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 2,
             stagedGraceMs: Long = 24L * 60 * 60 * 1000,
             dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the current version")
    require(stagedGraceMs >= 0, "stagedGraceMs must be non-negative")
    val (fs, root) = fsFor(spark, path)
    val versions = listVersions(fs, root)
    if (versions.isEmpty) return Seq.empty
    val head = versions.last
    val cutoff = System.currentTimeMillis() - stagedGraceMs
    val keep = versions.takeRight(keepVersions)
    // ALL still-published manifests (parse-cached), not just the kept
    // ones: a file a manifest REFERENCES has provably published, so a
    // superseded commit's files reap immediately even though its
    // unique-suffixed staging dir is indistinguishable by NAME from a
    // racing writer's in-flight stage — the age heuristic is only for
    // files no manifest has ever named
    val allManifests = versions.map(vv => vv -> readManifest(fs, root, vv))
    val keptManifests = allManifests.takeRight(keepVersions)
    // a kept DELTA manifest resolves through its base chain — those
    // below-horizon base manifests must be RETAINED (deleting one would
    // make a kept version unreadable), and retention is honest: a
    // retained version keeps its files/cdf/dv/blooms too, so it stays
    // fully readable rather than dangling. Bounded by CheckpointInterval
    // extra versions; the next checkpoint commit re-frees them.
    val keptChainBases = keptManifests.flatMap(_._2.baseVersions).toSet
    val retainedManifests = allManifests.filter { case (vv, _) =>
      keep.contains(vv) || keptChainBases.contains(vv)
    }
    val liveAcrossKept = retainedManifests.flatMap(_._2.files).map(_.path).toSet
    val referencedEver = allManifests.flatMap(_._2.files).map(_.path).toSet
    // change-file dirs resolve per version: the manifest-referenced
    // #cdf path, or (manifests predating the directive) the
    // version-keyed legacy location — but only when the commit kind
    // actually serves change files, so a stale _cdf left at a version
    // later published as an append is reaped instead of billed until
    // it ages out
    def cdfRefOf(vv: Long, m: Manifest): Option[String] =
      m.cdf.orElse {
        if (m.op.exists(o => o == "upsert" || o == "delete"))
          Some(f"$DataDir/v$vv%06d/$CdfDir")
        else None
      }
    val keptCdfPrefixes = retainedManifests.flatMap { case (kv, km) => cdfRefOf(kv, km) }.toSet
    val cdfEver = allManifests.flatMap { case (vv, m) => cdfRefOf(vv, m) }.toSet
    // deletion-vector dirs are LIVE-SET references (a kept manifest's
    // masked files are unreadable without them) — never reap a dv dir
    // any kept version's entry names; below the horizon they reap with
    // their version like any other unreferenced-by-kept file
    val keptDvPrefixes = retainedManifests.flatMap(_._2.files.flatMap(_.dv)).toSet
    val dvEver = allManifests.flatMap(_._2.files.flatMap(_.dv)).toSet
    val keptBloomRefs = retainedManifests.flatMap(_._2.files.flatMap(_.bloom)).toSet
    val bloomEver = allManifests.flatMap(_._2.files.flatMap(_.bloom)).toSet
    val dataRoot = new Path(root, DataDir)
    val removed = Seq.newBuilder[String]
    if (fs.exists(dataRoot)) {
      val rootQ = fs.makeQualified(root).toString
      val it = fs.listFiles(dataRoot, true)
      val dead = Seq.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next()
        val rel = fs.makeQualified(f.getPath).toString.stripPrefix(rootQ).stripPrefix("/")
        // data/v<N>/… (replace/upsert/compact stage) or data/v<N>-<tok>/…
        // (append stage, unique per optimistic writer) — a malformed
        // second segment can only be foreign junk under the data root;
        // treat it as below-head (reapable)
        val seg = rel.split("/").lift(1)
        val suffixed = seg.exists(s => s.startsWith("v") && s.contains('-'))
        val commitV = seg.filter(_.startsWith("v")).flatMap { s =>
          val digits = s.stripPrefix("v").takeWhile(_.isDigit)
          if (digits.isEmpty) None
          else if (s.length == 1 + digits.length) digits.toLongOption
          else if (s.charAt(1 + digits.length) == '-') digits.toLongOption
          else None
        }
        // a PLAIN stage can only be in flight ABOVE the head (strict
        // writers stage at head+1); a SUFFIXED stage can be in flight
        // at ANY version — an optimistic writer that just lost a race
        // holds staged files at a version the winner now occupies, so
        // age is the discriminator — but ONLY for files no manifest
        // ever referenced: a referenced file (or a published commit's
        // change file) has provably committed, so superseded means
        // reapable now
        val published = referencedEver.contains(rel) ||
          bloomEver.contains(rel) ||
          cdfEver.exists(p => rel.startsWith(p + "/")) ||
          dvEver.exists(p => rel.startsWith(p + "/"))
        val young = f.getModificationTime >= cutoff
        val inFlight = !published && commitV.isDefined && young &&
          (suffixed || commitV.exists(_ > head))
        // change files are never in any manifest's live set, but they
        // ARE part of a kept version's contract: readChangeFeed serves
        // them for as long as the version itself is retained. Below
        // the horizon they reap with the version.
        val keptCdf = keptCdfPrefixes.exists(p => rel.startsWith(p + "/"))
        val keptDv = keptDvPrefixes.exists(p => rel.startsWith(p + "/"))
        if (f.isFile && !liveAcrossKept.contains(rel) && !inFlight && !keptCdf &&
          !keptDv && !keptBloomRefs.contains(rel))
          dead += f.getPath
      }
      dead.result().foreach { p =>
        removed += p.toString
        if (!dryRun) fs.delete(p, false): Unit
      }
      // change-file dirs reap at DIRECTORY granularity with their
      // version: the walk above removed their files, but a left-over
      // EMPTY _cdf dir would make readChangeFeed serve "zero changes"
      // instead of the typed vacuumed refusal — the dir itself must go.
      // Same in-flight rule as the file walk: a stage above the head
      // (or unique-suffixed at any version) inside the grace window is
      // untouchable.
      fs.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
        val name = d.getPath.getName
        val digits = name.stripPrefix("v").takeWhile(_.isDigit)
        val commitV = if (digits.isEmpty) None else digits.toLongOption
        val suffixed = name.startsWith("v") && name.contains('-')
        val cdfP = new Path(d.getPath, CdfDir)
        val relCdf = fs.makeQualified(cdfP).toString.stripPrefix(rootQ).stripPrefix("/")
        val inFlight = !cdfEver.contains(relCdf) && d.getModificationTime >= cutoff &&
          (suffixed || commitV.exists(_ > head))
        if (!keptCdfPrefixes.contains(relCdf) && !inFlight && fs.exists(cdfP)) {
          removed += cdfP.toString
          if (!dryRun) fs.delete(cdfP, true): Unit
        }
      }
    }
    versions.dropRight(keepVersions).filterNot(keptChainBases.contains).foreach { old =>
      // a version may exist under either encoding (or, after a partial
      // migration, both) — reap whatever is actually on disk. Versions
      // a kept delta chains through are RETAINED (see keptChainBases).
      Seq(manifestPath(root, old), legacyManifestPath(root, old))
        .filter(fs.exists).foreach { p =>
          removed += p.toString
          if (!dryRun) fs.delete(p, false): Unit
        }
    }
    // sharded-checkpoint dirs reap with their version: keep every dir a
    // RETAINED manifest references; everything else (a reaped version's
    // shards, a losing racer's orphan) goes once past the grace window
    // (shards land BEFORE the manifest rename — a young orphan may be a
    // commit in flight)
    locally {
      val keptCkpt = retainedManifests.flatMap(_._2.ckptRef).toSet
      val mdir = new Path(root, ManifestDir)
      if (fs.exists(mdir)) {
        val candidates = fs.listStatus(mdir).filter { st =>
          // the grace check uses the max mtime of the shard FILES, not
          // the directory: object stores list synthetic dirs with mtime
          // 0, which would make every in-flight commit's shards (landed
          // before the manifest rename) look ancient and reapable
          def newestInside: Long =
            (st.getModificationTime +:
              (try fs.listStatus(st.getPath).map(_.getModificationTime).toSeq
               catch { case _: java.io.IOException => Seq(Long.MaxValue) })).max
          st.isDirectory && st.getPath.getName.startsWith("ckpt-") &&
            !keptCkpt.contains(st.getPath.getName) && newestInside < cutoff
        }
        if (candidates.nonEmpty) {
          // re-list head AFTER the cutoff check: a snapshot commit that
          // raced past the grace window between our retained-manifest
          // read and now must keep its shards — its manifest is already
          // the published head
          val freshKept = currentVersion(spark, path).toSeq
            .flatMap(v => try Some(readManifest(fs, root, v))
                          catch { case _: Exception => None })
            .flatMap(_.ckptRef).toSet
          candidates.filterNot(st => freshKept.contains(st.getPath.getName))
            .foreach { st =>
              removed += st.getPath.toString
              if (!dryRun) fs.delete(st.getPath, true): Unit
            }
        }
      }
    }
    removed.result()
  }
}
