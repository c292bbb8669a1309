package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Assembly + sinks for the position-bucketed variant data lake.
  *
  * Behavior reference: ImportVcfToDataLakeByRanges.java:43-79 (assembly),
  * :127-138 (lake write), :155-157 (status write).
  */
object Lake {

  /** Lake partition granularity in genome positions (reference M:18). */
  val PartitionSize = 100000

  /** Output file size governance (reference M:19). */
  val MaxRecordsPerFile = 25000

  /** Full pipeline: VCF glob → annotated, per-position `entries` rows.
    *
    * The per-sample rows are shuffled ONCE, on the lake's own key
    * (chrom, pos_bucket) — the "ByRanges" scheme, M:74-76 — then folded
    * per variant, annotated and folded per position. Both fold keys
    * contain (chrom, pos_bucket), so with broadcast joins the folds,
    * joins and [[write]] run in one stage after that shuffle, and Spark
    * drops [[write]]'s repartition. Joining after the variant fold (the
    * reference joins first, M:52-70) gives the same rows: every join key
    * is a subset of the variant key, so k annotation matches still yield
    * k entries, each with the full hom/het sets.
    *
    * The annotation tables are *not* hinted broadcast — dbSNP/gnomAD are
    * billion-row datasets in production. AQE broadcasts a side that is
    * actually small; otherwise the joins sort-merge and each shuffles the
    * folded variants on its own key (ARCHITECTURE.md, both plans).
    *
    * Determinism deviation (SURVEY §7): both collect_set results are
    * wrapped in sort_array (same set, fixed order), so output is stable.
    */
  def build(spark: SparkSession, inputPath: String, impactPath: String,
            dbSnpPath: String, t2t: Boolean, gnomadPath: String,
            alphaPath: String): DataFrame = {
    val bucketed = Vcf.mutations(spark, inputPath)
      .withColumn("pos_bucket", floor(col("pos") / lit(PartitionSize)))
      .repartition(col("chrom"), col("pos_bucket"))

    // Per-variant: fold per-sample rows into hom/het evidence arrays;
    // collect_set drops Vcf.mutations' when-gated nulls (as M:64-66 does).
    val perVariant = bucketed
      .groupBy(col("chrom"), col("pos_bucket"), col("pos"), col("ref"), col("alt"))
      .agg(
        sort_array(collect_set(col("hom_ev"))).as("hom"),
        sort_array(collect_set(col("het_ev"))).as("het"))
    val annotated = perVariant
      .join(Annotations.impact(spark, impactPath), Seq("chrom", "pos", "ref", "alt"), "left")
      .join(Annotations.dbSnp(spark, dbSnpPath, t2t), Seq("chrom", "pos", "ref", "alt"), "left")
      .join(Annotations.gnomad(spark, gnomadPath), Seq("chrom", "pos", "ref", "alt"), "left")

    // Per-position: fold alleles into the `entries` array.
    Annotations.attachAlpha(annotated, alphaPath)
      .groupBy(col("chrom"), col("pos_bucket"), col("pos"))
      .agg(sort_array(collect_set(struct(
        col("ref"), col("alt"), col("impact"), col("dbSNP"),
        col("gnomad_an"), col("gnomad_ac"), col("gnomad_nhomalt"),
        col("hg38_coordinate"), col("alphamissense"), col("hom"), col("het")))).as("entries"))
  }

  /** Hive-partitioned lake write: one shuffle (elided on [[build]]'s
    * output, already so partitioned) co-locates each (chrom, pos_bucket)
    * directory's rows in one task, rows clustered by pos within files
    * (an addition over the reference — parquet min/max
    * stats then prune row groups for downstream point queries, the E3
    * contract in SURVEY §3), capped file sizes.
    *
    * `dynamicOverwrite = false` reproduces the reference contract
    * (M:133: the whole output path is replaced). At 100 TB a per-batch
    * ingest must NOT wipe the lake — `dynamicOverwrite = true` switches
    * to partition-level overwrite: only the (chrom, pos_bucket)
    * directories present in this batch are replaced (SURVEY §7).
    */
  def write(df: DataFrame, outputPath: String,
            dynamicOverwrite: Boolean = false): Unit = {
    val writer = df.repartition(col("chrom"), col("pos_bucket"))
      .sortWithinPartitions(col("chrom"), col("pos_bucket"), col("pos"))
      .write
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .option("partitionOverwriteMode", if (dynamicOverwrite) "dynamic" else "static")
      .mode(SaveMode.Overwrite)
      .partitionBy("chrom", "pos_bucket")
    writer.parquet(outputPath)
  }

  /** Manifest-committed variant of [[write]] — the genomic lake through
    * the object-store commit path, composing the two features the E3
    * range-scan workload wants (SURVEY §3: point/range queries on
    * (chrom, pos)): the same pos clustering as [[write]] (parquet
    * row-group pruning inside each file), PLUS per-file [min, max] pos
    * stats in the manifest, so a `pos BETWEEN …` scan drops whole files
    * at planning — before any footer is opened — and only then row-group
    * prunes the survivors. Ingest becomes an atomic manifest publish
    * (append or replace) instead of a directory overwrite, so a crashed
    * import can never leave a half-replaced lake.
    *
    * `maxRecordsPerFile` bounds file size through the session conf (the
    * ManifestLake writer owns the DataFrameWriter, so the option rides
    * the conf rather than the writer); restored after the call.
    */
  def writeManifested(spark: SparkSession, df: DataFrame, outputPath: String,
                      replace: Boolean = true,
                      maxRecordsPerFile: Int = MaxRecordsPerFile): Long = {
    val clustered = df.repartition(col("chrom"), col("pos_bucket"))
      .sortWithinPartitions(col("chrom"), col("pos_bucket"), col("pos"))
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", maxRecordsPerFile.toString)
    try ManifestLake.write(spark, clustered, outputPath,
      Seq("chrom", "pos_bucket"), replace = replace, statsCols = Seq("pos"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
  }

  /** Single-file JSON append — an accumulating ingest log (M:155-157).
    * coalesce(1) is fine: the status DataFrame is one row.
    */
  def writeStatus(df: DataFrame, statusPath: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Append).json(statusPath)

  /** Listing parallelism for [[partitionLeaves]]. 16 concurrent
    * listStatus calls saturate a NameNode client or an object-store
    * listing API without hammering either; Spark's own
    * InMemoryFileIndex parallelizes its driver-side listing the same
    * way for the same reason.
    */
  private val LeafListThreads = 16

  /** Leaf data directories of a (possibly) hive-partitioned table at
    * ANY partition depth: descend through `col=value` levels until a
    * directory has no such children. An UNPARTITIONED root is its own
    * single leaf — callers treat it as one partition, so maintenance
    * ops work on flat tables too instead of silently no-opping.
    * Hidden dirs (temp/trash) never match the `col=` shape.
    *
    * The walk lists each level's directories CONCURRENTLY (a
    * driver-side pool of [[LeafListThreads]]): the genomic layout is
    * ~30k buckets × 24 chroms ≈ 720k leaves, and a serial listStatus
    * walk at ~1-10 ms per RPC is minutes per maintenance poll — the
    * listing, not the data, would dominate. Results are sorted by path
    * so callers see one deterministic order regardless of completion
    * interleaving (serial-walk equivalence is spec-asserted).
    */
  private def partitionLeaves(fs: org.apache.hadoop.fs.FileSystem,
                              base: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val pool = java.util.concurrent.Executors.newFixedThreadPool(LeafListThreads)
    try {
      var frontier: Seq[Path] = Seq(base)
      val leaves = Seq.newBuilder[Path]
      while (frontier.nonEmpty) {
        val futures = frontier.map { p =>
          pool.submit(new java.util.concurrent.Callable[(Path, Seq[Path])] {
            def call(): (Path, Seq[Path]) =
              (p, fs.listStatus(p)
                .filter(s => s.isDirectory && s.getPath.getName.contains("="))
                .map(_.getPath).toSeq)
          })
        }
        frontier = futures.flatMap { f =>
          val (p, kids) =
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          if (kids.isEmpty) { leaves += p; Seq.empty } else kids
        }
      }
      leaves.result().sortBy(_.toString)
    } finally pool.shutdown()
  }

  /** Metadata-only lake inventory: one row per partition leaf with its
    * parquet file count, total bytes, largest file, and whether
    * [[compact]] would rewrite it at `targetBytes` — the operational
    * signal a maintenance scheduler polls to decide WHEN to compact
    * without reading a byte of data. Pure driver-side listing, same
    * cost class as compact's own detection pass; at 100 TB the listing
    * is per-partition and incremental (poll the partitions a batch
    * just touched, not the whole lake).
    */
  def inventory(spark: SparkSession, lakePath: String,
                targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (!fs.exists(root)) Seq.empty
      else partitionLeaves(fs, root).map { leaf =>
        val files = fs.listStatus(leaf)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
        (leaf.toString, files.length.toLong, bytes,
          if (files.isEmpty) 0L else files.map(_.getLen).max,
          files.length > want)
      }
    import spark.implicits._
    rows.toDF("partition_dir", "n_files", "total_bytes", "max_file_bytes",
      "needs_compaction")
  }

  /** Small-file compaction for the hive-partitioned lake. Incremental
    * ingest with dynamic partition overwrite accretes files per
    * (chrom, pos_bucket) directory — genome-uniform sparse batches are
    * the worst case, touching every partition with a sliver each — and
    * at 100 TB the resulting file-count explosion dominates scan
    * planning and NameNode/listing cost long before data size does.
    *
    * Metadata-only detection: partition directories are selected from
    * the file listing alone (count vs ceil(bytes/targetBytes)) — no
    * data is read for well-compacted partitions.
    *
    * Crash safety — the rewrite never has a window where committed data
    * exists only in volatile storage (the earlier design's
    * localCheckpoint + in-place Overwrite lost the partition if an
    * executor died mid-write):
    *   1. the compacted copy is written to a dot-prefixed temp dir
    *      INSIDE the partition (hidden paths are invisible to
    *      Spark/Hive readers, so concurrent reads stay correct);
    *   2. the copy is verified (row count in == row count out) while
    *      the originals are still untouched — a failed or short write
    *      aborts here with the partition intact;
    *   3. the swap is metadata-only renames: originals move to a
    *      hidden trash dir, new files move in, trash is deleted. A
    *      crash at any point leaves every row on durable storage (at
    *      worst split across the hidden dirs, recoverable by hand —
    *      never silently gone).
    *
    * ==Storage contract (read this before deploying)==
    * The swap's safety rests on `FileSystem.rename` being a METADATA
    * operation: cheap, and never a window where the bytes exist only
    * in flight. That holds on HDFS, local disks, and hierarchical
    * cloud stores (ABFS with HNS, GCS). On S3-CLASS OBJECT STORES
    * rename is client-side copy+delete — slow at 128 MB files and, if
    * the process dies mid-copy, a partition can transiently hold both
    * old and new copies of a row (duplicate reads until cleaned). On
    * such stores run compact/upsert through a table format with a
    * manifest commit (Iceberg/Delta/Hudi) or against an HDFS-like
    * layer; this implementation deliberately does not reimplement a
    * commit protocol the ecosystem already provides.
    *
    * Partition discovery walks `col=value` levels at ANY depth (shared
    * with [[upsert]]); an unpartitioned table compacts as one leaf.
    *
    * File-count target: a directory of many tiny files typically
    * bin-packs into fewer scan splits than `want`, and coalesce can
    * only reduce — so when the scan yields fewer partitions than the
    * target, the rewrite range-repartitions on the `clusterBy` columns
    * instead (the same sort the coalesce path pays in
    * sortWithinPartitions), which both hits the file-count target
    * exactly and range-clusters the sort key across files for
    * row-group AND file-level min/max pruning. `clusterBy` defaults to
    * the genomic lake's `pos`; other lakes pass their own sort key.
    *
    * `failpoint` is a test seam invoked after verification, before the
    * swap — production callers leave the default no-op.
    *
    * Returns (directory, filesBefore, filesAfter) per compacted
    * partition.
    */
  def compact(spark: SparkSession, lakePath: String,
              targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Seq("pos"),
              failpoint: String => Unit = _ => ()): Seq[(String, Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    partitionLeaves(fs, root).flatMap { leaf =>
      val files = fs.listStatus(leaf)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val want = math.max(1L,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toLong).toInt
      if (files.length <= want) None
      else {
        val dir = leaf
        val tmp = new Path(dir, ".compact_tmp")
        if (fs.exists(tmp)) fs.delete(tmp, true)

        // 1. write the compacted copy beside the originals (hidden dir)
        val src = spark.read.parquet(dir.toString)
        val cluster = clusterBy.map(col)
        val shaped =
          if (src.rdd.getNumPartitions < want) src.repartitionByRange(want, cluster: _*)
          else src.coalesce(want)
        shaped.sortWithinPartitions(cluster: _*)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)

        // 2. verify the copy before touching any original file
        val newFiles = fs.listStatus(tmp)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val rowsIn = src.count()
        val rowsOut = spark.read.parquet(tmp.toString).count()
        if (rowsOut != rowsIn || newFiles.isEmpty) {
          fs.delete(tmp, true)
          throw new IllegalStateException(
            s"compact verification failed for $dir: $rowsIn rows in, $rowsOut out — originals untouched")
        }
        failpoint(dir.toString)

        // 3. metadata-only swap: originals → hidden trash, copy → live, trash gone
        val trash = new Path(dir, ".compact_old")
        if (fs.exists(trash)) fs.delete(trash, true)
        fs.mkdirs(trash)
        files.foreach(f => fs.rename(f.getPath, new Path(trash, f.getPath.getName)))
        newFiles.foreach(f => fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
        fs.delete(trash, true)
        fs.delete(tmp, true)

        val after = fs.listStatus(dir)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        Some((dir.toString, files.length, after))
      }
    }
  }

  /** Key-level upsert (merge-into) for the hive-partitioned lake:
    * rows in `updates` replace lake rows with the same key; new keys
    * append; untouched partitions are never read, rewritten, or listed
    * past partition pruning. The operation the reference's append-only
    * ingest can't express — re-delivered batches and corrections need
    * it at 100 TB, where "rebuild the lake" is not an option.
    *
    * Scale shape: the lake side is filtered to affected partitions via
    * a broadcast semi-join on the partition columns — the update batch
    * is small against the lake by definition, and the join on partition
    * columns lets dynamic partition pruning drop unaffected directories
    * at the scan. The merge is one hash shuffle of (affected ∪ updates)
    * on the key; updates win collisions outright (no version column —
    * the batch IS the newer truth, matching the reference's
    * re-delivery contract where duplicates agree).
    *
    * `updates` must be key-unique — verified up front (a batch with
    * two rows for one key has no deterministic winner, and silently
    * picking one would be data-dependent nondeterminism).
    *
    * Crash safety, same contract as [[compact]]: merged partitions are
    * written to a hidden temp dir inside the lake, verified (row count
    * == distinct-key count, every update key present), then swapped
    * into place with metadata-only renames. A crash at any point
    * leaves every committed row on durable storage. `failpoint` is the
    * test seam between verification and swap.
    *
    * Returns (partitionDir, filesSwappedIn) per affected partition.
    */
  def upsert(spark: SparkSession, lakePath: String, updates: DataFrame,
             partitionCols: Seq[String] = Seq("chrom", "pos_bucket"),
             keyCols: Seq[String] = Seq("chrom", "pos_bucket", "pos"),
             failpoint: String => Unit = _ => ()): Seq[(String, Int)] = {
    import org.apache.hadoop.fs.Path
    require(partitionCols.nonEmpty,
      "upsert needs a partitioned lake (the affected-partition pruning and " +
        "per-directory swap key on the partition columns); for flat tables " +
        "rewrite-and-swap the whole table instead")
    require(keyCols.startsWith(partitionCols) || partitionCols.forall(keyCols.contains),
      "partition columns must be part of the key")
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val nUpd = updates.count()
    val nUpdKeys = updates.select(keyCols.map(col): _*).distinct().count()
    if (nUpd != nUpdKeys)
      throw new IllegalArgumentException(
        s"updates are not key-unique on ${keyCols.mkString(",")}: $nUpd rows, $nUpdKeys keys")

    if (!fs.exists(root)) {
      // first batch: a plain partitioned write on the CALLER's
      // partition columns (Lake.write is the genomic-schema writer —
      // hard-coded chrom/pos_bucket — and must not be assumed here)
      updates.repartition(partitionCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*)
        .write
        .option("maxRecordsPerFile", MaxRecordsPerFile)
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(lakePath)
      return partitionLeaves(fs, root)
        .map(p => (p.toString,
          fs.listStatus(p).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))))
    }

    // lake side: affected partitions only (broadcast semi-join on the
    // partition cols → dynamic partition pruning at the scan); partition
    // columns read back as inferred types, so align them to the update
    // batch's schema before the union
    val updSchema = updates.schema
    val existingRaw = spark.read.parquet(lakePath)
    val existing = existingRaw.select(updSchema.fieldNames.map(n =>
      col(n).cast(updSchema(n).dataType)): _*)
    val affected = existing.join(
      broadcast(updates.select(partitionCols.map(col): _*).distinct()),
      partitionCols, "left_semi")

    // merge: updates win key collisions outright
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__src").desc)
    val merged = affected.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(byKey))
      .where(col("__rn") === 1)
      .drop("__src", "__rn")

    // 1. write merged partitions to a hidden temp dir inside the lake
    val tmp = new Path(root, ".upsert_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
      .write
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)

    // 2. verify the merged copy while the live lake is untouched
    val out = spark.read.parquet(tmp.toString)
    val rowsOut = out.count()
    val keysOut = out.select(keyCols.map(col): _*).distinct().count()
    val updKeysOut = out.join(broadcast(updates.select(keyCols.map(col): _*)),
      keyCols, "left_semi").count()
    if (rowsOut != keysOut || updKeysOut != nUpdKeys) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"upsert verification failed for $lakePath: $rowsOut rows / $keysOut keys, " +
          s"$updKeysOut of $nUpdKeys update keys present — lake untouched")
    }
    failpoint(lakePath)

    // 3. metadata-only swap, one affected partition directory at a time
    // (leaves found at whatever depth partitionCols produced; an
    // unpartitioned merge has the tmp root itself as its single leaf)
    val tmpParts = partitionLeaves(fs, tmp)
    val tmpQualified = fs.makeQualified(tmp).toString
    val report = tmpParts.map { p =>
      val rel = fs.makeQualified(p).toString
        .stripPrefix(tmpQualified).stripPrefix("/")
      val live = if (rel.isEmpty) root else new Path(root, rel)
      if (!rel.isEmpty) fs.mkdirs(live.getParent)
      val trash = new Path(live, ".upsert_old")
      if (fs.exists(trash)) fs.delete(trash, true)
      if (fs.exists(live)) {
        fs.mkdirs(trash)
        fs.listStatus(live)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.rename(f.getPath, new Path(trash, f.getPath.getName)))
      } else fs.mkdirs(live)
      val moved = fs.listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      moved.foreach(f => fs.rename(f.getPath, new Path(live, f.getPath.getName)))
      fs.delete(trash, true)
      (live.toString, moved.length)
    }
    fs.delete(tmp, true)
    report
  }
}
